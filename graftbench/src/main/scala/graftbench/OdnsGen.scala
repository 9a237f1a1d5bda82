package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.{Deflater, GZIPOutputStream}

import scala.collection.mutable

import graft.sources.OdnsCsv

/** What the generator wrote into one or more archives: the rows, the
  * NULLs the typed layout must show per column (empty fields and
  * malformed values), the malformed timestamps and ASNs on their own,
  * and enough detail to answer the lake reads exactly. */
final class Tally {
  var rows = 0L
  val nulls: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  var tsMalformed = 0L
  var asnMalformed = 0L
  val rowsByPartition: mutable.Map[(String, String), Long] = mutable.Map.empty.withDefaultValue(0L)
  /** asn_response value (None when it types to NULL) → rows. */
  val asnResponse: mutable.Map[Option[Double], Long] = mutable.Map.empty.withDefaultValue(0L)
  /** tcp response delays in microseconds, both timestamps valid. */
  val tcpDelaysUs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  def +=(o: Tally): Unit = {
    rows += o.rows; tsMalformed += o.tsMalformed; asnMalformed += o.asnMalformed
    o.nulls.foreach { case (k, v) => nulls(k) += v }
    o.rowsByPartition.foreach { case (k, v) => rowsByPartition(k) += v }
    o.asnResponse.foreach { case (k, v) => asnResponse(k) += v }
    tcpDelaysUs ++= o.tcpDelaysUs
  }
}

/** Seeded ODNS scan archives in the reference's format: `;`-separated,
  * header line, gzip. Fields are format-valid except for a small,
  * tallied share of malformed timestamps and ASNs; text fields draw
  * from pools sized like a real scan (tens of resolvers' upstreams,
  * thousands of ASNs with skewed popularity). */
object OdnsGen {
  private val MalformedTs = 0.004
  private val MalformedAsn = 0.003
  private val EmptyARecord = 0.03
  private val EmptyCountry = 0.01
  private val EmptyOrg = 0.02
  private val Asns = 5000
  private val Upstreams = 2000
  private val Answers = 40
  private val Countries = Seq("DE", "US", "FR", "BR", "IN", "CN", "RU", "GB", "NL", "JP",
    "IT", "ES", "PL", "TR", "ID", "VN", "KR", "MX", "AR", "ZA", "UA", "CA", "SE", "CH")
  private val ResponseTypes = Seq("NOERROR" -> 80, "REFUSED" -> 10, "SERVFAIL" -> 6, "NXDOMAIN" -> 4)

  def fileName(proto: String, date: LocalDate): String = s"${proto}_odns_scan_$date.csv.gz"

  /** Write one archive of `rows` rows for `proto` scanned on `date`. */
  def archive(dir: Path, proto: String, date: LocalDate, rows: Int, seed: Long): (Path, Tally) = {
    Files.createDirectories(dir)
    val path = dir.resolve(fileName(proto, date))
    val r = new SplittableRandom(seed * 1000003L + date.toEpochDay * 31L + proto.hashCode)
    val tally = new Tally
    val gz = new GZIPOutputStream(new FileOutputStream(path.toFile), 1 << 16) {
      `def`.setLevel(Deflater.BEST_SPEED)
    }
    val out = new BufferedWriter(new OutputStreamWriter(gz, "UTF-8"), 1 << 16)
    val tcp = proto == "tcp"
    val sb = new java.lang.StringBuilder(256)
    def nul(col: String): Unit = tally.nulls(col) += 1
    try {
      out.write(OdnsCsv.csvColumns(proto).mkString(";")); out.write('\n')
      val dayStartUs = date.toEpochDay * 86400L * 1000000L
      var i = 0
      while (i < rows) {
        sb.setLength(0)
        val ipReq = s"${11 + r.nextInt(200)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
        val ipResp =
          if (r.nextDouble() < 0.7) ipReq
          else { val u = r.nextInt(Upstreams); s"8.${u / 250}.${u % 250}.53" }
        sb.append(ipReq).append(';').append(ipResp).append(';')
        if (r.nextDouble() < EmptyARecord) nul("a_record")
        else sb.append("198.51.100.").append(1 + r.nextInt(Answers))
        sb.append(';')
        // spread the scan over the day, in order
        val reqUs = dayStartUs + (i.toLong * 86000L * 1000000L) / rows + r.nextInt(1000000)
        val reqOk = timestamp(sb, r, reqUs, "timestamp_request", tally)
        sb.append(';')
        if (tcp) {
          val delayUs = 200L + r.nextInt(500000)
          val respOk = timestamp(sb, r, reqUs + delayUs, "timestamp_response", tally)
          if (reqOk && respOk) tally.tcpDelaysUs += delayUs
          sb.append(';')
        } else nul("timestamp_response")
        sb.append(pickWeighted(r, ResponseTypes))
        Seq("request", "response", "arecord").foreach { role =>
          sb.append(';')
          // skewed popularity: a few large networks answer most probes
          val a = (math.pow(r.nextDouble(), 3) * Asns).toInt
          if (r.nextDouble() < EmptyCountry) nul(s"country_$role")
          else sb.append(Countries(a % Countries.size))
          sb.append(';')
          val asn = 1000 + a * 7
          val asnValue =
            if (r.nextDouble() < MalformedAsn) {
              sb.append("AS").append(asn); nul(s"asn_$role"); tally.asnMalformed += 1; None
            } else { sb.append(asn); Some(asn.toDouble) }
          if (role == "response") tally.asnResponse(asnValue) += 1
          sb.append(';').append(1 + a % 223).append('.').append(a / 223 % 256).append(".0.0/16;")
          if (r.nextDouble() < EmptyOrg) nul(s"org_$role")
          else sb.append("AS").append(asn).append(" Networks ").append(Countries(a % Countries.size))
        }
        sb.append('\n')
        out.append(sb)
        i += 1
      }
    } finally out.close()
    tally.rows = rows
    tally.rowsByPartition((proto, date.toString)) = rows
    (path, tally)
  }

  /** `yyyy-MM-dd HH:mm:ss.SSSSSS`, or a tallied malformed variant. */
  private def timestamp(sb: java.lang.StringBuilder, r: SplittableRandom, us: Long,
      col: String, tally: Tally): Boolean = {
    val t = java.time.LocalDateTime.ofEpochSecond(us / 1000000L, ((us % 1000000L) * 1000).toInt,
      java.time.ZoneOffset.UTC)
    if (r.nextDouble() < MalformedTs) {
      // no fraction and an ISO separator: the typer must reject it
      sb.append(t.toLocalDate).append('T').append(f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d")
      tally.nulls(col) += 1
      tally.tsMalformed += 1
      false
    } else {
      sb.append(t.toLocalDate).append(' ')
        .append(f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${us % 1000000L}%06d")
      true
    }
  }

  private def pickWeighted(r: SplittableRandom, xs: Seq[(String, Int)]): String = {
    var k = r.nextInt(xs.map(_._2).sum)
    xs.find { case (_, w) => k -= w; k < 0 }.get._1
  }
}
