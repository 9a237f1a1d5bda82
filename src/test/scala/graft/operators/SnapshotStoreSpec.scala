package graft.operators

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The derived-table snapshot store under concurrency and failure:
  * one build per key however many callers race for it, and a failed
  * build leaves neither files nor an entry behind. */
class SnapshotStoreSpec extends SparkSpec {

  /** `body` over a one-file corpus dir, deleted afterwards. */
  private def withCorpus[A](body: String => A): A = {
    val d = Files.createTempDirectory("graft_snapshot_spec_")
    val f = Files.writeString(d.resolve("part-0"), "x")
    try body(d.toString)
    finally { Files.delete(f); Files.delete(d) }
  }

  private def snapshotDirs(): Set[String] = {
    val listing = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_edges_")).toSet
    finally listing.close()
  }

  test("two threads on the same key run exactly one build")(withCorpus { dir =>
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    def build: DataFrame = {
      builds.incrementAndGet()
      Thread.sleep(300) // hold the key while the other caller arrives
      spark.range(10).toDF("id")
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(() => {
          start.await()
          Analytics.snapshotTable(spark, dir, "race")(build).count()
        })
      }
      start.countDown()
      assert(calls.map(_.get(120, TimeUnit.SECONDS)) == Seq(10L, 10L))
      assert(builds.get == 1, s"${builds.get} builds for one key")
    } finally pool.shutdown()
  })

  test("a failed build leaves no directory or entry; the next call rebuilds")(withCorpus { dir =>
    val before = snapshotDirs()
    val failing = intercept[Exception] {
      Analytics.snapshotTable(spark, dir, "fails")(
        spark.range(10).selectExpr("if(id < 5, id, raise_error('boom')) as id"))
    }
    assert(failing.getMessage.contains("boom"), failing.getMessage)
    assert(snapshotDirs() -- before == Set.empty, "failed build left its directory")
    val builds = new AtomicInteger
    val ok = Analytics.snapshotTable(spark, dir, "fails") {
      builds.incrementAndGet()
      spark.range(10).toDF("id")
    }
    assert(builds.get == 1, "the next call must rebuild")
    assert(ok.count() == 10)
  })
}
