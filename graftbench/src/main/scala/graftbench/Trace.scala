package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Counts the listeners charge to one span. Updated only from the
  * listener bus thread, read after [[Tracer.drain]]. */
final class SpanCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var writeCommands = 0L
  var writeCommandNs = 0L

  def +=(o: SpanCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    recordsRead += o.recordsRead
    writeCommands += o.writeCommands; writeCommandNs += o.writeCommandNs
  }
}

/** One named interval `<layer>.<call>` with its parent and pass id. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, var endNs: Long = -1L, gcStartS: Double = 0.0, var gcEndS: Double = 0.0) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder plus the listener whose counts are charged to the
  * span open on the driver thread. A disabled tracer runs each body
  * untouched and registers nothing, which is what the timed runs use.
  *
  * Attribution: opening a span sets a SparkContext local property;
  * every job submitted while it is open carries the property, and its
  * stages, tasks and SQL execution ids are mapped back to the span.
  * Spans live in memory until [[writeSpans]]. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val PropKey = "graftbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val counts = new ConcurrentHashMap[Int, SpanCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val executionSpan = new ConcurrentHashMap[Long, Int]()
  private val executionStart = new ConcurrentHashMap[Long, (Long, Boolean)]()
  var pass: Int = 0

  private def countsOf(span: Int): SpanCounts =
    counts.computeIfAbsent(span, _ => new SpanCounts)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan.put(_, span))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => executionSpan.putIfAbsent(id.toLong, span))
      countsOf(span).jobs += 1
    }
    // a write command is an SQL execution whose plan inserts; it is
    // charged, with its wall time, to the span its jobs ran in
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionStart.put(s.executionId,
          (s.time, s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")))
      case end: SparkListenerSQLExecutionEnd =>
        Option(executionStart.remove(end.executionId)).foreach { case (t0, isWrite) =>
          if (isWrite) {
            val c = countsOf(executionSpan.getOrDefault(end.executionId, -1))
            c.writeCommands += 1
            c.writeCommandNs += (end.time - t0) * 1000000L
          }
        }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageId, -1))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private var listening = false

  /** Attach or detach the listener. Untraced passes of a traced run
    * run detached, so the overhead they are compared against is none. */
  def setListening(on: Boolean): Unit = if (enabled && on != listening) {
    if (on) sc.addSparkListener(Listener)
    else {
      drain()
      sc.removeSparkListener(Listener)
    }
    listening = on
  }

  /** Run `body` inside span `name`; a no-op wrapper when disabled. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val gc = if (parent.isEmpty) Jvm.gcSeconds else 0.0
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), pass, System.nanoTime(), gcStartS = gc)
      spans += s
      stack.push(s)
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        if (parent.isEmpty) s.gcEndS = Jvm.gcSeconds
        stack.pop()
        sc.setLocalProperty(PropKey, parent.map(_.id.toString).orNull)
      }
    }

  /** Wait until every listener event posted so far has been counted. */
  def drain(): Unit = if (enabled) org.apache.spark.graftbench.ListenerBusDrain(sc)

  def allSpans: Seq[Span] = spans.toSeq

  /** Counts charged directly to span `id` (not its children). */
  def countsFor(id: Int): SpanCounts = Option(counts.get(id)).getOrElse(new SpanCounts)

  /** Counts of `id` plus every descendant span. */
  def subtreeCounts(id: Int): SpanCounts = {
    val total = new SpanCounts
    val children = spans.groupBy(_.parent)
    def walk(i: Int): Unit = {
      total += countsFor(i)
      children.getOrElse(i, Nil).foreach(c => walk(c.id))
    }
    walk(id)
    total
  }

  /** Counts of every span whose name satisfies `p`, subtrees included. */
  def countsWhere(p: Span => Boolean): SpanCounts = {
    val total = new SpanCounts
    spans.filter(p).foreach(s => total += subtreeCounts(s.id))
    total
  }

  def secondsWhere(p: Span => Boolean): Double = spans.filter(p).map(_.seconds).sum

  /** Spans as JSON lines: one object per span, in opening order. */
  def writeSpans(path: java.nio.file.Path, origin: Long): Unit = {
    val lines = spans.map { s =>
      val c = countsFor(s.id)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
        s""""start_s":${Json.num((s.startNs - origin) / 1e9)},"end_s":${Json.num((s.endNs - origin) / 1e9)},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Process-wide readings that need no listener. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap still in use after a full collection, in MB. */
  def heapAfterGcMb: Double = {
    // the second collection follows Spark's cleaner, which frees the
    // broadcasts and shuffles the first one found unreachable
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
