package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the listener events' `time` fields.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. Spans of one operation share `op`; `parent` is the
  * enclosing span's id (0 for a root).
  */
final case class Span(id: Int, op: Int, parent: Int, name: String,
                      start: Double, var end: Double = Double.NaN,
                      attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty)

/** Spans opened by the benchmark around its calls into the engine. Kept in
  * memory; written once at the end.
  */
final class Spans {
  val all = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private var nextOp = 0

  def apply[T](name: String)(body: => T): T = {
    val parent = open.headOption
    val op = parent.map(_.op).getOrElse { nextOp += 1; nextOp }
    val s = Span(all.size + 1, op, parent.map(_.id).getOrElse(0), name, Clock.ms)
    all += s
    open.push(s)
    try body finally { s.end = Clock.ms; open.pop() }
  }

  /** A finished child span reconstructed from listener events. */
  def add(parent: Span, name: String, start: Double, end: Double): Span = {
    val s = Span(all.size + 1, parent.op, parent.id, name, start, end)
    all += s
    s
  }

  /** Innermost span (deepest in the tree) whose interval holds `t`. */
  def innermostAt(t: Double, among: Seq[Span]): Option[Span] =
    among.filter(s => s.start <= t && t <= s.end).sortBy(s => -depth(s)).headOption

  def depth(s: Span): Int = if (s.parent == 0) 0 else 1 + depth(all(s.parent - 1))

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start max s.start, k.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    kids.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (!curB.isNaN) covered += curB - curA
    (s.end - s.start) - covered
  }

  def json: String = all.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},""" +
      s""""self_ms":${Json.num(selfMs(s))},"attrs":{$attrs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Which engine layer a thread is in, from the frames on its stack: the
  * first rule whose frame is on the stack wins.
  */
object Layer {
  private val rules = Seq(
    ("graft.plans.WarehouseStore$", "save") -> "store.save",
    ("graft.plans.WarehouseStore$", "load") -> "store.load",
    ("graft.plans.Ingestion$", "") -> "ingest.call",
    ("graft.sources.XlsxWriter$", "") -> "pdf.xlsx_write",
    ("graft.plans.Statements$", "") -> "pdf.statements",
    ("graft.streaming.IngestStream$", "") -> "streaming",
    ("graft.streaming.FileDrop$", "") -> "streaming")

  def of(stack: Array[StackTraceElement]): String =
    rules.collectFirst { case ((cls, method), layer) if stack.exists(f =>
      f.getClassName.startsWith(cls) && (method.isEmpty || f.getMethodName == method)) => layer }
      .getOrElse("other")
}

/** Samples the stacks of the benchmark's thread and of streaming query
  * threads every few milliseconds, keeping each thread's layer changes as
  * (time, layer). A Spark job is attributed to the layer its submitting
  * thread was in when the job started: the engine's calls block on their
  * jobs, so that thread is still inside the call.
  */
final class StackSampler(main: Thread, periodMs: Long = 5) extends Thread("perfbench-stacks") {
  setDaemon(true)
  @volatile private var on = true
  /** thread kind ("main" | "stream") -> (time ms, layer) changes */
  val changes = new ConcurrentHashMap[String, mutable.ArrayBuffer[(Double, String)]]()

  private def record(kind: String, t: Thread): Unit = {
    val layer = Layer.of(t.getStackTrace)
    val buf = changes.computeIfAbsent(kind, _ => mutable.ArrayBuffer[(Double, String)]())
    buf.synchronized { if (buf.isEmpty || buf.last._2 != layer) buf += ((Clock.ms, layer)) }
  }

  private def streamThreads(): Seq[Thread] = {
    var g = main.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val all = new Array[Thread](g.activeCount * 2 + 16)
    all.take(g.enumerate(all, true)).filter(_.getName.startsWith("stream execution thread")).toSeq
  }

  override def run(): Unit = {
    var streams = Seq.empty[Thread]
    var tick = 0
    while (on) {
      if (tick % 20 == 0) streams = streamThreads()
      record("main", main)
      streams.filter(_.isAlive).foreach(record("stream", _))
      tick += 1
      Thread.sleep(periodMs)
    }
  }

  def finish(): Unit = { on = false; join() }

  /** The layer of thread `kind` at time `t`. */
  def layerAt(kind: String, t: Double): String =
    Option(changes.get(kind)).flatMap(b => b.synchronized {
      b.takeWhile(_._1 <= t).lastOption.map(_._2)
    }).getOrElse("other")

  /** (start, end, layer) periods of thread `kind`. */
  def periods(kind: String, until: Double): Seq[(Double, Double, String)] =
    Option(changes.get(kind)).map { b =>
      val xs = b.synchronized(b.toList)
      xs.zip(xs.drop(1).map(_._1) :+ until).map { case ((a, l), e) => (a, e, l) }
    }.getOrElse(Nil)
}

final case class JobRec(id: Int, start: Double, var end: Double, streaming: Boolean,
                        stages: Seq[Int])

final class StageRec(val id: Int) {
  val taskMs = mutable.ArrayBuffer[Double]()
  var runMs, gcMs = 0.0
  var shuffleWrite, shuffleRead, spill, outputBytes, inputBytes = 0L
}

/** The benchmark's own SparkListener: job intervals, per-stage task times
  * and I/O. Registered only on traced runs.
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val streaming = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
    jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, Double.NaN, streaming, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.computeIfAbsent(e.stageId, id => new StageRec(id))
    val m = e.taskMetrics
    s.synchronized {
      s.taskMs += e.taskInfo.duration.toDouble
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

}

/** Micro-batch progress of streaming queries: (triggerExecution ms, input
  * rows, batch start ms) per batch. Needed for the per-file commit time, so
  * it is registered on every run.
  */
final class ProgressListener extends StreamingQueryListener {
  final case class Batch(triggerMs: Double, rows: Long, startMs: Double,
                         durations: Map[String, Long])
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    batches.add(Batch(d.getOrElse("triggerExecution", 0L).toDouble, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d))
  }
  def drain(): Seq[Batch] = {
    val out = mutable.ArrayBuffer[Batch]()
    var b = batches.poll()
    while (b != null) { out += b; b = batches.poll() }
    out.toSeq
  }
}

/** Local file system that times the archive/quarantine moves of the drop
  * directory (calls made from `FileDrop.moveFile`). Installed as the `file:`
  * scheme on traced runs only.
  */
class TracedLocalFileSystem extends LocalFileSystem {
  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      if (TracedLocalFileSystem.inMove) TracedLocalFileSystem.moveNanos.addAndGet(System.nanoTime() - t0)
    }
  }
  override def rename(src: Path, dst: Path): Boolean = timed(super.rename(src, dst))
  override def exists(f: Path): Boolean = timed(super.exists(f))
  override def mkdirs(f: Path): Boolean = timed(super.mkdirs(f))
}

object TracedLocalFileSystem {
  val moveNanos = new AtomicLong()
  private val walker = StackWalker.getInstance()
  def inMove: Boolean = walker.walk(s =>
    s.anyMatch(f => f.getClassName.startsWith("graft.streaming.FileDrop") &&
      f.getMethodName == "moveFile"))

  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[TracedLocalFileSystem].getName)
    org.apache.hadoop.fs.FileSystem.closeAll()
    val fs = new Path("file:///").getFileSystem(conf)
    require(fs.isInstanceOf[TracedLocalFileSystem], s"file: scheme is ${fs.getClass}")
  }
}

/** Peak used heap, sampled every 20 ms while running, and the heap still
  * in use after a full collection at the end (what the run retained).
  */
final class HeapSampler extends Thread("perfbench-heap") {
  setDaemon(true)
  private val peak = new AtomicLong()
  @volatile private var on = true
  private val mx = java.lang.management.ManagementFactory.getMemoryMXBean
  override def run(): Unit = while (on) {
    peak.accumulateAndGet(mx.getHeapMemoryUsage.getUsed, math.max)
    Thread.sleep(20)
  }
  def reset(): Unit = peak.set(mx.getHeapMemoryUsage.getUsed)
  def stopAndPeakMb(): Double = { on = false; join(); peak.get / 1048576.0 }
  def retainedMb(): Double = { System.gc(); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
