package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import graft.Engine
import graft.plans.{Ingestion, Statements, WarehouseStore}
import graft.sources.XlsxSource
import graft.streaming.IngestStream
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: runs one workload against the engine's public
  * entry points and writes what it measured to a JSON file. Output checks
  * and metric arithmetic happen in `perfbench/run.py`.
  *
  *   --workload drop_ingest|backfill_ingest|statements_pdf
  *   --inputs <generated inputs> --work <scratch dir> --out <result.json>
  *   --seconds <measured time> --trace 0|1 --cpus <local[N]>
  */
object Main {

  final case class Op(kind: String, rep: Int, seconds: Double, items: Int,
                      error: Option[String], fields: Seq[(String, String)])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(kv("workload"), kv("inputs"), kv("work"), kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("cpus", "4").toInt)
    try {
      run.execute()
      Files.write(Paths.get(kv("out")), run.resultJson.getBytes("UTF-8"))
    } finally run.spark.stop()
  }

  private def message(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse(root.getClass.getName)}"
      .take(300)
  }

  final class Run(workload: String, inputs: String, work: String, seconds: Double,
                  trace: Boolean, cpus: Int) {
    val spark: SparkSession = Engine.session("perfbench", cpus)
    // The engine's documented dialect (Engine.table, SparkSpec): permissive
    // casts and int64 nanosecond timestamps. Set once, for every workload.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    private val progress = new ProgressListener
    spark.streams.addListener(progress)
    private val spans = new Spans
    private val jobs = if (trace) Some(new JobListener) else None
    private val heap = if (trace) Some(new HeapSampler) else None
    private val stacks = if (trace) Some(new StackSampler(Thread.currentThread())) else None
    if (trace) {
      spark.sparkContext.addSparkListener(jobs.get)
      if (workload == "drop_ingest") TracedLocalFileSystem.install(spark)
      heap.get.start()
      stacks.get.start()
    }

    private val ops = mutable.ArrayBuffer[Op]()
    private val batches = mutable.ArrayBuffer[(Span, ProgressListener#Batch)]()
    private var setupDoneMs, measureEndMs = Double.NaN
    private var heapPeakMb, heapRetainedMb = Double.NaN

    def execute(): Unit = workload match {
      case "drop_ingest" => dropIngest()
      case "backfill_ingest" => backfillIngest()
      case "statements_pdf" => statementsPdf()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    /** Repeat `rep` until `seconds` have passed, at least once. */
    private def measure(rep: Int => Unit): Unit = {
      setupDoneMs = Clock.ms
      heap.foreach(_.reset())
      var i = 0
      while (i == 0 || Clock.ms - setupDoneMs < seconds * 1000) {
        rep(i); i += 1
      }
      measureEndMs = Clock.ms
      heap.foreach { h => heapPeakMb = h.stopAndPeakMb(); heapRetainedMb = h.retainedMb() }
    }

    private def timedOp(kind: String, rep: Int, items: Int, span: String,
                        fields: => Seq[(String, String)] = Nil)(body: => Unit): Boolean = {
      var err: Option[String] = None
      val (t0, cpu0) = (Clock.ms, cpuNanos)
      spans(span) {
        try body catch { case e: Throwable => err = Some(message(e)) }
      }
      val s = (Clock.ms - t0) / 1000
      val cpu = (cpuNanos - cpu0) / 1e9
      if (rep >= 0) ops += Op(kind, rep, s, items, err, ("cpu_s" -> Json.num(cpu)) +: fields)
      err.isEmpty
    }

    /** CPU time of the whole JVM: every engine thread, JIT and GC. */
    private def cpuNanos: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

    private def repDir(rep: Int): String =
      s"$work/${if (rep < 0) "warmup" else f"rep$rep%03d"}"

    // ---------------------------------------------------------- drop_ingest

    /** Drain a drop directory into a copy of a pre-built warehouse, one
      * micro-batch per file, as the engine's streaming ingest runs it.
      */
    private def dropIngest(): Unit = {
      val wh0 = s"$work/wh0"
      spans("setup.prebuild") {
        val wh = Ingestion.ingestWorkbooks(spark, s"$inputs/prebuilt", Ingestion.empty(spark))
        WarehouseStore.save(spark, wh, wh0)
      }
      val drop = new File(s"$inputs/drop").listFiles().filter(_.getName.endsWith(".xlsx"))
      def drain(rep: Int): Unit = {
        val dir = repDir(rep)
        copyTree(Paths.get(wh0), Paths.get(s"$dir/wh"))
        copyTree(Paths.get(s"$inputs/${if (rep < 0) "warmup" else "drop"}"), Paths.get(s"$dir/in"))
        progress.drain()
        val move0 = TracedLocalFileSystem.moveNanos.get
        var counts = (0L, 0L)
        var span: Span = null
        timedOp("drain", rep, drop.length, "drop.drain",
          Seq("dir" -> Json.str(dir), "landed" -> counts._1.toString,
            "quarantined" -> counts._2.toString)) {
          span = spans.all.last
          counts = IngestStream.runAvailableNow(spark, s"$dir/in", s"$dir/wh",
            s"$dir/done", s"$dir/bad", s"$dir/ckpt")
        }
        BusDrain(spark.sparkContext)
        val bs = progress.drain().filter(_.rows > 0)
        if (rep >= 0) {
          val last = ops.last
          ops(ops.size - 1) = last.copy(fields = last.fields ++ Seq(
            "commit_s" -> Json.arr(bs.map(b => Json.num(b.triggerMs / 1000))),
            "move_s" -> Json.num((TracedLocalFileSystem.moveNanos.get - move0) / 1e9)))
          bs.foreach(b => batches += ((span, b)))
        }
      }
      drain(-1)
      measure(drain)
      if (trace) {
        val good = Paths.get(s"$work/probe_xlsx")
        Files.createDirectories(good)
        drop.filterNot(_.getName.contains("corrupt")).foreach(f =>
          Files.copy(f.toPath, good.resolve(f.getName)))
        xlsxProbe(good.toString)
      }
    }

    // ------------------------------------------------------ backfill_ingest

    /** One batch-A load into an empty warehouse, then one batch-B load into
      * A's warehouse, each a single ingest + save.
      */
    private def backfillIngest(): Unit = {
      val (a, b) = (s"$inputs/a", s"$inputs/b")
      val (nA, nB) = (count(a, ".xlsx"), count(b, ".xlsx"))
      def load(rep: Int): Unit = {
        val wh = s"${repDir(rep)}/wh"
        val okA = timedOp("load_a", rep, nA, "backfill.load_a", Seq("wh" -> Json.str(wh))) {
          val next = spans("ingest.call") { Ingestion.ingestWorkbooks(spark, a, Ingestion.empty(spark)) }
          spans("store.save") { WarehouseStore.save(spark, next, wh) }
        }
        if (okA) {
          copyTree(Paths.get(wh), Paths.get(s"${repDir(rep)}/wh_a"))
          timedOp("load_b", rep, nB, "backfill.load_b", Seq("wh" -> Json.str(wh))) {
            val cur = spans("store.load") { WarehouseStore.load(spark, wh) }
            val next = spans("ingest.call") { Ingestion.ingestWorkbooks(spark, b, cur) }
            spans("store.save") { WarehouseStore.save(spark, next, wh) }
          }
        } else if (rep >= 0)
          ops += Op("load_b", rep, 0, nB, Some("batch-A load failed"), Seq("wh" -> Json.str(wh)))
      }
      load(-1)
      measure(load)
      if (trace) xlsxProbe(a)
    }

    // ------------------------------------------------------- statements_pdf

    /** Every monthly batch of statement PDFs through extract + workbook. */
    private def statementsPdf(): Unit = {
      val root = s"$inputs/statements"
      val names = new File(root).listFiles().filter(_.isDirectory).map(_.getName).sorted
      def pass(rep: Int): Unit = names.foreach { name =>
        val out = s"${repDir(rep)}/$name"
        // writeWorkbook needs an existing output directory
        Files.createDirectories(Paths.get(out))
        var path = ""
        timedOp("batch", rep, count(s"$root/$name", ".pdf"), "statements.batch",
          Seq("batch" -> Json.str(name), "path" -> Json.str(path))) {
          val e = spans("statements.extract") { Statements.extract(spark, s"$root/$name") }
          path = spans("statements.write_workbook") { Statements.writeWorkbook(e, out) }
        }
      }
      // three passes: JIT compilation keeps shortening the batch for about
      // that long, and the timed passes should see its end state
      (1 to 3).foreach(_ => pass(-1))
      measure(pass)
      if (trace) names.foreach { name =>
        val dir = s"$root/$name"
        val text = spans("probe.pdf_text") { noop(Statements.pdfTexts(spark, dir)) }
        spans("probe.pdf_tables") {
          val e = Statements.extract(spark, dir)
          noop(e.msi); noop(e.compras)
        }
        spans.all.last.attrs("text_ms") = text
      }
    }

    // ------------------------------------------------------------- probes

    private def noop(df: DataFrame): Double = {
      val t0 = Clock.ms
      df.write.format("noop").mode("overwrite").save()
      Clock.ms - t0
    }

    /** Both sheets of every workbook under `dir` through the xlsx source. */
    private def xlsxProbe(dir: String): Unit = {
      spans("probe.xlsx_scan") {
        noop(XlsxSource.read(spark, dir, "Compras"))
        noop(XlsxSource.read(spark, dir, "Precios", hyperlinkCols = Seq("Preview")))
      }
      val span = spans.all.last
      span.attrs("rows") = (XlsxSource.read(spark, dir, "Compras").count() +
        XlsxSource.read(spark, dir, "Precios").count()).toDouble
      span.attrs("bytes") = new File(dir).listFiles().map(_.length).sum.toDouble
    }

    // -------------------------------------------------------------- output

    def resultJson: String = {
      val traceFields = jobs.map { l =>
        BusDrain(spark.sparkContext)
        val sampler = stacks.get
        sampler.finish()
        batches.foreach { case (parent, b) =>
          val s = spans.add(parent, "stream.batch", b.startMs, b.startMs + b.triggerMs)
          b.durations.foreach { case (k, v) => s.attrs(k + "_ms") = v.toDouble }
        }
        val benchSpans = spans.all.toList
        // where each thread's time went, as spans under the benchmark's own
        Seq("main", "stream").foreach { kind =>
          sampler.periods(kind, Clock.ms).foreach { case (a, b, layer) =>
            spans.innermostAt(a, benchSpans).foreach(p =>
              spans.add(p, s"layer:$kind:$layer", a, b min p.end))
          }
        }
        l.jobs.values.toArray(Array.empty[JobRec]).sortBy(_.id).foreach { j =>
          val parent = spans.innermostAt(j.start, benchSpans)
          parent.foreach { p =>
            val layer = sampler.layerAt(if (j.streaming) "stream" else "main", j.start)
            val s = spans.add(p, "job:" + layer, j.start, j.end)
            val st = j.stages.flatMap(id => Option(l.stages.get(id)))
            val multi = st.filter(_.taskMs.size >= 2)
            def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
            s.attrs ++= Seq(
              "stages" -> st.size.toDouble, "tasks" -> st.map(_.taskMs.size).sum.toDouble,
              "task_ms" -> st.map(_.runMs).sum, "gc_ms" -> st.map(_.gcMs).sum,
              "shuffle_write" -> st.map(_.shuffleWrite).sum.toDouble,
              "shuffle_read" -> st.map(_.shuffleRead).sum.toDouble,
              "spill" -> st.map(_.spill).sum.toDouble,
              "output_bytes" -> st.map(_.outputBytes).sum.toDouble,
              "input_bytes" -> st.map(_.inputBytes).sum.toDouble,
              "stage_task_max_ms" -> multi.map(_.taskMs.max).sum,
              "stage_task_median_ms" -> multi.map(x => med(x.taskMs.toSeq)).sum)
          }
        }
        val path = s"$work/spans.json"
        Files.write(Paths.get(path), spans.json.getBytes("UTF-8"))
        Seq("spans" -> Json.str(path), "heap_peak_mb" -> Json.num(heapPeakMb),
          "heap_retained_mb" -> Json.num(heapRetainedMb))
      }.getOrElse(Nil)
      Json.obj(Seq(
        "workload" -> Json.str(workload), "cpus" -> cpus.toString,
        "setup_done_epoch_ms" -> Json.num(setupDoneMs),
        "measure_s" -> Json.num((measureEndMs - setupDoneMs) / 1000),
        "ops" -> Json.arr(ops.toSeq.map { o =>
          Json.obj(Seq("kind" -> Json.str(o.kind), "rep" -> o.rep.toString,
            "s" -> Json.num(o.seconds), "items" -> o.items.toString,
            "error" -> o.error.map(Json.str).getOrElse("null")) ++ o.fields)
        })) ++ traceFields)
    }
  }

  private def count(dir: String, suffix: String): Int =
    new File(dir).listFiles().count(_.getName.endsWith(suffix))

  /** Copy a directory tree, keeping modification times (the drop
    * directory drains in modification-time order).
    */
  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }
}
