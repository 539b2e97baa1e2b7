package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import graft.plans.{Ingestion, Warehouse, WarehouseStore}
import graft.streaming.IngestStream
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.sys.process._

/** Warehouse ingestion over the repository's own workbook fixtures
  * (`fixtures/ingest`, built by scripts/make_workbook_fixture.py — see
  * its docstring for what each row exercises), diffed table by table
  * against the row-at-a-time oracle (scripts/ingestion_oracle.py): once
  * as one batch call, once drained one file per micro-batch. Also pins
  * the per-micro-batch checkpoint lifetime and the per-file job count.
  */
class IngestFixtureSpec extends SparkSpec {

  private val fixtureDir = "fixtures/ingest"
  private val landing = Seq("01_enero.xlsx", "02_febrero.xlsx", "03_reentrega.xlsx",
    "04_marzo.xlsx")
  private val corrupt = "05_corrupt.xlsx"

  /** Copies of `files` in a new directory, modified one second apart in
    * the given order (a drop directory drains oldest first).
    */
  private def stage(dir: String, files: Seq[String]): String = {
    Files.createDirectories(Paths.get(dir))
    files.zipWithIndex.foreach { case (f, i) =>
      val to = Paths.get(dir, f)
      Files.copy(Paths.get(fixtureDir, f), to)
      Files.setLastModifiedTime(to, FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    dir
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private lazy val oracleDir: String = {
    val out = tmp("ingest_fixture_oracle")
    val rc = s"python3 scripts/ingestion_oracle.py ${stage(s"$out/in", landing)} $out".!
    assert(rc == 0, "oracle script failed")
    out
  }

  /** The oracle's tables as the engine must produce them. One documented
    * divergence: for a bare "ML" link Python's urlparse gives the oracle
    * the provider URL "://ML" and a fact, while the engine's parse_url
    * finds no scheme, so its provider_url is null and the row never
    * becomes a fact. The fixture puts that row last, so the oracle's ML
    * fact holds the highest purchase id and dropping it moves no other id.
    */
  private lazy val expected: Map[String, DataFrame] = {
    def read(t: String) = spark.read.json(s"$oracleDir/$t.jsonl")
    val provider = read("provider")
    val mlProviders = provider.filter(col("provider_url") === "://ML")
      .select("id_provider").collect().map(_.getLong(0)).toSeq
    assert(mlProviders.length == 1, s"fixture must carry one ML provider: $mlProviders")
    val purchase = read("purchase")
    val mlPurchases = purchase.filter(col("id_provider").isin(mlProviders: _*))
      .select("id_purchase").collect().map(_.getLong(0)).toSeq
    val maxPurchase = purchase.agg(max("id_purchase")).head().getLong(0)
    assert(mlPurchases == Seq(maxPurchase), s"the ML fact must be the last purchase: $mlPurchases")
    Map(
      "store" -> read("store"),
      "provider" -> provider.withColumn("provider_url",
        when(col("provider_url") === "://ML", lit(null)).otherwise(col("provider_url"))),
      "product" -> read("product"),
      "purchase" -> purchase.filter(col("id_purchase") =!= maxPurchase)
        .drop("id_payment_type"),
      "operation" -> read("operation").filter(col("id_purchase") =!= maxPurchase)
        .drop("purchase_date"),
      "price" -> read("price").drop("start_date"))
  }

  /** Symmetric multiset diff on the oracle's columns; doubles to 6 dp. */
  private def assertMatchesOracle(wh: Warehouse): Unit = {
    val actual = Map("store" -> wh.store, "provider" -> wh.provider,
      "product" -> wh.product, "purchase" -> wh.purchase,
      "operation" -> wh.operation, "price" -> wh.price)
    expected.foreach { case (name, e) =>
      val cols = e.columns.toSeq.sorted
      def norm(df: DataFrame) = df.select(cols.map { c =>
        df.schema(c).dataType match {
          case org.apache.spark.sql.types.DoubleType => round(col(c), 6).as(c)
          case _ => col(c).cast("string").as(c)
        }
      }: _*)
      val (a, x) = (norm(actual(name)), norm(e))
      val missing = x.exceptAll(a).collect()
      val extra = a.exceptAll(x).collect()
      assert(missing.isEmpty && extra.isEmpty,
        s"$name: ${missing.length} missing, ${extra.length} extra\n" +
          s"missing: ${missing.take(5).mkString("\n")}\nextra: ${extra.take(5).mkString("\n")}")
    }
    // the ML row's provider exists, with a null URL, and owns no fact
    val ml = wh.provider.filter(col("provider_url").isNull).collect()
    assert(ml.length == 1)
    assert(wh.purchase.filter(col("id_provider") === ml.head.getAs[Long]("id_provider"))
      .isEmpty)
  }

  private def drain(in: String, base: String): (Long, Long) =
    IngestStream.runAvailableNow(spark, in, s"$base/wh", s"$base/done", s"$base/bad",
      s"$base/ckpt")

  test("ingestWorkbooks over the fixture workbooks matches the oracle") {
    val in = stage(s"${tmp("ingest_fixture_batch")}/in", landing)
    val wh = Ingestion.ingestWorkbooks(spark, in, Ingestion.empty(spark))
    assertMatchesOracle(wh)
    // one call: the price change is a plain last-write, nothing closes
    assert(wh.price.filter(col("end_date").isNotNull).isEmpty)
    Checkpoints.release()
  }

  test("IngestStream, one file per micro-batch, matches the oracle") {
    val base = tmp("ingest_fixture_stream")
    val in = stage(s"$base/in", landing :+ corrupt)
    assert(drain(in, base) == ((4L, 1L)))
    assert(new java.io.File(s"$base/bad").list().toSeq == Seq(corrupt))
    assert(new java.io.File(s"$base/done").list().sorted.toSeq == landing)
    val wh = WarehouseStore.load(spark, s"$base/wh")
    assertMatchesOracle(wh)
    // the prices that changed between micro-batches closed and reopened
    val changed = wh.price.filter(col("end_date").isNotNull)
      .join(wh.product, "id_product").select("product_name").collect().map(_.getString(0))
    assert(changed.sorted.toSeq == Seq("Peluche Totoro grande", "Taza Kuromi"))
  }

  test("a drop file whose name is URL-encoded in the batch lands and is archived") {
    val base = tmp("ingest_fixture_name")
    val name = "01 enero 100%.xlsx"
    Files.createDirectories(Paths.get(base, "in"))
    Files.copy(Paths.get(fixtureDir, landing.head), Paths.get(base, "in", name))
    assert(drain(s"$base/in", base) == ((1L, 0L)))
    assert(new java.io.File(s"$base/done").list().toSeq == Seq(name))
    assert(WarehouseStore.load(spark, s"$base/wh").purchase.count() == 4)
  }

  test("a micro-batch's checkpoints are freed once its commit returns") {
    val base = tmp("ingest_fixture_lifetime")
    val in = stage(s"$base/in", landing.take(1))
    val pending = Checkpoints.pending
    assert(drain(in, base) == ((1L, 0L)))
    val afterOne = spark.sparkContext.getPersistentRDDs.size
    stage(in, landing.slice(1, 3))
    assert(drain(in, base) == ((2L, 0L)))
    assert(spark.sparkContext.getPersistentRDDs.size == afterOne,
      "persisted RDDs grew with the number of drained files")
    assert(Checkpoints.pending == pending, "micro-batch checkpoints leaked onto the ledger")
  }

  test("one micro-batch of a fixture workbook runs a bounded number of Spark jobs") {
    val base = tmp("ingest_fixture_jobs")
    WarehouseStore.save(spark, Ingestion.ingestWorkbooks(spark,
      stage(s"$base/seed", landing.take(1)), Ingestion.empty(spark)), s"$base/wh")
    Checkpoints.release()
    val in = stage(s"$base/in", landing.slice(1, 2))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      assert(drain(in, base) == ((1L, 0L)))
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    info(s"jobs in one micro-batch: ${jobs.get}")
    assert(jobs.get <= MaxJobsPerFile,
      s"one micro-batch ran ${jobs.get} Spark jobs (bound $MaxJobsPerFile)")
  }

  /** Jobs of one file's micro-batch (collect its file list, load, ingest,
    * save) as the one-ranked-pass plan runs it: 53, down from 104 when
    * every id sequence ranked its own re-derived lineage. The count does
    * not depend on the host; lower it when a change lowers it.
    */
  private val MaxJobsPerFile = 53
}
