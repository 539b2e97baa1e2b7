package graft

import java.nio.file.Files

import graft.streaming.{EventWindows, FileDrop}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("tumbling window aggregates a memory stream (q25 twin)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF()
      .toDF("ms", "event_type", "value")
      .withColumn("tstamp", timestamp_millis($"ms"))
    val q = EventWindows.tumbling(events).writeStream
      .outputMode("complete").format("memory").queryName("tumbling_out")
      .start()
    val t0 = 1700000000000L // aligned off nothing in particular
    input.addData((t0, "click", 1.0), (t0 + 60000, "click", 2.0),
      (t0 + 6 * 60000, "view", 5.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tumbling_out")
      .orderBy("window_start_ms")
      .select("event_type", "n_events", "sum_value")
      .as[(String, Long, Double)].collect()
    assert(rows.length == 2)
    assert(rows(0) == ("click", 2L, 3.0))
    assert(rows(1) == ("view", 1L, 5.0))
  }

  test("session window closes on gap (streaming sessions)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val events = input.toDF().toDF("ms", "user_id", "value")
      .withColumn("tstamp", timestamp_millis($"ms"))
    val q = EventWindows.sessions(events, gap = "5 minutes").writeStream
      .outputMode("complete").format("memory").queryName("session_out")
      .start()
    val t0 = 1700000000000L
    input.addData((t0, 1L, 1.0), (t0 + 60000, 1L, 1.0),
      (t0 + 30 * 60000, 1L, 1.0))
    q.processAllAvailable()
    q.stop()
    val n = spark.table("session_out").count()
    assert(n == 2) // two sessions: [t0, t0+1min] and [t0+30min]
  }

  test("sliding window lands events in both overlapping windows (q27 twin)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF().toDF("ms", "event_type", "value")
      .withColumn("tstamp", timestamp_millis($"ms"))
    val q = EventWindows.sliding(events).writeStream
      .outputMode("complete").format("memory").queryName("sliding_out")
      .start()
    val t0 = 1700000000000L // a 5-minute boundary? not required: windows align to epoch
    input.addData((t0, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    // one event, 10-min windows sliding by 5 → exactly two windows hold it
    assert(spark.table("sliding_out").count() == 2)
  }

  test("stateful sessions: data-driven close and watermark-timeout close") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val events = input.toDF().toDF("ms", "user_id", "value")
      .withColumn("tstamp", timestamp_millis($"ms"))
    val q = EventWindows
      .statefulSessions(events, gapMs = 5 * 60000, watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("stateful_sessions").start()
    val t0 = 1700000000000L
    // burst 1: two events 1 min apart; then a same-user event 30 min
    // later closes session 1 data-driven
    input.addData((t0, 1L, 1.0), (t0 + 60000, 1L, 2.0))
    q.processAllAvailable()
    input.addData((t0 + 30 * 60000, 1L, 7.0))
    q.processAllAvailable()
    // advance the watermark far past burst 2's gap → timeout close
    input.addData((t0 + 120 * 60000, 2L, 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("stateful_sessions")
      .orderBy("session_start_ms")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.length >= 2)
    assert(rows(0) == ((1L, t0, t0 + 60000, 2L, 3.0)))      // data-driven
    assert(rows(1) == ((1L, t0 + 30 * 60000, t0 + 30 * 60000, 1L, 7.0))) // timeout
  }

  test("watermark drops events later than the lateness bound") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF().toDF("ms", "event_type", "value")
      .withColumn("tstamp", timestamp_millis($"ms"))
    // append mode: a window only emits once the watermark passes its end
    val q = EventWindows.tumbling(events, size = "5 minutes",
        watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_out").start()
    val t0 = 1700000000000L
    input.addData((t0, "click", 1.0))
    q.processAllAvailable()
    // advance watermark far past t0's window, then send a LATE event for it
    input.addData((t0 + 60 * 60000, "click", 5.0))
    q.processAllAvailable()
    input.addData((t0 + 1000, "click", 99.0)) // too late — dropped
    q.processAllAvailable()
    q.stop()
    val first = spark.table("wm_out")
      .filter($"window_start_ms" <= t0).select("n_events", "sum_value")
      .as[(Long, Double)].collect()
    // the late 99.0 never lands: the emitted window holds only the on-time event
    assert(first.toSeq == Seq((1L, 1.0)))
  }

  test("streaming session_window over real events ≡ batch gaps-and-islands") {
    implicit val sq = spark.sqlContext
    // session_window semantics: an event at exactly last+gap starts a NEW
    // session (window end exclusive) — the batch twin below uses >= to
    // match. Real events table, ms floor like the q26 family.
    val ev = Engine.table(spark, sf(), "events")
      .selectExpr("unix_millis(ts) AS ms", "user_id", "value")
      .as[(Long, Long, Double)].collect().toSeq
    val input = MemoryStream[(Long, Long, Double)]
    val events = input.toDF().toDF("ms", "user_id", "value")
      .withColumn("tstamp", timestamp_millis($"ms"))
    val q = EventWindows.sessions(events, gap = "30 minutes").writeStream
      .outputMode("complete").format("memory").queryName("real_sessions")
      .start()
    input.addData(ev)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("real_sessions")
      .select($"user_id", $"n_events", round($"sum_value", 4).as("sv"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    // batch twin with >=-boundary
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ms")
    val batch = ev.toDF("ms", "user_id", "value")
      .withColumn("is_new",
        when(lag($"ms", 1).over(w).isNull ||
          $"ms" - lag($"ms", 1).over(w) >= 1800000L, 1L).otherwise(0L))
      .withColumn("sid", sum($"is_new").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sid")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 4).as("sv"))
      .select($"user_id", $"n_events", $"sv")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(streamed == batch)
  }

  test("stream-stream interval join pairs purchases with in-window clicks") {
    implicit val sq = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Long, Double)]
    val buysIn = MemoryStream[(Long, Long, Double)]
    val clicks = clicksIn.toDF().toDF("ms", "user_id", "click_value")
      .withColumn("tstamp", timestamp_millis($"ms"))
    val buys = buysIn.toDF().toDF("ms", "user_id", "buy_value")
      .withColumn("tstamp", timestamp_millis($"ms"))
    val joined = graft.streaming.StreamOps.intervalJoin(
        buys, clicks.select($"user_id", $"click_value", $"tstamp"),
        key = "user_id", lookback = "1 hour")
      .select($"l.user_id", $"buy_value", $"click_value")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("attrib_out").start()
    val t0 = 1700000000000L
    // user 1: click 30 min before purchase (in window), another 2 h
    // before (out of window); user 2: click AFTER the purchase (excluded)
    clicksIn.addData((t0 - 120 * 60000, 1L, 0.1), (t0 - 30 * 60000, 1L, 0.2),
      (t0 + 60000, 2L, 0.3))
    buysIn.addData((t0, 1L, 10.0), (t0, 2L, 20.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attrib_out")
      .as[(Long, Double, Double)].collect().toSet
    assert(rows == Set((1L, 10.0, 0.2)))
  }

  test("dedupStream drops repeat ids within the watermark horizon") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val events = input.toDF().toDF("ms", "event_id", "value")
      .withColumn("tstamp", timestamp_millis($"ms"))
    val q = graft.streaming.StreamOps.dedupStream(events, Seq("event_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    val t0 = 1700000000000L
    input.addData((t0, 100L, 1.0), (t0 + 1000, 100L, 2.0), (t0 + 2000, 101L, 3.0))
    q.processAllAvailable()
    input.addData((t0 + 3000, 100L, 4.0)) // still within horizon — dropped
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("event_id", "value")
      .as[(Long, Double)].collect().toSet
    assert(ids == Set((100L, 1.0), (101L, 3.0)))
  }

  test("FileDrop: drains directory, archives success, quarantines failure") {
    val base = Files.createTempDirectory("filedrop").toFile.getAbsolutePath
    val in = s"$base/in"; val done = s"$base/done"; val bad = s"$base/bad"
    new java.io.File(in).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$in/good.json"),
      """{"k": 1}""" + "\n" + """{"k": 2}""")
    Files.writeString(java.nio.file.Paths.get(s"$in/poison.json"),
      """{"k": -1}""")
    val cfg = FileDrop.Config(
      inputDir = in, format = "json",
      schema = StructType(Seq(StructField("k", LongType))),
      processedDir = done, errorsDir = bad,
      checkpointDir = s"$base/ckpt", pathGlob = "*.json")
    val (ok, err) = FileDrop.runAvailableNow(spark, cfg) { (batch, _, _) =>
      // per-file transactional stand-in: reject batches containing k<0
      if (batch.filter(col("k") < 0).count() > 0)
        throw new RuntimeException("poison")
    }
    assert(ok == 1 && err == 1)
    assert(new java.io.File(done).list().toSeq == Seq("good.json"))
    assert(new java.io.File(bad).list().toSeq == Seq("poison.json"))
  }

  test("foreachBatch maintains an incremental aggregate (aggState fold)") {
    implicit val sq = spark.sqlContext
    import graft.operators.Relational
    val input = MemoryStream[(Long, Long)] // (custkey, cents)
    val keys = Seq("k")
    // state lives across micro-batches, as it would in a parquet/Delta
    // state table; each batch folds in without rescanning history
    var state = spark.emptyDataFrame
    val q = input.toDF().toDF("k", "cents").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = Relational.aggState(batch, keys, "cents")
        state = if (state.isEmpty) b
                else Relational.mergeAggState(state, b, keys)
        state = state.localCheckpoint() // truncate lineage across batches
      }.start()
    input.addData((1L, 100L), (2L, 50L)); q.processAllAvailable()
    input.addData((1L, 300L)); q.processAllAvailable()
    input.addData((2L, 10L), (1L, 200L)); q.processAllAvailable()
    q.stop()
    val all = Seq((1L, 100L), (2L, 50L), (1L, 300L), (2L, 10L), (1L, 200L))
      .toDF("k", "cents")
    val oneShot = Relational.aggState(all, keys, "cents")
    assert(state.exceptAll(oneShot).isEmpty && oneShot.exceptAll(state).isEmpty)
  }

  test("streaming topKStream snapshots converge to batch topKPerKey") {
    implicit val sq = spark.sqlContext
    import graft.operators.Relational
    val input = MemoryStream[(Long, Long, Double)]
    val events = input.toDF().toDF("key_id", "entry_id", "score")
    val q = graft.streaming.StreamOps.topKStream(events, k = 2)
      .writeStream.outputMode("update").format("memory")
      .queryName("topk_stream").start()
    val batch1 = Seq((1L, 10L, 5.0), (1L, 11L, 9.0), (2L, 20L, 1.0))
    val batch2 = Seq((1L, 12L, 7.0), (2L, 21L, 1.0), (2L, 22L, 0.5))
    val batch3 = Seq((1L, 13L, 9.0))               // ties 11 on score, loses by id
    input.addData(batch1); q.processAllAvailable()
    input.addData(batch2); q.processAllAvailable()
    input.addData(batch3); q.processAllAvailable()
    q.stop()
    // latest snapshot per key = the row with that key's max n_seen
    val last = spark.table("topk_stream")
      .as[(Long, Long, Seq[Double], Seq[Long])].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    val batchTop = Relational.topKPerKey(
        (batch1 ++ batch2 ++ batch3).toDF("key_id", "entry_id", "score"),
        keys = Seq($"key_id"),
        order = Seq($"score".desc, $"entry_id"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    last.foreach { case (k, (_, _, scores, ids)) =>
      val expect = batchTop(k).sortBy(t => (-t._3, t._2)).toSeq
      assert(ids.toSeq == expect.map(_._2) && scores.toSeq == expect.map(_._3),
        s"key $k: got $ids/$scores, want $expect")
    }
    assert(last(1L)._2 == 4 && last(2L)._2 == 3) // n_seen high-water marks
  }

  test("deltaStateStream: last-wins verdicts survive batch splits, " +
    "out-of-order versions, removes and re-adds") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Boolean, Long)]
    val acts = input.toDF()
      .toDF("table_id", "path", "version", "is_add", "size")
    val q = graft.streaming.StreamOps.deltaStateStream(acts)
      .writeStream.outputMode("update").format("memory")
      .queryName("delta_stream").start()
    // batch 1: adds for a/b; batch 2: remove b + OUT-OF-ORDER stale
    // add for a (v0 after v1 already seen — must not flip anything);
    // batch 3: re-add b at v3
    input.addData(Seq((1L, "a", 1L, true, 100L), (1L, "b", 0L, true, 50L)))
    q.processAllAvailable()
    input.addData(Seq((1L, "b", 2L, false, 0L), (1L, "a", 0L, true, 999L)))
    q.processAllAvailable()
    input.addData(Seq((1L, "b", 3L, true, 70L)))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("delta_stream")
      .as[(Long, String, Long, Long, Boolean, Long)].collect()
      .groupBy(t => (t._1, t._2))
      .map { case (k, rows) => k -> rows.maxBy(_._3) }
    // a: stale v0 add arrived after v1 — verdict stays (v1, 100)
    assert(last((1L, "a")) == ((1L, "a", 2L, 1L, true, 100L)))
    // b: add v0 -> remove v2 -> re-add v3; all three actions counted
    assert(last((1L, "b")) == ((1L, "b", 3L, 3L, true, 70L)))
    // and the standing equals the q254-style relational replay
    import org.apache.spark.sql.expressions.Window
    val all = Seq((1L, "a", 1L, true, 100L), (1L, "b", 0L, true, 50L),
      (1L, "b", 2L, false, 0L), (1L, "a", 0L, true, 999L),
      (1L, "b", 3L, true, 70L))
      .toDF("table_id", "path", "version", "is_add", "size")
    val w = Window.partitionBy($"table_id", $"path")
      .orderBy($"version".desc)
    val replay = all.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"table_id", $"path", $"version", $"is_add",
        when($"is_add", $"size").otherwise(0L).as("size"))
      .as[(Long, String, Long, Boolean, Long)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
    last.foreach { case (k, (_, _, _, ver, active, size)) =>
      assert(replay(k) == ((ver, active, size)), s"parity at $k")
    }
  }

  test("icebergSnapshotStream: sequence-number currency survives " +
    "out-of-order arrival and batch splits; parity with the " +
    "relational max-seq pick") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, Long)]
    val snaps = input.toDF()
      .toDF("table_id", "seq", "live_rows", "live_files")
    val q = graft.streaming.StreamOps.icebergSnapshotStream(snaps)
      .writeStream.outputMode("update").format("memory")
      .queryName("iceberg_stream").start()
    // seq 1 append, then seq 3 (compaction) BEFORE seq 2 — the late
    // older snapshot must bump the count but not flip the standing
    input.addData(Seq((1L, 1L, 100L, 2L), (2L, 1L, 10L, 1L)))
    q.processAllAvailable()
    input.addData(Seq((1L, 3L, 250L, 1L)))
    q.processAllAvailable()
    input.addData(Seq((1L, 2L, 250L, 3L), (2L, 2L, 20L, 2L)))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("iceberg_stream")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
      .map { case (k, rows) => k -> rows.maxBy(_._2) }
    assert(last(1L) == ((1L, 3L, 3L, 250L, 1L)),
      "late seq 2 must not displace seq 3")
    assert(last(2L) == ((2L, 2L, 2L, 20L, 2L)))
    // parity: standing == relational max-seq pick over all summaries
    val all = Seq((1L, 1L, 100L, 2L), (2L, 1L, 10L, 1L),
      (1L, 3L, 250L, 1L), (1L, 2L, 250L, 3L), (2L, 2L, 20L, 2L))
    val pick = all.groupBy(_._1).map { case (k, xs) =>
      k -> xs.maxBy(_._2) }
    last.foreach { case (k, (_, _, seq, rows, files)) =>
      val (_, ps, pr, pf) = pick(k)
      assert((seq, rows, files) == ((ps, pr, pf)), s"parity at $k")
    }
  }

  test("stateless curation/encode operators run unchanged on a stream") {
    // The map-side operator families (quality scoring, PII redaction, PQ
    // encoding) are pure projections, so the SAME Column/DataFrame code
    // serves batch and streaming — pinned here by running them in one
    // micro-batch pipeline and comparing against the batch run.
    implicit val sq = spark.sqlContext
    import graft.operators.{Curation, Similarity, TextAnalysis}
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
      .withColumn("q", TextAnalysis.qualityScore($"text"))
      .withColumn("clean", Curation.redactPii($"text"))
    val q = docs.writeStream.outputMode("append")
      .format("memory").queryName("curation_stream").start()
    val rows = Seq((1L, "contact me me me at a.b@mail.example.com now"),
      (2L, "a varied clean sentence with many distinct tokens"))
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("curation_stream")
      .orderBy("doc_id").as[(Long, String, Double, String)].collect()
    val batch = rows.toDF("doc_id", "text")
      .withColumn("q", TextAnalysis.qualityScore($"text"))
      .withColumn("clean", Curation.redactPii($"text"))
      .orderBy("doc_id").as[(Long, String, Double, String)].collect()
    assert(streamed.sameElements(batch))
    assert(streamed(0)._4.contains("[EMAIL]"))

    // PQ encode streams too (zero-shuffle projection)
    val vin = MemoryStream[(Long, Array[Float])]
    val enc = Similarity.pqEncode(
      vin.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id")
    val q2 = enc.writeStream.outputMode("append")
      .format("memory").queryName("pq_stream").start()
    val vecs = Seq((0L, Array.fill(64)(0.25f)), (1L, Array.fill(64)(-0.5f)))
    vin.addData(vecs: _*)
    q2.processAllAvailable(); q2.stop()
    val streamedPq = spark.table("pq_stream")
      .orderBy("vec_id").as[(Long, Long)].collect()
    val batchPq = Similarity.pqEncode(
        vecs.toDF("vec_id", "embedding"), "embedding", "vec_id")
      .orderBy("vec_id").as[(Long, Long)].collect()
    assert(streamedPq.sameElements(batchPq))
  }

  test("stream-static broadcast enrich (J1 continuous): dim joins per batch") {
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("cust", "segment")
    val input = MemoryStream[(Long, Long, Double)]
    val enriched = input.toDF().toDF("order_id", "cust", "amount")
      .join(broadcast(dim), Seq("cust"), "left")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    input.addData((100L, 1L, 5.0), (101L, 3L, 7.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("enrich_out").orderBy("order_id")
      .select("order_id", "segment").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    // known dim key enriched; unknown key kept with null (left semantics)
    assert(rows.toSeq == Seq((100L, Some("BUILDING")), (101L, None)))
  }

  test("nearDupIngest: cross-batch and within-batch near-dups dropped") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("ndi").toString
    val (store, out, ckpt) = (s"$dir/store", s"$dir/out", s"$dir/ckpt")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamOps.nearDupIngest(
      docs, "text", "doc_id", store, out, ckpt)
    val dup = "the quick brown fox jumps over the lazy dog end"
    // batch 1: one unique doc + an internal dup pair (11 survives, 12 drops)
    input.addData((10L, "completely different words entirely here nothing shared at all ok"),
      (11L, dup), (12L, dup))
    q.processAllAvailable()
    // batch 2: 20 duplicates batch 1's kept doc → dropped by the STORE;
    // 21 is new → kept
    input.addData((20L, dup),
      (21L, "pack my box with five dozen liquor jugs today yes"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(10L, 11L, 21L))
    // the store covers exactly the survivors' band keys
    val storeKeys = spark.read.parquet(store)
      .select("band", "sig").as[(Int, String)].collect().toSet
    val expectKeys = graft.operators.Dedup.lshBandKeys(
        Seq((10L, "completely different words entirely here nothing shared at all ok"),
          (11L, dup), (21L, "pack my box with five dozen liquor jugs today yes"))
          .toDF("doc_id", "text"), $"text", $"doc_id")
      .select("band", "sig").as[(Int, String)].collect().toSet
    assert(storeKeys == expectKeys)

    // REPLAY idempotency: re-executing batch 1 (what a crash-and-replay
    // does — the store already holds batch 1's survivor keys) must emit
    // the SAME survivors, not gate them against their own prior attempt
    // and silently write an empty batch
    graft.streaming.StreamOps.nearDupBatch(
      Seq((20L, dup), (21L, "pack my box with five dozen liquor jugs today yes"))
        .toDF("doc_id", "text"), batchId = 1, "text", "doc_id", store, out)
    val keptAfterReplay = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(keptAfterReplay == Set(10L, 11L, 21L),
      s"replay lost rows: $keptAfterReplay")

    // COMPACTION: fold the per-batch store partitions into one batch=-1
    // partition — same distinct keys, fewer files, later batches still
    // gate against it. The HIGHEST non-negative batch (1) is NEVER
    // folded: if its checkpoint commit didn't land, it will replay, and
    // replay-exclusion needs its keys under their own batch id.
    graft.streaming.StreamOps.compactNearDupStore(spark, store, targetFiles = 2)
    val dirs = new java.io.File(store).list().filter(_.startsWith("batch=")).toSeq.sorted
    assert(dirs == Seq("batch=-1", "batch=1"), s"unexpected store layout: $dirs")
    val compactedKeys = spark.read.parquet(store)
      .select("band", "sig").as[(Int, String)].collect().toSet
    assert(compactedKeys == expectKeys)
    // the ADVICE scenario: REPLAY batch 1 after compaction (crash wrote
    // the store partition but not the checkpoint commit). Because the
    // compactor skipped batch=1, the replay still excludes its own keys
    // and re-emits the identical survivors instead of dropping them all
    graft.streaming.StreamOps.nearDupBatch(
      Seq((20L, dup), (21L, "pack my box with five dozen liquor jugs today yes"))
        .toDF("doc_id", "text"), batchId = 1, "text", "doc_id", store, out)
    val keptPostCompactReplay = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(keptPostCompactReplay == Set(10L, 11L, 21L),
      s"post-compaction replay lost rows: $keptPostCompactReplay")
    // batch 2 (post-compaction): a dup of batch 1's survivor still drops
    graft.streaming.StreamOps.nearDupBatch(
      Seq((30L, dup), (31L, "grumpy wizards make toxic brew for the evil queen now"))
        .toDF("doc_id", "text"), batchId = 2, "text", "doc_id", store, out)
    val keptFinal = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(keptFinal == Set(10L, 11L, 21L, 31L), s"post-compaction gate: $keptFinal")
    // a SECOND compaction picks a fresh sentinel (crash-safe swap never
    // renames onto an existing partition) and folds every partition but
    // the new latest (batch=2)
    graft.streaming.StreamOps.compactNearDupStore(spark, store, targetFiles = 1)
    val dirs2 = new java.io.File(store).list().filter(_.startsWith("batch=")).toSeq.sorted
    assert(dirs2 == Seq("batch=-2", "batch=2"), s"second compaction layout: $dirs2")
    val keys2 = spark.read.parquet(store).select("band", "sig").distinct().count()
    assert(keys2 == spark.read.parquet(store).count(), "compacted store must be distinct")
    // maintenance tick with nothing new: the store is already
    // {sentinel, latest} — the no-op guard must leave it untouched, not
    // rewrite every key into a fresh sentinel on every scheduled call
    graft.streaming.StreamOps.compactNearDupStore(spark, store, targetFiles = 1)
    val dirs3 = new java.io.File(store).list().filter(_.startsWith("batch=")).toSeq.sorted
    assert(dirs3 == Seq("batch=-2", "batch=2"), s"no-op tick rewrote the store: $dirs3")
  }

  test("compactBatchStore interleaving: a batch running in the visible-" +
      "but-not-deleted window gates correctly; its store partition survives") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("ndic").toString
    val (store, out) = (s"$dir/store", s"$dir/out")
    val dup = "the quick brown fox jumps over the lazy dog end"
    graft.streaming.StreamOps.nearDupBatch(
      Seq((1L, dup), (2L, "completely different words entirely here nothing shared at all ok"))
        .toDF("doc_id", "text"), batchId = 0, "text", "doc_id", store, out)
    graft.streaming.StreamOps.nearDupBatch(
      Seq((3L, "pack my box with five dozen liquor jugs today yes"))
        .toDF("doc_id", "text"), batchId = 1, "text", "doc_id", store, out)
    // run batch 2 INSIDE the compaction's crash window (sentinel renamed
    // in, superseded partitions not yet deleted): the store is a
    // duplicated SUPERSET at that instant — a membership gate must still
    // drop dups and keep novel docs, and the batch's own store partition
    // (written mid-compaction, after the fold listing) must survive
    graft.streaming.StreamOps.compactBatchStore(spark, store,
      dedupeCols = Seq("band", "sig"), clusterCols = Seq("band", "sig"),
      targetFiles = 1, onBeforeDelete = () => {
        graft.streaming.StreamOps.nearDupBatch(
          Seq((4L, dup), (5L, "grumpy wizards make toxic brew for the evil queen now"))
            .toDF("doc_id", "text"), batchId = 2, "text", "doc_id", store, out)
      })
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 5L), s"mid-compaction gate: $kept")
    // post-compaction layout: sentinel + latest-at-listing-time (batch=1)
    // + the mid-flight batch=2 — nothing lost, store still gates
    val dirs = new java.io.File(store).list().filter(_.startsWith("batch=")).toSeq.sorted
    assert(dirs == Seq("batch=-1", "batch=1", "batch=2"), s"layout: $dirs")
    graft.streaming.StreamOps.nearDupBatch(
      Seq((6L, dup)).toDF("doc_id", "text"),
      batchId = 3, "text", "doc_id", store, out)
    val kept2 = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(kept2 == kept, s"post-compaction dup leaked: $kept2")
  }

  test("nearDupIngest restart: a new query on the same checkpoint resumes, no rework") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("ndir").toString
    val (store, out, ckpt) = (s"$dir/store", s"$dir/out", s"$dir/ckpt")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val dup = "the quick brown fox jumps over the lazy dog end"
    val q1 = graft.streaming.StreamOps.nearDupIngest(
      docs, "text", "doc_id", store, out, ckpt)
    input.addData((1L, dup),
      (2L, "completely different words entirely here nothing shared at all ok"))
    q1.processAllAvailable()
    q1.stop() // simulated crash/redeploy — offsets + batch ids live in ckpt
    val batch0 = spark.read.parquet(s"$out/batch=0").select("doc_id")
      .as[Long].collect().toSet
    assert(batch0 == Set(1L, 2L))
    // second incarnation, SAME checkpoint: picks up at batch 1, gates
    // against batch 0's store, and must not rewrite batch 0's output
    val q2 = graft.streaming.StreamOps.nearDupIngest(
      docs, "text", "doc_id", store, out, ckpt)
    input.addData((10L, dup), // near-dup of stored survivor 1 → drops
      (11L, "pack my box with five dozen liquor jugs today yes"))
    q2.processAllAvailable()
    q2.stop()
    val all = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 11L), s"post-restart output: $all")
    // batch directories: exactly the two real micro-batches
    val dirs = new java.io.File(out).list().filter(_.startsWith("batch="))
    assert(dirs.toSet == Set("batch=0", "batch=1"), dirs.mkString(","))
  }

  test("kmeansIterStream: incremental epoch ≡ batch Lloyd's iteration, replay-proof") {
    import graft.operators.Similarity
    val dir = Files.createTempDirectory("kmstream").toString
    val e = Engine.table(spark, sf(), "embeddings")
    val seeds = Similarity.kmeans(e, "embedding", "vec_id", k = 8, iters = 0)
    val oneIter = Similarity.kmeans(e, "embedding", "vec_id", k = 8, iters = 1)
    // the same corpus streamed in 3 arbitrary micro-batches, folded at
    // finish — exact integer partials make the fold associative, so the
    // incremental epoch must equal the batch iteration bit-for-bit
    for (i <- 0 until 3)
      graft.streaming.StreamOps.kmeansIterBatch(
        e.filter(col("vec_id") % 3 === i), i, "embedding", "vec_id",
        seeds, s"$dir/state")
    val streamed = graft.streaming.StreamOps.finishKmeansStream(
      spark, s"$dir/state", seeds)
    assert(streamed.exceptAll(oneIter).isEmpty &&
      oneIter.exceptAll(streamed).isEmpty)
    // replaying a batch overwrites its own partition — fold unchanged
    graft.streaming.StreamOps.kmeansIterBatch(
      e.filter(col("vec_id") % 3 === 1), 1, "embedding", "vec_id",
      seeds, s"$dir/state")
    val replayed = graft.streaming.StreamOps.finishKmeansStream(
      spark, s"$dir/state", seeds)
    assert(replayed.exceptAll(oneIter).isEmpty &&
      oneIter.exceptAll(replayed).isEmpty)
  }

  test("cmsIngest: stream fold ≡ batch sketch; replay-proof; " +
      "exactly-once manifest compaction across generations") {
    import graft.operators.TextAnalysis
    import graft.streaming.StreamOps
    val dir = Files.createTempDirectory("cmsstream").toString
    val state = s"$dir/state"
    val d = Engine.table(spark, sf(), "documents")
    def direct(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split($"text", " ")).as("term"))
      .select(explode(TextAnalysis.cmsSlots($"term", 1024, 4)).as("p"))
      .groupBy($"p.d".as("d"), $"p.slot".as("slot"))
      .agg(count(lit(1)).as("c"))
    val expected = direct(d).localCheckpoint()
    def assertFold(want: org.apache.spark.sql.DataFrame): Unit = {
      val got = StreamOps.finishCmsStream(spark, state)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
    // the corpus in 4 arbitrary micro-batches folds to the batch sketch
    for (i <- 0 until 4)
      StreamOps.cmsBatch(d.filter($"doc_id" % 4 === i), i, "text", state)
    assertFold(expected)
    // a replay overwrites its own partition — fold unchanged
    StreamOps.cmsBatch(d.filter($"doc_id" % 4 === 2), 2, "text", state)
    assertFold(expected)
    // compaction folds batches 0-2 (3 is latest, never folded); the
    // manifest makes the crash window (sentinel visible, superseded
    // dirs not yet deleted) read exactly once
    StreamOps.compactCmsStore(spark, state,
      onBeforeDelete = () => assertFold(expected))
    assertFold(expected)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(state, "batch=3")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(state, "batch=-1")))
    // second generation: the same quarter arrives AGAIN as batch 4 (a
    // sketch counts repeats — expected sketch grows), then compaction
    // folds sentinel -1 + batch 3 into sentinel -2; transitive
    // manifests keep the fold exact in the crash window even with two
    // sentinel generations visible
    val again = d.filter($"doc_id" % 4 === 1)
    StreamOps.cmsBatch(again, 4, "text", state)
    val expected2 = direct(d.unionByName(again)).localCheckpoint()
    assertFold(expected2)
    StreamOps.compactCmsStore(spark, state,
      onBeforeDelete = () => assertFold(expected2))
    assertFold(expected2)
    assert(fs.exists(new org.apache.hadoop.fs.Path(state, "batch=-2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state, "batch=-1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(state, "batch=4")))
    // third generation: crash DURING garbage collection — batch 5
    // lands, compaction publishes sentinel -3 (manifest: -2, 4) and
    // dies before its trailing deletes. The superseded dirs sit on
    // disk excluded-by-manifest; the NEXT maintenance run must finish
    // the interrupted GC (else they pay listing cost forever) while
    // the fold stays exact throughout
    StreamOps.cmsBatch(again, 5, "text", state)
    val expected3 =
      direct(d.unionByName(again).unionByName(again)).localCheckpoint()
    val boom = intercept[RuntimeException] {
      StreamOps.compactCmsStore(spark, state,
        onBeforeDelete = () => throw new RuntimeException("crash before GC"))
    }
    assert(boom.getMessage == "crash before GC")
    assert(fs.exists(new org.apache.hadoop.fs.Path(state, "batch=-3")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(state, "batch=-2")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(state, "batch=4")))
    assertFold(expected3)
    StreamOps.compactCmsStore(spark, state) // nothing new to fold — GC only
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state, "batch=-2")),
      "interrupted GC never finished: stale sentinel survives")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state, "batch=4")),
      "interrupted GC never finished: stale batch survives")
    assertFold(expected3)
  }

  test("bloomIngest: stream fold ≡ batch filter bit-for-bit; replay-proof; " +
      "OR-fold compaction") {
    import graft.operators.Curation
    import graft.streaming.StreamOps
    val dir = Files.createTempDirectory("bloomstream").toString
    val state = s"$dir/state"
    val ev = Engine.table(spark, sf(), "documents").filter($"doc_id" % 8 === 0)
    // the batch construction the law compares against: the filter
    // bloomDecontaminate would build from the SAME eval set at rest
    val expected = Curation.assembleBloom(
      Curation.bloomWords(
        Curation.gramTable(ev, $"text", $"doc_id", 3)
          .select($"gram").distinct(), 65536, 3), 65536)
      .collect()(0).getSeq[Long](0)
    def fold(): Seq[Long] = StreamOps.finishBloomStream(spark, state)
      .collect()(0).getSeq[Long](0)
    // the eval set in 3 arbitrary micro-batches folds to the batch filter
    for (i <- 0 until 3)
      StreamOps.bloomBatch(ev.filter($"doc_id" % 3 === i), i,
        "text", "doc_id", state)
    assert(fold() == expected)
    // a replay overwrites its own partition; re-ORing is a no-op
    StreamOps.bloomBatch(ev.filter($"doc_id" % 3 === 1), 1,
      "text", "doc_id", state)
    assert(fold() == expected)
    // compaction OR-folds batches 0-1 into sentinel -1 (2 stays, the
    // latest-real-batch replay discipline); the visible-but-not-yet-
    // deleted crash window double-reads words — harmless under OR
    StreamOps.compactBloomStore(spark, state,
      onBeforeDelete = () => assert(fold() == expected))
    assert(fold() == expected)
    val dirs = new java.io.File(state).list()
      .filter(_.startsWith("batch=")).toSeq.sorted
    assert(dirs == Seq("batch=-1", "batch=2"), s"layout: $dirs")
    // the sentinel is word-folded, not a row union: ≤ mBits/64 rows
    assert(spark.read.parquet(s"$state/batch=-1").count() <= 1024)
    // maintenance tick with nothing new: store untouched
    StreamOps.compactBloomStore(spark, state)
    val dirs2 = new java.io.File(state).list()
      .filter(_.startsWith("batch=")).toSeq.sorted
    assert(dirs2 == Seq("batch=-1", "batch=2"), s"no-op tick rewrote: $dirs2")
    // END-TO-END: screening the train corpus with the STREAMED filter
    // equals the all-at-rest batch operator's sketch columns — the
    // production path (eval grams never retained) really is the same
    // decision function
    val train = Engine.table(spark, sf(), "documents")
      .filter($"doc_id" % 8 =!= 0)
    val screened = Curation.bloomScreen(train,
      StreamOps.finishBloomStream(spark, state), $"text", $"doc_id")
    val batch = Curation.bloomDecontaminate(train,
        Engine.table(spark, sf(), "documents").filter($"doc_id" % 8 === 0),
        $"text", $"doc_id")
      .select($"doc_id", $"n_bloom_hits", $"flagged")
    assert(screened.exceptAll(batch).isEmpty &&
      batch.exceptAll(screened).isEmpty)
  }

  test("curationIngest: gopher gate + bloom screen + near-dup gate per " +
      "batch; survivors globally near-dup-free; replay-idempotent") {
    import graft.operators.{Curation, Dedup}
    import graft.streaming.StreamOps
    val dir = Files.createTempDirectory("curing").toString
    val (store, out) = (s"$dir/store", s"$dir/out")
    val d = Engine.table(spark, sf(), "documents")
    val eval = d.filter($"doc_id" % 8 === 0)
    val filterRow = Curation.assembleBloom(Curation.bloomWords(
      Curation.gramTable(eval, $"text", $"doc_id", 3)
        .select($"gram").distinct(), 65536, 3), 65536).localCheckpoint()
    val stream = d.filter($"doc_id" % 8 =!= 0)
    for (i <- 0 until 3)
      StreamOps.curationBatch(stream.filter($"doc_id" % 3 === i), i,
        "text", "doc_id", filterRow, store, out)
    val survivors = spark.read.parquet(out).localCheckpoint()
    assert(survivors.count() > 0, "gate dropped everything")
    // every survivor passes the rule battery...
    assert(survivors.where(
      !Curation.gopherRules($"text").getField("pass")).count() == 0)
    // ...and none is flagged by the BATCH decontamination operator
    val flaggedBatch = Curation.bloomDecontaminate(
        survivors, eval, $"text", $"doc_id")
      .where($"flagged" === 1)
    assert(flaggedBatch.count() == 0, "contaminated doc survived")
    // the union of survivors across ALL batches has no LSH collisions:
    // within-batch pairs dropped, cross-batch pairs gated by the store
    assert(Dedup.minHashLshPairs(survivors, $"text", $"doc_id",
      16, 4, 3).count() == 0, "near-dup pair survived across batches")
    // replay of batch 1 overwrites its own partitions — output unchanged
    val before = survivors.orderBy("doc_id").collect().toSeq
    StreamOps.curationBatch(stream.filter($"doc_id" % 3 === 1), 1,
      "text", "doc_id", filterRow, store, out)
    val after = spark.read.parquet(out).orderBy("doc_id").collect().toSeq
    assert(before == after, "replay changed the survivor set")
  }

  test("embNearDupIngest: cosine gate across batches, replay-idempotent") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("endi").toString
    val (store, out, ckpt) = (s"$dir/store", s"$dir/out", s"$dir/ckpt")
    val input = MemoryStream[(Long, Seq[Float])]
    val vecs = input.toDF().toDF("vec_id", "embedding")
    val q = graft.streaming.StreamOps.embNearDupIngest(
      vecs, "embedding", "vec_id", store, out, ckpt,
      tau = 0.99, nPlanes = 4, dims = 4)
    // batch 0: 1 and 3 are near-identical (3 drops within batch); 2 is
    // orthogonal and survives
    input.addData((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(1f, 0.01f, 0f, 0f)))
    q.processAllAvailable()
    // batch 1: 10 duplicates stored survivor 1 → dropped by the STORE;
    // 11 is a new direction → kept
    input.addData((10L, Seq(1f, 0.005f, 0f, 0f)), (11L, Seq(0f, 0f, 1f, 0f)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(out).select("vec_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 11L), s"kept: $kept")
    // replaying batch 1 (store already holds its survivors) re-emits the
    // identical survivor set — the store read excludes the batch's own
    // partition
    graft.streaming.StreamOps.embNearDupBatch(
      Seq((10L, Seq(1f, 0.005f, 0f, 0f)), (11L, Seq(0f, 0f, 1f, 0f)))
        .toDF("vec_id", "embedding"),
      batchId = 1, "embedding", "vec_id", store, out,
      tau = 0.99, nPlanes = 4, dims = 4)
    val keptReplay = spark.read.parquet(out).select("vec_id")
      .as[Long].collect().toSet
    assert(keptReplay == Set(1L, 2L, 11L), s"replay lost rows: $keptReplay")

    // COMPACTION (vector-store twin of the band-key compactor): fold all
    // but the latest batch into the batch=-1 sentinel — distinct
    // (bucket, vector) union preserved, replay of the skipped latest
    // still idempotent, and the gate still drops dups afterwards
    graft.streaming.StreamOps.compactEmbNearDupStore(spark, store, targetFiles = 1)
    val dirs = new java.io.File(store).list().filter(_.startsWith("batch=")).toSeq.sorted
    assert(dirs == Seq("batch=-1", "batch=1"), s"store layout: $dirs")
    assert(spark.read.parquet(store).select("__bucket", "__sv").distinct().count()
      == spark.read.parquet(store).count(), "compacted store must be distinct")
    graft.streaming.StreamOps.embNearDupBatch(
      Seq((10L, Seq(1f, 0.005f, 0f, 0f)), (11L, Seq(0f, 0f, 1f, 0f)))
        .toDF("vec_id", "embedding"),
      batchId = 1, "embedding", "vec_id", store, out,
      tau = 0.99, nPlanes = 4, dims = 4)
    assert(spark.read.parquet(out).select("vec_id").as[Long].collect().toSet
      == Set(1L, 2L, 11L), "post-compaction replay lost rows")
    // batch 2: dup of survivor 2 drops against the sentinel; new
    // direction survives
    graft.streaming.StreamOps.embNearDupBatch(
      Seq((20L, Seq(0f, 1f, 0.01f, 0f)), (21L, Seq(0f, 0f, 0f, 1f)))
        .toDF("vec_id", "embedding"),
      batchId = 2, "embedding", "vec_id", store, out,
      tau = 0.99, nPlanes = 4, dims = 4)
    val keptFinal = spark.read.parquet(out).select("vec_id")
      .as[Long].collect().toSet
    assert(keptFinal == Set(1L, 2L, 11L, 21L), s"post-compaction gate: $keptFinal")
    // repeated compaction: fresh sentinel, latest (batch=2) skipped
    graft.streaming.StreamOps.compactEmbNearDupStore(spark, store, targetFiles = 1)
    val dirs2 = new java.io.File(store).list().filter(_.startsWith("batch=")).toSeq.sorted
    assert(dirs2 == Seq("batch=-2", "batch=2"), s"second compaction layout: $dirs2")
  }

  test("substrDupIngest: passage-coverage gate across and within batches, replay-idempotent") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("ssd").toString
    val (store, out, ckpt) = (s"$dir/store", s"$dir/out", s"$dir/ckpt")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // w=3, tau=50%: drop a doc when half its distinct 3-token windows
    // were already seen
    val q = graft.streaming.StreamOps.substrDupIngest(
      docs, "text", "doc_id", store, out, ckpt, w = 3, tauPermille = 500)
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    // batch 1: 30 unique; 31 repeats 30's text verbatim but has a LARGER
    // id → within-batch gate drops 31
    input.addData((30L, base), (31L, base))
    q.processAllAvailable()
    // batch 2: 40 copies a long passage of the stored doc (coverage >=
    // 50%) → dropped by HISTORY; 41 shares only a short passage
    // (< 50% of its windows) → kept; 42 is fresh → kept
    input.addData(
      (40L, "alpha beta gamma delta epsilon zeta nu xi"),
      (41L, "alpha beta gamma completely different tokens one two three four"),
      (42L, "pack my box with five dozen liquor jugs"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(30L, 41L, 42L), s"got $kept")
    // store = distinct window hashes of the survivors exactly
    val storeHashes = spark.read.parquet(store)
      .select("gh").as[Long].collect().toSet
    val expect = graft.operators.Dedup.substringWindowsComposed(
        Seq((30L, base),
          (41L, "alpha beta gamma completely different tokens one two three four"),
          (42L, "pack my box with five dozen liquor jugs"))
          .toDF("doc_id", "text"), $"text", $"doc_id", w = 3)
      .select("gh").as[Long].collect().toSet
    assert(storeHashes == expect)
    // replay of batch 1 (store already holds its hashes) must keep 30
    graft.streaming.StreamOps.substrDupBatch(
      Seq((30L, base), (31L, base)).toDF("doc_id", "text"),
      batchId = 0, "text", "doc_id", store, out, w = 3, tauPermille = 500)
    val keptReplay = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(keptReplay == Set(30L, 41L, 42L), s"replay lost rows: $keptReplay")
    // compaction folds all but the newest batch partition; the gate
    // still drops a re-sent near-copy afterwards
    graft.streaming.StreamOps.compactSubstrStore(spark, store)
    graft.streaming.StreamOps.substrDupBatch(
      Seq((50L, "alpha beta gamma delta epsilon zeta nu xi"))
        .toDF("doc_id", "text"),
      batchId = 2, "text", "doc_id", store, out, w = 3, tauPermille = 500)
    val keptPost = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(keptPost == Set(30L, 41L, 42L), s"post-compaction gate leaked: $keptPost")
  }

  test("FileDrop live mode: ProcessingTime trigger picks up files arriving mid-stream") {
    val base = Files.createTempDirectory("filedroplive").toFile.getAbsolutePath
    val in = s"$base/in"; val done = s"$base/done"; val bad = s"$base/bad"
    new java.io.File(in).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$in/first.json"), """{"k": 1}""")
    val cfg = FileDrop.Config(
      inputDir = in, format = "json",
      schema = StructType(Seq(StructField("k", LongType))),
      processedDir = done, errorsDir = bad,
      checkpointDir = s"$base/ckpt", pathGlob = "*.json")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val live = FileDrop.runLive(spark, cfg) { (batch, _, _) =>
      batch.select(col("k")).as[Long].collect().foreach(seen.add)
    }
    def awaitProcessed(n: Long): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (live.processed.get() < n && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(live.processed.get() >= n,
        s"timed out waiting for $n files, got ${live.processed.get()}")
    }
    awaitProcessed(1)
    // two files DROPPED WHILE THE QUERY RUNS — the live trigger must
    // discover them without a restart (the drained-and-exit AvailableNow
    // mode never would)
    Files.writeString(java.nio.file.Paths.get(s"$in/second.json"), """{"k": 2}""")
    Files.writeString(java.nio.file.Paths.get(s"$in/third.json"), """{"k": 3}""")
    awaitProcessed(3)
    live.query.stop()
    assert(seen.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(new java.io.File(done).list().sorted.toSeq ==
      Seq("first.json", "second.json", "third.json"))
    assert(live.errored.get() == 0)
  }

  test("packStream: capacity, cross-batch bin continuation, single emit") {
    implicit val sq = spark.sqlContext
    val C = 100L
    val input = MemoryStream[(Long, Long)]
    val docs = input.toDF().toDF("doc_id", "n_tok")
    val q = graft.streaming.StreamOps.packStream(docs, C, bucketCount = 1)
      .writeStream.outputMode("append").format("memory")
      .queryName("pack_out").start()
    // batch 1: 60 + 30 fill bin 0 to 90
    input.addData((1L, 60L), (2L, 30L))
    q.processAllAvailable()
    // batch 2: 5 tops up bin 0 (95); 40 overflows -> bin 1; 130
    // truncates to C and overflows -> bin 2
    input.addData((3L, 5L), (4L, 40L), (5L, 130L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("pack_out")
      .select("bucket", "bin", "doc_id", "n_tok")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3).toSeq
    // every doc emitted exactly once
    assert(rows.map(_._3) == Seq(1L, 2L, 3L, 4L, 5L))
    // within each batch the walk is doc_id order; bins continue across
    // batches: doc 3 lands in batch 1's partial bin
    val binOf = rows.map(r => r._3 -> r._2).toMap
    assert(binOf(1L) == 0L && binOf(2L) == 0L, s"batch-1 fill: $rows")
    assert(binOf(3L) == 0L, s"cross-batch top-up lost: $rows")
    assert(binOf(4L) == 1L && binOf(5L) == 2L, s"overflow walk: $rows")
    // truncation and capacity
    assert(rows.find(_._3 == 5L).get._4 == C)
    rows.groupBy(r => (r._1, r._2)).foreach { case (bin, rs) =>
      assert(rs.map(_._4).sum <= C, s"bin $bin overfilled") }
  }
}
