package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.{Event, UserRunning}

/** [EXT] Structured Streaming: batch-equivalence of the window transforms and
  * a real MemoryStream run of the stateful path proving state EVICTION past
  * the watermark (the round-1 unbounded-state bug). */
class StreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  /** events.parquet fixture read, robust to both fixture generations:
    * TIMESTAMP(NANOS) (arrives as Long nanos under nanosAsLong=true) and
    * TIMESTAMP(MICROS) (arrives as a timestamp; NTZ→LTZ cast is a no-op
    * under the UTC session timeZone). Mirrors SparkEntry.rdEvents. */
  private def readEventsFixture(path: String) = {
    val raw = spark.read.parquet(path)
    (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }).select("event_id", "ts", "user_id", "event_type", "value")
  }

  private def events = {
    import spark.implicits._
    Seq(
      (1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0),
      (2L, ts("2024-01-01 10:20:00"), 7L, "click", 2.0),
      (3L, ts("2024-01-01 11:10:00"), 7L, "view", 4.0),  // >30min gap: new session
      (4L, ts("2024-01-01 10:15:00"), 8L, "click", 8.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("tumbling window batch aggregation") {
    val out = Streams.tumblingAgg(events, "1 hour")
      .orderBy("win_start", "event_type").collect()
    // 10:00 window: click n=2 sum=3.0 (u7) + u8 click 8.0 → click n=3 sum=11.0
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n") == 3L)
    assert(out(0).getAs[Double]("sum_value") == 11.0)
    assert(out(1).getAs[String]("event_type") == "view")
  }

  test("session windows: 30-minute gap splits sessions") {
    val out = Streams.sessionAgg(events, "30 minutes")
      .orderBy("user_id", "sess_start").collect()
    // u7: (10:05,10:20) one session, 11:10 a second; u8: one session
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n_events") == 2L)
    assert(out(1).getAs[Long]("n_events") == 1L)
  }

  test("streamingDedupConsecutive: in-batch sort, cross-batch run carry, TTL restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Streams.streamingDedupConsecutive(
      mem.toDS().withWatermark("ts", "10 minutes"), idleTTL = "1 hour")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_consec").start()
    try {
      // batch 1 arrives OUT of order: (ts,id) sort must reconstruct
      // a@10:00, a@10:01, b@10:02 → keep 1 and 3
      mem.addData(
        Event(2L, ts("2024-01-01 10:01:00"), 7L, "a", 0.0),
        Event(1L, ts("2024-01-01 10:00:00"), 7L, "a", 0.0),
        Event(3L, ts("2024-01-01 10:02:00"), 7L, "b", 0.0))
      q.processAllAvailable()
      // batch 2: the run CARRIES across batches — another b is dropped,
      // a type change is kept
      mem.addData(
        Event(4L, ts("2024-01-01 10:03:00"), 7L, "b", 0.0),
        Event(5L, ts("2024-01-01 10:04:00"), 7L, "a", 0.0))
      q.processAllAvailable()
      // batch 3: push the watermark past user 7's TTL via another user
      mem.addData(Event(6L, ts("2024-01-01 14:00:00"), 8L, "a", 0.0))
      q.processAllAvailable()
      // batch 4: user 7 returns with the SAME type as its last run —
      // state was evicted, so this starts a new run and is KEPT
      mem.addData(Event(7L, ts("2024-01-01 14:05:00"), 7L, "a", 0.0))
      q.processAllAvailable()
      val kept = spark.table("dedup_consec").as[Event].collect()
        .map(_.event_id).toSet
      assert(kept == Set(1L, 3L, 5L, 6L, 7L), s"got $kept")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS dedup_consec")
    }
  }

  test("runningUserTotals on a real stream evicts state past the watermark TTL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val totals = Streams.runningUserTotals(
      mem.toDS().withWatermark("ts", "10 minutes"), idleTTL = "1 hour")
    val q = totals.writeStream.outputMode("append")
      .format("memory").queryName("running_totals").start()
    try {
      // batch 1: user 7 accumulates twice
      mem.addData(Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(2L, ts("2024-01-01 10:05:00"), 7L, "click", 2.0))
      q.processAllAvailable()
      // batch 2: another user far in the future pushes the watermark past
      // user 7's TTL (10:05 + 1h) → user 7's state must be evicted
      mem.addData(Event(3L, ts("2024-01-01 14:00:00"), 8L, "view", 5.0))
      q.processAllAvailable()
      // batch 3: user 7 returns — totals must have RESTARTED from zero
      mem.addData(Event(4L, ts("2024-01-01 14:05:00"), 7L, "click", 10.0))
      q.processAllAvailable()
      val rows = spark.table("running_totals").as[UserRunning].collect()
      val u7 = rows.filter(_.user_id == 7L)
      assert(u7.map(r => (r.n_events, r.total_value)).toSet ==
        Set((1L, 1.0), (2L, 3.0), (1L, 10.0)),
        s"got ${u7.mkString(", ")}")
      // the key assertion: the last u7 update has n_events == 1, not 3 —
      // state was dropped, not carried across the TTL
      assert(u7.exists(r => r.n_events == 1L && r.total_value == 10.0))
      assert(!u7.exists(_.n_events == 3L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS running_totals")
    }
  }

  test("late data beyond the watermark is dropped from finalized windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val agg = Streams.tumblingAgg(mem.toDS().toDF(), "1 hour",
      watermark = "10 minutes", streaming = true)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_test").start()
    try {
      mem.addData(Event(1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0))
      q.processAllAvailable()
      // advance watermark to 12:20 → the 10:00-11:00 window finalizes (n=1)
      mem.addData(Event(2L, ts("2024-01-01 12:30:00"), 7L, "click", 2.0))
      q.processAllAvailable()
      // LATE: 10:30 is hours behind the watermark — must be dropped
      mem.addData(Event(3L, ts("2024-01-01 10:30:00"), 7L, "click", 99.0))
      q.processAllAvailable()
      // advance again so any (incorrect) re-emission would have flushed
      mem.addData(Event(4L, ts("2024-01-01 15:00:00"), 7L, "view", 0.5))
      q.processAllAvailable()
      val rows = spark.table("late_test")
        .select("win_start", "n", "sum_value").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
      val win10 = rows.filter(_._1.startsWith("2024-01-01 10:"))
      assert(win10.toSeq == Seq(("2024-01-01 10:00:00.0", 1L, 1.0)),
        s"late event leaked into a finalized window: ${rows.mkString(", ")}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS late_test")
    }
  }

  test("streamingDedup drops in-watermark duplicates, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val deduped = Streams.streamingDedup(mem.toDF(), Seq("event_id"), "ts",
      delay = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try {
      mem.addData(
        Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
        Event(1L, ts("2024-01-01 10:00:01"), 7L, "click", 1.0), // dup in batch
        Event(2L, ts("2024-01-01 10:01:00"), 7L, "view", 2.0))
      q.processAllAvailable()
      mem.addData( // dup across batches, still within the watermark horizon
        Event(2L, ts("2024-01-01 10:02:00"), 7L, "view", 2.0),
        Event(3L, ts("2024-01-01 10:03:00"), 8L, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream")
        .select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.mkString(",")}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS dedup_stream")
    }
  }

  test("streamingSimhashDedup drops same-signature near-copies at ingest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val deduped = Streams.streamingSimhashDedup(docs, "text", "ts",
      delay = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("simhash_stream").start()
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog", ts("2024-01-01 10:00:00")),
        // same token SET (same simhash) — punctuation/case normalize away
        (2L, "The quick brown fox jumps over the lazy dog!!", ts("2024-01-01 10:00:05")),
        (3L, "completely different text about spark engines", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      mem.addData( // cross-batch near-copy within the watermark horizon
        (4L, "the QUICK brown fox jumps over the lazy dog", ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      val ids = spark.table("simhash_stream")
        .select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 3L), s"got ${ids.mkString(",")}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS simhash_stream")
    }
  }

  test("streamingDedupAgainstStore drops stored content AND in-stream repeats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the kept corpus's fingerprint store (normalized-content md5s)
    graft.operators.Dedup.writeFingerprintStore(
      Seq((100L, "already kept document text")).toDF("doc_id", "text"),
      "text", "graft_fp_stream", nBuckets = 2)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = Streams.streamingDedupAgainstStore(
      mem.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
      "graft_fp_stream", delay = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("store_dedup_stream").start()
    try {
      mem.addData(
        (1L, "fresh arrival one", ts("2024-01-01 10:00:00")),
        // normalized-equal to the STORED doc → dropped by the static join
        (2L, "Already KEPT document text!!", ts("2024-01-01 10:00:05")),
        (3L, "fresh arrival two", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      mem.addData( // cross-batch in-STREAM repeat within the watermark
        (4L, "Fresh arrival ONE.", ts("2024-01-01 10:02:00")),
        (5L, "fresh arrival three", ts("2024-01-01 10:03:00")))
      q.processAllAvailable()
      // MID-STREAM store append (same session — the batch compaction
      // publishing survivors): the static side is re-planned per
      // micro-batch, so the next trigger must see the new fingerprints
      graft.sources.Sources.writeBucketed(
        Seq((200L, "late compacted document")).toDF("doc_id", "text")
          .select(graft.operators.TextAnalysis.fingerprint(col("text")).as("fp")),
        "graft_fp_stream_fps", "fp", 2,
        org.apache.spark.sql.SaveMode.Append)
      mem.addData(
        (6L, "LATE compacted document!", ts("2024-01-01 10:04:00")), // now stored
        (7L, "fresh arrival four", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val ids = spark.table("store_dedup_stream")
        .select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 3L, 5L, 7L), s"got ${ids.mkString(",")}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS store_dedup_stream")
      spark.sql("DROP TABLE IF EXISTS graft_fp_stream_fps")
    }
  }

  test("curatedIngest chains with store dedup in ONE streaming query (two stateful ops)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val model = TextAnalysis.syntheticQualityModel()
    def good(word: String) =
      (s"the $word and the other $word is in the house of $word " * 3).trim
    // the kept corpus already holds good("kept") — its stream twin must drop
    graft.operators.Dedup.writeFingerprintStore(
      Seq((100L, good("kept"))).toDF("doc_id", "text"),
      "text", "graft_fp_chain", nBuckets = 2)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    // ONE query: gates + learned filter + in-watermark simhash dedup
    // (curatedIngest) chained into the stream-static store anti-join +
    // in-watermark fp dedup (streamingDedupAgainstStore) — two stateful
    // dedup operators in a single streaming plan
    val chained = Streams.streamingDedupAgainstStore(
      Streams.curatedIngest(mem.toDF().toDF("doc_id", "text", "ts"),
        "text", "ts", model, keepLogit = -1.0),
      "text", "ts", "graft_fp_chain", delay = "10 minutes")
    val q = chained.writeStream.outputMode("append")
      .format("memory").queryName("chain_stream").start()
    try {
      mem.addData(
        (1L, good("fresh"), ts("2024-01-01 10:00:00")),   // survives both
        (2L, good("kept"), ts("2024-01-01 10:00:30")),    // in the STORE → dropped
        (3L, "zzz qqq", ts("2024-01-01 10:01:00")),       // fails the gates
        (4L, good("fresh").toUpperCase, ts("2024-01-01 10:01:30"))) // in-stream near-copy
      q.processAllAvailable()
      val ids = spark.table("chain_stream")
        .select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L), s"got ${ids.mkString(",")}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS chain_stream")
      spark.sql("DROP TABLE IF EXISTS graft_fp_chain_fps")
    }
  }

  test("curatedIngest: gates + learned filter + content dedup at ingest, logit ≡ batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val model = TextAnalysis.syntheticQualityModel()
    // good docs: en-marked, >100 chars, stopword-rich, no punct flood
    def good(word: String) =
      (s"the $word and the other $word is in the house of $word " * 3).trim
    val rows = Seq(
      (1L, good("cat"), ts("2024-01-01 10:00:00")),
      (2L, good("cat").toUpperCase, ts("2024-01-01 10:00:30")), // near-copy: same tokens
      (3L, good("engine"), ts("2024-01-01 10:01:00")),
      (4L, "zzz qqq", ts("2024-01-01 10:01:30")))               // fails the gates
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = Streams.curatedIngest(docs, "text", "ts", model,
        keepLogit = -1.0) // every real doc passes the model at -1.0
      .writeStream.outputMode("append").format("memory")
      .queryName("ingest_stream").start()
    try {
      mem.addData(rows: _*); q.processAllAvailable()
      val ids = spark.table("ingest_stream").select("doc_id").as[Long]
        .collect().sorted
      assert(ids.toSeq == Seq(1L, 3L), s"got ${ids.mkString(",")}")
    } finally {
      q.stop(); spark.sql("DROP TABLE IF EXISTS ingest_stream")
    }
    // the inlined row-local logit must equal hashedQualityScore's (same
    // weights, same micros math) — the stream gate IS the batch gate
    val batchDocs = rows.toDF("doc_id", "text", "ts")
    val batchLogits = TextAnalysis.hashedQualityScore(batchDocs, "doc_id",
        "text", model)
      .select("doc_id", "logit").as[(Long, Double)].collect().toMap
    val streamLogits = {
      // the IDENTICAL row-local formulation curatedIngest inlines (HOF
      // aggregate over the token array — no explode, no groupBy)
      val toks = TextAnalysis.tokens(TextAnalysis.normalized(col("text")))
      val nb = model.length
      val wLit = array(model.map(lit): _*)
      def bucket(t: org.apache.spark.sql.Column) =
        pmod(conv(substring(md5(to_binary(t, lit("utf-8"))), 1, 8), 16, 10)
          .cast("long"), lit(1L << 31)) % nb
      val sumMicros = aggregate(toks, lit(0L),
        (acc, t) => acc + element_at(wLit, (bucket(t) + lit(1)).cast("int")))
      batchDocs.select(col("doc_id"),
          (round(sumMicros.cast("double") / size(toks)).cast("long") / lit(1e6))
            .as("logit"))
        .as[(Long, Double)].collect().toMap
    }
    assert(streamLogits == batchLogits)
    // a keepLogit above the attainable range (mean of ±1.0-micro weights)
    // drops everything — the calibration knob is live in streaming
    val mem2 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q2 = Streams.curatedIngest(mem2.toDF().toDF("doc_id", "text", "ts"),
        "text", "ts", model, keepLogit = 1.1)
      .writeStream.outputMode("append").format("memory")
      .queryName("ingest_none").start()
    try {
      mem2.addData(rows: _*); q2.processAllAvailable()
      assert(spark.table("ingest_none").count() == 0)
    } finally {
      q2.stop(); spark.sql("DROP TABLE IF EXISTS ingest_none")
    }
  }

  test("curatedIngest runs each gate kernel once per row, same rows as the filter chain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val model = TextAnalysis.syntheticQualityModel()
    def good(word: String) =
      (s"the $word and the other $word is in the house of $word " * 3).trim
    // the curatedIngest fixture above, plus a NULL text, a Spanish doc and
    // a short English one
    val rows = Seq(
      (1L, good("cat"), ts("2024-01-01 10:00:00")),
      (2L, good("cat").toUpperCase, ts("2024-01-01 10:00:30")),
      (3L, good("engine"), ts("2024-01-01 10:01:00")),
      (4L, "zzz qqq", ts("2024-01-01 10:01:30")),
      (5L, null, ts("2024-01-01 10:02:00")),
      (6L, ("el gato y el perro de la casa son de los hijos " * 3).trim,
        ts("2024-01-01 10:02:30")),
      (7L, "the cat", ts("2024-01-01 10:03:00")))
    // no empty trailing micro-batch: the last execution is the one batch
    // that carries the rows, so its plan still holds the gate
    val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"
    def run(name: String, ingest: DataFrame => DataFrame): (Seq[(Long, String)], String) = {
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      spark.conf.set(NoDataBatches, "false")
      val q = ingest(mem.toDF().toDF("doc_id", "text", "ts"))
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        mem.addData(rows: _*); q.processAllAvailable()
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan
        (spark.table(name).select("doc_id", "text").as[(Long, String)]
          .collect().sortBy(_._1).toSeq,
          org.apache.spark.sql.execution.debug.codegenString(plan))
      } finally {
        q.stop(); spark.sql(s"DROP TABLE IF EXISTS $name")
        spark.conf.unset(NoDataBatches)
      }
    }
    val (got, code) = run("ingest_gate",
      Streams.curatedIngest(_, "text", "ts", model, keepLogit = -1.0))
    // the public-function filter chain the gate replaced
    val (chain, _) = run("ingest_chain", d => Streams.streamingSimhashDedup(
      d.filter(TextAnalysis.langId(col("text")) === "en" &&
          TextAnalysis.qualityScore(col("text")) >= 0.6)
        .filter(TextAnalysis.hashedQualityKeep(col("text"), model, -1.0)),
      "text", "ts"))
    assert(got == chain)
    assert(got.map(_._1).filter(_ <= 5L) == Seq(1L, 3L), s"got $got")
    // the filter chain ran TokenSetHitsExpr 9 times and HashedQualityExpr
    // twice per row
    for (kernel <- Seq("TokenSetHitsExpr", "HashedQualityExpr")) {
      val calls = code.split(java.util.regex.Pattern.quote(
        s"graft.functions.$kernel.compute("), -1).length - 1
      assert(calls == 1, s"$kernel.compute appears $calls times in " +
        s"curatedIngest's generated code:\n$code")
    }
  }

  test("out-of-order 3-batch replay of events.parquet converges to the batch answers") {
    // the one verification mode the DuckDB harness can't see: the STREAMING
    // path (watermark + append finalization) must produce exactly the batch
    // q_tumbling/q_session rows when the corpus is replayed out of order.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = readEventsFixture("/root/testdata/sf0.001/events.parquet")
    val rows = batch.as[Event].collect()
    assert(rows.length == 1000)
    // id % 3 interleaves the full 30-day span across batches → heavy
    // cross-batch disorder; the 35-day watermark tolerates all of it
    val batches = rows.groupBy(_.event_id % 3).toSeq.sortBy(_._1).map(_._2)
    val maxTs = rows.map(_.ts.getTime).max
    // far-future flush events advance the watermark past every real window
    // (wm = flush − 35d = max + 5d); their own windows are never emitted
    def flush(i: Int) = Event(-1L - i,
      new Timestamp(maxTs + (40L + i) * 24 * 3600 * 1000), -1L, "flush", 0.0)

    val expTumbling = Streams.tumblingAgg(batch, "1 hour").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val expSession = Streams.sessionAgg(batch, "30 minutes").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    def replay(name: String, agg: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val mem = MemoryStream[Event]
      val q = agg(mem.toDS().toDF()).writeStream
        .outputMode("append").format("memory").queryName(name).start()
      try {
        batches.foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
        mem.addData(flush(0)); q.processAllAvailable()
        mem.addData(flush(1)); q.processAllAvailable() // emission lags wm by one batch
      } finally q.stop()
    }

    replay("bt_tumbling",
      df => Streams.tumblingAgg(df, "1 hour", watermark = "35 days", streaming = true))
    val gotTumbling = spark.table("bt_tumbling")
      .filter(col("event_type") =!= "flush").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(gotTumbling == expTumbling,
      s"stream≠batch tumbling: missing ${(expTumbling -- gotTumbling).take(3)}, " +
        s"extra ${(gotTumbling -- expTumbling).take(3)} " +
        s"(${gotTumbling.size} vs ${expTumbling.size} rows)")

    replay("bt_session",
      df => Streams.sessionAgg(df, "30 minutes", watermark = "35 days", streaming = true))
    val gotSession = spark.table("bt_session")
      .filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(gotSession == expSession,
      s"stream≠batch sessions: missing ${(expSession -- gotSession).take(3)}, " +
        s"extra ${(gotSession -- expSession).take(3)} " +
        s"(${gotSession.size} vs ${expSession.size} rows)")

    spark.sql("DROP TABLE IF EXISTS bt_tumbling")
    spark.sql("DROP TABLE IF EXISTS bt_session")
  }

  test("stream-stream interval join: out-of-order replay equals the batch join") {
    // inner interval joins emit eagerly as both sides arrive, so a click in
    // one microbatch must still pair with a purchase replayed two batches
    // later (both buffered in join state until the watermark clears them)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = readEventsFixture("/root/testdata/sf0.001/events.parquet")
    val exp = Streams.attributionJoin(batch, "click", "purchase", "1 hour")
      .select("from_id", "to_id").as[(Long, Long)].collect().toSet
    assert(exp.nonEmpty, "fixture should contain click→purchase pairs")
    val rows = batch.as[Event].collect()
    val batches = rows.groupBy(_.event_id % 3).toSeq.sortBy(_._1).map(_._2)
    val mem = MemoryStream[Event]
    val q = Streams.attributionJoin(mem.toDS().toDF(), "click", "purchase",
        "1 hour", watermark = "35 days", streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("bt_attr").start()
    try batches.foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("bt_attr")
      .select("from_id", "to_id").as[(Long, Long)].collect().toSet
    assert(got == exp,
      s"stream≠batch interval join: missing ${(exp -- got).take(3)}, " +
        s"extra ${(got -- exp).take(3)} (${got.size} vs ${exp.size} rows)")
    spark.sql("DROP TABLE IF EXISTS bt_attr")
  }

  test("file-stream smoke: batch transform runs as a streaming query") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    events.write.mode("overwrite").parquet(dir)
    Streams.runFileStream(spark, dir,
      df => Streams.tumblingAgg(df, "1 hour", streaming = true),
      "tumbling_stream")
    val out = spark.table("tumbling_stream").collect()
    // append mode with watermark: windows may be withheld until watermark
    // passes; the transform planning + execution path is what's under test
    assert(out.length >= 0)
    spark.sql("DROP TABLE IF EXISTS tumbling_stream")
  }

  test("file-stream restart recovery: exactly-once output across kill/restart") {
    import spark.implicits._
    val mk = java.nio.file.Files.createTempDirectory(_: String).toString
    val in = mk("graft_recov_in")
    val out = mk("graft_recov_out") + "/sink"
    val ckpt = mk("graft_recov_ckpt")
    val transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.filter(col("v") % 2 === 0)
        .select(col("id"), (col("v") * 10).as("v10"))
    // drop 1 arrives; the query processes it and is then stopped —
    // equivalent to a crash between micro-batches
    (1L to 50L).map(i => (i, i)).toDF("id", "v")
      .repartition(2).write.mode("append").parquet(in)
    Streams.runFileStreamOnce(spark, in, out, ckpt, transform)
    // drop 2 lands while the query is DOWN
    (51L to 100L).map(i => (i, i)).toDF("id", "v")
      .repartition(2).write.mode("append").parquet(in)
    // restart from the checkpoint: must pick up ONLY drop 2 (no
    // reprocessing of drop 1); a second restart with nothing new must be a
    // no-op (no duplicated batches in the sink's commit log)
    Streams.runFileStreamOnce(spark, in, out, ckpt, transform)
    Streams.runFileStreamOnce(spark, in, out, ckpt, transform)
    val got = spark.read.parquet(out)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = transform(spark.read.parquet(in))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, // no loss of drop 2, no duplication of drop 1
      s"restart recovery diverged from batch: got ${got.size} rows, " +
        s"want ${want.size}")
    assert(got.size == 50 && got.map(_._1).distinct.size == 50)
  }

  test("streamingSimhashDedupAgainstStore drops stored TOKEN SETS (reordered) and in-stream repeats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // store holds one doc's simhash; the discriminative plant (the
    // q_dedup_incr_simhash pattern): a REORDERING of its tokens has the
    // same signature (dropped here) but a different fingerprint (the exact
    // store would keep it)
    graft.operators.Dedup.writeSimhashStore(
      Seq((100L, "alpha bravo charlie delta")).toDF("doc_id", "text"),
      "doc_id", "text", "graft_stream_sh_store", portable = false,
      nBuckets = 2)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = Streams.streamingSimhashDedupAgainstStore(
      mem.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
      "graft_stream_sh_store")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sh_store_stream").start()
    try {
      mem.addData(
        (1L, "delta charlie bravo alpha", ts("2024-01-01 10:00:00")),
        (2L, "echo foxtrot golf", ts("2024-01-01 10:00:01")),
        (3L, "golf foxtrot echo", ts("2024-01-01 10:00:02")))
      q.processAllAvailable()
      val kept = spark.table("sh_store_stream").select("doc_id")
        .as[Long].collect().toSet
      // 1 dropped against the store (token-set match), 3 dropped in-stream
      // (same signature as 2 within the watermark), 2 survives
      assert(kept == Set(2L), s"got $kept")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sh_store_stream")
    }
  }

  test("streamingSimhashDedupAgainstStore refuses a portable store by name") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the streaming plan signs with the xxhash64 kernel; a store built on the
    // md5 base never matches it, so a planted copy would silently pass
    graft.operators.Dedup.writeSimhashStore(
      Seq((100L, "alpha bravo charlie delta")).toDF("doc_id", "text"),
      "doc_id", "text", "graft_stream_shp_store", portable = true,
      nBuckets = 2)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      val e = intercept[IllegalArgumentException] {
        q = Streams.streamingSimhashDedupAgainstStore(
            mem.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
            "graft_stream_shp_store")
          .writeStream.outputMode("append").format("memory")
          .queryName("shp_store_stream").start()
        mem.addData((1L, "alpha bravo charlie delta", ts("2024-01-01 10:00:00")))
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("graft_stream_shp_store_sigs") &&
        e.getMessage.contains("portable"), e.getMessage)
    } finally {
      if (q != null) q.stop()
      spark.sql("DROP TABLE IF EXISTS shp_store_stream")
      spark.sql("DROP TABLE IF EXISTS graft_stream_shp_store_sigs")
    }
  }

  test("streamingEmbeddingDedupAgainstStore: cosine-1.0 re-key drops against the store even after state eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def v(i: Int): Seq[Float] = Seq.tabulate(8)(j => if (j == i) 1.0f else 0.0f)
    graft.operators.Dedup.writeEmbeddingStore(
      Seq((100L, v(0))).toDF("vec_id", "embedding"), "vec_id", "embedding",
      "graft_stream_em_store", dim = 8, bandBits = 4, bands = 4, nBuckets = 2)
    // probing with mismatched build parameters fails loudly (the batch
    // probes' guard, wired through the streaming twin too)
    val bad = intercept[IllegalArgumentException](
      Streams.streamingEmbeddingDedupAgainstStore(
        Seq((0L, v(0), ts("2024-01-01 10:00:00"))).toDF("vec_id", "embedding", "ts"),
        "embedding", "ts", "graft_stream_em_store", 0.95, dim = 8,
        bandBits = 8, bands = 4))
    assert(bad.getMessage.contains("bandBits"))
    val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val out = Streams.streamingEmbeddingDedupAgainstStore(
      mem.toDF().toDF("vec_id", "embedding", "ts"), "embedding", "ts",
      "graft_stream_em_store", threshold = 0.95, dim = 8,
      bandBits = 4, bands = 4, delay = "10 seconds")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("em_store_stream").start()
    try {
      // batch 1: re-key of the STORED vector drops against the store; a
      // fresh vector survives; its in-watermark same-signature repeat
      // collapses in-stream
      mem.addData(
        (1L, v(0), ts("2024-01-01 10:00:00")),
        (2L, v(1), ts("2024-01-01 10:00:01")),
        (3L, v(1), ts("2024-01-01 10:00:02")))
      q.processAllAvailable()
      // batch 2: advance the watermark an hour — evicts every batch-1
      // signature from in-stream state
      mem.addData((4L, v(2), ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      // batch 3, long after eviction: a re-key of the STORED vector still
      // drops (the store is the long-term memory); a re-key of in-stream
      // survivor 2 is KEPT (its state evicted, and nothing appended it to
      // the store — exactly the batch updateStore=false semantics)
      mem.addData(
        (5L, v(0), ts("2024-01-01 12:00:00")),
        (6L, v(1), ts("2024-01-01 12:00:01")))
      q.processAllAvailable()
      val kept = spark.table("em_store_stream").select("vec_id")
        .as[Long].collect().toSet
      assert(kept == Set(2L, 4L, 6L), s"got $kept")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS em_store_stream")
      spark.sql("DROP TABLE IF EXISTS graft_stream_em_store_bands")
      spark.sql("DROP TABLE IF EXISTS graft_stream_em_store_vecs")
    }
  }

  test("streaming search-index ingest: incremental appends equal a full rebuild, idempotent") {
    import graft.operators.Search
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sidx").toString
    val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
    val b0 = Seq((1L, "scan join scan"), (2L, "join alone")).toDF("doc_id", "text")
    val b1 = Seq((3L, "scan join join")).toDF("doc_id", "text")
    val b2 = Seq((4L, "scan join"), (5L, "nothing relevant")).toDF("doc_id", "text")
    Search.writeInvertedIndex(b0, "doc_id", "text", "graft_sidx_store",
      nBuckets = 2)
    b1.write.mode("append").parquet(inDir)
    Streams.runSearchIngestOnce(spark, inDir, ckpt, "graft_sidx_store")
    try {
      def res = Search.searchAll(spark, "graft_sidx_store",
          Seq("scan", "join"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(res == Seq((1L, 3L), (3L, 3L))) // doc 3 ingested via the stream
      // a second pass with NO new files must change nothing (replayed
      // batches hit the commit markers; postings tf would otherwise inflate)
      Streams.runSearchIngestOnce(spark, inDir, ckpt, "graft_sidx_store")
      assert(res == Seq((1L, 3L), (3L, 3L)))
      // late files arrive → only the new batch appends
      b2.write.mode("append").parquet(inDir)
      Streams.runSearchIngestOnce(spark, inDir, ckpt, "graft_sidx_store")
      assert(res == Seq((1L, 3L), (3L, 3L), (4L, 2L)))
      // final state equals a from-scratch rebuild over all four batches
      Search.writeInvertedIndex(b0.unionAll(b1).unionAll(b2), "doc_id",
        "text", "graft_sidx_full", nBuckets = 2)
      val full = Search.searchAll(spark, "graft_sidx_full",
          Seq("scan", "join"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(res == full)
      val dfIncr = Search.termDocFreq(spark, "graft_sidx_store")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val dfFull = Search.termDocFreq(spark, "graft_sidx_full")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(dfIncr == dfFull)
      // the BM25 corpus stats the ingest loop rolls forward (gated per
      // batchId, like the appends) must equal a from-scratch rebuild's —
      // including across the no-new-files replay above
      def stats(t: String) = spark.sql(s"SHOW TBLPROPERTIES ${t}_postings")
        .collect().map(r => r.getString(0) -> r.getString(1))
        .filter(kv => kv._1 == "graft.docCount" || kv._1 == "graft.totalDl")
        .toMap
      assert(stats("graft_sidx_store") == stats("graft_sidx_full"),
        "streamed BM25 stats must converge to the rebuild's")
    } finally Seq("graft_sidx_store_postings", "graft_sidx_store_terms",
      "graft_sidx_full_postings", "graft_sidx_full_terms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming SCD2 ingest: merges once per batch, redelivery is an exact no-op") {
    import spark.implicits._
    import graft.sources.Sources
    val base = java.nio.file.Files.createTempDirectory("graft_scd2s").toString
    val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
    val t = "graft_scd2_stream"
    Sources.writeBucketed(Sources.scd2Init(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L), t, "id", 2)
    Seq((2L, "b2", "upsert"), (3L, "c", "upsert")).toDF("id", "v", "op")
      .write.mode("append").parquet(inDir)
    try {
      Streams.runScd2IngestOnce(spark, inDir, ckpt, t, "id")
      def state(b: Long) = Sources.scd2SnapshotAsOf(spark.table(t), b)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(state(0L) == Set((1L, "a"), (2L, "b")), "seed version intact")
      assert(state(1L) == Set((1L, "a"), (2L, "b2"), (3L, "c")))
      val before = spark.table(t).count()
      // pass 2, no new files: the committed checkpoint replays nothing
      Streams.runScd2IngestOnce(spark, inDir, ckpt, t, "id")
      assert(spark.table(t).count() == before)
      // lose the checkpoint AND the markers under it entirely: the stream
      // redelivers the same content as batch 0, and only the IN-DATA batch
      // guard stands between it and a double merge (which would close the
      // batch's own versions at valid_to=1 and append duplicates)
      val fs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      Streams.runScd2IngestOnce(spark, inDir, ckpt, t, "id")
      assert(spark.table(t).count() == before,
        "redelivered batch must be an exact no-op")
      assert(state(1L) == Set((1L, "a"), (2L, "b2"), (3L, "c")))
      // a genuinely new delta file lands → merges at the next version
      Seq((1L, null.asInstanceOf[String], "delete")).toDF("id", "v", "op")
        .write.mode("append").parquet(inDir)
      Streams.runScd2IngestOnce(spark, inDir, ckpt, t, "id")
      assert(state(2L) == Set((2L, "b2"), (3L, "c")))
      assert(state(1L) == Set((1L, "a"), (2L, "b2"), (3L, "c")),
        "closed history rewritten — SCD2 must be append/close only")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("embedding store twin: out-of-order 3-batch replay equals the batch survivors") {
    // the replay-equivalence proof the session-window and interval-join
    // transforms already have, applied to the embedding store twin: replayed
    // out of order across microbatches, the streaming store anti-join +
    // in-stream signature dedup must land on exactly the batch-semantics
    // answer (store anti-join on fullsig+cosine, then one-per-signature —
    // Spark refuses dropDuplicatesWithinWatermark on batch frames, so the
    // baseline states those semantics with batch operators).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def v(i: Int): Seq[Float] = Seq.tabulate(8)(j => if (j == i) 1.0f else 0.0f)
    graft.operators.Dedup.writeEmbeddingStore(
      Seq((100L, v(0)), (101L, v(1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", "graft_em_replay_store",
      dim = 8, bandBits = 4, bands = 4, nBuckets = 2)
    // 6 groups of identical vectors (group = vec_id / 10): groups 0,1 are
    // stored → every member drops against the store; 2..5 are fresh → ONE
    // survivor per group. Timestamps are deliberately uncorrelated with ids
    // and the id%3 batch split interleaves every group across microbatches,
    // so a group-2 repeat lands two batches after its first arrival and
    // must still collapse via state (delay is a year — nothing evicts).
    val rows = for {
      g <- 0 until 6; m <- 0 until 3
    } yield (g * 10L + m, v(g),
      ts(f"2024-01-01 ${10 + (g * 7 + m * 5) % 12}%02d:${(g * 13 + m * 29) % 60}%02d:00"))
    def dedup(df: org.apache.spark.sql.DataFrame) =
      Streams.streamingEmbeddingDedupAgainstStore(df, "embedding", "ts",
        "graft_em_replay_store", threshold = 0.95, dim = 8,
        bandBits = 4, bands = 4, delay = "365 days")
    // batch statement of the twin's semantics: pooled-signature anti-join
    // against the store (cosine-verified), then one survivor per signature
    val stored = spark.table("graft_em_replay_store_vecs")
      .select(col("fullsig").as("__ssig"), col("vec").as("__sv"))
    val expGroups = rows.toDF("vec_id", "embedding", "ts")
      .withColumn("__fullsig",
        graft.operators.Similarity.lshSignature(col("embedding"), 8, 16, 42L))
      .join(stored,
        col("__fullsig") === col("__ssig") &&
          graft.operators.Similarity.cosine(col("embedding"), col("__sv")) >= 0.95,
        "left_anti")
      .dropDuplicates("__fullsig")
      .select("vec_id").as[Long].collect()
      .toSeq.groupBy(_ / 10).view.mapValues(_.size).toMap
    assert(expGroups == Map(2L -> 1, 3L -> 1, 4L -> 1, 5L -> 1),
      s"batch baseline: stored groups drop, fresh groups keep ONE: $expGroups")
    val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val q = dedup(mem.toDF().toDF("vec_id", "embedding", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("em_replay_stream").start()
    try {
      rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).foreach { case (_, b) =>
        mem.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val gotGroups = spark.table("em_replay_stream").select("vec_id")
      .as[Long].collect().toSeq.groupBy(_ / 10).view.mapValues(_.size).toMap
    assert(gotGroups == expGroups,
      s"stream≠batch embedding-store survivors: $gotGroups vs $expGroups")
    spark.sql("DROP TABLE IF EXISTS em_replay_stream")
    spark.sql("DROP TABLE IF EXISTS graft_em_replay_store_bands")
    spark.sql("DROP TABLE IF EXISTS graft_em_replay_store_vecs")
  }

  test("store-append ingest loop: later batches dedup against earlier survivors, exactly-once across kill/restart") {
    import spark.implicits._
    val mk = java.nio.file.Files.createTempDirectory(_: String).toString
    val in = mk("graft_storeingest_in")
    val out = mk("graft_storeingest_out") + "/sink"
    val ckpt = mk("graft_storeingest_ckpt")
    val store = "graft_stream_fp_store"
    // seed: the already-kept corpus, as the batch side would have written it
    graft.operators.Dedup.writeFingerprintStore(
      Seq((100L, "alpha doc kept")).toDF("doc_id", "text"), "text", store,
      nBuckets = 2)
    def drop(rows: (Long, String, String)*): Unit =
      rows.toSeq.map { case (id, text, t) => (id, text, ts(t)) }
        .toDF("doc_id", "text", "ts")
        .repartition(1).write.mode("append").parquet(in)
    // drop 1: a stored dup (must drop), a fresh survivor, an in-stream
    // repeat of it (in-watermark dedup must collapse)
    drop((1L, "alpha doc kept", "2024-01-01 10:00:00"),
         (2L, "bravo new doc", "2024-01-01 10:00:01"),
         (3L, "bravo new doc", "2024-01-01 10:00:02"))
    Streams.runStoreIngestOnce(spark, in, out, ckpt, store)
    // drop 2 lands while the query is DOWN — equivalent to a crash between
    // micro-batches: a fresh doc a DAY later, which advances the watermark
    // far past bravo's dedup state (10:00 + 10 min ≪ day-2 09:50), so that
    // state is evicted at this batch's end
    drop((4L, "charlie fresh", "2024-01-02 10:00:00"))
    Streams.runStoreIngestOnce(spark, in, out, ckpt, store)
    // drop 3: bravo RE-ARRIVES after its in-watermark state is gone — only
    // the store append from run 1 (the loop closure under test) can drop
    // it now; delta is the batch's survivor
    drop((5L, "bravo new doc", "2024-01-02 12:00:00"),
         (6L, "delta latest", "2024-01-02 12:00:01"))
    Streams.runStoreIngestOnce(spark, in, out, ckpt, store)
    // idle restart: recovery must be a no-op (no batch re-delivery effects)
    Streams.runStoreIngestOnce(spark, in, out, ckpt, store)
    val got = spark.read.parquet(out).select("text").as[String]
      .collect().sorted.toSeq
    assert(got == Seq("bravo new doc", "charlie fresh", "delta latest"),
      s"survivors not exactly-once: $got")
    // the store holds each fingerprint exactly once: seed + the three
    // survivors, no double append from the restarts (per-batch markers)
    spark.catalog.refreshTable(s"${store}_fps")
    val fps = spark.table(s"${store}_fps").collect().map(_.getString(0)).toSeq
    assert(fps.length == 4 && fps.distinct.length == 4,
      s"store not physically clean: ${fps.length} rows, ${fps.distinct.length} distinct")
  }

  test("store-append ingest appends under the store's own bucket spec (both defaults)") {
    import spark.implicits._
    val mk = java.nio.file.Files.createTempDirectory(_: String).toString
    val in = mk("graft_storeingest_nb_in")
    val out = mk("graft_storeingest_nb_out") + "/sink"
    val ckpt = mk("graft_storeingest_nb_ckpt")
    val store = "graft_stream_fp_store_nb"
    // built and ingested with each function's default bucket layout
    graft.operators.Dedup.writeFingerprintStore(
      Seq((100L, "alpha doc kept")).toDF("doc_id", "text"), "text", store)
    def drop(rows: (Long, String, String)*): Unit =
      rows.toSeq.map { case (id, text, t) => (id, text, ts(t)) }
        .toDF("doc_id", "text", "ts")
        .repartition(1).write.mode("append").parquet(in)
    try {
      drop((1L, "alpha doc kept", "2024-01-01 10:00:00"),
           (2L, "bravo new doc", "2024-01-01 10:00:01"))
      Streams.runStoreIngestOnce(spark, in, out, ckpt, store)
      drop((3L, "bravo new doc", "2024-01-02 10:00:00"),
           (4L, "charlie fresh", "2024-01-02 10:00:01"))
      Streams.runStoreIngestOnce(spark, in, out, ckpt, store)
      val got = spark.read.parquet(out).select("text").as[String]
        .collect().sorted.toSeq
      assert(got == Seq("bravo new doc", "charlie fresh"), s"survivors: $got")
      spark.catalog.refreshTable(s"${store}_fps")
      assert(spark.table(s"${store}_fps").count() == 3L)
      assert(graft.sources.StoreTable.bucketSpec(spark, s"${store}_fps") ==
        ("fp", 8))
    } finally spark.sql(s"DROP TABLE IF EXISTS ${store}_fps")
  }

  test("upstream watermark on a DIFFERENT column fails loudly; same column is reused") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // a transform watermarked some other timestamp column upstream: the
    // requested dedup horizon on "ts" would silently NOT govern eviction
    // (Spark forbids redefining the mark), so ensureWatermark must refuse
    // rather than skip the request
    val marked = mem.toDF().withColumn("ts2", col("ts"))
      .withWatermark("ts2", "5 minutes")
    val e = intercept[IllegalArgumentException] {
      Streams.streamingDedup(marked, Seq("event_id"), "ts")
    }
    assert(e.getMessage.contains("ts2") && e.getMessage.contains("ts"))
    // same column, different delay: legitimate composition — the upstream
    // definition wins (warned, not thrown) and the plan still builds
    val ok = Streams.streamingDedup(
      mem.toDF().withWatermark("ts", "5 minutes"),
      Seq("event_id"), "ts", delay = "10 minutes")
    assert(ok.isStreaming)
  }

  test("streaming PQ ingest: appends equal a full rebuild, replay-idempotent") {
    import graft.operators.Similarity
    import spark.implicits._
    def v(seed: Int): Seq[Float] =
      Array.tabulate(8)(j => math.sin(seed * 7 + j).toFloat).toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_pqing").toString
    val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
    val b0 = (1L to 20L).map(i => (i, v(i.toInt))).toDF("vec_id", "embedding")
    val b1 = (21L to 30L).map(i => (i, v(i.toInt))).toDF("vec_id", "embedding")
    val model = Similarity.pqFit(b0.orderBy("vec_id"), "embedding",
      m = 2, ksub = 4)
    Similarity.writePqStore(b0, "vec_id", "embedding", model,
      "graft_pqing_store", nBuckets = 2)
    b1.write.mode("append").parquet(inDir)
    Streams.runPqIngestOnce(spark, inDir, ckpt, "graft_pqing_store", model)
    try {
      val q = (0 until 8).map(j => math.sin(j + 3.0))
      def res = Similarity.pqAdcTopKAgainstStore(spark, "graft_pqing_store",
          "vec_id", q, model, k = 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val afterStream = res
      assert(afterStream.map(_._1).toSet == (1L to 30L).toSet,
        s"streamed batch not probeable: ${afterStream.map(_._1).sorted}")
      // replay with a FRESH checkpoint: batchIds restart at 0, so the
      // filesystem markers are blind — the __batch in-data gate must skip
      Streams.runPqIngestOnce(spark, inDir, s"$base/ckpt2",
        "graft_pqing_store", model)
      assert(res == afterStream, "replayed batch double-appended")
      // final state equals a from-scratch rebuild over both batches
      Similarity.writePqStore(b0.unionAll(b1), "vec_id", "embedding", model,
        "graft_pqing_rebuild", nBuckets = 2)
      val rebuilt = Similarity.pqAdcTopKAgainstStore(spark,
          "graft_pqing_rebuild", "vec_id", q, model, k = 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(res == rebuilt, "incremental store diverged from rebuild")
      // a different model cannot append (fingerprint check)
      val other = Similarity.PqModel(model.codebooks.map(_.map(_.map(_ + 1))))
      intercept[IllegalArgumentException](
        Similarity.appendPqStore(b1, "vec_id", "embedding", other,
          "graft_pqing_store", batchId = 99L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pqing_store_pq")
      spark.sql("DROP TABLE IF EXISTS graft_pqing_rebuild_pq")
    }
  }

  test("streaming CDC ingest: store ≡ rebuild, replay-idempotent, stable report") {
    import graft.operators.Dedup
    import spark.implicits._
    def mkBytes(n: Int, seed: Long): Array[Byte] = {
      var x = seed
      Array.fill(n) { x = x * 6364136223846793005L + 1442695040888963407L
        (x >>> 33).toByte }
    }
    val base = java.nio.file.Files.createTempDirectory("graft_cdcing").toString
    val (inDir, ckpt, reports) = (s"$base/in", s"$base/ckpt", s"$base/rep")
    val b0 = (1L to 10L).map(i => (i, mkBytes(2000, i))).toDF("doc_id", "blob")
    // batch 1: one fresh blob, one 1-byte-edited replica of a stored blob
    val b1 = Seq((100L, mkBytes(2000, 77L)),
      (101L, Array[Byte](9) ++ mkBytes(2000, 3L))).toDF("doc_id", "blob")
    spark.sql("DROP TABLE IF EXISTS graft_cdcing_chunks")
    spark.sql("DROP TABLE IF EXISTS graft_cdcing_rb_chunks")
    Dedup.writeChunkStore(Dedup.cdcChunks(b0, "doc_id", "blob"),
      "graft_cdcing", nBuckets = 2)
    b1.write.mode("append").parquet(inDir)
    Streams.runCdcIngestOnce(spark, inDir, ckpt, "graft_cdcing", reports)
    try {
      def storeHashes = spark.table("graft_cdcing_chunks")
        .select("chunk_hash").as[Long].collect().toSet
      def report = spark.read.parquet(reports)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val afterStream = storeHashes
      val rep1 = report
      // the edited replica admits only its edit-region bytes (CDC shift
      // resistance through the STREAMING path)
      assert(rep1(101L)._3 < rep1(101L)._2 / 5,
        s"shifted replica should be mostly dup bytes: ${rep1(101L)}")
      assert(rep1(100L)._3 == rep1(100L)._2,
        s"fresh blob should be all new: ${rep1(100L)}")
      // replay with a FRESH checkpoint: batchIds restart, markers blind —
      // the __batch in-data gate must keep store AND report unchanged
      Streams.runCdcIngestOnce(spark, inDir, s"$base/ckpt2", "graft_cdcing",
        reports)
      assert(storeHashes == afterStream, "replay changed the chunk store")
      assert(report == rep1, "replay changed the admission report")
      // final store state equals a from-scratch rebuild over both batches
      Dedup.writeChunkStore(Dedup.cdcChunks(b0.unionAll(b1), "doc_id", "blob"),
        "graft_cdcing_rb", nBuckets = 2)
      val rebuilt = spark.table("graft_cdcing_rb_chunks")
        .select("chunk_hash").as[Long].collect().toSet
      assert(afterStream == rebuilt, "streamed store diverged from rebuild")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_cdcing_chunks")
      spark.sql("DROP TABLE IF EXISTS graft_cdcing_rb_chunks")
    }
  }

  test("media decode runs as a streaming stage: per-batch features ≡ batch decode") {
    // the multimodal ingest shape at 100 TB: blobs land continuously and
    // decode as they arrive. decodeFeatures/audioFrames are STATELESS
    // mapPartitions kernels, so they lift into Structured Streaming
    // unchanged — pin that (a refactor to a stateful/shuffling shape
    // would break this test) and that streamed features equal the batch
    // decode of the same blobs.
    import graft.operators.Multimodal
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ids = Seq(3L, 44L, 170L, 401L)
    val blobs = Multimodal.encodeSyntheticPng(ids.toDF("doc_id"), "doc_id")
      .select("media_id", "bytes").as[(Long, Array[Byte])].collect().toSeq
    val mem = MemoryStream[(Long, Array[Byte])]
    val feats = Multimodal.decodeFeatures(
      mem.toDF().select(col("_1").as("media_id"), col("_2").as("bytes")))
    assert(feats.isStreaming, "decode stage must lift into a streaming plan")
    val q = feats.writeStream.outputMode("append")
      .format("memory").queryName("media_stream").start()
    try {
      mem.addData(blobs.take(2))
      q.processAllAvailable()
      mem.addData(blobs.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("media_stream")
        .as[Multimodal.MediaFeatures].collect().sortBy(_.media_id)
      val batch = Multimodal.decodeFeatures(
          Multimodal.encodeSyntheticPng(ids.toDF("doc_id"), "doc_id"))
        .collect().sortBy(_.media_id)
      assert(streamed.toSeq == batch.toSeq,
        s"streamed decode diverged:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS media_stream")
    }
  }

  test("streaming chunker: stateless chunkTokenWindows on a stream ≡ batch") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = Seq((1L, "a b c d e f g"), (2L, "x y"), (3L, "p q r s t"))
    val mem = MemoryStream[(Long, String)]
    val streamed = TextAnalysis.chunkTokenWindows(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      chunkTokens = 3, strideTokens = 2, ordered = false)
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("chunk_stream").start()
    try {
      mem.addData(docs.take(2))
      q.processAllAvailable()
      mem.addData(docs.drop(2))
      q.processAllAvailable()
      val got = spark.table("chunk_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      val batch = TextAnalysis.chunkTokenWindows(
        docs.toDF("doc_id", "text"), "doc_id", "text", 3, 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      assert(got == batch, s"stream $got != batch $batch")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS chunk_stream")
    }
  }

  test("streaming image ingest: store probe drops near-dups, replay is content-keyed no-op") {
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_imging").toString
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val store = "graft_imging_store"
    spark.sql(s"DROP TABLE IF EXISTS ${store}_bands")
    // seed: groups 0 and 1 (ids 0-7); stream: ids 8-15 (groups 2, 3)
    val media = Multimodal.encodeSyntheticPngGroups(
      (0L until 16L).toDF("doc_id"), "doc_id").localCheckpoint()
    Dedup.writeWideHashStore(
      Multimodal.imageDHashWide(media.filter(col("media_id") < 8)),
      "media_id", store, "image_dhash", maxHamming = 6, nBuckets = 2)
    media.filter(col("media_id") >= 8)
      .write.mode("append").parquet(inDir)
    Streams.runImageIngestOnce(spark, inDir, outDir, ckpt, store)
    try {
      val streamed = spark.read.parquet(outDir)
        .select("media_id").collect().map(_.getLong(0)).toSet
      // ≡ the batch probe against the same seed store contents
      val all = Multimodal.imageDHashWide(media).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      def ham(a: (Long, Long, Long), b: (Long, Long, Long)) =
        java.lang.Long.bitCount(a._2 ^ b._2) +
          java.lang.Long.bitCount(a._3 ^ b._3)
      val seed = all.filter(_._1 < 8)
      val expected = all.filter(_._1 >= 8)
        .filter(p => !seed.exists(s => ham(p, s) <= 6)).map(_._1).toSet
      assert(streamed == expected, s"streamed $streamed != $expected")
      val bandRows = spark.table(s"${store}_bands").count()
      // lose the checkpoint entirely: redelivery re-decodes and re-probes,
      // but every replayed hash is hamming-0 against its own appended row
      // — the append is empty and the manifest partition just rewrites
      Streams.runImageIngestOnce(spark, inDir, outDir, s"$base/ckpt2", store)
      assert(spark.table(s"${store}_bands").count() == bandRows,
        "content-keyed replay must append nothing")
      assert(spark.read.parquet(outDir).select("media_id")
        .collect().map(_.getLong(0)).toSet == expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${store}_bands")
  }

  test("streaming audio ingest: store probe drops near-dups, replay is content-keyed no-op") {
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_auding").toString
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val store = "graft_auding_store"
    spark.sql(s"DROP TABLE IF EXISTS ${store}_bands")
    val media = Multimodal.encodeSyntheticWavGroups(
      (0L until 16L).toDF("doc_id"), "doc_id").localCheckpoint()
    Dedup.writeWideHashStore(
      Multimodal.audioEnergyHashWide(media.filter(col("media_id") < 8)),
      "media_id", store, "audio_ehash", maxHamming = 6, nBuckets = 2)
    media.filter(col("media_id") >= 8)
      .write.mode("append").parquet(inDir)
    Streams.runAudioIngestOnce(spark, inDir, outDir, ckpt, store)
    try {
      val streamed = spark.read.parquet(outDir)
        .select("media_id").collect().map(_.getLong(0)).toSet
      val all = Multimodal.audioEnergyHashWide(media).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      def ham(a: (Long, Long, Long), b: (Long, Long, Long)) =
        java.lang.Long.bitCount(a._2 ^ b._2) +
          java.lang.Long.bitCount(a._3 ^ b._3)
      val seed = all.filter(_._1 < 8)
      val expected = all.filter(_._1 >= 8)
        .filter(p => !seed.exists(s => ham(p, s) <= 6)).map(_._1).toSet
      assert(streamed == expected, s"streamed $streamed != $expected")
      val bandRows = spark.table(s"${store}_bands").count()
      // fresh checkpoint: redelivery re-probes, every replayed hash is
      // hamming-0 against its own appended row -- append empty, manifest
      // partition untouched (empty dynamic overwrite writes nothing)
      Streams.runAudioIngestOnce(spark, inDir, outDir, s"$base/ckpt2", store)
      assert(spark.table(s"${store}_bands").count() == bandRows,
        "content-keyed replay must append nothing")
      assert(spark.read.parquet(outDir).select("media_id")
        .collect().map(_.getLong(0)).toSet == expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${store}_bands")
  }

  test("streaming video ingest: frame-voted store probe, replay is content-keyed no-op") {
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_viding").toString
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val store = "graft_viding_store"
    spark.sql(s"DROP TABLE IF EXISTS ${store}_bands")
    val media = Multimodal.encodeSyntheticAviGroups(
      (0L until 16L).toDF("doc_id"), "doc_id").localCheckpoint()
    Dedup.writeVideoHashStore(
      Multimodal.videoDHashWide(media.filter(col("media_id") < 8), everyK = 1),
      "media_id", store, maxHamming = 6, nBuckets = 2)
    media.filter(col("media_id") >= 8)
      .write.mode("append").parquet(inDir)
    Streams.runVideoIngestOnce(spark, inDir, outDir, ckpt, store)
    try {
      val streamed = spark.read.parquet(outDir)
        .select("media_id").collect().map(_.getLong(0)).toSet
      // expected: frame-aligned >= min(3, n_frames) vote against the seeds
      val all = Multimodal.videoDHashWide(media, everyK = 1).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
          r.getLong(2), r.getLong(3)))
      val seed = all.filter(_._1 < 8)
      val probe = all.filter(_._1 >= 8)
      val nf = probe.groupBy(_._1).map { case (id, fs) =>
        id -> fs.map(_._2).distinct.size }
      val dropped = probe.groupBy(_._1).filter { case (id, fs) =>
        seed.groupBy(_._1).exists { case (_, sfs) =>
          val mf = fs.count(p => sfs.exists(q => q._2 == p._2 &&
            java.lang.Long.bitCount(p._3 ^ q._3) +
              java.lang.Long.bitCount(p._4 ^ q._4) <= 6))
          mf >= math.min(3, nf(id))
        }
      }.keySet
      val expected = probe.map(_._1).toSet -- dropped
      assert(streamed == expected, s"streamed $streamed != $expected")
      val bandRows = spark.table(s"${store}_bands").count()
      Streams.runVideoIngestOnce(spark, inDir, outDir, s"$base/ckpt2", store)
      assert(spark.table(s"${store}_bands").count() == bandRows,
        "content-keyed replay must append nothing")
      assert(spark.read.parquet(outDir).select("media_id")
        .collect().map(_.getLong(0)).toSet == expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${store}_bands")
  }

  test("streaming LM-gated curation: micro-batches gate against the FIXED store, replay rewrites identically") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_lmgate").toString
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val store = "graft_lmgate_store"
    spark.sql(s"DROP TABLE IF EXISTS ${store}_pairs")
    spark.sql(s"DROP TABLE IF EXISTS ${store}_ctx")
    def mkDoc(i: Int, p: String) =
      (i.toLong, s"the cat sat on the mat $p$i and the dog ran t${i % 5}")
    val ref = (1 to 50).map(i => mkDoc(i, "r")).toDF("doc_id", "text")
    TextAnalysis.writeLmStore(ref, "text", store, nBuckets = 2)
    // stream: fluent docs (reference-like) + junk (all-unseen bigrams)
    val streamDocs = ((100 to 109).map(i => mkDoc(i, "s")) ++
      (200 to 204).map(i => (i.toLong, s"zz$i yy$i xx$i ww$i vv$i uu$i")))
      .toDF("doc_id", "text")
    streamDocs.write.mode("append").parquet(inDir)
    Streams.runLmGateOnce(spark, inDir, outDir, ckpt, store, maxPpl = 30.0)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    // == the batch gate against the same store
    val expected = TextAnalysis.lmPerplexityAgainst(streamDocs, "doc_id",
        "text", store, maxPpl = 30.0)
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    assert(streamed == expected, s"streamed $streamed != $expected")
    assert(expected.nonEmpty && expected != streamDocs.select("doc_id")
      .as[Long].collect().toSet, "gate must split the stream fixture")
    // store untouched by gating; fresh-checkpoint replay rewrites the
    // same partitions (read-only store => pure function of the batch)
    val pairRows = spark.table(s"${store}_pairs").count()
    Streams.runLmGateOnce(spark, inDir, outDir, s"$base/ckpt2", store,
      maxPpl = 30.0)
    assert(spark.table(s"${store}_pairs").count() == pairRows)
    assert(spark.read.parquet(outDir).select("doc_id").as[Long]
      .collect().toSet == expected)
    spark.sql(s"DROP TABLE IF EXISTS ${store}_pairs")
    spark.sql(s"DROP TABLE IF EXISTS ${store}_ctx")
  }

  test("streaming frequency (CMS) ingest: estimates equal a rebuild, replay-idempotent") {
    import graft.operators.Profiling
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_freqing").toString
    val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
    val seed = (1 to 300).map(i => s"s${i % 29}").toDF("v")
    val b1 = (1 to 300).map(i => s"t${i % 31}").toDF("v")
    spark.sql("DROP TABLE IF EXISTS graft_freqing_store")
    spark.sql("DROP TABLE IF EXISTS graft_freqing_rebuild")
    Profiling.writeFrequencyStore(seed, col("v"), "graft_freqing_store",
      eps = 0.01)
    b1.write.mode("append").parquet(inDir)
    Streams.runFreqIngestOnce(spark, inDir, ckpt, "graft_freqing_store",
      "v", eps = 0.01, confidence = 0.99, seed = 42)
    try {
      val cands = ((0 until 29).map(i => s"s$i") ++
        (0 until 31).map(i => s"t$i")).toDF("item")
      def est(table: String) =
        Profiling.frequencyEstimates(spark, table, cands, "item")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val afterStream = est("graft_freqing_store")
      Streams.runFreqIngestOnce(spark, inDir, s"$base/ckpt2",
        "graft_freqing_store", "v", eps = 0.01, confidence = 0.99, seed = 42)
      assert(est("graft_freqing_store") == afterStream,
        "replayed batch double-appended")
      assert(spark.table("graft_freqing_store").count() == 2L)
      Profiling.writeFrequencyStore(seed.unionAll(b1), col("v"),
        "graft_freqing_rebuild", eps = 0.01)
      assert(afterStream == est("graft_freqing_rebuild"),
        "incremental store diverged from rebuild")
      // COMPACT mid-lifecycle: one merged row, estimates unchanged, and a
      // fresh-checkpoint replay still no-ops via the compacted watermark
      Profiling.compactFrequencyStore(spark, "graft_freqing_store")
      assert(spark.table("graft_freqing_store").count() == 1L)
      assert(est("graft_freqing_store") == afterStream,
        "compaction changed estimates")
      Streams.runFreqIngestOnce(spark, inDir, s"$base/ckpt3",
        "graft_freqing_store", "v", eps = 0.01, confidence = 0.99,
        seed = 42)
      assert(est("graft_freqing_store") == afterStream,
        "post-compaction replay double-appended")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_freqing_store")
      spark.sql("DROP TABLE IF EXISTS graft_freqing_rebuild")
    }
  }

  test("streaming cardinality ingest: estimates equal a rebuild, replay-idempotent") {
    import graft.operators.Profiling
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_carding").toString
    val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
    val seed = (1 to 200).map(i => (s"g${i % 2}", s"s${i % 30}")).toDF("g", "v")
    val b1 = (1 to 200).map(i => (s"g${i % 2}", s"t${i % 25}")).toDF("g", "v")
    spark.sql("DROP TABLE IF EXISTS graft_carding_store")
    spark.sql("DROP TABLE IF EXISTS graft_carding_rebuild")
    Profiling.writeCardinalityStore(seed, "g", col("v"),
      "graft_carding_store", lgK = 12)
    b1.write.mode("append").parquet(inDir)
    Streams.runCardIngestOnce(spark, inDir, ckpt, "graft_carding_store",
      "g", "v", lgK = 12)
    try {
      def est = Profiling.cardinalityEstimates(spark, "graft_carding_store")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val afterStream = est
      // replay under a FRESH checkpoint: batchIds restart at 0, markers are
      // blind — the __batch in-data gate must skip the double-append
      Streams.runCardIngestOnce(spark, inDir, s"$base/ckpt2",
        "graft_carding_store", "g", "v", lgK = 12)
      assert(est == afterStream, "replayed batch double-appended")
      assert(spark.table("graft_carding_store")
        .select("__batch").distinct().count() == 2L) // seed -1 + batch 0
      // estimates equal a from-scratch one-shot store over seed ∪ batch
      Profiling.writeCardinalityStore(seed.unionAll(b1), "g", col("v"),
        "graft_carding_rebuild", lgK = 12)
      val rebuilt = Profiling.cardinalityEstimates(spark,
          "graft_carding_rebuild")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(afterStream == rebuilt,
        s"incremental $afterStream diverged from rebuild $rebuilt")
      // COMPACT mid-lifecycle: estimates unchanged, and a replayed stream
      // pass (fresh checkpoint — batchIds restart at 0, the folded rows
      // are GONE) still no-ops through the compacted-watermark guard
      Profiling.compactCardinalityStore(spark, "graft_carding_store")
      assert(est == afterStream, "compaction changed estimates")
      assert(spark.table("graft_carding_store").count() == 2L,
        "one merged row per group after compaction")
      Streams.runCardIngestOnce(spark, inDir, s"$base/ckpt3",
        "graft_carding_store", "g", "v", lgK = 12)
      assert(est == afterStream, "post-compaction replay double-appended")
      // the ingest lifecycle CONTINUES past a compaction: a genuinely new
      // batch file (tag 1 > watermark 0) appends, and the accreted store
      // still equals a from-scratch rebuild over all three batches
      val b2 = (1 to 200).map(i => (s"g${i % 2}", s"u${i % 20}"))
        .toDF("g", "v")
      b2.write.mode("append").parquet(inDir)
      Streams.runCardIngestOnce(spark, inDir, s"$base/ckpt3",
        "graft_carding_store", "g", "v", lgK = 12)
      spark.sql("DROP TABLE IF EXISTS graft_carding_rebuild")
      Profiling.writeCardinalityStore(seed.unionAll(b1).unionAll(b2), "g",
        col("v"), "graft_carding_rebuild", lgK = 12)
      val rebuilt3 = Profiling.cardinalityEstimates(spark,
          "graft_carding_rebuild")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est == rebuilt3,
        s"post-compaction append diverged from 3-batch rebuild")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_carding_store")
      spark.sql("DROP TABLE IF EXISTS graft_carding_rebuild")
    }
  }

  /** one store-backed streaming pass under redelivery: `seed` builds the
    * store, `drops` land one at a time in the input directory, and `run`
    * processes everything available with the checkpoint `ckpt`. */
  private case class Redelivered(name: String, markerDir: String,
                                 tables: Seq[String], outputs: Seq[String],
                                 seed: () => Unit,
                                 drops: Seq[org.apache.spark.sql.DataFrame],
                                 run: (String, String, String) => Unit)

  test("every store-backed pass absorbs a redelivered last batch, with or without its marker") {
    import graft.operators.{Dedup, Multimodal, Profiling, Search, Similarity, TextAnalysis}
    import graft.sources.{Sources, StoreTable}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_redeliver").toString
    def out(p: String) = s"$base/$p/out"
    def docs(rows: (Long, String, String)*) =
      rows.map { case (id, text, t) => (id, text, ts(t)) }.toDF("doc_id", "text", "ts")
    def bytes(n: Int, seed: Long): Array[Byte] = {
      var x = seed
      Array.fill(n) { x = x * 6364136223846793005L + 1442695040888963407L
        (x >>> 33).toByte }
    }
    def vec(seed: Int): Seq[Float] =
      Array.tabulate(8)(j => math.sin(seed * 7 + j).toFloat).toSeq
    def lmDoc(i: Int, p: String) =
      (i.toLong, s"the cat sat on the mat $p$i and the dog ran t${i % 5}")
    lazy val png = Multimodal.encodeSyntheticPngGroups(
      (0L until 16L).toDF("doc_id"), "doc_id").localCheckpoint()
    lazy val wav = Multimodal.encodeSyntheticWavGroups(
      (0L until 16L).toDF("doc_id"), "doc_id").localCheckpoint()
    lazy val avi = Multimodal.encodeSyntheticAviGroups(
      (0L until 16L).toDF("doc_id"), "doc_id").localCheckpoint()
    def media(m: org.apache.spark.sql.DataFrame) =
      Seq(m.filter(col("media_id").between(8, 11)),
        m.filter(col("media_id") >= 12))
    lazy val pqSeed = (1L to 20L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    lazy val pqModel = Similarity.pqFit(pqSeed.orderBy("vec_id"), "embedding",
      m = 2, ksub = 4)
    val passes = Seq(
      Redelivered("fingerprint store", "store_commits", Seq("graft_rd_fp_fps"),
        Seq(out("fp")),
        () => Dedup.writeFingerprintStore(docs((100L, "alpha doc kept",
          "2024-01-01 10:00:00")), "text", "graft_rd_fp", nBuckets = 2),
        // the second drop stays inside the first one's watermark, so the
        // last batch is the one that carries it
        Seq(docs((1L, "alpha doc kept", "2024-01-01 10:00:00"),
            (2L, "bravo new doc", "2024-01-01 10:00:05")),
          docs((3L, "charlie fresh", "2024-01-01 10:00:03"),
            (4L, "bravo new doc", "2024-01-01 10:00:04"))),
        (in, o, ck) => Streams.runStoreIngestOnce(spark, in, o, ck, "graft_rd_fp")),
      Redelivered("image", "img_commits", Seq("graft_rd_img_bands"), Seq(out("img")),
        () => Dedup.writeWideHashStore(
          Multimodal.imageDHashWide(png.filter(col("media_id") < 8)),
          "media_id", "graft_rd_img", "image_dhash", maxHamming = 6, nBuckets = 2),
        media(png),
        (in, o, ck) => Streams.runImageIngestOnce(spark, in, o, ck, "graft_rd_img")),
      Redelivered("audio", "aud_commits", Seq("graft_rd_aud_bands"), Seq(out("aud")),
        () => Dedup.writeWideHashStore(
          Multimodal.audioEnergyHashWide(wav.filter(col("media_id") < 8)),
          "media_id", "graft_rd_aud", "audio_ehash", maxHamming = 6, nBuckets = 2),
        media(wav),
        (in, o, ck) => Streams.runAudioIngestOnce(spark, in, o, ck, "graft_rd_aud")),
      Redelivered("video", "vid_commits", Seq("graft_rd_vid_bands"), Seq(out("vid")),
        () => Dedup.writeVideoHashStore(
          Multimodal.videoDHashWide(avi.filter(col("media_id") < 8), everyK = 1),
          "media_id", "graft_rd_vid", maxHamming = 6, nBuckets = 2),
        media(avi),
        (in, o, ck) => Streams.runVideoIngestOnce(spark, in, o, ck, "graft_rd_vid")),
      Redelivered("LM gate", "lm_commits", Seq("graft_rd_lm_pairs", "graft_rd_lm_ctx"),
        Seq(out("lm")),
        () => TextAnalysis.writeLmStore((1 to 50).map(i => lmDoc(i, "r"))
          .toDF("doc_id", "text"), "text", "graft_rd_lm", nBuckets = 2),
        Seq(((100 to 104).map(i => lmDoc(i, "s")) :+ (200L, "zz yy xx ww vv"))
            .toDF("doc_id", "text"),
          ((105 to 109).map(i => lmDoc(i, "s")) :+ (201L, "uu tt ss rr qq"))
            .toDF("doc_id", "text")),
        (in, o, ck) => Streams.runLmGateOnce(spark, in, o, ck, "graft_rd_lm",
          maxPpl = 30.0)),
      Redelivered("search index", "index_commits",
        Seq("graft_rd_idx_postings", "graft_rd_idx_terms"), Nil,
        () => Search.writeInvertedIndex(Seq((1L, "scan join scan"),
          (2L, "join alone")).toDF("doc_id", "text"), "doc_id", "text",
          "graft_rd_idx", nBuckets = 2),
        Seq(Seq((3L, "scan join join")).toDF("doc_id", "text"),
          Seq((4L, "scan join"), (5L, "nothing relevant")).toDF("doc_id", "text")),
        (in, _, ck) => Streams.runSearchIngestOnce(spark, in, ck, "graft_rd_idx")),
      Redelivered("SCD2", "scd2_commits", Seq("graft_rd_scd2"), Nil,
        () => Sources.writeBucketed(Sources.scd2Init(
          Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L), "graft_rd_scd2", "id", 2),
        Seq(Seq((2L, "b2", "upsert"), (3L, "c", "upsert")).toDF("id", "v", "op"),
          Seq((1L, null.asInstanceOf[String], "delete"), (3L, "c2", "upsert"))
            .toDF("id", "v", "op")),
        (in, _, ck) => Streams.runScd2IngestOnce(spark, in, ck, "graft_rd_scd2", "id")),
      Redelivered("PQ", "pq_commits", Seq("graft_rd_pq_pq"), Nil,
        () => Similarity.writePqStore(pqSeed, "vec_id", "embedding", pqModel,
          "graft_rd_pq", nBuckets = 2),
        Seq((21L to 25L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding"),
          (26L to 30L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")),
        (in, _, ck) => Streams.runPqIngestOnce(spark, in, ck, "graft_rd_pq", pqModel)),
      Redelivered("CDC", "cdc_commits", Seq("graft_rd_cdc_chunks"), Seq(out("cdc")),
        () => Dedup.writeChunkStore(Dedup.cdcChunks((1L to 6L)
          .map(i => (i, bytes(1500, i))).toDF("doc_id", "blob"), "doc_id", "blob"),
          "graft_rd_cdc", nBuckets = 2),
        Seq(Seq((100L, bytes(1500, 77L)), (101L, Array[Byte](9) ++ bytes(1500, 3L)))
            .toDF("doc_id", "blob"),
          Seq((102L, bytes(1500, 78L) ++ bytes(500, 77L)))
            .toDF("doc_id", "blob")),
        (in, o, ck) => Streams.runCdcIngestOnce(spark, in, ck, "graft_rd_cdc", o)),
      Redelivered("frequency", "freq_commits", Seq("graft_rd_freq"), Nil,
        () => Profiling.writeFrequencyStore((1 to 300).map(i => s"s${i % 29}")
          .toDF("v"), col("v"), "graft_rd_freq", eps = 0.01),
        Seq((1 to 200).map(i => s"t${i % 31}").toDF("v"),
          (1 to 200).map(i => s"u${i % 17}").toDF("v")),
        (in, _, ck) => Streams.runFreqIngestOnce(spark, in, ck, "graft_rd_freq",
          "v", eps = 0.01, confidence = 0.99, seed = 42)),
      Redelivered("cardinality", "card_commits", Seq("graft_rd_card"), Nil,
        () => Profiling.writeCardinalityStore((1 to 200)
          .map(i => (s"g${i % 2}", s"s${i % 30}")).toDF("g", "v"), "g", col("v"),
          "graft_rd_card", lgK = 12),
        Seq((1 to 200).map(i => (s"g${i % 2}", s"t${i % 25}")).toDF("g", "v"),
          (1 to 200).map(i => (s"g${i % 3}", s"u${i % 20}")).toDF("g", "v")),
        (in, _, ck) => Streams.runCardIngestOnce(spark, in, ck, "graft_rd_card",
          "g", "v", lgK = 12)))
    assert(passes.map(_.markerDir).distinct.length == 11)

    def cell(v: Any): String = v match {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case null => "null"
      case other => other.toString
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(cell).mkString("|")).toSeq.sorted
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def delete(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      fs.delete(path, false)
      fs.delete(new org.apache.hadoop.fs.Path(path.getParent, s".${path.getName}.crc"), false)
    }
    try passes.foreach { p =>
      val dir = s"$base/${p.markerDir}"
      val (in, ckpt) = (s"$dir/in", s"$dir/ckpt")
      val o = p.outputs.headOption.getOrElse(s"$dir/unused")
      p.tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      p.seed()
      p.drops.foreach { d =>
        d.write.mode("append").parquet(in)
        p.run(in, o, ckpt)
      }
      def snapshot: Seq[String] = {
        p.tables.foreach(t => spark.catalog.refreshTable(t))
        p.tables.flatMap(t => rows(spark.table(t)) ++
          StoreTable.props(spark, t).toSeq.sorted.map(_.toString)) ++
          p.outputs.flatMap(d => rows(spark.read.parquet(d)))
      }
      val before = snapshot
      val last = fs.listStatus(new org.apache.hadoop.fs.Path(s"$ckpt/commits"))
        .map(_.getPath.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
      // redelivery on the marker fast path: the checkpoint lost the last
      // batch's commit, its marker survives
      delete(s"$ckpt/commits/$last")
      p.run(in, o, ckpt)
      assert(snapshot == before, s"${p.name}: marker-path redelivery changed the store or output")
      // a crash between the store write and the marker: only the in-data
      // or content-keyed gate stands between the replay and a double write
      delete(s"$ckpt/commits/$last")
      delete(s"$ckpt/${p.markerDir}/$last")
      p.run(in, o, ckpt)
      assert(snapshot == before, s"${p.name}: gate-path redelivery changed the store or output")
    } finally passes.flatMap(_.tables)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
