package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.sources.StoreTable

/** [EXT] Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props). The reference has no
  * streaming at all (SURVEY.md §2.9) — this is the Spark-native extension:
  * watermarks + windowed aggregation, session windows, and custom state via
  * `flatMapGroupsWithState`.
  *
  * Every transform here takes a DataFrame, so it runs identically on a batch
  * read (testable against the DuckDB oracle — `window()`/`session_window()`
  * are valid batch expressions) and on `spark.readStream` input; the tests
  * drive both a batch and a MemoryStream run. State size is bounded by the
  * watermark: Spark evicts window/session state older than it, which is what
  * makes these plans safe on an unbounded 100 TB/day stream.
  */
object Streams {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** apply the event-time watermark unless the input already carries one:
    * Spark allows a single watermark DEFINITION per streaming plan
    * ("Redefining watermark is disallowed"), so composable transforms —
    * e.g. [[curatedIngest]] chained into [[streamingDedupAgainstStore]] in
    * ONE query — must not re-mark an already-marked stream. The upstream
    * mark governs eviction for every downstream stateful operator — but only
    * if it is the SAME mark the caller asked for: an upstream watermark on a
    * different timestamp column would silently change this transform's
    * eviction horizon, so that fails loudly; a different delay on the same
    * column is legitimate composition (the upstream definition wins by
    * Spark's rule) and is logged instead. */
  private def ensureWatermark(df: DataFrame, tsCol: String,
                              delay: String): DataFrame = {
    val existing = df.queryExecution.logical.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => e
    }
    existing match {
      case None => df.withWatermark(tsCol, delay)
      case Some(e) =>
        // compare with the session's resolver (case-insensitive under the
        // default spark.sql.caseSensitive=false) — Spark resolves column
        // names that way, so withWatermark("TS") + a transform asking for
        // "ts" is the SAME column, not a mismatch
        val resolver = df.sparkSession.sessionState.analyzer.resolver
        require(resolver(e.eventTime.name, tsCol),
          s"stream already carries a watermark on '${e.eventTime.name}' but " +
            s"this transform requires one on '$tsCol' — the upstream mark " +
            "would govern a different event-time column's eviction; " +
            "watermark the intended column upstream or drop the earlier mark")
        val requested = org.apache.spark.sql.catalyst.util.IntervalUtils
          .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(delay))
        if (e.delay != requested)
          logger.warn(s"stream already watermarked on '$tsCol' with delay " +
            s"${e.delay}; upstream definition wins over requested '$delay'")
        df
    }
  }

  /** tumbling-window counts/sums per event type. Streaming: append mode once
    * the watermark passes window end. */
  def tumblingAgg(events: DataFrame, windowLen: String = "1 hour",
                  watermark: String = "10 minutes",
                  streaming: Boolean = false): DataFrame = {
    val src = if (streaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // exact integer-cents sum → order-independent double at the end
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** sliding-window aggregation. */
  def slidingAgg(events: DataFrame, windowLen: String = "1 hour",
                 slide: String = "30 minutes",
                 watermark: String = "10 minutes",
                 streaming: Boolean = false): DataFrame = {
    val src = if (streaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))
  }

  /** session windows per user (gap-based). `session_window` is valid in batch
    * too, which is how the oracle checks it (gaps-and-islands SQL). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "10 minutes",
                 streaming: Boolean = false): DataFrame = {
    val src = if (streaming) events.withWatermark("ts", watermark) else events
    src.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("user_id"), col("n_events"), col("sum_value"))
  }

  /** streaming exact dedup: drop rows whose dedup key was already seen
    * within the watermark horizon — the streaming analogue of
    * [[graft.operators.Dedup.exactDedup]] for an ingest pipeline (dedupe
    * events/documents as they arrive). State is BOUNDED: Spark evicts a
    * key's state once the watermark passes it plus `delay`, so memory is
    * proportional to keys seen within one delay window, not the stream's
    * lifetime. Duplicates farther apart than `delay` are not caught — that
    * is the documented contract of dropDuplicatesWithinWatermark, and the
    * batch backfill (exactDedup) catches them offline. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String], tsCol: String,
                     delay: String = "10 minutes"): DataFrame =
    ensureWatermark(events, tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** streaming NEAR-dup dedup on document content: key the watermarked
    * dedup on the fused SimHash signature
    * ([[graft.functions.SimHashTokensExpr]] — a pure codegen'd projection,
    * so it composes with any streaming source) instead of an exact key.
    * Documents whose token sets vote to the same 64-bit signature within
    * the watermark horizon collapse to the first arrival; state stays
    * bounded exactly as in [[streamingDedup]]. Ingest-time matching stays
    * hamming-0 BY DESIGN: banded hamming ≤ k matching places each doc in
    * k+1 band buckets, and a drop decision needs consensus ACROSS buckets
    * (any bucket may hold the match) — in streaming that is a second
    * stateful stage plus a per-doc vote combine, 4× the state and an extra
    * shuffle per microbatch, for a pass that is only the cheap prefilter.
    * Hamming ≤ k near-dup matching runs in the batch compaction over the
    * ingested corpus ([[graft.operators.Dedup.simhashHammingPairs]] — the
    * pigeonhole-banded search), where the candidate self-join is one
    * bucket-local batch shuffle. */
  def streamingSimhashDedup(docs: DataFrame, textCol: String, tsCol: String,
                            delay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val toks = graft.operators.TextAnalysis.tokens(
      graft.operators.TextAnalysis.normalized(col(textCol)))
    docs
      .withColumn("__simhash", GraftSqlBridge.column(
        graft.functions.SimHashTokensExpr(GraftSqlBridge.expression(toks))))
      .transform(ensureWatermark(_, tsCol, delay))
      .dropDuplicatesWithinWatermark("__simhash")
      .drop("__simhash")
  }

  /** the streaming twin of a key-set store probe: a stream-static
    * anti-join on the store's own bucket column drops every arriving doc
    * whose `key` the kept corpus already holds, then in-watermark dedup
    * collapses same-key repeats within the stream. The static side is the
    * bucketed store table, re-planned per micro-batch: an append from THIS
    * session (e.g. the batch compaction running in the same app)
    * invalidates the session's file-index cache on write and is visible at
    * the next trigger — the StreamsSpec test proves the mid-stream-append
    * case. An append from a SEPARATE process does not invalidate this
    * session's cache; call `spark.catalog.refreshTable` on the store table
    * (e.g. from a foreachBatch hook) to pick it up without restarting the
    * query. State = one watermark horizon of keys, never the store (the
    * store side is stateless in a stream-static join). */
  private def streamingKeySetAgainst(docs: DataFrame, key: Column,
                                     spec: graft.sources.StoreSpec,
                                     tsCol: String, delay: String): DataFrame = {
    val spark = docs.sparkSession
    spec.check(spark)
    val k = spec.tables.head.key
    graft.operators.Dedup.keyed(docs, spec, key)
      .join(spark.table(spec.table).withColumnRenamed(k, s"__$k"),
        Seq(s"__$k"), "left_anti")
      .transform(ensureWatermark(_, tsCol, delay))
      .dropDuplicatesWithinWatermark(s"__$k")
      .drop(s"__$k")
  }

  /** streaming ingest dedup against the PERSISTED fingerprint store
    * ([[graft.operators.Dedup.writeFingerprintStore]]) — the streaming twin
    * of [[graft.operators.Dedup.exactDedupAgainst]] through
    * [[streamingKeySetAgainst]]. */
  def streamingDedupAgainstStore(docs: DataFrame, textCol: String,
                                 tsCol: String, store: String,
                                 delay: String = "10 minutes"): DataFrame =
    streamingKeySetAgainst(docs,
      graft.operators.TextAnalysis.fingerprint(col(textCol)),
      graft.operators.Dedup.fingerprintStore(store), tsCol, delay)

  /** streaming ingest NEAR-dup dedup against the PERSISTED simhash store
    * ([[graft.operators.Dedup.writeSimhashStore]]) — the streaming twin of
    * [[graft.operators.Dedup.simhashDedupAgainst]] through
    * [[streamingKeySetAgainst]]: arriving docs whose TOKEN SET the kept
    * corpus already holds (hamming-0 near-copies — reorderings and other
    * set-preserving variants the fingerprint store misses) drop. The plan
    * signs with the production (xxhash64) kernel, so the store must be
    * built with `portable = false`: a portable store's md5 signatures never
    * match, and it is refused by name. */
  def streamingSimhashDedupAgainstStore(docs: DataFrame, textCol: String,
                                        tsCol: String, store: String,
                                        delay: String = "10 minutes"): DataFrame =
    streamingKeySetAgainst(docs,
      graft.operators.Dedup.simhashCol(col(textCol)),
      graft.operators.Dedup.simhashStore(store, portable = false), tsCol, delay)

  /** streaming ingest NEAR-dup dedup against the PERSISTED embedding store
    * ([[graft.operators.Dedup.writeEmbeddingStore]]) — the streaming twin of
    * [[graft.operators.Dedup.embeddingNearDupAgainst]], completing the
    * store-family streaming symmetry (exact fingerprint / simhash /
    * embedding). The arriving vector's POOLED hyperplane signature (all
    * bandBits×bands bits, one codegen'd projection) equi-joins the store's
    * vectors re-signed with the same planes, and the exact cosine ≥
    * threshold verify rides the join condition — so the anti-join is a
    * hash join on the signature, never a broadcast nested loop over the
    * store. Matching is signature-equality BY DESIGN, the
    * [[streamingSimhashDedup]] argument verbatim: banded (partial-band)
    * matching needs a drop decision with consensus ACROSS band buckets —
    * in streaming that is a second stateful stage and an extra shuffle per
    * micro-batch; the banded hamming-tolerant pass runs in the batch
    * compaction over the ingested corpus
    * ([[graft.operators.Dedup.embeddingNearDupAgainst]]), where it is one
    * bucket-local shuffle. A cosine-1.0 re-key (identical vector under a
    * new id) signs identically and drops here even after the in-stream
    * watermark state evicted it — the store is the long-term memory
    * (StreamsSpec plant). In-watermark repeats collapse on the signature. */
  def streamingEmbeddingDedupAgainstStore(vecs: DataFrame, vecCol: String,
                                          tsCol: String, store: String,
                                          threshold: Double, dim: Int,
                                          bandBits: Int = 16, bands: Int = 4,
                                          seed: Long = 42L,
                                          delay: String = "10 minutes"): DataFrame = {
    val spark = vecs.sparkSession
    // this twin reads only `_vecs` (no id column), and a store written
    // before the `enc` format key is accepted: its fallback below covers
    // vecs written before `fullsig`
    graft.operators.Dedup.embeddingStore(store, idCol = "", vecCol, dim,
      bandBits, bands, seed).copy(required = Set.empty).check(spark)
    val sig = (c: Column) =>
      graft.operators.Similarity.lshSignature(c, dim, bandBits * bands, seed)
    // the store persists the pooled signature (writeEmbeddingStore) so the
    // static build side is a column read, not bandBits×bands dot products
    // over the whole store per micro-batch; stores written before the
    // column existed fall back to the projection
    val vecsTable = spark.table(s"${store}_vecs")
    val stored =
      if (vecsTable.columns.contains("fullsig"))
        vecsTable.select(col("fullsig").as("__ssig"), col("vec").as("__sv"))
      else vecsTable.select(sig(col("vec")).as("__ssig"), col("vec").as("__sv"))
    vecs
      .withColumn("__fullsig", sig(col(vecCol)))
      .join(stored,
        col("__fullsig") === col("__ssig") &&
          graft.operators.Similarity.cosine(col(vecCol), col("__sv")) >= threshold,
        "left_anti")
      .transform(ensureWatermark(_, tsCol, delay))
      .dropDuplicatesWithinWatermark("__fullsig")
      .drop("__fullsig")
  }

  /** stream-stream INNER interval join, generic form: rows of `left` joined
    * to rows of `right` with equal `leftKey`/`rightKey` and
    * `rightTs ∈ [leftTs, leftTs + horizon]`. In streaming mode BOTH sides
    * carry watermarks and the join condition bounds event time on both
    * sides, which is exactly what lets Spark evict join state: a buffered
    * left row is droppable once the right watermark passes `leftTs +
    * horizon`, a right row once the left watermark passes `rightTs` — state
    * is proportional to one horizon+delay window of traffic, never the
    * stream's lifetime. Column names must be disjoint (callers project
    * first); ts columns must be distinct names so both appear in output. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   horizon: String,
                   watermark: String = "10 minutes",
                   streaming: Boolean = false): DataFrame = {
    val lw = if (streaming) left.withWatermark(leftTs, watermark) else left
    val rw = if (streaming) right.withWatermark(rightTs, watermark) else right
    lw.join(rw,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $horizon"))
  }

  /** ATTRIBUTION join over the events shape: each `fromType` event paired
    * with the same user's `toType` events within `horizon` after it (the
    * click→purchase conversion join every event pipeline runs). Batch and
    * streaming run the same plan; the batch form is the DuckDB-oracle
    * surface (q_interval_join), the streaming form is the watermarked
    * stream-stream join proven stream ≡ batch in StreamsSpec. */
  def attributionJoin(events: DataFrame, fromType: String, toType: String,
                      horizon: String = "1 hour",
                      watermark: String = "10 minutes",
                      streaming: Boolean = false): DataFrame = {
    val l = events.filter(col("event_type") === fromType)
      .select(col("user_id"), col("event_id").as("from_id"),
        col("ts").as("from_ts"))
    val r = events.filter(col("event_type") === toType)
      .select(col("user_id").as("__ruid"), col("event_id").as("to_id"),
        col("ts").as("to_ts"), col("value"))
    intervalJoin(l, r, "user_id", "__ruid", "from_ts", "to_ts",
        horizon, watermark, streaming)
      .select(col("user_id"), col("from_id"), col("to_id"),
        col("from_ts"), col("to_ts"), col("value"))
  }

  /** STREAMING INGEST twin of [[graft.operators.Curation.curateFull]]'s
    * front half: the stages that are pure per-row projections or
    * watermark-bounded state — language gate, heuristic quality gate,
    * learned quality filter (the hashed-bucket linear model: literals +
    * codegen, streams trivially), then in-watermark SimHash content dedup —
    * run AT INGEST, so the batch compaction (near-dup banding, span dedup,
    * decontamination — stages that need corpus-global candidate joins)
    * starts from a pre-filtered, locally-deduplicated stream sink. This
    * split is the standard architecture: per-row + bounded-state stages
    * stream; corpus-global stages batch. */
  def curatedIngest(docs: DataFrame, textCol: String, tsCol: String,
                    modelWeightsMicros: Seq[Long],
                    keepLogit: Double = 0.0,
                    lang: String = "en", minQuality: Double = 0.6,
                    delay: String = "10 minutes"): DataFrame = {
    import graft.operators.{Curation, TextAnalysis}
    // the batch curation gate, each kernel once per row: row-local, so it
    // streams. The model score is the codegen'd HashedQualityExpr the batch
    // scorer runs, so StreamsSpec's batch/stream logit-parity pin is
    // equality of one shared kernel. NULL text fails the language gate.
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))
    val kept = Curation.gate(docs.withColumn("__toks", toks), col(textCol),
        lang, minQuality, Some((modelWeightsMicros, keepLogit)))
      .filter(col("__keep"))
      .drop("__toks" +: Curation.GateCols: _*)
    streamingSimhashDedup(kept, textCol, tsCol, delay)
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** custom state: running per-user totals via flatMapGroupsWithState.
    * State IS evicted: EventTimeTimeout + a per-user timeout set `idleTTL`
    * past the user's latest event time — once the watermark passes it, the
    * user's state is dropped, so state size is bounded by the number of users
    * active within one TTL window (the property that makes this safe on an
    * unbounded 100 TB/day stream). Streaming callers must put
    * `.withWatermark("ts", ...)` on the input; in batch mode timeouts are
    * ignored (state is transient anyway).
    * Accumulates exact integer cents so the result is independent of the
    * (arbitrary) iterator order within a group. */
  def runningUserTotals(events: Dataset[Event],
                        idleTTL: String = "1 hour"): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ttlMs = {
      val parts = idleTTL.trim.toLowerCase.split("\\s+")
      val n = parts(0).toLong
      parts.lift(1).getOrElse("ms") match {
        case u if u.startsWith("day")  => n * 86400000L
        case u if u.startsWith("hour") => n * 3600000L
        case u if u.startsWith("min")  => n * 60000L
        case u if u.startsWith("sec")  => n * 1000L
        case _                         => n
      }
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, it: Iterator[Event], state: GroupState[UserRunning]) => {
          if (state.hasTimedOut) {
            state.remove() // watermark passed the user's TTL: evict
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
            var n = prev.n_events
            // math.round = HALF_UP, matching every other money path and the
            // DuckDB oracle's round(); rint (HALF_EVEN) diverges on exact .5
            var cents = math.round(prev.total_value * 100)
            var maxTs = Long.MinValue
            it.foreach { e =>
              n += 1; cents += math.round(e.value * 100)
              if (e.ts.getTime > maxTs) maxTs = e.ts.getTime
            }
            val next = UserRunning(uid, n, cents / 100.0)
            state.update(next)
            if (maxTs != Long.MinValue)
              try state.setTimeoutTimestamp(maxTs + ttlMs)
              catch { case _: UnsupportedOperationException => () } // batch mode
            Iterator(next)
          }
        })
  }

  /** carried run state for [[streamingDedupConsecutive]]: the key's last
    * seen event type (None only before the first event). */
  case class RunState(lastType: Option[String])

  /** streaming twin of [[graft.operators.Analytics.dedupConsecutive]]:
    * drop consecutive same-type repeats per key AT INGEST (at-least-once
    * emitters, UI chatter) so downstream transition/funnel state never
    * sees the noise. Within each micro-batch the group's rows are sorted
    * by (ts, event_id) — the house total order — before comparing against
    * the CARRIED last type, so in-batch disorder is handled exactly;
    * cross-batch reordering inside the watermark is not re-sorted (the
    * [[streamingDedup]] caveat class — dedup the batch way downstream if
    * late cross-batch inversions matter).
    *
    * State is ONE Option[String] per key, evicted by EventTimeTimeout
    * `idleTTL` past the key's latest event — after eviction the next
    * event starts a new run (kept), so pick a TTL above the longest
    * in-run gap. Streaming callers must `.withWatermark("ts", …)`. */
  def streamingDedupConsecutive(events: Dataset[Event],
                                idleTTL: String = "1 hour"): Dataset[Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ttlMs = {
      val parts = idleTTL.trim.toLowerCase.split("\\s+")
      val n = parts(0).toLong
      parts.lift(1).getOrElse("ms") match {
        case u if u.startsWith("day")  => n * 86400000L
        case u if u.startsWith("hour") => n * 3600000L
        case u if u.startsWith("min")  => n * 60000L
        case u if u.startsWith("sec")  => n * 1000L
        case _                         => n
      }
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Long, it: Iterator[Event], state: GroupState[RunState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = it.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            var last = state.getOption.getOrElse(RunState(None)).lastType
            val kept = batch.filter { e =>
              val keep = !last.contains(e.event_type)
              last = Some(e.event_type)
              keep
            }
            state.update(RunState(last))
            if (batch.nonEmpty) {
              val maxTs = batch.map(_.ts.getTime).max
              try state.setTimeoutTimestamp(maxTs + ttlMs)
              catch { case _: UnsupportedOperationException => () } // batch mode
            }
            kept.iterator
          }
        })
  }

  /** run any batch-compatible transform as a real streaming query against a
    * directory of parquet (file source), sinking to memory — used by tests
    * to prove the streaming path works end to end. */
  def runFileStream(spark: SparkSession, dir: String,
                    transform: DataFrame => DataFrame,
                    queryName: String, outputMode: String = "append"): Unit = {
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = transform(stream).writeStream
      .outputMode(outputMode).format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
  }

  /** file-source → parquet-sink streaming run with a CHECKPOINT: process
    * everything currently available, then stop (≈ the query being killed
    * between micro-batches). Calling again with the same checkpoint + output
    * resumes from the recorded source offsets, and the parquet sink's
    * `_spark_metadata` commit log makes the output transactional — a batch
    * is visible to readers exactly once, so a kill-and-restart cycle never
    * duplicates already-committed input files and never drops new ones.
    * This is the recovery contract a 100 TB ingest pipeline runs on; the
    * StreamsSpec restart test drives it against the batch oracle. */
  def runFileStreamOnce(spark: SparkSession, inDir: String, outDir: String,
                        checkpointDir: String,
                        transform: DataFrame => DataFrame): Unit = {
    val schema = spark.read.parquet(inDir).schema
    val q = transform(spark.readStream.schema(schema).parquet(inDir))
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** The one micro-batch driver of the store-backed streaming passes:
    * stream the parquet files of `inDir` through `source`, and run `apply`
    * once per micro-batch, then process everything available and stop (≈
    * the query being killed between micro-batches). Calling again with the
    * same checkpoint resumes from the recorded source offsets.
    *
    * Crash contract. foreachBatch is at-least-once: a crash after `apply`
    * but before the checkpoint commit redelivers the batch, under the same
    * batchId, on restart. Two layers make each pass exactly-once:
    *  - the commit marker `checkpointDir/markerDir/<batchId>`, written after
    *    `apply`, is the fast path: a marked batch skips `apply` and is only
    *    drained, so a stateful `source` still commits its state for the
    *    batch (Spark fails a stateful batch whose state stores never
    *    commit). Markers live under the checkpoint, so they recover or
    *    reset together with the batchId sequence;
    *  - the gate of each pass absorbs a crash between its store write and
    *    the marker, and a wiped checkpoint over an unchanged input set:
    *    - the tagged appends (search index, PQ, CDC, LM counts, sketches)
    *      go through [[graft.sources.StoreTable.appendOnce]]'s in-data
    *      `__batch` gate;
    *    - the fingerprint and media stores are content-keyed: a replayed
    *      batch self-matches its own appended store rows, so the probe drops
    *      it whole, and its survivor manifest is written BEFORE the store
    *      append (with append first, a crash before the manifest would lose
    *      the survivors for good);
    *    - the LM gate is read-only: the store is never written, and a
    *      replay rewrites identical manifest content;
    *    - SCD2 skips a batch whose version already appears in the history's
    *      `valid_from` or `valid_to`.
    * Manifests overwrite their own `__batch=<id>` partition
    * ([[writeManifest]]). The gates assume a stable batchId → content
    * mapping, which one checkpoint lineage guarantees. `tables` are
    * refreshed before the stream binds and after every applied batch, so
    * the next micro-batch and the caller see the appended files. */
  private def ingestOnce(spark: SparkSession, inDir: String,
                         checkpointDir: String, markerDir: String,
                         tables: Seq[String],
                         source: DataFrame => DataFrame = identity)
                        (apply: (DataFrame, Long) => Unit): Unit = {
    val schema = spark.read.parquet(inDir).schema
    tables.foreach(spark.catalog.refreshTable)
    val markers = new org.apache.hadoop.fs.Path(checkpointDir, markerDir)
    val q = source(spark.readStream.schema(schema).parquet(inDir)).writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        val fs = markers.getFileSystem(s.sessionState.newHadoopConf())
        val marker = new org.apache.hadoop.fs.Path(markers, batchId.toString)
        if (fs.exists(marker)) batch.write.format("noop").mode("overwrite").save()
        else {
          apply(batch.toDF(), batchId)
          fs.mkdirs(markers)
          fs.createNewFile(marker)
          tables.foreach(s.catalog.refreshTable)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** overwrite batch `batchId`'s own `__batch=<id>` partition of `outDir`
    * (dynamic partition overwrite): a redelivered batch rewrites its
    * partition instead of appending duplicates, and an empty frame writes
    * no partition, so it leaves the original in place. */
  private def writeManifest(rows: DataFrame, batchId: Long,
                            outDir: String): Unit =
    rows.withColumn("__batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch").parquet(outDir)

  /** one pass of store-backed streaming ingest with the survivor append
    * CLOSED INTO THE LOOP: each micro-batch is deduped against the persisted
    * fingerprint store ([[streamingDedupAgainstStore]] — stream-static
    * anti-join + in-watermark dedup), survivors land in `outDir` AND their
    * fingerprints append to the bucketed store, so the NEXT micro-batch
    * (and the next restart) dedups against them too — the full production
    * ingest shape, previously only proven on the batch side. Crash
    * contract: [[ingestOnce]] (content-keyed). */
  def runStoreIngestOnce(spark: SparkSession, inDir: String, outDir: String,
                         checkpointDir: String, store: String,
                         textCol: String = "text", tsCol: String = "ts",
                         delay: String = "10 minutes"): Unit =
    ingestOnce(spark, inDir, checkpointDir, "store_commits",
      Seq(s"${store}_fps"),
      streamingDedupAgainstStore(_, textCol, tsCol, store, delay)) {
      (batch, batchId) =>
        val b = batch.persist()
        try {
          writeManifest(b, batchId, outDir)
          val spec = graft.operators.Dedup.fingerprintStore(store)
          spec.appendOnce(graft.operators.Dedup.keyed(b, spec,
            graft.operators.TextAnalysis.fingerprint(col(textCol))))
        } finally b.unpersist()
    }

  /** the shared body of the MEDIA streaming store-twins
    * ([[runImageIngestOnce]] / [[runAudioIngestOnce]] /
    * [[runVideoIngestOnce]]): each micro-batch of media rows is hashed
    * (`hashFn` — real decode in the micro-batch's own executors), probed
    * against the banded store WITHOUT updating it (`probe` at
    * updateStore = false), the surviving (genuinely new) ids land in
    * `outDir`, and only THEN do the survivors' banded hashes append to the
    * store — so the next micro-batch and the next restart dedup against
    * them too. The replay is content-keyed ([[ingestOnce]]).
    *
    * A PARTIAL window remains: if the store append itself crashes after
    * some of its task files became visible, redelivery self-matches those
    * hashes and the dynamic-overwrite manifest rewrite replaces the batch
    * partition with the reduced survivor set — ids whose hashes landed in
    * the store vanish from the manifest. Skipping the rewrite when the
    * partition already exists would close it but opens the
    * restarted-checkpoint trap (a fresh checkpoint reuses batchId 0 with
    * different data and the stale partition would mask it), so the
    * residual is accepted: it requires a crash INSIDE one append job, and
    * recovery is re-running the batch after deleting its partition + store
    * batch rows in the maintenance window. Survivor ids are
    * localCheckpoint-pinned so the append cannot re-run the probe against
    * the store it is mutating. */
  private def mediaBatch(outDir: String, idCol: String,
                         hashFn: DataFrame => DataFrame,
                         probe: DataFrame => DataFrame,
                         append: DataFrame => Unit)
                        (batch: DataFrame, batchId: Long): Unit = {
    val hashes = hashFn(batch).localCheckpoint()
    val survivorIds = probe(hashes).localCheckpoint()
    writeManifest(survivorIds, batchId, outDir)
    append(hashes.join(survivorIds, Seq(idCol), "left_semi"))
  }

  /** one pass of streaming IMAGE ingest against the perceptual-hash store
    * ([[graft.operators.Dedup.writeWideHashStore]] at kind `image_dhash`)
    * — the image member of the streaming store-twin family
    * ([[mediaBatch]]). */
  def runImageIngestOnce(spark: SparkSession, inDir: String, outDir: String,
                         checkpointDir: String, store: String,
                         maxHamming: Int = 6): Unit =
    ingestOnce(spark, inDir, checkpointDir, "img_commits",
      Seq(s"${store}_bands"))(mediaBatch(outDir, "media_id",
      b => graft.operators.Multimodal.imageDHashWide(b),
      h => graft.operators.Dedup.wideHashDedupAgainst(
        h, "media_id", store, "image_dhash", maxHamming, updateStore = false),
      h => graft.operators.Dedup.appendWideHashes(
        h, "media_id", store, "image_dhash", maxHamming)))

  /** one pass of streaming AUDIO ingest against the energy-envelope hash
    * store ([[graft.operators.Dedup.writeWideHashStore]] at kind
    * `audio_ehash`) — the audio member of the streaming store-twin family
    * ([[mediaBatch]]). */
  def runAudioIngestOnce(spark: SparkSession, inDir: String, outDir: String,
                         checkpointDir: String, store: String,
                         maxHamming: Int = 6): Unit =
    ingestOnce(spark, inDir, checkpointDir, "aud_commits",
      Seq(s"${store}_bands"))(mediaBatch(outDir, "media_id",
      b => graft.operators.Multimodal.audioEnergyHashWide(b),
      h => graft.operators.Dedup.wideHashDedupAgainst(
        h, "media_id", store, "audio_ehash", maxHamming, updateStore = false),
      h => graft.operators.Dedup.appendWideHashes(
        h, "media_id", store, "audio_ehash", maxHamming)))

  /** one pass of streaming VIDEO ingest against the per-frame hash store
    * ([[graft.operators.Dedup.writeVideoHashStore]]) — the video member of
    * the streaming store-twin family ([[mediaBatch]]; the probe's
    * short-clip vote clamp in [[graft.operators.Dedup.videoDedupAgainst]]
    * is what makes a replayed clip self-match regardless of its frame
    * count). */
  def runVideoIngestOnce(spark: SparkSession, inDir: String, outDir: String,
                         checkpointDir: String, store: String,
                         maxHamming: Int = 6,
                         minMatchedFrames: Int = 3,
                         // the frame-sampling rate — persisted as a store
                         // build param, so a stream probing a store built
                         // at a different everyK refuses loudly instead of
                         // silently diluting the frame-aligned vote
                         everyK: Int = 1): Unit =
    ingestOnce(spark, inDir, checkpointDir, "vid_commits",
      Seq(s"${store}_bands"))(mediaBatch(outDir, "media_id",
      b => graft.operators.Multimodal.videoDHashWide(b, everyK = everyK),
      h => graft.operators.Dedup.videoDedupAgainst(
        h, "media_id", store, maxHamming, minMatchedFrames,
        updateStore = false, everyK = everyK),
      h => graft.operators.Dedup.appendVideoFrameHashes(
        h, "media_id", store, maxHamming, everyK = everyK)))

  /** one pass of STREAMING CURATION gated by the persisted corpus LM
    * ([[graft.operators.TextAnalysis.writeLmStore]]): each micro-batch is
    * perplexity-gated against the FIXED store
    * ([[graft.operators.TextAnalysis.lmPerplexityAgainst]] — CCNet
    * semantics; a refit-per-micro-batch gate would move its threshold
    * with every batch's composition, which is exactly what a streaming
    * pass cannot tolerate) and the kept rows land in `outDir`. The store
    * is read-only, so a replay rewrites identical content ([[ingestOnce]]). */
  def runLmGateOnce(spark: SparkSession, inDir: String, outDir: String,
                    checkpointDir: String, store: String,
                    maxPpl: Double,
                    idCol: String = "doc_id",
                    textCol: String = "text"): Unit =
    ingestOnce(spark, inDir, checkpointDir, "lm_commits",
      Seq(s"${store}_pairs", s"${store}_ctx")) { (b, batchId) =>
      val kept = graft.operators.TextAnalysis.lmPerplexityAgainst(
          b, idCol, textCol, store, maxPpl)
        .filter(col("kept")).select(idCol)
      writeManifest(b.join(kept, Seq(idCol), "left_semi"), batchId, outDir)
    }

  /** one pass of streaming ingest into the SEARCH index: each micro-batch's
    * postings append to the inverted index
    * ([[graft.operators.Search.appendInvertedIndex]] at the batchId).
    * Exactly-once is correctness-critical here, not hygiene: duplicate
    * POSTINGS would inflate every affected term's tf and doc-freq
    * ([[ingestOnce]]: in-data gate). */
  def runSearchIngestOnce(spark: SparkSession, inDir: String,
                          checkpointDir: String, store: String,
                          idCol: String = "doc_id",
                          textCol: String = "text"): Unit =
    ingestOnce(spark, inDir, checkpointDir, "index_commits",
      Seq(s"${store}_postings", s"${store}_terms")) { (b, batchId) =>
      graft.operators.Search.appendInvertedIndex(b, idCol, textCol, store, batchId)
    }

  /** one pass of streaming CDC ingest into the SCD2 HISTORY store: each
    * micro-batch of change rows (payload columns + `opCol` ∈ {"upsert",
    * "delete"}) merges via [[graft.sources.Sources.scd2MergeIntoStore]]
    * at version batch = batchId + 1, so a history seeded with
    * `scd2Init(snapshot, batch = 0)` sorts strictly before every stream
    * batch and batchIds continue monotonically across restarts (they come
    * from the checkpoint).
    *
    * Exactly-once is correctness-critical: re-merging an applied batch b
    * would close every version it opened at valid_to = b (a degenerate
    * empty interval) AND open duplicate versions. A batch whose version
    * already appears in the history's valid_from or valid_to has been
    * applied — the probe and the merge read the same table, so recovery is
    * exact even from a crash between the store swap and the marker (an
    * empty redelivered batch leaves no trace, and re-merging nothing is a
    * no-op). Replaying DIFFERENT data under an applied version number is
    * operator error, as in any CDC system ([[ingestOnce]]). The
    * interrupted-swap repair ([[graft.sources.StoreTable.recoverStoreSwap]])
    * runs before the stream binds and inside scd2MergeIntoStore. */
  def runScd2IngestOnce(spark: SparkSession, inDir: String,
                        checkpointDir: String, table: String,
                        keyCol: String, opCol: String = "op"): Unit = {
    StoreTable.recoverStoreSwap(spark, table)
    ingestOnce(spark, inDir, checkpointDir, "scd2_commits", Seq(table)) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val b = batchId + 1L
        val applied = graft.sources.Sources.openStoreTable(s, table)
          .filter(col("valid_from") === b || col("valid_to") === b)
          .take(1).nonEmpty
        if (!applied)
          graft.sources.Sources.scd2MergeIntoStore(s, table, batch, keyCol, b, opCol)
    }
  }

  /** one pass of streaming ANN-index ingest: each micro-batch of vector
    * rows is PQ-ENCODED under the fingerprint-checked model and appended
    * to the [[graft.operators.Similarity.writePqStore]] code store via
    * [[graft.operators.Similarity.appendPqStore]] at the batchId
    * ([[ingestOnce]]: in-data gate). Probes see each batch's vectors as
    * soon as its append commits; the codebooks are FROZEN at fit time
    * (re-fitting requires a store rebuild, which the fingerprint check
    * enforces loudly). */
  def runPqIngestOnce(spark: SparkSession, inDir: String,
                      checkpointDir: String, store: String,
                      model: graft.operators.Similarity.PqModel,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit =
    ingestOnce(spark, inDir, checkpointDir, "pq_commits", Seq(s"${store}_pq")) {
      (b, batchId) =>
        graft.operators.Similarity.appendPqStore(b, idCol, vecCol, model, store, batchId)
    }

  /** one pass of streaming BYTE-LEVEL ingest admission: each micro-batch
    * of blob rows runs the tagged [[graft.operators.Dedup.cdcDedupAgainst]]
    * (chunk, probe the accreted chunk store, append the store-new chunks)
    * at the batchId ([[ingestOnce]]: in-data gate; the probe excludes the
    * batch's own rows, so a replay reports what the first run reported).
    * The per-batch admission reports are the streaming byproduct a 100 TB
    * ingest alerts on ("this crawl is 95% dup bytes — stop paying for
    * it"); they land under `reportDir/batch=<id>` so a replay overwrites,
    * never duplicates, a batch's report. */
  def runCdcIngestOnce(spark: SparkSession, inDir: String,
                       checkpointDir: String, store: String,
                       reportDir: String,
                       idCol: String = "doc_id",
                       bytesCol: String = "blob"): Unit =
    ingestOnce(spark, inDir, checkpointDir, "cdc_commits",
      Seq(s"${store}_chunks")) { (b, batchId) =>
      graft.operators.Dedup.cdcDedupAgainst(b, idCol, bytesCol,
          store, updateStore = true, batchId = batchId)
        .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    }

  /** one pass of streaming frequency-sketch ingest — the CMS heavy-hitter
    * twin of [[runCardIngestOnce]]: each micro-batch appends ONE
    * count-min-sketch row to the
    * [[graft.operators.Profiling.writeFrequencyStore]] store at the
    * batchId ([[ingestOnce]]: in-data gate, compacted watermark included;
    * the seed row is tagged -1). */
  def runFreqIngestOnce(spark: SparkSession, inDir: String,
                        checkpointDir: String, store: String,
                        valueCol: String, eps: Double, confidence: Double,
                        seed: Int): Unit =
    ingestOnce(spark, inDir, checkpointDir, "freq_commits", Seq(store)) {
      (b, batchId) =>
        graft.operators.Profiling.appendFrequencySketch(b.sparkSession, store,
          b, col(valueCol), eps, confidence, seed, batchId)
    }

  /** one pass of streaming cardinality-sketch ingest: each micro-batch
    * appends its per-group HLL sketch rows to the
    * [[graft.operators.Profiling.writeCardinalityStore]] store at the
    * batchId — the distinct-count tracker of a CONTINUOUS ingest
    * ([[ingestOnce]]: in-data gate, compacted watermark included; the seed
    * write tags itself -1 so a stream can never collide with it).
    * Estimate probes ([[graft.operators.Profiling.cardinalityEstimates]])
    * see each batch's contribution as soon as its append commits. */
  def runCardIngestOnce(spark: SparkSession, inDir: String,
                        checkpointDir: String, store: String,
                        groupCol: String, valueCol: String,
                        lgK: Int): Unit =
    ingestOnce(spark, inDir, checkpointDir, "card_commits", Seq(store)) {
      (b, batchId) =>
        graft.operators.Profiling.appendCardinalitySketches(b.sparkSession,
          store, b, groupCol, col(valueCol), lgK, batchId)
    }
}
