package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkEntry.{rd, rdEvents}
import graft.streaming.Streams
import graft.queries.Offline._

/** The registry's streaming queries, each declared with its DuckDB oracle:
  * streaming transforms in batch-equivalent form and the
  * persisted stores. */
object StreamingQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_running_totals", (s, dir) => {
      import s.implicits._
      val ds = rdEvents(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Streams.Event]
      // batch form of the stateful flatMapGroupsWithState path: state starts
      // empty and each group is processed once → one total row per user,
      // which a plain GROUP BY oracle can check
      Streams.runningUserTotals(ds).toDF().orderBy("user_id")
    },
      """SELECT user_id, count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
         FROM events GROUP BY user_id ORDER BY user_id"""),
    QuerySpec("q_tumbling", (s, dir) => {
      Streams.tumblingAgg(rdEvents(s, dir), "1 hour")
        .select(unix_millis(col("win_start")).as("win_ms"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_ms", "event_type")
    },
      """SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_ms, event_type,
           count(*) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
         FROM events GROUP BY win_ms, event_type ORDER BY win_ms, event_type"""),
    QuerySpec("q_sliding", (s, dir) => {
      Streams.slidingAgg(rdEvents(s, dir), "1 hour", "30 minutes")
        .select(unix_millis(col("win_start")).as("win_ms"), col("n"))
        .orderBy("win_ms")
    },
      """SELECT epoch_ms(w) AS win_ms, count(*) AS n FROM (
           SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS w, ts
           FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks)
         WHERE ts >= w AND ts < w + INTERVAL 1 HOUR
         GROUP BY win_ms ORDER BY win_ms"""),
    QuerySpec("q_session", (s, dir) => {
      Streams.sessionAgg(rdEvents(s, dir), "30 minutes")
        .select(unix_millis(col("sess_start")).as("sess_ms"),
          col("user_id"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "sess_ms")
    },
      """WITH x AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         y AS (
           SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sess
           FROM x)
         SELECT epoch_ms(min(ts)) AS sess_ms, user_id,
           count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
         FROM y GROUP BY user_id, sess ORDER BY user_id, sess_ms"""),
    QuerySpec("q_interval_join", (s, dir) => {
      // stream-stream-shaped attribution: each click joined to the same
      // user's purchases within 1 hour after it; the identical plan runs
      // watermarked on readStream (StreamsSpec proves stream ≡ batch)
      Streams.attributionJoin(rdEvents(s, dir), "click", "purchase", "1 hour")
        .select(col("user_id"), col("from_id"), col("to_id"),
          unix_millis(col("from_ts")).as("from_ms"),
          unix_millis(col("to_ts")).as("to_ms"), col("value"))
        .orderBy("from_id", "to_id")
    },
      """SELECT l.user_id, l.event_id AS from_id, r.event_id AS to_id,
           epoch_ms(l.ts) AS from_ms, epoch_ms(r.ts) AS to_ms, r.value
         FROM events l JOIN events r
           ON r.user_id = l.user_id
           AND l.event_type = 'click' AND r.event_type = 'purchase'
           AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
         ORDER BY from_id, to_id"""),
    QuerySpec("q_store_merge", (s, dir) => {
      // CDC merge into a bucketed snapshot store: deletes retire base
      // rows, upserts insert-or-replace — all via ONE co-bucketed
      // anti-join (no base shuffle; SourcesAndUdafSpec proves the
      // exchange elision) plus a union. The changeset is derived
      // deterministically from the snapshot itself: deletes (%13),
      // updated prices (%7 minus the deletes), inserts under fresh
      // negative keys (%11 — negative so no replica-offset corpus can
      // collide at any GenScale factor)
      val snap = rd(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents"),
        col("o_orderstatus"))
      val upd = snap
        .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("price_cents") + 100L).as("price_cents"),
          lit("U").as("o_orderstatus"))
        .withColumn("op", lit("upsert"))
      val ins = snap.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") * -1L - 1L).as("o_orderkey"),
          col("o_custkey"), col("price_cents"), lit("N").as("o_orderstatus"))
        .withColumn("op", lit("upsert"))
      val del = snap.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"),
          lit(null).cast("bigint").as("o_custkey"),
          lit(null).cast("bigint").as("price_cents"),
          lit(null).cast("string").as("o_orderstatus"))
        .withColumn("op", lit("delete"))
      graft.sources.Sources.writeBucketed(snap, "graft_merge_base",
        "o_orderkey", 8)
      graft.sources.Sources.mergeIntoStore(s, "graft_merge_base",
        upd.unionByName(ins).unionByName(del), "o_orderkey")
      s.table("graft_merge_base").orderBy("o_orderkey")
    },
      // CDC merge: retire every delta key from the base snapshot (anti-join
      // == NOT IN below — delta keys are non-null by construction), then
      // append the upsert payloads; the changeset is the same deterministic
      // %13/%7/%11 derivation as the Spark side
      """WITH snap AS (
           SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             o_orderstatus
           FROM orders),
         upd AS (
           SELECT o_orderkey, o_custkey, price_cents + 100 AS price_cents,
             'U' AS o_orderstatus
           FROM snap WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0),
         ins AS (
           SELECT -o_orderkey - 1 AS o_orderkey, o_custkey, price_cents,
             'N' AS o_orderstatus
           FROM snap WHERE o_orderkey % 11 = 0),
         delta_keys AS (
           SELECT o_orderkey FROM snap WHERE o_orderkey % 13 = 0
           UNION ALL SELECT o_orderkey FROM upd
           UNION ALL SELECT o_orderkey FROM ins)
         SELECT * FROM (
           SELECT * FROM snap
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta_keys)
           UNION ALL SELECT * FROM upd
           UNION ALL SELECT * FROM ins)
         ORDER BY o_orderkey"""),
    QuerySpec("q_card_store", (s, dir) => {
      // incremental distinct-vocabulary tracking: per-source token
      // cardinality estimates from the 3-batch accreted HLL sketch store
      // (merge cost ∝ groups×batches sketch bytes, history never
      // rescanned), under the q_profile_approx contract — the verification
      // shape computes the exact side too and the oracle pins est_ok TRUE
      val store = cardStoreFor(s, dir)
      val exact = rd(s, dir, "documents").select(col("source"),
          explode(filter(split(lower(trim(col("text"))), "\\s+"),
            t => length(t) > lit(0))).as("__tok"))
        .groupBy("source")
        .agg(countDistinct(col("__tok")).cast(LongType).as("exact_distinct"))
        .select(col("source").as("group_key"), col("exact_distinct"))
      graft.operators.Profiling.cardinalityEstimatesChecked(s, store, exact,
        lgK = 12)
    },
      // exact sides recomputed over the full corpus (the 3 mod-slices are
      // disjoint and covering); n_batches = slices that actually hold the
      // source; est_ok pinned TRUE (4σ·rse(lgK=12) band, q_profile_approx
      // doctrine)
      """WITH tok AS (
           SELECT source, doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               t -> len(t) > 0)) AS term
           FROM documents)
         SELECT source AS group_key,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id % 3) AS BIGINT) AS n_batches,
           CAST(count(DISTINCT term) AS BIGINT) AS exact_distinct,
           TRUE AS est_ok
         FROM tok GROUP BY source ORDER BY group_key"""),
    QuerySpec("q_cms_store", (s, dir) => {
      // incremental heavy-hitter tracking: exact top-20 token counts (the
      // candidate side — verification shape) probed against the 3-batch
      // accreted CMS store; cms_ok = exact ≤ est ≤ exact + ceil(eps·N),
      // deterministic for fixed data, pinned TRUE by the oracle
      val store = freqStoreFor(s, dir)
      val exactTop = rd(s, dir, "documents").select(
          explode(filter(split(lower(trim(col("text"))), "\\s+"),
            t => length(t) > lit(0))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).cast(LongType).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("token").asc)
        .limit(20)
      graft.operators.Profiling.frequencyEstimatesChecked(s, store,
        exactTop, "token", eps = 0.001)
    },
      // exact top-20 recomputed (count DESC, token ASC ties); cms_ok pinned
      // TRUE — CMS never undercounts and the eps·N overcount band holds
      // deterministically for fixed data (q_profile_approx doctrine)
      """WITH tok AS (
           SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> len(t) > 0)) AS token
           FROM documents),
         cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
                 FROM tok GROUP BY token)
         SELECT token, exact_cnt, TRUE AS cms_ok FROM (
           SELECT token, exact_cnt FROM cnt
           ORDER BY exact_cnt DESC, token LIMIT 20)
         ORDER BY token"""),
    QuerySpec("q_scd2_history", (s, dir) => {
      // SCD2 time-travel store: init + two CDC merges into a bucketed
      // history table (each merge = ONE close-join on the co-bucketed key
      // + a union; closed versions never rewritten). Batch 1 is the
      // q_store_merge changeset (%7 upd / %11 ins / %13 del); batch 2
      // upserts %9 keys (re-inserting any %9∧%13 deletions) with +500
      // cents from the ORIGINAL price — all derivable in closed form by
      // the oracle
      val snap = rd(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents"),
        col("o_orderstatus"))
      val upd1 = snap
        .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("price_cents") + 100L).as("price_cents"),
          lit("U").as("o_orderstatus"))
        .withColumn("op", lit("upsert"))
      val ins1 = snap.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") * -1L - 1L).as("o_orderkey"),
          col("o_custkey"), col("price_cents"), lit("N").as("o_orderstatus"))
        .withColumn("op", lit("upsert"))
      val del1 = snap.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"),
          lit(null).cast("bigint").as("o_custkey"),
          lit(null).cast("bigint").as("price_cents"),
          lit(null).cast("string").as("o_orderstatus"))
        .withColumn("op", lit("delete"))
      val ups2 = snap.filter(col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("price_cents") + 500L).as("price_cents"),
          lit("V").as("o_orderstatus"))
        .withColumn("op", lit("upsert"))
      graft.sources.Sources.writeBucketed(
        graft.sources.Sources.scd2Init(snap, 0L), "graft_scd2_hist",
        "o_orderkey", 8)
      graft.sources.Sources.scd2MergeIntoStore(s, "graft_scd2_hist",
        upd1.unionByName(ins1).unionByName(del1), "o_orderkey", batch = 1L)
      graft.sources.Sources.scd2MergeIntoStore(s, "graft_scd2_hist",
        ups2, "o_orderkey", batch = 2L)
      s.table("graft_scd2_hist").orderBy("o_orderkey", "valid_from")
    },
      // closed-form SCD2 history after init(0) + the %7/%11/%13 batch-1 +
      // %9-upsert batch-2 changesets: v0 closes at 1 if touched by batch 1
      // (delete wins the %7∧%13 overlap either way), else at 2 if %9; the
      // batch-1 'U' version closes at 2 if %9; negative insert keys are
      // never touched again
      """WITH snap AS (
           SELECT o_orderkey AS k, o_custkey AS c,
             CAST(round(o_totalprice * 100) AS BIGINT) AS p,
             o_orderstatus AS s
           FROM orders),
         v0 AS (
           SELECT k, c, p, s, 0 AS vf,
             CASE WHEN k % 13 = 0 OR k % 7 = 0 THEN 1
                  WHEN k % 9 = 0 THEN 2 END AS vt
           FROM snap),
         v1u AS (
           SELECT k, c, p + 100 AS p, 'U' AS s, 1 AS vf,
             CASE WHEN k % 9 = 0 THEN 2 END AS vt
           FROM snap WHERE k % 7 = 0 AND k % 13 <> 0),
         v1i AS (
           SELECT -k - 1 AS k, c, p, 'N' AS s, 1 AS vf,
             CAST(NULL AS INTEGER) AS vt
           FROM snap WHERE k % 11 = 0),
         v2 AS (
           SELECT k, c, p + 500 AS p, 'V' AS s, 2 AS vf,
             CAST(NULL AS INTEGER) AS vt
           FROM snap WHERE k % 9 = 0)
         SELECT k AS o_orderkey, c AS o_custkey, p AS price_cents,
           s AS o_orderstatus, CAST(vf AS BIGINT) AS valid_from,
           CAST(vt AS BIGINT) AS valid_to
         FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1u
               UNION ALL SELECT * FROM v1i UNION ALL SELECT * FROM v2)
         ORDER BY o_orderkey, valid_from"""),
    QuerySpec("q_scd2_asof", (s, dir) => {
      // time travel: the same two-batch history rebuilt as a pure frame
      // chain, read back AS OF batch 1 — one validity filter; must equal
      // the oracle's independent closed-form state-at-1
      val snap = rd(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents"),
        col("o_orderstatus"))
      val upd1 = snap
        .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("price_cents") + 100L).as("price_cents"),
          lit("U").as("o_orderstatus"))
        .withColumn("op", lit("upsert"))
      val ins1 = snap.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") * -1L - 1L).as("o_orderkey"),
          col("o_custkey"), col("price_cents"), lit("N").as("o_orderstatus"))
        .withColumn("op", lit("upsert"))
      val del1 = snap.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"),
          lit(null).cast("bigint").as("o_custkey"),
          lit(null).cast("bigint").as("price_cents"),
          lit(null).cast("string").as("o_orderstatus"))
        .withColumn("op", lit("delete"))
      val ups2 = snap.filter(col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("price_cents") + 500L).as("price_cents"),
          lit("V").as("o_orderstatus"))
        .withColumn("op", lit("upsert"))
      import graft.sources.Sources
      val hist = Sources.scd2Merge(
        Sources.scd2Merge(Sources.scd2Init(snap, 0L),
          upd1.unionByName(ins1).unionByName(del1), "o_orderkey", 1L),
        ups2, "o_orderkey", 2L)
      Sources.scd2SnapshotAsOf(hist, 1L).orderBy("o_orderkey")
    },
      // state AS OF batch 1 in closed form: untouched originals + the
      // batch-1 updates and inserts (batch-2 versions not yet live, %13
      // deletions gone)
      """WITH snap AS (
           SELECT o_orderkey AS k, o_custkey AS c,
             CAST(round(o_totalprice * 100) AS BIGINT) AS p,
             o_orderstatus AS s
           FROM orders)
         SELECT k AS o_orderkey, c AS o_custkey, p AS price_cents,
           s AS o_orderstatus
         FROM (
           SELECT k, c, p, s FROM snap WHERE k % 13 <> 0 AND k % 7 <> 0
           UNION ALL
           SELECT k, c, p + 100, 'U' FROM snap
           WHERE k % 7 = 0 AND k % 13 <> 0
           UNION ALL
           SELECT -k - 1, c, p, 'N' FROM snap WHERE k % 11 = 0)
         ORDER BY o_orderkey""")
  )
}
