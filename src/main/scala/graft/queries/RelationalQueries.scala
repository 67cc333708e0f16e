package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkEntry.{cents, rd, rdEvents}
import graft.operators.{Layout, Relational}
import graft.queries.Offline._
import graft.queries.QuerySpec.derived

/** The registry's relational queries, each declared with its DuckDB oracle:
  * joins, grouping, windows, set operations, layout, diffs and event
  * analytics (SURVEY §2.9). */
object RelationalQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_join_broadcast", (s, dir) => {
      val cust = rd(s, dir, "customer")
      val nation = rd(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
      Relational.broadcastJoin(cust, nation, Seq("c_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"), sum(cents(col("c_acctbal"))).as("bal_cents"))
        .orderBy("n_name")
    },
      """SELECT n_name, count(*) AS n_cust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),
    QuerySpec("q_join_agg", (s, dir) => {
      val li = rd(s, dir, "lineitem")
      val ord = rd(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
      Relational.innerJoin(li, ord, Seq("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")), 10000L)).as("rev_tenk"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS rev_tenk
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    QuerySpec("q_join_left", (s, dir) => {
      val cust = rd(s, dir, "customer").select("c_custkey")
      val ord = rd(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
      Relational.leftJoin(cust, ord, Seq("c_custkey"))
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey"""),
    QuerySpec("q_join_semi", (s, dir) => {
      val cust = rd(s, dir, "customer")
      val ord = rd(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      Relational.semiJoin(cust, ord, Seq("c_custkey"))
        .select("c_custkey").orderBy("c_custkey")
    },
      """SELECT c_custkey FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey"""),
    QuerySpec("q_join_anti", (s, dir) => {
      val cust = rd(s, dir, "customer")
      val ord = rd(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      Relational.antiJoin(cust, ord, Seq("c_custkey"))
        .select("c_custkey").orderBy("c_custkey")
    },
      """SELECT c_custkey FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey"""),
    QuerySpec("q_group_agg", (s, dir) => {
      Relational.groupAgg(rd(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(sum("l_quantity").as("sum_qty"),
            sum(cents(col("l_extendedprice"))).as("base_cents"),
            (sum("l_quantity") / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order")))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS base_cents,
           sum(l_quantity) / count(*) AS avg_qty, count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    QuerySpec("q_rollup", (s, dir) => {
      Relational.rollupAgg(rd(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"), Seq(count(lit(1)).as("n")))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QuerySpec("q_grouping_sets", (s, dir) => {
      // explicit GROUPING SETS ((flag), (status), ()): per-flag totals,
      // per-status totals, and the grand total in ONE pass (single Expand +
      // hash aggregate) — the general form rollup/cube specialize
      Relational.groupingSetsAgg(rd(s, dir, "lineitem"),
          Seq(Seq("l_returnflag"), Seq("l_linestatus"), Seq.empty),
          Seq("l_returnflag", "l_linestatus"), Seq(count(lit(1)).as("n")))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QuerySpec("q_cube", (s, dir) => {
      Relational.cubeAgg(rd(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"), Seq(count(lit(1)).as("n")))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QuerySpec("q_pivot", (s, dir) => {
      Relational.pivot(rd(s, dir, "lineitem"), "l_returnflag", "l_linestatus",
          Seq("F", "O"), sum("l_quantity"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
           sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS "F",
           sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    QuerySpec("q_topk", (s, dir) => {
      Relational.topK(
          rd(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
          10, Seq(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber")))
    },
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10"""),
    QuerySpec("q_top_per_group", (s, dir) => {
      Relational.topNPerGroup(rd(s, dir, "orders"), Seq("o_orderpriority"),
          Seq(desc("o_totalprice"), asc("o_orderkey")), 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .orderBy(asc("o_orderpriority"), desc("o_totalprice"), asc("o_orderkey"))
    },
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3
         ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey"""),
    QuerySpec("q_window_running", (s, dir) => {
      Relational.runningAgg(rd(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")),
          sum(cents(col("o_totalprice"))), "run_cents")
        .select("o_custkey", "o_orderkey", "run_cents")
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    QuerySpec("q_lag_lead", (s, dir) => {
      Relational.lagLead(rd(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")), "o_totalprice")
        .select("o_custkey", "o_orderkey", "o_totalprice_lag", "o_totalprice_lead")
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
           lag(o_totalprice) OVER w AS o_totalprice_lag,
           lead(o_totalprice) OVER w AS o_totalprice_lead
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey"""),
    QuerySpec("q_moving_avg", (s, dir) => {
      // bounded ROWS frame (3 PRECEDING..CURRENT): 4-row moving average of
      // event values per user. avg over integer cents is exact (≤4 values
      // < 2^53 — every partial sum representable), so Spark and DuckDB
      // agree bit-for-bit; round+cast makes the output integer cents.
      Relational.movingAgg(rdEvents(s, dir), Seq("user_id"),
          Seq(col("ts"), col("event_id")),
          avg(cents(col("value"))), precedingRows = 3, "mavg")
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"),
          round(col("mavg")).cast(LongType).as("mavg_cents"))
        .orderBy("user_id", "ts_ms", "event_id")
    },
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
           CAST(round(avg(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) AS BIGINT) AS mavg_cents
         FROM events ORDER BY user_id, ts_ms, event_id"""),
    QuerySpec("q_range_frame", (s, dir) => {
      // RANGE frame over event-time millis: each event's trailing-hour
      // value sum per user. Equal timestamps share a frame, so no tiebreak
      // is needed for the windowed VALUE (only for the output order).
      Relational.movingAggRange(
          rdEvents(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
          Seq("user_id"), col("ts_ms"),
          sum(cents(col("value"))), precedingRange = 3600000L, "hr_cents")
        .select("user_id", "event_id", "ts_ms", "hr_cents")
        .orderBy("user_id", "ts_ms", "event_id")
    },
      """SELECT user_id, event_id, ts_ms,
           CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts_ms
             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS BIGINT) AS hr_cents
         FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
                 CAST(round(value * 100) AS BIGINT) AS cents FROM events)
         ORDER BY user_id, ts_ms, event_id"""),
    QuerySpec("q_union", (s, dir) => {
      Relational.unionDistinct(
          rd(s, dir, "lineitem").select(col("l_partkey").as("k")),
          rd(s, dir, "part").select(col("p_partkey").as("k")))
        .orderBy("k")
    },
      """SELECT l_partkey AS k FROM lineitem UNION
         SELECT p_partkey FROM part ORDER BY k"""),
    QuerySpec("q_intersect", (s, dir) => {
      Relational.intersect(
          rd(s, dir, "customer").select(col("c_custkey").as("k")),
          rd(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k")
    },
      """SELECT c_custkey AS k FROM customer INTERSECT
         SELECT o_custkey FROM orders ORDER BY k"""),
    QuerySpec("q_except", (s, dir) => {
      Relational.except(
          rd(s, dir, "customer").select(col("c_custkey").as("k")),
          rd(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k")
    },
      """SELECT c_custkey AS k FROM customer EXCEPT
         SELECT o_custkey FROM orders ORDER BY k"""),
    QuerySpec("q_asof_join", (s, dir) => {
      val ord = rd(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
      val ev = rdEvents(s, dir)
        .select(col("user_id").as("o_custkey"), col("ts"), col("value"))
      Relational.asofJoin(ord, ev, Seq("o_custkey"), "o_orderdate", "ts", Seq("value"))
        .select("o_orderkey", "o_custkey", "value")
        .orderBy("o_orderkey")
    },
      """SELECT o.o_orderkey, o.o_custkey, e.value
         FROM orders o ASOF LEFT JOIN events e
           ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
         ORDER BY o.o_orderkey"""),
    QuerySpec("q_date_filter", (s, dir) => {
      // timestamp predicate reaches the parquet scan (PushedFilters)
      rd(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-05-24 00:00:00")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-05-24 00:00:00'
         GROUP BY l_returnflag ORDER BY l_returnflag"""),
    QuerySpec("q_dedup_consecutive", (s, dir) =>
      // run-length event dedup: keep the first of each consecutive
      // same-type run per user (telemetry chatter cleaning) — one lag on
      // the per-user (ts, event_id) window
      graft.operators.Analytics.dedupConsecutive(rdEvents(s, dir),
          "user_id", "ts", "event_type", "event_id")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id"),
      // run boundary = null-safe type change; rn = 1 marks the key's first
      // row (lag-is-null can't tell "no predecessor" from a null type)
      """SELECT event_id, user_id, event_type FROM (
           SELECT event_id, user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events)
         WHERE rn = 1 OR prev IS DISTINCT FROM event_type
         ORDER BY event_id"""),
    QuerySpec("q_diff_columns", (s, dir) => {
      // column-level churn attribution over the q_dataset_diff versions,
      // with three planted edit patterns (text %7, lang %5, n_chars %13):
      // which columns drive the changed rows — one co-keyed join, one
      // aggregate, stack reshape
      val docs = rd(s, dir, "documents")
      val cur = docs.filter(col("doc_id") % 11 =!= 5)
      val prev = docs.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(lit("OLD "), col("text")))
            .otherwise(col("text")))
        .withColumn("lang",
          when(col("doc_id") % 5 === 0, lit("xx")).otherwise(col("lang")))
        .withColumn("n_chars",
          when(col("doc_id") % 13 === 0, col("n_chars") + 1L)
            .otherwise(col("n_chars")))
      graft.sources.Sources.datasetDiffColumns(cur, prev, "doc_id",
        Seq("lang", "n_chars", "text"))
    },
      // per-column null-safe change counts over the common-id join of the
      // q_dataset_diff versions + three planted edit patterns
      """WITH cur AS (
           SELECT doc_id, text, lang, n_chars FROM documents
           WHERE doc_id % 11 <> 5),
         prev AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'OLD ' || text ELSE text END
               AS text,
             CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS lang,
             CASE WHEN doc_id % 13 = 0 THEN n_chars + 1 ELSE n_chars END
               AS n_chars
           FROM documents WHERE doc_id % 10 <> 3),
         j AS (
           SELECT c.text AS ct, p.text AS pt, c.lang AS cl, p.lang AS pl,
             c.n_chars AS cn, p.n_chars AS pn
           FROM cur c JOIN prev p USING (doc_id)),
         w AS (
           SELECT
             CAST(sum(CASE WHEN ct IS DISTINCT FROM pt THEN 1 ELSE 0 END)
               AS BIGINT) AS n_text,
             CAST(sum(CASE WHEN cl IS DISTINCT FROM pl THEN 1 ELSE 0 END)
               AS BIGINT) AS n_lang,
             CAST(sum(CASE WHEN cn IS DISTINCT FROM pn THEN 1 ELSE 0 END)
               AS BIGINT) AS n_nchars,
             CAST(count(*) AS BIGINT) AS n_common
           FROM j)
         SELECT 'lang' AS col_name, n_lang AS n_changed, n_common FROM w
         UNION ALL SELECT 'n_chars', n_nchars, n_common FROM w
         UNION ALL SELECT 'text', n_text, n_common FROM w
         ORDER BY col_name"""),
    QuerySpec("q_heavy_hitters", (s, dir) => {
      // EXACT heavy hitters (freq ≥ 0.5% of the corpus token stream)
      // without a full-vocabulary groupBy: Misra-Gries candidate sketch +
      // exact confirming count over candidates only — at 100 TB the shuffle
      // carries candidate-token rows, never the whole Zipf tail
      val toks = rd(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      Relational.heavyHitters(toks, "token", support = 0.005)
        .orderBy("item")
    },
      """WITH t AS (
           SELECT token FROM (
             SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
               AS token
             FROM documents)
           WHERE len(token) > 0),
         n AS (SELECT count(*) AS total FROM t)
         SELECT token AS item, count(*) AS cnt
         FROM t GROUP BY token
         HAVING count(*) >= ceil(0.005 * (SELECT total FROM n))
         ORDER BY item"""),
    QuerySpec("q_zorder", (s, dir) => {
      // Z-order (Morton) clustering value over (o_custkey, order day) —
      // pins the quantize + bit-interleave math the layout writer
      // (Layout.writeZOrdered) clusters 100 TB scans by; the physical
      // file-rectangle behavior itself is plan/layout-tested in
      // LayoutSpec (not SQL-expressible). Bounds are memoized per sf dir
      // and embedded in the generated oracle as literals.
      val (dc, dd) = zorderBoundsFor(s, dir)
      rd(s, dir, "orders").select(col("o_orderkey"),
          Layout.quantize(col("o_custkey"), dc).as("qc"),
          Layout.quantize(zorderDay, dd).as("qd"),
          Layout.zValue(col("o_custkey"), zorderDay, dc, dd).as("zval"))
        .orderBy("o_orderkey")
    },
      derived((s, dir) => zorderOracleSql(zorderBoundsFor(s, dir)))),
    QuerySpec("q_salted_join", (s, dir) => {
      // skew-salted join is RESULT-PRESERVING (salt splits a hot key across
      // reducers; the dim side replicates per salt) so the oracle is the
      // plain join — this verifies the salting rewrite end-to-end
      val ord = rd(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val cust = rd(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Relational.saltedJoin(ord, cust, "o_custkey", buckets = 8,
          saltSource = col("o_orderkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast(LongType)) / 100.0).as("sum_price"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    QuerySpec("q_topk_agg", (s, dir) => {
      // bounded top-k AGGREGATE: map-side partial top-k ships <=k rows per
      // group per partition, vs the window row_number form (q_top_per_group)
      // that sorts and shuffles every row — the 100 TB shape for small k
      val topk = udaf(graft.functions.Aggregators.TopK(5))
      // fan the narrow projection before the UDAF partial pass (r22, the
      // §2.5 single-row-group remedy at the r21 ≳1 s work bar): the
      // ObjectHashAggregate partial ran as a 3-task scan-rooted stage with
      // a 1.09 s straggler — per-row UDAF invocation is the cost, and a
      // partial top-k is partitioning-independent (each task ships ≤ k
      // rows per group regardless of how rows are spread)
      graft.operators.Fan.out(rd(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("price"),
          (col("l_orderkey") * 100 + col("l_linenumber")).cast(LongType).as("lid")))
        .groupBy("l_returnflag")
        .agg(topk(col("price"), col("lid")).as("tk"))
        .select(col("l_returnflag"), explode(col("tk")).as("e"))
        .select(col("l_returnflag"), col("e._1").as("price"), col("e._2").as("lid"))
        .orderBy(asc("l_returnflag"), desc("price"), asc("lid"))
    },
      """SELECT l_returnflag, price, lid FROM (
           SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS price,
             CAST(l_orderkey * 100 + l_linenumber AS BIGINT) AS lid,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY CAST(l_extendedprice AS DOUBLE) DESC,
                        l_orderkey * 100 + l_linenumber) AS rn
           FROM lineitem)
         WHERE rn <= 5 ORDER BY l_returnflag, price DESC, lid"""),
    QuerySpec("q_range_join", (s, dir) => {
      val ord = rd(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
      val ev = rdEvents(s, dir).select(col("user_id"), col("ts"), col("value"))
      // equality key (custkey = user) + residual range predicate: planned as a
      // hash join with a filter, not a nested-loop cross product
      Relational.rangeJoin(ord, ev,
          col("o_custkey") === col("user_id") &&
            col("ts") >= col("o_orderdate") &&
            col("ts") < col("o_orderdate") + expr("INTERVAL 7 DAYS"), "left")
        .groupBy("o_orderkey").agg(count(col("value")).as("n_ev"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, count(e.value) AS n_ev
         FROM orders o LEFT JOIN events e
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
          AND e.ts < o.o_orderdate + INTERVAL 7 DAY
         GROUP BY o_orderkey ORDER BY o_orderkey"""),
    QuerySpec("q_join_full", (s, dir) => {
      // full-outer completeness: customers with no orders AND orders whose
      // customer is filtered out both survive with nulls
      val cust = rd(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select("c_custkey", "c_name")
      val ord = rd(s, dir, "orders").filter(col("o_custkey") % 2 === 0)
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
      Relational.fullJoin(cust, ord, Seq("c_custkey"))
        .groupBy("c_custkey")
        .agg(max(col("c_name")).as("c_name"), count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS c_custkey,
           max(c_name) AS c_name, count(o_orderkey) AS n_orders
         FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0) c
         FULL OUTER JOIN
           (SELECT o_custkey, o_orderkey FROM orders WHERE o_custkey % 2 = 0) o
           ON c.c_custkey = o.o_custkey
         GROUP BY coalesce(c.c_custkey, o.o_custkey)
         ORDER BY c_custkey"""),
    QuerySpec("q_bloom_join", (s, dir) => {
      // bloom-prefiltered semi join is RESULT-PRESERVING (no false
      // negatives), so the oracle is the plain semi join — this verifies the
      // sketch build + BloomFilterMightContain prefilter end-to-end
      val li = rd(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      val hot = rd(s, dir, "orders")
        .filter(col("o_totalprice") >= 400000).select("o_orderkey")
      Relational.bloomSemiJoin(li, hot, "l_orderkey", "o_orderkey",
          expectedItems = 100000L, numBits = 1L << 20)
        .orderBy("l_orderkey", "l_linenumber")
    },
      // the bloom prefilter is result-preserving (no false negatives) → the
      // oracle is the PLAIN semi join the bloom path must reproduce exactly
      """SELECT l_orderkey, l_linenumber FROM lineitem
         WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_totalprice >= 400000)
         ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("q_dataset_diff", (s, dir) => {
      // snapshot diff for incremental re-curation: two deterministic
      // "versions" of the corpus (cur drops ids ≡5 mod 11; prev drops ids
      // ≡3 mod 10 and carries pre-edit text for ids ≡0 mod 7) → one
      // |Δ|-sized added/removed/changed row set. Each side reduces to
      // (id, md5) before the full outer join — the shuffle never carries
      // document bodies
      val docs = rd(s, dir, "documents").select(col("doc_id"), col("text"))
      val cur = docs.filter(col("doc_id") % 11 =!= 5)
      val prev = docs.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(lit("OLD "), col("text")))
            .otherwise(col("text")))
      graft.sources.Sources.datasetDiff(cur, prev, "doc_id", Seq("text"))
        .orderBy("doc_id")
    },
      // same md5-of-text equality as the Spark side (single compare column →
      // no separator in play); membership via FULL OUTER on the id
      """WITH cur AS (
           SELECT doc_id, md5(text) AS h FROM documents
           WHERE doc_id % 11 <> 5),
         prev AS (
           SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0 THEN 'OLD ' || text
                 ELSE text END) AS h
           FROM documents WHERE doc_id % 10 <> 3)
         SELECT coalesce(cur.doc_id, prev.doc_id) AS doc_id,
           CASE WHEN prev.h IS NULL THEN 'added'
                WHEN cur.h IS NULL THEN 'removed'
                WHEN cur.h <> prev.h THEN 'changed' END AS status
         FROM cur FULL OUTER JOIN prev ON cur.doc_id = prev.doc_id
         WHERE prev.h IS NULL OR cur.h IS NULL OR cur.h <> prev.h
         ORDER BY doc_id"""),
    QuerySpec("q_source_cap", (s, dir) => {
      // per-domain quota — the "at most N docs per source/domain" crawl
      // rebalancing pass: deterministic keep-set (longest docs win, doc_id
      // tiebreak), one window shuffle keyed on the domain
      Relational.topNPerGroup(
          rd(s, dir, "documents").select("doc_id", "source", "n_chars"),
          Seq("source"), Seq(desc("n_chars"), asc("doc_id")), 50)
        .orderBy("doc_id")
    },
      """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents) WHERE rn <= 50
         ORDER BY doc_id"""),
    QuerySpec("q_string_agg", (s, dir) =>
      // deterministic group concat: collect_list is order-nondeterministic
      // under parallelism, so sort before joining — the portable form of
      // string_agg(x ORDER BY x)
      rd(s, dir, "nation").groupBy("n_regionkey")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n_nations"))
        .orderBy("n_regionkey"),
      """SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*) AS n_nations
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""),
    QuerySpec("q_funnel", (s, dir) =>
      // ORDERED funnel: step i converts at the earliest step-i event
      // strictly after step i−1's conversion — the min-ts shortcut would
      // count purchase-before-click users. k−1 co-partitioned joins over
      // shrinking survivor sets, no windows (Analytics scaladoc)
      graft.operators.Analytics.funnel(rdEvents(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      // ordered funnel: each step's conversion is the earliest step event
      // STRICTLY AFTER the previous step's conversion time (Analytics.funnel)
      """WITH s1 AS (
           SELECT user_id, min(ts) AS c FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (
           SELECT e.user_id, min(e.ts) AS c FROM events e
           JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.c
           WHERE e.event_type = 'click' GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id, min(e.ts) AS c FROM events e
           JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.c
           WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
             CAST(count(*) AS BIGINT) AS n_users FROM s1
           UNION ALL SELECT 2, 'click', count(*) FROM s2
           UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
         ORDER BY step_idx"""),
    QuerySpec("q_funnel_windowed", (s, dir) =>
      // the WINDOWED funnel real retention analysis runs: step i counts
      // only when it lands within maxGap of step i−1's conversion
      // (strictly after, inclusive upper bound) — integer-microsecond
      // window arithmetic, exact and timezone-free on both engines
      graft.operators.Analytics.funnel(rdEvents(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        maxGapSeconds = Some(86400L)),
      // the windowed form: step i's event must also land within 24h of the
      // previous conversion — integer-microsecond (epoch_us) arithmetic
      // mirrors Spark's unix_micros comparison exactly
      """WITH s1 AS (
           SELECT user_id, min(ts) AS c FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (
           SELECT e.user_id, min(e.ts) AS c FROM events e
           JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.c
             AND epoch_us(e.ts) <= epoch_us(s1.c) + 86400000000
           WHERE e.event_type = 'click' GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id, min(e.ts) AS c FROM events e
           JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.c
             AND epoch_us(e.ts) <= epoch_us(s2.c) + 86400000000
           WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
             CAST(count(*) AS BIGINT) AS n_users FROM s1
           UNION ALL SELECT 2, 'click', count(*) FROM s2
           UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
         ORDER BY step_idx"""),
    QuerySpec("q_retention", (s, dir) =>
      // weekly retention by first-event-day cohort: one first-event agg +
      // one co-partitioned join-back carrying (user, cohort_day) only
      graft.operators.Analytics.retentionCohorts(rdEvents(s, dir),
        "user_id", "ts", maxWeeks = 4),
      // cohort day = epoch day of a user's first event; offset 0 row is the
      // cohort size; integer day arithmetic is timezone-free on both engines
      """WITH b AS (
           SELECT user_id AS u,
             CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS BIGINT) AS d
           FROM events),
         c AS (SELECT u, min(d) AS cohort_day FROM b GROUP BY u)
         SELECT cohort_day,
           CAST((b.d - cohort_day) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT b.u) AS BIGINT) AS n_active
         FROM b JOIN c USING (u)
         WHERE (b.d - cohort_day) // 7 <= 4
         GROUP BY cohort_day, week_offset
         ORDER BY cohort_day, week_offset"""),
    QuerySpec("q_resample", (s, dir) =>
      // gap-filled daily resample per event type: dense key×day spine from
      // a 2-row bounds agg (zero rows explicit); integer-cent sums are
      // partition-order-independent where a double sum is not
      graft.operators.Analytics.resampleDaily(rdEvents(s, dir),
        "event_type", "ts", expr("cast(round(value * 100) as bigint)")),
      // dense key×day spine from the corpus bounds; empty bins explicit
      // zeros; integer-cent sums (a double sum is partition-order-dependent)
      """WITH b AS (
           SELECT event_type AS k,
             CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS BIGINT) AS d,
             CAST(round(value * 100) AS BIGINT) AS v
           FROM events),
         a AS (
           SELECT k, d, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(v) AS BIGINT) AS sum_cents
           FROM b GROUP BY k, d),
         bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM b),
         days AS (SELECT unnest(range(lo, hi + 1)) AS d FROM bounds),
         keys AS (SELECT DISTINCT k FROM b),
         spine AS (SELECT k, d FROM keys CROSS JOIN days)
         SELECT spine.k AS event_type, CAST(spine.d AS BIGINT) AS epoch_day,
           CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
           CAST(coalesce(sum_cents, 0) AS BIGINT) AS sum_cents
         FROM spine LEFT JOIN a USING (k, d)
         ORDER BY event_type, epoch_day"""),
    QuerySpec("q_rolling_active", (s, dir) =>
      // trailing-7-day active users, EXACT, via disjoint coverage
      // intervals: each (user, day) covers up to its user's next active
      // day, so a plain count per covered day IS the distinct count — no
      // per-day count(DISTINCT), no w× explode-then-dedup
      graft.operators.Analytics.rollingActive(rdEvents(s, dir),
        "user_id", "ts", windowDays = 7),
      // disjoint coverage intervals: lead() caps each (user, day)'s covered
      // range at the next active day, so count(*) per covered day is the
      // exact trailing-window distinct (validated against the naive
      // count(DISTINCT) range-join form)
      """WITH ud AS (
           SELECT DISTINCT user_id AS u,
             CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS BIGINT) AS d
           FROM events),
         mx AS (SELECT max(d) AS maxd FROM ud),
         iv AS (SELECT u, d,
             lead(d) OVER (PARTITION BY u ORDER BY d) AS nd
           FROM ud)
         SELECT CAST(day AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n_active
         FROM iv, mx, LATERAL (
           SELECT unnest(generate_series(iv.d,
             least(iv.d + 6, coalesce(iv.nd - 1, mx.maxd), mx.maxd)))
             AS day) g
         GROUP BY day ORDER BY day"""),
    QuerySpec("q_constraints", (s, dir) => {
      // Deequ-style pre-flight gate over the TPC-H batch: each check is
      // ONE column-pruned aggregate (or one anti-join for the FKs); the
      // report is |checks| single-row frames unioned
      import graft.operators.Analytics.Check
      val orders = rd(s, dir, "orders")
      val li = rd(s, dir, "lineitem")
      graft.operators.Analytics.constraintReport(Seq(
        Check.notNull("orders_custkey_notnull", orders, "o_custkey"),
        Check.unique("orders_key_unique", orders, Seq("o_orderkey")),
        Check.foreignKey("orders_customer_fk", orders, "o_custkey",
          rd(s, dir, "customer"), "c_custkey"),
        Check.foreignKey("lineitem_orders_fk", li, "l_orderkey",
          orders, "o_orderkey"),
        Check.acceptedValues("orders_status_enum", orders, "o_orderstatus",
          Seq("O", "F", "P")),
        Check.satisfies("lineitem_qty_range", li,
          col("l_quantity") >= 1 && col("l_quantity") <= 50)))
    },
      // one branch per constraint; FK branches count orphans in both the
      // n_rows and violations slots (the anti-join IS the scanned frame)
      """SELECT * FROM (
           SELECT 'orders_custkey_notnull' AS check_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
               AS violations,
             count(*) FILTER (WHERE o_custkey IS NULL) = 0 AS pass
           FROM orders
           UNION ALL
           SELECT 'orders_key_unique', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(cnt - 1), 0) AS BIGINT),
             coalesce(sum(cnt - 1), 0) = 0
           FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey)
           UNION ALL
           SELECT 'orders_customer_fk', CAST(count(*) AS BIGINT),
             CAST(count(*) AS BIGINT), count(*) = 0
           FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
           UNION ALL
           SELECT 'lineitem_orders_fk', CAST(count(*) AS BIGINT),
             CAST(count(*) AS BIGINT), count(*) = 0
           FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
           UNION ALL
           SELECT 'orders_status_enum', CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
               AND o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT),
             count(*) FILTER (WHERE o_orderstatus IS NOT NULL
               AND o_orderstatus NOT IN ('O', 'F', 'P')) = 0
           FROM orders
           UNION ALL
           SELECT 'lineitem_qty_range', CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER (WHERE NOT (l_quantity BETWEEN 1 AND 50))
               AS BIGINT),
             count(*) FILTER (WHERE NOT (l_quantity BETWEEN 1 AND 50)) = 0
           FROM lineitem)
         ORDER BY check_name"""),
    QuerySpec("q_transitions", (s, dir) =>
      // first-order event-transition counts: per-user lag window (ordered
      // by ts with event_id tiebreak — a total, engine-portable order),
      // |types|² output rows
      graft.operators.Analytics.transitionCounts(rdEvents(s, dir),
        "user_id", "ts", "event_type", "event_id"),
      // per-user lag with the (ts, event_id) total order — simultaneous
      // events get the same engine-portable predecessor
      """SELECT prev_type, next_type,
           CAST(count(*) AS BIGINT) AS n_transitions
         FROM (
           SELECT lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
           FROM events)
         WHERE prev_type IS NOT NULL
         GROUP BY prev_type, next_type
         ORDER BY prev_type, next_type"""),
    QuerySpec("q_event_paths", (s, dir) =>
      // top event-type trigram paths: two leads over the same per-user
      // (ts, event_id) window, one hash aggregate over ≤|types|³ paths,
      // (count DESC, path) total-order top-20
      graft.operators.Analytics.pathCounts(rdEvents(s, dir),
        "user_id", "ts", "event_type", "event_id", len = 3, topK = 20),
      // trigram paths: two leads over the same (ts, event_id) window; a
      // non-null FINAL lead implies the earlier one is non-null too
      """SELECT concat(event_type, '>', e2, '>', e3) AS path,
           CAST(count(*) AS BIGINT) AS n_occurrences
         FROM (
           SELECT event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         WHERE e3 IS NOT NULL
         GROUP BY 1 ORDER BY n_occurrences DESC, path LIMIT 20"""),
    QuerySpec("q_interval_coverage", (s, dir) =>
      // union-of-intervals dwell time (10-minute hold per event): exact
      // integer-micros sweep — two windows + two aggregates, all on the
      // user-hash partitioning; never the |events|² self-join
      graft.operators.Analytics.intervalCoverage(rdEvents(s, dir),
        "user_id", "ts", holdSeconds = 600L),
      // union-of-intervals sweep in integer epoch-micros: island = running
      // sum of starts-after-running-max-end flags; per-island aggregates are
      // permutation-invariant so tied (s, e) rows can't diverge engines
      """WITH iv AS (
           SELECT user_id AS k, epoch_us(ts) AS s,
             epoch_us(ts) + 600000000 AS e
           FROM events),
         w AS (
           SELECT k, s, e, max(e) OVER (PARTITION BY k ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM iv),
         isl AS (
           SELECT k, s, e, sum(CASE WHEN pm IS NULL OR s > pm THEN 1
               ELSE 0 END) OVER (PARTITION BY k ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM w),
         g AS (SELECT k, island, count(*) AS nn, max(e) - min(s) AS cov
               FROM isl GROUP BY k, island)
         SELECT k AS user_id, CAST(sum(nn) AS BIGINT) AS n_intervals,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(cov) AS BIGINT) AS covered_micros
         FROM g GROUP BY k ORDER BY user_id"""),
    QuerySpec("q_decayed_sum", (s, dir) =>
      // 7-day-half-life decayed revenue per user: bucketed 2^−b weights
      // keep every product an exact integer (decimal sum, one final
      // power-of-two division) — the decay form that is engine-exact,
      // unlike pow(λ, Δt) accumulation
      graft.operators.Analytics.decayedSum(rdEvents(s, dir),
        "user_id", "ts", expr("cast(round(value * 100) as bigint)"),
        halfLifeDays = 7),
      // bucketed half-life decay: every rescaled weight 2^(20−b) is an exact
      // integer, the sum is HUGEINT-exact, one correctly-rounded double
      // conversion + one power-of-two division at the end
      """WITH e AS (
           SELECT user_id AS k,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(round(value * 100) AS BIGINT) AS c
           FROM events),
         mx AS (SELECT max(d) AS maxd FROM e),
         b AS (SELECT k, c, (maxd - d) // 7 AS b FROM e, mx)
         SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(c AS HUGEINT)
               * (CAST(1 AS BIGINT) << CAST(20 - b AS INTEGER)))
             AS DOUBLE) / 1048576.0, 6) AS decayed_cents
         FROM b WHERE b <= 20 GROUP BY k ORDER BY user_id"""),
    QuerySpec("q_asof_tolerance", (s, dir) => {
      // pandas merge_asof parity: FORWARD direction (earliest event at or
      // after the order date), 3-day tolerance (farther matches → NULL,
      // order row kept), event_id tie rule — same one-shuffle union+window
      // plan as q_asof_join, direction only flips the sort
      val ord = rd(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val ev = rdEvents(s, dir).select(col("user_id").as("o_custkey"),
        col("ts"), col("value"), col("event_id"))
      Relational.asofJoinDirected(ord, ev, Seq("o_custkey"), "o_orderdate",
          "ts", Seq("value"), direction = "forward",
          toleranceSeconds = 259200L, rightTiebreak = Some("event_id"))
        .select("o_orderkey", "o_custkey", "value")
        .orderBy("o_orderkey")
    },
      // forward as-of with tolerance: earliest event >= order date within 3
      // days, ties by (ts, event_id) — a correlated min-scan per order row
      // (fine at oracle scale; the Spark side is the one-shuffle window)
      """SELECT o.o_orderkey, o.o_custkey,
           (SELECT e.value FROM events e
            WHERE e.user_id = o.o_custkey
              AND e.ts >= CAST(o.o_orderdate AS TIMESTAMP)
              AND epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
                    <= 259200000000
            ORDER BY e.ts, e.event_id LIMIT 1) AS value
         FROM orders o ORDER BY o.o_orderkey"""),
    QuerySpec("q_attribution", (s, dir) =>
      // last-touch revenue attribution: each purchase credits the user's
      // most recent preceding view/click within 7 days (lexicographic
      // (ts, event_id) order; integer-microsecond window arithmetic);
      // no-touch conversions land in the explicit '(none)' channel so
      // the report sums to total revenue. One per-user window + a
      // |channels|-row aggregate; cents are order-independent
      graft.operators.Analytics.attributionLastTouch(rdEvents(s, dir),
        "user_id", "ts", "event_type",
        expr("cast(round(value * 100) as bigint)"), "event_id",
        Seq("view", "click"), "purchase", windowSeconds = 604800L),
      // last-touch attribution: the two IGNORE NULLS last_value frames are
      // null-aligned (both fed by the same touch rows); window bound in
      // integer microseconds exactly like Spark's unix_micros comparison
      """WITH w AS (
           SELECT user_id, ts, event_type, value,
             last_value(CASE WHEN event_type IN ('view', 'click')
                 THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lt_type,
             last_value(CASE WHEN event_type IN ('view', 'click')
                 THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lt_us
           FROM events)
         SELECT coalesce(CASE WHEN epoch_us(ts) - lt_us <= 604800000000
               THEN lt_type END, '(none)') AS channel,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
         FROM w WHERE event_type = 'purchase'
         GROUP BY channel ORDER BY channel"""),
    QuerySpec("q_series_anomaly", (s, dir) =>
      // daily-rate anomaly flags over the dense per-type grid (gap days
      // are explicit zeros, so silence is flaggable); k·MAD gate over
      // dyadic-exact integer-count medians
      graft.operators.Analytics.seriesAnomalies(rdEvents(s, dir),
        "event_type", "ts", k = 2.0),
      // dense grid (gap days explicit zeros), per-type median/MAD over
      // integer daily counts (dyadic-exact halves/quarters), 2·MAD gate
      """WITH b AS (
           SELECT event_type AS k2,
             CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS BIGINT) AS d
           FROM events),
         a AS (SELECT k2, d, CAST(count(*) AS BIGINT) AS n
               FROM b GROUP BY k2, d),
         bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM b),
         days AS (SELECT unnest(range(lo, hi + 1)) AS d FROM bounds),
         keys AS (SELECT DISTINCT k2 FROM b),
         grid AS (
           SELECT k2, d, CAST(coalesce(n, 0) AS BIGINT) AS n
           FROM keys CROSS JOIN days LEFT JOIN a USING (k2, d)),
         med AS (SELECT k2, quantile_cont(n, 0.5) AS med
                 FROM grid GROUP BY k2),
         dev AS (
           SELECT grid.k2, d, n, med, abs(n - med) AS absdev
           FROM grid JOIN med USING (k2)),
         mad AS (SELECT k2, quantile_cont(absdev, 0.5) AS mad
                 FROM dev GROUP BY k2)
         SELECT dev.k2 AS event_type, CAST(d AS BIGINT) AS epoch_day,
           n AS n_events, med, mad, absdev > 2.0 * mad AS is_anomaly
         FROM dev JOIN mad USING (k2)
         ORDER BY event_type, epoch_day""")
  )

  /** q_zorder's oracle: re-derive quantize cells from the same (lo, hi,
    * shift) literals and unroll the bit interleave — (qc bit i) → position
    * 2i+1, (qd bit i) → position 2i, exactly Layout.zorder2's
    * shift/mask/or chain. */
  private def zorderOracleSql(bounds: (Layout.DimBounds, Layout.DimBounds)): String = {
    val (dc, dd) = bounds
    val interleave = (0 until ZorderBits).map { i =>
      s"(((qc >> $i) & 1) << ${2 * i + 1}) | (((qd >> $i) & 1) << ${2 * i})"
    }.mkString(" | ")
    // DimBounds.shift is signed: positive → downshift, negative → MSB-
    // aligning upshift (narrow spans)
    def sh(s: Int) = if (s >= 0) s">> $s" else s"<< ${-s}"
    s"""WITH d AS (
           SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS ck,
             CAST(datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS dy
           FROM orders),
         q AS (
           SELECT o_orderkey,
             (greatest(0, least(${dc.hi - dc.lo}, ck - (${dc.lo}))) ${sh(dc.shift)}) AS qc,
             (greatest(0, least(${dd.hi - dd.lo}, dy - (${dd.lo}))) ${sh(dd.shift)}) AS qd
           FROM d)
         SELECT o_orderkey, qc, qd, ($interleave) AS zval
         FROM q ORDER BY o_orderkey"""
  }
}
