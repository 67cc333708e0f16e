package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkEntry.{cents, rd}

/** The registry's parity queries, each declared with its DuckDB oracle:
  * the parity surface (SURVEY §2.3-§2.6), the reference data-frame
  * operations and summary tables. */
object ParityQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_mask_count", (s, dir) => {
      import s.implicits._
      val d = DF.fromSpark(rd(s, dir, "lineitem"))
      val n = d.countRows(col("l_quantity") * col("l_extendedprice") >= 50000)
      Seq(n).toDF("cnt")
    },
      "SELECT count(*) AS cnt FROM lineitem WHERE l_quantity * l_extendedprice >= 50000"),
    QuerySpec("q_mask_slice", (s, dir) => {
      DF.fromSpark(rd(s, dir, "lineitem"))
        .filter(col("l_quantity") >= 45)
        .columns(Sel.Names(Seq("l_orderkey", "l_linenumber", "l_quantity")))
        .toSpark.orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity >= 45 ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("q_slice_range", (s, dir) => {
      DF.fromSpark(rd(s, dir, "customer"), orderBy = Seq("c_custkey"))
        .sliceFrame(Sel.Range(100, 110))
        .toSpark.orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer ORDER BY c_custkey LIMIT 10 OFFSET 100"""),
    QuerySpec("q_map_rows", (s, dir) => {
      DF.fromSpark(rd(s, dir, "lineitem"))
        .mapDF(
          "l_orderkey" -> col("l_orderkey"),
          "l_linenumber" -> col("l_linenumber"),
          "rev_cents" -> cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .toSpark.orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
           CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_cents
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("q_map_df", (s, dir) => {
      // the reference's map-df LAMBDA form (cl-data-frame.lisp:528-552),
      // DISTRIBUTED: the Scala closure runs inside executor tasks over the
      // multi-partition lineitem corpus via DF.mapDFRows (RDD map + eager
      // localCheckpoint — fn exactly once per row), never a driver collect.
      // resultTypes given explicitly (the reference's :element-type), so
      // no type-inference sampling job runs.
      DF.fromSpark(rd(s, dir, "lineitem"))
        .mapDFRows(
          Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
          Seq("l_orderkey", "l_linenumber", "qty_band", "disc_cents"),
          Seq(LongType, org.apache.spark.sql.types.IntegerType,
            LongType, LongType)) { in =>
          val qty = in(2).asInstanceOf[Double]
          val disc = in(3).asInstanceOf[Double]
          Seq(in(0), in(1), (qty / 10.0).toLong, math.round(disc * 100.0))
        }
        .toSpark.orderBy("l_orderkey", "l_linenumber")
    },
      // q_map_df's lambda is plain arithmetic exactly so the distributed
      // lambda MACHINERY (row-id carry, executor-side fn, checkpoint) is
      // what the oracle checks — the math itself must be replicable in SQL.
      // (qty/10).toLong truncates toward zero == floor for qty >= 0;
      // math.round(half-up) == DuckDB round(half-away) on these inputs
      // (disc*100 lands within 1e-12 of an integer, never near .5).
      """SELECT l_orderkey, l_linenumber,
           CAST(floor(l_quantity / 10) AS BIGINT) AS qty_band,
           CAST(round(l_discount * 100) AS BIGINT) AS disc_cents
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("q_add_column", (s, dir) => {
      DF.fromSpark(rd(s, dir, "customer"))
        .addColumn("bal_band", floor(col("c_acctbal") / 100).cast(LongType))
        .toSpark.orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_band
         FROM customer ORDER BY c_custkey"""),
    QuerySpec("q_replace_column", (s, dir) => {
      DF.fromSpark(rd(s, dir, "customer"))
        .replaceColumnFn("c_name", c => upper(c))
        .toSpark.orderBy("c_custkey")
    },
      """SELECT c_custkey, upper(c_name) AS c_name, c_nationkey, c_acctbal,
           c_mktsegment FROM customer ORDER BY c_custkey"""),
    QuerySpec("q_map_columns", (s, dir) => {
      DF.fromSpark(rd(s, dir, "customer"))
        .columns(Sel.Names(Seq("c_custkey", "c_nationkey")))
        .mapColumns(c => (c * 2).cast(LongType))
        .toSpark.orderBy("c_custkey")
    },
      """SELECT CAST(c_custkey * 2 AS BIGINT) AS c_custkey,
           CAST(c_nationkey * 2 AS BIGINT) AS c_nationkey
         FROM customer ORDER BY c_custkey"""),
    QuerySpec("q_freq_table", (s, dir) =>
      Summary.frequencyTable(rd(s, dir, "lineitem"), "l_returnflag"),
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
         GROUP BY l_returnflag ORDER BY cnt DESC, l_returnflag"""),
    QuerySpec("q_quantiles", (s, dir) =>
      Summary.quantileSummary(rd(s, dir, "lineitem"), "l_extendedprice"),
      """SELECT round(min(l_extendedprice), 6) AS vmin,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS q50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS q75,
           round(max(l_extendedprice), 6) AS vmax
         FROM lineitem"""),
    QuerySpec("q_drift_report", (s, dir) => {
      // corpus-version drift monitoring: the raw corpus vs a planted "new
      // crawl" whose every third doc grew by 200 chars (a new source mix
      // shifting the length distribution) — 16 shared integer buckets over
      // [0, 4095], exact counts both sides (PSI/KL left to callers: ln is
      // engine-ulp-unstable, the counts are not)
      val cur = rd(s, dir, "documents")
      val next = cur.select((col("n_chars") +
        when(col("doc_id") % 3 === 0, 200L).otherwise(0L)).as("n_chars"))
      Summary.histogramDrift(cur, next, "n_chars", 0L, 4095L, 16)
    },
      // the approx-quantile scale path: DuckDB cannot replicate the GK
      // sketch (merge-order dependent), so the oracle pins the deterministic
      // projection — exact n/min/max — and the rank-error-bound booleans the
      // Spark side computes EXACTLY against the raw column (true iff the
      // sketch honors its ±1/accuracy contract)
      // shared-bucket drift histogram: identical clamp + integer division on
      // both sides, FULL OUTER on the bucket with zero fills
      """WITH a AS (
           SELECT ((least(4095, greatest(0, CAST(n_chars AS BIGINT))) - 0) * 16) // 4096
             AS bucket
           FROM documents),
         b AS (
           SELECT ((least(4095, greatest(0,
             CAST(n_chars AS BIGINT)
               + CASE WHEN doc_id % 3 = 0 THEN 200 ELSE 0 END)) - 0) * 16) // 4096
             AS bucket
           FROM documents),
         ha AS (SELECT bucket, count(*) AS n_a FROM a GROUP BY bucket),
         hb AS (SELECT bucket, count(*) AS n_b FROM b GROUP BY bucket)
         SELECT CAST(coalesce(ha.bucket, hb.bucket) AS BIGINT) AS bucket,
           CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
           CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
         FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket
         ORDER BY bucket"""),
    QuerySpec("q_quantiles_approx", (s, dir) =>
      // the scale-default quantile path, oracle-pinned via its CONTRACT:
      // the sketch values themselves are engine-specific, but their exact
      // ranks (counted distributively against the raw column) must sit
      // within the GK ±N/accuracy bound — deterministic output either way
      Summary.approxQuantileBoundCheck(rd(s, dir, "lineitem"),
        "l_extendedprice", accuracy = 10000),
      """SELECT CAST(count(l_extendedprice) AS BIGINT) AS n,
           round(min(l_extendedprice), 6) AS vmin,
           round(max(l_extendedprice), 6) AS vmax,
           true AS ok25, true AS ok50, true AS ok75
         FROM lineitem"""),
    QuerySpec("q_bit_summary", (s, dir) =>
      Summary.bitSummaryTable(rd(s, dir, "lineitem"), col("l_discount") > 0.05),
      """SELECT CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS ones,
           count(*) AS total FROM lineitem"""),
    QuerySpec("q_distinct", (s, dir) =>
      rd(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus"),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus"""),
    QuerySpec("q_count_distinct", (s, dir) =>
      rd(s, dir, "lineitem").agg(count_distinct(col("l_partkey")).as("n_parts")),
      "SELECT count(DISTINCT l_partkey) AS n_parts FROM lineitem"),
    QuerySpec("q_json_extract", (s, dir) => {
      // semi-structured scalar functions over the events.props JSON column
      rd(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          count_distinct(col("k")).as("n_k"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
         FROM events GROUP BY event_type ORDER BY event_type""")
  )
}
