package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.queries._

/** Driver contract — see SURVEY.md §7.5.
  *
  * Every implemented operator has one entry in [[queries]], declared with
  * its DuckDB oracle as a [[graft.queries.QuerySpec]] in a per-family file
  * under `graft/queries/`; [[oracleSql]] returns the oracles over the same
  * parquet tables. Determinism rules used throughout so the driver's
  * row/schema/hash compare is stable across engines:
  *  - every query ends in an explicit ORDER BY with a unique tiebreak;
  *  - sums of doubles go through integer cents (`sum(cast(round(x*100) as
  *    long))`) so the result is independent of accumulation order and
  *    bit-identical in Spark and DuckDB (round-half-away == HALF_UP for
  *    both engines on the same input bits);
  *  - timestamps are output as epoch milliseconds (unix_millis / epoch_ms)
  *    to dodge timezone-annotation mismatches between the two writers;
  *  - computed integers are cast to BIGINT on both sides.
  */
object SparkEntry {

  private[graft] def rd(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's `ts` has shipped in two fixture generations:
    * TIMESTAMP(NANOS), which Spark's vectorized reader rejects — with
    * spark.sql.legacy.parquet.nanosAsLong=true (set in Verify/Bench
    * sessions) it arrives as raw Long nanos, converted to micros with
    * integer division (`div`, no double round-trip: ns epochs exceed 2^53,
    * matching DuckDB's own nanos→micros truncation) — and plain
    * TIMESTAMP(MICROS), which arrives as a timestamp directly. Dispatch on
    * the read schema so both generations work; the NTZ→LTZ cast is a no-op
    * under the UTC session timeZone and keeps every downstream query on the
    * same TimestampType the nanos path produced. */
  private[graft] def rdEvents(s: SparkSession, dir: String): DataFrame = {
    val raw = rd(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** Flagship query on /root/testdata/sf0.001 (SURVEY §7.2.1 M0): mask →
    * filter → project → aggregate over lineitem, the reference composition of
    * cl-data-frame-tests.lisp:66-70 at Spark scale. Driver smoke-checks
    * rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val li = rd(spark, "/root/testdata/sf0.001", "lineitem")
    DF.fromSpark(li)
      .filter(col("l_quantity") * col("l_extendedprice") >= 50000)
      .columns(Sel.Names(Seq("l_returnflag", "l_quantity")))
      .toSpark
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  // exact cents of a double column: deterministic, order-independent sum
  private[graft] def cents(c: org.apache.spark.sql.Column, scale: Long = 100L) =
    round(c * scale).cast(LongType)

  /** pre-build every memoized offline artifact for `dir`
    * ([[graft.queries.Offline.warmOffline]]). */
  def warmOffline(s: SparkSession, dir: String): Unit = Offline.warmOffline(s, dir)

  private lazy val registry: Map[String, QuerySpec] = QuerySpec.registry(
    "parity" -> ParityQueries.specs,
    "relational" -> RelationalQueries.specs,
    "dedup" -> DedupQueries.specs,
    "similarity" -> SimilarityQueries.specs,
    "text" -> TextQueries.specs,
    "search" -> SearchQueries.specs,
    "media" -> MediaQueries.specs,
    "streaming" -> StreamingQueries.specs,
    "sampling" -> SamplingQueries.specs,
    "curation" -> CurationQueries.specs)

  /** the sketch queries' oracle recompute ([[DedupQueries.sketchOracles]]) */
  private[graft] def sketchOracles(dir: String): Map[String, String] =
    DedupQueries.sketchOracles(dir)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.run }

  /** DuckDB oracle SQL for `names` over `dir` (same result, same column
    * names, same ORDER BY). A name absent from the result has no oracle
    * for this dir and gets the weaker rows-only check. */
  def oracleSql(s: SparkSession, dir: String, names: Set[String]): Map[String, String] =
    names.toSeq.flatMap(n => registry(n).oracle(s, dir).map(n -> _)).toMap
}
