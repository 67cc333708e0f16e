package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.types.LongType

/** One store kind, declared once: the tables of `store`, the `graft.*`
  * build parameters, the format keys a store must carry, and the rows each
  * table takes from a batch of the kind. Every store module builds its
  * kind's spec in one private function and creates, checks, appends and
  * compacts through it.
  *
  * The store contract:
  *  - append ≡ rebuild. Appending a batch leaves a store that probes exactly
  *    like one built from all batches at once: every kind's rows are a
  *    mergeable summary of its batches (signatures, bands, counts, sketches,
  *    postings), so a store grows by new files and never rewrites history.
  *    A compaction folds the rows ([[compact]]) without changing any answer.
  *  - build parameters are validated. [[create]] persists `params` as
  *    `graft.*` properties on the first table (on every table with
  *    `propsOnEvery`), and every probe and append [[check]]s its own
  *    parameters against them: a probe with other parameters (a different
  *    hash base, band layout, model or kind) would silently miss true
  *    matches, so it fails by naming the table and the parameter. A store
  *    written before the properties existed has nothing to check and is
  *    accepted.
  *  - `required` keys mark an on-disk format version (e.g. `enc`): a store
  *    without one was written in an older format that would decode to wrong
  *    values, so it fails by name with rebuild advice instead.
  *
  * The catalog state itself (layout, properties, tag gate, swap) is
  * [[StoreTable]]'s. */
private[graft] final case class StoreSpec(store: String,
                                          params: Map[String, Any],
                                          tables: Seq[StoreSpec.Table],
                                          required: Set[String] = Set.empty,
                                          propsOnEvery: Boolean = false) {
  import StoreSpec.Table

  private def name(t: Table): String = store + t.suffix

  /** the full name of the first table: the one a probe reads, and the one
    * carrying the properties */
  def table: String = name(tables.head)

  private def propTables: Seq[Table] =
    if (propsOnEvery) tables else tables.take(1)

  /** create or replace every table from `batch` (the writes overlap when
    * there are several), bucketed tables at `nBuckets`, then persist
    * `params` plus the batch-derived `stats`. Tagged tables get the build's
    * `__batch = -1`, below every ingest batch id. */
  def create(batch: DataFrame, nBuckets: Int = 0,
             stats: Map[String, Any] = Map.empty): Unit = {
    Sources.writeConcurrently(tables.map(t => () => {
      val rows = if (t.tagged) t.rows(batch).withColumn("__batch", lit(-1L))
        else t.rows(batch)
      if (t.key.nonEmpty && !t.partitioned)
        Sources.writeBucketed(rows, name(t), t.key, nBuckets)
      else rows.write.mode(SaveMode.Overwrite).format("parquet")
        .partitionBy(Seq(t.key).filter(_ => t.partitioned): _*)
        .saveAsTable(name(t))
    }): _*)
    propTables.foreach(t =>
      StoreTable.setProps(batch.sparkSession, name(t), params ++ stats))
  }

  /** validate `params` against the store's persisted build parameters */
  def check(spark: SparkSession): Unit =
    propTables.foreach(t =>
      StoreTable.checkProps(spark, name(t), params, required))

  /** the store's persisted properties, and a merge of new ones into them */
  def props(spark: SparkSession): Map[String, String] =
    StoreTable.props(spark, table)

  def setProps(spark: SparkSession, more: Map[String, Any]): Unit =
    StoreTable.setProps(spark, table, more)

  /** check, then append `batch`'s rows to every table through
    * [[StoreTable.appendOnce]] (each table's tag gate is independent, so
    * the appends overlap and a crash between them recovers exactly).
    * Returns whether the first table's append ran. */
  def appendOnce(batch: DataFrame, batchId: Long = -1L): Boolean = {
    check(batch.sparkSession)
    write(batch, batchId)
  }

  /** the survivor path of every read-and-update probe, which checks first:
    * when `update`, pin `survivors` (the probe reads the store it is about
    * to grow, so an unpinned frame would re-run against its own appended
    * rows), append the kind's rows from them, and return the pinned frame;
    * otherwise return `survivors` as they are. */
  def keep(survivors: DataFrame, update: Boolean,
           batchId: Long = -1L): DataFrame =
    if (!update) survivors
    else {
      val s = survivors.localCheckpoint()
      write(s, batchId)
      s
    }

  /** a table written before one of its kind's columns existed (the
    * embedding vecs' `fullsig`) appends without it */
  private def write(batch: DataFrame, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val ran = Array.fill(tables.length)(false)
    Sources.writeConcurrently(tables.indices.map(i => () => {
      val rows = tables(i).rows(batch)
      val have = spark.table(name(tables(i))).columns.toSet
      ran(i) = StoreTable.appendOnce(
        rows.select(rows.columns.filter(have).map(col).toIndexedSeq: _*),
        name(tables(i)), batchId)
    }): _*)
    ran.head
  }

  /** compact an accreting store in place: fold each table's rows into one
    * row per key (`merge` aggregates the value columns; the batch tag
    * folds to its max) and swap the fold in through [[StoreTable.swapIn]].
    * Every estimate a store serves is a merge of its rows, so a fold
    * changes no answer. The highest tag folded away persists as
    * `graft.compacted_watermark`, so [[StoreTable.appendOnce]] still skips
    * a replay of any folded batch (batch tags must be nondecreasing across
    * a compaction, which a streaming ingest's batch ids are). Run it
    * between ingest passes, like every store rewrite. */
  def compact(spark: SparkSession, merge: Column*): Unit = {
    tables.foreach(t => StoreTable.recoverStoreSwap(spark, name(t)))
    check(spark)
    tables.foreach { t =>
      val merged = spark.table(name(t)).groupBy(col(t.key))
        .agg(merge.head, merge.tail :+
          max("__batch").cast(LongType).as("__batch"): _*)
        .localCheckpoint()
      val watermark = merged.agg(max("__batch")).collect().headOption
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
        .getOrElse(Long.MinValue)
      StoreTable.swapIn(name(t), merged, Map("compacted_watermark" -> watermark))
      merged.unpersist()
    }
  }
}

private[graft] object StoreSpec {

  /** one table of a kind: its name suffix, its key column and the rows it
    * takes from a batch. The key is the bucket column, or the partition
    * column of a `partitioned` table; an empty key is an unbucketed table.
    * A `tagged` table carries the [[StoreTable.appendOnce]] `__batch` tag. */
  final case class Table(suffix: String, key: String,
                         rows: DataFrame => DataFrame,
                         tagged: Boolean = false,
                         partitioned: Boolean = false)
}
