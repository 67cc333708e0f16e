package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions.{col, lit}

/** The store-table core: the one module that reads or writes a store
  * table's catalog state. Every incremental store (the dedup, search,
  * similarity, LM and sketch stores, and the merge/compaction maintainers
  * in [[Sources]]) keeps two things in the catalog:
  *  - its physical layout — the bucket column and bucket count, fixed at
  *    build time by [[Sources.writeBucketed]] and read back here from the
  *    table's own `bucketSpec`, so an append, probe, merge or compaction
  *    never takes a bucket count from its caller (a wrong one either
  *    fails Spark's "Specified bucketing does not match" check or, on a
  *    rewrite, silently re-buckets the store);
  *  - its build parameters, as `graft.*` table properties ([[setProps]],
  *    validated by [[checkProps]] on every probe and append).
  *
  * The staging swap ([[swapIn]]) is the only rewrite path, and
  * [[recoverStoreSwap]] heals a crash inside it; [[appendOnce]] is the only
  * append. What a store kind is, and the contract every kind keeps, is
  * declared in [[StoreSpec]]. */
object StoreTable {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val Prefix = "graft."

  /** staging suffixes of a swap in flight: both are healed by
    * [[recoverStoreSwap]] (stores maintained by builds that staged merges
    * under `__merging` still recover); [[swapIn]] stages under
    * `__compacting`. */
  private val Stagings = Seq("__merging", "__compacting")

  private def metadata(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  private def graftProps(meta: CatalogTable): Map[String, String] =
    meta.properties.collect {
      case (k, v) if k.startsWith(Prefix) => k.stripPrefix(Prefix) -> v
    }

  /** the table's build parameters: its `graft.*` properties, keyed without
    * the prefix. */
  def props(spark: SparkSession, table: String): Map[String, String] =
    graftProps(metadata(spark, table))

  /** persist build parameters as `graft.<key>` properties. */
  def setProps(spark: SparkSession, table: String,
               params: Map[String, Any]): Unit =
    if (params.nonEmpty)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
        params.toSeq.sortBy(_._1)
          .map { case (k, v) => s"'$Prefix$k' = '$v'" }.mkString(", ") + ")")

  /** validate probe parameters against the build parameters persisted by
    * [[setProps]]: a mismatch fails by name, and so does a missing
    * `required` format key; any other missing key is accepted
    * ([[StoreSpec]] states the contract). */
  def checkProps(spark: SparkSession, table: String,
                 params: Map[String, Any],
                 required: Set[String] = Set.empty): Unit = {
    val stored = props(spark, table)
    params.foreach { case (k, v) =>
      if (required(k)) require(stored.contains(k),
        s"$table has no graft.$k property — it was written by a build whose " +
          s"on-disk format predates $k=$v; decoding it under the current " +
          "format would return silently wrong values. Rebuild the store " +
          "with its write* entry point")
      stored.get(k).foreach(s => require(s == v.toString,
        s"$table was built with $k=$s but the probe passed $k=$v — " +
          "mismatched parameters silently miss true duplicates (signatures " +
          "or band keys can never match); probe with the store's parameters"))
    }
  }

  /** (bucket column, bucket count) as the catalog recorded them when the
    * table was built. Fails by name on a table that is not bucketed on
    * exactly one column — such a table is not a store table, and guessing
    * a layout for it would break the no-shuffle probe contract. */
  def bucketSpec(spark: SparkSession, table: String): (String, Int) =
    metadata(spark, table).bucketSpec match {
      case Some(b) if b.bucketColumnNames.length == 1 =>
        (b.bucketColumnNames.head, b.numBuckets)
      case other => throw new IllegalArgumentException(
        s"$table is not a store table: its bucket spec is " +
          other.fold("none")(b => s"${b.numBuckets} buckets on " +
            b.bucketColumnNames.mkString("(", ", ", ")")) +
          ", and a store table is bucketed on one column. Rebuild it with " +
          "its write* entry point")
    }

  /** write `df` to `target` with `meta`'s layout: bucketed on its spec (one
    * file per bucket, since [[Sources.writeBucketed]] repartitions on the
    * bucket id), or plain parquet under its partition columns when the
    * catalog records no bucket spec. */
  private def writeLike(meta: CatalogTable, df: DataFrame, target: String,
                        mode: SaveMode): Unit =
    meta.bucketSpec match {
      case Some(b) => Sources.writeBucketed(df, target,
        b.bucketColumnNames.head, b.numBuckets, mode)
      case None => df.write.mode(mode).format("parquet")
        .partitionBy(meta.partitionColumnNames: _*).saveAsTable(target)
    }

  /** append `rows` to a store table at most once per `batchId` — the one
    * append of every store, exactly-once for the accreting stores (search
    * index, PQ codes, CDC chunks, LM counts, cardinality and frequency
    * sketches), which tag their rows. Returns whether the append ran.
    *
    * The rows are tagged `__batch = batchId`, and the append is skipped when
    *  - `batchId` is at or below the table's `graft.compacted_watermark`
    *    (the batch was folded away by a compaction); or
    *  - one `__batch === batchId` probe finds the batch already present.
    *    The probe is a `limit(1)` scan whose predicate prunes on per-file
    *    column stats, since every append writes constant-tag files.
    * Otherwise it appends under the table's own layout, like [[swapIn]].
    * `batchId < 0` appends ungated (tagged, never probed: idempotence is the
    * caller's contract), and a table without a `__batch` column (an inverted
    * index written before the tag existed) appends untagged.
    *
    * Crash contract. Each append job commit is the atomicity unit, so a
    * replay after a crash anywhere around it appends exactly the tables that
    * miss the batch: a multi-table store (index postings + terms, LM pairs +
    * ctx) recovers exactly from a crash between its appends. The gate is in
    * the data, so it holds where filesystem markers cannot: a crash between
    * the append and the marker of [[graft.streaming.Streams]], or a
    * checkpoint wiped while the input set is unchanged. It assumes a stable
    * batchId → content mapping, which one checkpoint lineage guarantees.
    * After a compaction a restarted checkpoint's new data at a tag ≤ the
    * watermark is indistinguishable from a replay — the skip is logged as a
    * warning, and the fix is a fresh store or tags from a store-side
    * monotone counter. */
  private[graft] def appendOnce(rows: DataFrame, table: String,
                                batchId: Long): Boolean = {
    val spark = rows.sparkSession
    val meta = metadata(spark, table)
    val tagged = meta.schema.fieldNames.contains("__batch")
    // the highest tag a compaction folded away: applied, though its rows
    // no longer exist
    val wm = graftProps(meta).get("compacted_watermark")
      .fold(Long.MinValue)(_.toLong)
    val skip = tagged && batchId >= 0 && (
      if (batchId <= wm) {
        log.warn(s"$table: skipping append with batchId=$batchId at or " +
          s"below compacted watermark $wm — if this ingest RESTARTED from a " +
          "fresh checkpoint (batchIds reset to 0) this is NEW data being " +
          "dropped as a replay; restart against a fresh store or derive " +
          "tags from a store-side monotone counter")
        true
      } else spark.table(table).filter(col("__batch") === batchId)
        .limit(1).count() > 0)
    if (!skip)
      writeLike(meta, if (tagged) rows.withColumn("__batch", lit(batchId))
        else rows, table, SaveMode.Append)
    !skip
  }

  /** the accreting stores (sketches, LM counts) need a real tag: their
    * seed rows carry -1, so an ungated [[appendOnce]] would double-count
    * them on replay. */
  private[graft] def requireTag(op: String, table: String,
                                batchId: Long): Unit =
    require(batchId >= 0, s"$op($table): batchTag must be >= 0, got " +
      s"$batchId — the store's seed rows carry -1, so an ungated append " +
      "would double-count them on replay")

  /** replace `table`'s contents with `rewritten` in place: write a staging
    * table with the same layout ([[writeLike]]), DROP the
    * table, RENAME the staging table to it, and re-apply its `graft.*`
    * properties plus `extraProps`. `rewritten` may read the table itself:
    * the staging write is its only consumer and completes before the drop.
    * Stale staging tables are uncommitted rewrites (the table exists, so
    * no swap is pending) and are dropped first.
    *
    * The drop→rename swap is two catalog calls, not one atomic operation:
    * a reader planning in that window errors and retries, so run it in
    * the maintenance window of the store's appends (a catalog with atomic
    * RENAME ... SWAP semantics removes even that). A crash between the two
    * calls is healed by [[recoverStoreSwap]]. */
  def swapIn(table: String, rewritten: DataFrame,
             extraProps: Map[String, Any] = Map.empty): Unit = {
    val spark = rewritten.sparkSession
    recoverStoreSwap(spark, table)
    val meta = metadata(spark, table)
    val staging = s"${table}__compacting"
    Stagings.foreach(s => spark.sql(s"DROP TABLE IF EXISTS $table$s"))
    writeLike(meta, rewritten, staging, SaveMode.Overwrite)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    setProps(spark, table, graftProps(meta) ++ extraProps)
  }

  /** rewrite a cell-PARTITIONED table in place with `rewritten` — the
    * partitioned sibling of [[swapIn]], which it cannot use: `ALTER TABLE
    * RENAME` on a managed PARTITIONED table leaves the per-partition
    * metadata pointing at the old location (scans come back empty). So the
    * rewrite is MATERIALIZED first (`localCheckpoint`, executor block
    * storage; a maintenance-window cost proportional to the table) and
    * written back over the same table, with the `graft.*` properties
    * re-applied after the overwrite recreates it. */
  private[sources] def rewritePartitioned(table: String,
                                          rewritten: DataFrame): Unit = {
    val spark = rewritten.sparkSession
    val meta = metadata(spark, table)
    val snapshot = rewritten.localCheckpoint()
    writeLike(meta, snapshot, table, SaveMode.Overwrite)
    snapshot.unpersist()
    setProps(spark, table, graftProps(meta))
  }

  /** recovery for a crash between [[swapIn]]'s DROP and RENAME: the table
    * is gone but the fully-written staging table survives — rename it
    * back. The window is unambiguous: the DROP only ever runs AFTER the
    * staging write committed, so "table missing + staging present" can
    * only mean an interrupted swap, and "table present + staging present"
    * can only mean a crash BEFORE the drop (the staging is then an
    * uncommitted rewrite the next swap discards — recovery correctly
    * leaves the table alone). Idempotent; returns true iff a restore
    * happened. [[swapIn]] calls it first — call it directly (or open via
    * [[Sources.openStoreTable]]) on startup when readers may touch the
    * table before the next maintenance window.
    *
    * Caveat: `graft.*` build properties are re-applied by a separate
    * catalog call after the rename, so a crash inside that last window
    * restores the DATA but not the properties — the stores' build-
    * parameter validation then fails loudly on the next probe that
    * requires a format property instead of silently serving a store whose
    * parameters can no longer be verified. */
  def recoverStoreSwap(spark: SparkSession, table: String): Boolean =
    if (spark.catalog.tableExists(table)) false
    else Stagings.map(s => s"$table$s").filter(spark.catalog.tableExists) match {
      case Seq() => false
      case Seq(st) =>
        spark.sql(s"ALTER TABLE $st RENAME TO $table")
        true
      case many => throw new IllegalStateException(
        s"recoverStoreSwap: $table is missing and MULTIPLE staging " +
          s"tables exist (${many.mkString(", ")}) — ambiguous crash " +
          "state, manual repair required")
    }
}
