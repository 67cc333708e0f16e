package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.StructType

/** [EXT] Sources and sinks (SURVEY §2.9 row 42). The reference has no IO at
  * all — data enters via lisp literals (cl-data-frame.lisp:315-322) — so this
  * is pure extension surface, mapped onto Spark's datasource API.
  *
  * Scale notes:
  *  - parquet is the primary format: columnar, predicate-pushdown- and
  *    column-pruning-capable (the scan's PushedFilters/ReadSchema should
  *    reflect the query — see ScanSpec);
  *  - csv/json readers accept an explicit schema to avoid the
  *    whole-file inference pass (mandatory at 100 TB);
  *  - writers partition by a column when given: downstream reads of
  *    `WHERE part = x` then prune entire directories;
  *  - bucketed writes (saveAsTable) co-locate join keys so repeated joins
  *    on the bucket column shuffle neither side.
  */
object Sources {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** schema-first CSV read; header assumed, schema inference only when no
    * schema is passed (fine locally, avoid at scale). */
  def readCsv(spark: SparkSession, path: String,
              schema: Option[StructType] = None): DataFrame = {
    val base = spark.read.option("header", "true")
    schema.fold(base.option("inferSchema", "true"))(s => base.schema(s))
      .csv(path)
  }

  /** JSON-lines read; same schema-first stance. */
  def readJson(spark: SparkSession, path: String,
               schema: Option[StructType] = None): DataFrame = {
    val base = spark.read
    schema.fold(base.option("inferSchema", "true"))(s => base.schema(s))
      .json(path)
  }

  /** ORC read — the second columnar format (built into Spark): same
    * predicate-pushdown and column-pruning behavior as parquet, relevant
    * when ingesting Hive-era data lakes. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String,
               partitionBy: Seq[String] = Nil,
               mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .orc(path)
  }

  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil,
                   mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  def writeCsv(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String,
                mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** bucketed managed-table write: co-locates `bucketBy` keys so subsequent
    * equi-joins/aggregations on them are shuffle-free (both sides read
    * pre-partitioned buckets). `SaveMode.Append` adds new bucket files to an
    * existing table (Spark validates the bucket spec matches), which is how
    * a persisted store grows incrementally without rewriting history. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    // repartition ON the bucket id before the write (the compactBucketed
    // idiom, hoisted to write time — r22): a bucketed saveAsTable writes one
    // file per (writing task × bucket present in it), so an N-partition
    // frame emits up to N × nBuckets files per write — ~1024 for the
    // media stores (32-partition checkpoints, nBuckets = 32) — and every
    // subsequent probe/scan pays the per-file open + footer cost (guide §6
    // small-files). Grouping each bucket's rows into one task first caps the
    // write at nBuckets files total for ONE extra shuffle of the batch —
    // the batch is the small side by the store-family contract, and at
    // production scale a bucketed store's write parallelism is nBuckets by
    // design. pmod(hash(col), n) is exactly Spark's bucket assignment, so
    // each bucket lands whole in one task (collisions merge tasks, never
    // split a bucket — total files stay ≤ nBuckets; BucketingSpec pins the
    // collapse for the compactors that already used this idiom).
    df.repartition(nBuckets, pmod(hash(col(bucketCol)), lit(nBuckets)))
      .write.mode(mode)
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** run independent store-table writes CONCURRENTLY (guide §2.6 "overlap
    * independent jobs"): Spark's scheduler runs several jobs in one
    * application happily — actions are sequential only because driver code
    * calls them sequentially. The two-table store writers (minhash
    * sigs+bands, embedding bands+vecs, LM pairs+ctx, index pos+len) each
    * issue two writes whose inputs are the SAME materialized checkpoint,
    * so the second job's tasks back-fill executors freed by the first's
    * tail instead of waiting for it to finish. Callers must pass writes
    * with no mutual ordering contract (append idempotency per table — the
    * appendLmCounts batch-tag doctrine — is unaffected by order). Failures
    * propagate: the first exception rethrows after all writes settle, so a
    * crash leaves the same recoverable per-table states as the sequential
    * form. */
  def writeConcurrently(writes: (() => Unit)*): Unit = {
    if (writes.length <= 1) { writes.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.length)
    try {
      val futures = writes.map(w => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = w()
      }))
      // get() each: rethrows the first failure AFTER every write settled
      futures.foreach(f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
    } finally pool.shutdown()
  }

  /** compact a cell-PARTITIONED store table in place — the partitioned
    * sibling of [[compactBucketed]] for stores whose appends accrete one
    * file per partition per writing batch (e.g. the IVF index's
    * `appendToIvfStore` cadence). Repartitioning ON the partition column
    * lands each partition's rows whole in one task, so the rewrite
    * ([[StoreTable.rewritePartitioned]]) emits one file per partition. */
  def compactPartitioned(spark: SparkSession, table: String,
                         partitionCol: String): Unit =
    StoreTable.rewritePartitioned(table,
      spark.table(table).repartition(col(partitionCol)))

  /** compact a bucketed store table in place: every per-batch
    * `SaveMode.Append` adds one file per bucket per writing task, so a
    * long-running incremental store (`Dedup.writeMinhashStore` + thousands
    * of `minhashDedupAgainst(updateStore = true)` batches) accretes
    * thousands of small files per bucket — the classic small-files problem
    * that degrades every subsequent scan's open/seek cost at 100 TB.
    * Compaction rewrites the table through [[StoreTable.swapIn]] (the
    * table's own bucket spec — one shuffle on the bucket id, then one file
    * per bucket) and preserves the `graft.*` build-parameter properties the
    * dedup probes validate against. Result-equivalence and the file-count
    * collapse are proven in BucketingSpec. */
  def compactBucketed(spark: SparkSession, table: String): Unit =
    StoreTable.swapIn(table, openStoreTable(spark, table))

  /** open a z-ordered parquet directory (written by
    * [[graft.operators.Layout.writeZOrdered]], maintained by
    * [[graft.operators.Layout.compactZOrdered]]) THROUGH the compaction
    * crash-recovery check: a crash between the swap's two renames leaves
    * nothing at `path` with the data intact in `path`.zcompact_old, and a
    * reader that opens the raw path in that state fails as if the store
    * were lost. Routing store opens through here makes recovery automatic
    * instead of requiring the operator to know
    * [[graft.operators.Layout.recoverZCompact]] exists. Cost when no crash
    * happened: two FileSystem existence probes. */
  def openZOrdered(spark: SparkSession, path: String): DataFrame = {
    graft.operators.Layout.recoverZCompact(spark, path)
    spark.read.parquet(path)
  }

  /** open a bucketed store table THROUGH the swap crash-recovery check —
    * the managed-table sibling of [[openZOrdered]]: a crash between a
    * maintainer's DROP and RENAME leaves the table missing from the
    * catalog with the data intact under the staging name, and a reader
    * that calls `spark.table` raw in that state fails as if the store
    * were lost. Cost when no crash happened: one catalog existence
    * probe. */
  def openStoreTable(spark: SparkSession, table: String): DataFrame = {
    StoreTable.recoverStoreSwap(spark, table)
    spark.table(table)
  }

  /** raw binary-file ingest — the media on-ramp for the multimodal pipeline
    * (`operators.Multimodal` consumes blob + metadata frames of exactly this
    * shape): one row per file with (path, modificationTime, length, content).
    * `pathGlob` prunes at LISTING time (e.g. `*.jpg`), and Multimodal's
    * blob-pruned metadata scans apply directly since content is its own
    * column. At 100 TB the files live behind an object-store listing;
    * `maxFileBytes`, when set, refuses oversized blobs EARLY (length filter
    * before content read) instead of OOMing an executor on a stray video. */
  def readBinaryFiles(spark: SparkSession, dir: String,
                      pathGlob: String = "*",
                      maxFileBytes: Long = 0L): DataFrame = {
    val base = spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob).load(dir)
    if (maxFileBytes > 0) base.filter(org.apache.spark.sql.functions.col("length") <= maxFileBytes)
    else base
  }

  /** line-oriented text ingest (one row per line, column `value`) — the raw
    * corpus on-ramp before parsing; `wholetext=true` instead yields one row
    * per FILE, the document shape the text-analysis operators consume. */
  def readText(spark: SparkSession, path: String,
               wholeFile: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholeFile.toString).text(path)

  /** range-partitioned, in-file-sorted parquet layout: rows are range-
    * partitioned on `sortCol` (sampled range boundaries → each output file
    * covers a DISJOINT value interval) and sorted within each file, so the
    * parquet min/max statistics make range predicates skip whole files and
    * row groups at scan time. This is the sorted-data-layout lever for
    * time/id-range-heavy workloads (the complement of `writeBucketed`,
    * which optimizes equi-joins): at 100 TB a `WHERE ts BETWEEN ...` over a
    * layout like this touches only the files whose interval intersects the
    * predicate. */
  def writeRangePartitioned(df: DataFrame, path: String, sortCol: String,
                            numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** order- and partitioning-independent content manifest of a frame:
    * (row_count, content_hash) where content_hash = wraparound mod-2^64 SUM
    * of per-row xxhash64 over ALL columns (struct-packed, so nulls and
    * types are part of the hash). Addition is commutative — the manifest is
    * identical under any row order, partitioning, or file layout, which is
    * the point: it versions the DATA, not the layout, so a re-clustered
    * (z-ordered, compacted, repartitioned) copy of a 100 TB dataset
    * verifies equal while a single changed row flips it. One scan, no
    * shuffle beyond the 1-row aggregate.
    *
    * SUM, not XOR, deliberately: a multiset-XOR cancels any row duplicated
    * an EVEN number of times (x ⊕ x = 0), so doubling a row PAIR was
    * invisible to the hash and only fenced by row_count. Under the sum a
    * duplicated row shifts the hash by its own term — duplication changes
    * BOTH fields. The executor-side sum rides DECIMAL(38,0) (exact to
    * ~10^19 rows — ANSI-safe, no Long overflow mid-aggregation) and wraps
    * to the low 64 bits on the driver, which is exactly the commutative
    * wraparound-Long sum. */
  def contentManifest(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions.{count, lit, struct, sum, xxhash64, col}
    import org.apache.spark.sql.types.DecimalType
    val r = df.agg(
      count(lit(1)),
      sum(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))
        .cast(DecimalType(38, 0)))).head()
    val h =
      if (r.isNullAt(1)) 0L
      else r.getDecimal(1).toBigInteger.longValue() // low 64 bits = wraparound
    (r.getLong(0), h)
  }

  /** Snapshot diff between two versions of an id-keyed dataset: one row
    * per id whose membership or content changed — `status` ∈ `added`
    * (in `cur` only) | `removed` (in `prev` only) | `changed` (both, but
    * the compare columns differ). Unchanged ids are dropped, which at
    * 100 TB is the point: an incremental re-crawl/re-curation pass touches
    * only the |Δ|-sized diff, never re-reads the corpus — the row-level
    * complement of the dataset-level [[contentManifest]] equality check.
    *
    * Content equality is md5 over the compare columns joined on a U+0001
    * separator (concat_ws — a null column is SKIPPED, identically in
    * DuckDB, so the hash is engine-portable and an external oracle can
    * replicate the verdicts; columns that may contain U+0001 or need
    * null-vs-empty distinguished want a caller-supplied encoding column).
    * Contract: `idCol` is unique per snapshot (duplicate ids would
    * multiply through the join).
    *
    * Scale shape: each side reduces to (id, 16-byte hash) BEFORE the full
    * outer join, so the shuffle never carries document bodies; when both
    * snapshots are bucketed stores on the id ([[writeBucketed]]) the
    * exchanges elide entirely and the diff is a zipped bucket scan. */
  def datasetDiff(cur: DataFrame, prev: DataFrame, idCol: String,
                  compareCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(compareCols.nonEmpty, "datasetDiff: no compare columns")
    def hashed(df: DataFrame, h: String) =
      df.select(col(idCol),
        md5(to_binary(concat_ws("\u0001", compareCols.map(col): _*),
          lit("utf-8"))).as(h))
    hashed(cur, "__hc").join(hashed(prev, "__hp"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__hp").isNull, lit("added"))
          .when(col("__hc").isNull, lit("removed"))
          .when(col("__hc") =!= col("__hp"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }

  /** Column-level diff attribution — WHICH columns drive the churn
    * [[datasetDiff]] reports: over the ids present in BOTH versions, count
    * per compare column how many rows changed it (null-safe inequality —
    * null→value and value→null are changes, null→null is not). The
    * follow-up question every snapshot diff raises ("10M changed rows —
    * is that a re-crawl or did one enrichment column get recomputed?")
    * answered with ONE co-keyed join + one aggregate; the k per-column
    * sums ride the same map-side partials, and the one-row wide result
    * reshapes to rows with `stack` (the profileTable pattern — no driver
    * collect).
    *
    * Output: (col_name, n_changed, n_common) per compare column, ordered
    * by col_name. */
  def datasetDiffColumns(cur: DataFrame, prev: DataFrame, idCol: String,
                         compareCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(compareCols.nonEmpty, "datasetDiffColumns: no compare columns")
    val c = cur.select(col(idCol) +:
      compareCols.map(n => col(n).as(s"__c_$n")): _*)
    val p = prev.select(col(idCol) +:
      compareCols.map(n => col(n).as(s"__p_$n")): _*)
    val sums = compareCols.map { n =>
      sum(when(!(col(s"__c_$n") <=> col(s"__p_$n")), 1L).otherwise(0L))
        .cast("long").as(s"__n_$n")
    } :+ count(lit(1)).cast("long").as("__common")
    val wide = c.join(p, Seq(idCol)).agg(sums.head, sums.tail: _*)
    val stackArgs = compareCols
      .map(n => s"'${n}', `__n_${n}`").mkString(", ")
    wide.select(
        expr(s"stack(${compareCols.size}, $stackArgs) AS (col_name, n_changed)"),
        col("__common").as("n_common"))
      .orderBy("col_name")
  }

  /** write a JSON manifest next to a dataset (one line: rows + hash). */
  def writeManifest(df: DataFrame, manifestPath: String): Unit = {
    val (n, h) = contentManifest(df)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(manifestPath),
      s"""{"rows":$n,"content_hash":$h}""")
  }

  /** verify a dataset against a manifest written by [[writeManifest]] —
    * throws with both manifests on mismatch (loud, like the store
    * parameter checks). */
  def verifyManifest(df: DataFrame, manifestPath: String): Unit = {
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(manifestPath)).trim
    val m = """\{"rows":(-?\d+),"content_hash":(-?\d+)\}""".r
    txt match {
      case m(rows, hash) =>
        val (n, h) = contentManifest(df)
        if (n != rows.toLong || h != hash.toLong)
          throw new IllegalStateException(
            s"manifest mismatch: data has (rows=$n, hash=$h), " +
              s"manifest says (rows=$rows, hash=$hash)")
      case _ => throw new IllegalArgumentException(
        s"unparseable manifest at $manifestPath: $txt")
    }
  }

  /** IN-PLAN op-domain guard (the containment massGuard precedent,
    * [[graft.operators.Dedup]]'s fail-fast raise_error projection): rides
    * the delta's key projection, so EVERY delta row — upsert, delete, or
    * garbage — is validated by the merge job itself as it scans the delta.
    * An unknown op silently dropping rows is the worst failure mode for a
    * store maintainer; the old eager distinct+take(1) caught it at the same
    * loudness but cost two extra driver round-trips PER MERGE — at a
    * many-batch CDC cadence that is pure maintenance-window overhead. */
  private def guardedKeys(delta: DataFrame, keyCol: String, opCol: String,
                          fn: String): DataFrame = {
    import org.apache.spark.sql.functions.{format_string, lit, raise_error, when}
    delta.select(col(keyCol),
        when(col(opCol).isin("upsert", "delete"), lit(true))
          .otherwise(raise_error(format_string(
            s"$fn: delta.$opCol has a value outside {upsert, delete}: %s",
            col(opCol))).cast("boolean")).as("__op_ok"))
      .filter(col("__op_ok")).select(keyCol)
  }

  /** Merge a changeset into a snapshot — the CDC/upsert primitive of an
    * incrementally-maintained corpus store. `delta` carries the snapshot's
    * columns plus `opCol` ∈ {"upsert", "delete"}: every delta key's base
    * row is retired (one anti-join), then the upsert payloads are appended.
    * An upsert therefore inserts-or-replaces; a delete just retires.
    *
    * Contract: `keyCol` is unique within `base` and within `delta` (a
    * duplicate delta key would insert twice — resolve last-writer-wins
    * upstream with a sequence column before calling; checking here would
    * cost an extra full aggregation per merge).
    *
    * Scale shape: one anti-join on the key plus a union — no other
    * shuffle. When base and delta are both bucketed stores on the key
    * ([[writeBucketed]], same bucket count), the anti-join's exchanges
    * elide on BOTH sides (proven in SourcesAndUdafSpec) and the merge
    * reads each bucket pair once; a typical delta is also ≪ base, so the
    * unbucketed case broadcasts the delta keys. */
  def mergeSnapshot(base: DataFrame, delta: DataFrame, keyCol: String,
                    opCol: String = "op"): DataFrame =
    base.join(guardedKeys(delta, keyCol, opCol, "mergeSnapshot"),
        Seq(keyCol), "left_anti")
      .unionByName(delta.filter(col(opCol) === "upsert").drop(opCol))

  /** Apply a changeset to a bucketed store table IN PLACE: read, merge
    * ([[mergeSnapshot]] — co-bucketed anti-join, no base shuffle) and
    * [[StoreTable.swapIn]] the result (the table's own bucket spec and
    * `graft.*` properties carry over; the drop→rename caveat applies — run
    * in the maintenance window). No checkpoint before the staging write:
    * the write is the merge plan's ONLY consumer and it reads the OLD
    * table, which stays intact until the swap. */
  def mergeIntoStore(spark: SparkSession, table: String, delta: DataFrame,
                     keyCol: String, opCol: String = "op"): Unit =
    StoreTable.swapIn(table,
      mergeSnapshot(openStoreTable(spark, table), delta, keyCol, opCol))

  // ---- SCD2 history store (time travel over the CDC stream) -------------
  //
  // [[mergeSnapshot]] keeps only the CURRENT state; the SCD2 family keeps
  // every version with a [valid_from, valid_to) batch interval, so any past
  // snapshot is one filter away ("what did the corpus look like when we
  // trained run 17?"). valid_to is NULL while a version is current.
  //
  // Scale shape: a merge touches the history ONCE — one left join against
  // the delta's distinct keys (broadcast when the delta is small, bucket-
  // co-partitioned in the store-backed form) to close open versions, plus a
  // union of the new versions. History grows by |delta| rows per batch and
  // never rewrites closed versions' payloads; as-of reads are a filter that
  // parquet min/max stats on (valid_from, valid_to) skip files with.

  /** seed a history from a full snapshot: every row becomes version
    * [batch, ∞). */
  def scd2Init(snapshot: DataFrame, batch: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    snapshot
      .withColumn("valid_from", lit(batch))
      .withColumn("valid_to", lit(null).cast("bigint"))
  }

  /** merge one changeset at `batch`: every delta key's OPEN version is
    * closed (valid_to = batch); each upsert payload opens a new version
    * [batch, ∞). A delete therefore just closes; an upsert of an absent or
    * deleted key re-inserts. Same uniqueness contract as [[mergeSnapshot]]
    * (keys unique within the delta and among OPEN history rows).
    *
    * `history` must carry valid_from/valid_to ([[scd2Init]]); `delta` the
    * payload columns plus `opCol` ∈ {"upsert", "delete"}. */
  def scd2Merge(history: DataFrame, delta: DataFrame, keyCol: String,
                batch: Long, opCol: String = "op"): DataFrame = {
    import org.apache.spark.sql.functions.{lit, when}
    // op-domain validation is IN the close-join's build side
    // ([[guardedKeys]]): every delta row flows through it, so a bad op
    // fails the merge job loudly with zero eager driver actions
    val touched = guardedKeys(delta, keyCol, opCol, "scd2Merge").distinct()
      .withColumn("__touched", lit(true))
    val closed = history.join(touched, Seq(keyCol), "left")
      .withColumn("valid_to",
        when(col("__touched") && col("valid_to").isNull, lit(batch))
          .otherwise(col("valid_to")))
      .drop("__touched")
    val opened = scd2Init(delta.filter(col(opCol) === "upsert").drop(opCol),
      batch)
    closed.unionByName(opened)
  }

  /** the state as of `batch` (inclusive): versions live at that batch,
    * validity columns dropped — a one-filter time-travel read. */
  def scd2SnapshotAsOf(history: DataFrame, batch: Long): DataFrame =
    history.filter(col("valid_from") <= batch &&
        (col("valid_to").isNull || col("valid_to") > batch))
      .drop("valid_from", "valid_to")

  /** [[scd2Merge]] against a bucketed history table IN PLACE — the same
    * [[StoreTable.swapIn]] (and maintenance-window caveat) as
    * [[mergeIntoStore]]; the close-join reads the OLD table in place and
    * flows straight into the staging write. Bucketing by the key keeps the
    * close-join exchange-free on the history side and co-locates every
    * key's version chain in one bucket for as-of reads. */
  def scd2MergeIntoStore(spark: SparkSession, table: String,
                         delta: DataFrame, keyCol: String, batch: Long,
                         opCol: String = "op"): Unit =
    StoreTable.swapIn(table,
      scd2Merge(openStoreTable(spark, table), delta, keyCol, batch, opCol))
}
