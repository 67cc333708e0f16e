package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Relational completeness layer (SURVEY.md §2.9): the reference has no
  * joins / group-by / sort / set-ops / windows at all, so these are pure
  * extensions, expressed directly as Catalyst plans.
  *
  * Scale notes (100 TB design stance):
  *  - joins against dimension tables take an explicit `broadcast()` hint —
  *    dims (region/nation/customer/part/supplier) are MBs even at 100 TB
  *    fact scale, so no shuffle of the fact side ever happens for them;
  *  - fact-fact joins shuffle on the join key; AQE (enabled in the session)
  *    handles skew splitting and partition coalescing at runtime;
  *  - top-k is `orderBy+limit` which Spark plans as TakeOrderedAndProject
  *    (per-partition heap + driver merge of k rows, never a total sort);
  *  - the as-of join is the union+window formulation: one shuffle on the key,
  *    no range-explosion, no per-row subquery.
  */
object Relational {

  // ---- joins ----
  def innerJoin(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
    l.join(r, keys, "inner")
  def leftJoin(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
    l.join(r, keys, "left")
  def semiJoin(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
    l.join(r, keys, "left_semi")
  def antiJoin(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
    l.join(r, keys, "left_anti")
  def fullJoin(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
    l.join(r, keys, "full_outer")

  /** Bloom-prefiltered left-semi join — the manual form of Spark's own
    * runtime-filter rewrite (InjectRuntimeFilter), for when the optimizer
    * can't prove it itself (e.g. the build side is an arbitrary frame, not a
    * selective filter on a join). Builds a bloom filter over `rightKey` with
    * ONE aggregate on the right side (BloomFilterAggregate — the same
    * Catalyst aggregate the optimizer injects), ships the resulting sketch
    * (driver-bounded: `numBits/8` bytes ≈ 1.2 MB at the defaults, the same
    * order as any broadcast) as a literal, and filters the left side with the
    * codegen'd `BloomFilterMightContain` BEFORE the exact left-semi join.
    *
    * RESULT-PRESERVING: a bloom filter has no false negatives, so
    * prefilter + semi join ≡ semi join — the oracle for any query through
    * this path is the plain semi join. The payoff at 100 TB: the fact scan
    * drops non-matching rows in the scan's own codegen stage (and the
    * xxhash64+bloom probe costs ~ns/row), so the shuffle for the semi join
    * moves only surviving rows — when the dim matches 1% of fact keys,
    * that's a 100× smaller shuffle for one map-side sketch aggregate. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                    dimKey: String, expectedItems: Long = 1000000L,
                    numBits: Long = 8388608L): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloomAgg = GraftSqlBridge.column(
      new BloomFilterAggregate(
        GraftSqlBridge.expression(xxhash64(dim.col(dimKey))),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression)
    // one row, one binary value — materialized like an executed scalar
    // subquery (exactly what InjectRuntimeFilter's subquery evaluates to)
    val sketch: Array[Byte] = dim.agg(bloomAgg.as("bf"))
      .head.getAs[Array[Byte]]("bf")
    // an EMPTY build side yields a null sketch (aggregate over zero rows) —
    // the semi join is then provably empty; short-circuit instead of
    // building a probe on a null literal
    if (sketch == null) return fact.filter(lit(false))
    val mightContain = GraftSqlBridge.column(BloomFilterMightContain(
      GraftSqlBridge.expression(lit(sketch)),
      GraftSqlBridge.expression(xxhash64(fact.col(factKey)))))
    fact.filter(mightContain)
      .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_semi")
  }

  /** fact ⋈ small dim with an explicit broadcast hint: the fact side never
    * shuffles; each executor hash-probes a replicated dim. */
  def broadcastJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                    how: String = "inner"): DataFrame =
    fact.join(broadcast(dim), keys, how)

  /** inequality/range join. Catalyst plans a broadcast nested-loop unless one
    * side is small; callers should pre-bucket the larger side on a coarse
    * range key (e.g. day) and add the equality to `cond` so this becomes a
    * hash join with a residual range filter. */
  def rangeJoin(l: DataFrame, r: DataFrame, cond: Column,
                how: String = "inner"): DataFrame =
    l.join(r, cond, how)

  /** As-of join: for every left row, the most recent right row with
    * rightTime <= leftTime within the same `keys` group.
    *
    * Implementation is the scalable union+window form: tag both sides, union,
    * window over (keys, time) carrying the last non-null right payload
    * forward, keep left rows. Exactly ONE shuffle (on keys for the window
    * sort); no cross-product, no per-row scan — survives a 100× scale-up as
    * long as a single key group's timeline fits a partition sort (Spark
    * spills sorts to disk, so even that degrades gracefully).
    *
    * @param valueCols right-side columns carried onto the left rows
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               valueCols: Seq[String]): DataFrame = {
    val lTagged = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1)) // left sorts after an equal-time right row
    val rTagged = right.select(
      keys.map(col) ++ Seq(col(rightTime).as("__t"), lit(0).as("__side")) ++
        valueCols.map(c => col(c).as(s"__v_$c")): _*)
    val lAligned = lTagged.select(
      keys.map(col) ++ Seq(col("__t"), col("__side")) ++
        left.columns.filterNot(keys.contains).map(c => col(c)) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__v_$c")): _*)
    val unioned = lAligned.unionByName(
      rTagged.select(
        keys.map(col) ++ Seq(col("__t"), col("__side")) ++
          left.columns.filterNot(keys.contains).map(c =>
            lit(null).cast(left.schema(c).dataType).as(c)) ++
          valueCols.map(c => col(s"__v_$c")): _*))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = valueCols.foldLeft(unioned) { (d, c) =>
      d.withColumn(c, last(col(s"__v_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1)
      .drop((valueCols.map(c => s"__v_$c") :+ "__t" :+ "__side"): _*)
  }

  /** [[asofJoin]] with DIRECTION, TOLERANCE, and a deterministic tie rule —
    * the full pandas `merge_asof` surface:
    *
    *  - `direction = "backward"`: most recent right row with
    *    rightTime <= leftTime (the [[asofJoin]] semantics);
    *  - `direction = "forward"`: EARLIEST right row with
    *    rightTime >= leftTime;
    *  - `toleranceSeconds`: matches farther than this from the left time
    *    yield NULL values (the left row is kept — left-join semantics);
    *  - `rightTiebreak`: right rows tied on the match time are resolved by
    *    this column (backward: max time then MAX tiebreak; forward: min
    *    time then MIN tiebreak) — a total order, so the result can never
    *    depend on partition luck. [[asofJoin]] leaves ties to the engine;
    *    this variant refuses the ambiguity.
    *
    * Same scalable union+window plan as [[asofJoin]] (ONE shuffle on the
    * keys, no range self-join): the direction only flips the window's sort
    * order, and the tolerance is a post-fill integer-micros comparison
    * against the matched right time carried alongside the values. */
  def asofJoinDirected(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftTime: String, rightTime: String,
                       valueCols: Seq[String], direction: String,
                       toleranceSeconds: Long = Long.MaxValue,
                       rightTiebreak: Option[String] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"asofJoinDirected: direction must be backward|forward, got $direction")
    require(toleranceSeconds >= 0,
      s"asofJoinDirected: negative tolerance $toleranceSeconds")
    val carried = valueCols :+ "__mt"
    val lTagged = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
    val rTagged = right.select(
      keys.map(col) ++ Seq(col(rightTime).as("__t"), lit(0).as("__side"),
        rightTiebreak.map(col).getOrElse(lit(0L)).as("__tb"),
        col(rightTime).as("__v___mt")) ++
        valueCols.map(c => col(c).as(s"__v_$c")): _*)
    val lAligned = lTagged.select(
      keys.map(col) ++ Seq(col("__t"), col("__side"),
        rightTiebreak.map(c => lit(null).cast(right.schema(c).dataType))
          .getOrElse(lit(null).cast("long")).as("__tb"),
        lit(null).cast(right.schema(rightTime).dataType).as("__v___mt")) ++
        left.columns.filterNot(keys.contains).map(c => col(c)) ++
        valueCols.map(c =>
          lit(null).cast(right.schema(c).dataType).as(s"__v_$c")): _*)
    val unioned = lAligned.unionByName(
      rTagged.select(
        keys.map(col) ++ Seq(col("__t"), col("__side"), col("__tb"),
          col("__v___mt")) ++
          left.columns.filterNot(keys.contains).map(c =>
            lit(null).cast(left.schema(c).dataType).as(c)) ++
          valueCols.map(c => col(s"__v_$c")): _*))
    // backward scans time ascending (carried = latest right <= t, max-tb on
    // ties); forward scans descending (carried = earliest right >= t,
    // min-tb on ties — the LAST-scanned tie wins under a desc tb order).
    // Left rows sort after right rows at the same instant either way
    // (side 1 > 0), so exact-time matches are included in both directions.
    val ord =
      if (direction == "backward")
        Seq(col("__t").asc, col("__side").asc, col("__tb").asc)
      else Seq(col("__t").desc, col("__side").asc, col("__tb").desc)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = carried.foldLeft(unioned) { (d, c) =>
      d.withColumn(s"__f_$c", last(col(s"__v_$c"), ignoreNulls = true).over(w))
    }
    // DATE-typed times widen to midnight-UTC timestamps before the integer
    // micros delta (a no-op for timestamp inputs; exact either way)
    def us(c: Column) = unix_micros(c.cast("timestamp"))
    val deltaUs =
      if (direction == "backward") us(col("__t")) - us(col("__f___mt"))
      else us(col("__f___mt")) - us(col("__t"))
    val inTol = col("__f___mt").isNotNull &&
      deltaUs <= lit(toleranceSeconds) * lit(1000000L)
    val out = valueCols.foldLeft(filled) { (d, c) =>
      d.withColumn(c, when(inTol, col(s"__f_$c")))
    }
    out.filter(col("__side") === 1)
      .drop((carried.flatMap(c => Seq(s"__v_$c", s"__f_$c")) ++
        Seq("__t", "__side", "__tb")): _*)
  }

  /** Skew-salted inner equi-join for when ONE fact key is hot enough to
    * overwhelm a single reducer even under AQE's skew splitting: the fact
    * side gets a random salt in [0, buckets), the (small) other side is
    * replicated `buckets` times, and the join key becomes (key, salt) — the
    * hot key's rows spread over `buckets` reducers.
    *
    * Use only when the right side is replicable (dim-sized): replication
    * multiplies it by `buckets`. For fact-fact skew prefer AQE
    * (spark.sql.adaptive.skewJoin, on by default). Deterministic variant:
    * salt = pmod(hash of a high-cardinality fact column), so reruns produce
    * identical partitioning. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 buckets: Int, saltSource: Column): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val salted = fact.withColumn("__salt", pmod(xxhash64(saltSource), lit(buckets)))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1)).cast("array<long>")))
    salted.join(replicated, Seq(key, "__salt"), "inner").drop("__salt")
  }

  // ---- aggregation ----
  def groupAgg(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  def rollupAgg(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.rollup(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  def cubeAgg(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.cube(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /** explicit GROUPING SETS — the general form rollup/cube specialize: each
    * set is one grouping; columns absent from a set come back null. Plans as
    * ONE Expand + one hash aggregate (the same shape as rollup/cube), so
    * cost is |sets| × input rows of expanded partials, never |sets| scans. */
  def groupingSetsAgg(df: DataFrame, sets: Seq[Seq[String]],
                      keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupingSets(sets.map(_.map(col)), keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** static pivot (explicit value list keeps the plan single-pass;
    * Spark otherwise runs an extra distinct job to discover values). */
  def pivot(df: DataFrame, groupKey: String, pivotKey: String,
            values: Seq[String], agg: Column): DataFrame =
    df.groupBy(col(groupKey)).pivot(pivotKey, values).agg(agg)

  // ---- sorts / limits ----
  def sortBy(df: DataFrame, cols: Seq[Column]): DataFrame = df.orderBy(cols: _*)

  /** top-k: planned as TakeOrderedAndProject (no total sort). */
  def topK(df: DataFrame, k: Int, ordering: Seq[Column]): DataFrame =
    df.orderBy(ordering: _*).limit(k)

  // ---- set ops ----
  def unionAll(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)
  def unionDistinct(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b).distinct()
  def intersect(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)
  def except(a: DataFrame, b: DataFrame): DataFrame = a.except(b)

  // ---- windows ----
  def ranked(df: DataFrame, partition: Seq[String], order: Seq[Column],
             rankCol: String = "rank"): DataFrame =
    df.withColumn(rankCol,
      rank().over(Window.partitionBy(partition.map(col): _*).orderBy(order: _*)))

  def rowNumbered(df: DataFrame, partition: Seq[String], order: Seq[Column],
                  outCol: String = "rn"): DataFrame =
    df.withColumn(outCol,
      row_number().over(Window.partitionBy(partition.map(col): _*).orderBy(order: _*)))

  /** per-group top-n via row_number — one shuffle, no driver collect. */
  def topNPerGroup(df: DataFrame, partition: Seq[String], order: Seq[Column],
                   n: Int): DataFrame =
    rowNumbered(df, partition, order, "__rn").filter(col("__rn") <= n).drop("__rn")

  def runningAgg(df: DataFrame, partition: Seq[String], order: Seq[Column],
                 agg: Column, outCol: String): DataFrame =
    df.withColumn(outCol,
      agg.over(Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, 0)))

  /** bounded-frame moving aggregate: `agg` over the last `precedingRows`
    * rows plus the current one (ROWS BETWEEN n PRECEDING AND CURRENT ROW) —
    * the sliding-window complement of [[runningAgg]]'s unbounded frame. The
    * frame is ROWS, not RANGE: with a unique tiebreak in `order` it is
    * deterministic, and Spark evaluates it with a constant-size sliding
    * buffer per partition (never materializing the whole group). */
  def movingAgg(df: DataFrame, partition: Seq[String], order: Seq[Column],
                agg: Column, precedingRows: Int, outCol: String): DataFrame = {
    require(precedingRows >= 0, s"precedingRows must be >= 0, got $precedingRows")
    df.withColumn(outCol,
      agg.over(Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
        .rowsBetween(-precedingRows.toLong, Window.currentRow)))
  }

  /** RANGE-frame moving aggregate: `agg` over all rows whose `orderCol`
    * VALUE lies within `precedingRange` of the current row's (inclusive) —
    * the time-windowed complement of [[movingAgg]]'s row-count frame
    * (e.g. "sum over the trailing hour" with orderCol = epoch millis and
    * precedingRange = 3600000). Rows with EQUAL order values share one
    * frame, so the result is deterministic without a tiebreak column. */
  def movingAggRange(df: DataFrame, partition: Seq[String], orderCol: Column,
                     agg: Column, precedingRange: Long,
                     outCol: String): DataFrame = {
    require(precedingRange >= 0,
      s"precedingRange must be >= 0, got $precedingRange")
    df.withColumn(outCol,
      agg.over(Window.partitionBy(partition.map(col): _*).orderBy(orderCol)
        .rangeBetween(-precedingRange, Window.currentRow)))
  }

  def lagLead(df: DataFrame, partition: Seq[String], order: Seq[Column],
              target: String): DataFrame = {
    val w = Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
    df.withColumn(s"${target}_lag", lag(col(target), 1).over(w))
      .withColumn(s"${target}_lead", lead(col(target), 1).over(w))
  }

  /** EXACT heavy hitters without a full group-by: items whose frequency is
    * ≥ `support`·N, over a key whose cardinality may be corpus-scale (e.g.
    * every distinct token of a 100 TB corpus — a plain groupBy would
    * shuffle the whole key space just to discard almost all of it).
    *
    * Two passes, both scans:
    *  1. a single-pass Misra-Gries candidate sketch (Spark's
    *     `stat.freqItems` run at support/2 — see the in-body note — with
    *     per-partition maps of ≤ 2/support entries merged on the driver,
    *     bounded by the sketch contract, NOT by data size). Misra-Gries at
    *     the halved support guarantees NO false negatives for the
    *     ≥ ceil(support·N) confirm threshold under any partitioning or
    *     arrival order; the candidate set may carry order-dependent false
    *     positives;
    *  2. an exact confirming count restricted to the candidates (a literal
    *     IN filter of ≤ 1/support values pushed into the scan, then a
    *     groupBy whose shuffle carries ONLY candidate-key rows — map-side
    *     partial aggregation collapses each partition to ≤ 1/support rows).
    *
    * The confirm filter makes the RESULT exact and deterministic — every
    * false positive fails `cnt ≥ ceil(support·N)` — so the sketch's
    * nondeterminism never reaches the output. The total-count pass rides
    * the same confirm job via a grouping-less agg only when `total` is not
    * supplied; callers who already know N pass it to keep this at exactly
    * two scans. */
  def heavyHitters(df: DataFrame, keyCol: String, support: Double,
                   total: Long = -1L): DataFrame = {
    require(support > 1e-4 && support < 1.0,
      s"support must be in (1e-4, 1), got $support (freqItems' own floor)")
    val n = if (total >= 0) total else df.count()
    val thresh = math.ceil(support * n).toLong
    // sketch at HALF the support: freqItems (Misra-Gries) only guarantees
    // survival of items with count STRICTLY ABOVE sketchSupport·N, so when
    // support·N is an integer an item with count exactly ceil(support·N)
    // = support·N could legally be evicted from a sketch run at `support` —
    // a partitioning-dependent false negative. At support/2 every item the
    // confirm filter can keep satisfies count ≥ support·N > (support/2)·N,
    // putting it inside the guarantee; the sketch map merely doubles
    // (≤ 2/support entries), still bounded by the contract, not data size.
    val sketchSupport = math.max(support / 2, 1e-4)
    val cands = df.stat.freqItems(Seq(keyCol), sketchSupport)
      .head().getSeq[Any](0)
    if (cands.isEmpty) {
      // no candidate survived the sketch → by no-false-negatives nothing
      // can reach the threshold; an empty IN-list would not even parse
      df.select(col(keyCol).as("item"), lit(0L).as("cnt")).limit(0)
    } else
      df.filter(col(keyCol).isin(cands: _*))
        .groupBy(col(keyCol).as("item"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= thresh)
  }

  /** GLOBAL exclusive prefix sum of `valueCol` in `orderCol` order, without
    * the single-partition global window (`Window.orderBy` with no
    * partitionBy funnels the entire dataset through ONE task — the
    * classic 100 TB scale-killer this operator exists to avoid). Classic
    * two-phase scan instead:
    *   1. range-bucket rows by `orderCol` (uniform width over [min, max] —
    *      one cheap min/max aggregate; integer `div`, no float precision
    *      cliff at large ids);
    *   2. per-bucket partial sums → an `nBuckets`-sized driver collect
    *      (bounded by the PARAMETER, never the data) → exclusive running
    *      offsets, broadcast back;
    *   3. a per-bucket window adds the within-bucket exclusive sum to the
    *      bucket's offset. Parallelism = nBuckets; each task sorts one
    *      bucket, never the corpus.
    * The result is EXACTLY the single-window answer (proven against it in
    * the spec). Contract: `orderCol` is a unique, non-NULL integral key
    * (ties would make "exclusive prefix" ill-defined; NULL keys fail by
    * name), `valueCol` is integral (the sums ride longs; ANSI overflow
    * errors loudly). Uniform-width buckets assume roughly uniform key
    * density — for pathologically clustered keys pass larger `nBuckets`
    * (cost stays one broadcast row per bucket) or pre-map ids. */
  def globalPrefixSum(df: DataFrame, orderCol: String, valueCol: String,
                      prefixCol: String = "prefix",
                      nBuckets: Int = 256): DataFrame =
    globalPrefixSums(df, orderCol, Seq(valueCol), Seq(prefixCol), nBuckets)._1

  /** multi-column twin of [[globalPrefixSum]] (r22, guide §1.2 step 1):
    * N prefix sums over the SAME `orderCol` share the bucketing, so the
    * bounds job, the partials collect, the broadcast and the per-bucket
    * window sort run ONCE for all of them instead of once each — two
    * sequential calls cost ~2x the driver round-trips for the identical
    * row order. Also returns each column's TOTAL, folded on the driver
    * from the already-collected partials: callers needing grand totals
    * (a CDF's denominator) get them for zero extra jobs instead of a
    * separate aggregate-and-broadcast pass. Same contract as the
    * single-column form; result proven equal to sequential single-column
    * calls in the spec. */
  def globalPrefixSums(df: DataFrame, orderCol: String,
                       valueCols: Seq[String], prefixCols: Seq[String],
                       nBuckets: Int = 256): (DataFrame, Seq[Long]) = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(valueCols.nonEmpty && valueCols.length == prefixCols.length,
      s"valueCols (${valueCols.length}) and prefixCols (${prefixCols.length}) " +
        "must pair up")
    val spark = df.sparkSession
    val bounds = df.agg(min(col(orderCol)).cast("long"),
      max(col(orderCol)).cast("long"),
      count(when(col(orderCol).isNull, 1))).head()
    require(bounds.getLong(2) == 0L, s"globalPrefixSums: ${bounds.getLong(2)} " +
      s"NULL key(s) in order column '$orderCol' — an exclusive prefix at a " +
      "NULL key is undefined; filter or coalesce the key first")
    if (bounds.isNullAt(0)) // empty input: schema-stable, zero rows
      return (prefixCols.foldLeft(df)((d, p) => d.withColumn(p, lit(0L))),
        valueCols.map(_ => 0L))
    val lo = bounds.getLong(0)
    val width = math.max(1L, (bounds.getLong(1) - lo) / nBuckets + 1)
    val bucketed = df.withColumn("__bucket",
      expr(s"(CAST(`$orderCol` AS BIGINT) - ${lo}L) div ${width}L"))
    val aggs = valueCols.map(c => sum(col(c)).cast("long").as(s"__s_$c"))
    val partials = bucketed.groupBy("__bucket")
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => (r.getLong(0), valueCols.indices.map(i => r.getLong(i + 1))))
      .sortBy(_._1)
    val totals = valueCols.indices.map(i => partials.map(_._2(i)).sum)
    // exclusive running offset per column, one scan of the sorted partials
    val offsets = partials.map(_._1).zip(
      partials.scanLeft(valueCols.map(_ => 0L).toIndexedSeq) {
        case (acc, (_, sums)) => acc.lazyZip(sums).map(_ + _)
      })
    import spark.implicits._
    val offDf = offsets.toSeq
      .map { case (b, offs) => (b, offs.toArray) }
      .toDF("__bucket", "__offs")
    val w = Window.partitionBy("__bucket").orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val joined = bucketed.join(broadcast(offDf), Seq("__bucket"))
    val withPrefixes = valueCols.zip(prefixCols).zipWithIndex
      .foldLeft(joined) { case (d, ((v, p), i)) =>
        d.withColumn(p,
          coalesce(sum(col(v)).over(w), lit(0L)) +
            element_at(col("__offs"), i + 1))
      }
    (withPrefixes.drop("__bucket", "__offs"), totals)
  }
}
