package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StringType}

import graft.sources.{StoreSpec, StoreTable}
import graft.sources.StoreSpec.Table

/** [EXT] Dataset-health operators (SURVEY §2.9 extension surface): one-pass
  * column profiling, join-key skew reporting, and robust (median/MAD)
  * outlier detection. The reference's summary layer
  * (cl-data-frame.lisp:18-117) prints per-column type/quantile summaries on
  * an in-memory frame; these are the distributed siblings a 100 TB pipeline
  * needs BEFORE running a big job: which columns are null/degenerate, which
  * join keys are skewed enough to need salting, which numeric groups carry
  * corrupt magnitudes.
  *
  * Determinism doctrine (SparkEntry scaladoc): every emitted double is
  * either dyadic-rational-exact (medians/MADs over integer cents interpolate
  * with frac ∈ {0, 0.5}) or a single division of exact integers, so DuckDB
  * reproduces results bit-for-bit.
  */
object Profiling {

  /** One-pass whole-table column profile: for every column, its null count
    * and distinct count, plus the table row count — the "is this dataset
    * sane" gate run before a multi-hour job.
    *
    * Scale notes:
    *  - `exact = false` (the DEFAULT — what a 100 TB caller gets) profiles
    *    with `approx_count_distinct` (HLL±5%): every aggregate is a partial
    *    map-side sketch, ONE pass, no data amplification. Its estimates are
    *    oracle-pinned by contract via [[profileTableApproxChecked]];
    *  - `exact = true` (opt-in, the oracle-exact audit mode) uses
    *    `count(DISTINCT col)` per column, which Catalyst plans as an Expand
    *    — the input is replicated once per distinct aggregate (k columns →
    *    k× shuffle volume). Correct and exactly checkable, but the k× data
    *    amplification is the documented scale-killer: never the default.
    *  - the result is reshaped with `stack` (a generator projection over the
    *    single aggregated row) — no driver collect anywhere.
    */
  def profileTable(df: DataFrame, exact: Boolean = false): DataFrame = {
    val cols = df.columns.toSeq
    require(cols.nonEmpty, "profileTable: no columns")
    require(cols.forall(c => !c.contains("'") && !c.contains("`")),
      s"profileTable: quote characters in column names unsupported: $cols")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).cast(LongType)
          .as(s"__nulls_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).cast(LongType)
          .as(s"__dist_$c"))
    } :+ count(lit(1)).cast(LongType).as("__n")
    // fan out the partial-aggregation pass (guide §2.5 input skew): on an
    // unsplittable single-file scan the k-column sketch/Expand partials
    // otherwise run in ONE task (r21 profile: 2.35 s of q_profile_approx's
    // 4.3 s wall); aggregation results are partitioning-independent
    val agged = Fan.out(df).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols
      .map(c => s"'$c', `__nulls_$c`, `__dist_$c`")
      .mkString(", ")
    agged
      .select(
        expr(s"stack(${cols.length}, $stackArgs) " +
          "as (column_name, n_nulls, n_distinct)"),
        col("__n").as("n_rows"))
      .select("column_name", "n_rows", "n_nulls", "n_distinct")
      .orderBy("column_name")
  }

  /** The approx profile under its CONTRACT, oracle-checkable (the
    * q_quantiles_approx pattern): per column — exact null count, exact row
    * count, and `dist_ok` = |HLL estimate − exact distinct| ≤
    * slack·rsd·exact + 2. HLL++ is deterministic for a fixed value SET
    * (order/partitioning-independent), so the flag is a deterministic
    * output an external oracle pins as `true` while computing the exact
    * sides itself; a Spark upgrade whose sketch strayed past the bound
    * flips the hash and is caught.
    *
    * VERIFICATION-ONLY plan shape: this computes the exact distinct counts
    * too (the Expand), so it deliberately pays exact-mode cost — bench and
    * probe [[profileTable]] (approx default) for the production number, and
    * run this where an oracle needs pinning. The `+2` absolute slack keeps
    * tiny-cardinality columns (estimate error is integer-quantized) out of
    * false alarms; slack = 4 standard deviations makes a legitimate sketch
    * failing the gate a ~1e-4 event per column, and for FIXED data it
    * either passes forever or fails forever — no flakiness. SINGLE-SNAPSHOT
    * assumption (r22 ADVICE note): the exact and approx sides are two
    * separate jobs over the same input plan; on an immutable source
    * (parquet fixtures, any snapshot-isolated table) they see identical
    * data and the no-flakiness claim holds, but a source that can change
    * between the two passes (a concurrently appended live table) could
    * flip `dist_ok` spuriously — run it on a pinned snapshot, which is
    * what a verification pass is by definition. */
  def profileTableApproxChecked(df: DataFrame, rsd: Double = 0.05,
                                slack: Double = 4.0): DataFrame = {
    val cols = df.columns.toSeq
    require(cols.nonEmpty, "profileTableApproxChecked: no columns")
    require(cols.forall(c => !c.contains("'") && !c.contains("`")),
      s"profileTableApproxChecked: quote chars in column names: $cols")
    // TWO aggregates, not one: mixing count(DISTINCT) with
    // approx_count_distinct in a single agg makes Catalyst's
    // RewriteDistinctAggregates Expand carry EVERY aggregate's buffer per
    // (gid, distinct-value) group — i.e. one kB-sized HLL++ sketch buffer
    // per column per distinct value (~150k groups × k sketches at sf0.1:
    // 24 s of measured CPU churn for a 150k-row table). Split, the
    // HLL+null pass has no Expand at all and the exact-distinct pass's
    // per-group state is k longs; the two 1-row results cross-join back.
    // Same values, same output — the contract is unchanged.
    val approxAggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).cast(LongType)
          .as(s"__nulls_$c"),
        approx_count_distinct(col(c), rsd).cast(LongType).as(s"__ap_$c"))
    } :+ count(lit(1)).cast(LongType).as("__n")
    val exactAggs = cols.map(c =>
      countDistinct(col(c)).cast(LongType).as(s"__ex_$c"))
    val fanned = Fan.out(df)
    val agged = fanned.agg(approxAggs.head, approxAggs.tail: _*)
      .crossJoin(broadcast(fanned.agg(exactAggs.head, exactAggs.tail: _*)))
    val stackArgs = cols
      .map(c => s"'$c', `__nulls_$c`, `__ex_$c`, `__ap_$c`")
      .mkString(", ")
    agged
      .select(
        expr(s"stack(${cols.length}, $stackArgs) " +
          "as (column_name, n_nulls, __ex, __ap)"),
        col("__n").as("n_rows"))
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        (abs(col("__ap") - col("__ex")).cast(DoubleType) <=
          lit(slack * rsd) * col("__ex").cast(DoubleType) + lit(2.0))
          .as("dist_ok"))
      .orderBy("column_name")
  }

  /** The PRODUCTION profile plan under a HOISTED contract: the emitted
    * frame comes from exactly the plan a 100 TB caller runs —
    * [[profileTable]]'s approx default, one pass of map-side HLL partials,
    * NO Expand, no exact distinct aggregate anywhere in it — while the
    * per-column exact distinct counts arrive as plan LITERALS from an
    * offline audit artifact (computed once per dataset on the audit
    * cadence, the warmOffline/ivfModelFor offline-index pattern).
    * `dist_ok` = |HLL estimate − exact literal| ≤ slack·rsd·exact + 2,
    * the [[profileTableApproxChecked]] contract with the exact side moved
    * out of the timed/production plan. HLL++ is deterministic for a fixed
    * value set, so the flag is a stable oracle-checkable output: an
    * external oracle pins it `true` while recomputing the exact
    * n_rows/n_nulls sides itself. This is what closes the round-17
    * "production profile cost is unobserved" gap — benching THIS query
    * gates the plan the 100 TB caller actually runs, where
    * [[profileTableApproxChecked]] deliberately prices exact+HLL.
    *
    * `exactDistinct` must cover every column (a missing column would make
    * the contract silently vacuous — fail loudly instead). */
  def profileTableApproxAgainst(df: DataFrame, exactDistinct: Map[String, Long],
                                rsd: Double = 0.05,
                                slack: Double = 4.0): DataFrame = {
    val missing = df.columns.toSeq.filterNot(exactDistinct.contains)
    require(missing.isEmpty,
      s"profileTableApproxAgainst: audit artifact missing columns $missing " +
        "— rebuild it from the current schema (profileTable(exact = true))")
    val kv = exactDistinct.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    profileTable(df, exact = false)
      .withColumn("__exact", element_at(map(kv: _*), col("column_name")))
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        (abs(col("n_distinct") - col("__exact")).cast(DoubleType) <=
          lit(slack * rsd) * col("__exact").cast(DoubleType) + lit(2.0))
          .as("dist_ok"))
      .orderBy("column_name")
  }

  /** Join-key skew report: the distribution of per-key group sizes for a
    * prospective join/groupBy key, reduced to the scalars that drive a
    * salting decision — key count, row count, max and median group size,
    * mean group size, and skew ratio (max/mean; ≳20 on a shuffle join key
    * means the biggest task runs 20× longer than the average and AQE skew
    * handling or salting is warranted, cf. Relational.saltedJoin).
    *
    * Two cascaded aggregations: rows → per-key counts (map-side partial
    * combine does the heavy lifting), then per-key counts (|keys| ≪ |rows|)
    * → one row. The median uses interpolated `percentile` over integer
    * counts — frac ∈ {0, 0.5}, dyadic-exact; mean and skew ratio are single
    * divisions of exact integer sums, rounded to 6 places on both engines.
    * No percentile above 0.5 is emitted: Spark's percentile_disc and
    * DuckDB's quantile_disc disagree on index selection for small n, and
    * interpolated high quantiles are not dyadic-exact (the q_grouped_median
    * doctrine).
    */
  def skewReport(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(keyCol).agg(count(lit(1)).as("cnt"))
      .agg(
        count(lit(1)).cast(LongType).as("n_keys"),
        sum("cnt").cast(LongType).as("n_rows"),
        max("cnt").cast(LongType).as("max_cnt"),
        expr("percentile(cnt, 0.5)").as("p50_cnt"),
        expr("round(sum(cnt) / count(1), 6)").as("avg_cnt"),
        expr("round(max(cnt) * count(1) / sum(cnt), 6)").as("skew_ratio"))

  /** Robust per-group outlier detection: |x − median| > k·MAD, the
    * median/MAD analogue of a z-score gate that a mean/stddev version gets
    * wrong exactly when it matters (the outliers poison the mean). Returns
    * one row per group: n, median, MAD, and the outlier count.
    *
    * `valueExpr` must be integral (cast your doubles to cents — the cents
    * doctrine): the group median then interpolates to halves, |x − med| to
    * halves, the MAD to quarters — all dyadic-exact doubles that DuckDB's
    * quantile_cont reproduces bit-for-bit, so the k·MAD comparison is
    * deterministic across engines.
    *
    * Plan shape: two aggregate+join-back rounds over the base projection.
    * The per-group stat tables carry |groups| rows (≪ |rows|), so both
    * join-backs broadcast at scale; the base is scanned twice (column-pruned
    * to two columns). A one-scan alternative — collect_list per group and
    * compute medians in a UDF — is rejected: it materializes whole groups on
    * single executors, the thing that dies first on a skewed 100 TB table.
    */
  def outlierMad(df: DataFrame, groupCol: String, valueExpr: Column,
                 k: Double = 3.0): DataFrame = {
    val base = df.select(col(groupCol), valueExpr.cast(LongType).as("v"))
    val med = base.groupBy(groupCol)
      .agg(expr("percentile(v, 0.5)").as("med"))
    val withDev = base.join(med, groupCol)
      .withColumn("absdev", abs(col("v") - col("med")))
    val mad = withDev.groupBy(groupCol)
      .agg(expr("percentile(absdev, 0.5)").as("mad"))
    withDev.join(mad, groupCol)
      .groupBy(groupCol)
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        max("med").as("median_v"),
        max("mad").as("mad_v"),
        sum(when(col("absdev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .cast(LongType).as("n_outliers"))
      .orderBy(groupCol)
  }

  /** Pairwise Pearson correlation matrix over integral value expressions —
    * the multi-column step past the reference's single-column summaries
    * (cl-data-frame.lisp:18-117): which numeric columns carry redundant
    * signal, which quality features actually covary.
    *
    * ONE pass: every Σx, Σx², Σxy accumulates in a single aggregate over a
    * k-column projection (no per-pair jobs, no `df.stat.corr` loop — that
    * API runs one job per pair). The pair rows are reshaped from the single
    * aggregated row with an explode projection, no driver collect.
    *
    * Determinism: inputs must be integral (`cast` your doubles to cents).
    * Values ride DECIMAL(19,0); each product is DECIMAL(38,0)-exact and the
    * sums accumulate in DECIMAL(38,0) — `corr()` itself streams double
    * co-moments whose value depends on partition order, which is exactly
    * what the engine-portable contract can't have. A Σx·y that exceeds
    * 38 digits (|x| ~1e15 cents × 1e8 rows is still fine; pathological
    * magnitudes are not) cannot be represented: rather than return the
    * engine-dependent silent NULL / ANSI error, the plan FAILS LOUDLY via
    * an in-plan raise_error naming the overflowed pair (one-row check, no
    * extra pass) — callers with astronomic magnitudes rescale first. The
    * final
    * (n·Σxy − ΣxΣy) / √(n·Σx²−(Σx)²) / √(n·Σy²−(Σy)²) is computed on exact
    * integers cast once to double (IEEE round-to-nearest in both engines),
    * rounded to 6 places. Degenerate (constant) columns yield a zero
    * denominator → NULL corr in both engines (0/0 under ANSI double is NaN;
    * we guard to NULL explicitly).
    */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    val names = cols.map(_._1)
    require(names.size >= 2, "corrMatrix: need at least two columns")
    require(names.distinct.size == names.size,
      s"corrMatrix: duplicate output names: $names")
    val base = df.select(cols.map { case (n, c) =>
      c.cast(LongType).as(n) }: _*)
    def dec(c: Column) = c.cast(DecimalType(19, 0))
    val aggs =
      Seq(count(lit(1)).cast(DecimalType(19, 0)).as("__n")) ++
        names.map(n => count(col(n)).cast(DecimalType(19, 0)).as(s"__nn_$n")) ++
        names.map(n => sum(dec(col(n))).as(s"__s_$n")) ++
        (for {
          i <- names.indices; j <- i until names.size
        } yield sum(dec(col(names(i))) * dec(col(names(j))))
          .as(s"__p_${names(i)}__${names(j)}"))
    // one partial-agg pass over the fanned projection (exact DECIMAL sums
    // are partitioning-independent; unsplittable-scan remedy, guide §2.5)
    val rawAgged = Fan.out(base).agg(aggs.head, aggs.tail: _*)
    // fail-loud guards, one projection over the single aggregated row:
    //  - PARTIAL NULLs: sum()/count(col) SKIP nulls, so a column with some
    //    NULL values would silently correlate over the non-null subset
    //    while __n counts all rows — compare count(col) vs count(*) per
    //    column and raise on any difference (catches caller expressions
    //    emitting NULLs, which a bare NULL-sum check can NOT: the sum over
    //    the non-null remainder is non-NULL). The check is FOLDED INTO the
    //    __n output itself — every downstream pair references __n, so
    //    Catalyst column pruning cannot drop the guard (a standalone
    //    guarded __nn_ column would be pruned away unevaluated).
    //  - OVERFLOW: under non-ANSI semantics a DECIMAL(38,0) sum that
    //    overflows comes back as silent NULL — with all-rows-non-null
    //    established by the __n guard, a NULL sum/product can ONLY mean
    //    overflow.
    // raise_error's NullType coerces to each branch's type.
    val nGuarded = names.foldLeft(col("__n")) { (acc, n) =>
      when(col(s"__nn_$n") =!= col("__n"),
        raise_error(concat(lit(s"corrMatrix: column $n has "),
          (col("__n") - col(s"__nn_$n")).cast(StringType),
          lit(" NULL value(s) — a correlation over the non-null subset " +
            "would be silently skewed; pre-filter or impute"))))
        .otherwise(acc)
    }
    val agged = rawAgged.select(
      rawAgged.columns.collect {
        case c if c == "__n" => nGuarded.as("__n")
        case c if c.startsWith("__s_") || c.startsWith("__p_") =>
          when(col("__n") > 0 && col(c).isNull,
            raise_error(lit(s"corrMatrix: $c is NULL over a non-empty " +
              "input — DECIMAL(38,0) overflow; rescale the inputs")))
            .otherwise(col(c)).as(c)
      }.toSeq: _*)
    val pairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield {
      val (a, b) = (names(i), names(j))
      val num = (col("__n") * col(s"__p_${a}__$b") -
        col(s"__s_$a") * col(s"__s_$b")).cast(DoubleType)
      def den(x: String) = (col("__n") * col(s"__p_${x}__$x") -
        col(s"__s_$x") * col(s"__s_$x")).cast(DoubleType)
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(den(a) > 0 && den(b) > 0,
          round(num / sqrt(den(a)) / sqrt(den(b)), 6)).as("corr"))
    }
    agged.select(explode(array(pairs: _*)).as("r"))
      .select("r.*").orderBy("col_a", "col_b")
  }

  /** Quantile discretization + per-bin stats: split an integral expression
    * at the given interpolated quantiles and aggregate each bin — the
    * binning step of stratified sampling / mixing (e.g. "sample evenly
    * across document-length quartiles").
    *
    * Plan shape: one aggregate computes ALL boundaries (`percentile(v,
    * array(...))`), broadcast-cross-joined into the binning pass — two
    * scans of a one-column projection, no global sort (an `ntile` window
    * would order the whole table on a single partition: the scale-killer
    * this formulation exists to avoid; the trade is interpolated-quantile
    * boundaries rather than exact equal-count bins, which ties at the
    * boundary make impossible anyway).
    *
    * Determinism: quarters-grid probabilities over integers interpolate
    * dyadic-exactly (the q_grouped_median doctrine extended: index frac for
    * p = k/4 is a multiple of 1/4; f·(b−a) is exact); a value equal to a
    * boundary goes to the UPPER bin (`v >= boundary`) on both engines.
    */
  def quantileBins(df: DataFrame, valueExpr: Column,
                   probs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      s"quantileBins: probs must lie in (0,1): $probs")
    require(probs.forall(p => (p * 4).isWhole),
      s"quantileBins: only quarter-grid probs are dyadic-exact " +
        s"across engines: $probs")
    val base = df.select(valueExpr.cast(LongType).as("v"))
    val bounds = base.agg(
      expr(s"percentile(v, array(${probs.mkString(", ")}))").as("__b"))
    base.crossJoin(broadcast(bounds))
      // indicator SUM, not size(filter(...)): the filter HOF is
      // CodegenFallback and drops the whole binning projection out of
      // whole-stage codegen; Σ 1[v ≥ b_i] is the same count
      .withColumn("bin",
        probs.indices.map(i =>
            when(col("v") >= col("__b").getItem(i), 1L).otherwise(0L))
          .reduce(_ + _).cast(LongType))
      .groupBy("bin")
      .agg(count(lit(1)).cast(LongType).as("n"),
        min("v").cast(LongType).as("min_v"),
        max("v").cast(LongType).as("max_v"),
        sum("v").cast(LongType).as("sum_v"))
      .orderBy("bin")
  }

  /** The 100 TB production twin of [[quantileBins]]: identical bin/stat
    * shape, but boundaries come from ONE `approx_percentile` aggregate
    * (Greenwald-Khanna sketch, rank error ≤ N/accuracy) instead of exact
    * `percentile` — the exact form buffers the column's FULL value
    * multiset in a single aggregation buffer, the remaining class of
    * unbounded-executor-memory operators this split retires (the
    * profileTable exact/approx precedent). Every aggregate here is
    * partially mergeable map-side; state is O(accuracy), not O(rows).
    *
    * The sketch's boundary VALUES are engine- and merge-order-specific,
    * so this form is benched and property-tested but not hash-pinned;
    * its CONTRACT is pinned by [[quantileBinsApproxChecked]] (the
    * q_quantiles_approx pattern). Exact [[quantileBins]] stays the
    * verification/audit mode. Any probs in (0,1) are accepted — the
    * quarter-grid dyadic restriction exists only for exact interpolation
    * portability, and sketch boundaries are observed data values. */
  def quantileBinsApprox(df: DataFrame, valueExpr: Column,
                         probs: Seq[Double] = Seq(0.25, 0.5, 0.75),
                         accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      s"quantileBinsApprox: probs must lie in (0,1): $probs")
    val base = df.select(valueExpr.cast(LongType).as("v"))
    val bounds = base.agg(
      approx_percentile(col("v"), lit(probs.toArray), lit(accuracy))
        .as("__b"))
    base.crossJoin(broadcast(bounds))
      .withColumn("bin",
        probs.indices.map(i =>
            when(col("v") >= col("__b").getItem(i), 1L).otherwise(0L))
          .reduce(_ + _).cast(LongType))
      .groupBy("bin")
      .agg(count(lit(1)).cast(LongType).as("n"),
        min("v").cast(LongType).as("min_v"),
        max("v").cast(LongType).as("max_v"),
        sum("v").cast(LongType).as("sum_v"))
      .orderBy("bin")
  }

  /** [[quantileBinsApprox]] under its oracle-checkable CONTRACT (the
    * approxQuantileBoundCheck pattern): the quartile boundary values the
    * production twin bins on cannot be replicated externally (GK merge
    * order varies), but their exact ranks — counted distributively
    * against the raw column — must bracket a rank within ±N/accuracy of
    * each target. Output is deterministic (exact n / min / max / sum
    * plus the three bound booleans, true whenever the GK guarantee
    * holds), so the driver's hash compare pins it; since the cumulative
    * bin count through bin i IS the i-th boundary's rank, a passing
    * check bounds every bin share the production twin can emit. */
  def quantileBinsApproxChecked(df: DataFrame, valueExpr: Column,
                                accuracy: Int = 10000): DataFrame = {
    val base = df.select(valueExpr.cast(LongType).as("v"))
    val sketch = base.agg(approx_percentile(
      col("v"), lit(Array(0.25, 0.5, 0.75)), lit(accuracy)).as("__qs"))
    val eps = 1.0 / accuracy
    def ok(i: Int, p: Double): Column = {
      val b = col("__qs").getItem(i)
      graft.Summary.gkRankOk(
        sum((col("v") < b).cast(LongType)),
        sum((col("v") <= b).cast(LongType)),
        count(col("v")), p, eps)
    }
    base.crossJoin(broadcast(sketch)).agg(
      count(col("v")).cast(LongType).as("n"),
      min("v").cast(LongType).as("min_v"),
      max("v").cast(LongType).as("max_v"),
      sum("v").cast(LongType).as("sum_v"),
      ok(0, 0.25).as("ok25"), ok(1, 0.5).as("ok50"), ok(2, 0.75).as("ok75"))
  }

  /** The 100 TB production twin of [[winsorizedAgg]]: per-group clamp
    * cuts from ONE `approx_percentile` hash aggregate instead of the
    * exact per-group sort WINDOW — this retires both exact-path scale
    * hazards at once (the window sorts every group's full row set; and
    * at 100 TB a skewed group's sort partition is the task that dies
    * first). Here the only state is a GK sketch per group and every
    * aggregate merges map-side; the clamp + stats pass is unchanged.
    *
    * Same output shape as the exact form. Cut VALUES are sketch-specific
    * (merge-order-dependent), so: benched + property-tested here,
    * contract pinned by [[winsorizedAggApproxChecked]]. The exact form
    * stays the oracle-audit mode. */
  def winsorizedAggApprox(df: DataFrame, groupCol: String, cents: Column,
                          pLo: Double = 0.01, pHi: Double = 0.99,
                          accuracy: Int = 10000): DataFrame = {
    require(pLo >= 0 && pLo < pHi && pHi <= 1,
      s"winsorizedAggApprox: need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val base = df.select(col(groupCol).as("__g"),
      cents.cast(LongType).as("__v"))
    val cuts = base.groupBy("__g").agg(
      approx_percentile(col("__v"), lit(Array(pLo, pHi)), lit(accuracy))
        .as("__c"))
      .select(col("__g"), col("__c").getItem(0).as("__lo"),
        col("__c").getItem(1).as("__hi"))
    base.join(broadcast(cuts), Seq("__g"))
      .withColumn("__w", least(greatest(col("__v"), col("__lo")), col("__hi")))
      .groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).cast(LongType).as("n"),
        first(col("__lo")).cast(LongType).as("lo_cut"),
        first(col("__hi")).cast(LongType).as("hi_cut"),
        sum("__w").cast(LongType).as("win_sum"),
        round(sum("__w").cast(DoubleType) / count(lit(1)), 6).as("win_mean"))
      .orderBy(groupCol)
  }

  /** Per-group GK rank-contract check shared by the grouped approx
    * twins ([[winsorizedAggApproxChecked]], [[groupedMedianApproxChecked]]):
    * fit the per-group sketch cuts in one hash aggregate, broadcast the
    * groups-sized cut table back, and count each cut's exact ranks
    * within its group in a second single-pass aggregate — every
    * aggregate partially mergeable, nothing buffered. Output: one row
    * per group — exact n plus one boolean per probe, true whenever the
    * per-group GK bound holds. */
  private def groupedGkChecked(df: DataFrame, groupCol: String,
                               value: Column, probs: Seq[Double],
                               okNames: Seq[String],
                               accuracy: Int): DataFrame = {
    require(probs.size == okNames.size,
      s"groupedGkChecked: ${probs.size} probs vs ${okNames.size} names")
    val eps = 1.0 / accuracy
    val base = df.select(col(groupCol).as("__g"), value.cast(LongType).as("__v"))
    val sk = base.groupBy("__g").agg(
      approx_percentile(col("__v"), lit(probs.toArray), lit(accuracy))
        .as("__qs"))
    val oks = probs.zip(okNames).zipWithIndex.map { case ((p, name), i) =>
      val b = col("__qs").getItem(i)
      graft.Summary.gkRankOk(
        sum((col("__v") < b).cast(LongType)),
        sum((col("__v") <= b).cast(LongType)),
        count(col("__v")), p, eps).as(name)
    }
    base.join(broadcast(sk), Seq("__g"))
      .groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).cast(LongType).as("n"), oks: _*)
      .orderBy(groupCol)
  }

  /** [[winsorizedAggApprox]]'s contract form: per group, exact n plus
    * lo_ok / hi_ok — the approx cuts' exact within-group ranks must sit
    * within ±n/accuracy of pLo·n / pHi·n (per-group GK bound). An
    * external oracle pins the booleans TRUE while computing the exact
    * sides itself — the HLL-bound pattern, per group. */
  def winsorizedAggApproxChecked(df: DataFrame, groupCol: String,
                                 cents: Column, pLo: Double = 0.01,
                                 pHi: Double = 0.99,
                                 accuracy: Int = 10000): DataFrame =
    groupedGkChecked(df, groupCol, cents, Seq(pLo, pHi),
      Seq("lo_ok", "hi_ok"), accuracy)

  /** The grouped-median scale path under its contract: per group, exact
    * n plus ok50 (the approx median's exact rank brackets n/2 within
    * ±n/accuracy). The production read is `approx_percentile(v, 0.5)`
    * per group — one partially-merged sketch per group vs exact
    * `percentile`'s full per-group value buffer (the q_grouped_median
    * exact form, which stays the audit mode). */
  def groupedMedianApproxChecked(df: DataFrame, groupCol: String,
                                 value: Column,
                                 accuracy: Int = 10000): DataFrame =
    groupedGkChecked(df, groupCol, value, Seq(0.5), Seq("ok50"), accuracy)

  /** Population Stability Index between a reference and a current corpus
    * over one integral measure — the standard "did the distribution move"
    * monitor (PSI < 0.1 stable, > 0.25 investigate) run between every
    * crawl batch and the corpus it joins. Quantile-bin sibling of
    * `Summary.driftReport`'s integer histogram: bins are the REFERENCE's
    * interpolated quartiles (the [[quantileBins]] machinery, same
    * quarter-grid dyadic-exactness and upper-bin ties), so the reference
    * lands ~uniform and the current batch's displacement is what the
    * index measures.
    *
    * PSI = Σ_bins (p − q)·ln(p/q) with add-one smoothing — p = (ref_i +
    * 1)/(N_ref + B), q likewise — so an empty bin on either side
    * contributes a finite term instead of ±∞. Each bin's term is fixed to
    * integer NANOS before the (B-term) sum; shares divide exact integers,
    * so both engines see identical doubles throughout.
    *
    * Plan shape: one percentile aggregate over the reference, broadcast
    * into one binning aggregation per side (each a pruned one-column
    * scan + hash agg), then arithmetic over B rows. Nothing here scales
    * with corpus size except the two scans. */
  def psiDrift(ref: DataFrame, cur: DataFrame, value: Column,
               probs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1) &&
      probs.forall(p => (p * 4).isWhole),
      s"psiDrift: only quarter-grid probs in (0,1) are dyadic-exact: $probs")
    val bounds = ref.select(value.cast(LongType).as("v"))
      .agg(expr(s"percentile(v, array(${probs.mkString(", ")}))").as("__b"))
    psiFromBounds(ref, cur, value, bounds, probs.size + 1)
  }

  /** The 100 TB production twin of [[psiDrift]]: reference-quantile bin
    * BOUNDS from one `approx_percentile` sketch aggregate instead of
    * exact `percentile` (which buffers the reference column's full
    * multiset in one aggregation buffer — the psiDrift-side instance of
    * the exact-percentile scale hazard). Everything downstream — both
    * binning aggregations, the spine, smoothing, nanos-fixed terms — is
    * IDENTICAL code to the exact form, so only the boundary source
    * changes. PSI against sketch boundaries is a (bounded) perturbation
    * of exact PSI: boundary ranks are within ±N_ref/accuracy of the
    * quartiles by the GK contract, pinned by [[psiDriftApproxChecked]];
    * the PSI VALUE itself is sketch-specific and benched, not
    * hash-pinned (the quantileBinsApprox doctrine). */
  def psiDriftApprox(ref: DataFrame, cur: DataFrame, value: Column,
                     probs: Seq[Double] = Seq(0.25, 0.5, 0.75),
                     accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      s"psiDriftApprox: probs must lie in (0,1): $probs")
    val bounds = ref.select(value.cast(LongType).as("v"))
      .agg(approx_percentile(col("v"), lit(probs.toArray), lit(accuracy))
        .as("__b"))
    psiFromBounds(ref, cur, value, bounds, probs.size + 1)
  }

  /** the shared PSI interior: reference/current binning against a 1-row
    * boundary-array frame, dense spine, add-one smoothing, integer-nanos
    * terms — extracted so [[psiDrift]] (exact bounds, the oracle-pinned
    * audit) and [[psiDriftApprox]] (sketch bounds, the production
    * default) are the same code with different boundary sources. */
  private def psiFromBounds(ref: DataFrame, cur: DataFrame, value: Column,
                            bounds: DataFrame, nb: Int): DataFrame = {
    def binCounts(df: DataFrame, side: String) =
      df.select(value.cast(LongType).as("v"))
        .crossJoin(broadcast(bounds))
        .withColumn("bin",
          size(filter(col("__b"), b => col("v") >= b)).cast(LongType))
        .groupBy("bin").agg(count(lit(1)).as(s"__n_$side"))
    val spine = bounds
      .select(explode(sequence(lit(0), lit(nb - 1))).as("bin"))
      .select(col("bin").cast(LongType).as("bin"))
    val joined = spine
      .join(binCounts(ref, "ref"), Seq("bin"), "left")
      .join(binCounts(cur, "cur"), Seq("bin"), "left")
      .na.fill(0L, Seq("__n_ref", "__n_cur"))
    val totals = joined
      .agg(sum("__n_ref").as("__tr"), sum("__n_cur").as("__tc"))
    joined.crossJoin(broadcast(totals))
      .withColumn("__p", (col("__n_ref") + 1).cast(DoubleType) /
        (col("__tr") + nb).cast(DoubleType))
      .withColumn("__q", (col("__n_cur") + 1).cast(DoubleType) /
        (col("__tc") + nb).cast(DoubleType))
      .withColumn("__term_nanos",
        round((col("__p") - col("__q")) * log(col("__p") / col("__q")) * 1e9)
          .cast(LongType))
      .agg(
        count(lit(1)).cast(LongType).as("n_bins"),
        sum("__n_ref").cast(LongType).as("n_ref"),
        sum("__n_cur").cast(LongType).as("n_cur"),
        round(sum("__term_nanos").cast(DoubleType) / 1e9, 6).as("psi"))
  }

  /** [[psiDriftApprox]]'s contract form: exact n_ref / n_cur plus the
    * three GK rank-bound booleans for the sketch quartiles of the
    * REFERENCE side (the side that defines the bins). An oracle pins
    * the flags TRUE computing the exact ranks itself; a sketch whose
    * boundary strayed past ±N_ref/accuracy flips the hash. */
  def psiDriftApproxChecked(ref: DataFrame, cur: DataFrame, value: Column,
                            accuracy: Int = 10000): DataFrame = {
    val refV = ref.select(value.cast(LongType).as("v"))
    val sketch = refV.agg(approx_percentile(
      col("v"), lit(Array(0.25, 0.5, 0.75)), lit(accuracy)).as("__qs"))
    val eps = 1.0 / accuracy
    def ok(i: Int, p: Double): Column = {
      val b = col("__qs").getItem(i)
      graft.Summary.gkRankOk(
        sum((col("v") < b).cast(LongType)),
        sum((col("v") <= b).cast(LongType)),
        count(col("v")), p, eps)
    }
    val refChecked = refV.crossJoin(broadcast(sketch)).agg(
      count(col("v")).cast(LongType).as("n_ref"),
      ok(0, 0.25).as("ok25"), ok(1, 0.5).as("ok50"), ok(2, 0.75).as("ok75"))
    val curN = cur.select(value.cast(LongType).as("v"))
      .agg(count(col("v")).cast(LongType).as("n_cur"))
    refChecked.crossJoin(broadcast(curN))
      .select(col("n_ref"), col("n_cur"),
        col("ok25"), col("ok50"), col("ok75"))
  }

  /** Tie-corrected ROC AUC (Mann-Whitney) of an integral score against a
    * boolean label — the one-number answer to "does this quality score
    * actually separate the classes?" run over every heuristic classifier
    * before it gates a corpus.
    *
    * Math: with ranks ascending by score and tied scores taking their
    * AVERAGE rank, AUC = (S⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) where S⁺ is the
    * rank-sum of positives. Every tied row in a score group with c rows,
    * p positives and `pb` rows strictly below contributes average rank
    * pb + (c+1)/2, so 2·S⁺ = Σ_groups p·(2·pb + c + 1) — an INTEGER. The
    * whole statistic is exact integer arithmetic until one final division
    * (rounded to 6), so both engines agree bit-for-bit; no per-row double
    * ranks anywhere.
    *
    * Plan shape: one hash-aggregate per distinct score (the only pass over
    * the data), then [[Relational.globalPrefixSum]]'s two-phase prefix sum
    * over the |distinct scores| group table — bucket-parallel, never a
    * SinglePartition window. The rank-sum products run in DECIMAL(38,0):
    * at 10¹² rows, p·(2·pb+c+1) ≈ 10²⁴ overflows BIGINT but not
    * DECIMAL(38,0) (headroom to ~10¹⁸ rows). Degenerate inputs (all
    * positive / all negative) raise in-plan rather than emit NULL.
    */
  def rocAuc(df: DataFrame, scoreExpr: Column, labelExpr: Column): DataFrame = {
    val g = df.select(scoreExpr.cast(LongType).as("sc"),
        labelExpr.cast("boolean").as("__pos"))
      .groupBy("sc")
      .agg(count(lit(1)).cast(LongType).as("__c"),
        sum(when(col("__pos"), 1L).otherwise(0L)).cast(LongType).as("__p"))
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    Relational.globalPrefixSum(g, "sc", "__c", "__pb")
      .agg(
        sum(dec(col("__p")) * (dec(col("__pb")) * 2 + col("__c") + 1))
          .as("__s2"),
        sum("__p").cast(LongType).as("n_pos"),
        sum(col("__c") - col("__p")).cast(LongType).as("n_neg"))
      .select(
        when(col("n_pos") === 0 || col("n_neg") === 0,
          raise_error(lit("rocAuc: degenerate label (all one class)")))
          .otherwise(round(
            (col("__s2") - dec(col("n_pos")) * (dec(col("n_pos")) + 1))
              .cast(DoubleType)
              / (dec(col("n_pos")) * col("n_neg") * 2).cast(DoubleType), 6))
          .as("auc"),
        col("n_pos"), col("n_neg"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns — "is language independent of source?" over a corpus, the
    * stratification sanity check before sampling by either axis.
    *
    * χ² = Σ_cells (o − e)²/e with e = rowTotal·colTotal/n. Each expected
    * value is ONE double division of an exact BIGINT product (identical
    * IEEE on both engines); each cell's term is fixed to integer nanos
    * before the sum, so the Σ is order-independent. Output: the statistic,
    * the degrees of freedom (R−1)(C−1), and n.
    *
    * Plan shape: one (a,b) hash-aggregate over the data — the only full
    * pass — then two aggregates OF THE CELL TABLE (|R|·|C| rows) for the
    * margins, broadcast back. Nothing downstream of the first aggregate
    * scales with the data. Cells with zero observed count contribute
    * (0−e)²/e only if present in the cell table — absent (o,e) pairs are
    * structural zeros this test (correctly) never sees, matching every
    * textbook contingency-table formulation over observed categories.
    */
  def chiSquare(df: DataFrame, aExpr: Column, bExpr: Column): DataFrame = {
    val cells = df.select(aExpr.cast(StringType).as("__a"),
        bExpr.cast(StringType).as("__b"))
      .groupBy("__a", "__b")
      .agg(count(lit(1)).cast(LongType).as("__o"))
      // row/col margins and the totals row all branch off the cells:
      // checkpoint the |a|×|b|-row table so the corpus scan runs ONCE
      .localCheckpoint()
    val rowT = cells.groupBy("__a").agg(sum("__o").cast(LongType).as("__ra"))
    val colT = cells.groupBy("__b").agg(sum("__o").cast(LongType).as("__cb"))
    val tot = cells.agg(sum("__o").cast(LongType).as("__n"),
      countDistinct(col("__a")).cast(LongType).as("__nr"),
      countDistinct(col("__b")).cast(LongType).as("__nc"))
    cells.join(broadcast(rowT), Seq("__a"))
      .join(broadcast(colT), Seq("__b"))
      .crossJoin(broadcast(tot))
      // margins product through DECIMAL(38,0): ra·cb overflows BIGINT past
      // ~3·10⁹ rows; the exact integer → double conversion is identical on
      // both engines either way (oracle: HUGEINT product)
      .withColumn("__e",
        (col("__ra").cast(DecimalType(38, 0)) * col("__cb"))
          .cast(DoubleType) / col("__n"))
      .withColumn("__term_nanos",
        round((col("__o") - col("__e")) * (col("__o") - col("__e"))
          / col("__e") * 1e9).cast(LongType))
      .agg(
        round(sum("__term_nanos").cast(DoubleType) / 1e9, 6).as("chi2"),
        ((first("__nr") - 1) * (first("__nc") - 1)).cast(LongType).as("dof"),
        first("__n").cast(LongType).as("n"))
  }

  /** Per-group WINSORIZED aggregates: clamp an integral measure at its
    * group's [pLo, pHi] order statistics, then count/sum/mean — the robust
    * aggregate that keeps fat-tailed corrupt magnitudes (a 10¹² "price",
    * a 500 MB "document") from dominating per-segment means, without
    * dropping the rows like a filter would.
    *
    * Exactness: cuts are TYPE-1 quantiles — the ceil(p·n)-th order
    * statistic, an actual data value, integer-exact at ANY p (the
    * interpolating percentile is only dyadic-safe on the quarter grid,
    * the [[quantileBins]] restriction; selection has no interpolation to
    * disagree about — `ceil` runs on the same IEEE product in both
    * engines). Clamped values stay integers, so the winsorized sum is
    * order-independent and the mean is one correctly-rounded division.
    * Ties on the value are harmless: row_number among equal values is
    * arbitrary, but the SELECTED value at a rank is the same either way.
    *
    * Plan shape: one per-group sort window (rank + group count in the
    * same window pass, group-hash partitioned — spills gracefully; the
    * 100 TB shortcut is approx_percentile cuts, the profileTable
    * trade-off), a groups-sized cuts table broadcast back, one clamp +
    * hash aggregate. */
  def winsorizedAgg(df: DataFrame, groupCol: String, cents: Column,
                    pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pLo < pHi && pHi <= 1,
      s"winsorizedAgg: need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val base = df.select(col(groupCol).as("__g"), cents.cast(LongType).as("__v"))
    val w = Window.partitionBy("__g").orderBy("__v")
    val ranked = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("__g")))
    val cuts = ranked.groupBy("__g").agg(
      max(when(col("__rn") ===
        greatest(lit(1L), ceil(lit(pLo) * col("__n"))), col("__v")))
        .as("__lo"),
      max(when(col("__rn") === ceil(lit(pHi) * col("__n")), col("__v")))
        .as("__hi"))
    base.join(broadcast(cuts), Seq("__g"))
      .withColumn("__w", least(greatest(col("__v"), col("__lo")), col("__hi")))
      .groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).cast(LongType).as("n"),
        first(col("__lo")).cast(LongType).as("lo_cut"),
        first(col("__hi")).cast(LongType).as("hi_cut"),
        sum("__w").cast(LongType).as("win_sum"),
        round(sum("__w").cast(DoubleType) / count(lit(1)), 6).as("win_mean"))
      .orderBy(groupCol)
  }

  /** Quantile NORMALIZATION of a per-group score against a reference
    * distribution — the cross-source score-calibration step (quality
    * scores from different classifiers/sources aren't comparable; mapping
    * each source's rank to the corpus-wide quantile makes one threshold
    * mean the same thing everywhere). Each row's value becomes the
    * reference's type-1 quantile at the row's within-group percentile:
    * calibrated = the k-th smallest reference value, k = ceil(rank·n_ref /
    * n_group).
    *
    * Exactness: rank is a (value, id) total-order row_number; k is the
    * INTEGER form of the ceil — (rank·n_ref + n − 1) div n, all operands
    * non-negative (trunc ≡ floor ≡ the oracle's `//`), no float in the
    * pipeline at all. rank·n_ref must fit a long — past ~3·10⁹ rows per
    * side, pre-quantize the score grid (ANSI raises loudly, never wraps).
    *
    * Plan shape: the reference compacts to its DISTINCT value table
    * (groups ≪ rows for real score grids) whose cumulative counts come
    * from the bucketed [[Relational.globalPrefixSum]] — never a
    * SinglePartition window; the k→value lookup EXPANDS back to exactly
    * n_ref (rank, value) rows and hash-joins on the rank key — an
    * equi-join, not the broadcast-nested-loop a range join would plan.
    * Current side: one per-group sort window. */
  def quantileCalibrate(cur: DataFrame, groupCol: String, idCol: String,
                        valueExpr: Column, ref: DataFrame,
                        refValueExpr: Column): DataFrame = {
    val refV = ref.select(refValueExpr.cast(LongType).as("__rv"))
      .groupBy("__rv").agg(count(lit(1)).cast(LongType).as("__c"))
    // n_ref comes from the prefix scan's OWN partials collect (r22): the
    // old max(__p + __c) aggregate re-ran the whole un-checkpointed prefix
    // chain (bounds + partials + window) a second time just to rebuild the
    // total the driver had already summed, then broadcast one number.
    val (refCum, totals) = Relational.globalPrefixSums(refV, "__rv",
      Seq("__c"), Seq("__p"))
    val nRef = totals.head
    val lookup = refCum.select(col("__rv"),
      explode(sequence(col("__p") + lit(1L), col("__p") + col("__c")))
        .as("__k"))
    val wG = Window.partitionBy("__g").orderBy("__v", "__id")
    cur.select(col(idCol).as("__id"), col(groupCol).as("__g"),
        valueExpr.cast(LongType).as("__v"))
      .withColumn("__rn", row_number().over(wG))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("__g")))
      .withColumn("__k",
        expr(s"(__rn * ${nRef}L + __n - 1L) div __n"))
      .join(lookup, Seq("__k"))
      .select(col("__id").as(idCol), col("__g").as(groupCol),
        col("__v").as("value"), col("__rv").as("calibrated"))
      .orderBy(idCol)
  }

  /** Cohen's kappa: chance-corrected agreement between two categorical
    * columns (heuristic labeler vs model, two annotators, two classifier
    * versions) — the labeling-QA primitive raw accuracy overstates when
    * classes are imbalanced. κ = (pₒ − pₑ)/(1 − pₑ) with pₒ the observed
    * agreement rate and pₑ the chance rate Σ rowMarginₖ·colMarginₖ / n².
    *
    * Exactness: the whole statistic reduces to ONE division of exact
    * integers — κ = (agree·n − Σ ra·ca) / (n² − Σ ra·ca) — computed in
    * DECIMAL(38,0) (margin products overflow BIGINT past ~3·10⁹ rows, the
    * [[chiSquare]] hazard), converted to double only for the final
    * correctly-rounded division. Both-columns-constant-and-equal makes the
    * denominator 0 (pₑ = 1): κ is undefined and emitted NULL. NULL labels
    * are a category of their own (null-safe join and agree test).
    *
    * Plan shape: ONE hash aggregate over the corpus (the (a,b) contingency
    * cells); margins, totals, and the κ algebra all run on the
    * |labels|²-sized cell frame — the [[chiSquare]] pattern. */
  def agreementKappa(df: DataFrame, aExpr: Column, bExpr: Column): DataFrame = {
    val cells = df.select(aExpr.cast(StringType).as("__a"),
        bExpr.cast(StringType).as("__b"))
      .groupBy("__a", "__b")
      .agg(count(lit(1)).cast(LongType).as("__o"))
      // margins/totals/pe all branch off the cells: checkpoint the
      // |labels|²-row table so the corpus aggregate runs ONCE, not 4×
      .localCheckpoint()
    val rowT = cells.groupBy("__a").agg(sum("__o").cast(LongType).as("__ra"))
    val colT = cells.groupBy("__b").agg(sum("__o").cast(LongType).as("__ca"))
    val tot = cells.agg(sum("__o").cast(LongType).as("__n"),
      sum(when(col("__a") <=> col("__b"), col("__o")).otherwise(0L))
        .cast(LongType).as("__agree"))
    val peNum = rowT.join(colT, col("__a") <=> col("__b"))
      .agg(coalesce(sum(col("__ra").cast(DecimalType(38, 0)) * col("__ca")),
        lit(0).cast(DecimalType(38, 0))).as("__pe_num"))
    tot.crossJoin(peNum)
      .withColumn("__nsq", col("__n").cast(DecimalType(38, 0)) * col("__n"))
      .select(
        col("__n").as("n"),
        col("__agree").as("n_agree"),
        round(col("__agree").cast(DoubleType) / col("__n"), 6).as("po"),
        round(col("__pe_num").cast(DoubleType)
          / (col("__n").cast(DoubleType) * col("__n")), 6).as("pe"),
        when(col("__nsq") === col("__pe_num"), lit(null).cast(DoubleType))
          .otherwise(round(
            (col("__agree").cast(DecimalType(38, 0)) * col("__n")
              - col("__pe_num")).cast(DoubleType)
              / (col("__nsq") - col("__pe_num")).cast(DoubleType), 6))
          .as("kappa"))
  }

  /** Rank-biased overlap (Webber et al. 2010) between two top-k rankings
    * per query/group key — "how much did the ranker change" as a single
    * top-weighted score in [0, 1] (1 = identical prefixes, 0 = disjoint).
    * The ranking-agreement sibling of [[agreementKappa]]: kappa compares
    * label assignments, RBO compares ordered lists (ranker A/B swaps, ANN
    * recall rankings, BM25-vs-weighted search evals).
    *
    * Algebraic shape: truncated RBO@k = (1−p)·Σ_{d≤k} p^{d−1}·|A_d∩B_d|/d
    * re-expressed PER ITEM — an item ranked r_a and r_b (both ≤ k) enters
    * every depth d ≥ max(r_a, r_b), so its total mass is
    * W(max(r_a, r_b)) with W(m) = Σ_{d=m}^{k} p^{d−1}/d. The k weights are
    * fixed to integer NANOS at plan-build time (same literals ride into the
    * generated oracle — the pqChainSql pattern), so the per-group sum is an
    * exact long and order-independent; normalization by (1−p^k) makes
    * identical rankings score exactly 1. One equi-join on (q, item) of two
    * already-top-k frames + one hash aggregate — cost ∝ |groups|·k, never
    * corpus-sized. Groups present in `a` but sharing nothing with `b` keep
    * a row at rbo = 0 (left join from a's group list).
    *
    * Both inputs must carry ranks 1..k (ties already broken
    * deterministically by the caller — integer ranks are the contract that
    * keeps cross-engine results exact). */
  def rankRbo(a: DataFrame, b: DataFrame, qCol: String, itemCol: String,
              rankCol: String, k: Int, p: Double): DataFrame = {
    require(k > 0 && k <= 1000, s"rankRbo: k out of (0, 1000]: $k")
    require(p > 0.0 && p < 1.0, s"rankRbo: p out of (0, 1): $p")
    val weightsNanos = rboWeightsNanos(k, p)
    val scale = rboScale(k, p)
    val ar = a.select(col(qCol).as("__q"), col(itemCol).as("__i"),
      col(rankCol).cast(LongType).as("__ra")).filter(col("__ra") <= k)
    val br = b.select(col(qCol).as("__q"), col(itemCol).as("__i"),
      col(rankCol).cast(LongType).as("__rb")).filter(col("__rb") <= k)
    val joined = ar.join(br, Seq("__q", "__i"))
      .withColumn("__wn", element_at(typedLit(weightsNanos.toSeq),
        greatest(col("__ra"), col("__rb")).cast(IntegerType)))
      .groupBy("__q")
      .agg(count(lit(1)).as("n_overlap"), sum("__wn").as("__sn"))
    ar.select(col("__q")).distinct()
      .join(joined, Seq("__q"), "left")
      .select(col("__q").as(qCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("__sn"), lit(0L)) / lit(1e9) * lit(scale), 6)
          .as("rbo"))
      .orderBy(qCol)
  }

  /** W(m) = Σ_{d=m}^{k} p^{d−1}/d in integer nanos, m = 1..k — shared by
    * [[rankRbo]] and the generated oracle so both engines sum the SAME
    * integers. */
  def rboWeightsNanos(k: Int, p: Double): Array[Long] =
    Array.tabulate(k) { m0 =>
      var w = 0.0
      var d = m0 + 1
      while (d <= k) { w += math.pow(p, d - 1) / d; d += 1 }
      math.round(w * 1e9)
    }

  /** (1−p)/(1−p^k): the truncated-RBO normalizer (identical rankings → 1). */
  def rboScale(k: Int, p: Double): Double =
    (1.0 - p) / (1.0 - math.pow(p, k))

  /** nDCG@k per group — the graded-relevance ranking-quality metric
    * ([[rankRbo]] compares two rankings to each other; nDCG scores ONE
    * ranking against relevance labels). DCG = Σ_{i≤k} (2^rel − 1)/log₂(i+1)
    * over the given ranking, IDCG the same over the ideal reordering
    * (rel DESC, original rank ASC tie-break — the deterministic standard),
    * nDCG = DCG/IDCG ∈ [0, 1].
    *
    * Exactness: integral relevance grades make every gain 2^rel − 1 an
    * exact long, and the k position discounts 1/log₂(i+1) are fixed to
    * integer NANOS at plan-build time ([[ndcgDiscountsNanos]] — shared with
    * the generated oracle, the rboWeightsNanos pattern), so both DCG and
    * IDCG are exact integer dot products; the single final division is the
    * only double op. Groups whose top-k relevance is all zero have
    * IDCG = 0: nDCG is undefined and emitted NULL (the agreementKappa
    * degenerate-case doctrine).
    *
    * Plan shape: one rank-filter pass + one per-group ideal-rank window
    * (partitioned by the group key, never global) + one hash aggregate —
    * cost ∝ rows with rank ≤ max(k, group size), output |groups|. */
  def ndcgAtK(df: DataFrame, qCol: String, itemCol: String, rankCol: String,
              relCol: String, k: Int): DataFrame = {
    require(k > 0 && k <= 1000, s"ndcgAtK: k out of (0, 1000]: $k")
    val discounts = ndcgDiscountsNanos(k)
    val base = df.select(col(qCol).as("__q"), col(itemCol).as("__i"),
      col(rankCol).cast(LongType).as("__r"),
      col(relCol).cast(LongType).as("__rel"))
    // 2^rel − 1 in exact long space; grades are small by contract (the
    // SQL shiftleft accepts a column bit count where the Scala builder
    // only takes a literal)
    val gain = expr("CAST(shiftleft(CAST(1 AS BIGINT), " +
      "CAST(__rel AS INT)) AS BIGINT) - CAST(1 AS BIGINT)")
    val wIdeal = Window.partitionBy("__q")
      .orderBy(col("__rel").desc, col("__r").asc)
    val ranked = base
      .withColumn("__ideal_r", row_number().over(wIdeal).cast(LongType))
      .withColumn("__g", gain)
      .withColumn("__dcg_term", when(col("__r") <= k,
        col("__g") * element_at(typedLit(discounts.toSeq),
          col("__r").cast(IntegerType))).otherwise(0L))
      .withColumn("__idcg_term", when(col("__ideal_r") <= k,
        col("__g") * element_at(typedLit(discounts.toSeq),
          col("__ideal_r").cast(IntegerType))).otherwise(0L))
    ranked.groupBy("__q")
      .agg(sum("__dcg_term").as("__dcg"), sum("__idcg_term").as("__idcg"))
      .select(col("__q").as(qCol),
        when(col("__idcg") === 0L, lit(null).cast(DoubleType))
          .otherwise(round(col("__dcg").cast(DoubleType)
            / col("__idcg").cast(DoubleType), 6)).as("ndcg"))
      .orderBy(qCol)
  }

  /** 1/log₂(i+1) for i = 1..k in integer nanos — shared by [[ndcgAtK]] and
    * its generated oracle so both engines compute the same integer dot
    * products. */
  def ndcgDiscountsNanos(k: Int): Array[Long] =
    Array.tabulate(k) { i0 =>
      math.round(1e9 / (math.log(i0 + 2.0) / math.log(2.0)))
    }

  /** Accreting per-group cardinality sketch store — incremental COUNT
    * DISTINCT across ingest batches without ever rescanning history. Each
    * batch appends one Datasketches-HLL sketch row per group (group,
    * sketch, row count, __batch tag); the estimate probe unions the
    * accreted sketches per group (`hll_union_agg`) and reads the estimate —
    * merge cost ∝ groups × batches × 2^lgK BYTES, corpus never touched
    * again. This is the vocabulary-growth / unique-users / distinct-URLs
    * tracker of a year-long 100 TB ingest: batch K pays only its own scan,
    * exactly like the fingerprint/minhash/simhash/PQ/CDC store family.
    *
    * Determinism: DS-HLL insertion and union are max-per-register — order-
    * and partitioning-independent — so for fixed batch contents the stored
    * sketches and every estimate are stable, and the contract probe
    * ([[cardinalityEstimatesChecked]]) is oracle-pinnable the same way the
    * q_profile_approx flags are. */
  def writeCardinalityStore(df: DataFrame, groupCol: String,
                            valueExpr: Column, store: String,
                            lgK: Int = 12, nBuckets: Int = 8): Unit = {
    require(lgK >= 4 && lgK <= 21, s"writeCardinalityStore: lgK $lgK")
    cardinalityStore(store, Some(lgK))
      .create(cardinalitySketchRows(df, groupCol, valueExpr, lgK), nBuckets)
  }

  /** the cardinality store: one table named `store` of per-group sketch
    * rows, bucketed by group. A compaction knows no lgK and checks the
    * kind and format only. */
  private def cardinalityStore(store: String,
                               lgK: Option[Int] = None): StoreSpec =
    StoreSpec(store,
      Map("kind" -> "cardinality_hll", "enc" -> "ds_hll_v1") ++
        lgK.map("lgK" -> _),
      Seq(Table("", "__g", identity, tagged = true)), required = Set("enc"))

  /** append one ingest batch's sketches exactly once under `batchTag`. The
    * tag is required: the seed rows carry -1, so an ungated -1 append would
    * double-count. A sketch built at a different lgK would union fine but
    * silently degrade the error contract, so it refuses. */
  def appendCardinalitySketches(spark: SparkSession, store: String,
                                df: DataFrame, groupCol: String,
                                valueExpr: Column, lgK: Int,
                                batchTag: Long): Unit = {
    StoreTable.requireTag("appendCardinalitySketches", store, batchTag)
    cardinalityStore(store, Some(lgK)).appendOnce(
      cardinalitySketchRows(df, groupCol, valueExpr, lgK), batchTag)
  }

  private def cardinalitySketchRows(df: DataFrame, groupCol: String,
                                    valueExpr: Column, lgK: Int): DataFrame =
    df.select(col(groupCol).cast(StringType).as("__g"), valueExpr.as("__v"))
      .groupBy("__g")
      .agg(hll_sketch_agg(col("__v"), lgK).as("__sketch"),
        count(lit(1)).cast(LongType).as("__n"))

  /** per-group estimates over the WHOLE accreted store: one sketch-union
    * aggregate over groups×batches rows — never the corpus. */
  def cardinalityEstimates(spark: SparkSession, store: String): DataFrame =
    spark.table(store)
      .groupBy("__g")
      .agg(hll_sketch_estimate(hll_union_agg(col("__sketch"))).as("estimate"),
        sum("__n").cast(LongType).as("n_rows"),
        countDistinct(col("__batch")).cast(LongType).as("n_batches"))
      .select(col("__g").as("group_key"), col("estimate"), col("n_rows"),
        col("n_batches"))
      .orderBy("group_key")

  /** the estimates under their CONTRACT (the q_profile_approx pattern):
    * joined with caller-supplied exact distinct counts, emitting
    * est_ok = |estimate − exact| ≤ slack·rse·exact + 2 with
    * rse = 1.04/√2^lgK (the published DS-HLL relative standard error);
    * slack = 4σ makes a legitimate sketch failing a ~1e-4 event, and for
    * fixed data the flag either passes forever or fails forever. The raw
    * estimate is dropped from the output — the flag is what an external
    * engine can pin. */
  def cardinalityEstimatesChecked(spark: SparkSession, store: String,
                                  exact: DataFrame, lgK: Int,
                                  slack: Double = 4.0): DataFrame = {
    val rse = 1.04 / math.sqrt(math.pow(2.0, lgK))
    cardinalityEstimates(spark, store)
      .join(exact.select(col("group_key"),
        col("exact_distinct").cast(LongType)), Seq("group_key"))
      .select(col("group_key"), col("n_rows"), col("n_batches"),
        col("exact_distinct"),
        (abs(col("estimate") - col("exact_distinct"))
          <= lit(slack * rse) * col("exact_distinct") + lit(2.0))
          .as("est_ok"))
      .orderBy("group_key")
  }

  /** Accreting frequency sketch store — the Count-Min sibling of the
    * cardinality store: incremental HEAVY-HITTER counts across ingest
    * batches without rescanning history. Each batch appends ONE
    * count-min-sketch row (the whole batch's value frequencies in
    * width·depth counters, kilobytes at eps = 1e-3); the probe merges the
    * accreted sketches (cell-wise sums — CMS merge is exact) and reads
    * per-candidate estimates. CMS with a FIXED seed is deterministic for
    * fixed batch contents (counter increments commute), so estimates are
    * stable under any partitioning — the same property that makes the HLL
    * store's contract flags oracle-pinnable.
    *
    * The estimate contract: est ≥ true always (CMS never undercounts), and
    * est ≤ true + eps·N with probability 1 − (1/e)^depth per item —
    * [[frequencyEstimatesChecked]] emits that as a cms_ok flag beside the
    * exact count, the q_profile_approx verification shape. */
  def writeFrequencyStore(df: DataFrame, valueExpr: Column, store: String,
                          eps: Double = 0.001, confidence: Double = 0.99,
                          seed: Int = 42): Unit = {
    require(eps > 0 && eps < 1, s"writeFrequencyStore: eps $eps")
    require(confidence > 0 && confidence < 1,
      s"writeFrequencyStore: confidence $confidence")
    frequencyStore(store, Some((eps, confidence, seed)))
      .create(frequencySketchRow(df, valueExpr, eps, confidence, seed))
  }

  /** the frequency store: one unbucketed table named `store` of per-batch
    * sketch rows. A compaction knows no build parameters and checks the
    * kind and format only. */
  private def frequencyStore(store: String,
                             build: Option[(Double, Double, Int)] = None): StoreSpec =
    StoreSpec(store,
      Map("kind" -> "frequency_cms", "enc" -> "cms_v1") ++
        build.toSeq.flatMap { case (eps, confidence, seed) =>
          Seq("eps" -> eps, "confidence" -> confidence, "seed" -> seed) },
      Seq(Table("", "", identity, tagged = true)), required = Set("enc"))

  /** append one ingest batch's sketch exactly once under the required
    * `batchTag` ([[appendCardinalitySketches]]' contract; sketches at a
    * different eps/depth/seed would refuse to merge downstream, but failing
    * at append time names the store and the fix). */
  def appendFrequencySketch(spark: SparkSession, store: String,
                            df: DataFrame, valueExpr: Column, eps: Double,
                            confidence: Double, seed: Int,
                            batchTag: Long): Unit = {
    StoreTable.requireTag("appendFrequencySketch", store, batchTag)
    frequencyStore(store, Some((eps, confidence, seed))).appendOnce(
      frequencySketchRow(df, valueExpr, eps, confidence, seed), batchTag)
  }

  /** Compact an accreting cardinality store IN PLACE
    * ([[graft.sources.StoreSpec.compact]]): merge every group's batch rows
    * into ONE row. HLL union is max-per-register — associative,
    * commutative, lossless — so every estimate the store can ever serve is
    * PROVABLY unchanged (parity-asserted in ProfilingSpec); what changes is
    * the probe's read cost, from groups×batches sketch rows (365× the
    * groups-sized read after a year of daily batches) back to groups.
    * `n_batches` in the estimates probe counts surviving MERGE UNITS (1 per
    * group after compaction) — the estimates and n_rows are the preserved
    * quantities. */
  def compactCardinalityStore(spark: SparkSession, store: String): Unit =
    cardinalityStore(store).compact(spark,
      hll_union_agg(col("__sketch")).as("__sketch"),
      sum("__n").cast(LongType).as("__n"))

  /** [[compactCardinalityStore]]'s CMS sibling: fold every batch row of an
    * accreting frequency store into ONE row. CMS merge is cell-wise
    * addition — exact and order-independent — so all estimates are
    * provably unchanged while [[mergedFrequencySketch]]'s per-probe
    * collect+merge drops from batches rows to one. The merge itself runs
    * driver-side over kilobyte sketch rows (exactly what every probe
    * already does once); the swap/watermark/crash contract matches the
    * cardinality compactor. */
  def compactFrequencyStore(spark: SparkSession, store: String): Unit = {
    StoreTable.recoverStoreSwap(spark, store)
    frequencyStore(store).check(spark)
    val rows = spark.table(store).select("__sketch", "__n", "__batch")
      .collect()
    require(rows.nonEmpty, s"compactFrequencyStore: $store is empty")
    val merged = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(rows.head.getAs[Array[Byte]](0))
    rows.tail.foreach { r =>
      merged.mergeInPlace(org.apache.spark.util.sketch.CountMinSketch
        .readFrom(r.getAs[Array[Byte]](0)))
    }
    val n = rows.map(_.getLong(1)).sum
    val watermark = rows.map(_.getLong(2)).max
    val one = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        merged.toByteArray, n, watermark)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__sketch",
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.types.StructField("__n", LongType),
        org.apache.spark.sql.types.StructField("__batch", LongType))))
    StoreTable.swapIn(store, one, Map("compacted_watermark" -> watermark))
  }

  private def frequencySketchRow(df: DataFrame, valueExpr: Column,
                                 eps: Double, confidence: Double,
                                 seed: Int): DataFrame =
    df.select(valueExpr.cast(StringType).as("__v"))
      .agg(count_min_sketch(col("__v"), lit(eps), lit(confidence),
        lit(seed)).as("__sketch"),
        count(lit(1)).cast(LongType).as("__n"))

  /** merged sketch + total row count over the whole accreted store. The
    * collect here is batches-sized KILOBYTE rows (the LSH driver-side
    * query-signature doctrine: index metadata, not user data). */
  private def mergedFrequencySketch(spark: SparkSession, store: String)
      : (Array[Byte], Long) = {
    val rows = spark.table(store).select("__sketch", "__n").collect()
    require(rows.nonEmpty, s"frequency store $store is empty")
    val merged = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(rows.head.getAs[Array[Byte]](0))
    rows.tail.foreach { r =>
      merged.mergeInPlace(org.apache.spark.util.sketch.CountMinSketch
        .readFrom(r.getAs[Array[Byte]](0)))
    }
    (merged.toByteArray, rows.map(_.getLong(1)).sum)
  }

  /** per-candidate frequency estimates from the accreted store: the merged
    * sketch broadcasts (kilobytes), candidates probe it in their own scan
    * stage via ONE mapPartitions (tier (d), justified: `estimateCount` is a
    * per-row lookup into broadcast state — the `might_contain` analogue
    * Spark exposes for bloom filters but not CMS; the sketch deserializes
    * once per partition, never per row). History is never rescanned. */
  def frequencyEstimates(spark: SparkSession, store: String,
                         candidates: DataFrame,
                         itemCol: String): DataFrame = {
    val (bytes, _) = mergedFrequencySketch(spark, store)
    val bc = spark.sparkContext.broadcast(bytes)
    import spark.implicits._
    val est = candidates.select(col(itemCol).cast(StringType)).as[String]
      .mapPartitions { it =>
        val cms = org.apache.spark.util.sketch.CountMinSketch
          .readFrom(bc.value)
        it.map(v => (v, cms.estimateCount(v)))
      }.toDF(itemCol, "cms_estimate")
    est.orderBy(itemCol)
  }

  /** the estimates under their CONTRACT: per candidate,
    * cms_ok = exact ≤ est ≤ exact + ceil(eps·N) with N the accreted total
    * row count — deterministic for fixed data (the flag either passes
    * forever or fails forever), so an external engine pins it TRUE while
    * recomputing the exact side (the q_profile_approx pattern; raw
    * estimates dropped from the output). */
  def frequencyEstimatesChecked(spark: SparkSession, store: String,
                                exact: DataFrame, itemCol: String,
                                eps: Double): DataFrame = {
    val (_, n) = mergedFrequencySketch(spark, store)
    val slackCounts = math.ceil(eps * n).toLong
    frequencyEstimates(spark, store, exact.select(col(itemCol)), itemCol)
      .join(exact.select(col(itemCol),
        col("exact_cnt").cast(LongType)), Seq(itemCol))
      .select(col(itemCol), col("exact_cnt"),
        (col("cms_estimate") >= col("exact_cnt") &&
          col("cms_estimate") <= col("exact_cnt") + slackCounts)
          .as("cms_ok"))
      .orderBy(itemCol)
  }

  /** Per-group OLS trend fit: slope/intercept/R² of y on x for every key —
    * "is this metric trending, and how fast, per segment" as ONE aggregate
    * (ingest-volume trends, per-source quality drift, revenue slopes).
    *
    * Exactness: x and y must be integral (epoch days, cents — the repo
    * doctrine); the five sufficient statistics (Σx, Σy, Σx², Σxy, Σy²)
    * accumulate in DECIMAL(38,0) — exact, order-independent, ANSI-loud on
    * overflow (bound: n·Σx² < 10³⁸, comfortable for day×cent magnitudes
    * well past 10¹² rows). The closed forms then use exact integer
    * differences — slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) — converted to
    * double only for the final correctly-rounded divisions, so DuckDB
    * (HUGEINT) reproduces every emitted double bit-for-bit.
    *
    * Degenerate groups: constant x (or a single row) has no defined slope —
    * slope/intercept/r2 are NULL; constant y under varying x fits slope 0
    * with r2 NULL (zero variance explained is undefined, 0/0).
    *
    * Plan shape: one column-pruned scan into one hash aggregate (map-side
    * partials), |keys| output rows — nothing downstream of the shuffle. */
  def trendFit(df: DataFrame, keyCol: String, xExpr: Column,
               yExpr: Column): DataFrame = {
    // inputs at DECIMAL(19,0) so every product is EXACT in DECIMAL(38,0)
    // (the corrMatrix precedent); sums and the n·Σ products stay in the
    // 38-digit domain, ANSI-loud past it
    def dec(c: Column) = c.cast(LongType).cast(DecimalType(19, 0))
    val agg = df.select(col(keyCol).as("__k"), dec(xExpr).as("__x"),
        dec(yExpr).as("__y"))
      .groupBy(col("__k").as(keyCol))
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__y") * col("__y")).as("__syy"))
    val n = col("n").cast(DecimalType(38, 0))
    val num = (n * col("__sxy") - col("__sx") * col("__sy"))
      .cast(DoubleType)
    val dx = (n * col("__sxx") - col("__sx") * col("__sx"))
      .cast(DoubleType)
    val dy = (n * col("__syy") - col("__sy") * col("__sy"))
      .cast(DoubleType)
    val slopeRaw = num / dx
    agg.select(col(keyCol), col("n"),
        when(dx === 0.0, lit(null).cast(DoubleType))
          .otherwise(round(slopeRaw, 6)).as("slope"),
        when(dx === 0.0, lit(null).cast(DoubleType))
          .otherwise(round((col("__sy").cast(DoubleType)
            - slopeRaw * col("__sx").cast(DoubleType))
            / col("n").cast(DoubleType), 6)).as("intercept"),
        when(dx === 0.0 || dy === 0.0, lit(null).cast(DoubleType))
          .otherwise(round(num * num / (dx * dy), 6)).as("r2"))
      .orderBy(keyCol)
  }

  /** Equi-width histogram over an integral measure: k buckets spanning the
    * global [min, max], bucket of v = ((v−min)·k) div (max−min+1) — exact
    * integer arithmetic (operands non-negative, so `div` ≡ floor ≡ the
    * oracle's `//`; see the retentionCohorts comment for why that
    * invariant is load-bearing). The distribution-shape sibling of
    * [[quantileBins]] (equi-DEPTH): fixed boundaries, varying counts.
    *
    * Empty buckets are ABSENT (sparse output) — the dense-spine variant
    * would need nothing more than a sequence join, but sparse is what
    * plotting and drift layers consume. (v−min)·k stays in BIGINT up to
    * ~10¹⁸/k of range — integral measures (chars, tokens, cents) are
    * nowhere near it.
    *
    * Plan shape: a 1-row global bounds aggregate broadcast into one
    * hash-aggregate keyed by bucket — two column-pruned scans, output
    * ≤ k rows.
    */
  def histogramEquiWidth(df: DataFrame, valueExpr: Column,
                         k: Int): DataFrame = {
    require(k > 0, s"histogramEquiWidth: k must be positive: $k")
    val base = df.select(valueExpr.cast(LongType).as("__v"))
    val bounds = base.agg(min("__v").as("__lo"), max("__v").as("__hi"))
    base.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        expr(s"((__v - __lo) * $k) div (__hi - __lo + 1)"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast(LongType).as("n"),
        min("__v").cast(LongType).as("min_v"),
        max("__v").cast(LongType).as("max_v"))
      .orderBy("bucket")
  }
}
