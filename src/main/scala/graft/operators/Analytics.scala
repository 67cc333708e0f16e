package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** [EXT] Event-analytics operators (SURVEY §2.9 extension surface): ordered
  * funnels, retention cohorts, gap-filled time-series resampling, declarative
  * data-quality constraints, two-sample KS drift, and event-transition
  * mining. The reference frame (cl-data-frame.lisp:1-583) stops at
  * single-table summaries; these are the event-log questions a production
  * corpus pipeline asks of its telemetry (ingest monitoring, user-behavior
  * QA on interaction logs mined for training data).
  *
  * Determinism doctrine (SparkEntry scaladoc): timestamps compare exactly
  * (microsecond integers under the hood); every emitted double is a single
  * division of exact integers rounded to 6 places; any value-sum is over
  * integer cents. Ties on a timestamp are broken by the event id so window
  * orders are total.
  */
object Analytics {

  /** ORDERED funnel over an event log: step 1 converts at a user's earliest
    * step-1 event; step i at the earliest step-i event STRICTLY AFTER the
    * user's step-(i−1) conversion time. Emits one row per step with the
    * surviving user count and conversion timestamps aggregated as a count —
    * the product-analytics primitive ("view → click → purchase: where do we
    * lose people?").
    *
    * Plan shape: one filtered min-aggregate per step (k small, fixed), each
    * joined to the previous survivor set on the user key — all k−1 joins
    * share the user-hash partitioning, and each survivor set only shrinks.
    * No windows, no per-user event materialization: at 100 TB the state per
    * step is |surviving users| × 16 bytes. The min-ts "unordered funnel"
    * shortcut (compare min timestamps per step) is rejected: it counts a
    * user who purchased BEFORE ever clicking.
    *
    * `maxGapSeconds`, when set, is the conversion WINDOW real retention
    * analysis uses: step i must land within that many seconds after step
    * i−1's conversion (strictly-after stays; the upper bound is inclusive).
    * Semantics note: conversion times remain the earliest step-i event in
    * the window after the GREEDY (earliest) step-(i−1) conversion — the
    * standard closed-form chain, not a search over all event combinations
    * (a user whose ONLY in-window path runs through a later step-(i−1)
    * event is not counted; every engine's funnel makes this same greedy
    * choice because the exact variant is exponential).
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String],
             maxGapSeconds: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel: need at least one step")
    require(steps.distinct.size == steps.size,
      s"funnel: duplicate steps: $steps")
    require(maxGapSeconds.forall(_ > 0),
      s"funnel: maxGapSeconds must be positive: $maxGapSeconds")
    val spark = events.sparkSession
    import spark.implicits._
    val base = events.select(col(userCol).as("u"),
      col(tsCol).as("t"), col(typeCol).as("e"))
    var conv = base.filter(col("e") === steps.head)
      .groupBy("u").agg(min("t").as("c"))
    var out = conv.agg(count(lit(1)).cast(LongType).as("n_users"))
      .select(lit(1L).as("step_idx"), lit(steps.head).as("step"),
        col("n_users"))
    steps.zipWithIndex.drop(1).foreach { case (step, i) =>
      val inWindow = maxGapSeconds.fold(lit(true))(g =>
        // integer-microsecond comparison — exact, timezone-free, and the
        // oracle replicates it with epoch_us arithmetic
        unix_micros(col("t")) <= unix_micros(col("c_prev")) + lit(g * 1000000L))
      conv = base.filter(col("e") === step)
        .join(conv.select(col("u"), col("c").as("c_prev")), Seq("u"))
        .filter(col("t") > col("c_prev") && inWindow)
        .groupBy("u").agg(min("t").as("c"))
      out = out.unionByName(
        conv.agg(count(lit(1)).cast(LongType).as("n_users"))
          .select(lit(i + 1L).as("step_idx"), lit(step).as("step"),
            col("n_users")))
    }
    out.orderBy("step_idx")
  }

  /** Retention cohorts: users grouped by the DAY of their first event
    * (cohort day as epoch days — timezone-free integers), then for each
    * (cohort, week offset) the count of distinct users active that week.
    * Offset 0 is the cohort week itself, so its count is the cohort size.
    *
    * Plan shape: first-event aggregate on the user key, joined back to the
    * log on the same key (co-partitioned — one shuffle total), then a
    * (cohort, offset) count-distinct whose group count is
    * |cohort days| × |offsets| — tiny. The join-back is unavoidable (each
    * event needs its user's cohort) but carries only (user, cohort_day).
    */
  def retentionCohorts(events: DataFrame, userCol: String, tsCol: String,
                       maxWeeks: Int = 4): DataFrame = {
    require(maxWeeks >= 0, s"retentionCohorts: maxWeeks < 0: $maxWeeks")
    val base = events.select(col(userCol).as("u"),
      datediff(to_date(col(tsCol)), lit("1970-01-01")).cast(LongType)
        .as("d"))
    val cohorts = base.groupBy("u").agg(min("d").as("cohort_day"))
    base.join(cohorts, Seq("u"))
      // `div` (IntegralDivide) truncates toward ZERO on longs (-3 div 2
      // = -1), NOT floor — it equals the oracle's floor `//` only because
      // cohort_day = min(d) per user keeps d - cohort_day non-negative,
      // where truncation and floor coincide. That invariant is load-bearing
      // for oracle agreement; don't reuse this form on signed operands
      .withColumn("week_offset", expr("(d - cohort_day) div 7"))
      .filter(col("week_offset") <= maxWeeks)
      .groupBy("cohort_day", "week_offset")
      .agg(countDistinct(col("u")).cast(LongType).as("n_active"))
      .orderBy("cohort_day", "week_offset")
  }

  /** Gap-filled resampling: bucket events into fixed UTC-day bins per key
    * and emit a DENSE (key × day) grid from the corpus min to max day —
    * empty bins as explicit zero rows, the shape every downstream
    * rate-monitor and seasonal model expects. Value sums are integer cents
    * (order-independent; a double sum is not).
    *
    * Plan shape: one grouped aggregate over (key, day); the spine is
    * |keys| × |days| rows built from a 2-row bounds aggregate + a distinct
    * key pass, both broadcast — never a per-row sequence explode over the
    * event log. At 100 TB the dense grid is keys×days ≪ events; if the key
    * cardinality were unbounded (user ids, not event types) the dense grid
    * itself would be the bug — this operator is for LOW-cardinality keys
    * and asserts nothing about high ones (the caller picks the key).
    */
  def resampleDaily(events: DataFrame, keyCol: String, tsCol: String,
                    valueCents: Column): DataFrame = {
    val base = events.select(col(keyCol).as("k"),
      datediff(to_date(col(tsCol)), lit("1970-01-01")).cast(LongType)
        .as("d"),
      valueCents.cast(LongType).as("v"))
    val agg = base.groupBy("k", "d")
      .agg(count(lit(1)).cast(LongType).as("n_events"),
        sum("v").cast(LongType).as("sum_cents"))
    val bounds = base.agg(min("d").as("lo"), max("d").as("hi"))
    val days = bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("d"))
    val spine = events.select(col(keyCol).as("k")).distinct()
      .crossJoin(broadcast(days))
    spine.join(agg, Seq("k", "d"), "left")
      .na.fill(0L, Seq("n_events", "sum_cents"))
      .select(col("k").as(keyCol), col("d").as("epoch_day"),
        col("n_events"), col("sum_cents"))
      .orderBy(keyCol, "epoch_day")
  }

  /** A declarative data-quality constraint: `violations` counts offending
    * rows with ONE aggregate over `df`. Build them with the [[Check]]
    * constructors; run a suite with [[constraintReport]]. */
  final case class Check(name: String, df: DataFrame, violations: Column)

  object Check {
    /** rows where `c` is NULL. */
    def notNull(name: String, df: DataFrame, c: String): Check =
      Check(name, df,
        sum(when(col(c).isNull, 1L).otherwise(0L)))

    /** rows beyond the first per key tuple — 0 iff the key is unique.
      * Counted as Σ(cnt−1) over duplicated keys via a pre-aggregate, so
      * the violation number is "rows you'd have to drop". */
    def unique(name: String, df: DataFrame, keys: Seq[String]): Check = {
      val g = df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__cnt"))
      Check(name, g, sum(col("__cnt") - 1L))
    }

    /** child rows whose `fk` value has no match in `parent.pk` (NULL fks
      * are not violations — compose with notNull if they should be). The
      * anti-join side is the DISTINCT parent key set; at scale the parent
      * keys broadcast when small and co-partition when not. */
    def foreignKey(name: String, child: DataFrame, fk: String,
                   parent: DataFrame, pk: String): Check = {
      val orphans = child.filter(col(fk).isNotNull)
        .join(parent.select(col(pk).as(fk)).distinct(), Seq(fk),
          "left_anti")
      Check(name, orphans, count(lit(1)))
    }

    /** non-NULL rows outside the accepted value set. */
    def acceptedValues(name: String, df: DataFrame, c: String,
                       values: Seq[String]): Check =
      Check(name, df,
        sum(when(col(c).isNotNull && !col(c).isin(values: _*), 1L)
          .otherwise(0L)))

    /** non-NULL rows where `e` is false — the generic predicate check
      * (ranges, cross-column invariants). */
    def satisfies(name: String, df: DataFrame, e: Column): Check =
      Check(name, df, sum(when(!e, 1L).otherwise(0L)))
  }

  /** Run a constraint suite: one row per check — name, scanned row count,
    * violation count, pass flag. The Deequ-style pre-flight gate a pipeline
    * runs before committing a batch ("no orphan lineitems, order keys
    * unique, status in the enum").
    *
    * `n_rows` is the row count of the check's OWN frame, which differs by
    * constructor: total table rows for notNull/acceptedValues/satisfies,
    * the DISTINCT key-tuple count for unique (its frame is the per-key
    * pre-aggregate), and the orphan count (= violations) for foreignKey
    * (its frame is the anti-join result). Violation RATES are therefore
    * only meaningful per kind — don't divide across rows of mixed kinds.
    *
    * Each check is one independent aggregate over its own frame (checks on
    * the same frame share the scan only via parquet cache, deliberately:
    * fusing differently-shaped checks — anti-joins vs plain aggregates —
    * into one pass would force the most expensive plan onto all of them).
    * The union is |checks| single-row frames: nothing here scales with data
    * except each check's own scan, and every scan is column-pruned to the
    * columns its predicate touches.
    */
  def constraintReport(checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "constraintReport: empty suite")
    require(checks.map(_.name).distinct.size == checks.size,
      s"constraintReport: duplicate check names: ${checks.map(_.name)}")
    checks.map { ch =>
      ch.df.agg(
          count(lit(1)).cast(LongType).as("n_rows"),
          coalesce(ch.violations.cast(LongType), lit(0L))
            .as("violations"))
        .select(lit(ch.name).as("check_name"), col("n_rows"),
          col("violations"),
          (col("violations") === 0L).as("pass"))
    }.reduce(_ unionByName _).orderBy("check_name")
  }

  /** Two-sample Kolmogorov–Smirnov statistic over an integral measure:
    * D = max_v |F_ref(v) − F_cur(v)| — the classic distribution-shift test,
    * complementing [[Profiling.psiDrift]] (PSI sees mass displacement
    * between coarse bins; KS sees the worst single CDF gap, including
    * shifts inside one PSI bin).
    *
    * Exactness: the max runs over INTEGER cross-products
    * |cum_ref·N_cur − cum_cur·N_ref| in DECIMAL(38,0) — no double is
    * formed until the final single division by N_ref·N_cur (rounded to 6
    * places), so both engines agree bit-for-bit at any corpus size (counts
    * up to 1e11 × 1e11 fit DECIMAL(38,0) with 16 digits to spare).
    *
    * Plan shape: per-value counts for both sides in ONE grouped aggregate
    * over the unioned (value, side) projection — |distinct values| rows —
    * then inclusive CDFs via the [[Relational.globalPrefixSum]] two-phase
    * scan (range-bucketed partials + per-bucket windows; never a global
    * one-partition window), run once per side over that small table, and a
    * scalar max. Nothing beyond the two input scans touches raw rows.
    */
  def ksDrift(ref: DataFrame, cur: DataFrame, value: Column): DataFrame = {
    // NULL measures are excluded (a CDF has no place for them): unfiltered,
    // a NULL value group would fail globalPrefixSums' NULL-key check, and
    // the engines disagree on NULL sort position anyway (Spark NULLS FIRST,
    // DuckDB NULLS LAST)
    val tagged = ref.select(value.cast(LongType).as("v"),
        lit(1L).as("__r"), lit(0L).as("__c"))
      .unionByName(cur.select(value.cast(LongType).as("v"),
        lit(0L).as("__r"), lit(1L).as("__c")))
      .filter(col("v").isNotNull)
    val counts = tagged.groupBy("v")
      .agg(sum("__r").as("n_ref"), sum("__c").as("n_cur"))
      .localCheckpoint() // prefix bounds/partials/join read one computed table
    // ONE fused two-phase prefix scan for both CDFs (r22): the sides share
    // the value order, so the bounds job, partials collect, broadcast and
    // per-bucket window run once instead of once per side; the totals fall
    // out of the same partials collect as driver literals, replacing the
    // separate totals aggregate + crossJoin(broadcast) pass (was 18 jobs
    // for 0.17 s of task work — driver round-trips, not compute).
    val (withBoth, totals) = Relational.globalPrefixSums(counts, "v",
      Seq("n_ref", "n_cur"), Seq("__pr", "__pc"))
    val (tr, tc) = (totals(0), totals(1))
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    withBoth
      .withColumn("__gap",
        abs(dec(col("__pr") + col("n_ref")) * dec(lit(tc)) -
          dec(col("__pc") + col("n_cur")) * dec(lit(tr))))
      .agg(
        max(lit(tr)).cast(LongType).as("n_ref"),
        max(lit(tc)).cast(LongType).as("n_cur"),
        round(max(col("__gap")).cast(DoubleType) /
          lit(tr).cast(DoubleType) /
          lit(tc).cast(DoubleType), 6) // two casts then two IEEE
          .as("d_stat")) // divisions — a long N_ref·N_cur product overflows
  }

  /** Daily-rate anomaly flags per key: resample to the dense daily grid
    * ([[resampleDaily]] — gap days are explicit zero rows, so a feed going
    * SILENT is flaggable, the monitoring case a sparse series silently
    * misses) and mark days whose event count deviates from the key's
    * median by more than k·MAD. The per-row sibling of
    * [[Profiling.outlierMad]]'s group summaries, over integer daily counts
    * (medians interpolate to halves, MADs to quarters — dyadic-exact, the
    * q_grouped_median doctrine).
    *
    * Plan shape: the dense grid (|keys| × |days| rows, low-cardinality
    * keys by [[resampleDaily]]'s contract) is aggregated twice (median,
    * then MAD of deviations) with |keys|-row join-backs that broadcast. */
  def seriesAnomalies(events: DataFrame, keyCol: String, tsCol: String,
                      k: Double = 3.0): DataFrame = {
    val daily = resampleDaily(events, keyCol, tsCol, lit(0L))
      .select(col(keyCol), col("epoch_day"), col("n_events"))
    val med = daily.groupBy(keyCol)
      .agg(expr("percentile(n_events, 0.5)").as("med"))
    val withDev = daily.join(broadcast(med), keyCol)
      .withColumn("absdev", abs(col("n_events") - col("med")))
    val mad = withDev.groupBy(keyCol)
      .agg(expr("percentile(absdev, 0.5)").as("mad"))
    withDev.join(broadcast(mad), keyCol)
      .select(col(keyCol), col("epoch_day"), col("n_events"),
        col("med"), col("mad"),
        (col("absdev") > lit(k) * col("mad")).as("is_anomaly"))
      .orderBy(keyCol, "epoch_day")
  }

  /** Event-transition mining: count consecutive (prev → next) event-type
    * pairs per user in time order — the empirical first-order Markov
    * transition table behind "what do users do after an error?".
    *
    * The lag window partitions by user (parallelism = |users|; at 100 TB a
    * per-user partition is a few KB — the OPPOSITE of a global window) and
    * orders by (ts, tiebreak) so simultaneous events have a total,
    * engine-portable order. Output is |event types|² rows at most.
    */
  def transitionCounts(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tiebreakCol))
    events.select(col(userCol), col(tsCol), col(tiebreakCol),
        col(typeCol).as("next_type"))
      .withColumn("prev_type", lag(col("next_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).cast(LongType).as("n_transitions"))
      .orderBy("prev_type", "next_type")
  }

  /** Last-touch revenue attribution: each conversion event credits its
    * value to the user's most recent PRECEDING touch event (type in
    * `touchTypes`) within `windowSeconds`; conversions with no in-window
    * touch land in the explicit `(none)` channel so the report always sums
    * to total conversion revenue — the marketing-analytics primitive every
    * event warehouse runs ("which channel gets credit for this purchase?").
    *
    * "Preceding" is lexicographic on (ts, tiebreak) — a total,
    * engine-portable order (a touch and a conversion on the same
    * microsecond are ordered by the id, never by partition luck). The
    * window bound compares integer microseconds (exact, timezone-free).
    *
    * Plan shape: ONE window per user over the event log, carrying two
    * last(_, ignoreNulls) frames (touch type + touch ts, null-aligned by
    * construction since both come from the same touch rows) — the
    * per-user-partition lag pattern of [[transitionCounts]]: parallelism =
    * |users|, per-partition state = one user's events, no global window.
    * The final aggregate is |touchTypes|+1 rows. Value sums are integer
    * cents (order-independent; a double sum is not).
    */
  def attributionLastTouch(events: DataFrame, userCol: String, tsCol: String,
                           typeCol: String, valueCents: Column,
                           tiebreakCol: String, touchTypes: Seq[String],
                           convType: String,
                           windowSeconds: Long): DataFrame = {
    require(touchTypes.nonEmpty, "attributionLastTouch: no touch types")
    require(!touchTypes.contains(convType),
      s"attributionLastTouch: conversion type '$convType' is also a touch")
    require(windowSeconds > 0,
      s"attributionLastTouch: windowSeconds must be positive: $windowSeconds")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tiebreakCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col(typeCol).isin(touchTypes.map(x => x: Any): _*)
    events.select(col(userCol), col(tsCol), col(tiebreakCol),
        col(typeCol), valueCents.as("__cents"))
      .withColumn("__lt_type",
        last(when(isTouch, col(typeCol)), ignoreNulls = true).over(w))
      .withColumn("__lt_us",
        last(when(isTouch, unix_micros(col(tsCol))), ignoreNulls = true)
          .over(w))
      .filter(col(typeCol) === convType)
      .withColumn("channel", coalesce(
        when(unix_micros(col(tsCol)) - col("__lt_us")
               <= lit(windowSeconds * 1000000L), col("__lt_type")),
        lit("(none)")))
      .groupBy("channel")
      .agg(count(lit(1)).cast(LongType).as("n_conversions"),
        sum(col("__cents")).cast(LongType).as("revenue_cents"))
      .orderBy("channel")
  }

  /** Run-length event dedup: per key, keep only the FIRST event of each
    * consecutive run of the same type — the telemetry-cleaning pass for
    * at-least-once emitters and UI chatter (a user mashing "retry" is one
    * intent, not forty) that [[transitionCounts]]/[[funnel]] consumers run
    * first so self-transitions don't drown the signal. Ordering is the
    * house (ts, tiebreak) total order; a run boundary is a CHANGE of type
    * (null-safe, so null-typed events form runs too).
    *
    * Plan: one lag over the per-key window, one filter — single shuffle on
    * the key, per-partition state one key's events. */
  def dedupConsecutive(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tiebreakCol))
    events
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      // first row of the key, or a (null-safe) type change — lag-is-null
      // alone can't tell "no predecessor" from "predecessor typed null"
      .filter(col("__rn") === 1 || !(col("__prev") <=> col(typeCol)))
      .drop("__prev", "__rn")
  }

  /** Union-of-intervals coverage per key ("total engaged time"): each event
    * opens a hold interval [ts, ts + holdSeconds); overlapping intervals
    * merge; the output is the merged-island count and the exact covered
    * time per key — the dwell-time primitive session gap-cutting doesn't
    * answer (sessions split on gaps; coverage measures the union, so two
    * events 1s apart with a 30s hold count ~31s, not 2 sessions or 60s).
    *
    * Exactness: all arithmetic is integer epoch MICROS (`unix_micros` —
    * timezone-free, engine-exact). The merge is the textbook sweep: sort a
    * key's intervals by (start, end), an interval starts a new island iff
    * its start exceeds the running max end of everything before it; island
    * ids are the running sum of those flags. Tied (start, end) rows are
    * interchangeable, and the per-island aggregate (min start, max end) is
    * permutation-invariant, so the result is total-order deterministic.
    *
    * Plan shape: two windows and two aggregates, ALL on the same key-hash
    * partitioning (one shuffle): parallelism = |keys|, per-partition state
    * = one key's events — the [[transitionCounts]] scaling pattern. No
    * self-join (the naive overlap join is |events|² per key). */
  def intervalCoverage(events: DataFrame, keyCol: String, tsCol: String,
                       holdSeconds: Long): DataFrame = {
    require(holdSeconds >= 1, s"intervalCoverage: holdSeconds must be >= 1, "
      + s"got $holdSeconds")
    val w = Window.partitionBy("__k").orderBy("__s", "__e")
    events.select(col(keyCol).as("__k"),
        unix_micros(col(tsCol)).as("__s"),
        (unix_micros(col(tsCol)) + lit(holdSeconds * 1000000L)).as("__e"))
      .withColumn("__pm",
        max(col("__e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__ni",
        when(col("__pm").isNull || col("__s") > col("__pm"), 1L).otherwise(0L))
      .withColumn("__island",
        sum(col("__ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("__k"), col("__island"))
      .agg(count(lit(1)).as("__n"), (max("__e") - min("__s")).as("__cov"))
      .groupBy(col("__k").as(keyCol))
      .agg(sum("__n").cast(LongType).as("n_intervals"),
        count(lit(1)).cast(LongType).as("n_islands"),
        sum("__cov").cast(LongType).as("covered_micros"))
      .orderBy(keyCol)
  }

  /** Half-life-decayed value sums per key — recency-weighted activity
    * scoring (lead scoring, freshness-weighted corpus stats) with EXACT
    * cross-engine arithmetic: the classic per-day exponential decay uses
    * pow(λ, Δt) doubles whose accumulation order and pow ulps differ
    * between engines, so this uses the BUCKETED form — weight = 2^−b where
    * b = floor(age_days / halfLifeDays) — and computes Σ cents·2^(B−b) in
    * DECIMAL(38,0) (every weight is an exact power-of-two INTEGER after
    * the 2^B rescale; the sum is order-independent integer addition,
    * overflow is ANSI-loud), then divides once by 2^B: a correctly-rounded
    * decimal→double conversion and one exact power-of-two scaling.
    *
    * Events older than `maxBuckets` half-lives are DROPPED, not clamped:
    * their true decayed weight is < 2^−maxBuckets (≤ 1e−6 at the default
    * 20) and dropping approximates the ideal decay strictly better than a
    * floor weight — and keeps the rescaled weights in a bounded integer
    * domain. `n_events` counts the surviving (weighted) events.
    *
    * Plan: one column-pruned scan + a 1-row max-day aggregate broadcast
    * (the [[rollingActive]] pattern) + one hash aggregate per key. */
  def decayedSum(events: DataFrame, keyCol: String, tsCol: String,
                 cents: Column, halfLifeDays: Int,
                 maxBuckets: Int = 20): DataFrame = {
    require(halfLifeDays >= 1,
      s"decayedSum: halfLifeDays must be >= 1, got $halfLifeDays")
    require(maxBuckets >= 1 && maxBuckets <= 40,
      s"decayedSum: maxBuckets must be in [1, 40], got $maxBuckets")
    val e = events.select(col(keyCol).as("__k"),
      datediff(to_date(col(tsCol)), lit("1970-01-01")).cast(LongType)
        .as("__d"),
      cents.cast(LongType).as("__c"))
    val maxDay = e.agg(max("__d").as("__maxd"))
    e.crossJoin(broadcast(maxDay))
      // age is non-negative by construction, so `div` (truncating) and the
      // oracle's `//` (flooring) agree — the q_retention doctrine
      .withColumn("__b",
        expr(s"(__maxd - __d) div ${halfLifeDays.toLong}"))
      .filter(col("__b") <= maxBuckets.toLong)
      .withColumn("__w",
        expr(s"shiftleft(1L, cast($maxBuckets - __b as int))"))
      .groupBy(col("__k").as(keyCol))
      .agg(count(lit(1)).cast(LongType).as("n_events"),
        round(sum(col("__c").cast(DecimalType(38, 0)) * col("__w"))
          .cast(DoubleType) / math.pow(2.0, maxBuckets), 6)
          .as("decayed_cents"))
      .orderBy(keyCol)
  }

  /** Top event-type PATHS of length `len` (the [[transitionCounts]]
    * generalization): per-user ordered windows of `len` consecutive event
    * types, joined with '>' into one path string, counted corpus-wide —
    * "what do users actually do?" beyond single transitions. Ordering is
    * lexicographic (ts, tiebreak) like every event window here; ranking is
    * (count DESC, path ASC) — total and engine-portable.
    *
    * Plan: len−1 leads over ONE per-user window (one shuffle, state = one
    * user's events), one hash aggregate, one top-k sort of path-cardinality
    * rows (bounded by |types|^len, never |events|). */
  def pathCounts(events: DataFrame, userCol: String, tsCol: String,
                 typeCol: String, tiebreakCol: String, len: Int = 3,
                 topK: Int = 20): DataFrame = {
    require(len >= 2 && len <= 8, s"pathCounts: len must be in [2, 8], got $len")
    require(topK >= 1, s"pathCounts: topK must be >= 1, got $topK")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tiebreakCol))
    val steps = (0 until len).map {
      case 0 => col(typeCol)
      case i => lead(col(typeCol), i).over(w)
    }
    events.select(col(userCol), col(tsCol), col(tiebreakCol), col(typeCol))
      // null types would silently vanish inside concat_ws mid-path
      .filter(col(typeCol).isNotNull)
      .withColumn("__last", steps.last)
      .withColumn("__path", concat_ws(">", steps: _*))
      // a window shorter than len has a null FINAL lead (leads only grow
      // more null with distance) — drop it before counting
      .filter(col("__last").isNotNull)
      .groupBy(col("__path").as("path"))
      .agg(count(lit(1)).cast(LongType).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), asc("path"))
      .limit(topK)
  }

  /** EXACT trailing-window active-user counts (the DAU/WAU/MAU family):
    * per day, how many distinct users had at least one event in the last
    * `windowDays` days (inclusive of the day itself). A day with no
    * EVENTS still gets a row while any user remains window-active (users
    * from earlier days age out after w days); output is SPARSE — a day
    * where no user is window-active at all (possible only after an
    * event gap longer than `windowDays`) emits no row, the convention
    * of every sparse aggregate here (histogramEquiWidth precedent);
    * join a day spine downstream if dense zeros are needed.
    *
    * The naive plans both die at 100 TB: `count(DISTINCT user)` per day
    * over a w-day self-join re-shuffles the event log w times, and
    * exploding every (user, day) into its w covered days then
    * re-DISTINCTing pays a w× shuffle THEN a dedup. This is instead the
    * disjoint-interval formulation: from the distinct (user, day) pairs,
    * each pair covers days [day, min(day + w − 1, next_day − 1, max_day)]
    * — capped by the user's NEXT active day, so per user the covered
    * ranges are disjoint by construction and a plain `count(*)` per
    * covered day IS the exact distinct count. Total exploded mass =
    * Σ window-active user-days — the size of the answer's underlying set,
    * the information-theoretic floor, ≤ w × |distinct (user, day)|.
    *
    * Plan: one distinct over (user, day-number), one lead window on the
    * same user-hash partitioning, a `sequence` explode, one count
    * aggregate. Day numbers are integer days since 1970-01-01 (the
    * [[retentionCohorts]] convention — timezone-free, engine-exact);
    * `max_day` is a 1-row aggregate broadcast by the cross join. */
  def rollingActive(events: DataFrame, userCol: String, tsCol: String,
                    windowDays: Int): DataFrame = {
    require(windowDays >= 1,
      s"rollingActive: windowDays must be >= 1, got $windowDays")
    val ud = events.select(col(userCol).as("u"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast(LongType)
          .as("d"))
      .distinct()
    // max day from the RAW events (same value): one column-pruned agg scan
    // instead of re-running the corpus-sized distinct shuffle a second time
    val maxDay = events.agg(
      max(datediff(to_date(col(tsCol)), lit("1970-01-01")).cast(LongType))
        .as("__maxd"))
    val nextW = Window.partitionBy("u").orderBy("d")
    ud.withColumn("__nd", lead(col("d"), 1).over(nextW))
      .crossJoin(broadcast(maxDay))
      .withColumn("__end",
        least(col("d") + lit(windowDays.toLong - 1L),
          coalesce(col("__nd") - 1L, col("__maxd")), col("__maxd")))
      .select(explode(sequence(col("d"), col("__end"))).as("day"))
      .groupBy("day")
      .agg(count(lit(1)).cast(LongType).as("n_active"))
      .orderBy("day")
  }
}
