package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Error-contract (SURVEY §2.8) and summary-semantics (§2.6) suites. */
class ErrorsAndSummarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("empty frame construction is an error (cl-data-frame.lisp:317)") {
    intercept[EmptyFrameException](DF.fromColumns(spark, Nil))
  }

  test("duplicate key at construction (cl-data-frame.lisp:179-183)") {
    intercept[DuplicateKeyException](
      DF(spark, "a" -> Seq(1), "a" -> Seq(2)))
  }

  test("unequal column lengths at construction (cl-data-frame.lisp:438-445)") {
    intercept[ColumnLengthException](
      DF(spark, "a" -> Seq(1, 2), "b" -> Seq(1)))
  }

  test("mask length must equal row count (reference mask-rows semantics)") {
    val d = DF(spark, "a" -> Seq(1, 2, 3))
    intercept[ColumnLengthException](d.sliceFrame(Sel.Mask(Seq(true, false))))
    intercept[ColumnLengthException](
      d.sliceFrame(Sel.Mask(Seq(true, false, true, true))))
  }

  test("key-not-found carries the valid key set (cl-data-frame.lisp:185-192)") {
    val d = DF(spark, "a" -> Seq(1))
    val e = intercept[KeyNotFoundException](d.column("zz"))
    assert(e.keys == Seq("a"))
  }

  test("copy(keyFn) collision raises duplicate-key") {
    val d = DF(spark, "ab" -> Seq(1), "AB" -> Seq(2))
    intercept[DuplicateKeyException](d.copy(_.toLowerCase))
  }

  test("bit column summary: ones + total (cl-data-frame.lisp:31-38)") {
    val d = DF(spark, "flag" -> Seq(false, true, true, false))
    Summary.columnSummary(d.toSpark, "flag") match {
      case Summary.BitSummary(ones, total) =>
        assert(ones == 2 && total == 4)
      case other => fail(s"expected BitSummary, got $other")
    }
  }

  test("few distinct values → frequency table sorted desc (cl-data-frame.lisp:67-71, 84-90)") {
    val d = DF(spark, "x" -> Seq("a", "b", "a", "a", "c", "b"))
    Summary.columnSummary(d.toSpark, "x") match {
      case Summary.VectorSummary(total, None, freqs) =>
        assert(total == 6)
        assert(freqs == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
      case other => fail(s"expected frequency VectorSummary, got $other")
    }
  }

  test(">threshold distinct reals → quantiles, nulls kept as frequencies (cl-data-frame.lisp:72-87)") {
    val vals: Seq[Any] = (1 to 20).map(_.toDouble) :+ null
    val d = DF(spark, "x" -> vals)
    Summary.columnSummary(d.toSpark, "x") match {
      case Summary.VectorSummary(total, Some(q), freqs) =>
        assert(total == 21)
        assert(q.reals == 20)
        assert(q.min == 1.0 && q.max == 20.0)
        assert(q.q50 == 10.5)
        assert(freqs == Seq((null, 1L)))
      case other => fail(s"expected quantile VectorSummary, got $other")
    }
  }

  test("approx-quantile scale path tracks the exact summary") {
    val vals = (1 to 1000).map(_.toDouble)
    val d = DF(spark, "x" -> vals)
    def qs(exact: Boolean) =
      Summary.frameColumnSummaries(d.toSpark, exactQuantiles = exact)
        ._2.head._2.asInstanceOf[Summary.VectorSummary].quantiles.get
    val (e, a) = (qs(true), qs(false))
    assert(e.min == a.min && e.max == a.max)
    // KLL sketch with accuracy 10000 is exact at this cardinality
    assert(math.abs(e.q50 - a.q50) <= 1.0 && math.abs(e.q25 - a.q25) <= 1.0)
  }

  test("GK bound predicate accepts a sketch value at the integer ceil/floor boundary") {
    // n=9999, accuracy 10000 ⇒ ε=1e-4: for p=0.25, (p+ε)·N = 2500.7499 and
    // (p−ε)·N = 2498.75. A value occupying exactly rank 2501 = ⌈(p+ε)N⌉ is
    // boundary-legal under the documented GK contract, but the raw
    // (un-ceiled) comparison 2501 ≤ 2500.7499 would flag it — flipping
    // q_quantiles_approx to a false oracle mismatch. This pins the
    // ceil/floor slack in the shared predicate the plan uses.
    def eval(rankMin: Long, rankMax: Long, n: Long, p: Double): Boolean =
      spark.range(1)
        .select(Summary.gkRankOk(lit(rankMin), lit(rankMax), lit(n), p, 1e-4)
          .as("ok"))
        .head().getBoolean(0)
    assert(eval(2500, 2501, 9999, 0.25)) // exactly at the ceil edge: legal
    assert((2500L + 1) > (0.25 + 1e-4) * 9999) // …where the raw bound rejects
    assert(eval(2497, 2498, 9999, 0.25)) // exactly at the floor edge: legal
    assert(!eval(2502, 2503, 9999, 0.25)) // past the ceil edge: rejected
    assert(!eval(2496, 2497, 9999, 0.25)) // below the floor edge: rejected
  }

  test("histogramDrift clamps extremes to edge buckets pre-multiply; oversized span rejected") {
    import spark.implicits._
    // Long.MaxValue under the old post-multiply clamp overflowed
    // (x − lo) · buckets negative and landed in bucket 0 — it must land in
    // the TOP edge bucket, symmetrically with Long.MinValue in bucket 0
    val a = Seq(Long.MinValue, -5L, 0L, 100L, 4000L, Long.MaxValue).toDF("x")
    val b = Seq(0L).toDF("x")
    val byBucket = Summary.histogramDrift(a, b, "x", 0L, 4095L, 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBucket(0L) == 4L)  // MinValue, -5, 0, 100
    assert(byBucket(15L) == 2L) // 4000, MaxValue (clamped to hi)
    // a span whose product with buckets cannot stay in Long is loud
    val e = intercept[IllegalArgumentException](
      Summary.histogramDrift(a, b, "x", 0L, Long.MaxValue - 1, 16))
    assert(e.getMessage.contains("overflow"))
  }

  test("SPARK_GRAFT_BENCH_ONLY validation: unknown names fail fast") {
    Bench.validateBenchOnly(None, Set("q_a"))
    Bench.validateBenchOnly(Some(Set("q_a")), Set("q_a", "q_b"))
    val e = intercept[IllegalArgumentException](
      Bench.validateBenchOnly(Some(Set("q_a", "q_typo")), Set("q_a", "q_b")))
    assert(e.getMessage.contains("q_typo"))
  }

  test("SPARK_GRAFT_EXTRA_CONF: pairs parse once, a pair without '=' fails by name") {
    assert(ToolSession.parseExtraConf(None).isEmpty)
    assert(ToolSession.parseExtraConf(Some("a.b=1;c=x=y")) ==
      Seq("a.b" -> "1", "c" -> "x=y"))
    Seq("a.b=1;oops", "=1").foreach { spec =>
      val e = intercept[IllegalArgumentException](
        ToolSession.parseExtraConf(Some(spec)))
      assert(e.getMessage.contains("SPARK_GRAFT_EXTRA_CONF") &&
        e.getMessage.contains("malformed pair"), e.getMessage)
    }
  }

  test("frame summary switches raw↔summary at nrow 10 (cl-data-frame.lisp:463-476)") {
    val small = DF(spark, "x" -> Seq(1, 2, 3))
    assert(!Summary.frameSummary(small.toSpark).contains("%")) // raw rows
    val big = DF(spark, "x" -> (1 to 12).map(i => s"v${i % 2}"))
    assert(Summary.frameSummary(big.toSpark).contains("x:")) // summarized
  }

  test("frame summary of an N-column frame is one aggregate pass (≤2 AQE jobs)") {
    val d = DF(spark,
      "s" -> (1 to 30).map(i => s"v${i % 3}"),
      "x" -> (1 to 30).map(_.toDouble),
      "flag" -> (1 to 30).map(i => i % 2 == 0))
    val sdf = d.toSpark
    sdf.count() // materialize anything lazy before counting jobs
    spark.sparkContext.setJobGroup("summary-onepass", "job-count assertion")
    val txt =
      try Summary.frameSummary(sdf)
      finally spark.sparkContext.clearJobGroup()
    assert(txt.contains("s:") && txt.contains("x:") && txt.contains("flag:"))
    // status store is event-bus fed: poll briefly until it settles
    def jobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup("summary-onepass").length
    val deadline = System.currentTimeMillis() + 5000
    while (jobs == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(200) // absorb any trailing job-start events
    // one aggregate pass = at most 2 scheduler jobs under AQE (partial-agg
    // shuffle stage + final stage); the old per-column loop ran 2N
    assert(jobs <= 2, s"frame summary ran $jobs jobs, expected <= 2")
  }

  test("SURVEY §7.4.3 delta: exact rationals → DecimalType; heterogeneous t columns → StringType display forms") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}
    // the reference's RATIO column (cl-data-frame.lisp element-type t holds
    // exact rationals; ensure-not-ratio :54-58 floats them ONLY for
    // printing): the analogue stores the exact decimal, display casts down
    val third = BigDecimal(1) / 3
    val d = DF(spark, "r" -> Seq(third, BigDecimal(2) / 3))
    assert(d.toSpark.schema("r").dataType == DecimalType(38, 18))
    val stored = d.column("r").map(_.asInstanceOf[java.math.BigDecimal])
    assert(stored.head.toString == "0.333333333333333333") // exact, scale 18
    // ensure-not-ratio display semantics: floating the stored exact value
    // gives the float of the ratio, not a double computed upstream
    val floated = d.toSpark.select(col("r").cast(DoubleType)).collect()
      .map(_.getDouble(0))
    assert(math.abs(floated.head - 1.0 / 3.0) < 1e-15)
    // a genuinely heterogeneous column (reference: generic vector of t)
    // cannot round-trip VALUES through a uni-typed Spark column — the
    // documented fallback stores display forms as StringType
    val mixed = DF(spark, "m" -> Seq(1, "a", 2.5, null))
    assert(mixed.toSpark.schema("m").dataType == StringType)
    assert(mixed.column("m") == Vector("1", "a", "2.5", null))
    // same contract on the add-column ingestion path
    val added = DF(spark, "x" -> Seq(1, 2)).addColumn("m", Seq(7, "y"))
    assert(added.toSpark.schema("m").dataType == StringType)
    assert(added.column("m") == Vector("7", "y"))
  }

  test("copy: documented delta — reference key-fn deep-copies COLUMNS; ours renames keys") {
    // the reference's `copy` maps its key fn over the data vectors
    // (cl-data-frame.lisp:337-343) so destructive edits don't alias into
    // the copy; Spark frames are immutable, so that deep copy is a no-op
    // here and the aliasing contract holds with shared data. keyFn renaming
    // is a Spark-side extension, asserted as such:
    val d = DF(spark, "x" -> Seq(1, 2))
    val renamed = d.copy(_.toUpperCase)
    assert(renamed.keys == Vector("X"))
    assert(renamed.column("X") == d.column("x")) // data shared, not copied
    // the hazard the reference's deep copy defends against cannot occur:
    // a destructive edit through a handle never reaches the copy
    val h = new DFHandle(d)
    h.replaceColumnBang("x", Seq(10, 20))
    assert(renamed.column("X") == Vector(1, 2) && h.df.column("x") == Vector(10, 20))
  }

  test("sketchOracles refuses a full-corpus collect above DF.maxDriverRows") {
    // Verify-only tooling, but pointing it at a production sf must fail
    // loudly (bounded limit-probe), never OOM the driver
    val saved = DF.maxDriverRows
    try {
      DF.maxDriverRows = 100L // sf0.001 documents has 500 rows
      val e = intercept[DriverMaterializationException](
        SparkEntry.sketchOracles("/root/testdata/sf0.001"))
      assert(e.getMessage.contains("sketchOracles"))
    } finally DF.maxDriverRows = saved
    // and at the normal cap the recompute still produces the oracle set
    val m = SparkEntry.sketchOracles("/root/testdata/sf0.001")
    assert(m.contains("q_minhash_dedup") && m.contains("q_simhash_dedup"))
  }

  test("mixed NUMERIC columns widen within the numeric tower, never stringify") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, LongType}
    // the reference keeps element-type-t columns of numbers numeric (only
    // ratios are floated, and only for printing) — Seq(1, 2L) must be a
    // LongType column of 1L/2L, not a StringType column of "1"/"2"
    val il = DF(spark, "c" -> Seq(1, 2L, null))
    assert(il.toSpark.schema("c").dataType == LongType)
    assert(il.column("c") == Vector(1L, 2L, null))
    val ifl = DF(spark, "c" -> Seq(1, 2.5f))
    assert(ifl.toSpark.schema("c").dataType == FloatType)
    assert(ifl.column("c") == Vector(1.0f, 2.5f))
    val id = DF(spark, "c" -> Seq(1, 2.5))
    assert(id.toSpark.schema("c").dataType == DoubleType)
    assert(id.column("c") == Vector(1.0, 2.5))
    val lf = DF(spark, "c" -> Seq(3L, 0.5f, 2.25))
    assert(lf.toSpark.schema("c").dataType == DoubleType)
    assert(lf.column("c") == Vector(3.0, 0.5, 2.25))
    // BigDecimal contagion: any exact-rational member widens the whole
    // column to DecimalType (the RATIO analogue), keeping values exact
    val dec = DF(spark, "c" -> Seq(1, BigDecimal(1) / 4))
    assert(dec.toSpark.schema("c").dataType == DecimalType(38, 18))
    assert(dec.column("c").map(_.asInstanceOf[java.math.BigDecimal].doubleValue)
      == Vector(1.0, 0.25))
    // downstream arithmetic works — the advisor's regression case
    val s = il.toSpark.agg(org.apache.spark.sql.functions.sum("c"))
      .collect()(0).getLong(0)
    assert(s == 3L)
  }

  test("driver-materializing parity forms refuse above the row cap; override allows") {
    val d = DF(spark, "x" -> (1 to 10), "y" -> (1 to 10).map(_.toString))
    val saved = DF.maxDriverRows
    try {
      DF.maxDriverRows = 5L // frame has 10 rows — every guarded form refuses
      def refusal(f: => Any): String = {
        val e = intercept[DriverMaterializationException](f)
        // the message must NAME the distributed alternative — the guard's
        // job is to redirect, not just to block
        assert(e.getMessage.contains("at scale") || e.getMessage.contains("use"))
        e.getMessage
      }
      assert(refusal(d.column("x")).contains("column"))
      assert(refusal(d.mapRows(Seq("x"))(_.head)).contains("mapDFRows"))
      assert(refusal(d.mapRowsCol(col("x") + 1)).contains("mapDF"))
      assert(refusal(d.maskRows(Seq("x"))(_ => true)).contains("Sel.Pred"))
      assert(refusal(d.asAlist).contains("toSpark"))
      assert(refusal(d.toMatrix).contains("toSpark"))
      // the distributed spellings ignore the cap entirely
      assert(d.filter(col("x") > 5).nrow == 5L)
      assert(d.mapDF("x2" -> (col("x") * 2)).keys == Vector("x2"))
      // explicit override: raising the cap re-enables the parity forms
      DF.maxDriverRows = saved
      assert(d.column("x") == Vector(1, 2, 3, 4, 5, 6, 7, 8, 9, 10))
      assert(d.asAlist.head._2.length == 10)
    } finally DF.maxDriverRows = saved
  }
}
