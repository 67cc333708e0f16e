package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Profiling
import graft.sources.Sources

class ProfilingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("profileTable: null and distinct counts per column, one row each") {
    val df = Seq(
      (Some(1L), Some("a")),
      (Some(1L), None),
      (Some(2L), Some("b")),
      (None, Some("b"))
    ).toDF("id", "s")
    val prof = Profiling.profileTable(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(prof("id") == ((4L, 1L, 2L)))  // 4 rows, 1 null, distinct {1,2}
    assert(prof("s") == ((4L, 1L, 2L)))   // distinct {a,b}
    assert(prof.keySet == Set("id", "s"))
  }

  test("profileTable: approx mode agrees on small cardinalities") {
    val df = (1 to 100).map(i => (i.toLong % 5, s"v${i % 7}")).toDF("k", "v")
    val prof = Profiling.profileTable(df, exact = false).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    // HLL is exact at these cardinalities
    assert(prof("k") == 5L && prof("v") == 7L)
  }

  test("profileTable: rejects quoted column names loudly") {
    val df = Seq(1).toDF("ok").withColumnRenamed("ok", "bad'name")
    val e = intercept[IllegalArgumentException](Profiling.profileTable(df))
    assert(e.getMessage.contains("quote"))
  }

  test("skewReport: hand-computed distribution scalars") {
    // keys: a×6, b×2, c×1, d×1  → n_keys=4, n_rows=10, max=6
    // sorted cnts (1,1,2,6): p50 = (1+2)/2 = 1.5; avg = 2.5; skew = 6/2.5
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d")).toDF("k")
    val r = Profiling.skewReport(df, "k").collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 10L && r.getLong(2) == 6L)
    assert(r.getDouble(3) == 1.5 && r.getDouble(4) == 2.5)
    assert(r.getDouble(5) == 2.4)
  }

  test("outlierMad: planted outliers counted, clean group zero") {
    // group g: tight cluster 100±2 plus two wild points; median=100.5,
    // absdevs (.5,.5,.5,1.5,1.5,2.5,899.5,9899.5) → MAD=1.5 → >4.5 flags 2
    val g = Seq(98L, 99L, 100L, 100L, 101L, 102L, 1000L, 10000L).map(("g", _))
    // group h: all identical → MAD 0, strict > keeps outliers at 0
    val h = Seq.fill(5)(("h", 50L))
    val df = (g ++ h).toDF("grp", "x")
    val out = Profiling.outlierMad(df, "grp", col("x"), k = 3.0).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(out("g")._1 == 8L)
    assert(out("g")._2 == 100.5)  // median of 8 values interpolates to .5
    assert(out("g")._3 == 1.5)
    assert(out("g")._4 == 2L)
    assert(out("h") == ((5L, 50.0, 0.0, 0L)))
  }

  test("corrMatrix: perfect, inverted, and degenerate relationships") {
    val df = Seq((1L, 2L, -1L, 7L), (2L, 4L, -2L, 7L), (3L, 6L, -3L, 7L))
      .toDF("a", "b", "c", "k")
    val got = Profiling.corrMatrix(df, Seq(
      "a" -> col("a"), "b" -> col("b"), "c" -> col("c"), "k" -> col("k")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(got(("a", "b")).contains(1.0))   // b = 2a
    assert(got(("a", "c")).contains(-1.0))  // c = -a
    assert(got(("b", "c")).contains(-1.0))
    assert(got(("a", "k")).isEmpty)         // constant column → NULL
    assert(got.size == 6)
  }

  test("corrMatrix: partial NULLs fail loudly instead of skewing the corr") {
    // sum()/count(col) skip NULLs — without the count(col) vs count(*)
    // guard, the NULL row would silently drop out of the correlation
    val df = Seq((Some(1L), Some(2L)), (Some(2L), None), (Some(3L), Some(6L)))
      .toDF("x", "y")
    val e = intercept[Exception] {
      Profiling.corrMatrix(df, Seq("x" -> col("x"), "y" -> col("y")))
        .collect()
    }
    assert(e.getMessage.contains("NULL value(s)"))
    assert(e.getMessage.contains("y"))
  }

  test("corrMatrix agrees with the closed form on a non-trivial pair") {
    // x = (1,2,3,4), y = (1,3,2,5): n=4, Sx=10, Sy=11, Sxy=33, Sxx=30,
    // Syy=39 → num = 132-110 = 22, denx = 120-100 = 20, deny = 156-121=35
    val df = Seq((1L, 1L), (2L, 3L), (3L, 2L), (4L, 5L)).toDF("x", "y")
    val expected = BigDecimal(22.0 / math.sqrt(20.0) / math.sqrt(35.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Profiling.corrMatrix(df, Seq("x" -> col("x"), "y" -> col("y")))
      .collect().head.getDouble(2)
    assert(got == expected)
  }

  test("quantileBins: quartile boundaries, upper-bin ties, per-bin stats") {
    // v = 1..8: quartiles at p(0.25)=2.75, p(0.5)=4.5, p(0.75)=6.25
    // bins: {1,2}→0, {3,4}→1, {5,6}→2, {7,8}→3
    val df = (1L to 8L).toDF("v")
    val got = Profiling.quantileBins(df, col("v")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      0L -> ((2L, 1L, 2L, 3L)), 1L -> ((2L, 3L, 4L, 7L)),
      2L -> ((2L, 5L, 6L, 11L)), 3L -> ((2L, 7L, 8L, 15L))))
    // a value EQUAL to a boundary goes up: v = (1,2,3,3) → p50 = 2.5,
    // median boundary only; prob grid {0.5}: 3 >= 2.5 → bin 1
    val tied = Profiling.quantileBins(Seq(1L, 2L, 3L, 3L).toDF("v"),
      col("v"), probs = Seq(0.5)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tied == Map(0L -> 2L, 1L -> 2L))
  }

  test("quantileBins: rejects non-quarter-grid probs") {
    val e = intercept[IllegalArgumentException](
      Profiling.quantileBins(Seq(1L).toDF("v"), col("v"), probs = Seq(0.9)))
    assert(e.getMessage.contains("quarter-grid"))
  }

  test("corpusLexicalStats: entropy of a uniform vs degenerate corpus") {
    import graft.operators.TextAnalysis
    // 4 equally-frequent tokens → H = 2 bits exactly; TTR = 4/8
    val uniform = Seq("a b c d", "a b c d").toDF("text")
    val u = TextAnalysis.corpusLexicalStats(uniform, "text").collect().head
    assert(u.getLong(0) == 4L && u.getLong(1) == 8L)
    assert(u.getDouble(2) == 2.0 && u.getDouble(3) == 0.5)
    // single repeated token → entropy 0
    val degen = Seq("x x x x").toDF("text")
    val d = TextAnalysis.corpusLexicalStats(degen, "text").collect().head
    assert(d.getDouble(2) == 0.0)
  }

  test("psiDrift: zero on identical corpora, ln(3) on total displacement, finite on empty side") {
    val ref = (1L to 8L).toDF("v")
    val same = Profiling.psiDrift(ref, (1L to 8L).toDF("v"), col("v"))
      .collect().head
    assert(same.getLong(0) == 4L && same.getLong(1) == 8L &&
      same.getLong(2) == 8L)
    assert(same.getDouble(3) == 0.0) // equal counts → p = q exactly
    // every current row lands in the top bin: psi = ln 3 (hand-derived
    // with add-one smoothing: 3·(1/6)ln 3 + (−1/2)·ln(1/3))
    val shifted = Profiling.psiDrift(ref, Seq.fill(8)(100L).toDF("v"),
      col("v")).collect().head
    assert(shifted.getDouble(3) == 1.098612)
    // empty current side: smoothing keeps every term finite
    val empty = Profiling.psiDrift(ref,
      Seq.empty[Long].toDF("v"), col("v")).collect().head
    assert(empty.getLong(2) == 0L && !empty.getDouble(3).isNaN)
  }

  test("groupSampleK equals the naive full-window top-k for k across the boundary cases") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Sampling
    val df = (1L to 500L).map(i => (s"s${i % 3}", i)).toDF("lang", "id")
    val naiveAll = df
      .withColumn("h", md5(to_binary(col("id").cast("string"), lit("utf-8"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("h"), col("id"))))
    for (k <- Seq(1, 7, 166, 200)) { // 200 > every stratum (167) → keep-all
      val got = Sampling.groupSampleK(df, "lang", col("id"), k)
        .select("lang", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val naive = naiveAll.filter(col("rn") <= k).select("lang", "id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == naive, s"k=$k")
      if (k == 200) assert(got.size == 500)
    }
  }

  test("weightedSampleK matches a plain-Scala A-ES reference and ignores non-positive weights") {
    import graft.operators.Sampling
    val rows = (1L to 300L).map(i => (i, if (i % 50 == 0) 0L else 1L + i % 9))
    val df = rows.toDF("id", "w").repartition(7) // layout-independence too
    val got = Sampling.weightedSampleK(df, col("id"), col("w"), 25)
      .select("id", "score_nanos").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def score(id: Long, w: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val u = (java.lang.Long.parseLong(hex.take(13), 16) + 1.0) /
        9007199254740992.0
      math.round(-math.log(u) / w * 1e9)
    }
    val expected = rows.filter(_._2 > 0)
      .map { case (id, w) => (id, score(id, w)) }
      .sortBy { case (id, s) => (s, id) }.take(25)
    assert(got.sortBy { case (id, s) => (s, id) }.toSeq == expected)
    assert(!got.exists { case (id, _) => id % 50 == 0 }) // zero weights out
  }

  test("mergeSnapshot: upsert replaces, upsert inserts, delete retires, absent-key delete is a no-op") {
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("k", "v")
    val delta = Seq(
      (2L, "TWO", "upsert"),   // replace
      (9L, "nine", "upsert"),  // insert
      (3L, null, "delete"),    // retire
      (7L, null, "delete")     // absent key — no-op
    ).toDF("k", "v", "op")
    val got = Sources.mergeSnapshot(base, delta, "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "one", 2L -> "TWO", 9L -> "nine"))
  }

  test("mergeSnapshot: unknown op value fails loudly instead of dropping rows") {
    val base = Seq((1L, "one")).toDF("k", "v")
    val delta = Seq((1L, "x", "update")).toDF("k", "v", "op")
    // the guard is IN-PLAN (raise_error riding the delta key projection —
    // zero eager driver actions per merge), so it fires at action time
    val e = intercept[Exception](
      Sources.mergeSnapshot(base, delta, "k").collect())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e).contains("update"))
  }

  test("mergeIntoStore: bucketed round trip, second merge composes") {
    val t = "graft_merge_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      Sources.writeBucketed(
        Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), t, "k", 4)
      Sources.mergeIntoStore(spark, t,
        Seq((2L, 21L, "upsert"), (3L, 0L, "delete")).toDF("k", "v", "op"),
        "k")
      assert(spark.table(t).collect().map(r => r.getLong(0) -> r.getLong(1))
        .toMap == Map(1L -> 10L, 2L -> 21L))
      // the swapped-in table must still be a usable merge target
      Sources.mergeIntoStore(spark, t,
        Seq((4L, 40L, "upsert")).toDF("k", "v", "op"), "k")
      assert(spark.table(t).count() == 3)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("mergeSnapshot on co-bucketed stores: anti-join shuffles neither side") {
    val base = "graft_merge_cob_base"
    val dtab = "graft_merge_cob_delta"
    spark.sql(s"DROP TABLE IF EXISTS $base")
    spark.sql(s"DROP TABLE IF EXISTS $dtab")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      Sources.writeBucketed(
        (1L to 100L).map(i => (i, i * 10)).toDF("k", "v"), base, "k", 4)
      Sources.writeBucketed(
        Seq((5L, 0L, "delete"), (200L, 1L, "upsert")).toDF("k", "v", "op"),
        dtab, "k", 4)
      val merged = Sources.mergeSnapshot(
        spark.table(base), spark.table(dtab), "k")
      assert(merged.count() == 100) // 100 − 1 delete + 1 insert
      val plan = merged.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed merge should not shuffle either join side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $base")
      spark.sql(s"DROP TABLE IF EXISTS $dtab")
    }
  }

  test("rocAuc: perfect separation is 1.0, reversed is 0.0, ties average") {
    val perfect = Seq((1L, false), (2L, false), (3L, true), (4L, true))
      .toDF("sc", "pos")
    val r = Profiling.rocAuc(perfect, col("sc"), col("pos")).collect().head
    assert(r.getDouble(0) == 1.0 && r.getLong(1) == 2L && r.getLong(2) == 2L)
    val reversed = Profiling.rocAuc(perfect, -col("sc"), col("pos"))
      .collect().head
    assert(reversed.getDouble(0) == 0.0)
    // all rows tied → AUC exactly 0.5 regardless of labels
    val tied = Seq((7L, true), (7L, false), (7L, true), (7L, false))
      .toDF("sc", "pos")
    assert(Profiling.rocAuc(tied, col("sc"), col("pos"))
      .collect().head.getDouble(0) == 0.5)
  }

  test("rocAuc ≡ brute-force pairwise P(score⁺>score⁻) + ½P(tie)") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(300)((rnd.nextInt(20).toLong, rnd.nextBoolean()))
    val got = Profiling.rocAuc(rows.toDF("sc", "pos"), col("sc"), col("pos"))
      .collect().head.getDouble(0)
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val want = pos.map(p => neg.map(n =>
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum).sum /
      (pos.size.toDouble * neg.size)
    assert(math.abs(got - want) < 1e-6)
  }

  test("rocAuc: degenerate single-class label raises in-plan") {
    val df = Seq((1L, true), (2L, true)).toDF("sc", "pos")
    val e = intercept[Exception](
      Profiling.rocAuc(df, col("sc"), col("pos")).collect())
    assert(e.getMessage.contains("degenerate"))
  }

  test("chiSquare: exact independence gives 0; 2x2 matches hand value") {
    // perfectly independent 2x2: counts proportional to margins
    val ind = (Seq.fill(40)(("x", "u")) ++ Seq.fill(10)(("x", "v")) ++
      Seq.fill(40)(("y", "u")) ++ Seq.fill(10)(("y", "v"))).toDF("a", "b")
    val r0 = Profiling.chiSquare(ind, col("a"), col("b")).collect().head
    assert(r0.getDouble(0) == 0.0 && r0.getLong(1) == 1L &&
      r0.getLong(2) == 100L)
    // classic hand-checkable 2x2: (10,20 / 30,5) n=65
    val dep = (Seq.fill(10)(("x", "u")) ++ Seq.fill(20)(("x", "v")) ++
      Seq.fill(30)(("y", "u")) ++ Seq.fill(5)(("y", "v"))).toDF("a", "b")
    val chi = Profiling.chiSquare(dep, col("a"), col("b"))
      .collect().head.getDouble(0)
    // χ² = n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) for 2x2
    val want = 65.0 * math.pow(10.0 * 5 - 20.0 * 30, 2) /
      (30.0 * 35 * 40 * 25)
    assert(math.abs(chi - want) < 1e-5)
  }

  test("winsorizedAgg: type-1 cuts, clamped sums, outlier tamed, param guard") {
    // group "a": 1..10 plus a corrupt 10_000; at (0.1, 0.9) the cuts are
    // the ceil(0.1*11)=2nd (=2) and ceil(0.9*11)=10th (=10) order stats
    val vals = (1L to 10L) :+ 10000L
    val df = vals.map(("a", _)).toDF("g", "v")
    val r = Profiling.winsorizedAgg(df, "g", col("v"), 0.1, 0.9)
      .collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (("a", 11L, 2L, 10L)))
    // clamped: 1→2, 2..10 unchanged, 10000→10 ⇒ sum = 2+2+3+...+10+10 = 66
    assert(r.getLong(4) == 66L)
    assert(r.getDouble(5) == math.rint(66.0 / 11 * 1e6) / 1e6)
    // pLo = 0: the lower cut index clamps to 1 (the minimum) — no lower clamp
    val r0 = Profiling.winsorizedAgg(df, "g", col("v"), 0.0, 0.9)
      .collect().head
    assert(r0.getLong(2) == 1L && r0.getLong(4) == 65L)
    val e = intercept[IllegalArgumentException](
      Profiling.winsorizedAgg(df, "g", col("v"), 0.9, 0.1))
    assert(e.getMessage.contains("pLo"))
  }

  test("trendFit: exact line recovered, hand OLS value, degenerate groups") {
    // group "exact": y = 3x + 7 exactly → slope 3, intercept 7, r2 = 1
    // group "hand": (0,0),(1,2),(2,3) → slope 1.5, intercept 1/6, r2 = 27/28
    // group "flatx": constant x → slope/intercept/r2 NULL
    // group "flaty": constant y, varying x → slope 0, intercept y, r2 NULL
    val rows =
      Seq((0L, 7L), (1L, 10L), (2L, 13L), (5L, 22L)).map(p => ("exact", p)) ++
      Seq((0L, 0L), (1L, 2L), (2L, 3L)).map(p => ("hand", p)) ++
      Seq((4L, 1L), (4L, 9L)).map(p => ("flatx", p)) ++
      Seq((1L, 5L), (2L, 5L), (9L, 5L)).map(p => ("flaty", p))
    val df = rows.map { case (k, (x, y)) => (k, x, y) }.toDF("k", "x", "y")
    val got = Profiling.trendFit(df, "k", col("x"), col("y")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(got("exact") == ((4L, Some(3.0), Some(7.0), Some(1.0))))
    val (n, sl, ic, r2) = got("hand")
    assert(n == 3L && sl.contains(1.5))
    assert(ic.contains(math.rint(1.0 / 6.0 * 1e6) / 1e6) ||
      ic.contains(0.166667))
    assert(r2.contains(math.rint(27.0 / 28.0 * 1e6) / 1e6) ||
      r2.contains(0.964286))
    assert(got("flatx") == ((2L, None, None, None)))
    assert(got("flaty") == ((3L, Some(0.0), Some(5.0), None)))
  }

  test("profileTableApproxChecked: contract flag true, exact null/row counts") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), None),
      (Some(2L), Some("b")), (None, Some("b")))
      .toDF("id", "s")
    val got = Profiling.profileTableApproxChecked(df).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // small cardinalities: HLL is exact, the +2 absolute slack guarantees
    // the contract flag — and null/row counts are the exact-mode numbers
    assert(got == Map("id" -> ((4L, 1L, true)), "s" -> ((4L, 1L, true))))
  }

  test("profileTableApproxAgainst: production plan (no Expand), hoisted contract") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), None),
      (Some(2L), Some("b")), (None, Some("b")))
      .toDF("id", "s")
    val artifact = Map("id" -> 2L, "s" -> 2L) // the exact distinct counts
    val frame = Profiling.profileTableApproxAgainst(df, artifact)
    // THE point of the operator: the timed/production plan must contain no
    // Expand (the exact-mode k× replication) and no exact distinct agg —
    // only the one-pass HLL partials
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand") && plan.contains("approx_count_distinct"),
      s"production profile plan regressed to exact shape:\n$plan")
    val got = frame.collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got == Map("id" -> ((4L, 1L, true)), "s" -> ((4L, 1L, true))))
    // a sketch outside the band flips the flag (plant a wrong "exact"
    // artifact far from the true cardinality)
    val bad = Profiling.profileTableApproxAgainst(df,
        Map("id" -> 1000L, "s" -> 2L)).collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(bad == Map("id" -> false, "s" -> true))
    // an artifact missing a column fails loudly (silently vacuous contract)
    val e = intercept[IllegalArgumentException](
      Profiling.profileTableApproxAgainst(df, Map("id" -> 2L)))
    assert(e.getMessage.contains("missing columns") &&
      e.getMessage.contains("s"))
  }

  test("quantileCalibrate: identity on itself, hand mapping, duplicate ref values") {
    // identity: one group calibrated against itself returns each value
    // (rank k maps to the k-th smallest = the value itself, distinct vals)
    val self = (1L to 7L).map(v => (v, "g", v * 10)).toDF("id", "g", "v")
    val idGot = Profiling.quantileCalibrate(self, "g", "id", col("v"),
        self, col("v")).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(idGot.forall { case (v, c) => v == c })
    // hand mapping: ref = 1..10; group "a" has 2 rows → k = 5 and 10;
    // group "b" has 4 rows → k = ceil(10/4, 20/4, 30/4, 40/4) = 3,5,8,10
    val ref = (1L to 10L).map(v => (v, "r", v)).toDF("id", "g", "v")
    val cur = Seq((1L, "a", 100L), (2L, "a", 200L),
      (3L, "b", 5L), (4L, "b", 6L), (5L, "b", 7L), (6L, "b", 8L))
      .toDF("id", "g", "v")
    val got = Profiling.quantileCalibrate(cur, "g", "id", col("v"),
        ref, col("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 5L, 2L -> 10L, 3L -> 3L, 4L -> 5L,
      5L -> 8L, 6L -> 10L))
    // duplicate ref values: ref {1,2,2,9} — ranks 2 AND 3 both map to 2
    val dupRef = Seq(1L, 2L, 2L, 9L).map(v => (v, "r", v)).toDF("id", "g", "v")
    val cur4 = (1L to 4L).map(i => (i, "x", i * 100)).toDF("id", "g", "v")
    val g2 = Profiling.quantileCalibrate(cur4, "g",
        "id", col("v"), dupRef, col("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(g2 == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 9L))
  }

  test("agreementKappa: hand value, perfect/chance/degenerate cases") {
    // classic 2x2: raters agree on 20 'p' + 15 'n', disagree on 15
    //   po = 35/50; pe = (25·30 + 25·20)/2500 = 0.5; κ = 0.4
    val df = (Seq.fill(20)(("p", "p")) ++ Seq.fill(15)(("n", "n")) ++
      Seq.fill(5)(("p", "n")) ++ Seq.fill(10)(("n", "p"))).toDF("a", "b")
    val r = Profiling.agreementKappa(df, col("a"), col("b")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4)) == ((50L, 35L, 0.7, 0.5, 0.4)))
    // perfect agreement with >1 class: κ = 1
    val perf = Seq(("x", "x"), ("y", "y"), ("x", "x")).toDF("a", "b")
    assert(Profiling.agreementKappa(perf, col("a"), col("b"))
      .collect().head.getDouble(4) == 1.0)
    // both constant and equal: pe = 1 → κ undefined (NULL)
    val const = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    assert(Profiling.agreementKappa(const, col("a"), col("b"))
      .collect().head.isNullAt(4))
    // independent margins at exact chance level: κ = 0
    val chance = (Seq.fill(9)(("x", "u")) ++ Seq.fill(9)(("x", "x")) ++
      Seq.fill(1)(("u", "u")) ++ Seq.fill(1)(("u", "x"))).toDF("a", "b")
    assert(Profiling.agreementKappa(chance, col("a"), col("b"))
      .collect().head.getDouble(4) == 0.0)
    // null labels are a category: a null-null pair counts as agreement
    val withNull = Seq((Some("x"), Some("x")),
      (Option.empty[String], Option.empty[String]),
      (Some("x"), Option.empty[String])).toDF("a", "b")
    val rn = Profiling.agreementKappa(withNull, col("a"), col("b"))
      .collect().head
    assert(rn.getLong(1) == 2L)
  }

  test("histogramEquiWidth: counts conserve, boundaries exact, k=1 lumps") {
    val df = (0L to 99L).toDF("v")
    val h = Profiling.histogramEquiWidth(df, col("v"), k = 10).collect()
    assert(h.length == 10 && h.map(_.getLong(1)).sum == 100L)
    // bucket i spans exactly [10i, 10i+9] on this uniform input
    h.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i.toLong && r.getLong(2) == 10L * i &&
        r.getLong(3) == 10L * i + 9)
    }
    val one = Profiling.histogramEquiWidth(df, col("v"), k = 1).collect()
    assert(one.length == 1 && one.head.getLong(1) == 100L)
    // max value lands in the LAST bucket, never k
    val two = Profiling.histogramEquiWidth(Seq(0L, 10L).toDF("v"),
      col("v"), k = 2).collect()
    assert(two.map(_.getLong(0)).toSet == Set(0L, 1L))
  }

  test("approx twins track the exact forms and pass their GK contracts") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cents = expr("cast(round(l_extendedprice * 100) as bigint)")
    // quantile bins: totals conserved, per-bin counts inside the rank bound
    val ex = Profiling.quantileBins(li, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ap = Profiling.quantileBinsApprox(li, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = ex.values.sum
    assert(ap.values.sum == n, s"approx bins dropped rows: $ap vs $ex")
    // each bin count is a difference of two boundary ranks, each within
    // ±n/accuracy of its exact quartile rank (+1 interpolation-vs-observed
    // slack per side)
    val tol = math.max(2L, 2L * (n / 10000L) + 2L)
    (0L to 3L).foreach { b =>
      assert(math.abs(ap.getOrElse(b, 0L) - ex.getOrElse(b, 0L)) <= tol,
        s"bin $b: approx ${ap.get(b)} vs exact ${ex.get(b)} (tol $tol)") }
    val qc = Profiling.quantileBinsApproxChecked(li, cents).collect().head
    assert(qc.getLong(0) == n)
    assert(qc.getBoolean(4) && qc.getBoolean(5) && qc.getBoolean(6),
      s"quantileBins GK contract violated: $qc")
    // winsorized: same groups/counts, means within 1% of the exact cuts'
    val we = Profiling.winsorizedAgg(li, "l_returnflag", cents).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(5)))).toMap
    val wa = Profiling.winsorizedAggApprox(li, "l_returnflag", cents)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(5)))).toMap
    assert(we.keySet == wa.keySet)
    we.foreach { case (g, (ng, me)) =>
      val (na, ma) = wa(g)
      assert(na == ng, s"group $g row count diverged")
      assert(math.abs(ma - me) / math.max(1.0, math.abs(me)) < 0.01,
        s"group $g win_mean: approx $ma vs exact $me") }
    val wc = Profiling.winsorizedAggApproxChecked(li, "l_returnflag", cents)
      .collect()
    assert(wc.nonEmpty && wc.forall(r => r.getBoolean(2) && r.getBoolean(3)),
      s"winsorized GK contract violated: ${wc.toSeq}")
    val gm = Profiling.groupedMedianApproxChecked(li, "l_returnflag", cents)
      .collect()
    assert(gm.nonEmpty && gm.forall(_.getBoolean(2)),
      s"grouped-median GK contract violated: ${gm.toSeq}")
  }

  test("psiDriftApprox tracks exact PSI; checked form passes its contract") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("source") === "src0")
    val cur = docs.filter(col("source") =!= "src0")
    val pe = Profiling.psiDrift(ref, cur, col("n_chars")).collect().head
    val pa = Profiling.psiDriftApprox(ref, cur, col("n_chars")).collect().head
    assert(pa.getLong(1) == pe.getLong(1) && pa.getLong(2) == pe.getLong(2))
    assert(math.abs(pa.getDouble(3) - pe.getDouble(3)) <= 0.02,
      s"approx PSI ${pa.getDouble(3)} strayed from exact ${pe.getDouble(3)}")
    val ck = Profiling.psiDriftApproxChecked(ref, cur, col("n_chars"))
      .collect().head
    assert(ck.getBoolean(2) && ck.getBoolean(3) && ck.getBoolean(4),
      s"psi GK contract violated: $ck")
  }

  test("rankRbo: identical → 1, disjoint → 0, hand-computed swap case") {
    import graft.operators.Profiling
    def ranks(rows: (String, String, Int)*) =
      rows.toSeq.toDF("q", "item", "rnk")
    // identical top-3 rankings score exactly 1 after normalization
    val same = ranks(("g", "a", 1), ("g", "b", 2), ("g", "c", 3))
    val r1 = Profiling.rankRbo(same, same, "q", "item", "rnk", 3, 0.9).head()
    assert(r1.getLong(1) == 3L && r1.getDouble(2) == 1.0, r1)
    // disjoint items: group keeps its row at 0 (left join from a's groups)
    val a0 = ranks(("g", "a", 1)); val b0 = ranks(("g", "z", 1))
    val r0 = Profiling.rankRbo(a0, b0, "q", "item", "rnk", 3, 0.9).head()
    assert(r0.getLong(1) == 0L && r0.getDouble(2) == 0.0, r0)
    // k=2, p=0.5, A=[x,y] vs B=[y,x]: A_1=0, A_2=1 → RBO=(1-p)·p=0.25,
    // normalized by (1-p²)=0.75 → 1/3
    val ax = ranks(("g", "x", 1), ("g", "y", 2))
    val bx = ranks(("g", "y", 1), ("g", "x", 2))
    val r2 = Profiling.rankRbo(ax, bx, "q", "item", "rnk", 2, 0.5).head()
    assert(r2.getLong(1) == 2L && math.abs(r2.getDouble(2) - 1.0 / 3) < 1e-6, r2)
    // an item beyond b's top-k contributes nothing
    val bFar = ranks(("g", "x", 1), ("g", "y", 5))
    val r3 = Profiling.rankRbo(ax, bFar, "q", "item", "rnk", 2, 0.5).head()
    assert(r3.getLong(1) == 1L, r3)
    // weight identity: Σ_m W(m) · scale = 1 (the normalization argument)
    val w = Profiling.rboWeightsNanos(10, 0.9)
    val total = w.sum / 1e9 * Profiling.rboScale(10, 0.9)
    assert(math.abs(total - 1.0) < 1e-7, total)
  }

  test("ndcgAtK: perfect → 1, hand-computed swap, all-zero → NULL, beyond-k ignored") {
    import graft.operators.Profiling
    def f(rows: (String, String, Int, Int)*) =
      rows.toSeq.toDF("q", "item", "rnk", "rel")
    // relevance already sorted by the ranking: perfect, exactly 1
    val perfect = f(("g", "a", 1, 3), ("g", "b", 2, 2), ("g", "c", 3, 0))
    assert(Profiling.ndcgAtK(perfect, "q", "item", "rnk", "rel", 10)
      .head().getDouble(1) == 1.0)
    // the relevant item demoted to rank 2: nDCG = d2/d1 = 1/log2(3)
    val swap = f(("g", "a", 1, 0), ("g", "b", 2, 1))
    val got = Profiling.ndcgAtK(swap, "q", "item", "rnk", "rel", 10)
      .head().getDouble(1)
    assert(math.abs(got - 0.630930) < 1e-6, got)
    // all-zero relevance: IDCG = 0 → undefined, NULL
    val zero = f(("g", "a", 1, 0), ("g", "b", 2, 0))
    assert(Profiling.ndcgAtK(zero, "q", "item", "rnk", "rel", 10)
      .head().isNullAt(1))
    // standard @k semantics: an item beyond the display cut still enters
    // the IDEAL top-k — at k=1 the missed rel-3 item caps the score at
    // gain 1·d1 / gain 7·d1
    val far = f(("g", "a", 1, 1), ("g", "b", 2, 3))
    assert(Profiling.ndcgAtK(far, "q", "item", "rnk", "rel", 1)
      .head().getDouble(1) == 0.142857)
  }

  test("frequency (CMS) sketch store: accretion ≡ one-shot, replay no-op, eps refusal, contract") {
    import graft.operators.Profiling
    import org.apache.spark.sql.functions.col
    val b1 = (1 to 400).map(i => (s"v${i % 37}")).toDF("v")
    val b2 = (1 to 400).map(i => (s"v${i % 23}")).toDF("v")
    val store = "graft_freq_store_spec"
    val oneShot = "graft_freq_store_spec_oneshot"
    Seq(store, oneShot).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Profiling.writeFrequencyStore(b1, col("v"), store, eps = 0.01)
    Profiling.appendFrequencySketch(spark, store, b2, col("v"),
      eps = 0.01, confidence = 0.99, seed = 42, batchTag = 1L)
    val cands = (0 until 37).map(i => s"v$i").toDF("item")
    def est(table: String) =
      Profiling.frequencyEstimates(spark, table, cands, "item")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val accreted = est(store)
    // CMS merge is cell-wise exact: accreted ≡ one sketch over both batches
    Profiling.writeFrequencyStore(b1.union(b2), col("v"), oneShot,
      eps = 0.01)
    assert(accreted == est(oneShot), "merge diverged from one-shot sketch")
    // replayed tag is a no-op
    Profiling.appendFrequencySketch(spark, store, b2, col("v"),
      eps = 0.01, confidence = 0.99, seed = 42, batchTag = 1L)
    assert(spark.table(store).count() == 2L)
    // mismatched eps refuses loudly
    val err = intercept[IllegalArgumentException] {
      Profiling.appendFrequencySketch(spark, store, b2, col("v"),
        eps = 0.001, confidence = 0.99, seed = 42, batchTag = 2L)
    }
    assert(err.getMessage.contains("eps"), err.getMessage)
    // contract: never undercounts, and the checked flag is true on the
    // real exact side, false on a planted-wrong one
    val exact = b1.union(b2).groupBy(col("v").as("item"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).cast("long").as("exact_cnt"))
    val checked = Profiling.frequencyEstimatesChecked(spark, store, exact,
      "item", eps = 0.01).collect()
    assert(checked.nonEmpty && checked.forall(_.getBoolean(2)),
      checked.mkString(", "))
    val wrong = exact.withColumn("exact_cnt", col("exact_cnt") + 1000L)
    assert(Profiling.frequencyEstimatesChecked(spark, store, wrong,
      "item", eps = 0.01).collect().forall(!_.getBoolean(2)))
    // COMPACTION parity: CMS merge is cell-wise exact — estimates
    // bit-identical, store collapses to ONE row
    val preCompact = est(store)
    Profiling.compactFrequencyStore(spark, store)
    assert(spark.table(store).count() == 1L, "one merged sketch row")
    assert(est(store) == preCompact, "estimates changed across compaction")
    // folded tag redelivery still a no-op; a new batch still appends
    Profiling.appendFrequencySketch(spark, store, b2, col("v"),
      eps = 0.01, confidence = 0.99, seed = 42, batchTag = 1L)
    assert(spark.table(store).count() == 1L, "replayed folded tag must no-op")
    val b3 = (1 to 100).map(i => (s"v${i % 11}")).toDF("v")
    Profiling.appendFrequencySketch(spark, store, b3, col("v"),
      eps = 0.01, confidence = 0.99, seed = 42, batchTag = 2L)
    val three = "graft_freq_store_spec_three"
    spark.sql(s"DROP TABLE IF EXISTS $three")
    Profiling.writeFrequencyStore(b1.union(b2).union(b3), col("v"), three,
      eps = 0.01)
    assert(est(store) == est(three),
      "post-compaction append diverged from the 3-batch one-shot")
  }

  test("cardinality sketch store: accretion ≡ one-shot, replay idempotent, lgK refusal") {
    import graft.operators.Profiling
    import org.apache.spark.sql.functions.col
    val b1 = (1 to 300).map(i => (s"g${i % 3}", s"v${i % 50}")).toDF("g", "v")
    val b2 = (1 to 300).map(i => (s"g${i % 3}", s"w${i % 40}")).toDF("g", "v")
    val store = "graft_card_store_spec"
    val oneShot = "graft_card_store_spec_oneshot"
    Seq(store, oneShot).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Profiling.writeCardinalityStore(b1, "g", col("v"), store, lgK = 12)
    Profiling.appendCardinalitySketches(spark, store, b2, "g", col("v"),
      lgK = 12, batchTag = 1L)
    val accreted = Profiling.cardinalityEstimates(spark, store).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // HLL union is max-per-register: union of per-batch sketches estimates
    // exactly like one sketch over the concatenated batches
    Profiling.writeCardinalityStore(b1.union(b2), "g", col("v"), oneShot,
      lgK = 12)
    val once = Profiling.cardinalityEstimates(spark, oneShot).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    accreted.foreach { case (g, (est, n, nb)) =>
      assert(est == once(g), s"$g: accreted $est != one-shot ${once(g)}")
      assert(n == 200L && nb == 2L, s"$g: n=$n nb=$nb")
    }
    // replayed tag is a no-op
    Profiling.appendCardinalitySketches(spark, store, b2, "g", col("v"),
      lgK = 12, batchTag = 1L)
    assert(spark.table(store).count() == 6L) // 3 groups × 2 batches
    // a different lgK would silently degrade the error contract: refuse
    val err = intercept[IllegalArgumentException] {
      Profiling.appendCardinalitySketches(spark, store, b2, "g", col("v"),
        lgK = 10, batchTag = 2L)
    }
    assert(err.getMessage.contains("lgK"), err.getMessage)
    // contract flag true against the true exact side, false on a wrong one
    val exact = b1.union(b2).groupBy("g")
      .agg(org.apache.spark.sql.functions.countDistinct(col("v"))
        .cast("long").as("exact_distinct"))
      .select(col("g").as("group_key"), col("exact_distinct"))
    val checked = Profiling.cardinalityEstimatesChecked(spark, store, exact,
      lgK = 12).collect()
    assert(checked.length == 3 && checked.forall(_.getBoolean(4)), checked.mkString(", "))
    val wrong = exact.withColumn("exact_distinct",
      col("exact_distinct") * 100)
    val bad = Profiling.cardinalityEstimatesChecked(spark, store, wrong,
      lgK = 12).collect()
    assert(bad.forall(!_.getBoolean(4)), bad.mkString(", "))
    // COMPACTION parity: HLL union is lossless — estimates bit-identical,
    // store collapses from groups×batches rows to groups rows
    val preCompact = Profiling.cardinalityEstimates(spark, store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    Profiling.compactCardinalityStore(spark, store)
    assert(spark.table(store).count() == 3L, "one merged row per group")
    val postCompact = Profiling.cardinalityEstimates(spark, store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(postCompact == preCompact,
      s"estimates/n_rows changed across compaction: $postCompact vs $preCompact")
    // a FOLDED tag's redelivery is still an exact no-op (the
    // compacted_watermark guard — its row no longer exists to match on)
    Profiling.appendCardinalitySketches(spark, store, b2, "g", col("v"),
      lgK = 12, batchTag = 1L)
    assert(spark.table(store).count() == 3L, "replayed folded tag must no-op")
    // a genuinely NEW batch appends and unions exactly as before
    val b3 = (1 to 90).map(i => (s"g${i % 3}", s"x${i % 30}")).toDF("g", "v")
    Profiling.appendCardinalitySketches(spark, store, b3, "g", col("v"),
      lgK = 12, batchTag = 2L)
    val three = "graft_card_store_spec_three"
    spark.sql(s"DROP TABLE IF EXISTS $three")
    Profiling.writeCardinalityStore(b1.union(b2).union(b3), "g", col("v"),
      three, lgK = 12)
    val afterNew = Profiling.cardinalityEstimates(spark, store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot3 = Profiling.cardinalityEstimates(spark, three).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterNew == oneShot3,
      "post-compaction append diverged from the 3-batch one-shot")
  }

  test("cardinality sketch store built at 4 buckets takes appends and compacts at 4 buckets") {
    import graft.operators.Profiling
    import graft.sources.StoreTable
    import org.apache.spark.sql.functions.col
    val b1 = (1 to 120).map(i => (s"g${i % 5}", s"v${i % 37}")).toDF("g", "v")
    val b2 = (1 to 120).map(i => (s"g${i % 5}", s"w${i % 29}")).toDF("g", "v")
    val b3 = (1 to 60).map(i => (s"g${i % 5}", s"x${i % 11}")).toDF("g", "v")
    val store = "graft_card_nb4"
    val oneShot = "graft_card_nb4_oneshot"
    def est(t: String) = Profiling.cardinalityEstimates(spark, t).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Seq(store, oneShot).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Profiling.writeCardinalityStore(b1, "g", col("v"), store, lgK = 12,
        nBuckets = 4)
      Profiling.appendCardinalitySketches(spark, store, b2, "g", col("v"),
        lgK = 12, batchTag = 1L)
      Profiling.compactCardinalityStore(spark, store)
      assert(StoreTable.bucketSpec(spark, store) == ("__g", 4))
      Profiling.appendCardinalitySketches(spark, store, b3, "g", col("v"),
        lgK = 12, batchTag = 2L)
      Profiling.writeCardinalityStore(b1.union(b2).union(b3), "g", col("v"),
        oneShot, lgK = 12, nBuckets = 4)
      assert(est(store) == est(oneShot), "accreted + compacted != one-shot")
      assert(StoreTable.bucketSpec(spark, store) == ("__g", 4))
    } finally Seq(store, oneShot).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("LM store: gate against own-corpus store == refit filter; append == rebuild; replayed tag no-op") {
    import graft.operators.TextAnalysis
    def mkDoc(i: Int, extra: String) =
      (i.toLong, s"the cat sat on mat $i and $extra words flow here t${i % 7} t${(i * 3) % 11}")
    val corpus = (1 to 60).map(i => mkDoc(i, s"c$i")).toDF("doc_id", "text")
    Seq("graft_lm_spec", "graft_lm_spec_rebuild").foreach { st =>
      spark.sql(s"DROP TABLE IF EXISTS ${st}_pairs")
      spark.sql(s"DROP TABLE IF EXISTS ${st}_ctx")
    }
    def gateMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.toString), r.getBoolean(3)))
      .toMap
    // own-corpus identity: store fit on X, gating X == the refit filter
    TextAnalysis.writeLmStore(corpus, "text", "graft_lm_spec", nBuckets = 2)
    val viaStore = gateMap(TextAnalysis.lmPerplexityAgainst(
      corpus, "doc_id", "text", "graft_lm_spec", maxPpl = 20.0))
    val viaRefit = gateMap(TextAnalysis.lmPerplexityFilter(
      corpus, "doc_id", "text", maxPpl = 20.0))
    assert(viaStore == viaRefit, "store-gated != refit on the fit corpus")
    // append == rebuild: two tagged batches vs a one-shot fit; score a
    // THIRD corpus (unseen pairs exercise the add-one floor)
    val b2 = (100 to 130).map(i => mkDoc(i, s"b$i")).toDF("doc_id", "text")
    val probe = (500 to 520)
      .map(i => (i.toLong, s"utterly novel z$i q$i tokens the cat sat"))
      .toDF("doc_id", "text")
    TextAnalysis.appendLmCounts(spark, "graft_lm_spec", b2, "text",
      batchTag = 0L)
    TextAnalysis.writeLmStore(corpus.unionAll(b2), "text",
      "graft_lm_spec_rebuild", nBuckets = 2)
    val accreted = gateMap(TextAnalysis.lmPerplexityAgainst(
      probe, "doc_id", "text", "graft_lm_spec", maxPpl = 20.0))
    val rebuilt = gateMap(TextAnalysis.lmPerplexityAgainst(
      probe, "doc_id", "text", "graft_lm_spec_rebuild", maxPpl = 20.0))
    assert(accreted == rebuilt, "accreted store diverged from rebuild")
    // replayed tag: counts unchanged (a double append would double them)
    TextAnalysis.appendLmCounts(spark, "graft_lm_spec", b2, "text",
      batchTag = 0L)
    assert(gateMap(TextAnalysis.lmPerplexityAgainst(
      probe, "doc_id", "text", "graft_lm_spec", maxPpl = 20.0)) == rebuilt,
      "replayed batch tag double-applied")
    // COMPACT mid-lifecycle: one row per key, gate results bit-identical,
    // and a folded-tag replay still no-ops via the compacted watermark
    TextAnalysis.compactLmStore(spark, "graft_lm_spec")
    val pairRows = spark.table("graft_lm_spec_pairs")
    assert(pairRows.count() ==
      pairRows.select("pair").distinct().count(),
      "compaction left multiple batch rows for a pair")
    assert(gateMap(TextAnalysis.lmPerplexityAgainst(
      probe, "doc_id", "text", "graft_lm_spec", maxPpl = 20.0)) == rebuilt,
      "compaction changed the gate")
    TextAnalysis.appendLmCounts(spark, "graft_lm_spec", b2, "text",
      batchTag = 0L)
    assert(gateMap(TextAnalysis.lmPerplexityAgainst(
      probe, "doc_id", "text", "graft_lm_spec", maxPpl = 20.0)) == rebuilt,
      "folded-tag replay re-applied after compaction")
    // post-compaction appends with NEW tags still accrete == rebuild
    val b3 = (300 to 310).map(i => mkDoc(i, s"d$i")).toDF("doc_id", "text")
    TextAnalysis.appendLmCounts(spark, "graft_lm_spec", b3, "text",
      batchTag = 1L)
    spark.sql("DROP TABLE IF EXISTS graft_lm_spec_r3_pairs")
    spark.sql("DROP TABLE IF EXISTS graft_lm_spec_r3_ctx")
    TextAnalysis.writeLmStore(corpus.unionAll(b2).unionAll(b3), "text",
      "graft_lm_spec_r3", nBuckets = 2)
    assert(gateMap(TextAnalysis.lmPerplexityAgainst(
      probe, "doc_id", "text", "graft_lm_spec", maxPpl = 20.0)) ==
      gateMap(TextAnalysis.lmPerplexityAgainst(
        probe, "doc_id", "text", "graft_lm_spec_r3", maxPpl = 20.0)),
      "post-compaction append diverged from the 3-batch rebuild")
  }
}
