package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.StoreSpec
import graft.sources.StoreSpec.Table

/** [EXT] Similarity search over an embedding column (`array<float>`).
  *
  * Two paths (north star in BASELINE.json):
  *  - brute-force cosine top-k — the exact baseline. One codegen'd projection
  *    computing the dot product (`zip_with` + `aggregate`, no UDF) and a
  *    TakeOrderedAndProject for the top-k: per-partition heaps, driver merges
  *    k rows. Linear scan — correct at any scale, bandwidth-bound;
  *  - LSH-bucketed ANN — the scale path: random-hyperplane signatures (seeded,
  *    deterministic) assign each vector to a bucket; queries probe only their
  *    own bucket (optionally multi-probe), turning a 100 TB scan into a
  *    bucket-local one. An IVF variant would swap the hash for k-means
  *    centroid assignment; the bucketing/probing plumbing is identical.
  */
object Similarity {

  /** upper bound on the multi-probe bucket-literal IN list [[lshTopK]] may
    * inline into the plan (Σ C(nBits, f≤maxFlips) terms). 4096 8-byte
    * literals keep analysis + codegen trivially cheap while allowing every
    * sane (nBits, maxFlips) configuration — (16,3) = 697, (20,3) = 1351. */
  val MaxProbeLiterals: Int = 4096

  /** cosine similarity of two float/double array columns, computed in double.
    * Production path: the native codegen'd [[graft.functions.CosineSimilarityExpr]]
    * — one fused loop, no per-row intermediate array. Accumulation order is
    * left-to-right, bit-identical to [[cosineFns]] (proven in CosineExprSpec). */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType => DT}
    GraftSqlBridge.column(graft.functions.CosineSimilarityExpr(
      Cast(GraftSqlBridge.expression(a), ArrayType(DT)),
      Cast(GraftSqlBridge.expression(b), ArrayType(DT))))
  }

  /** reference formulation from org.apache.spark.sql.functions only —
    * kept for cross-checking the native kernel. */
  def cosineFns(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** brute-force top-k by cosine against one literal query vector.
    * Plan: scan → project(cosine) → TakeOrderedAndProject(k). */
  /** Greedy Maximal Marginal Relevance selection (Carbonell & Goldstein
    * 1998): pick `k` vectors, each round taking argmax of
    * λ·cos(query, v) − (1−λ)·max_{s∈selected} cos(v, s) — the
    * diversity-aware data-selection pass (a top-k by relevance alone
    * returns k near-duplicates of the best hit; MMR trades relevance for
    * coverage). Returns (id, pos) in selection order, pos 1..k.
    *
    * Iterative by nature: k rounds, each an argmax over the relevance
    * CHECKPOINT (corpus scanned/scored once up front) = orderBy+limit(1)
    * with ONE row collected per round — driver materialization bounded by
    * the PARAMETER k, the ivfFit Lloyd's-iteration pattern. Selected
    * vectors ride back into the next round's plan as literals (≤ k small
    * arrays). THE REFERENCE FORM: exact greedy MMR, kept for parity and
    * as the m=1 oracle twin — [[mmrSelectBatched]] is the PRODUCTION
    * entry (⌈k/m⌉ driver round-trips, O(k) total cosine work per
    * candidate, superseded checkpoints freed; 30×/100× scale-probed in
    * BASELINE.md Appendix B). At 100 TB also narrow the pool first
    * (top-N by relevance, or SemDeDup cluster heads) and run MMR on the
    * pool — compose with [[bruteForceTopK]]/[[ivfTopK]] for that.
    *
    * Determinism: every similarity and every MMR score rounds to 6 dp
    * (the cosine-oracle convention) before comparison; ids break ties —
    * so the selection order is engine-replicable and is oracle-pinned by
    * the Spark-independent recompute in graft.verify.IndependentOracles. */
  def mmrSelect(emb: DataFrame, idCol: String, vecCol: String,
                query: Seq[Double], k: Int, lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    val spark = emb.sparkSession
    val q = array(query.map(lit): _*)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("rel", round(cosine(col("v"), q), 6))
      .localCheckpoint()
    val selected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    var exhausted = false
    while (selected.size < k && !exhausted) {
      val cand =
        if (selected.isEmpty) base.withColumn("mmr", col("rel"))
        else {
          val sims = selected.toSeq.map { case (_, sv) =>
            round(cosine(col("v"), array(sv.map(lit): _*)), 6)
          }
          val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
          base.filter(!col("id").isin(selected.toSeq.map(_._1): _*))
            .withColumn("mmr",
              round(lit(lambda) * col("rel") - lit(1 - lambda) * maxSim, 6))
        }
      val rows = cand.orderBy(desc("mmr"), col("id")).limit(1).collect()
      if (rows.isEmpty) exhausted = true // corpus smaller than k
      else {
        val r = rows.head
        selected += ((r.getLong(0), r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case other => sys.error(s"non-numeric vector element: $other")
        }))
      }
    }
    import spark.implicits._
    selected.toSeq.map(_._1).zipWithIndex
      .map { case (id, i) => (id, (i + 1).toLong) }
      .toDF(idCol, "pos")
  }

  /** Batched MMR for k in the HUNDREDS, where [[mmrSelect]]'s greedy loop
    * stops scaling in two ways: k round-trips (one collect per pick), and a
    * per-round max-sim expression that grows with |selected| (round r
    * compares every candidate against ALL r literals — O(k²) cosine work
    * across the run, and a plan that Catalyst re-analyzes at ever-growing
    * size). This variant fixes both:
    *  - the running max-similarity is MATERIALIZED as a column and folded
    *    forward each round (`msim := greatest(msim, sims to this round's
    *    picks)` + re-checkpoint), so every round's plan is O(m) regardless
    *    of how many vectors are already selected — O(k) total cosine work
    *    per candidate instead of O(k²);
    *  - each round takes the TOP `m` candidates by the round's frozen MMR
    *    score in one pass, so driver round-trips drop to ⌈k/m⌉.
    * The trade at m > 1: picks 2..m of a round don't see pick 1's
    * similarity (scores are frozen per round), so a round can admit m
    * near-identical vectors — the classic batched-greedy relaxation; keep
    * m ≪ k (e.g. m = 10 for k = 300). At m = 1 the relaxation vanishes and
    * the selection is IDENTICAL to [[mmrSelect]] (same 6-dp rounding, same
    * id tie-break — max of rounded sims is associative, so folding the
    * running max is exact; pinned by an OperatorsSpec property).
    * Driver state stays parameter-bounded: m rows collected per round,
    * k ids total. */
  def mmrSelectBatched(emb: DataFrame, idCol: String, vecCol: String,
                       query: Seq[Double], k: Int, lambda: Double = 0.7,
                       m: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(m >= 1, s"m must be >= 1, got $m")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    val spark = emb.sparkSession
    val q = array(query.map(lit): _*)
    var base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("rel", round(cosine(col("v"), q), 6))
      .withColumn("msim", lit(null).cast(DoubleType))
      .localCheckpoint()
    val order = scala.collection.mutable.ArrayBuffer.empty[Long]
    var exhausted = false
    while (order.size < k && !exhausted) {
      val take = math.min(m, k - order.size)
      // msim is null only before the first pick — greatest() skips nulls,
      // so after the first fold it is always the true running max
      val rows = base
        .withColumn("mmr", when(col("msim").isNull, col("rel"))
          .otherwise(round(lit(lambda) * col("rel") -
            lit(1 - lambda) * col("msim"), 6)))
        .orderBy(desc("mmr"), col("id")).limit(take).collect()
      if (rows.isEmpty) exhausted = true // corpus smaller than k
      else {
        val picks = rows.map { r =>
          (r.getLong(0), r.getSeq[Any](1).map {
            case f: Float => f.toDouble
            case d: Double => d
            case other => sys.error(s"non-numeric vector element: $other")
          })
        }
        order ++= picks.map(_._1)
        val sims = picks.toSeq.map { case (_, sv) =>
          round(cosine(col("v"), array(sv.map(lit): _*)), 6)
        }
        // free the superseded checkpoint once the new one is materialized
        // (localCheckpoint is eager): without this, a k-in-the-hundreds run
        // holds ⌈k/m⌉ checkpointed copies of the scored corpus in
        // block-manager storage until session cleanup
        val prev = base
        base = base.filter(!col("id").isin(picks.map(_._1).toSeq: _*))
          .withColumn("msim", greatest(col("msim") +: sims: _*))
          .localCheckpoint()
        unpersistCheckpoint(prev)
      }
    }
    unpersistCheckpoint(base) // the final round's checkpoint: the result
                              // below is driver-side ids only
    import spark.implicits._
    order.toSeq.zipWithIndex
      .map { case (id, i) => (id, (i + 1).toLong) }
      .toDF(idCol, "pos")
  }

  /** POOL-NARROWED MMR — the documented production composition: narrow the
    * corpus to the `poolSize` most query-relevant vectors FIRST (one
    * relevance top-k pass — swap in [[ivfTopKAgainstStore]] upstream when
    * an IVF store exists; any (idCol) shortlist frame works), then run
    * [[mmrSelectBatched]] over the POOL. The per-round rescans that make
    * the raw batched form ~linear in CORPUS size (measured 10.5x at 100x
    * data) become pool-sized: each of the ⌈k/m⌉ rounds scores `poolSize`
    * rows however large the corpus grows — the corpus is touched exactly
    * once, by the shortlist pass. Semantics note (inherent to pooling, not
    * this implementation): MMR diversity is computed WITHIN the pool, so a
    * diverse-but-irrelevant vector outside the top-`poolSize` can no
    * longer be selected; keep poolSize ≫ k (the 10k-for-k-in-the-hundreds
    * production shape). */
  def mmrSelectPooled(emb: DataFrame, idCol: String, vecCol: String,
                      query: Seq[Double], k: Int, lambda: Double = 0.7,
                      m: Int = 1, poolSize: Int = 10000): DataFrame = {
    require(poolSize >= k,
      s"poolSize ($poolSize) must be >= k ($k) — the pool is the MMR input")
    val pool = bruteForceTopK(emb, idCol, vecCol, query, poolSize)
      .select(col(idCol))
    mmrSelectBatched(emb.join(pool, Seq(idCol), "left_semi")
        .localCheckpoint(),
      idCol, vecCol, query, k, lambda, m)
  }

  /** free the block-manager storage behind a localCheckpoint'd frame.
    * `Dataset.unpersist` only drops `cache()` entries (CacheManager); a
    * local checkpoint's blocks belong to the UNDERLYING RDD captured in
    * the plan's LogicalRDD leaf and otherwise live until the context
    * cleaner GCs the reference — too late for a loop that supersedes a
    * corpus-sized checkpoint every round ([[mmrSelectBatched]]). */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    df.select(col(idCol), round(cosine(col(vecCol), q), 6).as("cos"))
      .orderBy(desc("cos"), col(idCol)).limit(k)
  }

  /** per-vector symmetric int8 quantization scale: max|x| / 127, floored at
    * a tiny epsilon so the all-zero vector quantizes to zeros instead of
    * dividing by zero. Cast to double FIRST — float→double widening is
    * exact, so Spark and an oracle re-deriving the scale from the same
    * parquet floats agree bit-for-bit. */
  def int8Scale(vec: Column): Column =
    greatest(
      array_max(transform(vec, x => abs(x.cast(DoubleType)))) / lit(127.0),
      lit(1e-30))

  /** the int8-quantized vector under `scale`: round-half-up to integers in
    * [−127, 127]. Kept as an int array column (parquet stores it narrow;
    * the arithmetic stays integral). */
  def int8Quantize(vec: Column, scale: Column): Column =
    transform(vec, x => round(x.cast(DoubleType) / scale).cast(IntegerType))

  /** brute-force top-k against one literal query vector over INT8-QUANTIZED
    * vectors — the storage/compute shape production vector search uses at
    * corpus scale (4x smaller scans than float32, integer multiply-adds).
    * The integer dot product rides a single codegen'd zip_with+aggregate
    * projection; the ranking score rescales it by the per-vector scale
    * (the query's own scale is a constant factor — monotone, dropped).
    *
    * Determinism: quantized values and the dot product are exact integers
    * (identical in any engine); the score multiplies that integer by a
    * double both engines derive identically from the same stored floats,
    * and ties break on id — so the top-k is oracle-replicable, unlike
    * float-accumulation similarity. Quantization ERROR vs exact cosine is
    * bounded and pinned in SimilaritySpec, not here. */
  def int8TopK(df: DataFrame, idCol: String, vecCol: String,
               query: Seq[Double], k: Int): DataFrame = {
    val qArr = array(int8QueryInts(query).map(lit): _*)
    // materialize the scale into a column BEFORE the quantize transform:
    // captured non-trivial expressions inside a HOF lambda re-evaluate per
    // ELEMENT (no common-subexpression elimination across the lambda
    // boundary) — with scale = array_max(transform(vec, abs)) that is
    // O(dim²) per vector on the quantize-on-read scan (the bigramLogProb
    // lambda-trap class; measured ~25% off this query at sf0.1, more at
    // larger dim). Multiple references to __scale also stop Catalyst's
    // CollapseProject from re-inlining it into the lambda.
    val qdot = aggregate(
      zip_with(col("__qv"), qArr, (a, b) => (a.cast(LongType)) * b),
      lit(0L), (s, x) => s + x)
    df.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__scale", int8Scale(col("__v")))
      .withColumn("__qv", int8Quantize(col("__v"), col("__scale")))
      .select(col(idCol), qdot.as("qdot"),
        (qdot.cast(DoubleType) * col("__scale")).as("__score"))
      .orderBy(desc("__score"), col(idCol))
      .limit(k)
      .select(col(idCol), col("qdot"))
  }

  /** the query vector's own int8 cells (driver-side, BigDecimal HALF_UP —
    * the same round-half-away rule the column path and the SQL oracle
    * use). */
  private def int8QueryInts(query: Seq[Double]): Seq[Int] = {
    val qscale = math.max(query.map(math.abs).max, 1e-30) / 127.0
    query.map(v => BigDecimal(v / qscale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt)
  }

  /** persist the PRE-QUANTIZED int8 corpus: (id, qvec byte array, scale) —
    * the storage shape int8 ANN exists for at 100 TB: scans read one byte
    * per component plus one scale instead of 4-byte floats (plus parquet
    * byte-stream-split/RLE on top), and probes never re-quantize. Managed
    * bucketed table with build metadata, like the LSH/IVF store twins. */
  def writeInt8Store(df: DataFrame, idCol: String, vecCol: String,
                     store: String, nBuckets: Int = 64): Unit =
    // same lambda-trap avoidance as int8TopK: scale as a column, never a
    // captured expression inside the quantize transform
    int8Store(store, idCol).create(
      df.select(col(idCol), col(vecCol).as("__v"))
        .withColumn("__scale", int8Scale(col("__v")))
        .select(col(idCol),
          transform(int8Quantize(col("__v"), col("__scale")),
            x => x.cast(ByteType)).as("qvec"),
          col("__scale").as("scale")),
      nBuckets)

  private def int8Store(store: String, idCol: String): StoreSpec =
    StoreSpec(store, Map("kind" -> "int8"), Seq(Table("_q", idCol, identity)))

  /** top-k against a [[writeInt8Store]] store — same result as [[int8TopK]]
    * on the raw vectors BY CONSTRUCTION (quantization is deterministic and
    * happened at write time); the scan reads stored int8 bytes. */
  def int8TopKAgainstStore(spark: SparkSession, store: String, idCol: String,
                           query: Seq[Double], k: Int,
                           extraFilter: Column = lit(true)): DataFrame = {
    int8Store(store, idCol).check(spark)
    val qArr = array(int8QueryInts(query).map(lit): _*)
    val qdot = aggregate(
      zip_with(col("qvec"), qArr, (a, b) => a.cast(LongType) * b),
      lit(0L), (s2, x) => s2 + x)
    spark.table(s"${store}_q")
      .filter(extraFilter)
      .select(col(idCol), qdot.as("qdot"),
        (qdot.cast(DoubleType) * col("scale")).as("__score"))
      .orderBy(desc("__score"), col(idCol))
      .limit(k)
      .select(col(idCol), col("qdot"))
  }

  /** all-pairs top-k neighbors for a (small, broadcastable) query set against
    * a large corpus: broadcast the queries, per-corpus-partition compute, then
    * per-query top-k via window. The corpus never shuffles. */
  def topKPerQuery(corpus: DataFrame, queries: DataFrame,
                   corpusId: String, queryId: String, vecCol: String,
                   k: Int): DataFrame = {
    val joined = corpus.as("c").join(
      broadcast(queries.select(col(queryId), col(vecCol).as("__qv"))).as("q"),
      col(s"c.$corpusId") =!= col(s"q.$queryId"))
    val scored = joined.select(
      col(s"q.$queryId").as("query_id"),
      col(s"c.$corpusId").as("neighbor_id"),
      round(cosine(col(s"c.$vecCol"), col("__qv")), 6).as("cos"))
    Relational.topNPerGroup(scored, Seq("query_id"),
      Seq(desc("cos"), asc("neighbor_id")), k)
  }

  // deterministic random hyperplanes (seeded driver-side, shipped as
  // literals). private[graft]: the query registry embeds the same plane weights as
  // literal doubles in the generated DuckDB oracle SQL for q_lsh_recall
  // (Double.toString round-trips exactly, so both engines see identical bits).
  private[graft] def hyperplanes(dim: Int, nBits: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** ±1 sign matrix for the Achlioptas/JL random projection — md5-derived
    * (parity of the first digest byte of "seed|j|i"), so it is
    * hash-deterministic across engines and trivially embeddable as oracle
    * literals (the rboWeightsNanos pattern). [outDim][inDim]. */
  private[graft] def jlSigns(inDim: Int, outDim: Int,
                             seed: Long): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim) { j =>
      Array.tabulate(inDim) { i =>
        val d = md.digest(s"$seed|$j|$i".getBytes("UTF-8"))
        if ((d(0) & 1) == 0) 1 else -1
      }
    }
  }

  /** Johnson-Lindenstrauss sign projection in integer-MICROS space — the
    * dimensionality-reduction front end of a brute-force/ANN pipeline
    * (64-dim → 16-dim cuts every downstream distance scan 4x while JL
    * preserves pairwise geometry in expectation). Achlioptas showed ±1
    * signs suffice — no Gaussians needed — which is what makes the
    * projection EXACT here: inputs quantize to integer micros
    * (round(x·1e6), float→double lossless), each output coordinate is an
    * exact ±-signed integer SUM (order-independent, partitioning-immune,
    * cross-engine reproducible — the kmeansRefine micros doctrine), and
    * the 1/√m norm scaling is deferred to the reader as a documented
    * constant so no double leaves the plan. Sign matrix rides the plan as
    * literals (kilobytes) — no weights join, the hashedClassify shape.
    *
    * Emitted EXPLODED (vec_id, dim j, y_micros): compare-friendly and
    * directly joinable for projected-space distance work; re-assemble with
    * collect_list over j ordering when an array form is needed.
    *
    * Scale shape: the token array materializes ONCE into a micros column
    * (the HOF-lambda-trap doctrine), then one Generate over m per-output
    * zip_with·aggregate sums — a pure per-row projection, no shuffle. */
  def jlProjectMicros(df: DataFrame, idCol: String, vecCol: String,
                      inDim: Int, outDim: Int,
                      seed: Long = 42L): DataFrame = {
    require(inDim > 0 && outDim > 0 && outDim <= inDim,
      s"jlProjectMicros: dims ($inDim -> $outDim)")
    val signs = jlSigns(inDim, outDim, seed)
    val xm = transform(col(vecCol).cast(ArrayType(DoubleType)),
      v => round(v * lit(1000000L)).cast(LongType))
    val projected = df.select(col(idCol), xm.as("__xm"))
    val yCols = (0 until outDim).map { j =>
      aggregate(
        zip_with(col("__xm"), typedLit(signs(j).toSeq),
          (x, s) => x * s),
        lit(0L), (acc, v) => acc + v).as(s"__y$j")
    }
    projected.select(col(idCol) +: yCols: _*)
      .select(col(idCol),
        posexplode(array((0 until outDim).map(j => col(s"__y$j")): _*)))
      .select(col(idCol), col("pos").cast(LongType).as("j"),
        col("col").as("y_micros"))
      .orderBy(idCol, "j")
  }

  /** random-hyperplane LSH signature: one bit per plane = sign(v·plane).
    * Vectors with equal signatures land in the same ANN bucket.
    * Production path: the native codegen'd
    * [[graft.functions.HyperplaneSigExpr]] — one fused loop nest instead of
    * nBits CodegenFallback HOF dot products, bit-identical to
    * [[lshSignatureFns]] (proven in HyperplaneExprSpec). */
  def lshSignature(vecCol: Column, dim: Int, nBits: Int = 16,
                   seed: Long = 42L): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Cast
    GraftSqlBridge.column(graft.functions.HyperplaneSigExpr(
      Cast(GraftSqlBridge.expression(vecCol), ArrayType(DoubleType)),
      dim, nBits, seed))
  }

  /** reference formulation from org.apache.spark.sql.functions only —
    * kept for cross-checking the native kernel. */
  def lshSignatureFns(vecCol: Column, dim: Int, nBits: Int = 16,
                      seed: Long = 42L): Column = {
    val bits = hyperplanes(dim, nBits, seed).zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(lit): _*)
      when(dotProduct(vecCol, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** driver-side signature of one literal query vector — same planes, same
    * left-to-right double accumulation as [[lshSignature]], so the bits are
    * identical to what the executors compute for an equal vector. */
  private[operators] def signatureOf(query: Seq[Double], dim: Int, nBits: Int,
                                     seed: Long): Long =
    hyperplanes(dim, nBits, seed).zipWithIndex.foldLeft(0L) {
      case (acc, (plane, i)) =>
        val dot = plane.zip(query).foldLeft(0.0) { case (s, (a, b)) => s + a * b }
        if (dot >= 0) acc | (1L << i) else acc
    }

  /** all signatures within hamming distance ≤ maxFlips of `sig` — the
    * multi-probe set. Count is Σ C(nBits, f): 17 for (16, 1), 137 for (16, 2),
    * 697 for (16, 3) — always a tiny literal IN list, never a scan. */
  private[operators] def probeSignatures(sig: Long, nBits: Int,
                                         maxFlips: Int): Seq[Long] = {
    var acc = Set(sig)
    var frontier = Set(sig)
    for (_ <- 1 to maxFlips) {
      frontier = for (s <- frontier; i <- (0 until nBits).toSet[Int])
        yield s ^ (1L << i)
      acc ++= frontier
    }
    acc.toSeq.sorted
  }

  /** LSH-bucketed ANN top-k for one query vector: probe the query's bucket
    * plus every bucket within `maxFlips` bit flips (multi-probe — recovers
    * the recall a single hamming-0 probe loses when a near neighbor falls on
    * the far side of one or two hyperplanes), exact cosine rerank inside the
    * probed set. Probed fraction ≈ Σ C(nBits,f) / 2^nBits — e.g. 1.1% for
    * (16, 3) — independent of corpus size, so the scan stays sub-linear at
    * 100×.
    *
    * NOTE: may return FEWER than k rows when the probed buckets hold fewer
    * than k vectors — expected at small corpus sizes with a bucket count
    * sized for the 100× target (e.g. 2^16 buckets over a few hundred rows).
    * Callers needing exactly k at any scale should grow nBits with
    * log₂(corpus) (as [[lshBandSignatures]] prescribes for bandBits) or
    * raise maxFlips. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, dim: Int, nBits: Int = 8,
              seed: Long = 42L, maxFlips: Int = 0): DataFrame = {
    val qSig = signatureOf(query, dim, nBits, seed)
    val probes = probeSignatures(qSig, nBits, maxFlips)
    // the probe set is inlined as an IN list of plan literals: Σ C(nBits,f)
    // terms — 697 at (16,3) is fine, but (16,8) would inline ~39k literals
    // and (32,8) ~15M, bloating analysis/codegen far past any recall gain.
    // Cap where the literal list stays plan-cheap; past it, raise nBits
    // (smaller buckets) or use lshBandSignatures banding instead of flips.
    require(probes.length <= MaxProbeLiterals,
      s"lshTopK: maxFlips=$maxFlips over nBits=$nBits probes ${probes.length} " +
        s"buckets — above the $MaxProbeLiterals plan-literal cap; lower " +
        "maxFlips, or grow nBits / switch to banded signatures for recall")
    bruteForceTopK(df.withColumn("__sig", lshSignature(col(vecCol), dim, nBits, seed))
      .filter(col("__sig").isin(probes.map(Long.box): _*)), idCol, vecCol, query, k)
  }

  /** banded LSH signatures: one row per (id, band, sig), all bands sliced
    * from ONE pooled `bandBits × bands`-bit signature (a single projection of
    * ≤64 dot products). The near-dup blocking analog of MinHash banding:
    * bandBits sets per-band selectivity (2^bandBits buckets — grow it with
    * log₂(corpus)), bands buys recall (P(candidate) = 1-(1-p^bandBits)^bands
    * for per-bit agreement p). */
  def lshBandSignatures(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                        bandBits: Int = 16, bands: Int = 4,
                        seed: Long = 42L): DataFrame = {
    require(bandBits * bands <= 64,
      s"bandBits*bands (${bandBits * bands}) must fit the 64-bit pooled signature")
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val bandSigs = (0 until bands).map(b =>
      shiftright(col("__fullsig"), b * bandBits).bitwiseAND(lit(mask)))
    df.select(col(idCol),
        lshSignature(col(vecCol), dim, bandBits * bands, seed).as("__fullsig"))
      .select(col(idCol), posexplode(array(bandSigs: _*)).as(Seq("band", "sig")))
  }

  /** IVF (inverted-file) ANN — the k-means scale path beside the LSH one.
    *
    * Build: Lloyd's k-means fit on a k-SCALED sample (~64·k rows — see
    * [[ivfFit]]: driver-local below 2048 rows, distributed over the sample
    * above it; either way the offline index-build step, never an iterative
    * job over the corpus, and centroid quality needs only a sample).
    * Assignment is a pure codegen'd map: argmin over k centroid distances
    * as one projection — no MLlib. Query: rank centroids against the query
    * DRIVER-side (k ≪ corpus, a few KB), probe only the `nprobe` nearest
    * clusters' rows, exact cosine rerank inside — the scan touches
    * ~corpus·nprobe/k rows. Deterministic via fixed seed (the distributed
    * path's means are order-independent integer-micros aggregates).
    */
  final case class IvfModel(centers: Array[Array[Double]])

  /** corpus-growing cluster count for the SemDeDup / IVF blocking paths:
    * k ≈ corpusRows / targetCellRows keeps the EXPECTED cell size constant
    * as the corpus grows, so the within-cell quadratic pairwise term stays
    * linear in corpus size overall (a fixed k makes it quadratic). The
    * floor keeps small test corpora at the legacy fixture parameters; the
    * default cap (16384 — SemDeDup's ~11k LAION clusters sit inside it)
    * bounds the assignment kernel's centroid matrix, which rides the plan
    * as ONE reference object (k·dim doubles: 8 MB at k=16384, dim=64 —
    * memory, not plan size, is the bound), and holds expected cells at
    * `targetCellRows` up to k·targetCellRows ≈ 2M embeddings. Past that,
    * raise maxK (and with it fit cost) and/or targetCellRows TOGETHER —
    * [[graft.operators.Dedup.semanticNearDupPairs]]'s `maxCellRows` guard
    * fails loudly, never silently quadratic, if the model is undersized
    * for the corpus. */
  def autoK(corpusRows: Long, targetCellRows: Int = 128,
            minK: Int = 16, maxK: Int = 16384): Int = {
    require(targetCellRows > 0 && minK > 0 && maxK >= minK,
      s"autoK: bad parameters (targetCellRows=$targetCellRows, " +
        s"minK=$minK, maxK=$maxK)")
    math.min(maxK.toLong,
      math.max(minK.toLong,
        (corpusRows + targetCellRows - 1) / targetCellRows)).toInt
  }

  /** Lloyd's k-means fit on the first `fitSampleCap` rows of `df`
    * (callers pre-sort for a deterministic sample — TakeOrdered).
    *
    * `fitSampleCap = 0` (the default) sizes the sample WITH k:
    * max(2048, 64·k) rows, so per-centroid sample mass stays ~64 as
    * [[autoK]] grows k with the corpus — a fixed 2048-row sample at
    * k = 2048 is one sample per centroid, statistically meaningless.
    *
    * Two execution paths, split on the resolved sample size:
    *  - **≤ 2048 rows**: the legacy DRIVER-LOCAL exact Lloyd's over the
    *    collected sample — bit-identical to the historical fit, keeping
    *    every fitted-centroid oracle and test fixture at the correctness
    *    SFs unchanged.
    *  - **> 2048 rows**: a DISTRIBUTED-SAMPLE Lloyd's: the sample stays a
    *    checkpointed DataFrame (the driver never materializes it);
    *    each iteration assigns via the [[graft.functions.IvfArgminExpr]]
    *    codegen kernel (the SAME argmin the corpus-side [[ivfAssign]]
    *    runs) and recomputes means with one (cluster, dim-index) hash
    *    aggregate. Means fix floats to integer MICROS before summing
    *    (the [[labelCentroids]] determinism pattern): integer adds are
    *    aggregation-ORDER-INDEPENDENT, so the fitted centroids are
    *    reproducible doubles despite distributed shuffles — the property
    *    the generated centroid-literal oracles require. Per-iteration
    *    cost is sample·k·dim inside whole-stage codegen across the
    *    cluster (64·11k rows at the SemDeDup paper's LAION-scale k —
    *    a tiny job beside one corpus scan); only k centroids and a
    *    ≤ 4·k-row init pool ever sit on the driver. */
  def ivfFit(df: DataFrame, vecCol: String, k: Int = 16, seed: Long = 42L,
             fitSampleCap: Int = 0, maxIter: Int = 10): IvfModel = {
    require(k >= 1, s"ivfFit: k must be >= 1, got $k")
    val cap =
      if (fitSampleCap > 0) fitSampleCap
      else math.max(2048, 64 * math.min(k.toLong, Int.MaxValue / 64)).toInt
    if (cap <= 2048) ivfFitLocal(df, vecCol, k, seed, cap, maxIter)
    else ivfFitDistributed(df, vecCol, k, seed, cap, maxIter)
  }

  /** the legacy driver-local exact Lloyd's (see [[ivfFit]]). */
  private def ivfFitLocal(df: DataFrame, vecCol: String, k: Int, seed: Long,
                          fitSampleCap: Int, maxIter: Int): IvfModel = {
    val sample: Array[Array[Double]] =
      df.select(col(vecCol)).limit(fitSampleCap).collect()
        .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    require(sample.nonEmpty, "ivfFit: empty input")
    IvfModel(localLloyd(sample, k, seed, maxIter))
  }

  /** the exact driver-local Lloyd's iteration shared by [[ivfFitLocal]]
    * (extracted VERBATIM — a pure function of (sample, k, seed, maxIter),
    * so every fitted-centroid oracle and fixture stays bit-identical) and
    * the per-subspace [[pqFit]]. */
  private[graft] def localLloyd(sample: Array[Array[Double]], k: Int,
                                seed: Long, maxIter: Int): Array[Array[Double]] = {
    val kk = math.min(k, sample.length)
    val dim = sample.head.length
    def nearest(cs: Array[Array[Double]], v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var i = 0
      while (i < cs.length) {
        var d = 0.0; var j = 0
        while (j < dim) { val t = cs(i)(j) - v(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    val rnd = new scala.util.Random(seed)
    var centers = rnd.shuffle(sample.indices.toVector).take(kk)
      .map(sample(_).clone()).toArray
    for (_ <- 0 until maxIter) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      sample.foreach { v =>
        val c = nearest(centers, v)
        counts(c) += 1
        var j = 0; while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      centers = centers.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0) old // empty cluster keeps its center
        else sums(i).map(_ / counts(i))
      }
    }
    centers
  }

  /** the distributed-sample Lloyd's for k-scaled sample sizes (see
    * [[ivfFit]]): assignment by the codegen argmin kernel, means by an
    * order-independent integer-micros aggregate, driver holds only the
    * centroids. */
  private def ivfFitDistributed(df: DataFrame, vecCol: String, k: Int,
                                seed: Long, cap: Int,
                                maxIter: Int): IvfModel = {
    val sampleDF = df
      .select(col(vecCol).cast(ArrayType(DoubleType)).as("__v"))
      .limit(cap).localCheckpoint()
    val n = sampleDF.count()
    require(n > 0, "ivfFit: empty input")
    val kk = math.min(k.toLong, n).toInt
    // init pool: the first min(cap, 4·kk) sample rows (deterministic —
    // callers pre-sort), k of them picked by a seed-fixed shuffle, exactly
    // the legacy init rule applied to a bounded pool instead of the full
    // sample.
    val pool: Array[Array[Double]] =
      sampleDF.limit(math.min(cap, 4 * kk)).collect()
        .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    val dim = pool.head.length
    val rnd = new scala.util.Random(seed)
    var centers = rnd.shuffle(pool.indices.toVector).take(kk)
      .map(pool(_).clone()).toArray
    for (_ <- 0 until maxIter) {
      val assigned = ivfAssign(sampleDF, "__v", IvfModel(centers))
      val rows = assigned
        .select(col("__cluster"), posexplode(col("__v")).as(Seq("__p", "__x")))
        .groupBy(col("__cluster"), col("__p"))
        .agg(sum(round(col("__x") * 1000000L).cast(LongType)).as("__s"),
          count(lit(1)).as("__n"))
        .collect()
      val sums = Array.fill(kk)(new Array[Long](dim))
      val counts = new Array[Long](kk)
      rows.foreach { r =>
        val c = r.getInt(0); val p = r.getInt(1)
        sums(c)(p) = r.getLong(2)
        counts(c) = r.getLong(3)
      }
      centers = centers.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0) old // empty cluster keeps its center
        else sums(i).map(s =>
          math.round(s.toDouble / counts(i)) / 1000000.0)
      }
    }
    IvfModel(centers)
  }

  /** FULL-CORPUS Lloyd refinement of a sampled fit — the scale pattern for
    * k-means at 100 TB: [[ivfFit]] fits on a bounded sample (driver-cheap
    * but sample-blind), then each refine iteration is ONE distributed
    * pass — the codegen'd [[ivfAssign]] argmin projection, a posexplode,
    * and a k×dim-row aggregate — so centroid quality reflects the whole
    * corpus while driver traffic stays k×dim rows per iteration.
    *
    * Determinism doctrine (cross-engine-exact so a SQL oracle can replay
    * every iteration): components are rounded to integer MICROS before
    * summing; sums accumulate in DECIMAL(38,0) (a LongType sum overflows
    * ANSI-loudly around 10¹² rows × 10⁶ micros); the new centroid is an
    * OFFSET-shifted floor division — mean = (Σ(micros + OFFSET) div n) −
    * OFFSET with every operand non-negative, because truncating (Spark
    * `div`) and flooring (DuckDB `//`) integer division only agree on
    * non-negative operands (the q_retention doctrine). Floor-of-mean
    * instead of round-half: one deterministic rule, sub-micro bias is
    * irrelevant to clustering. Components must satisfy |x| ≤ 4 (covers
    * unit-normalized embeddings with headroom) — checked IN the same
    * aggregate pass and raised loudly, not assumed. An empty cluster
    * keeps its previous center ([[ivfFitDistributed]]'s rule). */
  def kmeansRefine(df: DataFrame, vecCol: String, init: IvfModel,
                   iters: Int = 2): IvfModel = {
    require(iters >= 1, s"kmeansRefine: iters must be >= 1, got $iters")
    require(init.centers.nonEmpty, "kmeansRefine: empty init model")
    val offset = 4000000L
    val kk = init.centers.length
    val dim = init.centers.head.length
    val v = df.select(col(vecCol).cast(ArrayType(DoubleType)).as("__v"))
    var centers = init.centers
    for (_ <- 0 until iters) {
      val rows = ivfAssign(v, "__v", IvfModel(centers))
        .select(col("__cluster"),
          posexplode(col("__v")).as(Seq("__p", "__x")))
        .withColumn("__m",
          round(col("__x") * 1000000L).cast(LongType) + lit(offset))
        .groupBy(col("__cluster"), col("__p"))
        .agg(sum(col("__m").cast(DecimalType(38, 0))).as("__s"),
          count(lit(1)).as("__n"), min(col("__m")).as("__min"),
          max(col("__m")).as("__max"))
        .collect()
      val sums = Array.fill(kk)(new Array[java.math.BigInteger](dim))
      val counts = new Array[Long](kk)
      rows.foreach { r => // columns: __cluster, __p, __s, __n, __min, __max
        val c = r.getInt(0); val p = r.getInt(1)
        require(r.getLong(4) >= 0L,
          s"kmeansRefine: component below -4.0 in cluster $c dim $p — " +
            "outside the offset-shifted non-negative domain")
        require(r.getLong(5) <= 2L * offset,
          s"kmeansRefine: component above 4.0 in cluster $c dim $p — " +
            "outside the documented |x| <= 4 domain")
        sums(c)(p) = r.getDecimal(2).toBigInteger
        counts(c) = r.getLong(3)
      }
      centers = centers.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0L) old
        else sums(i).map { s =>
          (s.divide(java.math.BigInteger.valueOf(counts(i))).longValueExact()
            - offset) / 1000000.0
        }
      }
    }
    IvfModel(centers)
  }

  /** cluster assignment as ONE codegen'd projection: argmin over the k
    * centroid distances (|c|² − 2·v·c ranks identically to full squared L2;
    * ties break to the lower cluster id). Runs the native
    * [[graft.functions.IvfArgminExpr]] kernel — a fused k×dim loop over a
    * primitive centroid matrix — because the `functions`-built struct-min
    * formulation is interpreted per element and its cost explodes with the
    * corpus-scaled k ([[autoK]]); the kernel is bit-identical to it
    * (same fold order, same first-minimum tie-break — SkewAndIvfSpec). */
  def ivfAssign(df: DataFrame, vecCol: String, model: IvfModel): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Cast
    df.withColumn("__cluster", GraftSqlBridge.column(
      graft.functions.IvfArgminExpr(
        Cast(GraftSqlBridge.expression(col(vecCol)), ArrayType(DoubleType)),
        model.centers)))
  }

  /** reference formulation of [[ivfAssign]] from org.apache.spark.sql
    * .functions only — kept for cross-checking the native kernel. */
  private[graft] def ivfAssignFns(df: DataFrame, vecCol: String,
                                  model: IvfModel): DataFrame = {
    val v = col(vecCol)
    val scored = model.centers.zipWithIndex.map { case (c, i) =>
      val cNormSq = sqNorm(c)
      struct((lit(cNormSq) - lit(2.0) * dotProduct(v, array(c.map(lit): _*)))
        .as("d"), lit(i).as("i"))
    }
    df.withColumn("__cluster", array_min(array(scored: _*)).getField("i"))
  }

  /** sampled fit + map-only assignment in one call. */
  def ivfBuild(df: DataFrame, vecCol: String, k: Int = 16,
               seed: Long = 42L): (IvfModel, DataFrame) = {
    val model = ivfFit(df, vecCol, k, seed)
    (model, ivfAssign(df, vecCol, model))
  }

  /** squared L2 norm, sequential left-to-right accumulation — the SAME
    * value [[ivfAssign]] embeds as the per-centroid `|c|²` literal, exposed
    * so an engine-external oracle can embed the identical bits. */
  private[graft] def sqNorm(c: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < c.length) { s += c(j) * c(j); j += 1 }
    s
  }

  /** sequential left-to-right dot product — matches both Spark's
    * `aggregate(zip_with(...))` accumulation and DuckDB's
    * `list_dot_product`, so driver-side probe ranking is bit-identical to
    * what a SQL oracle computes from the same literals. */
  private[graft] def seqDot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { s += a(j) * b(j); j += 1 }
    s
  }

  /** the `nprobe` cluster ids nearest the query, ranked by
    * `|c|² − 2·c·q` (identical ordering to squared L2 — the |q|² term is
    * constant) with ties to the lower cluster id. Pure driver math (k ≪
    * corpus); the ranking formula and accumulation order are exactly
    * replicable in SQL from the centroid literals, so oracle probe sets
    * match bit-for-bit. */
  private[graft] def ivfProbes(model: IvfModel, query: Seq[Double],
                               nprobe: Int): Seq[Int] = {
    val qArr = query.toArray
    model.centers.zipWithIndex.map { case (c, i) =>
      (i, sqNorm(c) - 2.0 * seqDot(c, qArr))
    }.sortBy { case (i, d) => (d, i) }.take(nprobe).map(_._1).toSeq
  }

  /** probe the `nprobe` clusters nearest the query, exact rerank inside. */
  def ivfTopK(assigned: DataFrame, model: IvfModel,
              idCol: String, vecCol: String, query: Seq[Double], topK: Int,
              nprobe: Int = 4): DataFrame = {
    val probes = ivfProbes(model, query, nprobe)
    bruteForceTopK(assigned.filter(col("__cluster").isin(probes.map(Int.box): _*)),
      idCol, vecCol, query, topK)
  }

  /** deterministic whole-model fingerprint (micros-rounded centroid
    * elements folded into one long) — persisted with the store and checked
    * at probe time: probing a cell-partitioned store with a DIFFERENT
    * fitted model silently reads the WRONG cells (partition values come
    * from the build-time assignment), the worst kind of miss. */
  private[graft] def modelFingerprint(model: IvfModel): Long =
    model.centers.foldLeft(0L) { (acc, c) =>
      c.foldLeft(31L * acc + c.length)((a, v) => 31L * a + math.round(v * 1e6))
    }

  /** persist an IVF-ASSIGNED corpus PARTITIONED BY CELL — the on-disk IVF
    * index. [[ivfTopK]] prunes cells in-plan but still SCANS every row of
    * the corpus (filter, not pruning); against this store the probe's
    * `__cluster IN (…)` is a PARTITION filter, so the scan touches only
    * the `nprobe` probed cells' files — ~nprobe/k of the bytes, the shape
    * that keeps a 100 TB ANN index's per-query cost independent of corpus
    * growth. Cells are directories: at the fixture SFs that is k ≤ 16
    * small partitions; at production k (autoK ≈ corpus/targetCellRows)
    * each cell holds ~targetCellRows·rowBytes — compact with the store's
    * writer cadence if ingest appends many small files. */
  def writeIvfStore(df: DataFrame, idCol: String, vecCol: String,
                    model: IvfModel, store: String): Unit =
    ivfStore(store, model).create(ivfRows(df, idCol, vecCol, model))

  /** the IVF index `<store>_cells (id, vec, __cluster)`, partitioned by cell;
    * the batch is [[ivfRows]]' */
  private def ivfStore(store: String, model: IvfModel): StoreSpec =
    StoreSpec(store,
      Map("k" -> model.centers.length, "dim" -> model.centers.head.length,
        "fingerprint" -> modelFingerprint(model)),
      Seq(Table("_cells", "__cluster", identity, partitioned = true)))

  private def ivfRows(df: DataFrame, idCol: String, vecCol: String,
                      model: IvfModel): DataFrame =
    ivfAssign(df, vecCol, model)
      .select(col(idCol), col(vecCol).as("vec"), col("__cluster"))

  /** INCREMENTAL ingest into a [[writeIvfStore]] store: the new batch is
    * assigned with the SAME fitted model (fingerprint-checked — appending
    * rows assigned by a different model would scatter them into cells the
    * probe ranking never looks at) and appended as new files under each
    * touched cell partition. Appends never rewrite existing files; a
    * long-running cadence accretes one file per cell per batch — compact
    * with [[graft.sources.Sources.compactPartitioned]] (parity and
    * file-count collapse proven in BucketingSpec). The model itself stays
    * frozen between refits, the standard IVF ingest contract: refit +
    * full rewrite is the offline maintenance event, not the append path. */
  def appendToIvfStore(newBatch: DataFrame, idCol: String, vecCol: String,
                       model: IvfModel, store: String): Unit =
    ivfStore(store, model).appendOnce(ivfRows(newBatch, idCol, vecCol, model))

  /** ANN top-k against a [[writeIvfStore]] store: centroids ranked
    * driver-side (k ≪ corpus), the probed cells read via PARTITION
    * pruning, exact-cosine rerank inside — same results as [[ivfTopK]]
    * over the same model (asserted in SkewAndIvfSpec, plan pruning
    * included). The model fingerprint must match the store's. */
  def ivfTopKAgainstStore(spark: SparkSession, store: String, model: IvfModel,
                          idCol: String, query: Seq[Double], topK: Int,
                          nprobe: Int = 4,
                          extraFilter: Column = lit(true)): DataFrame = {
    ivfStore(store, model).check(spark)
    val probes = ivfProbes(model, query, nprobe)
    bruteForceTopK(spark.table(s"${store}_cells")
      .filter(col("__cluster").isin(probes.map(Int.box): _*))
      .filter(extraFilter), idCol, "vec", query, topK)
  }

  /** persist PRECOMPUTED hyperplane signatures BUCKETED (and sorted) by
    * signature — the on-disk LSH index. [[lshTopK]] recomputes `dim·nBits`
    * dot products for EVERY corpus row on EVERY query before its bucket
    * filter; against this store a probe is a pure read: the `sig IN (…)`
    * predicate pushes into parquet row-group stats on the sig-SORTED
    * bucket files (near-total I/O skip for selective probes), and
    * additionally BUCKET-prunes the scan (SelectedBucketsCount < all)
    * when `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` —
    * Spark's planner otherwise drops bucketed reading for scans no join
    * feeds (both behaviors pinned in SkewAndIvfSpec). No signature
    * arithmetic per query. Store once, probe per-query — the same
    * offline-index contract as [[writeIvfStore]]. */
  def writeLshStore(df: DataFrame, idCol: String, vecCol: String,
                    store: String, dim: Int, nBits: Int = 16,
                    seed: Long = 42L, nBuckets: Int = 64): Unit =
    lshStore(store, dim, nBits, seed).create(
      df.select(col(idCol), col(vecCol).as("vec"),
        lshSignature(col(vecCol), dim, nBits, seed).as("sig")),
      nBuckets)

  private def lshStore(store: String, dim: Int, nBits: Int,
                       seed: Long): StoreSpec =
    StoreSpec(store, Map("dim" -> dim, "nBits" -> nBits, "seed" -> seed),
      Seq(Table("_sigs", "sig", identity)))

  /** multi-probe ANN against a [[writeLshStore]] store — same probe-set
    * semantics (and plan-literal cap) as [[lshTopK]], same results for the
    * same parameters (asserted in SkewAndIvfSpec), but the scan reads
    * pre-signed bucketed files instead of re-signing the corpus. */
  def lshTopKAgainstStore(spark: SparkSession, store: String, idCol: String,
                          query: Seq[Double], k: Int, dim: Int,
                          nBits: Int = 16, seed: Long = 42L,
                          maxFlips: Int = 0,
                          extraFilter: Column = lit(true)): DataFrame = {
    lshStore(store, dim, nBits, seed).check(spark)
    val qSig = signatureOf(query, dim, nBits, seed)
    val probes = probeSignatures(qSig, nBits, maxFlips)
    require(probes.length <= MaxProbeLiterals,
      s"lshTopKAgainstStore: maxFlips=$maxFlips over nBits=$nBits probes " +
        s"${probes.length} buckets — above the $MaxProbeLiterals " +
        "plan-literal cap; lower maxFlips or grow nBits")
    bruteForceTopK(spark.table(s"${store}_sigs")
      .filter(col("sig").isin(probes.map(Long.box): _*))
      .filter(extraFilter), idCol, "vec", query, k)
  }

  /** Per-label mean embedding (mean pooling) — centroids for class-level
    * analysis, IVF seeding, or label-blocked near-dup. One posexplode + one
    * hash aggregate keyed on (label, dim-index): map-side partial sums make
    * the shuffle `labels × dim` rows regardless of corpus size.
    *
    * Determinism: floats are fixed to integer MICROS before summing (each
    * element is exact in a Long; sums are order-independent integer adds, no
    * float accumulation-order sensitivity), the MEAN is rounded to integer
    * micros (scale-0 rounding never hits the cross-engine decimal-boundary
    * hazard that scale-6 rounding of a fraction does — e.g. a mean of
    * exactly 0.0032135 rounds differently in BigDecimal-HALF_UP vs a
    * multiply-based round), and only then divided by 1e6 — an exact, bit-
    * identical final division in any IEEE engine.
    * Output is row form (label, pos, centroid) — array order is the
    * consumer's reassembly (`sort_array(collect_list(struct(pos, v)))`);
    * row form keeps the result engine-comparable. */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg((round(
        sum(round(col("v").cast(DoubleType) * 1000000L).cast(LongType))
          .cast(DoubleType) / count(lit(1))).cast(LongType)
        / lit(1000000.0)).as("centroid"))

  /** Per-label EMBEDDING-SPACE drift between two corpus versions: the
    * cosine between each label's mean embedding in `ref` vs `cur` — the
    * semantic sibling of the value-distribution monitors (PSI/KS see a
    * length histogram move; this sees "the docs labeled 'news' aren't
    * about the same things anymore"). Labels on one side only carry NULL
    * cosine (new/vanished classes are drift findings, not errors).
    *
    * Exactness: both centroids come from [[labelCentroids]]' integer-MICROS
    * means; recovering the micros (round(c·10⁶), exact by construction)
    * makes dot and norms INTEGER sums (micros ≤ ~4·10⁶ ⇒ per-term products
    * < 2⁵³ and dim-bounded sums well inside long — ANSI-loud past it), so
    * the only doubles are two correctly-rounded sqrt's and one division,
    * rounded to 6 — bit-identical cross-engine.
    *
    * Plan shape: two (labels × dim)-row centroid aggregates, one join on
    * (label, pos), one |labels|-row aggregate. Nothing downstream of the
    * shuffles exceeds labels × dim. */
  def centroidDrift(ref: DataFrame, cur: DataFrame, labelCol: String,
                    vecCol: String): DataFrame = {
    def side(df: DataFrame, n: String) =
      labelCentroids(df, labelCol, vecCol)
        .select(col(labelCol), col("pos"),
          round(col("centroid") * 1000000L).cast(LongType).as(s"__m_$n"))
    side(ref, "r").join(side(cur, "c"), Seq(labelCol, "pos"), "full_outer")
      .groupBy(labelCol)
      .agg(
        max(col("__m_r").isNotNull).as("__has_r"),
        max(col("__m_c").isNotNull).as("__has_c"),
        sum(col("__m_r") * col("__m_c")).as("__dot"),
        sum(col("__m_r") * col("__m_r")).as("__nr"),
        sum(col("__m_c") * col("__m_c")).as("__nc"))
      .select(col(labelCol),
        col("__has_r").as("in_ref"), col("__has_c").as("in_cur"),
        when(col("__has_r") && col("__has_c") &&
            col("__nr") > 0 && col("__nc") > 0,
          round(col("__dot").cast(DoubleType) /
            (sqrt(col("__nr").cast(DoubleType))
              * sqrt(col("__nc").cast(DoubleType))), 6))
          .as("centroid_cos"))
      .orderBy(labelCol)
  }

  // ──────────────────── product quantization (PQ) ANN ────────────────────

  /** PQ codebooks: `m` subspaces × `ksub` centroids × `subDim` doubles.
    * The compressed-domain ANN scale path (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) beside int8
    * (4× compression, exact integer dot) and IVF (pruned scan, exact
    * rerank): PQ stores ONE BYTE per subspace — a 64-dim float32 vector
    * becomes 8 code bytes (32×) — and answers queries from a per-query
    * lookup table without touching a single float. At 100 TB that is the
    * difference between scanning 25 TB of float rows and ~0.8 TB of codes. */
  final case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "PqModel: empty codebooks")
    def m: Int = codebooks.length
    def ksub: Int = codebooks.head.length
    def subDim: Int = codebooks.head.head.length
  }

  /** Per-subspace driver-local Lloyd's on ONE deterministic sample (the
    * first `fitSampleCap` rows — callers pre-sort, the [[ivfFit]]
    * contract): collect once, slice `m` ways, fit `m` independent
    * codebooks (seed offset by subspace index so initializations differ).
    * The offline index-build step — sample-bounded driver work, never a
    * corpus job; reproducible doubles, so generated oracles can embed the
    * codebooks as exact literals. */
  def pqFit(df: DataFrame, vecCol: String, m: Int = 8, ksub: Int = 16,
            seed: Long = 42L, fitSampleCap: Int = 2048,
            maxIter: Int = 10): PqModel = {
    require(m >= 1, s"pqFit: m must be >= 1, got $m")
    require(ksub >= 2 && ksub <= 256,
      s"pqFit: ksub must be in [2, 256] (codes are one byte), got $ksub")
    val sample: Array[Array[Double]] =
      df.select(col(vecCol)).limit(fitSampleCap).collect()
        .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    require(sample.nonEmpty, "pqFit: empty input")
    val dim = sample.head.length
    require(dim % m == 0, s"pqFit: dim $dim not divisible by m = $m")
    val sub = dim / m
    PqModel(Array.tabulate(m) { j =>
      localLloyd(
        sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)),
        ksub, seed + j, maxIter)
    })
  }

  /** the `m`-byte PQ code of a vector: per subspace, argmin over the
    * codebook ranked by `|c|² − 2·v·c` with ties to the lower code — `m`
    * runs of the SAME codegen'd [[graft.functions.IvfArgminExpr]] kernel
    * the IVF path uses (same fold order, same tie-break), each over a
    * `slice` of the double-cast vector, so a SQL oracle replicates
    * assignment bit-for-bit from the codebook literals.
    *
    * Storage representation: the byte holds `argmin − 128` — the bias
    * shift maps the full code range [0, 255] onto [−128, 127], so the
    * canonical ksub = 256 configuration (Jégou et al. §V) fits one byte.
    * A plain cast would overflow at code ≥ 128: ANSI mode raises at
    * encode time, and with ANSI off the wrapped negative byte indexes
    * the ADC LUT at wrong (or negative) positions — silent distance
    * corruption. [[adcNanos]] is the single decode site (+128); the
    * shift never escapes this file. Persisted code stores record the
    * encoding version (`enc=bias128`) in their table properties and every
    * probe/append REQUIRES it — a store written under a different byte
    * encoding fails loudly with rebuild advice instead of decoding
    * valid-but-wrong LUT slots. */
  def pqCodes(vec: Column, model: PqModel): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    val v = vec.cast(ArrayType(DoubleType))
    array((0 until model.m).map { j =>
      (GraftSqlBridge.column(graft.functions.IvfArgminExpr(
        GraftSqlBridge.expression(
          slice(v, j * model.subDim + 1, model.subDim)),
        model.codebooks(j))) - lit(128)).cast(ByteType)
    }: _*)
  }

  /** the per-query ADC lookup table in integer NANOS, flattened
    * `j · ksub + c`: entry = round(1e9 · (|cb[j][c]|² − 2·q_j·cb[j][c])) —
    * the |q_j|² term is constant per subspace and folded into
    * [[pqQueryNormNanos]] so the TOTAL is the true squared L2 distance.
    * Integer entries make the ADC sum aggregation-order-independent and
    * exactly embeddable in a SQL oracle ([[sqNorm]]/[[seqDot]] fold
    * orders). */
  private[graft] def pqLutNanos(model: PqModel, query: Seq[Double]): Array[Long] = {
    val q = query.toArray
    require(q.length == model.m * model.subDim,
      s"pqLutNanos: query dim ${q.length} != ${model.m}·${model.subDim}")
    val lut = new Array[Long](model.m * model.ksub)
    var j = 0
    while (j < model.m) {
      val qs = java.util.Arrays.copyOfRange(q, j * model.subDim,
        (j + 1) * model.subDim)
      var c = 0
      while (c < model.ksub) {
        val cb = model.codebooks(j)(c)
        lut(j * model.ksub + c) =
          roundHalfAway((sqNorm(cb) - 2.0 * seqDot(cb, qs)) * 1e9)
        c += 1
      }
      j += 1
    }
    lut
  }

  /** round-half-AWAY-from-zero — SQL `round()` semantics in both Spark and
    * DuckDB. `math.round` rounds half toward +∞ (floor(x+0.5)), which
    * diverges on negative .5 ties — and ADC LUT entries (|c|² − 2·q·c) are
    * routinely negative, so the driver-side literals must use the same
    * rule the SQL oracle's `round()` applies (the [[int8TopK]]
    * query-cell precedent). */
  private def roundHalfAway(v: Double): Long =
    BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Σ_j |q_j|² in nanos — the constant completing [[pqLutNanos]] to the
    * true squared distance (per-subspace rounding matches the LUT's). */
  private[graft] def pqQueryNormNanos(model: PqModel, query: Seq[Double]): Long = {
    val q = query.toArray
    (0 until model.m).map { j =>
      roundHalfAway(sqNorm(java.util.Arrays.copyOfRange(q, j * model.subDim,
        (j + 1) * model.subDim)) * 1e9)
    }.sum
  }

  /** ADC score column: codes (array<byte>) → Σ_j lut[j·ksub + code_j], an
    * exact integer sum of `m` table lookups — no floats touched per row.
    * The LUT literal is materialized into its own column by the callers
    * (the HOF-lambda-trap rule: a captured 128-element array literal would
    * otherwise be rebuilt per element). Decodes [[pqCodes]]'s bias-shifted
    * bytes (+128 → the original [0, ksub) code) — the shift's only other
    * site. */
  private def adcNanos(codesCol: Column, lutCol: Column, m: Int,
                       ksub: Int): Column =
    aggregate(
      zip_with(codesCol, sequence(lit(0), lit(m - 1)),
        (c, j) => element_at(lutCol,
          j * ksub + (c.cast(IntegerType) + 128) + 1)),
      lit(0L), (s, x) => s + x)

  /** PQ-ADC top-k on the fly (codes computed from the float vectors in the
    * same scan — the full-scan reference; [[pqAdcTopKAgainstStore]] is the
    * production shape). Ranking ascends by exact-integer ADC nanos with id
    * ties; the emitted distance divides that integer once (engine-stable).
    * ADC is an APPROXIMATE distance by construction (quantization error
    * bounded by cell radii — pinned in SkewAndIvfSpec, recall measured by
    * q_pq_recall); determinism of the approximation is what's exact. */
  def pqAdcTopK(df: DataFrame, idCol: String, vecCol: String,
                query: Seq[Double], model: PqModel, k: Int): DataFrame =
    adcTopK(df.select(col(idCol), pqCodes(col(vecCol), model).as("codes")),
      idCol, query, model, k)

  /** the ADC top-k of (id, codes) rows: ranked on the exact-integer nanos
    * with id ties, emitted as the rounded distance */
  private def adcTopK(codes: DataFrame, idCol: String, query: Seq[Double],
                      model: PqModel, k: Int): DataFrame =
    codes.withColumn("__lut", array(pqLutNanos(model, query).map(lit): _*))
      .withColumn("__nanos", adcNanos(col("codes"), col("__lut"), model.m,
        model.ksub) + pqQueryNormNanos(model, query))
      .orderBy(col("__nanos"), col(idCol))
      .limit(k)
      .select(col(idCol),
        round(col("__nanos").cast(DoubleType) / 1e9, 6).as("dist_sq"))
      // output order on the ROUNDED distance with id ties — top-k selection
      // ranks on exact nanos, but the emitted frame must order identically
      // to an oracle that only sees the rounded column
      .orderBy(col("dist_sq"), col(idCol))

  /** deterministic PQ model fingerprint (micros-rounded codebook elements)
    * — persisted with the code store and checked at probe time: ADC
    * against codes from a DIFFERENT model is silently wrong, the
    * [[modelFingerprint]] failure class. */
  private[graft] def pqFingerprint(model: PqModel): Long =
    model.codebooks.foldLeft(0L) { (acc, book) =>
      book.foldLeft(31L * acc + book.length) { (a, c) =>
        c.foldLeft(31L * a + c.length)((x, v) => 31L * x + math.round(v * 1e6))
      }
    }

  /** persist the PRE-ENCODED PQ corpus: (id, m code bytes) — the storage
    * shape PQ exists for: probes scan `m` bytes per row (32× under
    * float32 at m=8/dim=64) and never touch the vectors or re-encode.
    * Bucketed managed table with build metadata + model fingerprint, like
    * the int8/LSH/IVF store twins. */
  def writePqStore(df: DataFrame, idCol: String, vecCol: String,
                   model: PqModel, store: String, nBuckets: Int = 64): Unit =
    pqStore(store, idCol, model)
      .create(df.select(col(idCol), pqCodes(col(vecCol), model).as("codes")),
        nBuckets)

  /** the PQ code store `<store>_pq (id, codes, __batch)`, bucketed by id;
    * the batch is (id, codes) */
  private def pqStore(store: String, idCol: String,
                      model: PqModel): StoreSpec =
    StoreSpec(store,
      Map("kind" -> "pq", "fp" -> pqFingerprint(model).toString,
        "enc" -> "bias128"),
      Seq(Table("_pq", idCol, identity, tagged = true)),
      required = Set("enc"))

  /** idempotent batched append to a [[writePqStore]] store: encode the
    * batch under the SAME fingerprint-checked model and append it through
    * [[graft.sources.StoreTable.appendOnce]] — a replayed batchId
    * (streaming retry, crash-recovery re-delivery) is skipped exactly.
    * Returns whether the append ran. Batches must be id-disjoint from prior
    * content (the ingest contract of every accreting store here);
    * same-bucket appends accrete one file per bucket per batch — compact on
    * the store's maintenance cadence
    * ([[graft.sources.Sources.compactBucketed]]). */
  def appendPqStore(df: DataFrame, idCol: String, vecCol: String,
                    model: PqModel, store: String,
                    batchId: Long = -1L): Boolean =
    pqStore(store, idCol, model).appendOnce(
      df.select(col(idCol), pqCodes(col(vecCol), model).as("codes")), batchId)

  /** top-k against a [[writePqStore]] store — same result as [[pqAdcTopK]]
    * BY CONSTRUCTION (encoding is deterministic and happened at write
    * time); the scan reads stored code bytes only. Fails loudly if the
    * store was encoded under a different model (fingerprint check). */
  def pqAdcTopKAgainstStore(spark: SparkSession, store: String, idCol: String,
                            query: Seq[Double], model: PqModel, k: Int,
                            extraFilter: Column = lit(true)): DataFrame = {
    pqStore(store, idCol, model).check(spark)
    adcTopK(spark.table(s"${store}_pq").filter(extraFilter), idCol, query,
      model, k)
  }

  /** PQ-ADC with exact RE-RANKING — the production IVFADC+R architecture
    * (Jégou et al. §V): the code scan ranks ALL rows by exact-integer ADC,
    * the top `rerank` candidate ids (R ≪ corpus) join back to their float
    * vectors for an exact squared-L2 re-rank, and the final top-k is
    * exact over that candidate set. Pure ADC is cell-resolution-limited
    * (recall@10 ≈ 0.3 on structure-free random vectors — measured,
    * q_pq_recall); re-ranking recovers exactness wherever the true
    * neighbors survive into the top R, at the cost of fetching R float
    * rows per query (a broadcast-semi-join against the corpus — at 100 TB
    * the ID join is index-shaped, R rows of float I/O per query).
    * Determinism: candidate selection is exact-integer ADC; the re-rank
    * double (|v|² − 2·q·v + |q|²) uses the engine-shared left fold, so
    * ordering and the 6-dp emission replicate in SQL. */
  def pqAdcRerankTopK(df: DataFrame, idCol: String, vecCol: String,
                      query: Seq[Double], model: PqModel, k: Int,
                      rerank: Int = 50): DataFrame = {
    require(rerank >= k, s"pqAdcRerankTopK: rerank $rerank < k $k")
    val cand = pqAdcTopK(df, idCol, vecCol, query, model, rerank)
      .select(col(idCol))
    val q = array(query.map(lit): _*)
    val qn2 = sqNorm(query.toArray)
    val v = col("__v")
    df.join(broadcast(cand), Seq(idCol))
      .select(col(idCol), col(vecCol).cast(ArrayType(DoubleType)).as("__v"))
      .withColumn("__raw",
        dotProduct(v, v) - lit(2.0) * dotProduct(v, q) + lit(qn2))
      .orderBy(col("__raw"), col(idCol))
      .limit(k)
      .select(col(idCol), round(col("__raw"), 6).as("dist_sq"))
  }

  /** persist the IVF-PQ COMPOSITE index (the FAISS "IVFADC" shape, Jégou
    * et al. §V): rows are IVF-assigned to cells AND PQ-encoded, stored as
    * (id, m code bytes) PARTITIONED BY CELL. A probe then multiplies the
    * two savings that [[writeIvfStore]] and [[writePqStore]] each deliver
    * alone: partition pruning reads only ~nprobe/k of the FILES, and each
    * surviving row is m bytes instead of dim·4 float bytes — at 100 TB of
    * float32 vectors with k=4096 cells, nprobe=8, m=8/dim=64, a query
    * touches ~100TB · (8/4096) / 32 ≈ 6 GB. Both models are
    * fingerprinted; probing under either wrong model fails loudly. */
  def writeIvfPqStore(df: DataFrame, idCol: String, vecCol: String,
                      ivf: IvfModel, pq: PqModel, store: String): Unit =
    ivfPqStore(store, ivf, pq).create(ivfAssign(df, vecCol, ivf)
      .select(col(idCol), pqCodes(col(vecCol), pq).as("codes"),
        col("__cluster")))

  private def ivfPqStore(store: String, ivf: IvfModel,
                         pq: PqModel): StoreSpec =
    StoreSpec(store,
      Map("kind" -> "ivfpq", "ivfFp" -> modelFingerprint(ivf),
        "pqFp" -> pqFingerprint(pq).toString, "enc" -> "bias128"),
      Seq(Table("_pqcells", "__cluster", identity, partitioned = true)),
      required = Set("enc"))

  /** ADC top-k against a [[writeIvfPqStore]] store: rank the `nprobe`
    * nearest cells driver-side ([[ivfProbes]] — pure k-centroid math),
    * PARTITION-prune the code scan to those cells, and rank survivors by
    * the exact-integer ADC sum. Same determinism contract as
    * [[pqAdcTopK]] (integer ranking, id ties, rounded emission), so the
    * generated two-model oracle replicates cell ranking, encoding, and
    * ADC bit-for-bit. Recall stacks the two approximations (cell miss +
    * quantization); compose with [[pqAdcRerankTopK]]'s candidate-fetch
    * pattern when exactness-within-candidates matters. */
  def ivfPqTopK(spark: SparkSession, store: String, ivf: IvfModel,
                pq: PqModel, idCol: String, query: Seq[Double], k: Int,
                nprobe: Int = 4,
                extraFilter: Column = lit(true)): DataFrame = {
    ivfPqStore(store, ivf, pq).check(spark)
    val probes = ivfProbes(ivf, query, nprobe)
    adcTopK(spark.table(s"${store}_pqcells")
      .filter(col("__cluster").isin(probes.map(Int.box): _*))
      .filter(extraFilter), idCol, query, pq, k)
  }

  /** brute-force exact top-k by squared L2 (ranked by `|v|² − 2·v·q`, the
    * |q|² constant dropped; ties to the lower id) — the ground truth
    * [[pqAdcTopK]]'s recall is measured against, fold orders matching
    * DuckDB's `list_dot_product`. */
  def bruteL2TopK(df: DataFrame, idCol: String, vecCol: String,
                  query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    val v = col("__v")
    df.select(col(idCol), col(vecCol).cast(ArrayType(DoubleType)).as("__v"))
      .withColumn("__rank", dotProduct(v, v) - lit(2.0) * dotProduct(v, q))
      .orderBy(col("__rank"), col(idCol))
      .limit(k)
      .select(col(idCol))
  }
}
