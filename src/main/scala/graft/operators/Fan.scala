package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Input-skew remedy (spark_optimization_guide.md §2.5 "one huge
  * unsplittable file ... repartition immediately after the read", §2.6 idle
  * capacity): the bench/correctness fixtures are SINGLE-ROW-GROUP parquet
  * files, which the parquet reader cannot split — every scan-rooted narrow
  * chain (tokenize→shingle→hash, decode, per-row lambdas, map-side partial
  * aggregation) therefore runs as ONE task no matter how many cores the
  * session has (r21 profile: q_curation ran 20 jobs at parallelism 0.7 of
  * 32 cores; q_decontaminate_exact spent 0.9 s of its 1.8 s wall in one
  * single-task tokenize stage).
  *
  * [[out]] round-robin-repartitions to the session's default parallelism,
  * but ONLY when the plan's current partitioning is at or below half of it —
  * at production scale the inputs are many splittable files, the scan is
  * already wider than the core count, and the fan-out is a no-op (checking
  * the real partition count, not a constant, is what keeps this
  * scale-adaptive rather than a local[32] tuning). The shuffle it introduces
  * moves the narrow projected rows ONCE before the expensive per-row work —
  * the guide §8 "move heavy bytes once, decide on light rows" shape — and
  * round-robin assignment is deterministic under Spark's default
  * sort-before-repartition.
  *
  * Placement rules at call sites (checked against captured plans in
  * plans/r21/): only where downstream results are partitioning-independent
  * (row-wise maps, filters, hash aggregations, key joins — never above
  * positional-id assignment or unordered limits), and AFTER any cheap
  * selective filter (Catalyst pushes deterministic filters below a
  * repartition, so a fan-out placed under a filter silently re-serializes
  * the work it meant to spread). */
object Fan {

  /** true iff the optimized plan is NARROW — scans/checkpoints plus
    * row-local operators only. Two reasons to require this before probing
    * partition counts: (1) post-shuffle parallelism is governed by
    * spark.sql.shuffle.partitions + AQE, not input splits, so a fan-out
    * above a shuffle is never the right fix; (2) under AQE,
    * `df.rdd.getNumPartitions` on a plan WITH exchanges materializes the
    * final plan by EXECUTING its query stages — the probe itself would run
    * the upstream job twice. */
  private def isNarrow(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    // ALLOW-list of known row-local nodes (r22, ADVICE item): the r21
    // deny-list (Join/Aggregate/Window/...) classified every OTHER
    // exchange-introducing node as narrow — and then the partition-count
    // probe below could execute upstream query stages under AQE, the exact
    // hazard the scaladoc warns about. Anything unrecognized now counts as
    // NOT narrow (Fan.out degrades to a no-op — safe in both directions:
    // no early execution, no fan above a shuffle). The listed nodes cover
    // every current call site's inputs: parquet/file scans (v1 relation or
    // v2 scan), localCheckpoint results (LogicalRDD), projections,
    // deterministic filters, explodes (Generate), unions of those, and
    // literal relations.
    !df.queryExecution.optimizedPlan.exists {
      case _: Project | _: Filter | _: Generate | _: Union |
           _: LogicalRDD | _: LogicalRelation | _: DataSourceV2ScanRelation |
           _: LocalRelation | _: OneRowRelation => false
      case _ => true
    }
  }

  /** with `keys`, the fan hash-partitions on them instead of dealing rows
    * round-robin, so a consumer clustered on the keys (a window or an
    * aggregate) plans no exchange of its own */
  def out(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!df.isStreaming && target > 1 && isNarrow(df) &&
        df.rdd.getNumPartitions * 2 <= target)
      if (keys.isEmpty) df.repartition(target) else df.repartition(target, keys: _*)
    else df
  }
}
