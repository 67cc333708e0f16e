package graft

/** Plan-audit main: prints the formatted physical plan for selected queries
  * and greps it for the scale-critical properties (PushedFilters reaching the
  * parquet scan, pruned ReadSchema, WholeStageCodegen spans, broadcast vs
  * shuffle joins, no single-partition exchanges).
  * Usage: runMain graft.Explain <sfDir> [queryName ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q_mask_slice", "q_join_broadcast", "q_group_agg", "q_topk",
        "q_media_meta", "q_cosine_topk",
        // round-12b probe family: the audits that matter here are pruned
        // store scans (In(term,…) pushdown, no corpus re-tokenize/requantize)
        "q_search_index", "q_ann_int8_store", "q_zorder")
    val spark = ToolSession.start()
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n========== $name ==========")
        val df = fn(spark, sfDir)
        // collect() executes df's OWN queryExecution (count() would spawn a
        // separate one and leave this plan non-final under AQE)
        df.collect()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        println(plan)
        def has(s: String) = plan.contains(s)
        // formatted mode marks whole-stage-codegen'd operators with a
        // [codegen id : N] annotation on the executed plan
        println(s"[audit] $name: pushedFilters=${has("PushedFilters: [")}" +
          s" codegen=${has("[codegen id :")}" +
          s" broadcastJoin=${has("BroadcastHashJoin")}" +
          s" singlePartition=${has("SinglePartition")}")
      }
    }
    spark.stop()
  }
}
