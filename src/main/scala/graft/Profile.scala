package graft

/** Diagnostic main: per-query wall time split into (plan+first-action) vs a
  * repeat run, to separate Catalyst planning/codegen cost from execution.
  * Usage: runMain graft.Profile <sfDir> [queryName ...] */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession.start()
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val cold = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        fn(spark, sfDir).count()
        val warm = (System.nanoTime() - t1) / 1e9
        println(f"[profile] $name%-22s cold=$cold%7.2fs warm=$warm%7.2fs")
      }
    }
    spark.stop()
  }
}
