package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (sorted by name) holding the oracles of exactly
  * the queries this run selected, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names, for fast local iteration
    // on a subset (the driver always runs the full set with 2 args)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    val spark = ToolSession.start()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.isEmpty || only.contains(name)
    }
    selected.foreach { case (name, fn) =>
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query WRITE-path seconds: the honest scale-probe timing for
        // queries whose payload a bench .count() would column-prune
        // (reassembled text, report columns) — see BASELINE Appendix B
        System.err.println(f"[verify] $name ok in " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // one policy for every oracle: a recompute that cannot run degrades
    // that query to the rows-only check instead of failing the whole dump
    val oracles = selected.keys.toSeq.sorted.flatMap { name =>
      try SparkEntry.oracleSql(spark, sfDir, Set(name))
      catch { case e: Exception =>
        System.err.println(s"[verify] $name oracle failed, rows-only: $e")
        Map.empty[String, String]
      }
    }
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness
    def q(s: String): String = JsonUtil.quote(s)
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
