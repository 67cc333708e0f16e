package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import scala.collection.mutable

/** Per-stage profiler for ONE registered query — the measurement tool behind
  * OPTIMIZATION_r21.md (spark_optimization_guide §1/§7: decide whether time
  * goes to scan compute, shuffle, or the driver BEFORE changing anything).
  * The UI is disabled in the bench harness, so this listener reconstructs the
  * stage table the UI would show: per stage — task count, summed/max task
  * wall time, executor CPU time, shuffle read/write bytes, input bytes.
  * A max/med task-time ratio far above 1 at numTasks>1 is the skew signature
  * (guide §2.5); sum(task time) ≪ wall time means driver-side planning /
  * single-threaded scan (guide §7.3).
  *
  * Usage: runMain graft.ProbeQueryStages <query> <sfDir> [reps=1]
  */
object ProbeQueryStages {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ProbeQueryStages <query>[,<query2>,...] <sfDir> [reps]")
    // comma-separated list: profile several queries in ONE JVM (each still
    // gets its own untimed warm rep) — a per-query JVM pays ~60 s of sbt +
    // session + warmup for every data point, which throttles the r22
    // measure-first loop to a crawl
    val (qnames, dir) = (args(0).split(",").map(_.trim).toSeq, args(1))
    val reps = if (args.length >= 3) args(2).toInt else 1
    qnames.foreach(q =>
      require(SparkEntry.queries.contains(q), s"unknown query '$q'"))
    val spark = ToolSession.start()
    val cpus = spark.sparkContext.defaultParallelism

    case class StageAgg(var name: String = "", var tasks: Int = 0,
                        var sumMs: Long = 0, var maxMs: Long = 0,
                        var cpuMs: Long = 0, var shufReadMB: Double = 0,
                        var shufWriteMB: Double = 0, var inputMB: Double = 0,
                        var spillMB: Double = 0, var gcMs: Long = 0,
                        var deserMs: Long = 0)
    val stages = mutable.LinkedHashMap[Int, StageAgg]()
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        val a = stages.getOrElseUpdate(t.stageId, StageAgg())
        val m = t.taskMetrics
        if (m != null) {
          val ms = m.executorRunTime
          a.tasks += 1; a.sumMs += ms; a.maxMs = math.max(a.maxMs, ms)
          a.cpuMs += m.executorCpuTime / 1000000L
          a.shufReadMB += m.shuffleReadMetrics.totalBytesRead / 1e6
          a.shufWriteMB += m.shuffleWriteMetrics.bytesWritten / 1e6
          a.inputMB += m.inputMetrics.bytesRead / 1e6
          a.spillMB += m.diskBytesSpilled / 1e6
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          stages.getOrElseUpdate(s.stageInfo.stageId, StageAgg()).name =
            s.stageInfo.name.takeWhile(_ != '\n').take(90)
        }
    }

    spark.sparkContext.addSparkListener(listener)
    qnames.foreach { qname =>
      // untimed warm rep so codegen/JIT/planning first-touch doesn't pollute
      // the profiled rep (same contract as Bench.warmup, scoped to this query)
      SparkEntry.queries(qname)(spark, dir).count()
      spark.catalog.clearCache(); System.gc()

      var lastWall = 0.0
      (1 to reps).foreach { i =>
        stages.clear(); jobs = 0
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(qname)(spark, dir).count()
        lastWall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // let the listener bus drain (private API in Spark 4)
        println(f"\n=== $qname rep $i: wall $lastWall%.3f s, rows $n, jobs $jobs ===")
        println(f"${"stage"}%-7s ${"tasks"}%5s ${"sum_s"}%8s ${"max_s"}%7s " +
          f"${"cpu_s"}%7s ${"gc_s"}%6s ${"dsr_s"}%6s ${"in_MB"}%7s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"spill"}%6s  name")
        val rows = stages.toSeq.sortBy(-_._2.sumMs)
        rows.foreach { case (id, a) =>
          println(f"$id%-7d ${a.tasks}%5d ${a.sumMs / 1e3}%8.2f ${a.maxMs / 1e3}%7.2f " +
            f"${a.cpuMs / 1e3}%7.2f ${a.gcMs / 1e3}%6.2f ${a.deserMs / 1e3}%6.2f " +
            f"${a.inputMB}%7.1f ${a.shufReadMB}%7.1f " +
            f"${a.shufWriteMB}%7.1f ${a.spillMB}%6.1f  ${a.name}")
        }
        val sumAll = stages.values.map(_.sumMs).sum / 1e3
        val cpuAll = stages.values.map(_.cpuMs).sum / 1e3
        println(f"TOTAL task-time $sumAll%.2f s, cpu $cpuAll%.2f s over wall " +
          f"$lastWall%.3f s (parallelism used = ${sumAll / lastWall}%.1f of $cpus cores)")
        spark.catalog.clearCache(); System.gc()
      }
    }
    spark.stop()
  }
}
