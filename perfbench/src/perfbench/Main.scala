package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Manifest of a generated input directory: `manifest.properties` holds
  * the row counts, bytes and planted rates the generator reported. */
object Manifest {
  def write(dir: Path, m: Map[String, Any]): Unit = {
    val p = new java.util.Properties()
    m.foreach { case (k, v) => p.setProperty(k, v.toString) }
    val out = Files.newOutputStream(dir.resolve("manifest.properties"))
    try p.store(out, null) finally out.close()
  }
  def read(dir: Path): Map[String, String] = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(dir.resolve("manifest.properties"))
    try p.load(in) finally in.close()
    p.stringPropertyNames().toArray(Array.empty[String]).map(k => k -> p.getProperty(k)).toMap
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * [--inject-fault]`, run from the root of a checkout. Prints, as its last
  * line, `{"correct", "attempted", "failed", "metrics"}`; see README.md. */
object Main {
  val Layers = Seq("DF", "Summary", "Relational", "Profiling", "LinkGraph",
    "TextAnalysis", "Dedup", "Sampling", "Multimodal", "Search", "Sources")
  val PercentileSamples = 100
  val TraceBudgetS = 35.0

  /** every per-layer metric, in the order BENCHMARK.json lists them; a
    * workload reports 0 for the ones that do not apply to it */
  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => Seq(s"$l.calls" -> "count", s"$l.self_s" -> "s",
      s"$l.jobs" -> "count", s"$l.tasks" -> "count", s"$l.task_cpu_s" -> "s",
      s"$l.gc_s" -> "s", s"$l.shuffle_write_mb" -> "MB", s"$l.spill_mb" -> "MB")) ++
    Seq("spark.plan_ms" -> "ms", "spark.driver_gap_s" -> "s",
      "spark.utilization" -> "ratio", "spark.jobs" -> "count",
      "spark.tasks" -> "count", "spark.gc_s" -> "s", "spark.input_mb" -> "MB",
      "spark.shuffle_read_mb" -> "MB", "spark.files_written" -> "count",
      "TextAnalysis.gate_keep_ratio" -> "ratio",
      "Dedup.keep_ratio.decontaminate" -> "ratio", "Dedup.keep_ratio.exact" -> "ratio",
      "Dedup.keep_ratio.near" -> "ratio", "Dedup.keep_ratio.span" -> "ratio",
      "Dedup.keep_ratio.image" -> "ratio", "Search.rows_read_per_hit" -> "ratio",
      "Sources.files_per_bucket" -> "ratio", "Sources.write_amplification" -> "ratio",
      "Multimodal.gc_share" -> "ratio",
      "call_p50_ms" -> "ms", "call_p90_ms" -> "ms", "call_samples" -> "count",
      "failed_ratio" -> "ratio",
      "trace.pass_s" -> "s", "trace.residual_s" -> "s",
      "trace.overhead_ratio" -> "ratio", "trace.replay_gap_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload: Workload = opt.get("--workload") match {
      case Some("curate") => new Curate
      case Some("frames") => new Frames
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val seed = opt.getOrElse("--seed", "1").toLong
    val seconds = opt.getOrElse("--seconds", "10").toDouble
    val traced = opt.getOrElse("--trace", "0") == "1"
    val fault = args.contains("--inject-fault")
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(".bench_build", "perfbench").toAbsolutePath
    val runDir = Files.createDirectories(work.resolve(s"run-${ProcessHandle.current().pid()}"))
    val inputRoot = opt.get("--inputs").map(Paths.get(_)).getOrElse(work.resolve("inputs"))
    val inputs = inputRoot.resolve(s"${workload.name}-$seed")
    try {
      if (args.contains("--generate")) generate(workload, seed, cores, inputs, runDir)
      else run(workload, seed, seconds, traced, fault, cores, work, inputs, runDir)
    } finally deleteTree(runDir)
  }

  /** Inputs are generated once per (workload, seed), in a JVM of their own
    * so that set-up is equally cold whether or not they were cached. */
  private def generate(wl: Workload, seed: Long, cores: Int, inputs: Path,
                       runDir: Path): Unit =
    if (!Files.exists(inputs.resolve("manifest.properties"))) {
      deleteTree(inputs)
      val tmp = inputs.resolveSibling(s".tmp-${inputs.getFileName}")
      deleteTree(tmp)
      Files.createDirectories(tmp)
      val spark = Session.start(runDir, cores)
      try Manifest.write(tmp, wl.generate(spark, tmp, seed) + ("seed" -> seed))
      finally spark.stop()
      Files.move(tmp, inputs)
    }

  private def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean,
                  fault: Boolean, cores: Int, work: Path, inputs: Path,
                  runDir: Path): Unit = {
    println("inputs " + Json.render(Manifest.read(inputs)))

    // ---- set-up: session start, opening the inputs, one warm pass ----
    System.gc()
    val st0 = System.nanoTime()
    val spark = Session.start(runDir, cores)
    wl.open(spark, inputs)
    wl.pass(new Ctx(-1, None, false), record = false)
    val setupS = (System.nanoTime() - st0) / 1e9
    wl.afterPass(spark); wl.reset(spark)

    // ---- timed passes ----
    // Untraced: passes until `seconds` have elapsed, at least wl.minPasses.
    // Traced: untraced passes until the workload's latency percentiles will
    // have PercentileSamples samples (within TraceBudgetS), then one round of
    // untraced / traced (/ replayed, for a workload whose traced pass
    // replays its composition): the overhead compares adjacent passes.
    val kinds: Seq[String] =
      if (!traced) Seq("plain")
      else if (wl.replays) Seq("plain", "traced", "replay")
      else Seq("plain", "traced")
    val passS = ArrayBuffer.empty[(String, Double)]
    val calls = ArrayBuffer.empty[CallRec]
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var roundsFrom = if (traced) -1 else 0
    def more: Boolean = {
      if (roundsFrom < 0) {
        val samples = calls.count(c => wl.percentileCall(c.name))
        // the round's untraced pass adds one pass's worth of samples
        if (passS.nonEmpty && (samples == 0 || elapsed >= TraceBudgetS ||
            samples * (passS.length + 1) >= PercentileSamples * passS.length))
          roundsFrom = passS.length
      }
      if (!traced) passS.length < wl.minPasses || elapsed < seconds
      else roundsFrom < 0 || passS.length < roundsFrom + kinds.length
    }
    while (more) {
      val p = passS.length
      val kind = if (roundsFrom < 0) "plain" else kinds((p - roundsFrom) % kinds.length)
      quiesce(spark)
      val tr = if (kind == "plain") None else tracer
      tr.foreach(_.attach())
      val span = tr.map(_.beginPass(p, if (kind == "traced" && wl.replays)
        "pass:composed" else "pass"))
      val ctx = new Ctx(p, tr, kind == "replay")
      val s0 = System.nanoTime()
      wl.pass(ctx, record = true)
      val s = (System.nanoTime() - s0) / 1e9
      for (t <- tr; sp <- span) t.endPass(sp)
      tr.foreach(_.detach())
      passS += ((kind, s))
      System.err.println(f"[perfbench] pass $p $kind $s%.3f s")
      calls ++= ctx.calls
      wl.afterPass(spark); wl.reset(spark)
    }

    // ---- checks, after timing ----
    val tally = new Tally
    calls.foreach(c => tally.wrong(!c.threw, s"pass ${c.pass}: ${c.name} threw"))
    tally.attempted = calls.length
    if (fault) wl.injectFault()
    wl.check(spark, tally)
    tally.problems.foreach(x => System.err.println(s"[perfbench] FAILED $x"))

    def med(kind: String) = Stats.median(passS.filter(_._1 == kind).map(_._2).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(("setup_s", setupS, "s"),
        ("pass_s", med("plain"), "s"))
      else {
        val t = tracer.get
        val plainPasses = passS.indices.filter(i => passS(i)._1 == "plain").toSet
        val untracedCalls = calls.filter(c => plainPasses(c.pass)).toSeq
        val traceFile = work.resolve("trace").resolve(s"${wl.name}-$seed.json")
        Files.createDirectories(traceFile.getParent)
        Files.write(traceFile, t.dump().getBytes("UTF-8"))
        val figures = t.summarize(Layers, cores) ++
          wl.layerFigures(t, untracedCalls) ++ Map(
            "failed_ratio" -> tally.failed.toDouble / math.max(tally.attempted, 1),
            "trace.overhead_ratio" -> med("traced") / Stats.median(
              passS.drop(roundsFrom).filter(_._1 == "plain").map(_._2).toSeq)) ++
          (if (wl.replays) Map("trace.replay_gap_s" -> (med("replay") - med("traced")))
           else Map.empty)
        PerLayer.map { case (k, unit) => (k, figures.getOrElse(k, 0.0), unit) }
      }
    val samples = passS.groupBy(_._1).map { case (k, v) => k -> v.length }
    println("samples " + Json.render(Map("passes" -> samples,
      "calls" -> calls.length)))
    println("call_median_ms " + Json.render(calls.groupBy(_.name).map { case (k, v) =>
      k -> math.round(Stats.median(v.map(_.ms).toSeq)) }))
    spark.stop()
    val correct = tally.failed == 0
    println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> tally.attempted, "failed" -> tally.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (k, v, u) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))))
  }

  /** outside timing: drop cached data and force a collection */
  private def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
