package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer (`Layer.fn`) or one pass (`pass`).
  * Spans of one pass share `pass`; call spans name the pass span as
  * parent. Times are epoch millis (to line up with Spark's event times);
  * `durNs` is the monotonic duration. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startMs: Long, var endMs: Long, var durNs: Long)

/** Task counters summed per job. */
final class JobCounters {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var inputRecords = 0L; var outputBytes = 0L
}

final class JobRec(val id: Int, val startMs: Long, val tagSpan: Int) {
  @volatile var endMs: Long = -1L
  val c = new JobCounters
}

/** per query execution: when planning began and its planning time */
final case class QeRec(startMs: Long, planMs: Long)

/** The benchmark's tracer. Spans are opened around each call from the
  * benchmark's own code and kept in memory; a `SparkListener` and a
  * `QueryExecutionListener` collect job, task and planning counters, which
  * are attributed to spans through job tags (falling back to the span
  * whose interval covers the job's start, for jobs submitted from pool
  * threads that did not inherit the tag). The listener bus is drained by
  * [[drain]], which callers invoke outside every timed region. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var currentPass = -1
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  private val TagPrefix = "pbspan-"
  /** files written while attached, from the write commands' driver-side
    * "number of written files" metric updates */
  @volatile var filesWritten = 0L

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  def drain(): Unit = BenchBus.drain(sc)

  def beginPass(pass: Int, name: String): Span = { currentPass = pass; open(name) }
  def endPass(s: Span): Unit = { close(s); currentPass = -1 }

  def open(name: String): Span = {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.length, name, parent, currentPass,
      System.currentTimeMillis(), -1L, System.nanoTime())
    spans += s
    open = s :: open
    if (!name.startsWith("pass")) sc.addJobTag(TagPrefix + s.id)
    s
  }
  def close(s: Span): Unit = {
    s.durNs = System.nanoTime() - s.durNs
    s.endMs = System.currentTimeMillis()
    open = open.filterNot(_ eq s)
    if (!s.name.startsWith("pass")) sc.removeJobTag(TagPrefix + s.id)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.tags"))).getOrElse("")
    val tagged = tags.split(",").filter(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toInt)
    e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
    jobs.put(e.jobId, new JobRec(e.jobId, e.time,
      if (tagged.isEmpty) -1 else tagged.max))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    if (m != null) j.foreach { jr =>
      val c = jr.c
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      qes.add(QeRec(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerDriverAccumUpdates =>
      u.accumUpdates.foreach { case (id, v) =>
        if (BenchBus.accumulatorName(id).contains("number of written files"))
          filesWritten += v
      }
    case _ =>
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  // ---- attribution -------------------------------------------------------

  private def passSpans: Seq[Span] = spans.filter(_.name == "pass").toSeq
  private def children(p: Span): Seq[Span] =
    spans.filter(s => s.parent == p.id).toSeq

  /** the call span a job belongs to, or -1 for harness work in a pass */
  private def spanOf(j: JobRec): Int =
    if (j.tagSpan >= 0) j.tagSpan
    else spans.find(s => !s.name.startsWith("pass") && s.startMs <= j.startMs &&
      j.startMs <= s.endMs).map(_.id).getOrElse(-1)

  private def inPass(p: Span, t: Long): Boolean = p.startMs <= t && t <= p.endMs

  /** Per-pass means over the traced passes: per layer, calls, self time,
    * jobs, tasks, task CPU, GC, shuffle write and spill; engine-wide
    * counters; and the residual (pass time no call span covers). */
  def summarize(layers: Seq[String], cores: Int): Map[String, Double] = {
    val passes = passSpans
    val n = math.max(passes.length, 1).toDouble
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val allJobs = jobs.values.asScala.toSeq
    val jobsBySpan = allJobs.groupBy(spanOf)
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v / n
    layers.foreach { l =>
      Seq("calls", "self_s", "jobs", "tasks", "task_cpu_s", "gc_s",
        "shuffle_write_mb", "spill_mb").foreach(m => out(s"$l.$m") = 0.0)
    }
    var childSum = 0.0
    passes.foreach { p =>
      children(p).foreach { s =>
        val layer = s.name.takeWhile(_ != '.')
        val grand = children(s).map(_.durNs).sum
        val self = (s.durNs - grand) / 1e9
        childSum += s.durNs / 1e9
        if (layers.contains(layer)) {
          add(s"$layer.calls", 1)
          add(s"$layer.self_s", self)
          jobsBySpan.getOrElse(s.id, Nil).foreach { j =>
            add(s"$layer.jobs", 1)
            add(s"$layer.tasks", j.c.tasks.toDouble)
            add(s"$layer.task_cpu_s", j.c.cpuNs / 1e9)
            add(s"$layer.gc_s", j.c.gcMs / 1e3)
            add(s"$layer.shuffle_write_mb", j.c.shuffleWrite / 1e6)
            add(s"$layer.spill_mb", j.c.spill / 1e6)
          }
        }
      }
    }
    val passS = passes.map(_.durNs / 1e9)
    out("trace.pass_s") = Stats.mean(passS)
    out("trace.residual_s") = (passS.sum - childSum) / n
    // engine-wide, over every job that started inside a traced pass
    val pj = allJobs.filter(j => passes.exists(p => inPass(p, j.startMs)))
    def tot(f: JobCounters => Long) = pj.map(j => f(j.c)).sum.toDouble / n
    out("spark.jobs") = pj.length / n
    out("spark.tasks") = tot(_.tasks)
    out("spark.gc_s") = tot(_.gcMs) / 1e3
    out("spark.input_mb") = tot(_.inputBytes) / 1e6
    out("spark.shuffle_read_mb") = tot(_.shuffleRead) / 1e6
    val pq = qes.asScala.toSeq.filter(q => passes.exists(p => inPass(p, q.startMs)))
    out("spark.plan_ms") = pq.map(_.planMs).sum / n
    out("spark.files_written") = filesWritten / n
    // wall time of a pass that no running job covers
    val gaps = passes.map { p =>
      val iv = pj.filter(j => inPass(p, j.startMs))
        .map(j => (j.startMs, if (j.endMs < 0) p.endMs else math.min(j.endMs, p.endMs)))
        .sortBy(_._1)
      var covered = 0L; var reach = p.startMs
      iv.foreach { case (s, e) =>
        val s1 = math.max(s, reach)
        if (e > s1) { covered += e - s1; reach = e }
      }
      (p.endMs - p.startMs - covered) / 1e3
    }
    out("spark.driver_gap_s") = Stats.mean(gaps)
    val wallMs = passes.map(p => (p.endMs - p.startMs).toDouble).sum
    out("spark.utilization") =
      if (wallMs <= 0) 0.0 else pj.map(_.c.runMs).sum / (wallMs * cores)
    out.toMap
  }

  /** task run time, GC and input records of the jobs attributed to spans
    * whose name satisfies `p` */
  def countersWhere(p: String => Boolean): JobCounters = {
    val ids = spans.filter(s => p(s.name)).map(_.id).toSet
    val c = new JobCounters
    jobs.values.asScala.filter(j => ids.contains(spanOf(j))).foreach { j =>
      c.runMs += j.c.runMs; c.gcMs += j.c.gcMs; c.inputRecords += j.c.inputRecords
    }
    c
  }

  /** spans and job records, written when the run ends */
  def dump(): String = Json.render(Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "pass" -> s.pass, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6)),
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "span" -> spanOf(j), "start_ms" -> j.startMs,
      "end_ms" -> j.endMs, "tasks" -> j.c.tasks, "run_ms" -> j.c.runMs,
      "cpu_ms" -> j.c.cpuNs / 1e6, "gc_ms" -> j.c.gcMs)),
    "queries" -> qes.asScala.toSeq.map(q => Map("start_ms" -> q.startMs,
      "plan_ms" -> q.planMs))))
}
