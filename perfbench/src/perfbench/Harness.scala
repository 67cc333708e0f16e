package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** Minimal JSON writer for the result line, manifests and traces. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Order statistics. `quantile` interpolates linearly between order
  * statistics, as Python's `statistics.quantiles(method="inclusive")` and
  * numpy's default do. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** The session every run uses: the session config of the repository's
  * `Bench` main (`local[nproc]`, shuffle partitions = nproc, UTC, no UI) with a fresh
  * warehouse and local dir under the run's own directory, bound to the
  * loopback interface. */
object Session {
  def start(runDir: Path, cores: Int): SparkSession = {
    val wh = Files.createTempDirectory(runDir, "warehouse")
    val local = Files.createDirectories(runDir.resolve("spark-local"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh.toString)
      .config("spark.local.dir", local.toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** One timed call into graft. `ms` is wall time on the driver. */
final case class CallRec(pass: Int, name: String, ms: Double, threw: Boolean)

/** Per-pass call recorder: every call into graft goes through [[call]],
  * which times it from outside the program and, in a traced pass, wraps it
  * in a span named `Layer.fn`. */
final class Ctx(val pass: Int, val tracer: Option[Tracer], val replay: Boolean) {
  val calls = ArrayBuffer.empty[CallRec]

  def call[T](name: String)(body: => T): Option[T] = {
    val span = tracer.map(_.open(name))
    val t0 = System.nanoTime()
    val r =
      try Some(body)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] pass $pass: $name threw $e")
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    for (t <- tracer; s <- span) t.close(s)
    calls += CallRec(pass, name, ms, r.isEmpty)
    r
  }
}

/** Tally of checked results: the calls attempted, and the ones that threw
  * or returned a wrong result. */
final class Tally {
  var attempted = 0
  var failed = 0
  val problems = ArrayBuffer.empty[String]
  def wrong(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; if (problems.length < 20) problems += what }
}

/** A workload: seeded inputs, a pass made of timed calls, and checks that
  * run after timing. Implementations keep per-run results in fields. */
trait Workload {
  def name: String
  /** write the inputs for `seed` under `dir`; returns the manifest
    * (row counts, bytes, planted rates). Runs before any timing. */
  def generate(spark: SparkSession, dir: Path, seed: Long): Map[String, Any]
  /** open the inputs in a fresh session (part of set-up). */
  def open(spark: SparkSession, dir: Path): Unit
  /** one pass; `record` is false for warm passes, whose results are not
    * kept. A traced pass may differ in how it calls graft (see Curate). */
  def pass(ctx: Ctx, record: Boolean): Unit
  /** timed passes are at least this many: a workload whose pass is one
    * short call takes the median of several (see NOISE.md) */
  def minPasses: Int = 1
  /** whether a traced pass replays a composed call as its stage calls */
  def replays: Boolean = false
  /** the calls whose latency percentiles the traced run reports */
  def percentileCall(name: String): Boolean = false
  /** bookkeeping after a pass, outside timing */
  def afterPass(spark: SparkSession): Unit = ()
  /** restore the state a pass starts from (outside timing). */
  def reset(spark: SparkSession): Unit = ()
  /** compare every recorded result with its reference; no timed jobs. */
  def check(spark: SparkSession, tally: Tally): Unit
  /** corrupt one recorded result, so the self-test can show that a wrong
    * result counts as failed. */
  def injectFault(): Unit
  /** per-pass figures for the traced run: useful-work ratios and
    * workload-specific latencies (see README.md). */
  def layerFigures(tracer: Tracer,
                   untraced: Seq[CallRec]): Map[String, Double]
}

object Rows {
  /** a collected row as plain values, with doubles rounded to 6 places so
    * that graft and the reference compare equal when they agree. */
  def norm(r: Row): Seq[Any] = r.toSeq.map(normValue)
  def normValue(v: Any): Any = v match {
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    case f: Float => normValue(f.toDouble)
    case b: java.math.BigDecimal => normValue(b.doubleValue)
    case r: Row => norm(r)
    case xs: scala.collection.Seq[_] => xs.map(normValue).toSeq
    case other => other
  }
  def sorted(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.sortBy(_.map(v => String.valueOf(v)).mkString("\u0001"))
}
