package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed op: its latency, and what its output check found. */
final case class OpRec(id: Int, pass: Int, name: String, seconds: Double,
    problems: Seq[String], sqlActions: Long, catalystMs: Long)

/** A benchmark workload. `setup` builds every input and index the timed
  * passes need (it is called several times, each time into a fresh
  * directory, and the last build is the one used); `warm` runs the code
  * paths once, untimed; `pass` runs one fixed sequence of ops through the
  * runner, on fresh output directories.
  */
trait Workload {
  def setup(dir: String): Unit
  def warm(r: Runner): Unit
  def pass(p: Int, r: Runner): Unit
  /** Workload-specific per-layer metrics of traced pass `pass`. */
  def layerMetrics(r: Runner, t: Trace, inPass: Span => Boolean, pass: Int): Map[String, Double]
  /** Facts for the runner script (paths, per-query detail), as a JSON object. */
  def extras: String = "{}"
}

/** Times ops, runs their checks outside the timed region, and keeps the
  * per-op records.
  */
final class Runner(val trace: Trace) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var pass = 0
  /** Ops run by `warm` are executed and checked but not recorded. */
  var recording = true
  private var warmId = -1

  /** Runs `body` as one op inside a span named `span`, then `check` on its
    * result outside the timed region. A throw or a non-empty check result
    * makes the op failed.
    */
  def op[T](name: String, span: String = "op")(body: => T)(
      check: T => Seq[String]): Unit = {
    val id = if (recording) ops.size else { warmId -= 1; warmId }
    val sql0 = trace.sqlActions
    val cat0 = trace.catalystMs
    val t0 = System.nanoTime()
    val res = try Right(trace.span(span, id)(body)) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    if (trace.isEnabled) trace.drain()
    val sql = trace.sqlActions - sql0
    val cat = trace.catalystMs - cat0
    val problems = res match {
      case Left(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(v) =>
        try trace.span("check", id)(check(v))
        catch { case e: Throwable => Seq(s"check threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    }
    if (trace.isEnabled) trace.drain()
    // each op starts from a collected heap: no garbage, and no old-gen
    // growth, carried over from the op before
    System.gc()
    System.err.println(f"[perfbench] ${if (recording) s"pass $pass" else "warm-up"} op $name%-28s $dt%8.3f s" +
      (if (problems.isEmpty) "" else s"  FAILED: ${problems.mkString("; ")}"))
    if (recording) ops += OpRec(id, pass, name, dt, problems, sql, cat)
  }

  /** Ops of the given pass. */
  def opsOf(p: Int): Seq[OpRec] = ops.filter(_.pass == p).toSeq
}

object Main {
  /** Set-ups per run; setup_s counts their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val out = a("out")
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val trace = new Trace(spark)
    val runner = new Runner(trace)
    val w: Workload = workload match {
      case "market_daily" => new MarketDaily(spark, seed, work)
      case "query_mix" => new QueryMix(spark, seed, work)
      case other => sys.error(s"unknown workload $other")
    }

    val setupTimes = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(s"$work/setup$r")
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup $r $dt%.3f s")
      if (r > 0) Util.rmrf(new File(s"$work/setup${r - 1}"))
      dt
    }
    val warmS = {
      val t0 = System.nanoTime()
      runner.recording = false
      w.warm(runner)
      runner.recording = true
      (System.nanoTime() - t0) / 1e9
    }

    def runPass(): Double = {
      val t0 = System.nanoTime()
      w.pass(runner.pass, runner)
      val dt = (System.nanoTime() - t0) / 1e9
      runner.pass += 1
      dt
    }
    val passTimes = mutable.ArrayBuffer.empty[Double]
    var layers = Map.empty[String, Double]
    if (!traced) {
      val t0 = System.nanoTime()
      while (passTimes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
        passTimes += runPass()
    } else {
      // a traced pass between two untraced passes of the same work: the
      // per-layer table comes from the traced pass, its wall against the
      // mean of the two around it is the tracing overhead
      val before = runPass()
      trace.enable()
      val tracedPass = runner.pass
      val firstSpan = trace.spans.size
      val traced = runPass()
      trace.disable()
      val after = runPass()
      passTimes ++= Seq(before, traced, after)
      val passSpanIds = trace.spans.indices.drop(firstSpan).toSet
      val inPass: Span => Boolean = s => passSpanIds(s.id)
      layers = Layers.common(runner, trace, inPass, tracedPass, cores) ++
        w.layerMetrics(runner, trace, inPass, tracedPass) ++
        Map("trace.overhead_frac" -> (traced / ((before + after) / 2) - 1.0))
      Util.writeTraceTable(s"$work/trace_table.txt", trace, inPass, layers)
    }

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${Util.q(workload)},"seed":$seed,"cores":$cores,"""
    json ++= s""""heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},"""
    json ++= s""""spark_version":${Util.q(spark.version)},"""
    json ++= s""""session_s":$sessionS,"setup_reps_s":${setupTimes.mkString("[", ",", "]")},"""
    json ++= s""""warm_s":$warmS,"passes_s":${passTimes.mkString("[", ",", "]")},"""
    json ++= s""""peak_rss_mb":${Util.peakRssMb},"""
    json ++= s""""layers":${Util.jsonMap(layers)},"""
    json ++= s""""extras":${w.extras},"""
    json ++= "\"ops\":[" + runner.ops.map { o =>
      s"""{"id":${o.id},"pass":${o.pass},"name":${Util.q(o.name)},""" +
        s""""s":${o.seconds},"sql_actions":${o.sqlActions},"catalyst_ms":${o.catalystMs},""" +
        s""""problems":${o.problems.map(Util.q).mkString("[", ",", "]")}}"""
    }.mkString(",") + "]"
    json ++= "}"
    Files.write(Paths.get(out), json.toString.getBytes(UTF_8))
    spark.stop()
  }
}
