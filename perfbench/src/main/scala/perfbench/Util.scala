package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

object Util {

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** (files, bytes) under `dirs`, every regular file counted. */
  def footprint(dirs: Seq[String]): (Long, Long) = {
    var n = 0L; var b = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) { n += 1; b += f.length }
    dirs.foreach(d => walk(new File(d)))
    (n, b)
  }

  def writeFile(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) -1.0
    else new String(Files.readAllBytes(f.toPath), UTF_8).linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def jsonMap(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")

  /** The per-layer table of one traced pass: every span name with its
    * call count, total and self seconds and Spark counters, then the
    * metrics. Plain text, for reading.
    */
  def writeTraceTable(path: String, t: Trace, inPass: Span => Boolean,
      metrics: Map[String, Double]): Unit = {
    val spans = t.spans.filter(inPass)
    val rows = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val c = t.counts(s => inPass(s) && s.name == name)
      f"$name%-18s ${ss.size}%6d ${ss.map(_.seconds).sum}%9.3f ${ss.map(t.selfSeconds).sum}%9.3f " +
        f"${c.jobs}%6d ${c.stages}%7d ${c.tasks}%7d ${c.taskMs / 1000.0}%9.3f"
    }
    val head = f"${"span"}%-18s ${"calls"}%6s ${"total_s"}%9s ${"self_s"}%9s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"task_s"}%9s"
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => f"$k%-32s $v%.6f" }
    writeFile(path, (head +: rows).mkString("\n") + "\n\n" + ms.mkString("\n") + "\n")
  }
}

/** The per-layer metrics every workload reports from its traced pass. */
object Layers {

  def common(r: Runner, t: Trace, inPass: Span => Boolean, pass: Int,
      cores: Int): Map[String, Double] = {
    val work: Span => Boolean = s => inPass(s) && s.layer != "check"
    val all = t.counts(work)
    val opSeconds = r.opsOf(pass).map(_.seconds).sum
    def layerSelf(layer: String): Double =
      t.spans.filter(s => work(s) && s.layer == layer).map(t.selfSeconds).sum
    def named(name: String): Double =
      t.spans.filter(s => work(s) && s.name == name).map(_.seconds).sum
    val ingest = t.counts(s => work(s) && s.layer == "ingest")
    val ingestOps = t.spans.filter(s => work(s) && s.layer == "ingest").map(_.op).distinct.size
    val operators = t.counts(s => work(s) && s.layer == "operators")
    Map(
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_s" -> all.taskMs / 1000.0,
      "spark.util" -> (if (opSeconds > 0) all.taskMs / 1000.0 / (opSeconds * cores) else 0.0),
      "spark.sched_delay_s" -> all.schedDelayMs / 1000.0,
      "spark.gc_s" -> all.gcMs / 1000.0,
      "spark.shuffle_write_mb" -> all.shuffleWrite / 1048576.0,
      "spark.shuffle_read_mb" -> all.shuffleRead / 1048576.0,
      "spark.spill_mb" -> all.spill / 1048576.0,
      "spark.task_failures" -> all.taskFailures.toDouble,
      "spark.events_dropped" -> t.eventsDropped.toDouble,
      "trace.unattributed_jobs" -> t.unattributedJobs.toDouble,
      "sources.self_s" -> layerSelf("sources"),
      "ingest.self_s" -> layerSelf("ingest"),
      "ingest.jobs_per_op" -> (if (ingestOps > 0) ingest.jobs.toDouble / ingestOps else 0.0),
      "ingest.task_s" -> ingest.taskMs / 1000.0,
      "ingest.ledger_s" -> named("ingest.ledger"),
      "operators.self_s" -> layerSelf("operators"),
      "operators.jobs" -> operators.jobs.toDouble,
      "operators.cache_blocks" -> t.rddBlocks.toDouble,
      "operators.block_mb" -> t.rddBlockBytes / 1048576.0)
  }
}
