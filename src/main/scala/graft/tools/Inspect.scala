package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query inspection: the Spark work a body launched and the final plan
  * of every SQL action it ran, in order — operators' internal actions
  * (eager `localCheckpoint`s, loop `collect`s) as well as the final
  * one. Counters (jobs, stages, tasks) are the same on any box; wall time
  * is not. They are the counter and plan evidence behind perf claims.
  *
  * usage: runMain graft.tools.Inspect <sfDir> [outDir]
  *
  * SPARK_GRAFT_ONLY=d23,q02 restricts by name prefix and SPARK_GRAFT_CPUS
  * sizes the session (the Verify/Bench contract). Per query: one untimed
  * warm run, then one captured `count()`; one line of counters plus the
  * joins, hash shuffles, codegen spans and scan widths over every action's
  * plan. With `outDir`, `<outDir>/<name>.txt` holds every action's
  * formatted plan in order; the last is the final action. Repeated timings
  * are Bench's job: `SPARK_GRAFT_ONLY=… runMain graft.Bench`.
  */
object Inspect {

  /** One SQL action: its name ("count", "collect", "localCheckpoint", …)
    * and the execution that ran it.
    */
  final case class Action(name: String, qe: QueryExecution) {
    /** AQE's final plan — the one that ran, not the pre-execution guess. */
    def plan: SparkPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def formatted: String =
      qe.explainString(ExplainMode.fromString("formatted"))
  }

  final case class Report(jobs: Int, stages: Int, tasks: Int,
      taskSec: Double, shuffleWriteBytes: Long, wallSec: Double,
      actions: Seq[Action])

  /** Runs `body` with one job listener and one query-execution listener
    * registered, both removed again by a return or a throw. The bus is
    * drained first, so no event of earlier work lands in this capture.
    */
  def run(spark: SparkSession)(body: => Any): Report = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val shuffleWrite = new AtomicLong
    val actions = new ConcurrentLinkedQueue[Action]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        Option(s.stageInfo.taskMetrics).foreach(m =>
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(Action(fn, qe))
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(sc)
      Report(jobs.get, stages.get, tasks.get, taskMs.get / 1000.0,
        shuffleWrite.get, wall, actions.asScala.toSeq)
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Joins, hash shuffles, whole-stage codegen spans and parquet scan
    * widths, counted over the plans' printed trees.
    */
  private def audit(plans: Seq[SparkPlan]): String = {
    val plan = plans.map(_.toString).mkString("\n")
    val joins = "(BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin|CartesianProduct|ShuffledHashJoin)".r
      .findAllIn(plan).toSeq.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k x${v.size}" }.mkString(", ")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // whole-stage codegen spans print as "*(n)" stage markers, numbered
    // per plan
    val wsc = plans.map(p =>
      "\\*\\(\\d+\\)".r.findAllIn(p.toString).toSeq.distinct.size).sum
    // bound at end-of-line: Spark TRUNCATES long ReadSchema strings (no
    // closing '>'), and an unbounded [^>]* would run on to some later '>';
    // a truncated schema is reported as "N+" (N fields visible before the
    // cut)
    val scans = "ReadSchema: struct<([^>\n]*)".r
      .findAllMatchIn(plan).map { mm =>
        val g = mm.group(1)
        val n = g.count(_ == ':')
        if (g.endsWith("...")) s"$n+" else s"$n"
      }.toSeq
      .groupBy(identity).toSeq.sortBy(_._1)
      .map { case (w, xs) => if (xs.size > 1) s"$w x${xs.size}" else w }
    s"joins[$joins] shuffles=$exchanges codegenSpans=$wsc scanCols=[${scans.mkString(", ")}]"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args.lift(1).map(Paths.get(_))
    outDir.foreach(Files.createDirectories(_))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .appName("graft-inspect").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val picked = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    for ((name, fn) <- picked) {
      try {
        fn(spark, sfDir).count() // warm: codegen + JIT + any landing dirs
        spark.catalog.clearCache()
        val r = run(spark)(fn(spark, sfDir).count())
        println(f"INSPECT $name%-32s jobs=${r.jobs}%-4d stages=${r.stages}%-4d tasks=${r.tasks}%-6d taskSec=${r.taskSec}%-9.1f wall=${r.wallSec}%.2f actions=${r.actions.size}%-3d ${audit(r.actions.map(_.plan))}")
        outDir.foreach { d =>
          val txt = r.actions.zipWithIndex.map { case (a, i) =>
            s"--- action ${i + 1}/${r.actions.size}: ${a.name} ---\n${a.formatted}\n"
          }.mkString("\n")
          Files.write(d.resolve(s"$name.txt"), txt.getBytes("UTF-8"))
        }
      } catch { case e: Throwable =>
        println(s"INSPECT $name ERROR ${String.valueOf(e.getMessage).take(100)}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
