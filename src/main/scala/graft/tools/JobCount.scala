package graft.tools
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Deterministic cost counters per declared query: jobs launched, stages,
  * tasks, and summed executor task time. Wall-clock medians at sf0.1 move
  * ±15% with box state; job/stage counts do not — they are the number the
  * driver-job-bound queries (iterative loops, multi-action operators) are
  * actually spending, and the before/after evidence for changes that
  * remove whole jobs rather than shaving task work.
  *
  * usage: runMain graft.tools.JobCount <sfDir> <prefix...>  (one untimed
  * warm run per query, then one counted run)
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val prefixes = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .appName("graft-jobcount").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    val picked = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
    for ((name, fn) <- picked) {
      try {
        fn(spark, sfDir).count() // warm: codegen + JIT + any landing dirs
        spark.catalog.clearCache()
        ListenerBusDrain(spark.sparkContext)
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerBusDrain(spark.sparkContext)
        println(f"JOBCOUNT $name%-32s jobs=${jobs.get}%-4d stages=${stages.get}%-4d tasks=${tasks.get}%-6d taskSec=${taskMs.get / 1000.0}%-9.1f wall=$wall%.2f")
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        println(s"JOBCOUNT $name ERROR ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
  }
}
