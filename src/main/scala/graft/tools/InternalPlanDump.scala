package graft.tools
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}

/** PlanDump's sibling for queries whose work happens in INTERNAL actions
  * during query construction (p17/p18's PrefixSum collects, t26's merge
  * loop): the declared frame is a literal emit, so `explain` on it shows
  * nothing. A QueryExecutionListener instead captures the plan of EVERY
  * action the query runs, in execution order — the committable evidence
  * for claims about internal Exchange/Sort/BroadcastExchange shapes.
  *
  * args: <outDir> <suffix>  (files land as <outDir>/<name>_internal_<suffix>.txt)
  * SPARK_GRAFT_ONLY restricts by name prefix (the Verify/Bench contract).
  */
object InternalPlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = if (args.length > 1) args(1) else "plan"
    Files.createDirectories(outDir)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(s"== action: $fn ==\n" + qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
        try {
          plans.clear()
          fn(spark, "/root/testdata/sf0.01").count()
          ListenerBusDrain(spark.sparkContext)
          val all = new StringBuilder
          var i = 0
          plans.forEach { p => i += 1; all.append(s"--- plan $i ").append(p)
            .append("\n\n") }
          Files.write(outDir.resolve(s"${name}_internal_$suffix.txt"),
            all.toString.getBytes("UTF-8"))
          println(s"$name ok ($i plans, ${all.length} chars)")
        } catch { case e: Throwable =>
          println(s"$name DUMP-ERROR ${e.getMessage.take(120)}")
        }
      }
    spark.stop()
  }
}
