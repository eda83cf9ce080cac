package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.operators.Coreset

/** Plan-shape guard for kCenterSample: the whole k-round selection must run
  * WITHOUT shuffling the corpus — every round is a narrow constant-centers
  * projection plus a TakeOrdered 1-row reduction (partial per-partition
  * top-1 to the driver, no exchange). A refactor that reintroduces a
  * window/join argmin would still pass the value specs, so we count actual
  * shuffle bytes written by every stage the operator runs.
  */
class CoresetPlanSpec extends SparkSpec {

  test("kCenterSample runs zero-shuffle rounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val data = (0 until 500).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val df = data.toDF("id", "vec")
    df.count() // settle any input-side work before listening

    val shuffleBytes = TrieMap.empty[Int, Long]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        shuffleBytes(e.stageInfo.stageId) =
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // collect(), not count(): count()'s own final-agg exchange would be
      // attributed to the operator
      val got = Coreset.kCenterSample(df, "id", "vec", dim = 16, k = 6)
      assert(got.collect().length == 6)
      // bus delivery is async: drain it before asserting
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(shuffleBytes.nonEmpty, "listener saw no stages")
      val total = shuffleBytes.values.sum
      assert(total == 0L,
        s"kCenterSample shuffled $total bytes across stages $shuffleBytes")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
