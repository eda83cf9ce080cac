package graft

import graft.operators.Coreset
import graft.tools.Inspect

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

    // collect(), not count(): count()'s own final-agg exchange would be
    // attributed to the operator
    val r = Inspect.run(spark) {
      assert(Coreset.kCenterSample(df, "id", "vec", dim = 16, k = 6)
        .collect().length == 6)
    }
    assert(r.stages > 0, "listener saw no stages")
    assert(r.shuffleWriteBytes == 0L,
      s"kCenterSample shuffled ${r.shuffleWriteBytes} bytes across ${r.stages} stages")
  }
}
