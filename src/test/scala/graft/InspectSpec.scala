package graft

import graft.operators.Dedup
import graft.tools.Inspect

/** `tools.Inspect.run`, the one capture behind the inspection tool and the
  * plan-shape specs: it sees an operator's internal actions with their final
  * plans, its counters repeat run to run, and it leaves no listener behind.
  */
class InspectSpec extends SparkSpec {

  test("a simhash pairs capture lists the localCheckpoint that runs the band join") {
    import spark.implicits._
    val text = "weekly harvest report on grain volumes and market prices"
    val docs = Seq((1L, text), (2L, text), (3L, "an unrelated note on cold storage"))
      .toDF("doc_id", "text")
    val r = Inspect.run(spark) {
      Dedup.simhashHammingPairs(docs, "doc_id", "text").count()
    }
    assert(r.actions.map(_.name).contains("localCheckpoint"),
      s"no localCheckpoint captured: ${r.actions.map(_.name)}")
    assert(r.actions.last.name == "count")
    val plans = r.actions.filter(_.name == "localCheckpoint")
      .map(_.plan.toString)
    val bandJoin =
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[band#\\d+, bv#\\d+L?\\]".r
    assert(plans.exists(bandJoin.findFirstIn(_).isDefined),
      s"no (band, bv) equi-join in the checkpointed plan:\n${plans.mkString("\n")}")
    assert(r.jobs > 0 && r.stages > 0 && r.tasks > 0)
  }

  test("two captured runs of a declared query report the same Spark work") {
    SparkEntry.entry(spark).count() // warm
    spark.catalog.clearCache()
    val a = Inspect.run(spark)(SparkEntry.entry(spark).count())
    spark.catalog.clearCache()
    val b = Inspect.run(spark)(SparkEntry.entry(spark).count())
    assert((a.jobs, a.stages, a.tasks) == (b.jobs, b.stages, b.tasks))
    assert(a.actions.map(_.name) == b.actions.map(_.name))
  }

  test("after a body that throws, the next capture lists only its own actions") {
    intercept[IllegalStateException] {
      Inspect.run(spark) {
        spark.range(0, 10, 1, 2).collect()
        throw new IllegalStateException("body failed")
      }
    }
    val r = Inspect.run(spark)(spark.range(0, 5, 1, 1).count())
    assert(r.actions.map(_.name) == Seq("count"))
    assert(r.jobs == Inspect.run(spark)(spark.range(0, 5, 1, 1).count()).jobs)
  }
}
