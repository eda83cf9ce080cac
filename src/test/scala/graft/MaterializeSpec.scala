package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.operators.{Dsir, Gini, KsTest}
import graft.util.Materialize

/** `util.Materialize`, the one release policy for operator caches: what a
  * scope registers is gone when it exits — by a throw as well as by a
  * return — and a released local checkpoint really frees its blocks.
  */
class MaterializeSpec extends SparkSpec {

  private def checkpointRddId(cp: org.apache.spark.sql.DataFrame): Int =
    cp.queryExecution.logical match { case r: LogicalRDD => r.rdd.id }

  private def assertNoCacheAfterThrow(what: String)(op: => Unit): Unit = {
    spark.catalog.clearCache() // isolate from whatever ran before
    intercept[IllegalArgumentException](op)
    assert(ColumnBridge.noCachedRelations(spark),
      s"$what threw and left its cached relation registered")
  }

  test("an operator that throws leaves no cached relation behind") {
    import spark.implicits._
    val xs = Seq(1.0, 2.0, 3.0).toDF("x")
    assertNoCacheAfterThrow("KS with an empty slice") {
      KsTest.ksTwoSample(xs, xs.filter(lit(false)), "x").collect()
    }
    assertNoCacheAfterThrow("Gini on an all-zero column") {
      Gini.ofColumn(Seq(0.0, 0.0, 0.0).toDF("x"), "x").collect()
    }
    assertNoCacheAfterThrow("driftStat on a zero-token batch") {
      Dsir.driftStat(Seq("", "   ").toDF("text"), "text", Map(0L -> 3L),
        trainTotal = 3L, buckets = 8, threshold = 1.0, label = "empty",
        allowEmpty = false).collect()
    }
  }

  test("a released local checkpoint leaves the context's persistent RDDs") {
    val sc = spark.sparkContext
    for (eager <- Seq(true, false)) {
      val cp = spark.range(0, 100, 1, 4).toDF("id").localCheckpoint(eager)
      assert(cp.count() == 100)
      val id = checkpointRddId(cp)
      // Dataset.unpersist consults only the cache manager, which never saw
      // the checkpoint: its RDD and blocks stay
      cp.unpersist()
      assert(sc.getPersistentRDDs.contains(id),
        s"eager=$eager: Dataset.unpersist was expected to free nothing")
      Materialize(_.adopt(cp))
      assert(!sc.getPersistentRDDs.contains(id),
        s"eager=$eager: the scope did not release the checkpoint")
    }
  }

  test("result checkpoints before the release: caches gone, result readable") {
    spark.catalog.clearCache()
    val out = Materialize { m =>
      val base = m.persist(spark.range(0, 1000, 1, 4).toDF("id"))
      m.result(base.groupBy((col("id") % 7).as("k")).count())
    }
    assert(ColumnBridge.noCachedRelations(spark))
    assert(out.count() == 7)
    assert(out.agg(sum(col("count"))).first().getLong(0) == 1000L)
  }
}
