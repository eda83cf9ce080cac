package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Gini, KsTest, PrefixSum}

class PrefixSumSpec extends SparkSpec {

  private def frame(keys: Seq[Long]) = {
    import spark.implicits._
    keys.map(k => (k, k % 7, 2L * (k % 5))).toDF("k", "a", "b")
      .repartition(5)
  }

  test("runningSums equals the single-partition window bit for bit") {
    val keys = Seq.tabulate(500)(i => (i.toLong * 37) % 10007).distinct
    val df = frame(keys)
    val got = PrefixSum.runningSums(df, "k", Seq("a", "b"), numBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).sortBy(_._1)
    val w = Window.orderBy(col("k").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.select(col("k"),
        sum(col("a")).over(w).as("ac"), sum(col("b")).over(w).as("bc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == naive.toSeq)
  }

  test("runningSums handles one bucket, skewed ranges, and negatives") {
    // all keys in one narrow range (single bucket) plus negatives
    val keys = Seq(-50L, -49L, -48L, 0L, 1L, 2L, 1000000L)
    val got = PrefixSum.runningSums(frame(keys), "k", Seq("a"), numBuckets = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    var acc = 0L
    for (k <- keys.sorted) {
      acc += k % 7 // Scala rem matches the frame builder's k % 7
      assert(got(k) == acc, s"key $k")
    }
  }

  test("runningSums plan has no single-partition window") {
    val df = PrefixSum.runningSums(frame(Seq.tabulate(100)(_.toLong)),
      "k", Seq("a"), numBuckets = 8)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "prefix sum must not gather to one partition")
  }

  test("Gini: 0 on uniform, hand value on a skewed set, matches naive O(n^2)") {
    import spark.implicits._
    val uniform = Seq.fill(50)(3.21).toDF("x")
    assert(Gini.ofColumn(uniform, "x").collect()(0).getDouble(2) == 0.0)
    // cents [1,1,1,97]: sum over ordered pairs |xi-xj| = 576,
    // G = 576 / (2*4*100) = 0.72
    val skewed = Seq(0.01, 0.01, 0.01, 0.97).toDF("x")
    assert(Gini.ofColumn(skewed, "x").collect()(0).getDouble(2) == 0.72)
    // random values vs the quadratic definition
    val vals = Seq.tabulate(60)(i => ((i * 37) % 101 + 1) / 100.0)
    val g = Gini.ofColumn(vals.toDF("x"), "x", numBuckets = 7)
      .collect()(0).getDouble(2)
    val cents = vals.map(v => math.round(v * 100))
    val num = (for (a <- cents; b <- cents) yield math.abs(a - b)).sum
    val expect = num.toDouble / (2.0 * cents.size * cents.sum)
    assert(math.abs(g - expect) < 5e-7, s"$g vs $expect")
  }

  test("localRunningSums + exclusiveOffsets reconstruct the global sums") {
    val keys = Seq.tabulate(300)(i => (i.toLong * 53) % 4999).distinct
    val df = frame(keys)
    val local = PrefixSum.localRunningSums(df, "k", Seq("a", "b"),
      numBuckets = 16, bounds = (keys.min, keys.max))
    // the fused-consumer shape: per-bucket totals off the same frame, then
    // the driver-side exclusive fold
    val totals = local.groupBy(col("_psb"))
      .agg(sum(col("a")).as("at"), sum(col("b")).as("bt")).collect()
      .map(r => (r.getLong(0), IndexedSeq(r.getLong(1), r.getLong(2)))).toSeq
    val off = PrefixSum.exclusiveOffsets(totals, 16)
      .map(t => t._1 -> t._3).toMap
    val got = local.collect().map { r =>
      val o = off(r.getLong(0))
      (r.getLong(1), r.getLong(4) + o(0), r.getLong(5) + o(1))
    }.sortBy(_._1)
    val w = Window.orderBy(col("k").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.select(col("k"),
        sum(col("a")).over(w).as("ac"), sum(col("b")).over(w).as("bc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == naive.toSeq)
    // bounds that do not cover the range must fail in the offset fold
    val bad = Seq((-3L, IndexedSeq(1L)), (5L, IndexedSeq(2L)))
    val e = intercept[IllegalArgumentException] {
      PrefixSum.exclusiveOffsets(bad, 16)
    }
    assert(e.getMessage.contains("bounds"))
  }

  test("runningSums fails loudly on null keys and non-covering bounds") {
    import spark.implicits._
    // null keys: the null bucket would silently duplicate bucket 0 rows
    // through the offset join — must be a loud precondition failure
    val withNull = Seq[(Option[Long], Long)](
      (Some(1L), 1L), (None, 2L), (Some(3L), 3L)).toDF("k", "a")
    val e1 = intercept[IllegalArgumentException] {
      PrefixSum.runningSums(withNull, "k", Seq("a")).collect()
    }
    assert(e1.getMessage.contains("NULL"))
    // bounds that do not cover the key range: keys below lo truncate into
    // wrong buckets — must fail, not misorder
    val df = Seq((1L, 1L), (50L, 2L), (900L, 3L)).toDF("k", "a")
    val e2 = intercept[IllegalArgumentException] {
      PrefixSum.runningSums(df, "k", Seq("a"), numBuckets = 4,
        bounds = Some((100L, 200L))).collect()
    }
    assert(e2.getMessage.contains("bounds"))
  }

  test("Gini fails loudly past the exact DECIMAL(20,0) inner-term regime") {
    // inputs quantize to DECIMAL(9,2) so maxAbs ≤ ~1e9 cents; the guard
    // regime maxAbs·n ≥ 9e15 therefore needs ~9e6 rows — constant value,
    // so the per-value counts relation is ONE row and the spec stays cheap
    val vals = spark.range(9100000L).select(lit(9999999.99).as("x"))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Gini.ofColumn(vals, "x").collect()
    }
    assert(e.getMessage.contains("DECIMAL(20,0)"))
  }

  test("KS is 0 on identical slices and large on disjoint ones") {
    import spark.implicits._
    val vals = Seq.tabulate(200)(i => ((i % 40) + 0.25))
    val a = vals.toDF("x")
    val ksSame = KsTest.ksTwoSample(a, a, "x").collect()(0)
    assert(ksSame.getLong(2) == 0L && ksSame.getDouble(3) == 0.0)
    val b = vals.map(_ + 1000.0).toDF("x")
    val ksDisj = KsTest.ksTwoSample(a, b, "x").collect()(0)
    assert(ksDisj.getDouble(3) == 1.0, "disjoint supports → KS = 1")
    // shifted-by-half overlap: 0 < ks < 1 and equals the hand statistic
    val c = vals.map(_ + 20.0).toDF("x")
    val ks = KsTest.ksTwoSample(a, c, "x").collect()(0)
    assert(ks.getDouble(3) > 0.0 && ks.getDouble(3) < 1.0)
    assert(ks.getDouble(3) == 0.5, "half-shift of a uniform grid → KS 0.5")
  }
}
