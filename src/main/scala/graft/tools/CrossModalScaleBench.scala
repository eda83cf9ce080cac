package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, PrepPipeline}
import graft.util.Materialize

/** Scale curve for mm17's cross-modal (image × caption) pair dedup at
  * SIGNATURE level: the declared query is fixture-bound (9 pairs), and its
  * claimed cost shape — two linear cluster families + one cell
  * aggregation — was unmeasured. This drives the SAME building blocks the
  * operator composes (`Dedup.hammingPairs64` → components for the image
  * side, `Dedup.minhashLshPairs` → components for the caption side, and
  * `PrepPipeline.cellTail` — the factored production tail, not a
  * re-implementation) over synthesized inputs at 300k..3M+ pairs:
  *
  *   - image side: `PerceptualScaleBench.sigTable` 64-bit signatures for
  *     nPairs/4 DISTINCT images (the stock-photo repetition ratio that
  *     makes the image side tractable at 100 TB — measured per distinct
  *     image, exactly like the operator's `.distinct()`), 1% planted
  *     1–3-bit corruption families;
  *   - caption side: `TextScaleBench.docTable` 12-token captions keyed by
  *     pair id, every 50th a near-copy (stock captions cluster);
  *   - pairs: pair_id → image pair_id % nImgs.
  *
  * dHash decode and raw-text storage are the per-row linear parts already
  * measured elsewhere (mm14 and the d-family); what this isolates is the
  * CLUSTER + CELL machinery whose linearity mm17's scaladoc claims.
  *
  *   sbt "runMain graft.tools.CrossModalScaleBench 300000,1000000,3000000"
  */
object CrossModalScaleBench {

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("300000,1000000,3000000")
      .split(",").map(_.trim.toLong).toSeq
    val imgRatio = sys.env.getOrElse("SPARK_GRAFT_IMG_RATIO", "4").toLong
    val (n3, k, rpb, thr) = (3, 12, 3, 0.8)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
    def timed(f: => Long): (Double, Long) = {
      System.gc()
      val t0 = System.nanoTime()
      val out = f
      ((System.nanoTime() - t0) / 1e9, out)
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    def r3(v: Double) = math.rint(v * 1000) / 1000
    for (nPairs <- sizes) Materialize { m =>
      val nImgs = math.max(1L, nPairs / imgRatio)
      val sigs = m.persist(PerceptualScaleBench.sigTable(spark, nImgs, salt = 11L))
      sigs.count()
      val caps = m.persist(TextScaleBench.docTable(spark, nPairs, salt = 23L)
        .withColumnRenamed("id", "pair_id")
        .withColumnRenamed("text", "caption"))
      caps.count()
      val pairs = m.persist(spark.range(nPairs)
        .select(col("id").as("pair_id"), pmod(col("id"), lit(nImgs)).as("img_id")))
      pairs.count()
      val samples = (1 to runs).map { _ =>
        timed {
          val iclusters = Dedup.connectedComponents(
            Dedup.hammingPairs64(sigs, "id", "hi", "lo", bands = 4,
              radius = 3, checkIds = false))
            .withColumnRenamed("cluster", "_icl")
          val cclusters = Dedup.connectedComponents(
            Dedup.minhashLshPairs(caps, "pair_id", "caption", n3, k, rpb, thr)
              .select(col("id_a"), col("id_b")))
            .withColumnRenamed("cluster", "_ccl")
          val celled = pairs
            .join(iclusters.withColumnRenamed("id", "img_id"),
              Seq("img_id"), "left")
            .join(cclusters.withColumnRenamed("id", "pair_id"),
              Seq("pair_id"), "left")
            .select(col("pair_id"),
              coalesce(col("_icl"), col("img_id")).as("img_cluster"),
              coalesce(col("_ccl"), col("pair_id")).as("cap_cluster"),
              lit(false).as("_quarantined"))
          Materialize(_.result(PrepPipeline.cellTail(celled)))
            .filter(col("stage") === "20_dropped_dup").count()
        }
      }
      val dropped = samples.head._2
      println(s"""{"metric":"crossmodal_scale","pairs":$nPairs,""" +
        s""""imgs":$nImgs,"sec":${r3(med(samples.map(_._1)))},""" +
        s""""dropped_dups":$dropped}""")
    }
    spark.stop()
  }
}
