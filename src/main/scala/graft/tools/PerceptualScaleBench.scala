package graft.tools

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.util.Materialize

/** Scale evidence for the 64-bit perceptual near-dup family (d23/d25–d28)
  * past the fixture corpus: the SIGNATURES are what the banded join sees,
  * not the image bytes, so this generates signature tables directly — a
  * synthetic corpus of (id, hi, lo) with planted near-dup families — and
  * measures both join shapes at three corpus decades.
  *
  * The physics being demonstrated, stated honestly: a 16-bit band chunk
  * collides between UNRELATED signatures with p = 2⁻¹⁶, so
  *
  *  - the SELF-join shape (d25/d26) generates Σ_buckets C(pop, 2)
  *    candidates ≈ n²·bands/2¹⁷ — quadratic with a 1/32768 constant.
  *    Fine at 10⁶ (≈0.8·10⁸ candidates), NOT the shape to run at 10⁹;
  *  - the INCREMENTAL admit shape (d27/d28) generates
  *    batch·bands·(n/2¹⁶) candidates — LINEAR in the corpus for a fixed
  *    daily batch, linear in the batch for a fixed corpus. This is why
  *    the pipeline (m12) runs admits per batch and never a corpus
  *    self-join: at 100 TB the self-join is what you do ONCE at corpus
  *    bootstrap (sharded by band value — the work is embarrassingly
  *    parallel per bucket and never materializes n²), while the daily
  *    path must be the batch shape.
  *
  * This bench fixes the batch at 50k rows (a day's ingest), grows the
  * corpus 0.5M → 1.5M → 5M, and prints per-point timings AND candidate/
  * result counts, so the linear-in-corpus claim for the admit shape is a
  * readout, not an assertion. The self-join is timed at the same points
  * for the honest quadratic contrast (its candidate counts make the
  * growth law explicit).
  *
  * Corpus construction (deterministic, id-computable like GenScaleData):
  * signatures are SplittableRandom 64-bit draws; every 100th row is a
  * radius-≤3 corruption of its block base (~1% planted near-dups, a
  * realistic re-encode rate); the batch mixes fresh novels with
  * corruptions of corpus rows (rediscovery work, the admit signal).
  *
  * Prints one JSON line per scale point (the Bench discipline). Run:
  *   sbt "runMain graft.tools.PerceptualScaleBench 500000,1500000,5000000"
  */
object PerceptualScaleBench {

  private val GOLD = 0x9e3779b97f4a7c15L

  /** (id, hi, lo) corpus frame: deterministic, embarrassingly parallel.
    * Every 100th row is a 1–3-bit corruption of its block base row.
    */
  def sigTable(spark: SparkSession, n: Long, salt: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { id =>
      val s =
        if (id % 100 != 0 || id == 0)
          new SplittableRandom((id * 0xc2b2ae3d27d4eb4fL) ^ salt).nextLong()
        else {
          val base = new SplittableRandom(((id - 1) * 0xc2b2ae3d27d4eb4fL) ^ salt)
            .nextLong()
          val o = new SplittableRandom((id * 0x94d049bb133111ebL) ^ salt)
          var v = base
          val flips = 1 + o.nextInt(3)
          var i = 0
          while (i < flips) { v ^= 1L << o.nextInt(64); i += 1 }
          v
        }
      (id, s >>> 32, s & 0xffffffffL) // DHashBmp's non-negative halves
    }.toDF("id", "hi", "lo")
  }

  /** Batch of `m` rows against a corpus of `n`: half fresh novels, half
    * 1–3-bit corruptions of evenly-spaced corpus rows (must rediscover
    * their originals through the band join).
    */
  def batchTable(spark: SparkSession, m: Long, n: Long, corpusSalt: Long): DataFrame = {
    import spark.implicits._
    spark.range(m).map { i =>
      val s =
        if (i % 2 == 0)
          new SplittableRandom((i * 0xd6e8feb86659fd93L) ^ 0x5851f42dL).nextLong()
        else {
          val src = (i * (n / m)) % n
          val baseId = if (src % 100 != 0 || src == 0) src else src + 1
          val base = new SplittableRandom(
            (baseId * 0xc2b2ae3d27d4eb4fL) ^ corpusSalt).nextLong()
          val o = new SplittableRandom(i * GOLD)
          var v = base
          val flips = 1 + o.nextInt(3)
          var k = 0
          while (k < flips) { v ^= 1L << o.nextInt(64); k += 1 }
          v
        }
      (n + i, s >>> 32, s & 0xffffffffL) // ids disjoint from the corpus
    }.toDF("id", "hi", "lo")
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("500000,1500000,5000000")
      .split(",").map(_.trim.toLong).toSeq
    val batchRows = sys.env.getOrElse("SPARK_GRAFT_BATCH_ROWS", "50000").toLong
    val bands = sys.env.getOrElse("SPARK_GRAFT_BANDS", "4").toInt
    val runSelf = sys.env.getOrElse("SPARK_GRAFT_SELF", "1") == "1"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bench's hygiene discipline: each timed sample starts from a GC'd
    // heap (the 5M self-join leaves GBs of shuffle garbage that otherwise
    // bleeds into the NEXT point's first sample), and each shape reports
    // the median of `runs` samples so one GC pause can't fake a scaling
    // law in either direction.
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
    def timed(f: => Long): (Double, Long) = {
      System.gc()
      val t0 = System.nanoTime()
      val out = f
      ((System.nanoTime() - t0) / 1e9, out)
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    def sample(f: => Long): (Double, Long) = {
      val ss = (1 to runs).map(_ => timed(f))
      (med(ss.map(_._1)), ss.head._2)
    }
    def r3(v: Double) = math.rint(v * 1000) / 1000
    for (n <- sizes) Materialize { m =>
      val corpus = m.persist(sigTable(spark, n, salt = 11L))
      corpus.count() // materialize outside the timed region
      val batch = m.persist(batchTable(spark, batchRows, n, corpusSalt = 11L))
      batch.count()
      val (batchSec, batchPairs) = sample {
        Dedup.hammingPairs64Batch(corpus, batch, "id", "hi", "lo",
          bands, radius = 3).count()
      }
      // the PERSISTED band-index probe (d29): index built once per corpus
      // version (untimed — the amortized bootstrap), probes shuffle only
      // the batch. This is the number the daily loop actually pays.
      val tab = s"g_pscale_bandidx_$n"
      spark.sql(s"DROP TABLE IF EXISTS $tab")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), tab)
      val whFs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (whFs.exists(wh)) whFs.delete(wh, true)
      graft.util.Layout.writeBucketed(
        Dedup.bandIndex64(corpus, "id", "hi", "lo", bands)
          .repartition(64, org.apache.spark.sql.functions.col("bk")),
        tab, "bk", 64, Some("bk"))
      val (probeSec, probePairs) = sample {
        Dedup.hammingPairs64Probe(spark.table(tab), batch, "id", "hi", "lo",
          bands, radius = 3).count()
      }
      val (selfSec, selfPairs) =
        if (runSelf) sample {
          // checkIds off: ids are a generated sequence (unique by
          // construction) and the two guard jobs would sit inside the
          // timed region, skewing the self-shape scaling readout
          Dedup.hammingPairs64(corpus, "id", "hi", "lo", bands, radius = 3,
            checkIds = false).count()
        } else (-1.0, -1L)
      println(s"""{"metric":"perceptual_scale","rows":$n,"bands":$bands,""" +
        s""""batch_rows":$batchRows,"batch_sec":${r3(batchSec)},""" +
        s""""batch_pairs":$batchPairs,"probe_sec":${r3(probeSec)},""" +
        s""""probe_pairs":$probePairs,"self_sec":${r3(selfSec)},""" +
        s""""self_pairs":$selfPairs}""")
      spark.sql(s"DROP TABLE IF EXISTS $tab")
    }
    spark.stop()
  }
}
