package graft.tools

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Dedup
import graft.util.Materialize

/** Scale curve for the TEXT incremental-dedup pair: the direct
  * batch-vs-corpus MinHash join (d12, `Dedup.incrementalDupPairs`) against
  * the persisted bucketed band-index probe (d30,
  * `Dedup.incrementalDupPairsProbe`) at growing corpus sizes and a FIXED
  * batch — the d29/d27 contrast, re-run for the MinHash family.
  *
  * What each timed path pays per batch:
  *   - direct: the CORPUS's minhash signatures recomputed + its band
  *     relation reshuffled every call (the O(corpus)-per-batch term a
  *     daily ingest loop cannot afford), plus the batch side.
  *   - probe: batch signatures + a bucket-aligned probe join into the
  *     pre-built index (untimed build — amortized once per corpus
  *     version, the d31 fold-in maintaining it thereafter) + verification
  *     pruned to candidate ids. Expected flat-ish as the corpus grows.
  *
  * Docs are deterministic token sequences (12 tokens, zipf-ish vocab);
  * every 50th corpus doc is a near-copy of its predecessor and half the
  * batch docs are near-copies of evenly spaced corpus docs, so the
  * candidate/verify stages do real work at every scale point.
  *
  *   sbt "runMain graft.tools.TextScaleBench 100000,300000,1000000"
  */
object TextScaleBench {

  private val Vocab = 5000

  /** Full 64-bit finalizer (splitmix-style) between the doc id and the
    * RNG seed. A bare multiply is NOT enough: SplittableRandom advances
    * its state by the golden gamma per draw, so seeds in arithmetic
    * progression with the gamma yield SHIFTED copies of one token stream
    * — ids 15 apart came out as 11/12-shingle near-dups and the planted
    * dup structure drowned in accidental chains (observed at 50k docs
    * before this mix was added).
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def tokens(seed: Long): String = {
    val r = new SplittableRandom(mix64(seed))
    val sb = new StringBuilder
    var i = 0
    while (i < 12) {
      if (i > 0) sb.append(' ')
      // zipf-ish: square a uniform to skew toward low ids — hot shingles
      // exist (realistic band buckets) without degenerate hot spots
      val u = r.nextDouble()
      sb.append('w').append((u * u * Vocab).toInt)
      i += 1
    }
    sb.toString
  }

  /** (id, text) corpus: every 50th doc near-copies its predecessor. */
  def docTable(spark: SparkSession, n: Long, salt: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { id =>
      val t =
        if (id % 50 != 0 || id == 0) tokens(id ^ salt)
        else tokens((id - 1) ^ salt) + " xtra"
      (id, t)
    }.toDF("id", "text")
  }

  /** Batch of `m` docs vs a corpus of `n`: even ids fresh novel text,
    * odd ids near-copies of evenly spaced corpus docs (must rediscover
    * their originals through the band probe). Ids disjoint from corpus.
    */
  def batchTable(spark: SparkSession, m: Long, n: Long, corpusSalt: Long): DataFrame = {
    import spark.implicits._
    spark.range(m).map { i =>
      val t =
        if (i % 2 == 0) tokens((i + 7) * 0xd6e8feb86659fd93L)
        else {
          val src = (i * (n / m)) % n
          val baseId = if (src % 50 != 0 || src == 0) src else src - 1
          tokens(baseId ^ corpusSalt) + " xtra"
        }
      (n + i, t)
    }.toDF("id", "text")
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("100000,300000,1000000")
      .split(",").map(_.trim.toLong).toSeq
    val batchDocs = sys.env.getOrElse("SPARK_GRAFT_BATCH_DOCS", "2000").toLong
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
    def sample(f: => Long): (Double, Long) = {
      val ss = (1 to runs).map(_ => timed(f))
      (med(ss.map(_._1)), ss.head._2)
    }
    def r3(v: Double) = math.rint(v * 1000) / 1000
    for (n <- sizes) Materialize { m =>
      val corpus = m.persist(docTable(spark, n, salt = 11L))
      corpus.count() // materialize the TEXT outside the timed region —
      // both paths still pay their own signature/shingle work from it
      val batch = m.persist(batchTable(spark, batchDocs, n, corpusSalt = 11L))
      batch.count()
      val (directSec, directPairs) = sample {
        Dedup.incrementalDupPairs(corpus, batch, "id", "text",
          n3, k, rpb, thr).count()
      }
      // the persisted band index: built once per corpus version (untimed
      // — the amortized bootstrap), probes pay only the batch
      val tab = s"g_tscale_bandidx_$n"
      spark.sql(s"DROP TABLE IF EXISTS $tab")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), tab)
      val whFs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (whFs.exists(wh)) whFs.delete(wh, true)
      graft.util.Layout.writeBucketed(
        Dedup.minhashBandIndex(corpus, "id", "text", n3, k, rpb)
          .repartition(64, col("bk")),
        tab, "bk", 64, Some("bk"))
      val (probeSec, probePairs) = sample {
        Dedup.incrementalDupPairsProbe(spark.table(tab), corpus, batch,
          "id", "text", n3, k, rpb, thr).count()
      }
      println(s"""{"metric":"text_scale","rows":$n,"batch_docs":$batchDocs,""" +
        s""""direct_sec":${r3(directSec)},"direct_pairs":$directPairs,""" +
        s""""probe_sec":${r3(probeSec)},"probe_pairs":$probePairs}""")
      spark.sql(s"DROP TABLE IF EXISTS $tab")
    }
    spark.stop()
  }
}
