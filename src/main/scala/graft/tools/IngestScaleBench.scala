package graft.tools

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Frame, IngestPipeline}
import graft.util.Materialize

/** The INGEST-LOOP shape at corpus scale: round 9 measured the d29 probe
  * flat at the OPERATOR level; this measures the m12 PIPELINE — the whole
  * foreachBatch DAG (decode → intra-batch components → admit vs corpus →
  * DSIR score → drift gate → sharded land) — per micro-batch, direct
  * admit path vs the persisted band-index probe path, as the seed corpus
  * grows. The number that matters for a 10⁹-asset daily loop is the
  * per-batch wall time's dependence on corpus size: direct re-shuffles
  * the corpus signature relation every batch (O(corpus)); the probe
  * moves only the batch's bands plus the not-yet-compacted tail.
  *
  * Signature-level: the synthetic "payload" IS the 8-byte signature and
  * the signature expression unpacks it with pure built-ins
  * (hex → conv → split halves) — the BMP decode cost is mm14's business,
  * already measured; what this isolates is the loop's join/land shape.
  * Batch composition per 10k pairs: ~25% corpus dups (re-encodes of
  * seed signatures, 1–3 bits flipped), ~25% intra-batch dup pairs,
  * ~50% novel admits — every admit/reject path exercised every batch.
  *
  *   sbt "runMain graft.tools.IngestScaleBench 1000000,5000000"
  */
object IngestScaleBench {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Seed signature value for corpus item id (non-negative halves). */
  private def seedSig(id: Long): (Long, Long) = {
    val s = mix(id ^ 0x1234567L)
    (s >>> 32, s & 0xffffffffL)
  }

  private def sigToBytes(hi: Long, lo: Long): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8)
    b.putInt((hi & 0xffffffffL).toInt).putInt((lo & 0xffffffffL).toInt)
    b.array()
  }

  /** Unpack the 8-byte payload back into the (hi, lo) struct with pure
    * built-ins — the stand-in for DHashBmp at signature level.
    */
  private val sigExpr: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => struct(
      conv(substring(hex(c), 1, 8), 16, 10).cast("long").as("hi"),
      conv(substring(hex(c), 9, 8), 16, 10).cast("long").as("lo"))

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("1000000,5000000")
      .split(",").map(_.trim.toLong).toSeq
    val batchRows = sys.env.getOrElse("SPARK_GRAFT_BATCH_ROWS", "10000").toLong
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_N_BATCHES", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // tiny trained artifacts (bounded driver maps); threshold high so the
    // drift gate lands quietly every batch
    val docs = (0L until 40L).map(i =>
      (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} common words here",
        s"src${i % 2}")).toDF("doc_id", "text", "source")
    val trained = Frame.train(docs, "doc_id", "text", "source",
      targetSource = "src0", buckets = 64, driftThreshold = 1e12)

    def r3(v: Double) = math.rint(v * 1000) / 1000
    for (n <- sizes) Materialize { m =>
      val seed = m.persist(spark.range(n).select(
          concat(lit("c"), col("id")).as("item_id"),
          col("id"))
        .map { r =>
          val (hi, lo) = seedSig(r.getLong(1))
          (r.getString(0), hi, lo)
        }.toDF("item_id", "hi", "lo"))
      seed.count()
      // batches land as one parquet file each, mtime-ordered
      val src = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), s"ingscale_src_$n").toString
      for (b <- 0 until nBatches) {
        (0L until batchRows).map { i =>
          val pid = b * batchRows + i
          val r = new SplittableRandom(mix(pid ^ 0xabcdefL))
          val (hi, lo) =
            if (i % 4 == 0) { // corpus dup: 1-3 bit corruption of a seed sig
              val (h, l) = seedSig((pid * (n / (nBatches * batchRows))) % n)
              var v = (h << 32) | l
              (0 until 1 + r.nextInt(3)).foreach(_ => v ^= 1L << r.nextInt(64))
              (v >>> 32, v & 0xffffffffL)
            } else if (i % 4 == 1) { // intra-batch dup of the PREVIOUS row's novel sig
              val s = mix((pid - 2) ^ 0x777L)
              (s >>> 32, s & 0xffffffffL)
            } else { // novel
              val s = mix(pid ^ 0x777L)
              (s >>> 32, s & 0xffffffffL)
            }
          (pid, s"img_$pid", sigToBytes(hi, lo), s"caption tokens for pair $pid")
        }.toDF("pair_id", "img_name", "payload", "caption")
          .coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(1100)
      }

      def runPath(tag: String,
          admitIndex: () => Option[Frame.IndexState]): Seq[Double] = {
        val out = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get("target"), s"ingscale_${tag}_$n").toString
        val ckpt = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get("target"), s"ingscale_ck_${tag}_$n").toString
        val q = IngestPipeline.stream(spark, src, seed, trained,
          bands = 4, radius = 3, nShards = 8, ckpt, out,
          signature = sigExpr, admitIndex = admitIndex)
        q.processAllAvailable(); q.stop(); q.awaitTermination()
        val secs = q.recentProgress.toSeq.filter(_.numInputRows > 0)
          .map(_.batchDuration / 1000.0)
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(out))
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(ckpt))
        secs
      }

      // probe path: bucketed seed index built once, untimed (the
      // amortized bootstrap; through = -1 reads nothing from the corpus's
      // out dir); watermark -1 so the admitted tail rides along exactly as
      // a between-compactions loop would
      val tab = s"g_ingscale_idx_$n"
      val st = IngestPipeline.corpus(seed, s"target/ingscale_idxout_$n",
        bands = 4, radius = 3).buildIndex(tab, nBuckets = 64, through = -1L)
      val probe = runPath("probe", () => Some(st))
      val direct = runPath("direct", () => None)
      println(s"""{"metric":"ingest_scale","corpus":$n,"batch_rows":$batchRows,""" +
        s""""n_batches":${direct.size},""" +
        s""""direct_batch_sec":[${direct.map(r3).mkString(",")}],""" +
        s""""probe_batch_sec":[${probe.map(r3).mkString(",")}]}""")
      spark.sql(s"DROP TABLE IF EXISTS $tab")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(src))
    }
    spark.stop()
  }
}
