package graft.tools

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.{EmbIngestPipeline, Frame}
import graft.ingest.EmbIngestPipeline.Params
import graft.operators.{AnnIndex, Similarity}
import graft.util.Materialize

/** The EMBEDDING ingest-loop shape at corpus scale — the m15 analog of
  * IngestScaleBench: the whole m15 foreachBatch DAG (gate → intra-batch
  * exact-cosine dedup → index-probe admit → exactly-once code append →
  * recall monitor) measured per micro-batch as the seed corpus grows,
  * with the per-batch EXACT-SCAN admit (top-1 cosine of the batch's reps
  * against the full corpus — what a pipeline without the index would
  * run) timed alongside as the contrast. The claim under test: the
  * probe admit rides the IVF serve path (a shuffle-free codes scan +
  * bounded rerank), while the exact scan pays O(corpus·batch) dot
  * products per batch.
  *
  * Two runs per corpus point: the STREAM (headline per-batch wall time,
  * the real foreachBatch loop), then a direct per-batch drive on fresh
  * dirs with the stage TIMER on — per-stage seconds (admit / reject /
  * append / monitor) so the dominant per-batch term is named, not
  * guessed.
  *
  * Honest cost notes baked into the readout: (a) the codes table is
  * hive-partitioned by list_id, so a probe physically prunes the scan
  * to its nprobe lists' files — scan bytes track nprobe/nlist of the
  * corpus (the admit-stage curve across corpus points measures exactly
  * this); (b) the recall monitor's exact side is corpus-linear by
  * definition — it runs CADENCED (monitorEvery, default 2 here: the
  * production pattern), and its per-batch cost is reported as its own
  * stage so the amortization is visible in the record.
  *
  * Vectors are synthetic 64-dim floats: corpus ids anchor on id%32
  * even-ish dims with deterministic noise; batch composition per
  * micro-batch: ~25% corpus dups (exact copies of seed vectors), ~25%
  * intra-batch dup pairs (rows i%4==3 copy the same batch's i-1 novel
  * row), ~50% novel random vectors.
  *
  *   sbt "runMain graft.tools.EmbIngestScaleBench 100000,300000,1000000"
  */
object EmbIngestScaleBench {

  private val Dim = 64

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic corpus vector: anchored cluster + small noise. */
  private def corpusVec(id: Long): Seq[Float] = {
    val r = new SplittableRandom(mix(id ^ 0x5eedL))
    val anchor = ((id % 32) * 2).toInt
    (0 until Dim).map(d =>
      ((if (d == anchor) 1.0 else 0.0) + 0.05 * (r.nextDouble() - 0.5)).toFloat)
  }

  /** Novel batch vector: random direction, no anchor — far from corpus. */
  private def novelVec(seed: Long): Seq[Float] = {
    val r = new SplittableRandom(mix(seed ^ 0x707e1L))
    (0 until Dim).map(_ => (r.nextDouble() - 0.5).toFloat)
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("100000,300000,1000000")
      .split(",").map(_.trim.toLong).toSeq
    val batchRows = sys.env.getOrElse("SPARK_GRAFT_BATCH_ROWS", "2000").toLong
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_N_BATCHES", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))

    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // Default nlist=64/nprobe=2: the probed candidate set per batch is
    // corpus/32 — the ADC-scan term the curve isolates. The defaults
    // stay pinned for cross-round curve comparability; SPARK_GRAFT_NLIST
    // / SPARK_GRAFT_NPROBE override them for the fleet-scale readout
    // (nlist grows ~sqrt(N) on a real deployment — the old
    // expression-tree coarse assign capped nlist locally, lifted by the
    // O(nlist) array argmax in withCoarseList, so larger-nlist points
    // are now measurable: candidate set per probe = corpus·nprobe/nlist).
    val monitorEvery = sys.env.getOrElse("SPARK_GRAFT_MONITOR_EVERY", "2").toInt
    val nlist = sys.env.getOrElse("SPARK_GRAFT_NLIST", "64").toInt
    val nprobe = sys.env.getOrElse("SPARK_GRAFT_NPROBE", "2").toInt
    val p = Params(dim = Dim, threshold = 0.99999, nlist = nlist,
      itersCoarse = 1, m = 4, ksub = 16, itersPq = 1, nprobe = nprobe,
      rerank = 32, monitorK = 5, monitorMax = 10, recallTarget = 0.0,
      monitorEvery = monitorEvery)

    def r3(v: Double) = math.rint(v * 1000) / 1000
    for (n <- sizes) Materialize { scope =>
      val seed = scope.persist(spark.createDataFrame(
          spark.range(n).rdd.map(id => Row(id, corpusVec(id))),
          schema))
      seed.count()
      // batches land as one parquet file each, mtime-ordered
      val src = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), s"embscale_src_$n").toString
      for (b <- 0 until nBatches) {
        val rows = (0L until batchRows).map { i =>
          val vid = 10000000L + b * batchRows + i
          val vec =
            if (i % 4 == 0) corpusVec((vid * 31) % n) // corpus dup (exact copy)
            else if (i % 4 == 3) novelVec(vid - 1)    // intra dup of row i-1
            else novelVec(vid)                        // novel (i%4 ∈ {1,2})
          Row(vid, vec)
        }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
          .coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(1100)
      }

      // probe path: the persisted IVF index built once, untimed (the
      // amortized bootstrap), then the WHOLE pipeline per micro-batch
      val out = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), s"embscale_out_$n").toString
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), s"embscale_ck_$n").toString
      val idx = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), s"embscale_idx_$n").toString
      EmbIngestPipeline.rebuildIndex(spark, seed, out, idx, p, through = -1L)
      val q = EmbIngestPipeline.stream(spark, src, seed, p, ckpt, out, () => idx)
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      val probe = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map(_.batchDuration / 1000.0)

      val files = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())

      // per-stage breakdown: the same DAG driven batch-by-batch on fresh
      // dirs with the ingestBatch timer on — names the dominant term
      // (decide = gate+dedup+probe materialized into the cache + the
      // rejected landing; admit = the cache-riding admitted landing;
      // append = the exactly-once code append; monitor = the cadenced
      // recall check)
      val out2 = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), s"embscale_out2_$n").toString
      val idx2 = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), s"embscale_idx2_$n").toString
      EmbIngestPipeline.rebuildIndex(spark, seed, out2, idx2, p, through = -1L)
      val stageNames = Seq("decide", "admit", "append", "monitor")
      val stageSecs = files.toSeq.zipWithIndex.map { case (f, b) =>
        val m = scala.collection.mutable.LinkedHashMap[String, Double]()
        Frame.ingestBatch(EmbIngestPipeline.stage(seed, p, out2, idx2),
          spark.read.schema(schema).parquet(f.toString), b.toLong,
          timer = (name, fn) => {
            val s0 = System.nanoTime()
            fn()
            m(name) = (System.nanoTime() - s0) / 1e9
          })
        m.toMap
      }
      val stageJson = stageNames.map { st =>
        s""""${st}_batch_sec":[${
          stageSecs.map(m => r3(m.getOrElse(st, 0.0))).mkString(",")}]"""
      }.mkString(",")

      // contrast: the exact-scan admit alone (top-1 cosine of one
      // batch's rows against the seed corpus) — the O(corpus·batch)
      // term the index probe replaces. One batch suffices: the cost is
      // corpus-linear by construction and batch-invariant.
      // SPARK_GRAFT_EXACT_MAX_CORPUS skips the contrast above a size —
      // it is corpus-linear by construction, so measured small points
      // pin the slope without paying the large ones' full scan
      val exactCap = sys.env.getOrElse("SPARK_GRAFT_EXACT_MAX_CORPUS",
        Long.MaxValue.toString).toLong
      val exact = files.toSeq.take(1).filter(_ => n <= exactCap).map { f =>
        val batch = spark.read.schema(schema).parquet(f.toString)
        val t0 = System.nanoTime()
        Similarity.cosineTopK(seed, batch, "vec_id", "embedding", Dim, 1)
          .count()
        (System.nanoTime() - t0) / 1e9
      }
      println(s"""{"metric":"emb_ingest_scale","corpus":$n,"batch_rows":$batchRows,""" +
        s""""n_batches":${probe.size},"monitor_every":$monitorEvery,""" +
        s""""nlist":$nlist,"nprobe":$nprobe,""" +
        s""""probe_pipeline_batch_sec":[${probe.map(r3).mkString(",")}],""" +
        stageJson + "," +
        s""""exact_admit_batch_sec":[${exact.map(r3).mkString(",")}]}""")
      Seq(src, out, ckpt, idx, out2, idx2).foreach(d =>
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)))
    }
    spark.stop()
  }
}
