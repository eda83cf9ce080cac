package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{EmbIngestPipeline, Frame, TextIngestPipeline}
import graft.operators.{AnnIndex, Similarity}
import graft.util.Materialize

/** The m14/m15 ingest LOOPS driven over REAL data shapes — the generated
  * sf-scale `documents`/`embeddings` tables (organic near-dup rate, real
  * text lengths and vocab, iid unit vectors) instead of the synthetic
  * planted-mix corpora the per-operator scale benches use. The declared
  * single-batch forms are sf1-proven; this records the LOOP shape: 4+
  * micro-batches through the full streaming DAG, per-batch wall time,
  * probe path (persisted index) vs the direct contrast.
  *
  * Split: seed corpus = id % 5 <> 0 (80%), stream source = the id % 5 = 0
  * rows dealt round-robin into `SPARK_GRAFT_N_BATCHES` (default 5)
  * mtime-ordered parquet files — ids are disjoint from the seed's by
  * construction, so the pipelines' unique-and-disjoint id contract holds
  * with no re-minting.
  *
  *   sbt "runMain graft.tools.LoopSf1Bench testdata-gen/sf1de text,emb"
  */
object LoopSf1Bench {

  private def r3(v: Double) = math.rint(v * 1000) / 1000

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), prefix).toString

  /** Land the stream source: batch b = every nBatches-th row by id order
    * (round-robin keeps batch composition homogeneous), one file per
    * batch, mtime-ordered. The pool is the id%5=0 split, so the dealing
    * key is id/5 (dealing on the raw id would put the whole pool in
    * batch 0 — every pool id is ≡0 mod 5).
    */
  private def writeSource(pool: DataFrame, idCol: String,
      nBatches: Int, dir: String): Unit =
    for (b <- 0 until nBatches) {
      pool.filter(pmod(col(idCol) / 5, lit(nBatches.toLong)) === b)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }

  private def drive(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Double] = {
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(_.batchDuration / 1000.0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("testdata-gen/sf1de")
    val modes = args.lift(1).getOrElse("text,emb").split(",").map(_.trim).toSet
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_N_BATCHES", "5").toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (modes("text")) Materialize { scope =>
      val docs = scope.persist(spark.read.parquet(s"$sfDir/documents.parquet"))
      val nDocs = docs.count()
      val trained = Frame.train(docs, "doc_id", "text", "source",
        targetSource = "src0", buckets = 512, driftThreshold = 20000.0)
      val seed = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("text"))
      val src = tmp("loopsf_text_src")
      writeSource(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text")), "doc_id", nBatches, src)

      // m14 parameters; the PROBE path rides the persisted seed band index
      def run(label: String,
          admitIndex: () => Option[Frame.IndexState]): Seq[Double] = {
        val out = tmp(s"loopsf_text_out_$label")
        drive(TextIngestPipeline.stream(spark, src, seed, trained,
          n = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.8,
          minTokens = 5L, maxTokens = 400L, nShards = 4,
          tmp(s"loopsf_text_ck_$label"), out, admitIndex))
      }
      val idxTab = "g_loopsf_textidx"
      val st = TextIngestPipeline.corpus(seed, tmp("loopsf_text_idxout"),
          n = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.8)
        .buildIndex(idxTab, nBuckets = 8, through = -1L)
      val probe = run("probe", () => Some(st))
      val direct = run("direct", () => None)
      println(s"""{"metric":"text_loop_realdata","sf_dir":"$sfDir",""" +
        s""""n_docs":$nDocs,"n_batches":${probe.size},""" +
        s""""probe_batch_sec":[${probe.map(r3).mkString(",")}],""" +
        s""""direct_batch_sec":[${direct.map(r3).mkString(",")}]}""")
    }

    if (modes("emb")) Materialize { scope =>
      val emb = scope.persist(spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")))
      val nVecs = emb.count()
      val seed = emb.filter(col("vec_id") % 5 =!= 0)
      val src = tmp("loopsf_emb_src")
      writeSource(emb.filter(col("vec_id") % 5 === 0), "vec_id", nBatches, src)
      // m15 declared parameters + the production monitor cadence;
      // recallTarget=0 so no rebuild fires mid-measurement
      val p = EmbIngestPipeline.Params(dim = 64, threshold = 0.95,
        nlist = 16, itersCoarse = 2, m = 8, ksub = 16, itersPq = 2,
        nprobe = 4, rerank = 20, monitorK = 5, monitorMax = 50,
        recallTarget = 0.0, monitorEvery = 2)
      val out = tmp("loopsf_emb_out")
      val idx = tmp("loopsf_emb_idx")
      EmbIngestPipeline.rebuildIndex(spark, seed, out, idx, p, through = -1L)
      val probe = drive(EmbIngestPipeline.stream(spark, src, seed, p,
        tmp("loopsf_emb_ck"), out, () => idx))
      // contrast: one batch's exact-scan admit (what no-index costs)
      val firstFile = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).minBy(_.lastModified())
      val batch = spark.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .parquet(firstFile.toString)
      val t0 = System.nanoTime()
      Similarity.cosineTopK(seed, batch, "vec_id", "embedding", 64, 1,
        maxQueryRows = 1L << 20).count()
      val exact = (System.nanoTime() - t0) / 1e9
      // file-layout health after the loop: compaction folds the per-batch
      // partitions and must not change the probe's answers (spec-proven;
      // recorded here as the count so drift is visible in the JSONL)
      val nCodeFiles = {
        def count(d: java.io.File): Int =
          if (d.isDirectory) d.listFiles().map(count).sum
          else if (d.getName.endsWith(".parquet")) 1 else 0
        count(new java.io.File(s"$idx/codes"))
      }
      val compacted = tmp("loopsf_emb_idx_v2")
      AnnIndex.compactCodes(spark, idx, compacted, through = nBatches.toLong)
      val nCodeFilesCompacted = {
        def count(d: java.io.File): Int =
          if (d.isDirectory) d.listFiles().map(count).sum
          else if (d.getName.endsWith(".parquet")) 1 else 0
        count(new java.io.File(s"$compacted/codes"))
      }
      println(s"""{"metric":"emb_loop_realdata","sf_dir":"$sfDir",""" +
        s""""n_vecs":$nVecs,"n_batches":${probe.size},"monitor_every":2,""" +
        s""""probe_batch_sec":[${probe.map(r3).mkString(",")}],""" +
        s""""exact_admit_batch_sec":[${r3(exact)}],""" +
        s""""code_files_before_compaction":$nCodeFiles,""" +
        s""""code_files_after_compaction":$nCodeFilesCompacted}""")
    }
    spark.stop()
  }
}
