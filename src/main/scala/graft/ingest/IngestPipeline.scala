package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFns
import graft.operators.Dedup

/** The incremental multimodal ingest pipeline (m12) — every arriving batch
  * of (image, caption) training pairs through [[Frame.ingestBatch]] with
  * this stage:
  *
  *   - GATE: a 64-bit perceptual signature over the payload (`signature`:
  *     `plans.DHashBmp` for images, `plans.AudioFp` for audio — m13);
  *     undecodables are rejected as `quarantined_undecodable`;
  *   - PAIRS: banded Hamming pairs within the batch
  *     ([[Dedup.hammingPairs64]], exact for radius < bands);
  *   - ADMIT: representatives' bands against the corpus [[corpus]] —
  *     the committed seed signatures ∪ every admitted batch's — on the
  *     direct join or the persisted [[Dedup.bandIndex64]] probe
  *     ([[Frame.IndexState]]; the declared m12/m13 queries run the probe);
  *   - ADMITTED: captions DSIR-scored and hash-sharded
  *     ([[Frame.scoredShards]]), signatures landed as the index
  *     contribution;
  *   - AFTER LANDING: the caption drift gate ([[Frame.landDrift]]).
  *
  * The admit machinery is pure Hamming-space and does not care which
  * modality produced the bits, so ONE pipeline serves both the image and
  * the audio ingest streams. Nothing in the loop scans the corpus payloads
  * — only the 3-column signature index.
  */
object IngestPipeline {

  private val SourceSchema =
    "pair_id BIGINT, img_name STRING, payload BINARY, caption STRING"
  /** Landed-admitted schema (explicit: reads must survive an empty or
    * crash-partial output directory where inference has nothing to read).
    */
  private val AdmittedSchema =
    "pair_id BIGINT, img_name STRING, caption STRING, hi BIGINT, lo BIGINT, " +
      "n_tokens BIGINT, dsir_score DOUBLE, ingest_batch BIGINT, shard BIGINT"
  private val RejectedSchema =
    "pair_id BIGINT, img_name STRING, reject_reason STRING, ingest_batch BIGINT"

  /** The signature corpus: seed (item_id, hi, lo) ∪ signatures admitted
    * by earlier batches, banded with [[Dedup.bandIndex64]].
    */
  def corpus(seedSig: DataFrame, outDir: String, bands: Int,
      radius: Int): Frame.Corpus =
    new Frame.Corpus(seedSig.select(col("item_id").cast("string").as("item_id"),
        col("hi"), col("lo")), outDir, AdmittedSchema, ("id_new", "id_corpus")) {
      protected def fromAdmitted(admitted: DataFrame): DataFrame =
        admitted.select(col("pair_id").cast("string").as("item_id"),
          col("hi"), col("lo"))
      protected def bandIndex(rows: DataFrame): DataFrame =
        Dedup.bandIndex64(rows, "item_id", "hi", "lo", bands)
      // pair_id is the stream's natural unique key: no id-check jobs
      def batchPairs(rows: DataFrame): DataFrame =
        Dedup.hammingPairs64(rows, "pair_id", "hi", "lo", bands, radius,
          checkIds = false)
      protected def direct(corpus: DataFrame, reps: DataFrame): DataFrame =
        Dedup.hammingPairs64Batch(corpus, reps, "item_id", "hi", "lo",
          bands, radius)
      protected def probe(index: DataFrame, reps: DataFrame,
          batchId: Long): DataFrame =
        Dedup.hammingPairs64Probe(index, reps, "item_id", "hi", "lo",
          bands, radius)
    }

  /** The m12/m13 stage over `corpus`; `admitIndex` is resolved once per
    * micro-batch (None = the direct admit join).
    */
  def stage(corpus: Frame.Corpus, trained: Frame.Trained, nShards: Int,
      signature: Column => Column,
      admitIndex: () => Option[Frame.IndexState]): Frame.Stage =
    Frame.Stage(corpus.outDir, idCol = "pair_id",
      carried = Seq("pair_id", "img_name", "caption", "hi", "lo"),
      rejectedSchema = RejectedSchema, admittedParts = Seq("shard"),
      gate = _.select(col("pair_id"), col("img_name"), col("caption"),
          signature(col("payload")).as("dh"))
        .select(col("pair_id"), col("img_name"), col("caption"),
          col("dh.hi").as("hi"), col("dh.lo").as("lo"))
        .withColumn("gate_reason",
          when(col("hi").isNull, lit("quarantined_undecodable"))),
      pairs = corpus.batchPairs,
      admit = (b, reps) => corpus.corpusDup(
        reps.select(col("pair_id").as("item_id"), col("hi"), col("lo")),
        b.id, admitIndex()),
      admitted = (_, rows) => Frame.scoredShards(rows, "pair_id", "caption",
          trained, nShards, AdmittedSchema)(
        _.withColumn("n_tokens", TextFns.tokenCount(col("caption")))),
      afterLanding = Frame.landDrift(trained, "caption"))

  /** ONE batch through the DAG; lands admitted / rejected / drift under
    * `ingest_batch=batchId`. `batch` columns: (pair_id BIGINT, img_name,
    * payload BINARY, caption).
    */
  def ingestBatch(batch: DataFrame, seedSig: DataFrame, trained: Frame.Trained,
      bands: Int, radius: Int, nShards: Int, outDir: String,
      batchId: Long,
      signature: Column => Column = graft.plans.DHashBmp(_),
      admitIndex: () => Option[Frame.IndexState] = () => None): Unit =
    Frame.ingestBatch(stage(corpus(seedSig, outDir, bands, radius), trained,
      nShards, signature, admitIndex), batch, batchId)

  /** The streaming wrapper: a parquet file stream of pair batches driven
    * through [[ingestBatch]] one micro-batch at a time.
    */
  def stream(spark: SparkSession, srcDir: String, seedSig: DataFrame,
      trained: Frame.Trained, bands: Int, radius: Int, nShards: Int,
      checkpoint: String, outDir: String,
      signature: Column => Column = graft.plans.DHashBmp(_),
      admitIndex: () => Option[Frame.IndexState] = () => None): StreamingQuery =
    Frame.fileStream(spark, srcDir, SourceSchema, checkpoint) { (b, id) =>
      ingestBatch(b, seedSig, trained, bands, radius, nShards, outDir, id,
        signature, admitIndex)
    }

  /** The audit the declared m12/m13 queries hash-check ([[Frame.audit]]). */
  def audit(spark: SparkSession, outDir: String): DataFrame =
    Frame.audit(spark, outDir, "pair", "pair_id", AdmittedSchema,
      RejectedSchema, lit("admitted"))
}
