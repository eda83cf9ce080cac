package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFns
import graft.operators.Dedup

/** The incremental TEXT ingest pipeline (m14) — every arriving batch of
  * documents through [[Frame.ingestBatch]] with this stage:
  *
  *   - GATE: exact integer decisions only (token-count bounds), so the
  *     admit set is bit-reproducible across engines. The heuristic
  *     language id ([[TextFns.langId]]) is STAMPED as metadata on admitted
  *     rows, not used as a gate — on a synthetic corpus with no stopwords
  *     it would reject everything, and lang routing is a policy choice
  *     layered ON the landed column;
  *   - PAIRS: MinHash-LSH verified pairs within the batch
  *     ([[Dedup.minhashLshPairs]], exact-Jaccard-verified at `threshold`);
  *   - ADMIT: representatives against the document [[corpus]] on the
  *     direct [[Dedup.incrementalDupPairs]] join (re-signatures the corpus
  *     per batch — the flaw d30 measured at 6.5× across 30× corpus growth)
  *     or the persisted [[Dedup.minhashBandIndex]] probe, whose
  *     verification semi-join-prunes the corpus text read to candidate
  *     ids BEFORE shingling;
  *   - ADMITTED: DSIR-scored, hash-sharded, lang-stamped
  *     ([[Frame.scoredShards]]);
  *   - AFTER LANDING: the drift gate over the whole batch's text
  *     ([[Frame.landDrift]]).
  *
  * Batch/corpus doc ids must be unique and disjoint (the
  * [[Dedup.incrementalDupPairs]] contract); an ingest-batch id offset is
  * the natural way to mint batch ids.
  */
object TextIngestPipeline {

  private val AdmittedSchema =
    "doc_id BIGINT, text STRING, lang STRING, n_tokens BIGINT, " +
      "dsir_score DOUBLE, ingest_batch BIGINT, shard BIGINT"
  private val RejectedSchema =
    "doc_id BIGINT, reject_reason STRING, ingest_batch BIGINT"

  /** The document corpus: seed (doc_id, text) ∪ docs admitted by earlier
    * batches, banded with [[Dedup.minhashBandIndex]].
    */
  def corpus(seedDocs: DataFrame, outDir: String, n: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double): Frame.Corpus =
    new Frame.Corpus(seedDocs.select(col("doc_id"), col("text")), outDir,
        AdmittedSchema, ("batch_id", "corpus_id")) {
      protected def fromAdmitted(admitted: DataFrame): DataFrame =
        admitted.select(col("doc_id"), col("text"))
      protected def bandIndex(rows: DataFrame): DataFrame =
        Dedup.minhashBandIndex(rows, "doc_id", "text", n, numHashes, rowsPerBand)
      def batchPairs(rows: DataFrame): DataFrame =
        Dedup.minhashLshPairs(rows, "doc_id", "text", n, numHashes,
          rowsPerBand, threshold)
      protected def direct(corpus: DataFrame, reps: DataFrame): DataFrame =
        Dedup.incrementalDupPairs(corpus, reps, "doc_id", "text", n,
          numHashes, rowsPerBand, threshold)
      // verification text for candidate ids: any superset of the index's
      // ids works (the probe semi-join-prunes it to candidates)
      protected def probe(index: DataFrame, reps: DataFrame,
          batchId: Long): DataFrame =
        Dedup.incrementalDupPairsProbe(index, upTo(batchId), reps, "doc_id",
          "text", n, numHashes, rowsPerBand, threshold)
    }

  /** The m14 stage over `corpus`; `admitIndex` is resolved once per
    * micro-batch (None = the direct admit join).
    */
  def stage(corpus: Frame.Corpus, trained: Frame.Trained, minTokens: Long,
      maxTokens: Long, nShards: Int,
      admitIndex: () => Option[Frame.IndexState]): Frame.Stage =
    Frame.Stage(corpus.outDir, idCol = "doc_id", carried = Seq("doc_id", "text"),
      rejectedSchema = RejectedSchema, admittedParts = Seq("shard"),
      gate = _.select(col("doc_id"), col("text"),
          TextFns.tokenCount(col("text")).as("n_tokens"),
          TextFns.langId(col("text")).as("lang"))
        .withColumn("gate_reason",
          when(col("n_tokens") < minTokens, lit("below_min_tokens"))
            .when(col("n_tokens") > maxTokens, lit("above_max_tokens"))),
      pairs = corpus.batchPairs,
      admit = (b, reps) => corpus.corpusDup(
        reps.select(col("doc_id"), col("text")), b.id, admitIndex()),
      admitted = (b, rows) => Frame.scoredShards(rows, "doc_id", "text",
          trained, nShards, AdmittedSchema)(
        _.join(b.gated.select(col("doc_id"), col("lang"), col("n_tokens")),
          Seq("doc_id"))),
      afterLanding = Frame.landDrift(trained, "text"))

  /** ONE batch through the DAG; lands admitted / rejected / drift under
    * `ingest_batch=batchId`. `batch` columns: (doc_id BIGINT, text
    * STRING).
    */
  def ingestBatch(batch: DataFrame, seedDocs: DataFrame,
      trained: Frame.Trained, n: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double, minTokens: Long, maxTokens: Long,
      nShards: Int, outDir: String, batchId: Long,
      admitIndex: () => Option[Frame.IndexState] = () => None): Unit =
    Frame.ingestBatch(stage(
      corpus(seedDocs, outDir, n, numHashes, rowsPerBand, threshold),
      trained, minTokens, maxTokens, nShards, admitIndex),
      batch, batchId)

  /** The streaming wrapper: a parquet file stream of document batches
    * driven through [[ingestBatch]] one micro-batch at a time.
    */
  def stream(spark: SparkSession, srcDir: String, seedDocs: DataFrame,
      trained: Frame.Trained, n: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double, minTokens: Long, maxTokens: Long,
      nShards: Int, checkpoint: String, outDir: String,
      admitIndex: () => Option[Frame.IndexState] = () => None): StreamingQuery =
    Frame.fileStream(spark, srcDir, "doc_id BIGINT, text STRING",
      checkpoint) { (b, id) =>
      ingestBatch(b, seedDocs, trained, n, numHashes, rowsPerBand,
        threshold, minTokens, maxTokens, nShards, outDir, id, admitIndex)
    }

  /** The audit the declared m14 query hash-checks ([[Frame.audit]]); an
    * admitted doc's detail carries its stamped lang.
    */
  def audit(spark: SparkSession, outDir: String): DataFrame =
    Frame.audit(spark, outDir, "doc", "doc_id", AdmittedSchema,
      RejectedSchema, concat(lit("admitted:"), col("lang")))
}
