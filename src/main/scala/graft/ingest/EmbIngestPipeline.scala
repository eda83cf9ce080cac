package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.VectorFns
import graft.operators.{AnnIndex, Similarity}

/** The incremental EMBEDDING ingest pipeline (m15) — every arriving batch
  * of (vec_id, embedding) rows through [[Frame.ingestBatch]] with this
  * stage, where the corpus index IS the serving ANN index ([[AnnIndex]]):
  * one artifact answers both "is this vector a duplicate?" (admit) and
  * "what are this query's neighbors?" (serve).
  *
  *   - GATE: exact decisions only — null/mis-sized vectors reject as
  *     `bad_vector`, zero-norm vectors as `zero_norm` (cosine is undefined
  *     on them);
  *   - PAIRS: exact cosine pairs at `threshold` within the batch
  *     ([[Similarity.cosineNearDupPairs]], the guarded exact form: batches
  *     are bounded by construction; the documented scale path for huge
  *     batches is [[Similarity.lshNearDupPairs]]);
  *   - ADMIT: representatives PROBE the persisted IVF-PQ index (top-1,
  *     exact-cosine rerank); a hit at `cos >= threshold` rejects as
  *     `corpus_dup` and lands its `dup_cos`. The probe scans only
  *     `ingest_batch < id` code partitions — the per-batch cost is the
  *     serve cost (probe + code scan + bounded rerank), NEVER an exact
  *     scan of the corpus: the d29/d30 move for vectors;
  *   - AFTER LANDING: the admitted vectors' PQ codes append to the index
  *     under an `ingest_batch=<id>` partition ([[AnnIndex.appendIvfPq]]'s
  *     exactly-once mode; fresh vectors ride stale codebooks until a
  *     rebuild), then the cadenced RECALL MONITOR (recall@k of a bounded
  *     sample of the batch's admitted vectors against the exact scan,
  *     e19's drift signal; `fired` = mean recall below target).
  *
  * REBUILD — [[rebuildIndex]] retrains over the accumulated corpus into a
  * NEW versioned index directory (e21's recovery); the stream's index
  * thunk swaps to it between batches. Decisions are index-version-
  * dependent by nature (an approximate probe), so the swap point is an
  * explicit operational event; [[AnnIndex.compactCodes]] folds per-batch
  * code partitions back into the base without a retrain. Batch and corpus
  * vec_ids must be unique and disjoint (mint batch ids with an offset).
  */
object EmbIngestPipeline {

  private val AdmittedSchema =
    "vec_id BIGINT, embedding ARRAY<FLOAT>, ingest_batch BIGINT"
  private val RejectedSchema =
    "vec_id BIGINT, reject_reason STRING, dup_cos DOUBLE, ingest_batch BIGINT"
  private val MonitorSchema =
    "batch STRING, n_queries BIGINT, mean_recall DOUBLE, fired BOOLEAN, " +
      "ingest_batch BIGINT"

  /** Tunables for one pipeline instance; `index` is resolved EVERY
    * micro-batch (like the band-index thunks) so a rebuild's directory
    * swap takes effect live.
    *
    * `maxBatchRows` guards the INTRA-batch exact-cosine dedup (quadratic
    * in the batch — kept at the documented 100k all-pairs guard; route
    * bigger batches through [[graft.operators.Similarity.lshNearDupPairs]]
    * or shard them upstream), a separate knob from `maxQueryRows`, which
    * only bounds the probe/monitor QUERY sides (linear broadcasts).
    *
    * `monitorEvery` is the recall monitor's cadence: the monitor's exact
    * side is an O(corpus) scan by definition, so running it every batch
    * puts a full-corpus term inside a loop whose admit step was built to
    * avoid exactly that. Every Nth batch amortizes it N× (drift is a
    * corpus-scale phenomenon — it does not appear and vanish between
    * adjacent micro-batches); non-monitored batches land no monitor row.
    */
  final case class Params(
      dim: Int, threshold: Double, nlist: Int, itersCoarse: Int, m: Int,
      ksub: Int, itersPq: Int, nprobe: Int, rerank: Int,
      monitorK: Int, monitorMax: Int, recallTarget: Double,
      maxQueryRows: Long = 1L << 20,
      maxBatchRows: Long = 100000,
      monitorEvery: Int = 1)

  /** The corpus vectors as batch `belowBatch` must see them: seed
    * (vec_id, embedding) ∪ vectors admitted by STRICTLY EARLIER batches.
    */
  def corpusVecs(spark: SparkSession, seedVecs: DataFrame, outDir: String,
      belowBatch: Long): DataFrame =
    seedVecs.select(col("vec_id"), col("embedding"))
      .unionByName(Frame.strictlyEarlier(spark, s"$outDir/admitted",
          AdmittedSchema, belowBatch)
        .select(col("vec_id"), col("embedding")))

  /** Build (or REBUILD) the index over seed ∪ admitted(<= through) into
    * `dir` — fresh codebooks, full re-encode, partitioned codes layout
    * (the bootstrap lands as `ingest_batch=-1`). Rebuilds write a NEW
    * versioned directory; the old index stays serveable until the
    * caller's thunk swaps.
    */
  def rebuildIndex(spark: SparkSession, seedVecs: DataFrame, outDir: String,
      dir: String, p: Params, through: Long): String = {
    AnnIndex.buildIvfPq(corpusVecs(spark, seedVecs, outDir, through + 1),
      "vec_id", "embedding", p.dim, p.nlist, p.itersCoarse, p.m, p.ksub,
      p.itersPq, dir, ingestBatch = Some(-1L))
    dir
  }

  /** The m15 stage against the IVF-PQ index at `idxDir` (resolved once
    * per micro-batch by the caller, so a [[rebuildIndex]] swap takes
    * effect between batches).
    */
  def stage(seedVecs: DataFrame, p: Params, outDir: String,
      idxDir: String): Frame.Stage = {
    def landed(b: Frame.Batch): DataFrame =
      Frame.readOrEmpty(b.spark, s"$outDir/admitted", AdmittedSchema)
        .filter(col("ingest_batch") === b.id)
        .select(col("vec_id"), col("embedding"))
    Frame.Stage(outDir, idCol = "vec_id", carried = Seq("vec_id", "embedding"),
      rejectedSchema = RejectedSchema, admittedParts = Nil,
      // size check BEFORE any norm is computed on a bad vector
      gate = _.select(col("vec_id"), col("embedding"),
          when(col("embedding").isNull || size(col("embedding")) =!= p.dim,
            lit("bad_vector")).as("g1"))
        .withColumn("gate_reason",
          when(col("g1").isNotNull, col("g1"))
            .when(VectorFns.norm(col("embedding"), p.dim) === 0.0,
              lit("zero_norm")))
        .select(col("vec_id"), col("embedding"), col("gate_reason")),
      pairs = Similarity.cosineNearDupPairs(_, "vec_id", "embedding", p.dim,
        p.threshold, maxRows = p.maxBatchRows),
      // representatives probe the index (strictly earlier partitions).
      // Pinned: the serve path evaluates its query relation three times
      // (probed-list pruning collect, probe broadcast, post-cut vector
      // re-join), and reps sits on top of the connected-components
      // iteration — without the pin each evaluation would re-run CC.
      admit = (b, reps) => AnnIndex.queryIvfPq(
          corpus = corpusVecs(b.spark, seedVecs, outDir, b.id),
          queries = b.pin(reps.select(col("vec_id"), col("embedding"))),
          idCol = "vec_id", vecCol = "embedding", dim = p.dim,
          k = 1, nprobe = p.nprobe, rerank = p.rerank, dir = idxDir,
          maxQueryRows = p.maxQueryRows,
          scanPred = Some(col("ingest_batch") < b.id))
        .filter(col("cos_sim") >= p.threshold)
        .select(col("query_id").as("rep"),
          col("neighbor_id").as("corpus_dup_of"), col("cos_sim").as("dup_cos")),
      // coalesce(4): Frame.land's file-count contract
      admitted = (_, rows) =>
        rows.select(col("vec_id"), col("embedding")).coalesce(4),
      afterLanding = b => {
        b.timer("append", () => AnnIndex.appendIvfPq(landed(b),
          "vec_id", "embedding", p.dim, idxDir, ingestBatch = Some(b.id)))
        // recall monitor — CADENCED (p.monitorEvery): its exact side is an
        // O(corpus) scan by definition, the one term in this loop that
        // cannot ride the index. The cadence decision is a pure function
        // of the batch id, so a replayed batch agrees with its first
        // attempt; a skipped batch lands NO monitor row. On monitored
        // batches: recall@k of a bounded, deterministic admitted sample,
        // served from the index INCLUDING this batch's codes. An empty
        // sample lands a fired=NULL row (the drift-gate allowEmpty rule:
        // a throw inside foreachBatch wedges the stream on replay).
        if (b.id % p.monitorEvery == 0) b.timer("monitor", () => {
          val sample = b.pin(
            landed(b).orderBy(col("vec_id")).limit(p.monitorMax))
          val monitor =
            if (sample.count() == 0)
              b.spark.sql(s"""SELECT 'batch_${b.id}' AS batch,
                CAST(0 AS BIGINT) AS n_queries,
                CAST(NULL AS DOUBLE) AS mean_recall,
                CAST(NULL AS BOOLEAN) AS fired""")
            else {
              val served = corpusVecs(b.spark, seedVecs, outDir, b.id + 1)
              val rec = Similarity.recallAtK(
                approx = AnnIndex.queryIvfPq(
                  corpus = served, queries = sample, idCol = "vec_id",
                  vecCol = "embedding", dim = p.dim, k = p.monitorK,
                  nprobe = p.nprobe, rerank = p.rerank, dir = idxDir,
                  maxQueryRows = p.maxQueryRows,
                  scanPred = Some(col("ingest_batch") <= b.id)),
                exact = Similarity.cosineTopK(served, sample, "vec_id",
                  "embedding", p.dim, p.monitorK))
              // MICRO-averaged recall (total hits / total truth): integer
              // sums + one double division — bit-reproducible across
              // engines (a mean of per-query double ratios is
              // summation-order-dependent in the last ulp), which is what
              // lets the monitor row be DECLARED and hash-gated (m16)
              rec.agg(count(lit(1)).as("n_queries"),
                  (sum(col("hits")).cast("double") /
                    sum(col("n_exact")).cast("double")).as("mean_recall"))
                .select(lit(s"batch_${b.id}").as("batch"), col("n_queries"),
                  col("mean_recall"),
                  (col("mean_recall") < p.recallTarget).as("fired"))
            }
          b.land(monitor, "monitor", coalesceTo = Some(4))
        })
      })
  }

  /** ONE batch through the DAG; lands admitted / rejected / monitor under
    * `ingest_batch=batchId` and appends the admitted PQ codes under the
    * same partition inside the index. `batch` columns: (vec_id BIGINT,
    * embedding ARRAY<FLOAT>).
    */
  def ingestBatch(batch: DataFrame, seedVecs: DataFrame, p: Params,
      outDir: String, batchId: Long, index: () => String): Unit =
    Frame.ingestBatch(stage(seedVecs, p, outDir, index()), batch, batchId)

  /** The streaming wrapper: a parquet file stream of vector batches
    * driven through [[ingestBatch]] one micro-batch at a time. The
    * `index` thunk is re-resolved per batch so a [[rebuildIndex]] swap
    * takes effect live.
    */
  def stream(spark: SparkSession, srcDir: String, seedVecs: DataFrame,
      p: Params, checkpoint: String, outDir: String,
      index: () => String): StreamingQuery =
    Frame.fileStream(spark, srcDir, "vec_id BIGINT, embedding ARRAY<FLOAT>",
      checkpoint) { (b, id) =>
      ingestBatch(b, seedVecs, p, outDir, id, index)
    }

  /** The audit over the LANDED outputs plus the index's appended code
    * partitions: one row per vector (status, dup cosine), the per-list
    * codes manifest of everything appended since bootstrap (counts, id
    * and code0 checksums — the proof of WHAT entered the index), and the
    * per-batch recall verdicts. Monitor rows are spec-gated, not
    * oracle-gated (their recall math is hash-proven by e19/e21); the
    * declared m15 query filters them out — `includeMonitor = false`.
    */
  def audit(spark: SparkSession, outDir: String, indexDir: String,
      includeMonitor: Boolean = true): DataFrame = {
    val adm = Frame.readOrEmpty(spark, s"$outDir/admitted", AdmittedSchema)
    val rej = Frame.readOrEmpty(spark, s"$outDir/rejected", RejectedSchema)
    val vecRows = adm.select(lit("vec").as("kind"),
        col("vec_id").cast("string").as("key"), lit("admitted").as("detail"),
        lit(null).cast("bigint").as("n1"), lit(null).cast("bigint").as("n2"),
        lit(null).cast("double").as("x"))
      .unionByName(rej.select(lit("vec").as("kind"),
        col("vec_id").cast("string").as("key"),
        col("reject_reason").as("detail"),
        lit(null).cast("bigint").as("n1"), lit(null).cast("bigint").as("n2"),
        col("dup_cos").as("x")))
    val listRows = AnnIndex.readCodes(spark, indexDir)
      .filter(col("ingest_batch") >= 0)
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_codes"),
        sum(col("code0")).as("code0_checksum"),
        sum(col("neighbor_id")).as("id_checksum"))
      .select(lit("list").as("kind"), col("list_id").cast("string").as("key"),
        lit(null).cast("string").as("detail"), col("n_codes").as("n1"),
        col("code0_checksum").cast("bigint").as("n2"),
        col("id_checksum").cast("double").as("x"))
    val base = vecRows.unionByName(listRows)
    if (!includeMonitor) base
    else base.unionByName(
      Frame.readOrEmpty(spark, s"$outDir/monitor", MonitorSchema)
        .select(lit("monitor").as("kind"), col("batch").as("key"),
          col("fired").cast("string").as("detail"),
          col("n_queries").as("n1"), lit(null).cast("bigint").as("n2"),
          col("mean_recall").as("x")))
  }
}
