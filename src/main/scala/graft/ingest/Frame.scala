package graft.ingest

import java.math.{BigDecimal => JBigDecimal}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFns
import graft.operators.{Dedup, Dsir}

/** The EXACTLY-ONCE incremental ingest skeleton: ONE per-batch DAG
  * ([[ingestBatch]]) that the three modality pipelines — image/audio
  * (m12/m13, [[IngestPipeline]]), text (m14, [[TextIngestPipeline]]) and
  * embedding (m15, [[EmbIngestPipeline]]) — each drive with a small
  * [[Stage]] definition holding only what differs between them. Every
  * arriving micro-batch runs
  *
  *   spread on id → GATE (id, payload, `gate_reason`) → intra-batch PAIRS
  *   → connected components → [[withRepresentative]] → ADMIT the
  *   representatives against the corpus → decided → land `rejected` →
  *   land `admitted` → after-landing step → release,
  *
  * and the delivery contract that makes a replay exactly-once lives here,
  * once:
  *
  *   - every output LANDS under an `ingest_batch=<id>` partition written
  *     with DYNAMIC partition overwrite ([[land]]) — a replayed
  *     micro-batch (kill/restart inside foreachBatch) overwrites its own
  *     partitions instead of appending duplicates;
  *   - every read a batch depends on is filtered to STRICTLY EARLIER
  *     batches ([[strictlyEarlier]]) — a replayed batch never sees its
  *     own crashed attempt, which is what makes the recompute
  *     deterministic and the overwrite idempotent;
  *   - reads survive an empty or crash-partial output directory
  *     ([[readOrEmpty]] — explicit schema, `_temporary` invisible);
  *   - the stream wrapper ([[fileStream]]) replays an interrupted batch
  *     under the SAME id (offsets are logged before foreachBatch runs),
  *     closing the loop with the two rules above;
  *   - per-batch index/state THUNKS are re-resolved every micro-batch by
  *     the stages (so compactions/rebuilds take effect live), and the
  *     decision ([[rejectReason]]) tolerates the resulting overlap windows
  *     because band-index admits aggregate pair sources with min()
  *     ([[Corpus.corpusDup]]).
  *
  * The two band-index modalities share their corpus side too: one
  * [[Corpus]] definition (seed ∪ admitted, the persisted bucketed band
  * index, its fold-in compaction and the direct/probe admit), parameterised
  * by the band-index function (`Dedup.bandIndex64` vs
  * `Dedup.minhashBandIndex`).
  */
object Frame {

  /** Read `dir` with an explicit schema, or an empty relation when the
    * directory does not exist yet — incremental reads must survive the
    * first batch (nothing landed) and crash-partial outputs (only
    * `_temporary`, which parquet reads ignore).
    */
  def readOrEmpty(spark: SparkSession, dir: String, schema: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(schema))
  }

  /** The landed rows batch `belowBatch` is allowed to SEE: strictly
    * earlier batches only. The strict inequality is the exactly-once
    * linchpin — a replayed batch reading `<= id` would consume its own
    * crashed attempt and diverge from the first run.
    */
  def strictlyEarlier(spark: SparkSession, dir: String, schema: String,
      belowBatch: Long): DataFrame =
    readOrEmpty(spark, dir, schema).filter(col("ingest_batch") < belowBatch)

  /** Land one batch output under `ingest_batch=batchId` (+`extraParts`)
    * with dynamic partition overwrite — the idempotent-replay write.
    * `coalesceTo`: per-batch partitions written at shuffle width land
    * dozens of tiny files, and every later batch's corpus read pays
    * per-file overhead for ALL of them — file count, not row count, is
    * the accumulating term in a long-running loop. Pass None only when
    * the input's width is already controlled (e.g. a shard repartition).
    */
  def land(df: DataFrame, outDir: String, sub: String, batchId: Long,
      extraParts: Seq[String] = Nil, coalesceTo: Option[Int] = None): Unit =
    coalesceTo.fold(df)(df.coalesce)
      .withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(("ingest_batch" +: extraParts): _*)
      .parquet(s"$outDir/$sub")

  /** The streaming wrapper every pipeline shares: a parquet file stream,
    * one file per micro-batch (deterministic batch boundaries), driven
    * through `body(batch, batchId)`. The checkpoint replays an
    * interrupted batch under the same id; [[land]]'s partition overwrite
    * makes that replay exactly-once.
    */
  def fileStream(spark: SparkSession, srcDir: String, schema: String,
      checkpoint: String)(body: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** One modality's half of the per-batch DAG. The skeleton
    * ([[ingestBatch]]) never branches on modality: everything that
    * differs is one of these fields.
    *
    *   - `idCol`: the stream's unique key (spread, representative, shard);
    *   - `carried`: the columns a decided row carries (`idCol` first);
    *   - `rejectedSchema`: the landed `rejected` schema, whose columns
    *     (bar `ingest_batch`) are selected from the decided rows;
    *   - `admittedParts`: extra partition columns of the `admitted`
    *     landing;
    *   - `gate`: spread batch → `carried` + `gate_reason` (NULL = passes),
    *     plus whatever the later steps read from [[Batch.gated]];
    *   - `pairs`: gate survivors → intra-batch near-dup pairs (id_a, id_b);
    *   - `admit`: (batch, representatives) → (rep, corpus_dup_of, extra…);
    *     extra columns describe the representative's probe and are NULL on
    *     every other decided row;
    *   - `admitted`: (batch, admitted decided rows) → the landed
    *     `admitted` projection, width-controlled;
    *   - `afterLanding`: what runs once both landings are in (drift gate,
    *     index append, recall monitor).
    */
  final case class Stage(
      outDir: String,
      idCol: String,
      carried: Seq[String],
      rejectedSchema: String,
      admittedParts: Seq[String],
      gate: DataFrame => DataFrame,
      pairs: DataFrame => DataFrame,
      admit: (Batch, DataFrame) => DataFrame,
      admitted: (Batch, DataFrame) => DataFrame,
      afterLanding: Batch => Unit)

  /** One micro-batch as a [[Stage]]'s functions see it. `pin` persists a
    * relation until the batch is released; `timer` brackets a named step.
    */
  final case class Batch(spark: SparkSession, id: Long, outDir: String,
      gated: DataFrame, pin: DataFrame => DataFrame,
      timer: (String, () => Unit) => Unit) {
    def land(df: DataFrame, sub: String, extraParts: Seq[String] = Nil,
        coalesceTo: Option[Int] = None): Unit =
      Frame.land(df, outDir, sub, id, extraParts, coalesceTo)
  }

  /** ONE batch through the shared DAG; lands `rejected` and `admitted`
    * under `ingest_batch=batchId` with dynamic partition overwrite, then
    * runs the stage's after-landing step. `timer` brackets the landings
    * ("decide" = the rejected landing, which materializes gate → dedup →
    * admit into the cache; "admit" = the cache-riding admitted landing)
    * and whatever the stage brackets after them, so a bench can name the
    * dominant per-batch term; the default is a no-op passthrough.
    */
  def ingestBatch(stage: Stage, batch: DataFrame, batchId: Long,
      timer: (String, () => Unit) => Unit = (_, f) => f()): Unit = {
    val spark = batch.sparkSession
    val pinned = ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      pinned += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    val id = col(stage.idCol)
    try {
      // a micro-batch arrives as ONE source file (1-2 splits): the per-row
      // gate and the intra-batch dedup would run at that parallelism.
      // Spread to the session's shuffle width first (hash on the unique
      // id: deterministic; explicit count so AQE can't coalesce the small
      // exchange back down).
      val gated = pin(stage.gate(batch.repartition(
        spark.conf.get("spark.sql.shuffle.partitions").toInt, id)))
      val b = Batch(spark, batchId, stage.outDir, gated, pin, timer)
      val surv = gated.filter(col("gate_reason").isNull)
        .select(stage.carried.map(col): _*)
      // intra-batch components; the min id represents each component
      val comp = Dedup.connectedComponents(
        stage.pairs(surv).select(col("id_a"), col("id_b")))
      val withRep = withRepresentative(surv, stage.idCol, comp)
      val corpusDup = stage.admit(b, withRep.filter(id === col("rep")))
      val extra = corpusDup.schema.fields
        .filterNot(f => f.name == "rep" || f.name == "corpus_dup_of")
      val carried = stage.carried.map(col)
      val decided = pin(withRep.join(corpusDup, Seq("rep"), "left")
        .select(carried ++ (rejectReason(stage.idCol).as("reject_reason") +:
          extra.map(f => when(id === col("rep"), col(f.name)).as(f.name))): _*)
        .unionByName(gated.filter(col("gate_reason").isNotNull)
          .select(carried ++ (col("gate_reason").as("reject_reason") +:
            extra.map(f => lit(null).cast(f.dataType).as(f.name))): _*)))
      // REJECTED lands FIRST, deliberately: decided's plan READS
      // $outDir/admitted (the corpus side of the admit), so the admitted
      // write invalidates its cache entry (Spark recaches by path) —
      // admitted-first would recompute the whole gate → dedup → admit
      // chain for the rejected landing, every batch.
      timer("decide", () => b.land(decided.filter(col("reject_reason").isNotNull)
        .select(landedCols(stage.rejectedSchema): _*),
        "rejected", coalesceTo = Some(4)))
      timer("admit", () => b.land(
        stage.admitted(b, decided.filter(col("reject_reason").isNull)),
        "admitted", stage.admittedParts))
      stage.afterLanding(b)
    } finally pinned.foreach(_.unpersist())
  }

  /** A landed schema's written columns: everything but the `ingest_batch`
    * partition [[land]] adds.
    */
  private def landedCols(schema: String): Seq[Column] =
    StructType.fromDDL(schema).fieldNames.toSeq
      .filterNot(_ == "ingest_batch").map(col)

  /** Corpus-version artifacts, trained ONCE and shipped to every batch of
    * the DSIR-scored stages (image/audio, text): DSIR weight table, drift
    * reference distribution, both ≤ `buckets` rows by construction.
    */
  final case class Trained(
      weights: Map[Long, JBigDecimal],
      dist: Map[Long, Long],
      distTotal: Long,
      buckets: Int,
      driftThreshold: Double)

  def train(corpusDocs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, targetSource: String, buckets: Int,
      driftThreshold: Double): Trained = {
    val w = Dsir.trainWeights(corpusDocs, idCol, textCol, sourceCol,
      targetSource, buckets)
    val (dist, tot) = Dsir.trainDist(corpusDocs, textCol, buckets)
    Trained(w, dist, tot, buckets, driftThreshold)
  }

  /** The DSIR-scored stages' admitted projection: rows scored against the
    * trained weights ([[Dsir.withScore]], a per-row codegen expression),
    * the m11-contract export [[shardOf]], `enrich` for the modality's
    * remaining landed columns, then ONE shuffle keyed by shard — the
    * landing partitions by shard, so the write's width is the shard count.
    */
  def scoredShards(rows: DataFrame, idCol: String, textCol: String,
      t: Trained, nShards: Int, admittedSchema: String)(
      enrich: DataFrame => DataFrame): DataFrame =
    enrich(Dsir.withScore(rows, textCol, t.weights, t.buckets)
        .withColumn("shard", shardOf(idCol, nShards)))
      .select(landedCols(admittedSchema): _*)
      .repartition(nShards, col("shard"))

  private val DriftSchema =
    "batch STRING, n_terms BIGINT, chi2_micro BIGINT, drifted BOOLEAN, " +
      "ingest_batch BIGINT"

  /** The DSIR-scored stages' after-landing step: the WHOLE batch's
    * `textCol` distribution (the firehose, not just survivors) chi-squared
    * against the trained model ([[Dsir.driftStat]]), landed as `drift`.
    * allowEmpty: a zero-token batch lands a drifted=NULL row instead of
    * throwing — a throw inside foreachBatch replays deterministically and
    * wedges the stream on that batch forever.
    */
  def landDrift(t: Trained, textCol: String)(b: Batch): Unit =
    b.timer("drift", () => b.land(Dsir.driftStat(
      b.gated.select(col(textCol).as("text")), "text", t.dist, t.distTotal,
      t.buckets, t.driftThreshold, s"batch_${b.id}", allowEmpty = true),
      "drift"))

  /** The audit over a DSIR-scored stage's LANDED outputs — what the
    * declared m12/m13/m14 queries hash-check: one `kind` row per entity
    * (status, shard, tokens, score; `admittedDetail` names an admitted
    * row's status), the m11-contract shard manifest recomputed FROM the
    * landed files, and the per-batch drift verdicts. Generic
    * (kind, key, detail, n1, n2, x) rows so one frame carries all three
    * surfaces.
    */
  def audit(spark: SparkSession, outDir: String, kind: String, idCol: String,
      admittedSchema: String, rejectedSchema: String,
      admittedDetail: Column): DataFrame = {
    val adm = readOrEmpty(spark, s"$outDir/admitted", admittedSchema)
    val rej = readOrEmpty(spark, s"$outDir/rejected", rejectedSchema)
    val drift = readOrEmpty(spark, s"$outDir/drift", DriftSchema)
    val rows = adm.select(lit(kind).as("kind"),
        col(idCol).cast("string").as("key"), admittedDetail.as("detail"),
        col("shard").cast("bigint").as("n1"), col("n_tokens").as("n2"),
        col("dsir_score").as("x"))
      .unionByName(rej.select(lit(kind).as("kind"),
        col(idCol).cast("string").as("key"),
        col("reject_reason").as("detail"),
        lit(null).cast("bigint").as("n1"), lit(null).cast("bigint").as("n2"),
        lit(null).cast("double").as("x")))
    val manifest = adm.groupBy(col("shard").cast("bigint").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        sum(col(idCol)).as("id_checksum"))
      .select(lit("shard").as("kind"), col("shard").cast("string").as("key"),
        lit(null).cast("string").as("detail"), col("n_docs").as("n1"),
        col("sum_tokens").as("n2"), col("id_checksum").cast("double").as("x"))
    val driftRows = drift.select(lit("drift").as("kind"),
      col("batch").as("key"), col("drifted").cast("string").as("detail"),
      col("n_terms").as("n1"), col("chi2_micro").as("n2"),
      lit(null).cast("double").as("x"))
    rows.unionByName(manifest).unionByName(driftRows)
  }

  /** A persisted bucketed band index: `table` covers
    * seed ∪ admitted(ingest_batch <= compactedThrough). Stages resolve it
    * through a thunk EVERY micro-batch, so a compaction that lands between
    * batches takes effect without restarting the stream. Overlap
    * tolerance: if compaction rewrote the index but the caller's watermark
    * is stale (kill between compaction and the state swap), the tail
    * re-covers batches already folded into the index — pairs found on
    * BOTH paths collapse in the admit min() ([[Corpus.corpusDup]]), so
    * nothing is duplicated or dropped (spec-asserted, IngestStreamSpec and
    * TextIngestStreamSpec).
    */
  final case class IndexState(table: String, compactedThrough: Long)

  /** A band-index modality's corpus side: the seed ∪ every admitted batch,
    * its persisted bucketed band index, and the admit pairs of one
    * micro-batch's representatives against it. A modality supplies the
    * band-index function and its pair joins; the watermark, tail and
    * compaction rules are this class's, once.
    *
    * `seed` is already projected to the corpus columns; `pairIds` names
    * the (representative, corpus) id columns of the pair relations.
    */
  abstract class Corpus(seed: DataFrame, val outDir: String,
      admittedSchema: String, pairIds: (String, String)) {
    protected val spark: SparkSession = seed.sparkSession

    /** Landed admitted rows → the seed's corpus columns. */
    protected def fromAdmitted(admitted: DataFrame): DataFrame
    /** Corpus rows → the band relation (bk, …) the index buckets on. */
    protected def bandIndex(rows: DataFrame): DataFrame
    /** Intra-batch near-dup pairs (id_a, id_b, …) over gate survivors. */
    def batchPairs(rows: DataFrame): DataFrame
    /** (representative × corpus rows) pairs: the direct join. */
    protected def direct(corpus: DataFrame, reps: DataFrame): DataFrame
    /** (representative × persisted index) pairs for batch `batchId`: the
      * bucket-aligned probe, zero corpus-side exchanges.
      */
    protected def probe(index: DataFrame, reps: DataFrame, batchId: Long): DataFrame

    /** The corpus as batch `belowBatch` must see it: seed ∪ rows admitted
      * by STRICTLY EARLIER batches — the filter is what makes a replayed
      * batch deterministic.
      */
    def upTo(belowBatch: Long): DataFrame =
      seed.unionByName(fromAdmitted(strictlyEarlier(spark,
        s"$outDir/admitted", admittedSchema, belowBatch)))

    /** Rows admitted by batches in (after, below) — the not-yet-compacted
      * tail, bounded by the compaction cadence.
      */
    private def tail(after: Long, below: Long): DataFrame =
      fromAdmitted(readOrEmpty(spark, s"$outDir/admitted", admittedSchema)
        .filter(col("ingest_batch") > after && col("ingest_batch") < below))

    private def writeIndex(bands: DataFrame, table: String, nBuckets: Int): Unit = {
      dropTable(spark, table)
      graft.util.Layout.writeBucketed(bands.repartition(nBuckets, col("bk")),
        table, "bk", nBuckets, Some("bk"))
    }

    /** Build (or fully REBUILD) the index covering
      * seed ∪ admitted(ingest_batch <= through): the once-per-bootstrap
      * band pass the probe path amortizes.
      */
    def buildIndex(table: String, nBuckets: Int, through: Long): IndexState = {
      writeIndex(bandIndex(upTo(through + 1)), table, nBuckets)
      IndexState(table, through)
    }

    /** FOLD-IN compaction: extend the index from `state.compactedThrough`
      * to `newThrough` by appending the tail's band rows — the
      * already-indexed corpus is copied bucket-to-bucket, never re-banded.
      * Writes a NEW table (`newTable` must differ: Spark rightly refuses
      * to overwrite a relation its plan still reads, and versioned tables
      * are the crash-safe shape anyway — the old index stays readable
      * until the caller swaps its [[IndexState]]). Declared-proven
      * fold-in ≡ rebuild ≡ brute force (d31).
      */
    def compactIndex(state: IndexState, newTable: String, nBuckets: Int,
        newThrough: Long): IndexState = {
      require(newTable != state.table,
        s"compaction must write a NEW versioned table (got ${state.table} twice)")
      writeIndex(spark.table(state.table).unionByName(
        bandIndex(tail(state.compactedThrough, newThrough + 1))), newTable, nBuckets)
      IndexState(newTable, newThrough)
    }

    /** One micro-batch's (representative × corpus) near-dup pairs.
      * `None` (direct): the join against [[upTo]] — re-bands and
      * re-SHUFFLES the corpus on every micro-batch, O(corpus) per batch;
      * the reference the probe path is spec-compared against.
      * `Some(state)` (probe): the persisted index scanned in place plus
      * the direct join over the tail admitted after its watermark —
      * O(batch + tail), independent of corpus size. Duplicates across the
      * probe/tail union are tolerated by contract ([[corpusDup]]).
      */
    def admitPairs(reps: DataFrame, batchId: Long,
        state: Option[IndexState]): DataFrame = state match {
      case None => direct(upTo(batchId), reps)
      case Some(IndexState(table, compactedThrough)) =>
        probe(spark.table(table), reps, batchId)
          .unionByName(direct(tail(compactedThrough, batchId), reps))
    }

    /** The admit relation a [[Stage]] returns: each representative's min
      * corpus match (rep, corpus_dup_of).
      */
    def corpusDup(reps: DataFrame, batchId: Long,
        state: Option[IndexState]): DataFrame =
      admitPairs(reps, batchId, state)
        .groupBy(col(pairIds._1).as("rep"))
        .agg(min(col(pairIds._2)).as("corpus_dup_of"))
  }

  /** Attach each row's intra-batch component REPRESENTATIVE: left-join
    * the connected-components relation (id, cluster) on `idCol`, rep =
    * the component's min id, or the row's own id when it paired with
    * nothing. Rows with `idCol == rep` are the batch's representatives —
    * the only rows that probe the corpus.
    */
  def withRepresentative(df: DataFrame, idCol: String, comp: DataFrame): DataFrame =
    df.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("rep", coalesce(col("cluster"), col(idCol)))

  /** The shared three-way admit decision, as a column over a frame that
    * carries (`idCol`, rep, corpus_dup_of): a non-representative is a
    * batch_dup of its rep; a representative whose probe hit the corpus
    * is a corpus_dup of the (min) match; everything else admits (NULL).
    */
  def rejectReason(idCol: String): Column =
    when(col(idCol) =!= col("rep"),
      concat(lit("batch_dup:"), col("rep").cast("string")))
      .when(col("corpus_dup_of").isNotNull,
        concat(lit("corpus_dup:"), col("corpus_dup_of").cast("string")))
      .otherwise(lit(null).cast("string"))

  /** The m11-contract export shard of a row: deterministic
    * md5(id) mod nShards — stable across engines, replays, and cluster
    * sizes (a hash-shuffle partition id would be none of those).
    */
  def shardOf(idCol: String, nShards: Int): Column =
    pmod(TextFns.md5Hash32(col(idCol).cast("string")), lit(nShards.toLong))

  /** Drop a managed table AND any orphaned warehouse directory (a fresh
    * in-memory catalog may not know a table whose directory survives
    * from an earlier JVM — CTAS refuses such a location).
    */
  def dropTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
  }
}
