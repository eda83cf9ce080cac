package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** ANN index PERSISTENCE — the train-once / serve-many lifecycle that the
  * inline IVF-PQ operator (e12) deliberately folds into a single query for
  * oracle parity. `buildIvfPq` trains the coarse quantizer and the m
  * subspace codebooks ONCE, then writes the whole index as three parquet
  * tables; `queryIvfPq` loads it and answers top-k with NO retraining —
  * the production serving shape (a new query batch costs a probe + a
  * code-scan + an exact rerank on ≤ rerank candidates, never a Lloyd
  * iteration).
  *
  * Layout under `dir`:
  *   centroids/  (cid, cent)            — nlist rows
  *   codebooks/  (subspace, cid, codeword) — m·ksub rows
  *   codes/      (neighbor_id, cnorm, code0..code{m-1}),
  *               hive-PARTITIONED by list_id (and, in ingest mode, by
  *               ingest_batch above it)
  *
  * The codes table is the only corpus-sized relation and holds m small
  * codes per row instead of dim floats — the scan-bytes win PQ exists for.
  * list_id is a PARTITION column: a probe at `nprobe` lists physically
  * prunes the codes scan to those lists' directories, so scan bytes per
  * query track nprobe/nlist of the corpus instead of the whole corpus
  * (the IVF promise made physical — without it the scan is shuffle-free
  * but still corpus-linear in bytes).
  * Original vectors are NOT duplicated into the index: the exact rerank
  * fetches the ≤ |queries|·rerank candidate vectors from the corpus by an
  * id join with the small side broadcast (the corpus never shuffles).
  *
  * Bit-parity with the inline operator: centroids/codebooks round-trip
  * through parquet as exact doubles and are re-collected SORTED BY cid —
  * the same order `KMeans.assignWithCentroids`/`trainSubspaceBooks` emit —
  * so every tie-break fold (coarse argmax, probe ranking, candidate
  * window) replays identically and `queryIvfPq` returns byte-identical
  * results to [[Similarity.ivfPqTopK]] at equal parameters (spec-checked,
  * and e18 rides e12's DuckDB oracle on exactly this claim).
  *
  * Scale (100 TB): build is the e07/e11 training shape (k-row driver
  * round-trips, one shuffle per Lloyd iteration) plus ONE narrow encode
  * pass over the corpus; query is a broadcast probe join against the
  * bucketed code scan — per-query cost tracks nprobe/nlist of the codes
  * table, and the index directory is immutable (serve from many sessions,
  * rebuild only when the corpus drifts).
  */
object AnnIndex {

  /** `ingestBatch`, when set, lands the codes PARTITIONED by an
    * `ingest_batch` column (this build stamped with the given id, e.g.
    * -1 for a bootstrap) with dynamic partition overwrite — the layout
    * the incremental ingest pipeline (m15) needs so that per-batch
    * [[appendIvfPq]] calls are EXACTLY-ONCE under streaming replay (a
    * replayed batch overwrites its own partition instead of appending a
    * duplicate file). All codes under one root must use the same mode:
    * never mix partitioned and flat layouts in one index directory.
    */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      nlist: Int, itersCoarse: Int, m: Int, ksub: Int, itersPq: Int,
      dir: String, ingestBatch: Option[Long] = None): Unit = {
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = dim / m
    val (_, kc) = KMeans.assignWithCentroids(
      corpus, idCol, vecCol, dim, nlist, itersCoarse)
    val books = KMeans.trainSubspaceBooks(
      corpus, idCol, vecCol, dim, m, ksub, itersPq)
    kc.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    books.zipWithIndex
      .flatMap { case (bk, j) => bk.map { case (cid, cw) => (j, cid, cw.toSeq) } }
      .toDF("subspace", "cid", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    val cents = kc.map { case (cid, w) => (cid, w, l2(w)) }
    val c0 = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .withColumn("cnorm", VectorFns.norm(col("cvec"), dim))
      .withColumn("cq", KMeans.quantize(col("cvec")))
    val enc = Similarity.pqEncode(
      Similarity.withCoarseList(c0, "cvec", "cnorm", cents, "list_id"),
      books, dsub)
    writeCodes(enc.select(col("neighbor_id") +: col("list_id") +:
      col("cnorm") +: (0 until m).map(j => col(s"code$j")): _*),
      dir, ingestBatch, bootstrap = true)
  }

  /** INCREMENTAL maintenance: encode `newRows` with the index's STORED
    * centroids and codebooks (no retraining — the standard IVF contract:
    * fresh vectors ride stale codebooks until the next rebuild, which is
    * scheduled on corpus drift, not on every append) and append their
    * codes to the codes table. One narrow encode pass over the new rows;
    * nothing existing is rewritten. Delivery: with `ingestBatch = None`
    * it is caller-owned — appending the same rows twice duplicates them
    * (pair with a ledger/anti-join upstream, the SNK-idempotency
    * pattern). With `ingestBatch = Some(id)` the codes land under an
    * `ingest_batch=id` partition with dynamic overwrite, so a streaming
    * replay of the same batch is EXACTLY-ONCE (requires the index to
    * have been built with the partitioned layout — see [[buildIvfPq]]).
    */
  def appendIvfPq(newRows: DataFrame, idCol: String, vecCol: String,
      dim: Int, dir: String, ingestBatch: Option[Long] = None): Unit = {
    val spark = newRows.sparkSession
    val (cents, books) = loadConstants(spark, dir, dim)
    val m = books.size
    val dsub = books.head.head._2.length
    val c0 = newRows.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .withColumn("cnorm", VectorFns.norm(col("cvec"), dim))
      .withColumn("cq", KMeans.quantize(col("cvec")))
    val enc = Similarity.pqEncode(
      Similarity.withCoarseList(c0, "cvec", "cnorm", cents, "list_id"),
      books, dsub)
    writeCodes(enc.select(col("neighbor_id") +: col("list_id") +:
      col("cnorm") +: (0 until m).map(j => col(s"code$j")): _*),
      dir, ingestBatch, bootstrap = false)
  }

  private def writeCodes(codes: DataFrame, dir: String,
      ingestBatch: Option[Long], bootstrap: Boolean): Unit = {
    // ONE file per coarse list per write: repartitioning on list_id puts
    // each list's rows in exactly one task, so partitionBy emits one file
    // per list present in the write (at fleet scale, salt hot lists
    // across more tasks). File COUNT, not row count, is the accumulating
    // term in a long-running ingest loop — measured as linear per-batch
    // admit growth (~3 s per 32-file batch at 100k corpus) that the data
    // volume itself in no way explains; a per-batch append touches only
    // the lists its rows land in, and compactCodes folds accumulated
    // batch partitions back into the bootstrap partition.
    val byList = codes.repartition(col("list_id"))
    ingestBatch match {
      case Some(id) =>
        // bootstrap: STATIC overwrite truncates the whole codes dir (a
        // rebuild into a dirty directory must not merge with stale
        // appends) — pinned per-write because the session default is the
        // caller's to set, and a dynamic default would silently keep stale
        // batch partitions alongside the new bootstrap; append: DYNAMIC
        // overwrite replaces only this batch's partitions — the
        // streaming-replay exactly-once contract.
        byList.withColumn("ingest_batch", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode",
            if (bootstrap) "static" else "dynamic")
          .partitionBy("ingest_batch", "list_id")
          .parquet(s"$dir/codes")
      case None =>
        val w = byList.write.mode(if (bootstrap) "overwrite" else "append")
        (if (bootstrap) w.option("partitionOverwriteMode", "static") else w)
          .partitionBy("list_id")
          .parquet(s"$dir/codes")
    }
  }

  /** The codes relation with partition-column types normalized: hive
    * partition inference types `list_id`/`ingest_batch` as INT, but every
    * consumer joins and checksums them as the BIGINT ids they are.
    * Casting on a partition column keeps partition PRUNING intact — a
    * literal predicate over the cast still references only the partition
    * attribute, so it is evaluated against partition values at planning,
    * never against data files.
    */
  def readCodes(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/codes")
    val cast = raw.withColumn("list_id", col("list_id").cast("long"))
    if (raw.columns.contains("ingest_batch"))
      cast.withColumn("ingest_batch", col("ingest_batch").cast("long"))
    else cast
  }

  /** CODES COMPACTION — the fold-in analog for the ANN index, WITHOUT
    * retraining (rebuilding the whole index just to fix file layout is
    * the wrong tool): the per-batch `ingest_batch=<id>` partitions that
    * [[appendIvfPq]] accretes one-per-batch-forever are folded into the
    * bootstrap `ingest_batch=-1` partition of a NEW versioned index
    * directory; centroids and codebooks are copied as-is (parquet
    * doubles round-trip exactly), so every probe's tie-break folds
    * replay identically — probe-after-compaction ≡ probe-before
    * (declared e22 + spec-asserted). Codes themselves are never
    * re-encoded: the stale-codebook encode is a function of the
    * persisted constants, which are unchanged.
    *
    * Batches AFTER `through` keep their own partitions — they may still
    * be replayed by a restarted stream, and folding a replayable batch
    * would break appendIvfPq's dynamic-overwrite exactly-once contract
    * (the replay would overwrite an empty `ingest_batch=<id>` partition
    * while the folded copy survives in `-1`, duplicating every row). So
    * `through` must be a checkpoint-COMMITTED watermark, same discipline
    * as [[graft.ingest.Frame.Corpus.compactIndex]]. The old directory
    * is untouched and stays serveable until the caller's index thunk
    * swaps; a kill between compaction and the swap leaves the old index
    * exactly as it was (EmbIngestStreamSpec race test).
    */
  def compactCodes(spark: SparkSession, oldDir: String, newDir: String,
      through: Long): Unit = {
    require(newDir != oldDir,
      s"compaction must write a NEW versioned index dir (got $oldDir twice)")
    for (sub <- Seq("centroids", "codebooks"))
      spark.read.parquet(s"$oldDir/$sub")
        .coalesce(1).write.mode("overwrite").parquet(s"$newDir/$sub")
    val codes = readCodes(spark, oldDir)
    require(codes.columns.contains("ingest_batch"),
      "compactCodes requires the partitioned codes layout " +
        "(an index built/appended with ingestBatch = Some(id))")
    codes.withColumn("ingest_batch",
        when(col("ingest_batch") <= through, lit(-1L))
          .otherwise(col("ingest_batch")))
      .repartition(col("list_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("ingest_batch", "list_id")
      .parquet(s"$newDir/codes")
  }

  /** Top-`k` per query against the index at `dir`. `corpus` supplies ONLY
    * the candidate vectors for the exact rerank (id-joined, small side
    * broadcast) — no training, no encoding, no corpus shuffle.
    */
  /** `scanPred` (over `neighbor_id`) enables FILTERED vector search with
    * PRE-filter semantics: the predicate restricts the codes scan before
    * probing, so the top-k is exact over the qualifying subset (a
    * post-filter of an unfiltered top-k silently loses recall when the
    * filter is selective). The index itself is unchanged — metadata
    * filters compose with the same persisted artifact.
    */
  def queryIvfPq(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, nprobe: Int, rerank: Int,
      dir: String, maxQueryRows: Long = 10000,
      scanPred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    Similarity.guardSmallSide(queries, "AnnIndex.queryIvfPq",
      "sharded query batches", maxQueryRows)
    val spark = corpus.sparkSession
    val (cents, books) = loadConstants(spark, dir, dim)
    val m = books.size
    val dsub = books.head.head._2.length
    var codes = readCodes(spark, dir)
    scanPred.foreach { p => codes = codes.filter(p) }
    // the per-query ADC LUTs ride the (broadcast) query side: the
    // corpus-sized scan below pays m array lookups per candidate instead
    // of decoding codewords per row — see Similarity.lutCol
    val q0 = Similarity.withLuts(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
        .withColumn("qnorm", VectorFns.norm(col("qvec"), dim))
        .withColumn("qq", KMeans.quantize(col("qvec"))),
      books, dsub)
    val probes = Similarity.probeLists(q0, cents, nprobe)
    // prune the codes SCAN to the probed lists: the equi-join below
    // already filters on list_id logically, but only a literal predicate
    // becomes a PARTITION filter on the list_id-partitioned layout — the
    // distinct probed set is a bounded driver pull (≤ nlist values, the
    // same order as the centroid constants already on the driver), and
    // with it the scan reads only the probed lists' files instead of
    // every code row (scan bytes ∝ nprobe/nlist of the corpus).
    val probedLists = probes.select(col("probe_list")).distinct()
      .collect().map(_.getLong(0)).sorted
    codes = codes.filter(col("list_id").isin(probedLists: _*))
    // decouple COMPUTE parallelism from the file layout: the pruned scan
    // may be as few as nprobe files (one per list — the layout's
    // file-count contract), but everything downstream of it in this
    // stage (ADC scoring per joined row, the candidate-rank sort) is the
    // probe's actual compute, and without this exchange it runs at
    // file-count parallelism (measured: the same probe work at 4-way
    // took 8× the wall time of 32-way). The exchange moves only the
    // narrow pruned code rows — a subset of what the candidate window
    // must shuffle anyway. Hash on (list_id, neighbor_id): deterministic
    // spread, no round-robin local sort. The partition count is EXPLICIT
    // because this exchange feeds an EXPANDING probe join (rows × the
    // queries probing each list): AQE sizes coalescing by the exchange's
    // own few-MB output and would fold it right back to file-count width
    // (measured: 2 tasks, 600 CPU-seconds — the coalesce-before-
    // expanding-join trap).
    codes = codes.repartition(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      col("list_id"), col("neighbor_id"))
    val scored = codes.join(broadcast(probes),
        col("neighbor_id") =!= col("query_id") &&
          col("list_id") === col("probe_list"))
      .withColumn("qscore", Similarity.pqScore(m, dsub))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("qscore").desc, col("neighbor_id").asc)
    // the candidate window shuffles EVERY probed code row — keep its
    // payload narrow (ids + scalars only). Carrying qvec/qnorm here was
    // measured to cost more than the ADC scan saves at a 300k corpus
    // (the dim-floats-per-candidate shuffle dwarfs the rerank it feeds);
    // the query vectors re-join AFTER the rerank cut, on |Q|·rerank rows.
    val cands = scored.withColumn("_qrank", row_number().over(wq))
      .filter(col("_qrank") <= rerank)
      .select(col("query_id"), col("neighbor_id"), col("cnorm"))
      .join(broadcast(q0.select(col("query_id"), col("qvec"), col("qnorm"))),
        Seq("query_id"))
    // candidate-vector fetch: corpus stays the streamed side, candidates
    // broadcast — the only corpus touch in the whole query path
    val fetched = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .join(broadcast(cands), Seq("neighbor_id"))
    Similarity.rerankExactCosine(fetched, dim, k)
  }

  /** Driver-side reload of the two small constant tables, cid-sorted so
    * every tie-break fold replays in the exact order training emitted.
    */
  private def loadConstants(spark: SparkSession, dir: String, dim: Int)
      : (Seq[(Long, Array[Double], Double)], Seq[Seq[(Long, Array[Double])]]) = {
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toIndexedSeq
      .map { case (cid, w) => (cid, w, l2(w)) }
    val books = spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_._2).toIndexedSeq.map { case (_, cid, cw) => (cid, cw) } }
    val got = books.size * books.head.head._2.length
    require(got == dim, s"index at $dir was built for dim $got, used with $dim")
    (cents, books)
  }

  private def l2(w: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < w.length) { acc += w(i) * w(i); i += 1 }
    math.sqrt(acc)
  }
}
