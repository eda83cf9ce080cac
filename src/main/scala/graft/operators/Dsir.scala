package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.util.Materialize

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): score
  * every document by the log-likelihood ratio of a TARGET bag-of-hashed-
  * unigrams model over the RAW corpus model, then keep the highest-weight
  * documents — the standard trick for tilting a 100 TB crawl toward a
  * high-quality target domain without training a classifier.
  *
  * Engine-exact discipline: features are `md5Hash32(term) mod buckets`
  * (the portable 32-bit hash), both models are exact integer counts with
  * add-1 smoothing, each bucket's two log terms are rounded to 6dp and
  * carried as exact decimals, so the per-document score (a fold of
  * per-occurrence decimal adds — associative and commutative) is
  * partition-order-independent; only the final display cast is double
  * (the t34/q44 discipline).
  *
  * Shape (the two-pass floor for DSIR — a model must exist before scoring):
  *  - TRAIN: one map-side-combined aggregation of the exploded corpus down
  *    to ≤ `buckets` rows of (raw count, target count), pulled to the
  *    driver (the bounded collect of KMeans centroids / AnnIndex
  *    constants) where the log-ratio weights are computed with the exact
  *    arithmetic Spark's own `round(log(x), 6)` would use.
  *  - SCORE: a second corpus pass with NO shuffle at all — each document's
  *    tokens fold against the compiled-in weight map — and the top-K is
  *    TakeOrdered (per-partition heaps), never a global sort.
  * At 100 TB that is one shuffle of ≤ `buckets` keys plus two narrow
  * scans; a 2^20-bucket model is ~8 MB of plan constants.
  */
object Dsir {

  private def d6d(v: Double): JBigDecimal =
    JBigDecimal.valueOf(v).setScale(6, RoundingMode.HALF_UP)

  /** Per-bucket (raw, target) counts: ONE aggregation, ≤ `buckets` rows. */
  private def bucketCounts(docs: DataFrame, textCol: String,
      sourceCol: String, targetSource: String, buckets: Int): DataFrame =
    docs.select(col(sourceCol).as("source"),
        explode(TextFns.tokens(col(textCol))).as("term"))
      .select(pmod(TextFns.md5Hash32(col("term")), lit(buckets.toLong)).as("bucket"),
        col("source"))
      .groupBy(col("bucket")).agg(
        count(lit(1)).as("rc"),
        sum(when(col("source") === lit(targetSource), 1L).otherwise(0L)).as("tc"))

  /** The trained per-bucket weight map w(b) = d6(ln p_target(b)) −
    * d6(ln p_raw(b)), add-1 smoothed — the artifact the serving path
    * ships. Bounded by `buckets` regardless of corpus size, so the collect
    * is a bounded driver pull (the KMeans-centroids contract) and the map
    * always fits a broadcast. `Math.log` + HALF_UP 6dp here is bit-for-bit
    * what Spark's `round(log(x), 6)` computes on the same exact-integer
    * ratios, so driver-side training and an all-relational replay agree.
    */
  def trainWeights(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, targetSource: String,
      buckets: Int = 512): Map[Long, JBigDecimal] = {
    require(buckets > 0, s"buckets ($buckets) must be positive")
    val rows = bucketCounts(docs, textCol, sourceCol, targetSource, buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rtot = rows.map(_._2).sum
    val ttot = rows.map(_._3).sum
    rows.map { case (b, rc, tc) =>
      b -> d6d(math.log((tc + 1).toDouble / (ttot + buckets).toDouble))
        .subtract(d6d(math.log((rc + 1).toDouble / (rtot + buckets).toDouble)))
    }.toMap
  }

  /** Per-doc score column in DOUBLE (the display form): the document's
    * tokens scored against the compiled-in weight table by the codegen
    * `plans.DsirScoreConst` Expression — one generated call per row, exact
    * long micro-unit arithmetic inside (bit-equal to the DECIMAL(·,6)
    * fold it replaces; the micro sum is < 2^53, so `micro / 1e6` is the
    * same double the decimal sum casts to). Pure per-row expressions (no
    * shuffle, no aggregation state), so the same plan scores batch frames
    * and append-mode streams. Features unseen at train time score 0
    * (OOV-neutral serving contract).
    */
  private def scoreCol(textCol: String, w: Map[Long, JBigDecimal],
      buckets: Int): Column = {
    require(w.nonEmpty, "weight map is empty — train before serving")
    val micro = new Array[Long](buckets)
    w.foreach { case (k, v) =>
      micro(k.toInt) = v.movePointRight(6).longValueExact() }
    graft.plans.DsirScoreConst(TextFns.tokens(col(textCol)), micro, buckets)
      .cast("double") / lit(1e6)
  }

  /** [[scoreCol]] over a full frame, keeping the id column — the online
    * scoring endpoint (train offline on the corpus, score the firehose).
    */
  def serveScores(docs: DataFrame, idCol: String, textCol: String,
      w: Map[Long, JBigDecimal], buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets ($buckets) must be positive")
    docs.select(col(idCol).as("doc_id"),
      round(scoreCol(textCol, w, buckets), 6).as("dsir_score"))
  }

  /** [[serveScores]] keeping EVERY input column — the composition form
    * (the m12 ingest pipeline scores admitted rows mid-DAG without a
    * join back). Same codegen expression, same 6dp rounding.
    */
  def withScore(docs: DataFrame, textCol: String, w: Map[Long, JBigDecimal],
      buckets: Int, outCol: String = "dsir_score"): DataFrame = {
    require(buckets > 0, s"buckets ($buckets) must be positive")
    docs.withColumn(outCol, round(scoreCol(textCol, w, buckets), 6))
  }

  /** Docs with at least one token, scored: (doc_id, source, swd double).
    * Two corpus passes total (train + score), one ≤-buckets shuffle.
    */
  private def scored(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, targetSource: String, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets ($buckets) must be positive")
    val w = trainWeights(docs, idCol, textCol, sourceCol, targetSource, buckets)
    docs.filter(size(TextFns.tokens(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        scoreCol(textCol, w, buckets).as("swd"))
  }

  /** Top-`topK` documents by DSIR importance score (deterministic variant:
    * ties broken by doc_id, so the selected set is exact in both engines).
    * Featureless (empty/null-text) docs are excluded, as in the relational
    * form.
    */
  def topByImportance(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, targetSource: String, buckets: Int = 512,
      topK: Int = 100): DataFrame = {
    require(topK > 0, s"topK ($topK) must be positive")
    scored(docs, idCol, textCol, sourceCol, targetSource, buckets)
      .select(col("doc_id"), col("source"),
        round(col("swd"), 6).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** [[topByImportance]] oracle: identical tokenization, hash-bucketing,
    * smoothing, 6dp-decimal log quantization, exact decimal dot product
    * (the relational `sum(cnt·w)` equals the engine's per-occurrence fold
    * exactly — decimal addition is associative), and tie-break order.
    */
  def topByImportanceSql(table: String, idCol: String, textCol: String,
      sourceCol: String, targetSource: String, buckets: Int = 512,
      topK: Int = 100): String = {
    s"""WITH ${dsirScoredCtes(table, idCol, textCol, sourceCol, targetSource, buckets)}
       |SELECT doc_id, source,
       |       round(CAST(sw AS DOUBLE), 6) AS dsir_score
       |FROM scored
       |ORDER BY dsir_score DESC, doc_id ASC
       |LIMIT $topK""".stripMargin
  }

  /** Gumbel-top-k importance RESAMPLE — the faithful DSIR selection rule:
    * draw `topK` documents without replacement with probability ∝ exp(score)
    * (Efraimidis–Spirakis / Gumbel-max), with the Gumbel noise derived
    * DETERMINISTICALLY from the document id's portable hash so both engines
    * draw the same sample: u = (h+0.5)/2^32 ∈ (0,1) — strictly interior, so
    * the Gumbel transform is finite — g = −ln(−ln u), and the
    * perturbed key is the exact 6dp-decimal sum d6(score) + d6(g). Same
    * two-pass shape as the deterministic variant; the perturbation is one
    * scalar expression per doc.
    */
  def gumbelResample(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, targetSource: String, buckets: Int = 512,
      topK: Int = 100): DataFrame = {
    require(topK > 0, s"topK ($topK) must be positive")
    def d6(c: Column): Column = round(c, 6).cast("decimal(18,6)")
    val u = (TextFns.md5Hash32(col("doc_id").cast("string"))
      .cast("double") + 0.5) / lit(4294967296.0)
    scored(docs, idCol, textCol, sourceCol, targetSource, buckets)
      .withColumn("gkey", d6(col("swd")) + d6(-log(-log(u))))
      .select(col("doc_id"), col("source"),
        round(col("swd"), 6).as("dsir_score"),
        round(col("gkey").cast("double"), 6).as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** [[gumbelResample]] oracle: same hash-derived uniform, Gumbel transform,
    * 6dp quantization, and tie-break.
    */
  def gumbelResampleSql(table: String, idCol: String, textCol: String,
      sourceCol: String, targetSource: String, buckets: Int = 512,
      topK: Int = 100): String = {
    def sd6(e: String) = s"CAST(round($e, 6) AS DECIMAL(18,6))"
    val uExpr = s"((CAST(${TextFns.md5Hash32Sql(s"CAST(doc_id AS VARCHAR)")} " +
      "AS DOUBLE) + 0.5) / 4294967296.0)"
    s"""WITH ${dsirScoredCtes(table, idCol, textCol, sourceCol, targetSource, buckets)},
       |keyed AS (
       |  SELECT doc_id, source, sw,
       |         ${sd6("CAST(sw AS DOUBLE)")} +
       |         ${sd6(s"-ln(-ln($uExpr))")} AS gkey
       |  FROM scored)
       |SELECT doc_id, source,
       |       round(CAST(sw AS DOUBLE), 6) AS dsir_score,
       |       round(CAST(gkey AS DOUBLE), 6) AS gumbel_key
       |FROM keyed
       |ORDER BY gumbel_key DESC, doc_id ASC
       |LIMIT $topK""".stripMargin
  }

  /** Trained RAW bucket distribution — the drift monitor's reference
    * model: per-bucket corpus token counts (≤ `buckets` rows collected,
    * the bounded-centroids contract) plus the total. Train once next to
    * [[trainWeights]]; ship both with the serving path.
    */
  def trainDist(docs: DataFrame, textCol: String,
      buckets: Int = 512): (Map[Long, Long], Long) = {
    require(buckets > 0, s"buckets ($buckets) must be positive")
    val rows = docs
      .select(explode(TextFns.tokens(col(textCol))).as("term"))
      .select(pmod(TextFns.md5Hash32(col("term")), lit(buckets.toLong)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("rc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    (rows.toMap, rows.map(_._2).sum)
  }

  /** DSIR WEIGHT-DRIFT MONITOR (t35's retrain trigger — the e19 analog
    * for the trained buckets): Pearson chi-square of an incoming batch's
    * hashed-unigram bucket distribution against the trained add-1-smoothed
    * raw model. When the firehose's feature distribution shifts, the
    * trained log-ratio weights are scoring a corpus that no longer exists
    * — `drifted = true` says retrain before trusting [[serveScores]].
    *
    * Engine-exact cell arithmetic, mirrored in the oracle: with
    * R_b = rc_b + 1, D = rtot + buckets (so Σ R_b/D = 1 over ALL buckets,
    * empty cells included), n = batch tokens,
    *
    *   diff_b = obs_b·D − n·R_b             (exact BIGINT; loudly guarded)
    *   term_b = floor(diff_b²/(D·n·R_b) · 1e6 + 0.5)  (exact micro-units)
    *   chi2_micro = Σ_b term_b              (integer sum — associative)
    *
    * which is algebraically (obs − E)²/E with E = n·R/D quantized to
    * integer micro-units. Every float step is a MIRRORED IEEE op on
    * identical exact-integer inputs — the engines' own round() functions
    * disagree in the 6th decimal at 1e10 magnitudes (Spark rounds the
    * exact binary value, DuckDB a float-multiplied product); floor of
    * the same product never does, and the quantized term is < 2^53 so
    * it is an exact integer. Under H0 chi2 ≈ df = buckets−1 for a
    * token-multinomial sample; DOC-sampled batches overdisperse (tokens
    * cluster within docs), so thresholds are set against a measured
    * in-distribution baseline, not the χ² table.
    *
    * Scale: ONE map-side-combined aggregation of the batch to ≤ buckets
    * rows, a broadcast join against the `buckets`-row trained cells, and
    * a 1-row scalar pull for n — no data-sized shuffle, stream-safe in
    * foreachBatch (score the micro-batch frame directly).
    */
  def driftStat(batch: DataFrame, textCol: String, trained: Map[Long, Long],
      trainTotal: Long, buckets: Int, threshold: Double,
      label: String, allowEmpty: Boolean = false): DataFrame =
      Materialize { m =>
    require(buckets > 0, s"buckets ($buckets) must be positive")
    val d = trainTotal + buckets
    val obs = m.persist(batch
      .select(explode(TextFns.tokens(col(textCol))).as("term"))
      .select(pmod(TextFns.md5Hash32(col("term")), lit(buckets.toLong)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("obs")))
    val n = Option(obs.agg(sum(col("obs"))).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val spark = batch.sparkSession
    if (n == 0 && allowEmpty) {
      // A zero-token batch (all-empty captions, or an empty replayed
      // micro-batch) carries no distribution to test. In a streaming
      // foreachBatch a throw here is FATAL-forever: replay is
      // deterministic, so the same batch throws on every restart and the
      // stream wedges permanently on it. Callers in the streaming path
      // ask for a NULL verdict row instead (drifted unknown, not false) —
      // the landed record still shows the batch happened.
      spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(label, 0L, 0L, null)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("batch",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("n_terms",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("chi2_micro",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("drifted",
            org.apache.spark.sql.types.BooleanType, nullable = true))))
    } else {
      require(n > 0, "drift monitor needs a non-empty batch (0 tokens)")
      // the KsTest/Gini overflow discipline: diff must stay exact in BIGINT
      require(n.toDouble * d < 9e18,
        s"driftStat n*D = $n*$d exceeds exact BIGINT arithmetic — " +
          "shrink the monitored batch (it is a sample, not the corpus)")
      // all `buckets` cells with their smoothed trained counts — a plan
      // constant (the weight-map contract), so empty cells are present
      val cells = spark.createDataFrame(
        java.util.Arrays.asList((0L until buckets.toLong).map { b =>
          org.apache.spark.sql.Row(b, trained.getOrElse(b, 0L) + 1L)
        }: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bucket",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("r",
            org.apache.spark.sql.types.LongType, nullable = false))))
      val diff = coalesce(col("obs"), lit(0L)) * lit(d) - lit(n) * col("r")
      // Quantization that is IDENTICAL in both engines by construction:
      // every step is a mirrored IEEE double op on identical inputs —
      // q = diff²/(D·n·R), then floor(q·1e6 + 0.5) as an exact integer
      // (q·1e6 ≤ ~1e14 < 2^53). Engine round()s disagree here: Spark
      // rounds the exact binary value via BigDecimal while DuckDB rounds
      // a float-multiplied product — at sf1 the 3e10 statistic diverged
      // in the 6th decimal through that path. Micro-units stay integers
      // end to end; the statistic column IS the exact micro count.
      val q = (diff.cast("double") * diff.cast("double")) /
        (lit(d.toDouble) * lit(n.toDouble) * col("r").cast("double"))
      val termMicro = floor(q * lit(1e6) + lit(0.5)).cast("long")
      // SECOND overflow guard (the n·D one above only keeps `diff` exact):
      // with an untrained bucket (R=1) absorbing a fully-shifted batch,
      // q can reach ~n·D, so q·1e6 can pass 2^53 (the exact-integer claim
      // dies silently) or even Long.MaxValue, where Spark's non-ANSI
      // double→long cast saturates while DuckDB's CAST errors — sum wrap
      // could then report drifted=false exactly when drift is most extreme.
      // Data-dependent, so the guard lives IN the plan: assert_true throws
      // loudly at materialization if any micro term left the exact range or
      // the integer sum went negative. When it passes it contributes no
      // rows/columns (assert_true ⇒ NULL ⇒ filter true), so oracle parity
      // is untouched.
      val out = cells.join(broadcast(obs), Seq("bucket"), "left")
        .agg(sum(termMicro).as("chi2m"), max(termMicro).as("maxm"))
        .where(assert_true(
          col("maxm") < lit(9.0e15) && col("chi2m") >= lit(0L),
          lit(s"driftStat micro term exceeded exact-integer range " +
            s"(n=$n, D=$d): shrink the monitored batch — it is a sample, " +
            "not the corpus")).isNull)
        .select(lit(label).as("batch"), lit(n).as("n_terms"),
          col("chi2m").as("chi2_micro"),
          (col("chi2m") > lit(math.round(threshold * 1e6))).as("drifted"))
      m.result(out)
    }
  }

  /** [[driftStat]] oracle: the same cell arithmetic relationally —
    * trained counts over `corpusRel`, observed counts over `batchRel`
    * (both exposing `textCol`), all-bucket cells via range, one double
    * division per cell rounded to the same 6dp decimal.
    */
  def driftStatSql(batchRel: String, corpusRel: String, textCol: String,
      buckets: Int, threshold: Double, label: String): String =
    s"""SELECT '$label' AS batch, s.n_terms, s.chi2_micro,
       |  s.chi2_micro > ${math.round(threshold * 1e6)} AS drifted
       |FROM (
       |  WITH ctoks AS (
       |    SELECT unnest(${TextFns.tokensSql(textCol)}) AS term
       |    FROM ($corpusRel)),
       |  train AS (
       |    SELECT (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
       |           COUNT(*) AS rc
       |    FROM ctoks GROUP BY 1),
       |  tot AS (
       |    SELECT CAST(COALESCE(SUM(rc), 0) AS BIGINT) + $buckets AS d
       |    FROM train),
       |  cells AS (
       |    SELECT b.bucket, CAST(COALESCE(t.rc, 0) + 1 AS BIGINT) AS r
       |    FROM (SELECT unnest(range($buckets)) AS bucket) b
       |    LEFT JOIN train t ON t.bucket = b.bucket),
       |  btoks AS (
       |    SELECT unnest(${TextFns.tokensSql(textCol)}) AS term
       |    FROM ($batchRel)),
       |  obs AS (
       |    SELECT (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
       |           COUNT(*) AS obs
       |    FROM btoks GROUP BY 1),
       |  nn AS (SELECT CAST(COALESCE(SUM(obs), 0) AS BIGINT) AS n FROM obs),
       |  terms AS (
       |    SELECT CAST(floor(
       |        CAST(COALESCE(o.obs, 0) * t.d - n.n * c.r AS DOUBLE) *
       |        CAST(COALESCE(o.obs, 0) * t.d - n.n * c.r AS DOUBLE) /
       |        (CAST(t.d AS DOUBLE) * CAST(n.n AS DOUBLE) * CAST(c.r AS DOUBLE))
       |        * 1e6 + 0.5) AS BIGINT) AS term_micro
       |    FROM cells c
       |    LEFT JOIN obs o ON o.bucket = c.bucket
       |    CROSS JOIN tot t CROSS JOIN nn n)
       |  SELECT (SELECT n FROM nn) AS n_terms,
       |         CAST(SUM(term_micro) AS BIGINT) AS chi2_micro
       |  FROM terms
       |) s""".stripMargin

  /** Shared oracle CTE chain ending in `scored(doc_id, source, sw)`: the
    * full relational replay of train + score (counts, smoothing, 6dp logs,
    * exact decimal dot product). The engine's driver-side training and
    * fold-based scoring must equal this — that is the point of the gate.
    */
  private def dsirScoredCtes(table: String, idCol: String, textCol: String,
      sourceCol: String, targetSource: String, buckets: Int): String = {
    def sd6(e: String) = s"CAST(round($e, 6) AS DECIMAL(18,6))"
    s"""toks AS (
       |  SELECT $idCol AS doc_id, $sourceCol AS source,
       |         unnest(${TextFns.tokensSql(textCol)}) AS term
       |  FROM $table),
       |feats AS (
       |  SELECT doc_id, source,
       |         (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
       |         COUNT(*) AS cnt
       |  FROM toks GROUP BY 1, 2, 3),
       |by_bucket AS (
       |  SELECT bucket, SUM(cnt) AS rc,
       |         SUM(CASE WHEN source = '$targetSource' THEN cnt ELSE 0 END) AS tc
       |  FROM feats GROUP BY 1),
       |totals AS (
       |  SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM by_bucket),
       |weights AS (
       |  SELECT bucket,
       |         ${sd6("ln(CAST(tc + 1 AS DOUBLE) / CAST(ttot + " +
                  s"$buckets AS DOUBLE))")} -
       |         ${sd6("ln(CAST(rc + 1 AS DOUBLE) / CAST(rtot + " +
                  s"$buckets AS DOUBLE))")} AS w
       |  FROM by_bucket CROSS JOIN totals),
       |scored AS (
       |  SELECT f.doc_id, f.source, SUM(f.cnt * w.w) AS sw
       |  FROM feats f JOIN weights w USING (bucket)
       |  GROUP BY 1, 2)""".stripMargin
  }
}
