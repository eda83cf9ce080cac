package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.util.Materialize

/** The whole training-data prep chain composed END TO END — quality gate →
  * MinHash-LSH near-dup removal → benchmark decontamination → deterministic
  * split — reported as a per-stage yield funnel (stage, n): what a data
  * engineer reads before promoting a corpus snapshot.
  *
  * The key design choice: every document gets ONE terminal label
  * (dropped_gate / dropped_dup / dropped_contaminated / kept_<split>)
  * computed in a single DAG — the stage counts fall out of one groupBy.
  * The naive form (count() after each stage) recomputes the whole upstream
  * chain once per stage; at 100 TB that multiplies the dedup cost by the
  * number of stages. Labeling is also strictly more informative: the same
  * frame, pre-aggregation, IS the per-doc audit trail.
  *
  * Per-doc contamination is independent of the other corpus docs (it
  * compares each doc's shingles against the eval set), so it is computed
  * alongside dedup and applied only to docs that survive the earlier
  * stages — same labels, no sequencing barrier between the two heavy
  * stages (Catalyst schedules both off the shared gated scan).
  */
object PrepPipeline {

  /** Funnel over `docs(idCol, textCol)`: eval slice = `idCol < evalBelow`
    * (the held-out benchmark docs), corpus = the rest. Gate: >= minTokens
    * tokens. Near-dups at `threshold` via (n, numHashes, rowsPerBand)
    * MinHash-LSH. Contamination: >= contamFrac shingle overlap with the
    * eval slice. Split: trainFrac/validFrac by id hash.
    */
  def funnel(docs: DataFrame, idCol: String, textCol: String,
      evalBelow: Long, minTokens: Int, n: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double, contamFrac: Double,
      trainFrac: Double, validFrac: Double): DataFrame = Materialize { m =>
    val evalDocs = docs.filter(col(idCol) < evalBelow)
    // the gated corpus (scan + tokenize-count + filter) feeds FOUR
    // consumers — the LSH dedup, the decontaminate shingle pass, its sizes
    // branch, and the final split/label join. Each is a separate subtree
    // (two of them materialize eagerly inside their operators), so without
    // a persist the corpus scan+tokenization re-runs once per consumer
    // (guide §5: persist what several consumers read, inside the query).
    // Released by the scope once the funnel's counts exist.
    // spread BEFORE tokenize+persist: the cache inherits the partitioning,
    // so every consumer's shingle/minhash stage-1 runs parallel out of it
    // (util.Spread: no-op at scale)
    val corpus = m.persist(
      graft.util.Spread(docs.filter(col(idCol) >= evalBelow))
        .select(col(idCol), col(textCol),
          size(TextFns.tokens(col(textCol))).cast("long").as("n_tok")))
    val pass = corpus.filter(col("n_tok") >= minTokens)
      .select(col(idCol), col(textCol))
    val dupIds = Dedup
      .minhashLshPairs(pass, idCol, textCol, n, numHashes, rowsPerBand, threshold)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("is_dup", lit(true))
    val contam = Decontaminate
      .overlapFlags(pass, evalDocs, idCol, textCol, n, contamFrac)
      .select(col("id").as(idCol), col("contaminated"))
    m.result(Sampling.split(corpus, idCol, trainFrac, validFrac)
      .join(dupIds, Seq(idCol), "left")
      .join(contam, Seq(idCol), "left")
      .select(
        when(col("n_tok") < minTokens, "10_dropped_gate")
          .when(col("is_dup"), "20_dropped_dup")
          .when(col("contaminated"), "30_dropped_contaminated")
          .otherwise(concat(lit("40_kept_"), col("split"))).as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n")))
  }

  /** The MULTIMODAL twin of [[funnel]]: the image-corpus prep chain
    * composed end to end over a binary asset table — full-decode
    * quarantine (the dHash's complete-BMP24 gate), aspect-fit resize
    * geometry, PERCEPTUAL dedup (connected components over
    * `Dedup.hammingPairs64`'s banded dHash pairs, keep the lexicographic-
    * min asset of each component), deterministic split — every asset
    * getting ONE terminal label in a single DAG:
    *
    *   10_quarantined_undecodable / 20_dropped_dup / 30_kept_<split>
    *
    * Output is the per-asset audit trail (name, stage, out_w, out_h);
    * stage counts are one groupBy away — never a count() per stage (the
    * [[funnel]] rationale: counting per stage recomputes the dedup chain
    * once per stage at 100 TB).
    *
    * Scale shape: hash+geometry are one narrow codegen pass over the
    * payload scan; the only shuffles are the banded pair join (linear,
    * corpus/2^16 per bucket) and the O(log d) component rounds on the
    * PAIRED assets only (near-dup components are shallow); split is a
    * per-row hash. The quadratic scan exists only oracle-side.
    */
  def mediaFunnel(images: DataFrame, nameCol: String, binCol: String,
      maxW: Int, maxH: Int, bands: Int, radius: Int,
      trainFrac: Double, validFrac: Double): DataFrame = Materialize { m =>
    val geom = m.persist(Multimodal.resizeFit(
        images.select(col(nameCol).as("name"), col(binCol).as("payload")),
        "payload", maxW, maxH)
      .withColumn("dh", graft.plans.DHashBmp(col("payload")))
      .select(col("name"), col("dh.hi").as("hi"), col("dh.lo").as("lo"),
        col("out_w"), col("out_h")))
    val pairs = Dedup.hammingPairs64(geom, "name", "hi", "lo", bands, radius)
    val clusters = Dedup.connectedComponents(pairs)
    val labeled = Sampling.splitBy(geom, col("name"), trainFrac, validFrac)
      .join(clusters.withColumnRenamed("id", "name"), Seq("name"), "left")
      .select(col("name"),
        when(col("hi").isNull, lit("10_quarantined_undecodable"))
          .when(col("cluster").isNotNull && col("cluster") =!= col("name"),
            lit("20_dropped_dup"))
          .otherwise(concat(lit("30_kept_"), col("split"))).as("stage"),
        // a quarantined asset may still carry header-parsed geometry
        // (e.g. a 32bpp BMP): null it — the funnel's contract is that
        // downstream stages never touch quarantined rows
        when(col("hi").isNull, lit(null)).otherwise(col("out_w")).as("out_w"),
        when(col("hi").isNull, lit(null)).otherwise(col("out_h")).as("out_h"))
    m.result(labeled)
  }

  /** CROSS-MODAL pair dedup — the multimodal-training dedup rule that
    * neither side's dedup implements alone: an (image, caption) training
    * pair is redundant only when BOTH its image and its caption are
    * near-duplicates of another pair's. Keeping one pair per image alone
    * would drop (same image, genuinely new caption) — a distinct training
    * signal; per caption alone would drop (new image, stock caption).
    * The right granularity is the CELL: image-cluster × caption-cluster,
    * keep the min-`pairIdCol` pair of each cell.
    *
    * Image clusters: connected components over [[Dedup.hammingPairs64]]'s
    * banded dHash pairs (exact for radius < bands), canonical = min name.
    * Caption clusters: components over [[Dedup.minhashLshPairs]] keyed by
    * pair id (identical captions are Jaccard-1 pairs, so stock captions
    * cluster across pairs). A pair whose image fails the full-decode gate
    * is quarantined with BOTH cluster columns nulled — the mediaFunnel
    * contract that downstream never touches quarantined rows — and never
    * competes for a cell.
    *
    * Output: one row per pair — (pair_id, img_cluster, cap_cluster,
    * stage ∈ 10_quarantined_undecodable / 20_dropped_dup / 30_kept).
    *
    * CONTRACT: `imgNameCol` is the image's content key — equal names must
    * carry byte-equal payloads (the distinct() below then yields unique
    * ids; a violated contract trips hammingPairs64's loud uniqueness
    * check rather than silently picking a payload).
    *
    * Scale shape: the image side runs over DISTINCT images (at 100 TB the
    * image:pair ratio is what makes this tractable — stock photos repeat
    * across millions of pairs); both pair relations are linear banded
    * joins; components run on paired nodes only (O(log d) rounds); the
    * cell-min is one aggregation on (cluster, cluster) keys. No quadratic
    * path engine-side — the brute-force scans exist only in the oracle.
    */
  def crossModalDedup(pairs: DataFrame, pairIdCol: String, imgNameCol: String,
      binCol: String, captionCol: String, bands: Int, radius: Int,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame =
      Materialize { m =>
    val sig = m.persist(
      pairs.select(col(imgNameCol).as("name"), col(binCol).as("payload"))
        .distinct()
        .withColumn("dh", graft.plans.DHashBmp(col("payload")))
        .select(col("name"), col("dh.hi").as("hi"), col("dh.lo").as("lo")))
    val iclusters = Dedup
      .connectedComponents(Dedup.hammingPairs64(sig, "name", "hi", "lo", bands, radius))
      .withColumnRenamed("cluster", "_icl")
    val cclusters = Dedup
      .connectedComponents(Dedup
        .minhashLshPairs(pairs, pairIdCol, captionCol, n, numHashes, rowsPerBand, threshold)
        .select(col("id_a"), col("id_b")))
      .withColumnRenamed("cluster", "_ccl")
    // no broadcast hints: the cluster relations are usually tiny (paired
    // nodes only) but on dup-heavy corpora they are not — AQE converts
    // these to broadcast joins when the build side is genuinely small
    val celled = pairs
      .join(sig.select(col("name").as(imgNameCol), col("hi")),
        Seq(imgNameCol), "left")
      .join(iclusters.withColumnRenamed("id", imgNameCol),
        Seq(imgNameCol), "left")
      .join(cclusters.withColumnRenamed("id", pairIdCol),
        Seq(pairIdCol), "left")
      .select(col(pairIdCol).as("pair_id"),
        when(col("hi").isNull, lit(null))
          .otherwise(coalesce(col("_icl"), col(imgNameCol))).as("img_cluster"),
        when(col("hi").isNull, lit(null))
          .otherwise(coalesce(col("_ccl"), col(pairIdCol))).as("cap_cluster"),
        col("hi").isNull.as("_quarantined"))
    m.result(cellTail(celled))
  }

  /** The CELL rule of [[crossModalDedup]] over an already-celled relation
    * (pair_id, img_cluster, cap_cluster, _quarantined), lazy — factored so
    * the scale bench (`tools.CrossModalScaleBench`) drives the exact
    * production aggregation/join tail at signature level instead of a
    * re-implementation that could drift from it.
    */
  private[graft] def cellTail(celled: DataFrame): DataFrame = {
    val keep = celled.filter(!col("_quarantined"))
      .groupBy(col("img_cluster"), col("cap_cluster"))
      .agg(min(col("pair_id")).as("_keep_id"))
    celled
      .join(keep, Seq("img_cluster", "cap_cluster"), "left")
      .select(col("pair_id"), col("img_cluster"), col("cap_cluster"),
        when(col("_quarantined"), "10_quarantined_undecodable")
          .when(col("pair_id") =!= col("_keep_id"), "20_dropped_dup")
          .otherwise("30_kept").as("stage"))
  }

  /** DuckDB mirror of [[crossModalDedup]] over a parquet file of
    * (pair_id, img_name, payload, caption): dHash replay + brute-force
    * Hamming scan + recursive closure for image clusters, the mirrored
    * banded-MinHash pairs + closure for caption clusters, then the same
    * cell-min rule.
    */
  def crossModalDedupSql(parquetPath: String, bands: Int, radius: Int,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): String =
    s"""WITH RECURSIVE prs AS (
       |  SELECT pair_id, img_name, payload, caption
       |  FROM read_parquet('$parquetPath')),
       |imgs AS (SELECT DISTINCT img_name, payload FROM prs),
       |src AS (
       |  SELECT img_name AS key, hex(payload) AS h, octet_length(payload) AS n
       |  FROM imgs),
       |${graft.queries.MediaSql.bmpDHashCtes("src")},
       |ipairs AS (
       |${Dedup.hammingPairs64Sql("SELECT key AS id, hi, lo FROM bmpdhash", bands, radius)}
       |),
       |iedges AS (
       |  SELECT id_a AS src2, id_b AS dst FROM ipairs
       |  UNION ALL SELECT id_b, id_a FROM ipairs),
       |ireach(id, label) AS (
       |  SELECT key, key FROM bmpdhash
       |  UNION
       |  SELECT e.dst, r.label FROM ireach r JOIN iedges e ON e.src2 = r.id),
       |iclusters AS (SELECT id, MIN(label) AS cluster FROM ireach GROUP BY id),
       |cpairs AS (
       |${Dedup.minhashLshPairsSql("prs", "pair_id", "caption", n, numHashes, rowsPerBand, threshold)}
       |),
       |cedges AS (
       |  SELECT id_a AS src2, id_b AS dst FROM cpairs
       |  UNION ALL SELECT id_b, id_a FROM cpairs),
       |creach(id, label) AS (
       |  SELECT pair_id, pair_id FROM prs
       |  UNION
       |  SELECT e.dst, r.label FROM creach r JOIN cedges e ON e.src2 = r.id),
       |cclusters AS (SELECT id, MIN(label) AS cluster FROM creach GROUP BY id),
       |celled AS (
       |  SELECT p.pair_id,
       |    CASE WHEN d.key IS NULL THEN NULL
       |         ELSE COALESCE(ic.cluster, p.img_name) END AS img_cluster,
       |    CASE WHEN d.key IS NULL THEN NULL
       |         ELSE COALESCE(cc.cluster, p.pair_id) END AS cap_cluster,
       |    d.key IS NULL AS quarantined
       |  FROM prs p
       |  LEFT JOIN bmpdhash d ON d.key = p.img_name
       |  LEFT JOIN iclusters ic ON ic.id = p.img_name
       |  LEFT JOIN cclusters cc ON cc.id = p.pair_id),
       |keep AS (
       |  SELECT img_cluster, cap_cluster, MIN(pair_id) AS keep_id
       |  FROM celled WHERE NOT quarantined GROUP BY 1, 2)
       |SELECT c.pair_id, c.img_cluster, c.cap_cluster,
       |  CASE WHEN c.quarantined THEN '10_quarantined_undecodable'
       |       WHEN c.pair_id <> k.keep_id THEN '20_dropped_dup'
       |       ELSE '30_kept' END AS stage
       |FROM celled c
       |LEFT JOIN keep k
       |  ON k.img_cluster = c.img_cluster AND k.cap_cluster = c.cap_cluster""".stripMargin

  /** DuckDB mirror of [[mediaFunnel]] over a parquet file of
    * (name, payload): the dHash replay, brute-force pair scan (equal to
    * the banded join for radius < bands), recursive-closure components,
    * and the same geometry/split fragments.
    */
  def mediaFunnelSql(parquetPath: String, maxW: Int, maxH: Int,
      bands: Int, radius: Int, trainFrac: Double, validFrac: Double): String = {
    val (ow, oh, _) = Multimodal.resizeFitSql("w", "hh", maxW, maxH)
    s"""WITH RECURSIVE imgs AS (
       |  SELECT name, hex(payload) AS h, octet_length(payload) AS n
       |  FROM read_parquet('$parquetPath')),
       |src AS (SELECT name AS key, h, n FROM imgs),
       |${graft.queries.MediaSql.bmpDHashCtes("src")},
       |sig AS (SELECT key AS id, hi, lo FROM bmpdhash),
       |pairs AS (
       |${Dedup.hammingPairs64Sql("SELECT id, hi, lo FROM sig", bands, radius)}
       |),
       |edges AS (
       |  SELECT id_a AS src2, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, label) AS (
       |  SELECT id, id FROM sig
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src2 = r.id),
       |clusters AS (SELECT id, MIN(label) AS cluster FROM reach GROUP BY id),
       |geom AS (
       |  SELECT key, CAST($ow AS INTEGER) AS out_w, CAST($oh AS INTEGER) AS out_h
       |  FROM bmpok)
       |SELECT i.name,
       |  CASE WHEN d.key IS NULL THEN '10_quarantined_undecodable'
       |       WHEN c.cluster IS NOT NULL AND c.cluster <> i.name
       |         THEN '20_dropped_dup'
       |       ELSE '30_kept_' ||
       |         ${Sampling.splitCaseSql("i.name", trainFrac, validFrac)}
       |  END AS stage,
       |  CASE WHEN d.key IS NULL THEN NULL ELSE g.out_w END AS out_w,
       |  CASE WHEN d.key IS NULL THEN NULL ELSE g.out_h END AS out_h
       |FROM imgs i
       |LEFT JOIN bmpdhash d ON d.key = i.name
       |LEFT JOIN clusters c ON c.id = i.name
       |LEFT JOIN geom g ON g.key = i.name""".stripMargin
  }

  /** DuckDB mirror of [[funnel]], composed from the stage builders'
    * fragments over the same CTE chain.
    */
  def funnelSql(table: String, idCol: String, textCol: String,
      evalBelow: Long, minTokens: Int, n: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double, contamFrac: Double,
      trainFrac: Double, validFrac: Double): String = {
    val toks = TextFns.tokensSql(textCol)
    s"""WITH corpus AS (
       |  SELECT $idCol, $textCol, CAST(len($toks) AS BIGINT) AS n_tok
       |  FROM $table WHERE $idCol >= $evalBelow),
       |pass AS (
       |  SELECT $idCol, $textCol FROM corpus WHERE n_tok >= $minTokens),
       |dups AS (
       |  SELECT DISTINCT id_b AS $idCol FROM (
       |${Dedup.minhashLshPairsSql("pass", idCol, textCol, n, numHashes, rowsPerBand, threshold)}
       |  )),
       |flags AS (
       |  SELECT id AS $idCol, contaminated FROM (
       |${Decontaminate.overlapFlagsSql(table, idCol, textCol, n, contamFrac, s"$idCol < $evalBelow")}
       |  )),
       |labeled AS (
       |  SELECT CASE
       |      WHEN c.n_tok < $minTokens THEN '10_dropped_gate'
       |      WHEN d.$idCol IS NOT NULL THEN '20_dropped_dup'
       |      WHEN f.contaminated THEN '30_dropped_contaminated'
       |      ELSE '40_kept_' || ${Sampling.splitCaseSql(s"c.$idCol", trainFrac, validFrac)}
       |    END AS stage
       |  FROM corpus c
       |  LEFT JOIN dups d ON c.$idCol = d.$idCol
       |  LEFT JOIN flags f ON c.$idCol = f.$idCol)
       |SELECT stage, COUNT(*) AS n FROM labeled GROUP BY 1""".stripMargin
  }
}
