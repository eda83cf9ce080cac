package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Distributed Lloyd's k-means over embedding columns, built so the full
  * iteration — centroid means AND nearest-centroid assignment — is
  * bit-identical across engines (the DuckDB oracle replays the exact same
  * computation and hash-matches the assignments):
  *
  *  - Vectors are quantized to exact fixed-point longs (`floor(v*1000+0.5)`,
  *    explicit floor form so no engine's round-tie semantics is involved).
  *    Centroid SUM/COUNT is then exact integer arithmetic — double sums of
  *    floats, whose value depends on partition order, never occur.
  *  - Centroid components are `CAST(sum AS DOUBLE)/CAST(n AS DOUBLE)` —
  *    one deterministic double op on exact ints.
  *  - Squared-Euclidean distance is a left fold seeded at 0.0 in ascending
  *    dimension order; the oracle emits the identical parenthesis tree, so
  *    IEEE addition order matches term for term.
  *  - Arg-min scans clusters in ascending id with strict `<`, equivalent to
  *    `ROW_NUMBER() OVER (ORDER BY dist, cluster)` — ties (exactly equal
  *    doubles) break identically.
  *
  * Init seeds cluster j with the j-th CONTIGUOUS id block
  * (`id DIV ceil((max_id+1)/k)`, exact integer math, one tiny max-agg —
  * no global sort). Striped `id % k` init makes every seed centroid the
  * global mean (they collapse and clusters starve); contiguous blocks give
  * distinct seeds whenever ids correlate with content locality, and are
  * never worse than random partition when they don't. Ids must be ≥ 0.
  *
  * Scale notes (100 TB): each iteration is ONE shuffle — the centroid
  * aggregation (k × dim longs, map-side combined) — whose k-row result is
  * collected to the driver (k × dim doubles, the same tiny driver round-trip
  * MLlib's Lloyd iteration makes) and embedded as constants in a
  * fully-codegen'd narrow arg-min projection (one NearestClusterConst loop
  * over the compiled-in centroid table — an unrolled k × dim literal chain
  * would blow Janino's method limits). No n×k row blowup, no window;
  * assignment cost is n·k·dim multiply-adds inside whole-stage codegen.
  */
object KMeans {

  /** Exact fixed-point (1e-3) quantization of a float-array column. */
  def quantize(vecCol: Column): Column =
    transform(vecCol, v => floor(v.cast("double") * 1000.0 + 0.5).cast("long"))

  def quantizeSql(vecCol: String): String =
    s"list_transform($vecCol, v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"

  /** The oracle's parenthesis tree — (((0.0 + t1) + t2) + ...) — which
    * NearestClusterConst's per-centroid codegen loop reproduces bit-for-bit.
    */
  private[operators] def distSqSql(q: String, cent: String, dim: Int): String =
    (1 to dim).foldLeft("0.0") { (acc, i) =>
      val t = s"(CAST($q[$i] AS DOUBLE) - $cent[$i]) * (CAST($q[$i] AS DOUBLE) - $cent[$i])"
      s"($acc + $t)"
    }

  /** Append `outCol` = nearest-centroid cluster id to `df` (which carries a
    * quantized array<long> column `qCol`): the whole k-way argmin is ONE
    * codegen'd loop over the compiled-in centroid table
    * (NearestClusterConst — ≡ ROW_NUMBER ORDER BY dist ASC NULLS LAST,
    * cluster ASC; a null/short vector lands on the LOWEST cluster id,
    * exactly where the oracle's rank puts it). A pure narrow codegen
    * projection — zero shuffle, no row blowup, and the generated code stays
    * tiny at any k (the earlier staged per-centroid distance columns +
    * k-arm when-chain blew Janino's 64 KB method limit at PQ's 8×16
    * centroids and grew unboundedly with auto-k). `cents` must be
    * (clusterId, centroid) sorted by clusterId.
    */
  private[operators] def withNearestCluster(df: DataFrame, qCol: String,
      cents: Seq[(Long, Array[Double])], outCol: String): DataFrame =
    df.withColumn(outCol, graft.plans.NearestClusterConst(col(qCol),
      cents.map(_._1).toArray, cents.map(_._2).toArray))

  private def assignNearest(base: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame =
    withNearestCluster(base.select(col("vec_id"), col("q")), "q",
      cents, "cluster")

  /** Final cluster assignment after `iters` Lloyd iterations.
    * Output: (vec_id, cluster).
    *
    * Each iteration: one shuffled centroid aggregation (k × dim exact long
    * sums, map-side combined) whose k-row result is collected to the driver
    * (k × dim doubles — the MLlib iteration shape), then a fully-codegen'd
    * narrow arg-min projection with the centroids embedded as constants
    * (NearestClusterConst). Nothing but k rows ever leaves executors.
    */
  def assign(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, iters: Int): DataFrame =
    assignWithCentroids(df, idCol, vecCol, dim, k, iters)._1

  /** `assign` plus the trained centroids the final assignment used —
    * (clusterId, centroid in QUANTIZED space, sorted by id). The centroid
    * table is what composes k-means into other operators (IVF coarse
    * quantizer, Similarity.ivfKMeansTopK) without rerunning Lloyd.
    */
  def assignWithCentroids(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, iters: Int): (DataFrame, Seq[(Long, Array[Double])]) = {
    require(k > 0 && iters >= 1, s"k=$k and iters=$iters must be positive")
    val base = df.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("q"))
    val mxRow = df.agg(max(col(idCol))).head()
    require(!mxRow.isNullAt(0),
      "KMeans.assign: empty input (or all-null ids) — nothing to cluster")
    val mx = mxRow.getAs[Number](0).longValue() // id may be int or long typed
    var assigned = base
      .withColumn("cluster", expr(s"vec_id DIV ${(mx + k) / k}").cast("long"))
    var lastCents: Seq[(Long, Array[Double])] = Nil
    for (_ <- 1 to iters) {
      val cents = assigned
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(i => sum(element_at(col("q"), i + 1))): _*).as("s"))
        .select(col("cluster"),
          transform(col("s"), s => s.cast("double") / col("n").cast("double")).as("cent"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1)
      lastCents = cents.toIndexedSeq
      assigned = assignNearest(base, lastCents)
    }
    (assigned.select(col("vec_id"), col("cluster")), lastCents)
  }

  /** Jointly train `m` per-subspace PQ codebooks (Similarity.pqTopK):
    * computes EXACTLY what m independent `assignWithCentroids` runs over
    * the vector's dsub-wide slices would (same contiguous-block seeding —
    * ids are shared, so the block size is too; same per-subspace centroid
    * sums on the quantized slices; same staged argmin reassignment), but
    * each Lloyd iteration is ONE aggregation for ALL subspaces — the
    * exploded (subspace, cluster) grouping — instead of m separate
    * jobs, and the max-id seed job runs once instead of m times. The
    * oracle replays the m independent chains and hash-matches because
    * the computations are identical, only the job packing differs.
    */
  private[graft] def trainSubspaceBooks(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, ksub: Int,
      iters: Int): Seq[Seq[(Long, Array[Double])]] = {
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    require(ksub > 0 && iters >= 1, s"ksub=$ksub and iters=$iters must be positive")
    val dsub = dim / m
    val base = df.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("q"))
    val mxRow = df.agg(max(col(idCol))).head()
    require(!mxRow.isNullAt(0),
      "trainSubspaceBooks: empty input (or all-null ids) — nothing to cluster")
    val mx = mxRow.getAs[Number](0).longValue()
    val withSubs = base.select(col("vec_id") +: col("q") +:
      (0 until m).map(j => slice(col("q"), j * dsub + 1, dsub).as(s"_sub$j")): _*)
    var assigned = withSubs.select(col("*") +:
      (0 until m).map(j =>
        expr(s"vec_id DIV ${(mx + ksub) / ksub}").cast("long").as(s"c$j")): _*)
    var books: Seq[Seq[(Long, Array[Double])]] = Nil
    for (_ <- 1 to iters) {
      // one shuffle for every subspace's centroid sums: explode the m
      // (subspace, cluster) labels, index the quantized vector by
      // j*dsub+i (dynamic but codegen'd), aggregate exact longs
      val expl = assigned.select(col("q"),
        posexplode(array((0 until m).map(j => col(s"c$j")): _*)).as(Seq("j", "cluster")))
      val centRows = expl.groupBy(col("j"), col("cluster"))
        .agg(count(lit(1)).as("n"),
          array((1 to dsub).map(i =>
            sum(element_at(col("q"), col("j") * dsub + i))): _*).as("s"))
        .select(col("j"), col("cluster"),
          transform(col("s"), s => s.cast("double") / col("n").cast("double")).as("cent"))
        .collect()
      books = (0 until m).map { j =>
        centRows.filter(_.getInt(0) == j)
          .map(r => r.getLong(1) -> r.getSeq[Double](2).toArray)
          .sortBy(_._1).toIndexedSeq
      }
      assigned = (0 until m).foldLeft(withSubs) { (acc, j) =>
        withNearestCluster(acc, s"_sub$j", books(j), s"c$j")
      }
    }
    books
  }

  /** The corpus-scaled cluster count of the auto-k operators:
    * max(minK, n / docsPerCluster). Tying k to the corpus size keeps the
    * within-cluster pair work of SemDeDup at ~n·docsPerCluster instead of
    * n²/minK — the bounded regime the operator's n²/k contract promises.
    * Exact integer math, mirrored by `autoKSql`.
    */
  def autoK(n: Long, minK: Int, docsPerCluster: Int): Int =
    math.max(minK.toLong, n / docsPerCluster).toInt

  private def autoKSql(table: String, minK: Int, docsPerCluster: Int): String =
    s"(SELECT GREATEST($minK, COUNT(*) // $docsPerCluster) AS k FROM $table)"

  /** Oracle CTE chain ending in a relation `<out>` = (vec_id, q, cluster)
    * after `iters` iterations (ROW_NUMBER arg-min ≡ the strict-less fold).
    * `kSql` is the SQL form of the cluster count — a literal, or a scalar
    * one-row relation (auto-k) cross-joined into the seeding expression.
    */
  /** Returns (cte chain, final-assignment relation name). The chain also
    * exposes `base` (vec_id, q) and the final centroids as `centd$iters`
    * (cluster, cent) — composing SQL (ivfKMeansTopKSql) reads both.
    */
  /** `prefix` namespaces every CTE name so several independent chains can
    * coexist in one statement (Similarity.pqTopKSql runs one chain per PQ
    * subspace); the default empty prefix keeps existing callers (and their
    * `centd$iters` references) unchanged.
    */
  private[operators] def assignCtes(table: String, idCol: String, vecCol: String,
      dim: Int, kSql: String, iters: Int, prefix: String = ""): (String, String) = {
    val p = prefix
    val sb = new StringBuilder
    sb.append(
      s"""${p}params AS (SELECT CAST(($kSql) AS BIGINT) AS k),
         |${p}base AS (
         |  SELECT $idCol AS vec_id, ${quantizeSql(vecCol)} AS q FROM $table),
         |${p}assign0 AS (
         |  SELECT vec_id, q,
         |    CAST(vec_id // ((mx + k) // k) AS BIGINT) AS cluster
         |  FROM ${p}base CROSS JOIN (SELECT MAX(vec_id) AS mx FROM ${p}base)
         |  CROSS JOIN ${p}params)""".stripMargin)
    val sums = (1 to dim).map(i => s"SUM(q[$i])").mkString("[", ", ", "]")
    for (j <- 1 to iters) {
      sb.append(
        s""",
           |${p}cents$j AS (
           |  SELECT cluster, COUNT(*) AS n, $sums AS s
           |  FROM ${p}assign${j - 1} GROUP BY cluster),
           |${p}centd$j AS (
           |  SELECT cluster, list_transform(s, x -> CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) AS cent
           |  FROM ${p}cents$j),
           |${p}scored$j AS (
           |  SELECT v.vec_id, v.q, c.cluster,
           |    ${distSqSql("v.q", "c.cent", dim)} AS dist
           |  FROM ${p}base v CROSS JOIN ${p}centd$j c),
           |${p}assign$j AS (
           |  SELECT vec_id, q, cluster FROM (
           |    SELECT vec_id, q, cluster,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster ASC) AS rn
           |    FROM ${p}scored$j) WHERE rn = 1)""".stripMargin)
    }
    (sb.toString, s"${p}assign$iters")
  }

  /** Cluster-quality evaluation: simplified SILHOUETTE on a bounded sample
    * — the k-means analog of e14's ANN recall / d20's LSH recall (how k and
    * iters get tuned before committing a clustering to SemDeDup or IVF).
    * For each sampled point: a = mean squared quantized distance to its own
    * cluster's other members, b = min over other clusters of the mean
    * distance to that cluster, sil = (b − a) / max(a, b) ∈ [−1, 1].
    * Output: one row per sampled point (vec_id, cluster, a_mean, b_mean,
    * sil) — per-sample rows, no double-sum aggregation, so scores are
    * engine-exact (distances are exact integer sums in quantized space;
    * only the final mean division is floating point).
    *
    * Scale: the sample side is broadcast (bounded BY CONTRACT, like e01's
    * query side); the corpus streams ONCE through a narrow zip_with
    * distance and partial-aggregates to |sample|·k rows — no corpus
    * self-join, one shuffle of the tiny partial relation. Samples whose
    * cluster has no other member (a undefined) are dropped by the final
    * inner join, mirrored in the oracle.
    */
  def clusterQuality(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, iters: Int, samplePred: Column): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2 (b is a min over OTHER clusters)")
    val assigned = assign(df, idCol, vecCol, dim, k, iters)
    val base = df.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("q"))
    val full = base.join(assigned, Seq("vec_id"))
    val sample = full.filter(samplePred)
      .select(col("vec_id").as("sid"), col("q").as("sq"),
        col("cluster").as("scl"))
    // exact integer squared distance — order-independent, codegen-friendly
    val d2 = aggregate(
      zip_with(col("q"), col("sq"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, e) => acc + e)
    val pairs = full.join(broadcast(sample), col("vec_id") =!= col("sid"))
      .groupBy(col("sid"), col("scl"), col("cluster"))
      .agg(sum(d2).as("sd"), count(lit(1)).as("n"))
    val means = pairs.select(col("sid"), col("scl"), col("cluster"),
      (col("sd").cast("double") / col("n").cast("double")).as("md"))
    val aRel = means.filter(col("cluster") === col("scl"))
      .select(col("sid"), col("scl"), col("md").as("a_mean"))
    val bRel = means.filter(col("cluster") =!= col("scl"))
      .groupBy(col("sid")).agg(min(col("md")).as("b_mean"))
    aRel.join(bRel, Seq("sid"))
      .select(col("sid").as("vec_id"), col("scl").as("cluster"),
        col("a_mean"), col("b_mean"),
        when(greatest(col("a_mean"), col("b_mean")) === 0.0, lit(0.0))
          .otherwise((col("b_mean") - col("a_mean")) /
            greatest(col("a_mean"), col("b_mean"))).as("sil"))
  }

  /** [[clusterQuality]] oracle: the assignment CTE chain, then the same
    * sample join / integer distance sums / mean-and-min chain.
    */
  def clusterQualitySql(table: String, idCol: String, vecCol: String,
      dim: Int, k: Int, iters: Int, samplePredSql: String): String = {
    val (ctes, out) = assignCtes(table, idCol, vecCol, dim, k.toString, iters)
    val dist = (1 to dim)
      .map(i => s"(f.q[$i] - s.sq[$i]) * (f.q[$i] - s.sq[$i])")
      .mkString(" + ")
    s"""WITH $ctes,
       |samp AS (SELECT vec_id AS sid, q AS sq, cluster AS scl
       |  FROM $out WHERE $samplePredSql),
       |pairs AS (
       |  SELECT s.sid, s.scl, f.cluster,
       |    CAST(SUM($dist) AS BIGINT) AS sd, COUNT(*) AS n
       |  FROM $out f JOIN samp s ON f.vec_id <> s.sid
       |  GROUP BY 1, 2, 3),
       |means AS (SELECT sid, scl, cluster,
       |  CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS md FROM pairs),
       |a AS (SELECT sid, scl, md AS a_mean FROM means WHERE cluster = scl),
       |b AS (SELECT sid, MIN(md) AS b_mean FROM means WHERE cluster <> scl
       |  GROUP BY sid)
       |SELECT a.sid AS vec_id, a.scl AS cluster, a.a_mean, b.b_mean,
       |  CASE WHEN GREATEST(a.a_mean, b.b_mean) = 0.0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE (b.b_mean - a.a_mean) / GREATEST(a.a_mean, b.b_mean)
       |  END AS sil
       |FROM a JOIN b ON a.sid = b.sid""".stripMargin
  }

  def assignSql(table: String, idCol: String, vecCol: String, dim: Int,
      k: Int, iters: Int): String = {
    val (ctes, out) = assignCtes(table, idCol, vecCol, dim, k.toString, iters)
    s"WITH $ctes\nSELECT vec_id, cluster FROM $out"
  }

  /** SemDeDup-style semantic dedup: k-means clusters bound the candidate
    * pairs, then any row within cosine `threshold` of a LOWER-id row in the
    * SAME cluster is dropped. Output: kept (idCol, cluster).
    *
    * Scale: the pair join is an equi-join on cluster id — within-cluster
    * quadratic only (that bound is the point of clustering first; raise k
    * to shrink clusters). Cosine reuses the codegen'd DotProductFloat.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    val asg = assign(df, idCol, vecCol, dim, k, iters)
      .withColumnRenamed("vec_id", "id")
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", VectorFns.norm(col("vec"), dim))
      .join(asg, Seq("id"))
    val pairs = v.as("a").join(v.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .withColumn("cos_sim", VectorFns.cosineFromNorms(
        VectorFns.dot(col("a.vec"), col("b.vec"), dim), col("a.nrm"), col("b.nrm")))
      .filter(col("cos_sim") >= threshold)
    val dropped = pairs.select(col("b.id").as("id")).distinct()
    v.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cluster"))
  }

  /** `semanticDedup` with the cluster count derived from the corpus size
    * (`autoK`): the declared query form, so the n²/k bound demonstrably
    * tightens as the corpus grows instead of relying on a pinned k. One
    * extra O(1)-result count() on the input; everything else identical.
    */
  def semanticDedupAutoK(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int, threshold: Double, minK: Int = 32,
      docsPerCluster: Int = 500): DataFrame =
    semanticDedup(df, idCol, vecCol, dim,
      autoK(df.count(), minK, docsPerCluster), iters, threshold)

  def semanticDedupAutoKSql(table: String, idCol: String, vecCol: String,
      dim: Int, iters: Int, threshold: Double, minK: Int = 32,
      docsPerCluster: Int = 500): String =
    semanticDedupSqlWithK(table, idCol, vecCol, dim,
      autoKSql(table, minK, docsPerCluster), iters, threshold)

  private def semanticDedupSqlWithK(table: String, idCol: String, vecCol: String,
      dim: Int, kSql: String, iters: Int, threshold: Double): String = {
    val (ctes, out) = assignCtes(table, idCol, vecCol, dim, kSql, iters)
    s"""WITH $ctes,
       |v AS (
       |  SELECT t.$idCol AS id, t.$vecCol AS vec,
       |         ${VectorFns.normSql(s"t.$vecCol", dim)} AS nrm, a.cluster
       |  FROM $table t JOIN $out a ON t.$idCol = a.vec_id),
       |dropped AS (
       |  SELECT DISTINCT b.id FROM v a JOIN v b
       |    ON a.cluster = b.cluster AND a.id < b.id
       |  WHERE (${VectorFns.dotSql("a.vec", "b.vec", dim)}) / (a.nrm * b.nrm) >= $threshold)
       |SELECT v.id AS $idCol, v.cluster FROM v
       |WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.id = v.id)""".stripMargin
  }
}
