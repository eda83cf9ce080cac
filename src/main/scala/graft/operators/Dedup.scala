package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.util.Materialize

/** Term scoring for the text pipeline: TF-IDF top terms per document.
  * tf = in-doc term count, idf = ln(N / df); top-k per doc by
  * (score desc, term asc). The score is rounded (6dp) for cross-engine
  * output parity — equal (tf, df) pairs produce bit-identical doubles in
  * both engines, so ranking ties resolve identically.
  *
  * Scale: two hash aggregations (per-doc-term, per-term) + the tf⋈df join,
  * then a per-doc top-k window. The df relation is NOT hint-broadcast:
  * vocabulary is unbounded on web text (hundreds of millions of distinct
  * terms), so a forced broadcast OOMs the driver exactly where the operator
  * matters; AQE broadcasts it at runtime when it is genuinely small.
  */
object TfIdf {
  import graft.functions.TextFns

  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val terms = df.select(col(idCol).as("id"),
      explode(TextFns.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("term"))
      .agg(countDistinct(col("id")).as("df"))
    val n = df.select(countDistinct(col(idCol)).as("n"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n").cast("double") / col("df").cast("double")), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id"), col("term"), col("tf"), col("df"), col("score"), col("rank"))
  }

  def topTermsSql(table: String, idCol: String, textCol: String, k: Int): String =
    s"""WITH terms AS (
       |  SELECT $idCol AS id, unnest(${TextFns.tokensSql(textCol)}) AS term FROM $table),
       |tf AS (SELECT id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
       |dfreq AS (SELECT term, COUNT(DISTINCT id) AS df FROM terms GROUP BY 1),
       |n AS (SELECT COUNT(DISTINCT $idCol) AS n FROM $table),
       |scored AS (
       |  SELECT id, tf.term, tf, df,
       |    round(tf * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
       |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
       |ranked AS (
       |  SELECT id, term, tf, df, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, term ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT * FROM ranked WHERE rank <= $k""".stripMargin
}

/** Deduplication operators for the training-data pipeline extension:
  * exact (hash-groupBy), fingerprint (bag-of-words), n-gram Jaccard
  * (inverted-index self-join), MinHash+LSH (shingle→minhash→band→bucket
  * join), SimHash.
  *
  * Scale notes (100 TB):
  * - Exact/fingerprint dedup is a single hash aggregation on a derived key —
  *   map-side combine collapses each partition to its distinct hashes before
  *   the exchange, so the shuffle carries one row per distinct content.
  * - `ngramJaccardPairs` shuffles on the shingle (inverted index). Its cost
  *   is sum over shingles of df(s)^2 — quadratic in hot shingles, so it is
  *   the small-corpus/exact path. The scale path is `minhashLshPairs`:
  *   candidate generation is linear in corpus size — one md5 per distinct
  *   (id, shingle), a numHashes-column MIN aggregate (map-side combined,
  *   no row blowup), one banding self-join — and only candidates pay the
  *   exact verification cost.
  * - All hashing is md5-based so results are reproducible in any engine
  *   (the DuckDB oracle runs the identical computation); at production
  *   scale `xxhash64` would halve the hash cost but is not portable.
  */
object Dedup {

  /** Exact duplicate groups by whitespace-normalized content hash.
    * Output: content_hash, n_docs, min_id (canonical representative).
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFns.contentHash(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_id"))

  def exactDupGroupsSql(table: String, idCol: String, textCol: String): String =
    s"""SELECT ${TextFns.contentHashSql(textCol)} AS content_hash,
       |  COUNT(*) AS n_docs, MIN($idCol) AS min_id
       |FROM $table GROUP BY 1""".stripMargin

  /** Bag-of-words near-dup groups: md5 over sorted distinct tokens.
    * Catches reorderings/repetitions of the same vocabulary.
    */
  def fingerprintDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFns.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_id"))
      .filter(col("n_docs") >= 2)

  def fingerprintDupGroupsSql(table: String, idCol: String, textCol: String): String =
    s"""SELECT ${TextFns.fingerprintSql(textCol)} AS fp,
       |  COUNT(*) AS n_docs, MIN($idCol) AS min_id
       |FROM $table GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin

  // A small corpus often arrives as one file = one partition, which would
  // serialize the shingle+hash work on a single core; spread it first.
  // At scale the input already has >= defaultParallelism partitions and
  // this is a no-op (no shuffle added).
  private def spread(df: DataFrame): DataFrame = graft.util.Spread(df)

  /** Per-doc deduplicated shingle ARRAY (id, arr, n_sh) — a pure narrow
    * projection (array_distinct inside the row, never an exploded
    * DISTINCT: the round-12 form removed that exchange — the shingles
    * derive from the doc row itself, so deduplicating them through a
    * corpus-wide shuffle was paying an exchange for row-local work) with
    * the set size carried alongside so consumers never re-aggregate or
    * join for it. Consumers explode out of the cache per use — the cache
    * holds one row per DOC (smaller than the exploded form it replaced).
    * Callers persist it in their `util.Materialize` scope: each reads it
    * 2-3× (self-join sides, verification).
    */
  private def shingleArrs(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spread(df).select(col(idCol).as("id"),
        array_distinct(TextFns.shingles(col(textCol), n)).as("arr"))
      .withColumn("n_sh", size(col("arr")).cast("long"))

  /** Per-doc deduplicated shingle array as `ks: array<struct<k:long,
    * s:string>>`, sorted ascending by (k, s) with k = xxhash64(s) — a pure
    * narrow projection: the shingles derive from the doc row itself, so
    * building the per-doc array through explode + collect_list (an
    * ObjectHashAggregate that falls back to slow sort-based aggregation
    * past 128 groups, plus a full shuffle) is strictly worse than never
    * leaving the row. Docs with no shingles are dropped (they can't pair).
    *
    * The (k, s) struct IS the canonical order (prefix slices come from it)
    * AND the merge key of the verify stage's `SortedIntersectCount` — one
    * sorted representation serves both. The key is cheap codegen'd
    * xxhash64, not portable md5: canonical order never reaches results.
    */
  private def shingleStructs(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    spread(df).select(col(idCol).as("id"),
        sort_array(transform(
          array_distinct(TextFns.shingles(col(textCol), n)),
          s => struct(xxhash64(s).as("k"), s.as("s")))).as("ks"))
      .filter(size(col("ks")) > 0)

  /** Exact n-gram Jaccard similar pairs via inverted-index self-join.
    * Output: id_a < id_b, n_common, jaccard (double), filtered >= threshold.
    * SMALL-CORPUS form — quadratic in hot shingles' document frequency, so
    * it refuses corpora over `maxRows`; the scale paths are
    * `ngramJaccardPairsPrefix` (exact) and `minhashLshPairs` (approx).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxRows: Long = 100000): DataFrame =
      Materialize { m =>
    Similarity.guardSmallSide(df, "ngramJaccardPairs",
      "ngramJaccardPairsPrefix or minhashLshPairs", maxRows)
    // set sizes ride the inverted-index join (every row of a pair's group
    // carries the same n_sh, so min() recovers it exactly) — the separate
    // sizes aggregation and its two equi-joins are gone (round 12: the
    // naive candidate generation is the PROOF and stays; the bookkeeping
    // around it does not have to cost three extra exchanges)
    val arrs = m.persist(shingleArrs(df, idCol, textCol, n))
    val sh = arrs.select(col("id"), col("n_sh"), explode(col("arr")).as("sh"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"),
        min(col("a.n_sh")).as("n_a"), min(col("b.n_sh")).as("n_b"))
    m.result(common
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold))
  }

  def ngramJaccardPairsSql(table: String, idCol: String, textCol: String,
      n: Int, threshold: Double): String =
    s"""WITH sh AS (
       |  SELECT DISTINCT $idCol AS id, unnest(${TextFns.shinglesSql(textCol, n)}) AS sh
       |  FROM $table),
       |sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
       |common AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_common,
       |  CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
       |FROM common JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
       |WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= $threshold""".stripMargin

  /** Directional CONTAINMENT pairs: C(inner → outer) =
    * |shingles(inner) ∩ shingles(outer)| / |shingles(inner)| — the
    * asymmetric companion to Jaccard. A short document pasted whole into a
    * longer one scores containment ≈ 1 while symmetric Jaccard stays low
    * (the union is dominated by the long doc), so Jaccard-threshold dedup
    * never fires; this operator is how quote farms, article+boilerplate
    * wrappers, and dataset-inside-dataset embeddings are actually caught.
    * Output: `(id_inner, id_outer, n_common, containment)`, BOTH directions
    * of each unordered pair evaluated independently, filtered at
    * `containment >= threshold`.
    *
    * SMALL-CORPUS exact form: same inverted-index self-join cost shape as
    * `ngramJaccardPairs` (quadratic in hot shingles), guarded the same way.
    * The scale path is prefix filtering with the one-sided containment
    * bound (only the INNER side's prefix length shrinks — for containment
    * the length filter constrains just |inner|) or bottom-k sketches,
    * whose min-wise estimate is containment-preserving on the inner side.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxRows: Long = 100000): DataFrame =
      Materialize { m =>
    Similarity.guardSmallSide(df, "containmentPairs",
      "a prefix-filtered containment join (one-sided length bound)", maxRows)
    // set sizes ride the inverted-index join (the ngramJaccardPairs
    // round-12 form: no separate sizes aggregation, no size joins)
    val arrs = m.persist(shingleArrs(df, idCol, textCol, n))
    val sh = arrs.select(col("id"), col("n_sh"), explode(col("arr")).as("sh"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"),
        min(col("a.n_sh")).as("n_a"), min(col("b.n_sh")).as("n_b"))
    // a pair can qualify in SOME direction only if n_common >= t·min(|a|,|b|)
    // — prune the (large, every-pair-sharing-one-shingle) relation before
    // widening it. Pruning bound only, so it is loosened by an epsilon
    // (1-ulp hygiene, see ngramJaccardPairsPrefix); the exact per-direction
    // filter below decides membership.
    val Eps = 1e-9
    val sized = common
      .filter(col("n_common").cast("double") >=
        lit(threshold) * least(col("n_a"), col("n_b")).cast("double") - Eps)
    // both directions from ONE pass over the pair relation (a union of two
    // projections would re-run the whole common+sizes chain per branch —
    // the explode is narrow and the pair relation is tiny next to it)
    val bothDirs = sized.select(explode(array(
        struct(col("id_a").as("id_inner"), col("id_b").as("id_outer"),
          col("n_common"),
          (col("n_common").cast("double") / col("n_a").cast("double"))
            .as("containment")),
        struct(col("id_b").as("id_inner"), col("id_a").as("id_outer"),
          col("n_common"),
          (col("n_common").cast("double") / col("n_b").cast("double"))
            .as("containment")))).as("p"))
      .select(col("p.id_inner"), col("p.id_outer"), col("p.n_common"),
        col("p.containment"))
    m.result(bothDirs.filter(col("containment") >= threshold))
  }

  def containmentPairsSql(table: String, idCol: String, textCol: String,
      n: Int, threshold: Double): String =
    s"""WITH sh AS (
       |  SELECT DISTINCT $idCol AS id, unnest(${TextFns.shinglesSql(textCol, n)}) AS sh
       |  FROM $table),
       |sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
       |common AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2),
       |sized AS (
       |  SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
       |  FROM common JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id),
       |both_dirs AS (
       |  SELECT id_a AS id_inner, id_b AS id_outer, n_common,
       |    CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
       |  FROM sized
       |  UNION ALL
       |  SELECT id_b AS id_inner, id_a AS id_outer, n_common,
       |    CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment
       |  FROM sized)
       |SELECT * FROM both_dirs WHERE containment >= $threshold""".stripMargin

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (PPJoin-style): in a
    * global canonical shingle order (md5 of the shingle, which also breaks
    * frequency skew), any two sets with Jaccard >= t must share an element
    * within their first |d| - ceil(t*|d|) + 1 shingles — so only that prefix
    * participates in the inverted-index join, and candidates are verified
    * exactly. Identical output to `ngramJaccardPairs` with a fraction of
    * the candidate pairs (the fraction shrinks as t grows).
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = Materialize { m =>
    // Per-doc shingles in xxhash64-canonical order (see shingleStructs).
    // The prefix-filter theorem admits ANY global total order shared by all
    // docs; a frequency-ascending order (classic PPJoin) was tried and
    // measured at sf1: it cut candidates only 13.2M → 11.2M on this
    // corpus (30-word vocab → near-flat trigram frequencies, no rare
    // shingles to put in prefixes) while costing an extra
    // aggregate+join+regroup over the postings AND making the merge keys
    // of the verify stage tie-heavy. With candidates irreducible, the
    // verify stage is the cost that matters — so the order is optimized
    // for the merge (random 64-bit keys ⇒ ties only on true equality) and
    // the build stays a narrow projection.
    val arrs = m.persist(shingleStructs(df, idCol, textCol, n)
      .withColumn("n_sh", size(col("ks")).cast("long"))
      .withColumn("plen",
        (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int")))
    // PPJoin candidate generation: besides sharing a prefix shingle, a
    // qualifying pair must pass (a) the LENGTH filter — J >= t bounds the
    // size ratio to [t·|a|, |a|/t] — and (b) the POSITIONAL filter: if the
    // shared shingle sits at 1-based positions (pa, pb) of the canonical
    // orders, the overlap can't exceed 1 + min(|a|-pa, |b|-pb), which must
    // reach ceil(t/(1+t)·(|a|+|b|)). Both prune before the distinct, and
    // neither can drop a true pair (their bounds are implied by J >= t via
    // the first shared prefix shingle).
    val prefix = arrs
      .select(col("id"), col("n_sh"),
        posexplode(slice(col("ks"), lit(1), col("plen"))).as(Seq("pos0", "e")))
      .select(col("id"), col("n_sh"), (col("pos0") + 1).cast("long").as("pos"),
        col("e").getField("s").as("sh"))
    // 1-ulp hygiene: these are PRUNING bounds ahead of exact verification,
    // so they may only ever be loosened. When t·(|a|+|b|)/(1+t) is exactly
    // an integer, double rounding can land one ulp above it and ceil would
    // then over-prune a boundary pair — subtract a tiny epsilon before ceil
    // (and widen the length-ratio window the same way).
    val Eps = 1e-9
    val minOverlap = ceil(lit(threshold / (1 + threshold)) *
      (col("a.n_sh") + col("b.n_sh")).cast("double") - Eps)
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
          col("b.n_sh").cast("double") >= col("a.n_sh").cast("double") * threshold - Eps &&
          col("b.n_sh").cast("double") <= col("a.n_sh").cast("double") / threshold + Eps &&
          (lit(1) + least(col("a.n_sh") - col("a.pos"), col("b.n_sh") - col("b.pos")))
            .cast("double") >= minOverlap)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    m.result(verifyPairs(cands, arrs.select(col("id"), col("ks")), threshold))
  }

  /** Exact Jaccard verification of candidate pairs against the per-doc
    * keyed shingle relation (id, ks) from `shingleStructs`: two equi-joins
    * and one `SortedIntersectCount` merge per pair. On dense corpora the
    * candidate set can dwarf the true-pair set (13.2M candidates for 2,569
    * pairs at sf1), making per-pair cost THE scale term of every verified
    * dedup query — the linear merge over the shared (k, s) order replaced
    * `array_intersect`'s per-pair hash-set build and cut d07 24s → (see
    * BASELINE.md) at sf1 while staying exact under hash collisions.
    */
  private def verifyPairs(cands: DataFrame, arrs: DataFrame,
      threshold: Double): DataFrame = {
    // callers persist `arrs` (or derive it from a persisted relation):
    // both join sides read it
    val intersectCount = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.SortedIntersectCount(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("va.ks")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("vb.ks"))))
    cands
      .join(arrs.as("va"), col("id_a") === col("va.id"))
      .join(arrs.as("vb"), col("id_b") === col("vb.id"))
      .select(col("id_a"), col("id_b"),
        intersectCount.cast("long").as("n_common"),
        size(col("va.ks")).cast("long").as("n_a"),
        size(col("vb.ks")).cast("long").as("n_b"))
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Affine minhash family over one md5-derived base hash:
    * h_i(s) = (A_i * base(s) + B_i) mod P, P the smallest prime > 2^32.
    * One md5 per distinct (id, shingle) — NOT numHashes of them — and the
    * signature is a numHashes-column MIN aggregate instead of a numHashes×
    * row explosion (round 1's documented blowup; this form cut the LSH
    * query ~3x). Coefficients come from a fixed-seed java.util.Random (the
    * algorithm is pinned by the Java spec), embedded as literals in both
    * engines.
    */
  private[graft] val MinhashP = 4294967311L

  private[graft] def minhashCoeffs(k: Int): Seq[(Long, Long)] = {
    val r = new java.util.Random(0x5DEECE66DL)
    Seq.fill(k)((r.nextInt((1 << 30) - 1).toLong + 1L, r.nextInt(1 << 30).toLong))
  }

  /** Wide minhash signature relation: (id, m0..m{numHashes-1}).
    *
    * Fully NARROW: the per-doc base-hash array is one projection and each
    * signature column is an `array_min` over an affine transform of it — no
    * explode, no shuffle, no aggregate. (CollapseProject will not inline the
    * `_bases` alias into its numHashes consumers — the expression is
    * non-cheap and multiply referenced — so the md5 work runs once per doc.)
    * Docs with no shingles are dropped, like the exploded form did.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame =
    minhashWide(spread(df), idCol, textCol, n, numHashes)

  /** The signature build WITHOUT the local-scan spread — the shared core
    * for batch (above) and streaming (`StreamingDedup`, where `.rdd`-based
    * spreading is illegal). One definition ⇒ batch and streaming
    * candidates can never silently disagree on hashing.
    */
  private[graft] def minhashWide(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val based = df.select(col(idCol).as("id"),
        transform(array_distinct(TextFns.shingles(col(textCol), n)),
          s => TextFns.md5Hash32(s)).as("_bases"))
      .filter(size(col("_bases")) > 0)
    val mins = minhashCoeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("_bases"),
        x => pmod(x * lit(a) + lit(b), lit(MinhashP)))).as(s"m$i")
    }
    based.select(col("id") +: mins: _*)
  }

  /** `(id, band, sig)` banding of a wide signature relation: each band's
    * signature is the '|'-joined row of its `rowsPerBand` minhash columns.
    */
  private def bandRelation(wide: DataFrame, numBands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandSigs = (0 until numBands).map { j =>
      concat_ws("|", ((j * rowsPerBand) until ((j + 1) * rowsPerBand))
        .map(i => col(s"m$i").cast("string")): _*)
    }
    wide.select(col("id"), posexplode(array(bandSigs: _*)).as(Seq("band", "sig")))
  }

  /** LSH candidate pairs + exact Jaccard verification.
    * numHashes minhashes split into bands of `rowsPerBand`; docs sharing any
    * band signature become candidates; candidates are verified with the
    * exact shingle Jaccard and filtered at `threshold`.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame =
      Materialize { m =>
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand " +
        s"($rowsPerBand) — trailing hashes would be computed but never banded")
    val numBands = numHashes / rowsPerBand
    val wide = minhashSignatures(df, idCol, textCol, n, numHashes)
    val bands = bandRelation(wide, numBands, rowsPerBand)
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // no broadcast hint on cands: it is usually tiny, but on dup-heavy
    // corpora (this operator's target) a hot band bucket emits O(k²) pairs
    // and a forced broadcast would OOM where a shuffle join completes; AQE
    // converts the verification joins to broadcast when the sides are
    // genuinely small.
    val arrs = m.persist(shingleStructs(df, idCol, textCol, n))
    m.result(verifyPairs(cands, arrs, threshold)
      .select(col("id_a"), col("id_b"), col("jaccard")))
  }

  def minhashLshPairsSql(table: String, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): String = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val minCols = minhashCoeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      s"MIN((base * $a + $b) % $MinhashP) AS m$i"
    }.mkString(", ")
    val numBands = numHashes / rowsPerBand
    val bandSelects = (0 until numBands).map { j =>
      val sig = ((j * rowsPerBand) until ((j + 1) * rowsPerBand))
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT id, $j AS band, $sig AS sig FROM mins"
    }.mkString(" UNION ALL ")
    s"""WITH sh AS (
       |  SELECT DISTINCT $idCol AS id, unnest(${TextFns.shinglesSql(textCol, n)}) AS sh
       |  FROM $table),
       |based AS (SELECT id, ${TextFns.md5Hash32Sql("sh")} AS base FROM sh),
       |mins AS (SELECT id, $minCols FROM based GROUP BY id),
       |bands AS ($bandSelects),
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
       |sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
       |common AS (
       |  SELECT id_a, id_b, COUNT(*) AS n_common
       |  FROM cands JOIN sh x ON id_a = x.id
       |  JOIN sh y ON id_b = y.id AND x.sh = y.sh
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
       |FROM common JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
       |WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= $threshold""".stripMargin
  }

  /** INCREMENTAL near-dup detection: which docs of a NEW BATCH are
    * near-duplicates of an EXISTING CORPUS — the operation a daily
    * ingestion pipeline actually runs (dedupe today's crawl against the
    * accumulated corpus) where re-running the full corpus self-join (d04)
    * per batch would rescan everything ever ingested. Output:
    * `(batch_id, corpus_id, jaccard)` for every verified cross pair at
    * `jaccard >= threshold`; batch-internal duplicates are deliberately
    * out of scope (run `dropNearDuplicates` on the batch first, then this
    * against the corpus). Requires disjoint id spaces between the sides.
    *
    * Scale shape: the corpus's signature/band relation is a pure function
    * of the corpus — at production scale it is computed ONCE per corpus
    * version and persisted as a bucketed table keyed by (band, sig)
    * (`util.Layout.writeBucketed`), so the per-batch cost is the batch's
    * own narrow signature build plus one bucket join whose left side is
    * linear in BATCH size — corpus size enters only through matched-bucket
    * occupancy, never as a rescan. Verification touches only candidate
    * ids' shingle rows. No self-join exists on either side.
    */
  def incrementalDupPairs(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, n: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double): DataFrame = Materialize { m =>
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val numBands = numHashes / rowsPerBand
    val cBands = bandRelation(
      minhashSignatures(corpus, idCol, textCol, n, numHashes), numBands, rowsPerBand)
    val bBands = bandRelation(
      minhashSignatures(batch, idCol, textCol, n, numHashes), numBands, rowsPerBand)
    val cands = bBands.as("b")
      .join(cBands.as("c"),
        col("b.band") === col("c.band") && col("b.sig") === col("c.sig"))
      .select(col("b.id").as("id_a"), col("c.id").as("id_b"))
      .distinct()
    // one shingle relation over both sides (ids are disjoint by contract) —
    // verifyPairs reads it for each end of every candidate pair
    val arrs = m.persist(shingleStructs(
      corpus.select(col(idCol), col(textCol))
        .unionByName(batch.select(col(idCol), col(textCol))),
      idCol, textCol, n))
    m.result(verifyPairs(cands, arrs, threshold)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
        col("jaccard")))
  }

  /** Oracle for `incrementalDupPairs`; `corpusRel`/`batchRel` are table
    * names or parenthesized subqueries over the same parquet tables.
    */
  def incrementalDupPairsSql(corpusRel: String, batchRel: String,
      idCol: String, textCol: String, n: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double): String = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val minCols = minhashCoeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      s"MIN((base * $a + $b) % $MinhashP) AS m$i"
    }.mkString(", ")
    val numBands = numHashes / rowsPerBand
    def bandSelects(minsCte: String) = (0 until numBands).map { j =>
      val sig = ((j * rowsPerBand) until ((j + 1) * rowsPerBand))
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT id, $j AS band, $sig AS sig FROM $minsCte"
    }.mkString(" UNION ALL ")
    s"""WITH csh AS (
       |  SELECT DISTINCT $idCol AS id, unnest(${TextFns.shinglesSql(textCol, n)}) AS sh
       |  FROM $corpusRel t),
       |bsh AS (
       |  SELECT DISTINCT $idCol AS id, unnest(${TextFns.shinglesSql(textCol, n)}) AS sh
       |  FROM $batchRel t),
       |cbased AS (SELECT id, ${TextFns.md5Hash32Sql("sh")} AS base FROM csh),
       |bbased AS (SELECT id, ${TextFns.md5Hash32Sql("sh")} AS base FROM bsh),
       |cmins AS (SELECT id, $minCols FROM cbased GROUP BY id),
       |bmins AS (SELECT id, $minCols FROM bbased GROUP BY id),
       |cbands AS (${bandSelects("cmins")}),
       |bbands AS (${bandSelects("bmins")}),
       |cands AS (
       |  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
       |  FROM bbands b JOIN cbands c ON b.band = c.band AND b.sig = c.sig),
       |sizes AS (
       |  SELECT id, COUNT(*) AS n_sh FROM csh GROUP BY id
       |  UNION ALL
       |  SELECT id, COUNT(*) AS n_sh FROM bsh GROUP BY id),
       |common AS (
       |  SELECT batch_id, corpus_id, COUNT(*) AS n_common
       |  FROM cands JOIN bsh x ON batch_id = x.id
       |  JOIN csh y ON corpus_id = y.id AND x.sh = y.sh
       |  GROUP BY 1, 2)
       |SELECT batch_id, corpus_id,
       |  CAST(n_common AS DOUBLE) / CAST(sb.n_sh + sc.n_sh - n_common AS DOUBLE) AS jaccard
       |FROM common JOIN sizes sb ON batch_id = sb.id JOIN sizes sc ON corpus_id = sc.id
       |WHERE CAST(n_common AS DOUBLE) / CAST(sb.n_sh + sc.n_sh - n_common AS DOUBLE) >= $threshold""".stripMargin
  }

  /** The PERSISTED MinHash band index for [[incrementalDupPairsProbe]] —
    * the text-side analog of [[bandIndex64]] (d30 closes the same flaw
    * d29 closed for perceptual signatures): [[incrementalDupPairs]]
    * recomputes and re-SHUFFLES the corpus's minhash band relation on
    * every call — O(corpus) signature work + shuffle per micro-batch in
    * a daily text-ingest loop. This computes the corpus's signatures and
    * bands ONCE into (bk, band, sig, id), where `bk = xxhash64(band, sig)`
    * packs the string band signature into one BIGINT so a single-column
    * bucketed layout co-partitions the probe join. `bk` is ONLY a
    * bucketing/join key — the probe also matches the raw (band, sig), so
    * a 64-bit collision can never fabricate a candidate (and candidates
    * are exact-Jaccard-verified regardless). Land it with
    * `util.Layout.writeBucketed(idx, tbl, "bk", n)`; maintenance is the
    * d31 fold-in pattern: new admitted docs' band rows append and fold in
    * at each compaction cycle, bucket layout preserved.
    */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    bandRelation(minhashSignatures(df, idCol, textCol, n, numHashes),
        numHashes / rowsPerBand, rowsPerBand)
      .select(xxhash64(col("band"), col("sig")).as("bk"),
        col("band"), col("sig"), col("id"))
  }

  /** [[incrementalDupPairs]] against a PRE-BUILT [[minhashBandIndex]]
    * relation (typically a bucketed table): identical output contract
    * (batch_id, corpus_id, jaccard) and identical semantics — candidates
    * from shared band signatures, exact-shingle-Jaccard verification at
    * `threshold` — but the corpus's signatures are never recomputed and
    * its band relation never reshuffled here. Per batch this pays:
    * the BATCH's signature build (batch-linear), a bucket-aligned probe
    * join (only the batch's bands move — the index scan is in-place,
    * zero corpus-side exchanges, spec-asserted), and verification whose
    * corpus side is PRUNED to the candidate ids by a semi-join before
    * any shingle is computed — candidate counts are batch-linear by the
    * banding argument, so AQE broadcasts the id set and the corpus scan
    * stays shuffle-free. `corpus` supplies (idCol, textCol) for exactly
    * that verification read; ids must be unique within each side and
    * disjoint across sides (same contract as [[incrementalDupPairs]]).
    */
  def incrementalDupPairsProbe(index: DataFrame, corpus: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, n: Int,
      numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame =
      Materialize { m =>
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val numBands = numHashes / rowsPerBand
    val bBands = bandRelation(
        minhashSignatures(batch, idCol, textCol, n, numHashes),
        numBands, rowsPerBand)
      .select(xxhash64(col("band"), col("sig")).as("bk"),
        col("band"), col("sig"), col("id").as("id_a"))
    val cands = m.persist(bBands
      .join(index.select(col("bk"), col("band"), col("sig"),
        col("id").as("id_b")), Seq("bk", "band", "sig"))
      .select(col("id_a"), col("id_b"))
      .distinct())
    // verification reads shingles for the batch plus ONLY the corpus docs
    // that appear as candidates (left-semi prune before shingling)
    val prunedCorpus = corpus.join(
      cands.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val arrs = m.persist(shingleStructs(
      prunedCorpus.select(col(idCol), col(textCol))
        .unionByName(batch.select(col(idCol), col(textCol))),
      idCol, textCol, n))
    m.result(verifyPairs(cands, arrs, threshold)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
        col("jaccard")))
  }

  /** The practical corpus-cleaning operator: drop near-duplicates, keeping
    * the lowest-id representative of each duplicate relation. Greedy
    * keep-first (a doc is dropped if it pairs with ANY lower-id doc) — the
    * standard single-pass policy for training-data dedup; exact connected
    * components would need iterative joins for marginal benefit.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val drop = minhashLshPairs(df, idCol, textCol, n, numHashes, rowsPerBand, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** TRANSITIVE duplicate clusters: connected components over the near-dup
    * pair graph (A~B, B~C ⇒ {A,B,C} one cluster even if A,C never paired —
    * what greedy `dropNearDuplicates` approximates). Output: one row per
    * doc, (id, cluster) where cluster = the component's minimum id.
    *
    * Algorithm: min-label propagation to a FIXPOINT — each iteration every
    * node takes the minimum label among itself and its neighbors; converges
    * in O(component diameter) rounds (near-dup components are shallow —
    * LSH pairs are nearly cliques). Each round is one join + one
    * aggregation; the driver only evaluates a scalar convergence count per
    * round, never the data (see [[connectedComponents]] for the rounds'
    * lineage cuts). For graphs with deep chains the standard upgrade is
    * path-doubling / large-star-small-star; for dedup graphs the diameter
    * is small and this plan is simpler and shuffles less per round.
    */
  def dupClusters(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double,
      maxIters: Int = 20): DataFrame = Materialize { m =>
    val pairs = m.persist(
      minhashLshPairs(df, idCol, textCol, n, numHashes, rowsPerBand, threshold)
        .select(col("id_a"), col("id_b")))
    // labels come back materialized, so the pair relation is released on
    // return
    val labels = connectedComponents(pairs, maxIters)
    df.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Connected components over an undirected pair list `(id_a, id_b)`:
    * one row per participating node, `(id, cluster)` with cluster = the
    * component's minimum id. The result is an eagerly materialized
    * local checkpoint (its blocks are context-cleaned once unreferenced).
    *
    * Min-label propagation with POINTER DOUBLING: each round first takes
    * the min label across direct neighbors (one hop), then jumps through
    * the label itself (L(v) := min(L(v), L(L(v)))) — label chains compose,
    * so remaining depth roughly halves per round and a diameter-d
    * component converges in O(log d) rounds instead of O(d). Labels are
    * always ids of participating nodes (seed mins are neighbors), so the
    * jump join is total. Labels only ever decrease and never escape the
    * component, and a (hop+jump) fixpoint is a plain-propagation fixpoint
    * (jump ≤ hop ≤ labels pointwise), i.e. the component minimum — the
    * doubling changes round count, never the result. Per round the driver
    * evaluates one scalar; superseded rounds' checkpoint blocks are left
    * to the context cleaner, and the edge relation is released on return
    * (or on a throw).
    *
    * Iterative-plan hygiene: each round's label relation references the
    * previous one MORE than once (neighbor join + jump self-join), so
    * carrying the logical plan forward would DOUBLE its tree per round —
    * exponential analyzer/optimizer cost long before any data moves. Every
    * round therefore cuts lineage with an eager `localCheckpoint` (cached
    * blocks, no lineage), keeping the per-round plan constant-size.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame =
      Materialize { m =>
    // undirected edge list, both directions; released on return (the
    // labels are materialized by then)
    val edges = m.persist(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // only nodes with at least one edge participate in propagation — on a
    // mostly-unique corpus that's a tiny fraction of the table; singletons
    // are handled by callers (left join + coalesce to own id). Seed with
    // min(own id, direct-neighbor min): round 0 of propagation folded into
    // initialization, one fewer loop round on shallow dup graphs.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(col("id"), min(col("dst"))).as("cluster"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("cluster")).as("_nmin"))
      val hop = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("_nmin"), col("cluster"))).as("cluster"))
        .localCheckpoint(true)
      // pointer jump: follow the new label one more step, L(v) := L(L(v))
      // LAZY checkpoint: the `changed` count below is next's first action
      // and aggregates every partition, so the checkpoint materializes
      // inside the job each round already pays instead of an eager extra
      // one (hop stays eager — the self-join consumes it twice in one job,
      // and a lazy checkpoint read twice before its blocks land would
      // compute it twice)
      val next = hop.as("x")
        .join(hop.select(col("id").as("_lid"), col("cluster").as("_lcl")),
          col("x.cluster") === col("_lid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.cluster"), coalesce(col("_lcl"), col("x.cluster"))).as("cluster"))
        .localCheckpoint(eager = false)
      val changed = next.join(labels.withColumnRenamed("cluster", "_old"), Seq("id"))
        .filter(col("cluster") < col("_old")).count()
      labels = next // superseded checkpoint blocks are context-cleaned
      converged = changed == 0
      iter += 1
    }
    // an exact operator must not silently return a partial fixpoint: with
    // pointer doubling even a diameter-2^20 chain fits the default budget,
    // so hitting this means something is structurally wrong with the input.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not reach the label fixpoint in $maxIters " +
        "pointer-doubling rounds (depth budget ~2^maxIters) — raise maxIters")
    labels
  }

  /** `dupClusters` oracle: reachable-label closure via recursive CTE, then
    * min label per node — the same fixpoint the propagation loop reaches.
    */
  def dupClustersSql(table: String, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashLshPairsSql(table, idCol, textCol, n, numHashes, rowsPerBand, threshold)}
       |),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, label) AS (
       |  SELECT $idCol, $idCol FROM $table
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
       |SELECT id, MIN(label) AS cluster FROM reach GROUP BY id""".stripMargin

  /** LSH-dedup evaluation harness (the d-series twin of e14's ANN recall):
    * band recall and verify precision of the banded-MinHash near-dup
    * detector against exact n-gram Jaccard ground truth at the SAME
    * threshold — how numHashes/rowsPerBand get TUNED before a corpus-wide
    * campaign. Like every exact-oracle twin it is quadratic and guarded:
    * run it on a sample, never the full corpus (the LSH side is the
    * production path). One summary row: pair counts, recall (pairs whose
    * bands collided), precision (1.0 by construction when the candidate
    * verify filter is exact Jaccard — kept as a computed check, not an
    * assumption).
    */
  def lshEval(df: DataFrame, idCol: String, textCol: String, n: Int,
      numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val exact = ngramJaccardPairs(df, idCol, textCol, n, threshold)
    val lsh = minhashLshPairs(df, idCol, textCol, n, numHashes, rowsPerBand,
      threshold)
    val nHit = exact.join(lsh.select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nEx = exact.agg(count(lit(1)).as("n_exact"))
    val nLsh = lsh.agg(count(lit(1)).as("n_lsh"))
    // null, not an ANSI divide-by-zero: a harness run on a sample can
    // legitimately find ZERO truth pairs — report the empty truth set
    // (n_exact = 0, recall null = "sample too sparse, widen it")
    nEx.crossJoin(nLsh).crossJoin(nHit).select(
      col("n_exact"), col("n_lsh"), col("n_hit"),
      when(col("n_exact") > 0,
        col("n_hit").cast("double") / col("n_exact").cast("double"))
        .as("recall"),
      when(col("n_lsh") > 0,
        col("n_hit").cast("double") / col("n_lsh").cast("double"))
        .as("prec"))
  }

  /** `lshEval` oracle: both pair statements as MATERIALIZED CTEs (each is
    * referenced twice), then three scalar counts cross-joined.
    */
  def lshEvalSql(table: String, idCol: String, textCol: String, n: Int,
      numHashes: Int, rowsPerBand: Int, threshold: Double): String =
    s"""WITH ex AS MATERIALIZED (
       |${ngramJaccardPairsSql(table, idCol, textCol, n, threshold)}
       |),
       |lsh AS MATERIALIZED (
       |${minhashLshPairsSql(table, idCol, textCol, n, numHashes, rowsPerBand, threshold)}
       |),
       |h AS (SELECT COUNT(*) AS n_hit FROM ex e
       |  WHERE EXISTS (SELECT 1 FROM lsh l
       |    WHERE l.id_a = e.id_a AND l.id_b = e.id_b)),
       |ne AS (SELECT COUNT(*) AS n_exact FROM ex),
       |nl AS (SELECT COUNT(*) AS n_lsh FROM lsh)
       |SELECT ne.n_exact, nl.n_lsh, h.n_hit,
       |  CASE WHEN ne.n_exact > 0
       |    THEN CAST(h.n_hit AS DOUBLE) / CAST(ne.n_exact AS DOUBLE) END AS recall,
       |  CASE WHEN nl.n_lsh > 0
       |    THEN CAST(h.n_hit AS DOUBLE) / CAST(nl.n_lsh AS DOUBLE) END AS prec
       |FROM ne, nl, h""".stripMargin

  /** SOFT dedup: instead of dropping near-duplicates, downweight them —
    * every doc gets sampling weight 1/|its transitive dup cluster|, so a
    * passage duplicated m times contributes total mass 1 to the training
    * mix regardless of m (the dedup-by-reweighting alternative used when
    * dropping loses wanted coverage; singletons keep weight 1.0).
    *
    * Plan shape: `dupClusters`' label propagation, then ONE hash exchange
    * on the cluster label with a window count over it — the cluster
    * subtree is evaluated once (an agg+join wrap would re-execute the
    * docs⋈labels join under both branches: measured 7 exchanges vs this
    * form's 4). Linear at any corpus size; a pathological mega-cluster
    * skews its window partition exactly as it would skew the groupBy.
    */
  def dupWeights(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val clusters = dupClusters(df, idCol, textCol, n, numHashes, rowsPerBand,
      threshold)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    clusters
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("id").as("doc_id"), col("cluster"), col("cluster_size"),
        (lit(1.0) / col("cluster_size").cast("double")).as("weight"))
  }

  /** `dupWeights` oracle: the cluster fixpoint as a FROM-subquery (DuckDB
    * allows a WITH RECURSIVE chain inside a derived table) — evaluated
    * ONCE, sized with a window count (same values as the engine's
    * agg+join), then the 1.0/size division.
    */
  def dupWeightsSql(table: String, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): String =
    s"""SELECT doc_id, cluster, cluster_size,
       |  CAST(1.0 AS DOUBLE) / CAST(cluster_size AS DOUBLE) AS weight
       |FROM (
       |  SELECT c.id AS doc_id, c.cluster,
       |    COUNT(*) OVER (PARTITION BY c.cluster) AS cluster_size
       |  FROM (
       |${dupClustersSql(table, idCol, textCol, n, numHashes, rowsPerBand, threshold)}
       |  ) c)""".stripMargin

  def dropNearDuplicatesSql(table: String, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): String =
    s"""WITH pairs AS (
       |${minhashLshPairsSql(table, idCol, textCol, n, numHashes, rowsPerBand, threshold)}
       |)
       |SELECT t.$idCol FROM $table t
       |WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id_b = t.$idCol)""".stripMargin

  /** LEAKAGE-SAFE train/valid/test split: the split decision hashes the
    * doc's transitive dup-CLUSTER label instead of its own id, so every
    * member of a near-dup cluster lands on the same side. A hash-by-id
    * split (`Sampling.split`) puts ~20% of each dup cluster's members in
    * eval by construction — near-duplicates of training docs leak into
    * validation/test and inflate eval scores; this is the standard fix.
    * Output: `(id, cluster, split)` for every doc (singletons are their
    * own cluster). Cost = `dupClusters` + one narrow projection; the split
    * stays deterministic and stable under corpus growth except where new
    * edges merge clusters (which is exactly when re-assignment is wanted).
    */
  def clusterSafeSplit(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double,
      trainFrac: Double, validFrac: Double): DataFrame =
    Sampling.splitBy(
      dupClusters(df, idCol, textCol, n, numHashes, rowsPerBand, threshold),
      col("cluster"), trainFrac, validFrac)

  def clusterSafeSplitSql(table: String, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double,
      trainFrac: Double, validFrac: Double): String =
    s"""SELECT id, cluster,
       |${Sampling.splitCaseSql("cluster", trainFrac, validFrac)} AS split
       |FROM (
       |${dupClustersSql(table, idCol, textCol, n, numHashes, rowsPerBand, threshold)}
       |) c""".stripMargin

  /** Quality-aware canonical selection: keep ONE doc per transitive dup
    * cluster — the highest-token-count member (tie: lowest id) — instead
    * of `dropNearDuplicates`' keep-lowest-id policy. When near-duplicates
    * differ by truncation or stripped boilerplate, the most complete
    * variant survives, which is what a training corpus wants. Output: the
    * kept docs' `(id, cluster, n_tokens)`; singleton docs keep themselves.
    * Cost = `dupClusters` + a per-cluster top-1 window (clusters are tiny,
    * so the window never concentrates a partition).
    */
  def keepBestInCluster(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val clusters = dupClusters(df, idCol, textCol, n, numHashes, rowsPerBand, threshold)
    val toks = df.select(col(idCol).as("id"),
      TextFns.tokenCount(col(textCol)).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
      .orderBy(col("n_tokens").desc, col("id").asc)
    clusters.join(toks, Seq("id"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("id"), col("cluster"), col("n_tokens"))
  }

  def keepBestInClusterSql(table: String, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): String =
    s"""SELECT id, cluster, n_tokens FROM (
       |  SELECT c.id, c.cluster, t.n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster
       |      ORDER BY t.n_tokens DESC, c.id ASC) AS rn
       |  FROM (
       |${dupClustersSql(table, idCol, textCol, n, numHashes, rowsPerBand, threshold)}
       |  ) c
       |  JOIN (SELECT $idCol AS id, ${TextFns.tokenCountSql(textCol)} AS n_tokens
       |        FROM $table) t ON c.id = t.id
       |) WHERE rn = 1""".stripMargin

  /** Cross-source duplication matrix: for each ordered source pair, how
    * many near-dup pairs cross it and how many distinct higher-id docs are
    * involved — the provenance signal of a dedup campaign (which feeds
    * plagiarize which; mirrored boilerplate shows up as a hot off-diagonal
    * cell). Composes the LSH pair operator with a metadata join: pair
    * generation is the linear bucketed path, the matrix rollup is one
    * aggregation over the (tiny) pair relation. (source_a, source_b) are
    * the lower-id / higher-id doc's sources respectively.
    */
  def crossSourceDupMatrix(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, n: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n, numHashes, rowsPerBand, threshold)
    val src = df.select(col(idCol).as("id"), col(sourceCol).as("src"))
    pairs
      .join(src.as("sa"), col("id_a") === col("sa.id"))
      .join(src.as("sb"), col("id_b") === col("sb.id"))
      .groupBy(col("sa.src").as("source_a"), col("sb.src").as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("n_dup_docs"))
  }

  def crossSourceDupMatrixSql(table: String, idCol: String, textCol: String,
      sourceCol: String, n: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): String =
    s"""WITH pairs AS (
       |${minhashLshPairsSql(table, idCol, textCol, n, numHashes, rowsPerBand, threshold)}
       |)
       |SELECT sa.$sourceCol AS source_a, sb.$sourceCol AS source_b,
       |  COUNT(*) AS n_pairs, COUNT(DISTINCT id_b) AS n_dup_docs
       |FROM pairs
       |JOIN $table sa ON pairs.id_a = sa.$idCol
       |JOIN $table sb ON pairs.id_b = sb.$idCol
       |GROUP BY 1, 2""".stripMargin

  /** SimHash over whitespace tokens (with multiplicity), `bits` wide
    * (bits <= 32 so the per-bit nibble arithmetic stays portable).
    * Output column is the bit string (MSB-first '0'/'1' chars) so the value
    * is type-stable across engines; equal simhash = near-dup bucket.
    *
    * Per token the first bits/4 hex chars of md5(token) supply the bits;
    * bit b of a token adds +1/-1 to accumulator b; accumulator >= 0 → '1'.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    require(bits % 4 == 0 && bits <= 32, "bits must be a multiple of 4, <= 32")
    val tok = df.select(col(idCol).as("id"),
      explode(TextFns.tokens(col(textCol))).as("t"))
    val h = tok.withColumn("hx", md5(col("t")))
    val hexChars = "0123456789abcdef"
    val bitSums = (0 until bits).map { b =>
      val nibbleIdx = b / 4 // which hex char
      val bitInNibble = 3 - (b % 4) // MSB-first within the nibble
      val nibbleVal = instr(lit(hexChars), substring(col("hx"), nibbleIdx + 1, 1)) - 1
      val bit = shiftright(nibbleVal, bitInNibble) % 2
      sum(bit * 2 - 1).as(s"s$b")
    }
    val sums = h.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val bitStr = concat((0 until bits).map(b =>
      when(col(s"s$b") >= 0, lit("1")).otherwise(lit("0"))): _*)
    sums.select(col("id"), bitStr.as("simhash"))
  }

  def simhashSql(table: String, idCol: String, textCol: String, bits: Int): String = {
    val sums = (0 until bits).map { b =>
      val nibbleIdx = b / 4
      val bitInNibble = 3 - (b % 4)
      val nibbleVal = s"(strpos('0123456789abcdef', substr(hx, ${nibbleIdx + 1}, 1)) - 1)"
      s"SUM((($nibbleVal >> $bitInNibble) % 2) * 2 - 1) AS s$b"
    }
    val bitStr = (0 until bits)
      .map(b => s"CASE WHEN s$b >= 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""WITH tok AS (
       |  SELECT $idCol AS id, unnest(${graft.functions.TextFns.tokensSql(textCol)}) AS t
       |  FROM $table),
       |h AS (SELECT id, md5(t) AS hx FROM tok),
       |sums AS (SELECT id, ${sums.mkString(", ")} FROM h GROUP BY id)
       |SELECT id, $bitStr AS simhash FROM sums""".stripMargin
  }

  /** [[simhash]]'s bit vector folded to ONE integer column (`sh: bigint`,
    * MSB-first, bit b of the string = bit bits-1-b of the integer), the
    * form Hamming arithmetic wants: distance = `bit_count(sh_a XOR sh_b)`,
    * a single codegen'd instruction instead of 32 char compares.
    */
  def simhashInt(df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    require(bits % 4 == 0 && bits <= 32, "bits must be a multiple of 4, <= 32")
    val tok = spread(df).select(col(idCol).as("id"),
      explode(TextFns.tokens(col(textCol))).as("t"))
    val h = tok.withColumn("hx", md5(col("t")))
    val hexChars = "0123456789abcdef"
    val bitSums = (0 until bits).map { b =>
      val nibbleIdx = b / 4
      val bitInNibble = 3 - (b % 4)
      val nibbleVal = instr(lit(hexChars), substring(col("hx"), nibbleIdx + 1, 1)) - 1
      val bit = shiftright(nibbleVal, bitInNibble) % 2
      sum(bit * 2 - 1).as(s"s$b")
    }
    val sums = h.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val shCol = (0 until bits).map(b =>
      when(col(s"s$b") >= 0, lit(1L << (bits - 1 - b))).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("id"), shCol.as("sh"))
  }

  private def simhashIntSql(table: String, idCol: String, textCol: String,
      bits: Int): String = {
    val sums = (0 until bits).map { b =>
      val nibbleIdx = b / 4
      val bitInNibble = 3 - (b % 4)
      val nibbleVal = s"(strpos('0123456789abcdef', substr(hx, ${nibbleIdx + 1}, 1)) - 1)"
      s"SUM((($nibbleVal >> $bitInNibble) % 2) * 2 - 1) AS s$b"
    }
    val fold = (0 until bits).map(b =>
      s"(CASE WHEN s$b >= 0 THEN CAST(${1L << (bits - 1 - b)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT $idCol AS id, unnest(${graft.functions.TextFns.tokensSql(textCol)}) AS t
       |  FROM $table),
       |h AS (SELECT id, md5(t) AS hx FROM tok),
       |sums AS (SELECT id, ${sums.mkString(", ")} FROM h GROUP BY id),
       |sh AS (SELECT id, $fold AS sh FROM sums)""".stripMargin
  }

  /** Hamming near-dup pairs over the integer simhash, found by the
    * PIGEONHOLE band trick (HmSearch / Manku et al.'s simhash sharding):
    * split the `bits`-bit signature into `bands` disjoint chunks; a pair
    * within Hamming radius r differs in at most r bits, which can touch at
    * most r bands, so with `radius < bands` at least one band is IDENTICAL
    * — an exact-match equi-join on (band, chunk value) finds every such
    * pair. The engine therefore runs a linear bucketed join (like MinHash
    * LSH but with a recall GUARANTEE, not a probability), verifies
    * candidates with one `bit_count(xor)`, and provably equals the oracle's
    * brute-force all-pairs scan.
    *
    * Scale shape: explode is `bands` rows per doc; bucket population is
    * corpus/2^(bits/bands) per band value, so at 100 TB you widen the
    * signature (64-bit sh, 16-bit bands — same code path, `bits = 64` only
    * needs the fold to tolerate the sign bit) rather than ever going
    * quadratic. The declared 32/4/3 shape keeps the oracle cheap at sf0.01.
    */
  def simhashHammingPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, bands: Int = 4, radius: Int = 3): DataFrame =
      Materialize { m =>
    require(radius < bands,
      s"pigeonhole exactness needs radius < bands (got radius=$radius, bands=$bands)")
    require(bits % bands == 0, "bands must divide bits")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val sh = m.persist(simhashInt(df, idCol, textCol, bits))
    val bandVals = (0 until bands).map(j =>
      shiftright(col("sh"), j * bandBits).bitwiseAND(lit(mask)))
    val banded = sh.select(col("id"), col("sh"),
      posexplode(array(bandVals: _*)).as(Seq("band", "bv")))
    val cands = banded.select(col("band"), col("bv"),
        col("id").as("id_a"), col("sh").as("sh_a"))
      .join(banded.select(col("band"), col("bv"),
        col("id").as("id_b"), col("sh").as("sh_b")), Seq("band", "bv"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
    val out = cands
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .where(col("hamming") <= radius)
      .select(col("id_a"), col("id_b"), col("hamming"))
    m.result(out)
  }

  /** Brute-force oracle: all pairs, `bit_count(xor)` ≤ radius. Equal to the
    * engine's banded path whenever radius < bands (pigeonhole, above).
    */
  def simhashHammingPairsSql(table: String, idCol: String, textCol: String,
      bits: Int = 32, bands: Int = 4, radius: Int = 3): String = {
    require(radius < bands && bits % bands == 0)
    s"""WITH ${simhashIntSql(table, idCol, textCol, bits)}
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
       |FROM sh a JOIN sh b ON a.id < b.id
       |WHERE bit_count(xor(a.sh, b.sh)) <= $radius""".stripMargin
  }

  /** [[simhashHammingPairs]]' pigeonhole band join GENERALIZED to any
    * precomputed 64-bit signature carried as two non-negative 32-bit
    * halves (`hiCol` = bits 0..31 MSB-first, `loCol` = bits 32..63 — the
    * `plans.DHashBmp` layout, which keeps every shift and XOR inside
    * BIGINT range in both engines with no sign-bit cases). This is the
    * image/audio-fingerprint near-dup entry point: the signature producer
    * (dHash, audio energy fingerprint, a 64-bit simhash) is decoupled
    * from the blocking, which is pure Hamming-space machinery.
    *
    * Exactness: identical pigeonhole argument — a pair within Hamming
    * radius r < bands differs in at most r of the `bands` disjoint chunks,
    * so at least one chunk matches exactly and the equi-join on
    * (band, chunk value) finds every such pair; one `bit_count(xor)` per
    * half verifies. Requires 64 % bands == 0 and a chunk width dividing 32
    * so no chunk straddles the hi/lo split.
    *
    * Scale: explode is `bands` rows per item; bucket population is
    * corpus/2^(64/bands) per band value — with 16-bit chunks a 10^9-image
    * corpus averages ~15k per bucket, a linear bucketed join. Null
    * signatures (quarantined undecodables) are dropped up front.
    *
    * CONTRACT: `idCol` values must be unique and non-null — a duplicated
    * id survives the band equi-join and the pair `distinct()` as a merged
    * identity, silently producing spurious pairs. Checked loudly here
    * (count vs distinct count over the already-persisted signature frame,
    * two cheap jobs on cached data); [[hammingPairs64Batch]] documents the
    * same contract but leaves enforcement to the caller — it runs inside
    * per-micro-batch streaming loops where two extra jobs per batch are
    * not free.
    */
  def hammingPairs64(sig: DataFrame, idCol: String, hiCol: String,
      loCol: String, bands: Int = 4, radius: Int = 3,
      checkIds: Boolean = true): DataFrame = Materialize { m =>
    require(radius < bands,
      s"pigeonhole exactness needs radius < bands (got radius=$radius, bands=$bands)")
    require(64 % bands == 0 && 32 % (64 / bands) == 0,
      s"bands=$bands must cut 64 bits into chunks that divide 32 (no hi/lo straddle)")
    val bandBits = 64 / bands
    val mask = (1L << bandBits) - 1
    val perHalf = 32 / bandBits
    val s = m.persist(sig.filter(col(hiCol).isNotNull && col(loCol).isNotNull)
      .select(col(idCol).as("id"), col(hiCol).as("hi"), col(loCol).as("lo")))
    // `checkIds = false` (ADVICE r9): the two guard jobs are cheap on
    // cached data but NOT free inside timed regions — per-micro-batch
    // streaming dedup and the scale-bench self-join samples turn them off
    // (their id uniqueness is structural: stream natural keys, generated
    // sequences) so measured shapes stay comparable across rounds.
    if (checkIds) {
      val cnt = s.count()
      val dcnt = s.agg(count_distinct(col("id"))).collect()(0).getLong(0)
      require(cnt == dcnt,
        s"hammingPairs64 ids must be unique and non-null: $cnt rows carry " +
          s"$dcnt distinct '$idCol' values — duplicated ids would merge " +
          "identities and fabricate pairs")
    }
    // chunk j of the 64-bit signature, MSB-first within each half
    val bandVals = (0 until bands).map { j =>
      val half = if (j < perHalf) col("hi") else col("lo")
      val shift = 32 - bandBits * ((j % perHalf) + 1)
      shiftright(half, shift).bitwiseAND(lit(mask))
    }
    val banded = s.select(col("id"), col("hi"), col("lo"),
      posexplode(array(bandVals: _*)).as(Seq("band", "bv")))
    val cands = banded.select(col("band"), col("bv"), col("id").as("id_a"),
        col("hi").as("hi_a"), col("lo").as("lo_a"))
      .join(banded.select(col("band"), col("bv"), col("id").as("id_b"),
        col("hi").as("hi_b"), col("lo").as("lo_b")), Seq("band", "bv"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("hi_a"), col("lo_a"),
        col("hi_b"), col("lo_b"))
      .distinct()
    val out = cands
      .withColumn("hamming",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("int"))
      .where(col("hamming") <= radius)
      .select(col("id_a"), col("id_b"), col("hamming"))
    m.result(out)
  }

  /** INCREMENTAL [[hammingPairs64]] — the d12 daily-ingest shape for
    * perceptual signatures: each NEW batch item's bands join the
    * precomputed CORPUS band index (no self-join on either side), so
    * per-batch cost is linear in the batch and the corpus signatures are
    * computed once and reused across ingests. Same pigeonhole exactness:
    * radius < bands guarantees every (batch, corpus) pair within the
    * radius shares an identical band. Output one row per such pair
    * (id_new, id_corpus, hamming); a batch item with no row is NOVEL —
    * the admit/reject signal. Null signatures drop on both sides.
    *
    * CONTRACT (same as [[hammingPairs64]]): ids must be unique and
    * non-null WITHIN each side — a duplicated id merges identities and
    * fabricates pairs. Not enforced here (this runs per micro-batch in
    * streaming ingest, where two extra count jobs per batch are real
    * cost); the batch side is typically keyed by the ingest's natural key
    * and the corpus index is built once by a path that already dedups.
    */
  def hammingPairs64Batch(corpusSig: DataFrame, batchSig: DataFrame,
      idCol: String, hiCol: String, loCol: String, bands: Int = 4,
      radius: Int = 3): DataFrame = {
    require(radius < bands,
      s"pigeonhole exactness needs radius < bands (got radius=$radius, bands=$bands)")
    require(64 % bands == 0 && 32 % (64 / bands) == 0,
      s"bands=$bands must cut 64 bits into chunks that divide 32 (no hi/lo straddle)")
    def banded(df: DataFrame, tag: String): DataFrame = {
      val bandBits = 64 / bands
      val mask = (1L << bandBits) - 1
      val perHalf = 32 / bandBits
      val bandVals = (0 until bands).map { j =>
        val half = if (j < perHalf) col("hi") else col("lo")
        shiftright(half, 32 - bandBits * ((j % perHalf) + 1)).bitwiseAND(lit(mask))
      }
      df.filter(col(hiCol).isNotNull && col(loCol).isNotNull)
        .select(col(idCol).as(s"id_$tag"), col(hiCol).as("hi"), col(loCol).as("lo"))
        .select(col(s"id_$tag"), col("hi").as(s"hi_$tag"), col("lo").as(s"lo_$tag"),
          posexplode(array(bandVals: _*)).as(Seq("band", "bv")))
    }
    banded(batchSig, "new")
      .join(banded(corpusSig, "corpus"), Seq("band", "bv"))
      .select(col("id_new"), col("id_corpus"),
        col("hi_new"), col("lo_new"), col("hi_corpus"), col("lo_corpus"))
      .distinct()
      .withColumn("hamming",
        (bit_count(col("hi_new").bitwiseXOR(col("hi_corpus"))) +
          bit_count(col("lo_new").bitwiseXOR(col("lo_corpus")))).cast("int"))
      .where(col("hamming") <= radius)
      .select(col("id_new"), col("id_corpus"), col("hamming"))
  }

  /** The PERSISTED corpus band index for [[hammingPairs64Probe]] —
    * what makes the daily admit shape truly batch-linear. [[hammingPairs64Batch]]
    * re-explodes and re-SHUFFLES the corpus side on every call: fine for
    * one-off jobs, O(corpus) shuffle per micro-batch in an ingest loop.
    * This explodes the corpus ONCE into (bk, id, hi, lo) — bk packs
    * (band, chunk value) into one BIGINT so a single-column bucketed
    * layout co-partitions the equi-join — for the caller to land as a
    * bucketed table (`util.Layout.writeBucketed(idx, tbl, "bk", n)`).
    * Per-batch probes then shuffle ONLY the batch's bands; the index is
    * scanned in place, bucket-aligned, zero exchanges on the corpus side
    * (spec-asserted). Incremental maintenance is the m12 pattern:
    * admitted signatures append under their ingest_batch partition and
    * fold into the next index build/compaction cycle.
    */
  def bandIndex64(sig: DataFrame, idCol: String, hiCol: String,
      loCol: String, bands: Int = 4): DataFrame = {
    require(64 % bands == 0 && 32 % (64 / bands) == 0,
      s"bands=$bands must cut 64 bits into chunks that divide 32 (no hi/lo straddle)")
    val bandBits = 64 / bands
    val mask = (1L << bandBits) - 1
    val perHalf = 32 / bandBits
    val bandVals = (0 until bands).map { j =>
      val half = if (j < perHalf) col(hiCol) else col(loCol)
      shiftright(half, 32 - bandBits * ((j % perHalf) + 1)).bitwiseAND(lit(mask))
    }
    sig.filter(col(hiCol).isNotNull && col(loCol).isNotNull)
      .select(col(idCol).as("id"), col(hiCol).as("hi"), col(loCol).as("lo"),
        posexplode(array(bandVals: _*)).as(Seq("band", "bv")))
      .select((col("band").cast("long") * lit(1L << bandBits) + col("bv")).as("bk"),
        col("id"), col("hi"), col("lo"))
  }

  /** [[hammingPairs64Batch]] against a PRE-BUILT [[bandIndex64]] relation
    * (typically a bucketed table): identical output contract
    * (id_new, id_corpus, hamming), identical pigeonhole exactness, but
    * the corpus side is never exploded or shuffled here — only the
    * batch's bands move. Same id contract as [[hammingPairs64Batch]]:
    * unique non-null ids within each side, enforced by the caller (the
    * index build is the natural place to dedup the corpus once).
    */
  def hammingPairs64Probe(index: DataFrame, batchSig: DataFrame,
      idCol: String, hiCol: String, loCol: String, bands: Int = 4,
      radius: Int = 3): DataFrame = {
    require(radius < bands,
      s"pigeonhole exactness needs radius < bands (got radius=$radius, bands=$bands)")
    val batchBands = bandIndex64(batchSig, idCol, hiCol, loCol, bands)
      .select(col("bk"), col("id").as("id_new"),
        col("hi").as("hi_new"), col("lo").as("lo_new"))
    batchBands
      .join(index.select(col("bk"), col("id").as("id_corpus"),
        col("hi").as("hi_corpus"), col("lo").as("lo_corpus")), Seq("bk"))
      .select(col("id_new"), col("id_corpus"),
        col("hi_new"), col("lo_new"), col("hi_corpus"), col("lo_corpus"))
      .distinct()
      .withColumn("hamming",
        (bit_count(col("hi_new").bitwiseXOR(col("hi_corpus"))) +
          bit_count(col("lo_new").bitwiseXOR(col("lo_corpus")))).cast("int"))
      .where(col("hamming") <= radius)
      .select(col("id_new"), col("id_corpus"), col("hamming"))
  }

  /** [[hammingPairs64Batch]] oracle fragment: brute-force cross scan of
    * `batchRel(id, hi, lo)` against `corpusRel(id, hi, lo)`.
    */
  def hammingPairs64BatchSql(batchRel: String, corpusRel: String,
      bands: Int = 4, radius: Int = 3): String = {
    require(radius < bands && 64 % bands == 0 && 32 % (64 / bands) == 0)
    s"""SELECT b.id AS id_new, c.id AS id_corpus,
       |  CAST(bit_count(xor(b.hi, c.hi)) + bit_count(xor(b.lo, c.lo)) AS INTEGER) AS hamming
       |FROM ($batchRel) b JOIN ($corpusRel) c
       |  ON bit_count(xor(b.hi, c.hi)) + bit_count(xor(b.lo, c.lo)) <= $radius""".stripMargin
  }

  /** [[hammingPairs64]] oracle fragment: brute-force all-pairs scan over a
    * relation `sigRel(id, hi, lo)` — equal to the banded path whenever
    * radius < bands (pigeonhole).
    */
  def hammingPairs64Sql(sigRel: String, bands: Int = 4, radius: Int = 3): String = {
    require(radius < bands && 64 % bands == 0 && 32 % (64 / bands) == 0)
    s"""SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
       |FROM ($sigRel) a JOIN ($sigRel) b ON a.id < b.id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $radius""".stripMargin
  }
}
