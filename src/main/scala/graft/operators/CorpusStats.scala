package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.util.Materialize

/** Corpus-relative statistics for training-data curation: signals that
  * need a global pass over the corpus (unlike the per-row TextFns), but
  * stay linear — one explode, one or two hash aggregations, one join on
  * the n-gram key. Both operators below shuffle on the n-gram/token,
  * which is the high-cardinality (well-spread) key, never on all-pairs.
  */
object CorpusStats {

  /** Corpus-frequency scoring of each document's word bigrams — the
    * cheap stand-in for LM-perplexity quality filtering (CCNet-style):
    * text whose n-grams are corpus-rare is unusual (potentially noisy),
    * text whose n-grams are all corpus-common is templated boilerplate.
    * Per doc: `n_bigrams` (occurrences, with multiplicity), `n_rare`
    * (occurrences whose corpus-wide count < `minCount`) and
    * `avg_bg_freq` (mean corpus count of the doc's bigrams). All-integer
    * aggregation; the one division produces the double at the end, so
    * results are engine-exact. Docs with fewer than 2 tokens have no
    * bigrams and are excluded (no denominator).
    *
    * Scale: explode is narrow; frequency is one map-side-combined hash
    * agg on the bigram; the join back is bigram-keyed (same key ⇒
    * exchange reuse); the per-doc rollup shuffles one row per (doc,
    * distinct-bigram). Nothing driver-side, nothing quadratic.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
      minCount: Long): DataFrame = {
    val bg = df.select(col(idCol).as("id"),
      explode(TextFns.shingles(col(textCol), 2)).as("g"))
    val freq = bg.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    bg.join(freq, Seq("g"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(when(col("cnt") < minCount, 1)).as("n_rare"),
        (sum(col("cnt")).cast("double") / count(lit(1))).as("avg_bg_freq"))
  }

  def bigramLmScoreSql(table: String, idCol: String, textCol: String,
      minCount: Long): String =
    s"""WITH bg AS (
       |  SELECT $idCol AS id, unnest(${TextFns.shinglesSql(textCol, 2)}) AS g
       |  FROM $table),
       |freq AS (SELECT g, COUNT(*) AS cnt FROM bg GROUP BY g)
       |SELECT id, COUNT(*) AS n_bigrams,
       |  COUNT(CASE WHEN cnt < $minCount THEN 1 END) AS n_rare,
       |  CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_bg_freq
       |FROM bg JOIN freq USING (g)
       |GROUP BY id""".stripMargin

  /** Cross-source vocabulary overlap: for every unordered source pair,
    * the EXACT number of distinct tokens both sources use, each side's
    * vocabulary size, and the vocabulary Jaccard — the corpus-mixing
    * diagnostic (two "different" sources sharing 95% vocabulary are one
    * source twice; a source sharing almost nothing is likely a different
    * language or format). Complements d11's doc-level dup matrix at the
    * vocabulary level. Pairs sharing NO token are absent from the output
    * (nothing joins), which is itself the signal.
    *
    * Scale: the self-join is on the TOKEN (high-cardinality, well
    * spread) of the distinct (source, token) relation, whose size is
    * bounded by sources × vocabulary — NOT by corpus rows; per-token
    * work is |sources-using-it|², bounded by the (small) source count
    * squared, never by document count. At a very large source count the
    * sketch path is per-source KMV bottom-k summaries (`BottomKSketch`)
    * merged pairwise.
    */
  def sourceVocabOverlap(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame = Materialize { m =>
    val st = m.persist(df.select(col(sourceCol).as("src"),
        explode(TextFns.tokens(col(textCol))).as("t"))
      .distinct())
    val vocab = st.groupBy(col("src")).agg(count(lit(1)).as("n_vocab"))
    val shared = st.as("a")
      .join(st.as("b"), col("a.t") === col("b.t") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    m.result(shared
      .join(vocab.as("va"), col("source_a") === col("va.src"))
      .join(vocab.as("vb"), col("source_b") === col("vb.src"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("va.n_vocab").as("n_vocab_a"), col("vb.n_vocab").as("n_vocab_b"),
        (col("n_shared").cast("double") /
          (col("va.n_vocab") + col("vb.n_vocab") - col("n_shared")).cast("double"))
          .as("vocab_jaccard")))
  }

  def sourceVocabOverlapSql(table: String, sourceCol: String,
      textCol: String): String =
    s"""WITH st AS (
       |  SELECT DISTINCT $sourceCol AS src, unnest(${TextFns.tokensSql(textCol)}) AS t
       |  FROM $table),
       |vocab AS (SELECT src, COUNT(*) AS n_vocab FROM st GROUP BY src),
       |shared AS (
       |  SELECT a.src AS source_a, b.src AS source_b, COUNT(*) AS n_shared
       |  FROM st a JOIN st b ON a.t = b.t AND a.src < b.src
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_shared,
       |  va.n_vocab AS n_vocab_a, vb.n_vocab AS n_vocab_b,
       |  CAST(n_shared AS DOUBLE) /
       |    CAST(va.n_vocab + vb.n_vocab - n_shared AS DOUBLE) AS vocab_jaccard
       |FROM shared
       |JOIN vocab va ON source_a = va.src
       |JOIN vocab vb ON source_b = vb.src""".stripMargin
}
