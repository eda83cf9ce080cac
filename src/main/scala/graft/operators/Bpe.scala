package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFns

/** Byte-pair-encoding merge training INSIDE the engine — the tokenizer-
  * construction pass of an LLM data pipeline.
  *
  * Classic BPE over word types: every distinct word (whitespace token)
  * starts as its character sequence; each step counts adjacent symbol
  * pairs across the corpus weighted by word frequency (overlapping
  * occurrences counted, the standard convention), merges the most frequent
  * pair everywhere (greedy left-to-right within each word), and records
  * it. Ties break on (left, right) in UTF-8 byte order — the string order
  * of Spark and DuckDB — so the merge table is a pure function of the
  * corpus.
  *
  * Scale shape: the corpus-sized part is distributed — explode the tokens
  * and count each word TYPE. That |vocab|-row relation goes through one
  * shuffle into a single partition, and one task runs all the merge steps
  * in memory (step k's counts depend on step k-1's rewrite, so the steps
  * are sequential anyway): one action and a fixed job count for any number
  * of steps, not a planned aggregation plus a driver round trip per step
  * (t26's count: 3 jobs, was 23 for 10 steps). Memory
  * bound: the one task holds the whole word-type relation and one step's
  * pair counts. Each step recounts every pair; production BPE at 50k
  * merges adds a pair-count delta index (recount only the words holding
  * the merged pair).
  */
object Bpe {

  /** Greedy left-to-right merge of adjacent (a, b) into a single symbol:
    * overlapping matches resolve like a sequential scan ("aaa" + (a,a) →
    * ["aa", "a"]).
    */
  def mergePair(syms: Seq[String], a: String, b: String): IndexedSeq[String] = {
    val s = syms.toIndexedSeq
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += a + b; i += 2 }
      else { out += s(i); i += 1 }
    }
    out.result()
  }

  /** The word-type relation (w, freq, syms) a merge chain starts from. */
  private[graft] def wordTypes(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("w"), ""))

  /** One row of the training task: a merge (`step` >= 1) or a trained
    * word (`step` = 0).
    */
  private[graft] final case class Trained(step: Int, left_sym: String,
      right_sym: String, pair_count: Long, w: String, freq: Long,
      syms: Seq[String])

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Pair-count rank: count desc, then left and right ascending in UTF-8
    * byte order — `String.compareTo`'s UTF-16 order differs above U+FFFF.
    */
  private val Rank: Ordering[((String, String), Long)] = (x, y) => {
    val c = java.lang.Long.compare(y._2, x._2)
    if (c != 0) c
    else {
      val l = utf8(x._1._1).binaryCompare(utf8(y._1._1))
      if (l != 0) l else utf8(x._1._2).binaryCompare(utf8(y._1._2))
    }
  }

  /** The whole training loop over one partition of word types: the merge
    * rows in step order, then the trained words.
    */
  private def train(words: Iterator[(String, Long, Seq[String])],
      steps: Int): Iterator[Trained] = {
    var ws = words.map { case (w, f, s) => (w, f, s.toIndexedSeq) }.toVector
    val merges = Vector.newBuilder[Trained]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      for ((_, f, s) <- ws; i <- 0 until s.length - 1) {
        val p = (s(i), s(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + f
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), n) = counts.min(Rank)
        merges += Trained(step, a, b, n, null, 0L, null)
        ws = ws.map { case (w, f, s) => (w, f, mergePair(s, a, b)) }
        step += 1
      }
    }
    (merges.result() ++ ws.map { case (w, f, s) =>
      Trained(0, null, null, 0L, w, f, s) }).iterator
  }

  /** Train `steps` merges; returns (step, left_sym, right_sym, pair_count),
    * the merge table in training order.
    */
  def trainMerges(df: DataFrame, textCol: String, steps: Int): DataFrame =
    trainState(df, textCol, steps)._1

  /** The merge table and the trained word-type segmentation (w, freq,
    * syms): two projections of ONE training task, so reading both runs
    * the task twice.
    */
  def trainState(df: DataFrame, textCol: String,
      steps: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val trained = wordTypes(df, textCol).repartition(1)
      .as[(String, Long, Seq[String])].mapPartitions(train(_, steps))
    (trained.filter(col("step") > 0)
      .select("step", "left_sym", "right_sym", "pair_count"),
     trained.filter(col("step") === 0).select("w", "freq", "syms"))
  }

  /** Per-document BPE token counts under the corpus's own trained merge
    * table — the tokenizer APPLY pass. Encoding reuses the trained
    * word-TYPE segmentation (`trainState`'s second return): each distinct
    * word is segmented exactly once, and per-occurrence cost is a hash
    * join on the word — at 100 TB the vocabulary relation is millions of
    * rows (shuffle-joinable, AQE broadcasts when small) while the corpus
    * itself only explodes to (doc, word) and re-aggregates, never
    * re-running the merge per occurrence.
    */
  def encodeCounts(df: DataFrame, idCol: String, textCol: String,
      steps: Int): DataFrame = {
    val (_, syms) = trainState(df, textCol, steps)
    val enc = syms.select(col("w"), size(col("syms")).as("n_sub"),
      length(col("w")).as("n_chars"))
    df.select(col(idCol), explode(TextFns.tokens(col(textCol))).as("w"))
      .join(enc, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars")).as("n_word_chars"),
        sum(col("n_sub")).as("n_bpe_tokens"))
  }

  /** DuckDB replay of `trainMerges`: `steps` chained stages, each counting
    * pairs, picking the (cnt DESC, a, b) top, and rewriting the
    * segmentation with the SAME greedy left-to-right semantics — expressed
    * as gaps-and-islands over match positions (within a run of consecutive
    * matches, even offsets merge; the position after a merge is skipped).
    * `chainSql` is the shared CTE chain; `wt$steps` is the trained
    * word-type segmentation it ends on.
    */
  private def chainSql(table: String, textCol: String, steps: Int): String = {
    val toks = TextFns.tokensSql(textCol)
    val base =
      s"""wt0 AS MATERIALIZED (
         |  SELECT w, COUNT(*) AS freq, string_split(w, '') AS syms
         |  FROM (SELECT unnest($toks) AS w FROM $table) GROUP BY w)""".stripMargin
    val stages = (1 to steps).map { k =>
      val p = k - 1
      s"""pc$k AS (
         |  SELECT syms[i + 1] AS a, syms[i + 2] AS b, SUM(freq) AS cnt
         |  FROM wt$p, unnest(range(0, GREATEST(len(syms) - 1, 0))) AS t(i)
         |  GROUP BY 1, 2),
         |top$k AS MATERIALIZED (
         |  SELECT $k AS step, a, b, cnt FROM pc$k
         |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |pos$k AS (
         |  SELECT wt.w, wt.freq, t.i, wt.syms[t.i + 1] AS s,
         |    (wt.syms[t.i + 1] = tp.a AND wt.syms[t.i + 2] = tp.b) AS m
         |  FROM wt$p wt CROSS JOIN top$k tp,
         |    unnest(range(0, len(wt.syms))) AS t(i)),
         |isl$k AS (
         |  SELECT w, freq, i, s, m,
         |    CASE WHEN m THEN i - ROW_NUMBER() OVER (PARTITION BY w, m
         |      ORDER BY i) END AS island
         |  FROM pos$k),
         |sel$k AS (
         |  SELECT w, freq, i, s, m, island,
         |    m AND ((i - MIN(i) OVER (PARTITION BY w, island)) % 2 = 0) AS sel
         |  FROM isl$k),
         |nw$k AS (
         |  SELECT w, freq, i, s, sel,
         |    COALESCE(LAG(sel) OVER (PARTITION BY w ORDER BY i), FALSE) AS drop_me
         |  FROM sel$k),
         |wt$k AS MATERIALIZED (
         |  SELECT w, ANY_VALUE(freq) AS freq,
         |    list(CASE WHEN sel THEN (SELECT a FROM top$k) ||
         |        (SELECT b FROM top$k) ELSE s END ORDER BY i)
         |      FILTER (WHERE NOT COALESCE(drop_me, FALSE)) AS syms
         |  FROM nw$k GROUP BY w)""".stripMargin
    }
    s"""$base,
       |${stages.mkString(",\n")}""".stripMargin
  }

  def trainMergesSql(table: String, textCol: String, steps: Int): String = {
    val tops = (1 to steps).map(k => s"SELECT * FROM top$k").mkString("\nUNION ALL\n")
    s"""WITH ${chainSql(table, textCol, steps)}
       |SELECT CAST(step AS INT) AS step, a AS left_sym, b AS right_sym,
       |  CAST(cnt AS BIGINT) AS pair_count
       |FROM ($tops)
       |ORDER BY step""".stripMargin
  }

  /** DuckDB replay of `encodeCounts`: the same training chain, then each
    * document's words joined to the trained segmentation.
    */
  def encodeCountsSql(table: String, idCol: String, textCol: String,
      steps: Int): String =
    s"""WITH ${chainSql(table, textCol, steps)},
       |words AS (
       |  SELECT $idCol, unnest(${TextFns.tokensSql(textCol)}) AS w FROM $table)
       |SELECT $idCol, COUNT(*) AS n_words,
       |  CAST(SUM(length(w)) AS BIGINT) AS n_word_chars,
       |  CAST(SUM(len(syms)) AS BIGINT) AS n_bpe_tokens
       |FROM words JOIN wt$steps USING (w)
       |GROUP BY $idCol""".stripMargin
}
