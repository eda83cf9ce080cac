package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.util.Materialize

/** Byte-pair-encoding merge training INSIDE the engine — the tokenizer-
  * construction pass of an LLM data pipeline run as a distributed
  * aggregation loop instead of a single-node script.
  *
  * Classic BPE over word types: every distinct word (whitespace token)
  * starts as its character sequence; each step counts adjacent symbol
  * pairs across the corpus weighted by word frequency (overlapping
  * occurrences counted, the standard convention), merges the most frequent
  * pair everywhere (greedy left-to-right within each word), and records
  * it. Ties break lexicographically on (left, right) so the merge table is
  * a pure function of the corpus.
  *
  * Scale shape: the loop body is ONE aggregation over the word-TYPE
  * relation (|vocab| rows — millions at web scale, never corpus-sized)
  * plus a 1-row driver round trip per step (the same iteration shape as
  * KMeans/MLlib); the merge rewrite is a narrow higher-order-function
  * projection, zero shuffle. Per-step `localCheckpoint` cuts the growing
  * lineage. Production BPE at 50k merges adds the pair-count delta cache
  * (only pairs touching a merged symbol change); this direct form is the
  * oracle-replayable reference.
  */
object Bpe {

  /** Greedy left-to-right merge of adjacent (a, b) into a single symbol —
    * a fold carrying (prev, out): overlapping matches resolve exactly like
    * the sequential scan ("aaa" + (a,a) → ["aa", "a"]).
    */
  def mergePair(c: Column, a: String, b: String): Column = {
    val init = struct(lit(null).cast("string").as("prev"),
      array().cast("array<string>").as("out"))
    aggregate(
      c, init,
      (acc, s) => {
        val prev = acc.getField("prev")
        val out = acc.getField("out")
        when(prev.isNull, struct(s.as("prev"), out.as("out")))
          .when(prev === lit(a) && s === lit(b),
            struct(lit(null).cast("string").as("prev"),
              concat(out, array(lit(a + b))).as("out")))
          .otherwise(struct(s.as("prev"), concat(out, array(prev)).as("out")))
      },
      acc => when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("prev")))))
  }

  /** The word-type relation (w, freq, syms) a merge chain starts from. */
  private def wordTypes(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("w"), ""))

  /** Adjacent-pair counts of the current segmentation, frequency-weighted. */
  private def pairCounts(syms: DataFrame): DataFrame =
    syms.filter(size(col("syms")) >= 2)
      .select(col("freq"),
        explode(sequence(lit(0), size(col("syms")) - 2)).as("i"),
        col("syms"))
      .select(col("freq"),
        element_at(col("syms"), col("i") + 1).as("a"),
        element_at(col("syms"), col("i") + 2).as("b"))
      .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("cnt"))

  /** Train `steps` merges; returns (step, left, right, pair_count) — the
    * merge table in training order, plus the trained word-type relation
    * for callers that want to encode with it (`trainState`).
    */
  def trainMerges(df: DataFrame, textCol: String, steps: Int): DataFrame =
    trainState(df, textCol, steps)._1

  def trainState(df: DataFrame, textCol: String,
      steps: Int): (DataFrame, DataFrame) = Materialize { m =>
    val spark = df.sparkSession
    import spark.implicits._
    // Round-12 A/B, examined and left alone: the loop runs 2 jobs/step
    // under AQE (shuffle stage + result) — scoping AQE OFF for the loop
    // halves the jobs (23→12 for t26) but un-coalesces each step's
    // pair-counts shuffle to the session's full partition count
    // (tasks 32→652, wall 2.35→2.73 s at sf0.1): AQE's extra per-step job
    // is cheaper than the tiny-task storm it prevents, locally and on a
    // cluster alike. The 10 sequential driver round trips are the
    // algorithm's inherent depth (step k's counts depend on step k-1's
    // rewrite); the encode side is already a single hash join on the
    // trained word types, not a per-rule join chain.
    // LAZY checkpoints: each step needs syms materialized anyway to pick
    // its top pair, so let THAT collect do the materialization instead of
    // paying a second job per step for an eager checkpoint (measured:
    // 2 jobs/step -> 1, t26/t31 ~25-30% faster; the lineage truncation is
    // identical). The previous step goes to the scope (released on return)
    // only AFTER the collect has materialized the current step (a lazy
    // checkpoint still reads its parent on first compute — releasing the
    // parent first would fail on the dropped blocks).
    var syms = wordTypes(df, textCol).localCheckpoint(eager = false)
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val top = pairCounts(syms)
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (prev != null) m.adopt(prev)
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step, a, b, cnt))
        val next = syms.withColumn("syms", mergePair(col("syms"), a, b))
          .localCheckpoint(eager = false)
        prev = syms
        syms = next
        step += 1
      }
    }
    // the final state is handed back lazy; the caller's first action
    // (encode join / merge-table display) materializes it once. Neither it
    // nor an un-adopted `prev` is released here — the returned frame still
    // depends on them until that first action runs.
    (merges.toSeq.toDF("step", "left_sym", "right_sym", "pair_count"), syms)
  }

  /** Per-document BPE token counts under the corpus's own trained merge
    * table — the tokenizer APPLY pass. Encoding reuses the trained
    * word-TYPE segmentation (`trainState`'s second return): each distinct
    * word is segmented exactly once, and per-occurrence cost is a hash
    * join on the word — at 100 TB the vocabulary relation is millions of
    * rows (shuffle-joinable, AQE broadcasts when small) while the corpus
    * itself only explodes to (doc, word) and re-aggregates, never
    * re-running the merge fold per occurrence.
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
