package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.Bpe
import graft.util.Materialize

/** The exact twin of `Bpe`'s one-task training: the same BPE as a
  * per-step distributed loop — each merge step is one pair-count
  * aggregation, a top-1 `collect` ordered by Spark's own string order and
  * a higher-order-function rewrite, with the lineage cut by lazy local
  * checkpoints. Kept as the reference `BpeTwinSpec` compares against.
  */
object BpeTwin {

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

  def trainState(df: DataFrame, textCol: String,
      steps: Int): (DataFrame, DataFrame) = Materialize { m =>
    val spark = df.sparkSession
    import spark.implicits._
    // LAZY checkpoints: each step needs syms materialized anyway to pick
    // its top pair, so let THAT collect do the materialization. The
    // previous step goes to the scope (released on return) only AFTER the
    // collect has materialized the current step (a lazy checkpoint still
    // reads its parent on first compute).
    var syms = Bpe.wordTypes(df, textCol).localCheckpoint(eager = false)
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
    (merges.toSeq.toDF("step", "left_sym", "right_sym", "pair_count"), syms)
  }

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
}
