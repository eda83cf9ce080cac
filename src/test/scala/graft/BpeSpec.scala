package graft

import graft.operators.Bpe

/** BPE merge training: greedy-rewrite semantics, tie-breaks, and the
  * classic textbook example.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("mergePair is greedy left-to-right (overlap resolves like a scan)") {
    val out = Seq(Seq("a", "a", "a"), Seq("a", "a", "a", "a"), Seq("x"),
      Seq.empty[String]).map(Bpe.mergePair(_, "a", "a"))
    assert(out(0) == Seq("aa", "a"))
    assert(out(1) == Seq("aa", "aa"))
    assert(out(2) == Seq("x"))
    assert(out(3) == Seq.empty)
  }

  test("textbook corpus: merges follow weighted pair frequency") {
    // "low" x5, "lowest" x2: pairs lo(7) ow(7) we(2) es(2) st(2);
    // tie lo-vs-ow breaks lexicographically -> ("l","o") first.
    val docs = Seq((1L, ("low " * 5 + "lowest " * 2).trim)).toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, "text", 3)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // corpus has ONE doc, so word freqs are 1 each (word types, doc-level
    // dedup of identical words in a single doc does not happen: every
    // occurrence counts via groupBy on exploded tokens)
    assert(m(0) == ((1, "l", "o", 7L)))
    assert(m(1) == ((2, "lo", "w", 7L)))
    assert(m(2)._1 == 3)
  }

  test("merged symbols participate in later pairs") {
    val docs = Seq((1L, "abab abab abab")).toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, "text", 3).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2)))
    // "abab": pairs ab(2/word) ba(1/word) -> merge (a,b); then "ab ab" ->
    // merge (ab, ab) -> "abab"; then nothing left with >0 count except none
    assert(m(0) == (("a", "b")))
    assert(m(1) == (("ab", "ab")))
  }

  test("training stops when no pairs remain") {
    val docs = Seq((1L, "x y z")).toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, "text", 5).collect()
    assert(m.isEmpty) // all words are single chars: no adjacent pairs
  }
}
