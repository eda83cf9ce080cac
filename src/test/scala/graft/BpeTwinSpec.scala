package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Bpe

/** `Bpe`'s one-task training against its exact twin, the per-step
  * distributed loop (`BpeTwin`): the merge table, the trained word-type
  * segmentation and `encodeCounts` must be equal on inputs that hit the
  * order, overlap, stopping and weighting edges.
  */
class BpeTwinSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def merges(df: DataFrame): Seq[(Int, String, String, Long)] =
    df.orderBy("step").collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))

  private def words(df: DataFrame): Seq[(String, Long, Seq[String])] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2)))
      .sortBy(_._1)

  private def encoded(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted

  /** Asserts equality with the twin on all three outputs; returns the
    * merge table for case-specific checks.
    */
  private def sameAsTwin(d: DataFrame, steps: Int): Seq[(Int, String, String, Long)] = {
    val (m, w) = Bpe.trainState(d, "text", steps)
    val (tm, tw) = BpeTwin.trainState(d, "text", steps)
    assert(m.schema == tm.schema)
    val got = merges(m)
    assert(got == merges(tm))
    assert(words(w) == words(tw))
    val enc = Bpe.encodeCounts(d, "doc_id", "text", steps)
    val twinEnc = BpeTwin.encodeCounts(d, "doc_id", "text", steps)
    assert(enc.schema == twinEnc.schema)
    assert(encoded(enc) == encoded(twinEnc))
    got
  }

  test("count ties break on (left, right) like the twin's orderBy") {
    val m = sameAsTwin(docs("ba ab dc cd", "ca ac"), 6)
    assert(m.head == ((1, "a", "b", 1L)))
    assert(m.map(p => (p._2, p._3)).take(3) == Seq(("a", "b"), ("a", "c"), ("b", "a")))
  }

  test("symbols above U+FFFF order after U+E000-U+FFFF, in UTF-8 byte order") {
    val astral = "\uD83D\uDE00" // U+1F600, a surrogate pair in UTF-16
    // UTF-16 code-unit order puts the astral symbol first; byte order last
    assert(astral.compareTo("\uE000") < 0 && astral.compareTo("\uFFFF") < 0)
    val m = sameAsTwin(docs(s"${astral}x \uE000x", s"y$astral y\uFFFF"), 4)
    // ties at count 1 throughout: "y" < "\uE000" < astral on either side
    assert(m.map(p => (p._2, p._3)) == Seq(("y", "\uFFFF"), ("y", astral),
      ("\uE000", "x"), (astral, "x")))
  }

  test("overlapping runs merge greedily left to right") {
    val m = sameAsTwin(docs("aaaa abab aaa", "abab aaaaa"), 5)
    assert(m.head == ((1, "a", "a", 9L)))
  }

  test("training stops when pairs run out, and steps = 0 trains nothing") {
    assert(sameAsTwin(docs("ab ab c"), 5) == Seq((1, "a", "b", 2L)))
    assert(sameAsTwin(docs("low lower lowest"), 0).isEmpty)
  }

  test("empty, blank and null text contribute no words") {
    val withNull = Seq((0L, ""), (1L, "   "), (2L, null), (3L, "ab  ba ab"))
      .toDF("doc_id", "text")
    assert(sameAsTwin(withNull, 3).head == ((1, "a", "b", 2L)))
    val none = Seq((0L, ""), (1L, " "), (2L, null: String)).toDF("doc_id", "text")
    assert(sameAsTwin(none, 3).isEmpty)
    assert(Bpe.encodeCounts(none, "doc_id", "text", 3).count() == 0)
  }

  test("word frequency weights pairs the same from one document or many") {
    val one = sameAsTwin(docs("xy xy xy zwz zwz"), 4)
    val many = sameAsTwin(docs("xy", "xy", "zwz", "xy", "zwz"), 4)
    assert(one == many)
    assert(one.head == ((1, "x", "y", 3L)))
  }

  test("seeded random corpora over a mixed-plane alphabet match the twin") {
    val alphabet = IndexedSeq("a", "b", "c", "\uE000", "\uD83D\uDE00")
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 4) {
      val texts = Seq.fill(1 + rnd.nextInt(4)) {
        Seq.fill(1 + rnd.nextInt(5)) {
          Seq.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.size))).mkString
        }.mkString(" ")
      }
      sameAsTwin(docs(texts: _*), 6)
    }
  }
}
