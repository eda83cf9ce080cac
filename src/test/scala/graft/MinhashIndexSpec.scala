package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.tools.Inspect

/** The persisted MinHash band index + probe (d30) — the text-side analog
  * of the d29 perceptual band index: probe ≡ the direct incremental join,
  * the index scan planes bucket-aligned with no corpus-side exchange, and
  * fold-in compaction extends coverage without re-banding indexed docs.
  */
class MinhashIndexSpec extends SparkSpec {

  private val (n, k, rpb, thr) = (3, 12, 3, 0.8)

  // a corpus with planted near-dups of batch docs, plus novel batch docs
  private def docs() = {
    import spark.implicits._
    val base = (0L until 40L).map { i =>
      (i, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 23} t${(i + j) % 5}")
        .mkString(" "))
    }
    // batch ids 1000+: 1000..1003 near-copy corpus docs 0..3 (one token
    // appended keeps Jaccard high), 1004..1005 are novel
    val batch = (0L until 4L).map(i =>
      (1000L + i, base(i.toInt)._2 + " extra")) ++
      Seq((1004L, "entirely novel text about nothing shared one two three four five six"),
        (1005L, "another unrelated document with its own words seven eight nine ten eleven"))
    (base.toDF("doc_id", "text"), batch.toDF("doc_id", "text"))
  }

  private def freshTable(tab: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS $tab")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tab)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    tab
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      math.rint(r.getDouble(2) * 1e9))).toSet

  test("probe against the bucketed band index equals the direct incremental join") {
    val (corpus, batch) = docs()
    val tab = freshTable("g_minhash_bandidx_spec")
    graft.util.Layout.writeBucketed(
      Dedup.minhashBandIndex(corpus, "doc_id", "text", n, k, rpb)
        .repartition(4, col("bk")),
      tab, "bk", 4, Some("bk"))
    val probe = Dedup.incrementalDupPairsProbe(spark.table(tab), corpus,
      batch, "doc_id", "text", n, k, rpb, thr)
    val direct = Dedup.incrementalDupPairs(corpus, batch,
      "doc_id", "text", n, k, rpb, thr)
    assert(pairSet(probe) == pairSet(direct))
    // the planted near-copies are found, the novel docs are not
    val found = pairSet(probe).map(_._1)
    assert(Set(1000L, 1001L, 1002L, 1003L).subsetOf(found))
    assert(!found.contains(1004L) && !found.contains(1005L))
  }

  test("the index scan is bucket-aligned — no corpus-side exchange in the probe") {
    val (corpus, batch) = docs()
    val tab = freshTable("g_minhash_bandidx_planspec")
    graft.util.Layout.writeBucketed(
      Dedup.minhashBandIndex(corpus, "doc_id", "text", n, k, rpb)
        .repartition(4, col("bk")),
      tab, "bk", 4, Some("bk"))
    // the probe runs inside the operator's eager localCheckpoint
    val r = Inspect.run(spark) {
      Dedup.incrementalDupPairsProbe(spark.table(tab), corpus,
        batch, "doc_id", "text", n, k, rpb, thr).count()
    }
    val plan = checkpointedPlans(r)
    assert(plan.contains("Bucketed: true"),
      s"band-index scan must be bucketed:\n$plan")
  }

  test("fold-in compaction: appended docs' bands extend coverage, layout intact") {
    val (corpus, batch) = docs()
    val half1 = corpus.filter(col("doc_id") < 20)
    val half2 = corpus.filter(col("doc_id") >= 20)
    val init = freshTable("g_minhash_bandidx_spec_init")
    graft.util.Layout.writeBucketed(
      Dedup.minhashBandIndex(half1, "doc_id", "text", n, k, rpb)
        .repartition(4, col("bk")),
      init, "bk", 4, Some("bk"))
    val comp = freshTable("g_minhash_bandidx_spec_comp")
    graft.util.Layout.writeBucketed(
      spark.table(init)
        .unionByName(Dedup.minhashBandIndex(half2, "doc_id", "text", n, k, rpb))
        .repartition(4, col("bk")),
      comp, "bk", 4, Some("bk"))
    val probe = Dedup.incrementalDupPairsProbe(spark.table(comp), corpus,
      batch, "doc_id", "text", n, k, rpb, thr)
    val direct = Dedup.incrementalDupPairs(corpus, batch,
      "doc_id", "text", n, k, rpb, thr)
    assert(pairSet(probe) == pairSet(direct))
    probe.count()
  }
}
