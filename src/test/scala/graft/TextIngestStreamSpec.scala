package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.{Frame, TextIngestPipeline}

/** The m14 TEXT pipeline as a STREAM with a mid-stream kill/restart —
  * the text twin of IngestStreamSpec: the checkpoint replays the
  * interrupted micro-batch under the same id, and the per-batch dynamic
  * partition overwrite makes the replay exactly-once. The batch split is
  * designed so the CORPUS GROWS mid-stream: batch 1's copy of doc 2's
  * text must be rejected against a document ADMITTED in batch 0, and
  * batch 2's copy of doc 5's text against one admitted in batch 1.
  */
class TextIngestStreamSpec extends SparkSpec {

  private val TextA =
    "the quick brown fox jumps over the lazy dog today"
  private val TextB =
    "novel document two with completely fresh content tokens here"
  private val TextC =
    "another brand new report about harvest volumes and market prices"
  private val TextD =
    "final standalone entry covering cold storage logistics costs"
  private val LongText = (1 to 40).map(i => s"filler$i").mkString(" ")

  private def trained(): Frame.Trained = {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} common words here",
        s"src${i % 2}")).toDF("doc_id", "text", "source")
    Frame.train(docs, "doc_id", "text", "source",
      targetSource = "src0", buckets = 64, driftThreshold = 1e12)
  }

  private def seedDocs(): DataFrame = {
    import spark.implicits._
    ((100L, TextA) +: (101L to 110L).map(i =>
      i -> s"seed doc $i carries its own distinct vocabulary v${i}a v${i}b v${i}c"))
      .toDF("doc_id", "text")
  }

  private def textCorpus(out: String): Frame.Corpus =
    TextIngestPipeline.corpus(seedDocs(), out, n = 3, numHashes = 12,
      rowsPerBand = 3, threshold = 0.8)

  /** 9 docs in 3 mtime-ordered micro-batches; every decision path hit. */
  private def writeSource(src: String): Unit = {
    import spark.implicits._
    val batches = Seq(
      Seq(1L -> TextA, 2L -> TextB, 3L -> "x y"),
      Seq(4L -> TextB, 5L -> TextC, 6L -> TextC),
      Seq(7L -> TextC, 8L -> LongText, 9L -> TextD))
    for (batch <- batches) {
      batch.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1100) // distinct mtimes → deterministic batch order
    }
  }

  /** `killInBatch = Some(k)` dies INSIDE micro-batch k (0-based, offsets
    * already committed) via the admit-index thunk — see
    * SparkSpec.killingThunk for why this is the deterministic kill.
    */
  private def runStream(src: String, ckpt: String, out: String,
      killInBatch: Option[Int],
      admitIndex: () => Option[Frame.IndexState] =
        () => None): Unit = {
    val kt = killingThunk(killInBatch.map(_ + 1), admitIndex)
    val q = TextIngestPipeline.stream(spark, src, seedDocs(), trained(),
      n = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.8,
      minTokens = 5L, maxTokens = 30L, nShards = 4, ckpt, out,
      admitIndex = kt)
    driveStream(q, expectKill = killInBatch.isDefined,
      kill = killInBatch.map(_ => kt))
  }

  private def auditRows(out: String): Set[(String, String, String, Any, Any, Any)] =
    TextIngestPipeline.audit(spark, out).collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4),
        if (r.isNullAt(5)) null else r.getDouble(5))
    }.toSet

  test("streamed text ingest is exactly-once across kill/restart and grows the corpus") {
    val src = tmpDir("tingest_src")
    val ckpt = tmpDir("tingest_ckpt")
    val out = tmpDir("tingest_out")
    writeSource(src)
    runStream(src, ckpt, out, killInBatch = Some(1))
    runStream(src, ckpt, out, killInBatch = None)

    val docs = TextIngestPipeline.audit(spark, out)
      .filter(col("kind") === "doc").collect()
      .map(r => r.getString(1).toLong -> r.getString(2)).toMap
    assert(docs.size == 9) // exactly once: 9 docs, 9 rows
    // batch 0: seed corpus rejects 1 (TextA = seed 100); 2 is novel;
    // 3 fails the token floor
    assert(docs(1L) == "corpus_dup:100")
    assert(docs(2L).startsWith("admitted:"))
    assert(docs(3L) == "below_min_tokens")
    // batch 1: 4 copies TextB — must reject against doc 2 ADMITTED in
    // batch 0 (the growing corpus, not the seed); 5 and 6 share TextC
    // intra-batch, so only the representative 5 is tested vs the corpus
    assert(docs(4L) == "corpus_dup:2")
    assert(docs(5L).startsWith("admitted:"))
    assert(docs(6L) == "batch_dup:5")
    // batch 2: 7 copies TextC (admitted in batch 1); 8 breaches the
    // token ceiling; 9 is novel
    assert(docs(7L) == "corpus_dup:5")
    assert(docs(8L) == "above_max_tokens")
    assert(docs(9L).startsWith("admitted:"))
    // one drift verdict per batch
    val drift = TextIngestPipeline.audit(spark, out)
      .filter(col("kind") === "drift").collect()
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(drift.keySet == Set("batch_0", "batch_1", "batch_2"))
    assert(drift.values.forall(_ > 0))
    // the landed admitted docs ARE the corpus contribution
    val landed = spark.read.parquet(s"$out/admitted")
      .select("doc_id", "text", "n_tokens").collect()
    assert(landed.map(_.getLong(0)).toSet == Set(2L, 5L, 9L))
    assert(landed.forall(r => !r.isNullAt(1) && r.getLong(2) >= 5L))
  }

  test("the interrupted text run equals an uninterrupted one, audit row for row") {
    val src = tmpDir("tingest_src2")
    writeSource(src)
    val (ckptA, outA) = (tmpDir("tingest_ckptA"), tmpDir("tingest_outA"))
    runStream(src, ckptA, outA, killInBatch = Some(1))
    runStream(src, ckptA, outA, killInBatch = None)
    val (ckptB, outB) = (tmpDir("tingest_ckptB"), tmpDir("tingest_outB"))
    runStream(src, ckptB, outB, killInBatch = None)
    assert(auditRows(outA) == auditRows(outB),
      "kill/restart must land byte-identical audit rows")
    assert(auditRows(outA).nonEmpty)
    // killed between batch 1's rejected and admitted landings instead
    val outC = tmpDir("tingest_outC")
    killBetweenLandings(src, "doc_id BIGINT, text STRING",
      tmpDir("tingest_ckptC"), outC) {
      TextIngestPipeline.stage(textCorpus(outC), trained(), minTokens = 5L,
        maxTokens = 30L, nShards = 4, () => None)
    }
    assert(auditRows(outC) == auditRows(outB),
      "a replay after a kill between the landings must land identical rows")
  }

  test("text probe path + mid-stream fold-in compaction equals the direct path") {
    // reference: the direct path, uninterrupted
    val src = tmpDir("tingest_src_probe")
    writeSource(src)
    val refOut = tmpDir("tingest_probe_ref")
    runStream(src, tmpDir("tingest_probe_refck"), refOut, None)
    val ref = auditRows(refOut)

    // probe path: seed-only index v0 → two batches → kill → FOLD-IN
    // compaction to v1 (watermark 1) → swap the state → restart. Batch 2
    // must reject doc 7 against doc 5's text, which at that point lives
    // ONLY in the compacted index (the tail is empty past watermark 1).
    val out = tmpDir("tingest_probe_out")
    val ckpt = tmpDir("tingest_probe_ck")
    val corpus = textCorpus(out)
    var state = corpus.buildIndex("g_tingestspec_idx_v0", nBuckets = 4,
      through = -1L)
    runStream(src, ckpt, out, Some(2), () => Some(state))
    state = corpus.compactIndex(state, "g_tingestspec_idx_v1", nBuckets = 4,
      newThrough = 1L)
    runStream(src, ckpt, out, None, () => Some(state))
    assert(auditRows(out) == ref,
      "probe path with fold-in compaction must land the direct path's rows")
    assert(ref.nonEmpty)
  }

  test("a kill between text compaction and the watermark swap neither dups nor drops") {
    // the dangerous registration order (same window as IngestStreamSpec):
    // the new TABLE is picked up but the OLD watermark survives — the
    // tail re-covers batches already folded into the probed index, every
    // corpus pair is found twice, and the admit min() must collapse the
    // overlap to row-identical audit output.
    val src = tmpDir("tingest_src_race")
    writeSource(src)
    val refOut = tmpDir("tingest_race_ref")
    runStream(src, tmpDir("tingest_race_refck"), refOut, None)
    val ref = auditRows(refOut)

    val out = tmpDir("tingest_race_out")
    val ckpt = tmpDir("tingest_race_ck")
    val corpus = textCorpus(out)
    var state = corpus.buildIndex("g_tingestspec_race_v0", nBuckets = 4,
      through = -1L)
    runStream(src, ckpt, out, Some(2), () => Some(state))
    val compacted = corpus.compactIndex(state, "g_tingestspec_race_v1",
      nBuckets = 4, newThrough = 1L)
    // stale watermark: new table, OLD watermark — maximal overlap
    state = Frame.IndexState(compacted.table, -1L)
    runStream(src, ckpt, out, None, () => Some(state))
    assert(auditRows(out) == ref,
      "index/tail overlap after a compaction race must collapse, not dup")
  }

  test("the text probe's corpus index scans bucket-aligned, no corpus-side exchange") {
    import spark.implicits._
    val out = tmpDir("tingest_plan_out")
    val corpus = textCorpus(out)
    val state = corpus.buildIndex("g_tingestspec_plan_idx", nBuckets = 4,
      through = -1L)
    val reps = Seq((7L, TextC)).toDF("doc_id", "text")
    // audit the un-checkpointed plan (materializeAndRelease otherwise
    // collapses the probe to a block scan)
    spark.conf.set("spark.graft.skipMaterialize", "true")
    try {
      val pairs = corpus.admitPairs(reps, batchId = 5L, Some(state))
      pairs.count() // settle AQE
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"the admit probe must scan the band index bucket-aligned:\n$plan")
    } finally spark.conf.unset("spark.graft.skipMaterialize")
  }

  test("a zero-token text batch lands a drifted=NULL verdict instead of wedging") {
    import spark.implicits._
    val batch = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val out = tmpDir("tingest_zerotok_out")
    TextIngestPipeline.ingestBatch(batch, seedDocs(), trained(),
      n = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.8,
      minTokens = 5L, maxTokens = 30L, nShards = 4, out, batchId = 0L)
    val drift = TextIngestPipeline.audit(spark, out)
      .filter(col("kind") === "drift").collect()
    assert(drift.length == 1)
    assert(drift(0).getString(1) == "batch_0")
    assert(drift(0).getString(2) == null, "drift verdict must be NULL (unknown)")
    // and the zero-token docs are gated, not lost
    val docs = TextIngestPipeline.audit(spark, out)
      .filter(col("kind") === "doc").collect()
      .map(r => r.getString(1).toLong -> r.getString(2)).toMap
    assert(docs == Map(1L -> "below_min_tokens", 2L -> "below_min_tokens"))
    // replay is not wedged: the same batch lands again, idempotently
    TextIngestPipeline.ingestBatch(batch, seedDocs(), trained(),
      n = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.8,
      minTokens = 5L, maxTokens = 30L, nShards = 4, out, batchId = 0L)
    assert(TextIngestPipeline.audit(spark, out)
      .filter(col("kind") === "drift").count() == 1)
  }
}
