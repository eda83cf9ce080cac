package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.{Frame, IngestPipeline}
import graft.tools.GenXModalFixtures

/** The m12 pipeline as a STREAM with a mid-stream kill/restart: the
  * checkpoint replays the interrupted micro-batch under the same id, and
  * the per-batch dynamic partition overwrite makes the replay exactly-once
  * — every pair decided once, every admitted signature indexed once, every
  * batch's drift verdict landed once. The batch split is designed so the
  * CORPUS INDEX GROWS mid-stream: batch 1's logo-overlay image must be
  * rejected against a signature ADMITTED in batch 0, and batch 2's repeat
  * image against one admitted in batch 1.
  */
class IngestStreamSpec extends SparkSpec {

  private def trained(): Frame.Trained = {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} common words here",
        s"src${i % 2}")).toDF("doc_id", "text", "source")
    Frame.train(docs, "doc_id", "text", "source",
      targetSource = "src0", buckets = 64, driftThreshold = 1e12)
  }

  private def seedSig(): DataFrame = {
    import spark.implicits._
    GenXModalFixtures.fixtures().map(t => (t._2, t._3)).distinct
      .filter(_._1.startsWith("scene_a"))
      .toDF("item_id", "payload")
      .select(col("item_id"), graft.plans.DHashBmp(col("payload")).as("dh"))
      .select(col("item_id"), col("dh.hi").as("hi"), col("dh.lo").as("lo"))
  }

  /** The 9 committed pairs split into 3 mtime-ordered micro-batches. */
  private def writeSource(src: String): Unit = {
    import spark.implicits._
    val byId = GenXModalFixtures.fixtures()
      .map(t => t._1 -> t).toMap
    for (batch <- Seq(Seq(1L, 4L, 7L), Seq(5L, 6L, 2L), Seq(8L, 3L, 9L))) {
      batch.map(byId).toDF("pair_id", "img_name", "payload", "caption")
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
    val q = IngestPipeline.stream(spark, src, seedSig(), trained(),
      bands = 4, radius = 3, nShards = 4, ckpt, out,
      admitIndex = kt)
    driveStream(q, expectKill = killInBatch.isDefined,
      kill = killInBatch.map(_ => kt))
  }

  private def auditRows(out: String): Set[(String, String, String, Any, Any, Any)] =
    IngestPipeline.audit(spark, out).collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4),
        if (r.isNullAt(5)) null else r.getDouble(5))
    }.toSet

  test("streamed ingest is exactly-once across kill/restart and grows the index") {
    val src = tmpDir("ingest_src")
    val ckpt = tmpDir("ingest_ckpt")
    val out = tmpDir("ingest_out")
    writeSource(src)
    // kill after the first non-empty micro-batch commits, then restart
    runStream(src, ckpt, out, killInBatch = Some(1))
    runStream(src, ckpt, out, killInBatch = None)

    val pairs = IngestPipeline.audit(spark, out)
      .filter(col("kind") === "pair").collect()
      .map(r => r.getString(1).toLong -> r.getString(2)).toMap
    // exactly once: 9 pairs, 9 rows
    assert(pairs.size == 9)
    // batch 0: seed corpus rejects 1; 4 is novel; 7 undecodable
    assert(pairs(1L) == "corpus_dup:scene_a")
    assert(pairs(4L) == "admitted")
    assert(pairs(7L) == "quarantined_undecodable")
    // batch 1: 5 (logo overlay of 4's image) must be rejected against the
    // signature ADMITTED in batch 0 — the growing index, not the seed
    assert(pairs(5L) == "corpus_dup:4")
    assert(pairs(6L) == "admitted")
    assert(pairs(2L) == "corpus_dup:scene_a")
    // batch 2: 8 repeats 6's image (admitted in batch 1); 3 and 9 are the
    // SAME image family within the batch (up2x hashes equal to scene_a),
    // so 9 folds into 3's component intra-batch and only the
    // representative 3 is tested — and rejected — against the corpus
    assert(pairs(8L) == "corpus_dup:6")
    assert(pairs(3L) == "corpus_dup:scene_a")
    assert(pairs(9L) == "batch_dup:3")
    // one drift verdict per batch, each over that batch's 3 captions
    val drift = IngestPipeline.audit(spark, out)
      .filter(col("kind") === "drift").collect()
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(drift.keySet == Set("batch_0", "batch_1", "batch_2"))
    assert(drift.values.forall(_ > 0))
    // the landed admitted signatures ARE the index contribution
    val landedSig = spark.read.parquet(s"$out/admitted")
      .select("pair_id", "hi", "lo").collect()
    assert(landedSig.map(_.getLong(0)).toSet == Set(4L, 6L))
    assert(landedSig.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("the same DAG ingests an AUDIO stream by swapping the signature column") {
    import spark.implicits._
    val fx = graft.tools.GenAudioFpFixtures.fixtures()
    val src = tmpDir("ingest_audio_src")
    // batch 0: the original + a novel tone; batch 1: re-encodes of the
    // batch-0 original (must reject against the GROWN index) + a negative
    Seq(Seq(("fp_tone_a_44k", 1L), ("fp_tone_b_44k", 2L)),
        Seq(("fp_tone_a_stereo", 3L), ("fp_tone_a_gain", 4L), ("fp_not_wav", 5L)))
      .foreach { batch =>
        batch.map { case (n, id) => (id, n, fx.toMap.apply(n),
            s"audio transcript $n") }
          .toDF("pair_id", "img_name", "payload", "caption")
          .coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(1100)
      }
    val out = tmpDir("ingest_audio_out")
    val q = IngestPipeline.stream(spark, src,
      // empty seed corpus: batch 0 defines the index
      Seq.empty[(String, Long, Long)].toDF("item_id", "hi", "lo"),
      trained(), bands = 4, radius = 3, nShards = 4,
      tmpDir("ingest_audio_ckpt"), out,
      signature = graft.plans.AudioFp(_, dstRate = 6000))
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val pairs = IngestPipeline.audit(spark, out)
      .filter(col("kind") === "pair").collect()
      .map(r => r.getString(1).toLong -> r.getString(2)).toMap
    assert(pairs(1L) == "admitted" && pairs(2L) == "admitted")
    // the two re-encodes fingerprint identically (both invariances are
    // algebraic Hamming 0), so they first cluster INTRA-batch — the
    // representative 3 then rejects against pair 1's signature ADMITTED
    // in batch 0, and 4 folds into 3's component
    assert(pairs(3L) == "corpus_dup:1" && pairs(4L) == "batch_dup:3")
    assert(pairs(5L) == "quarantined_undecodable")
  }

  test("the interrupted run equals an uninterrupted one, audit row for row") {
    val src = tmpDir("ingest_src2")
    writeSource(src)
    val (ckptA, outA) = (tmpDir("ingest_ckptA"), tmpDir("ingest_outA"))
    runStream(src, ckptA, outA, killInBatch = Some(1))
    runStream(src, ckptA, outA, killInBatch = None)
    val (ckptB, outB) = (tmpDir("ingest_ckptB"), tmpDir("ingest_outB"))
    runStream(src, ckptB, outB, killInBatch = None)
    assert(auditRows(outA) == auditRows(outB),
      "kill/restart must land byte-identical audit rows")
    assert(auditRows(outA).nonEmpty)
    // killed between batch 1's rejected and admitted landings instead
    val outC = tmpDir("ingest_outC")
    killBetweenLandings(src,
      "pair_id BIGINT, img_name STRING, payload BINARY, caption STRING",
      tmpDir("ingest_ckptC"), outC) {
      IngestPipeline.stage(
        IngestPipeline.corpus(seedSig(), outC, bands = 4, radius = 3),
        trained(), nShards = 4, graft.plans.DHashBmp(_), () => None)
    }
    assert(auditRows(outC) == auditRows(outB),
      "a replay after a kill between the landings must land identical rows")
  }

  test("probe path + mid-stream fold-in compaction equals the direct path") {
    // reference: the direct path, uninterrupted
    val src = tmpDir("ingest_src_probe")
    writeSource(src)
    val refOut = tmpDir("ingest_probe_ref")
    runStream(src, tmpDir("ingest_probe_refck"), refOut, None)
    val ref = auditRows(refOut)

    // probe path: seed-only index v0 → two batches → kill → FOLD-IN
    // compaction to v1 (watermark 1) → swap the state → restart. Batch 2
    // must reject pair 8 against pair 6's signature, which at that point
    // lives ONLY in the compacted index (tail is empty past watermark 1).
    val out = tmpDir("ingest_probe_out")
    val ckpt = tmpDir("ingest_probe_ck")
    val corpus = IngestPipeline.corpus(seedSig(), out, bands = 4, radius = 3)
    var state = corpus.buildIndex("g_ingestspec_idx_v0", nBuckets = 4,
      through = -1L)
    runStream(src, ckpt, out, Some(2), () => Some(state))
    state = corpus.compactIndex(state, "g_ingestspec_idx_v1", nBuckets = 4,
      newThrough = 1L)
    runStream(src, ckpt, out, None, () => Some(state))
    assert(auditRows(out) == ref,
      "probe path with fold-in compaction must land the direct path's rows")
    assert(ref.nonEmpty)
  }

  test("a kill between compaction and the watermark swap neither dups nor drops") {
    // task-8 failure window: compaction landed (the v1 table exists) but
    // the process died before the watermark state was swapped — the
    // restart runs with a STALE watermark, so the tail re-covers batches
    // already folded into the index it probes... except the stale state
    // still POINTS at v0. The genuinely dangerous overlap is the other
    // registration order: state picked up the new TABLE but not the new
    // watermark. Run exactly that — probe v1 (which contains batches
    // 0..1) with watermark -1 (tail also re-reads batches 0..1): every
    // corpus pair is found TWICE, once per side, and the admit min()
    // must collapse the duplicates so the audit is row-identical.
    val src = tmpDir("ingest_src_race")
    writeSource(src)
    val refOut = tmpDir("ingest_race_ref")
    runStream(src, tmpDir("ingest_race_refck"), refOut, None)
    val ref = auditRows(refOut)

    val out = tmpDir("ingest_race_out")
    val ckpt = tmpDir("ingest_race_ck")
    val corpus = IngestPipeline.corpus(seedSig(), out, bands = 4, radius = 3)
    var state = corpus.buildIndex("g_ingestspec_race_v0", nBuckets = 4,
      through = -1L)
    runStream(src, ckpt, out, Some(2), () => Some(state))
    val compacted = corpus.compactIndex(state, "g_ingestspec_race_v1",
      nBuckets = 4, newThrough = 1L)
    // stale watermark: new table, OLD watermark — maximal overlap
    state = Frame.IndexState(compacted.table, -1L)
    runStream(src, ckpt, out, None, () => Some(state))
    assert(auditRows(out) == ref,
      "index/tail overlap after a compaction race must collapse, not dup")
  }

  test("the probe path's corpus index scans bucket-aligned, no corpus-side exchange") {
    import spark.implicits._
    val out = tmpDir("ingest_plan_out")
    val corpus = IngestPipeline.corpus(seedSig(), out, bands = 4, radius = 3)
    val state = corpus.buildIndex("g_ingestspec_plan_idx", nBuckets = 4,
      through = -1L)
    val reps = Seq(("7", 0x12345678L, 0x0abcdef0L))
      .toDF("item_id", "hi", "lo")
    val pairs = corpus.admitPairs(reps, batchId = 5L, Some(state))
    pairs.count() // settle AQE
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"the admit probe must scan the band index bucket-aligned:\n$plan")
  }

  test("a zero-token batch lands a drifted=NULL verdict instead of wedging") {
    import spark.implicits._
    // empty captions: driftStat's require(n > 0) would throw INSIDE
    // foreachBatch — and a deterministic replay re-throws forever. The
    // pipeline must land the batch with an unknown drift verdict instead.
    val batch = Seq((1L, "img_a", Array[Byte](1, 2, 3), ""),
        (2L, "img_b", Array[Byte](4, 5, 6), "   "))
      .toDF("pair_id", "img_name", "payload", "caption")
    val out = tmpDir("ingest_zerotok_out")
    IngestPipeline.ingestBatch(batch, seedSig(), trained(),
      bands = 4, radius = 3, nShards = 4, out, batchId = 0L)
    val drift = IngestPipeline.audit(spark, out)
      .filter(col("kind") === "drift").collect()
    assert(drift.length == 1)
    assert(drift(0).getString(1) == "batch_0")
    assert(drift(0).getString(2) == null, "drift verdict must be NULL (unknown)")
    // replay is not wedged: the same batch lands again, idempotently
    IngestPipeline.ingestBatch(batch, seedSig(), trained(),
      bands = 4, radius = 3, nShards = 4, out, batchId = 0L)
    assert(IngestPipeline.audit(spark, out)
      .filter(col("kind") === "drift").count() == 1)
  }
}
