package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.EmbIngestPipeline
import graft.ingest.EmbIngestPipeline.Params

/** The m15 EMBEDDING pipeline as a STREAM — the vector twin of
  * IngestStreamSpec/TextIngestStreamSpec: exactly-once across a
  * kill/restart (partitioned code appends included), the corpus/index
  * growing mid-stream, and the FULL maintenance loop in-stream: a
  * planted OOD batch fires the recall monitor, [[EmbIngestPipeline
  * .rebuildIndex]] retrains into a new versioned directory, the index
  * thunk swaps, and the next batch's monitor recovers.
  *
  * Geometry: corpus anchors on EVEN dims (AnnIndexSpec's shape), fresh
  * batch vectors are pure odd-dim one-hots (cos vs corpus ≤ 0.16),
  * planted duplicates are exact copies (cos = 1 ± 4ε). The admit
  * threshold 0.99999 sits in that measured gap (max organic pair
  * 0.99983), so every decision is deterministic.
  */
class EmbIngestStreamSpec extends SparkSpec {

  private val dim = 8
  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def vec(f: Int => Double): Seq[Float] =
    (0 until dim).map(d => f(d).toFloat)

  private def corpusVec(i: Int): Seq[Float] =
    vec(d => (if (d == (i % 4) * 2) 1.0 else 0.0) +
      0.1 * math.sin(i * 37.0 + d * 11.0))

  private def oneHot(d0: Int): Seq[Float] = vec(d => if (d == d0) 1.0 else 0.0)

  private def df(rows: Seq[(Long, Seq[Float])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), schema)

  /** Seed corpus: ids 100..179, even-dim anchors + noise. */
  private def seedVecs(): DataFrame =
    df((0 until 80).map(i => (100L + i) -> corpusVec(i)))

  private def params(nprobe: Int = 4, rerank: Int = 200,
      recallTarget: Double = 0.99): Params =
    Params(dim = dim, threshold = 0.99999, nlist = 4, itersCoarse = 2,
      m = 4, ksub = 4, itersPq = 2, nprobe = nprobe, rerank = rerank,
      monitorK = 3, monitorMax = 10, recallTarget = recallTarget)

  /** 9 vectors in 3 mtime-ordered micro-batches; every decision path hit.
    * rerank=200 (> corpus) makes the admit top-1 the exact top-1, so the
    * planted outcomes are arithmetic facts, not recall luck.
    */
  private def writeSource(src: String): Unit = {
    val batches = Seq(
      Seq(1L -> corpusVec(0), 2L -> oneHot(1), 3L -> vec(_ => 0.0)),
      Seq(4L -> oneHot(1), 5L -> oneHot(3), 6L -> oneHot(3)),
      Seq(7L -> oneHot(3), 8L -> oneHot(5), 9L -> Seq(1.0f, 2.0f, 3.0f)))
    for (batch <- batches) {
      df(batch).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1100) // distinct mtimes → deterministic batch order
    }
  }

  /** `killInBatch = Some(k)` dies INSIDE micro-batch k (0-based, offsets
    * already committed) via the index thunk — see SparkSpec.killingThunk
    * for why this is the deterministic kill.
    */
  private def runStream(src: String, ckpt: String, out: String, p: Params,
      index: () => String, killInBatch: Option[Int]): Unit = {
    val kt = killingThunk(killInBatch.map(_ + 1), index)
    val q = EmbIngestPipeline.stream(spark, src, seedVecs(), p, ckpt, out, kt)
    driveStream(q, expectKill = killInBatch.isDefined,
      kill = killInBatch.map(_ => kt))
  }

  private def auditRows(out: String, idx: String): Set[(String, String, String, Any, Any, Any)] =
    EmbIngestPipeline.audit(spark, out, idx).collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4),
        if (r.isNullAt(5)) null else r.getDouble(5))
    }.toSet

  private def newIndex(name: String, out: String, p: Params,
      through: Long): String = {
    val dir = tmpDir(name)
    EmbIngestPipeline.rebuildIndex(spark, seedVecs(), out, dir, p, through)
    dir
  }

  test("streamed embedding ingest is exactly-once across kill/restart and grows the index") {
    val src = tmpDir("eingest_src")
    val out = tmpDir("eingest_out")
    val p = params()
    val idx = newIndex("eingest_idx", out, p, through = -1L)
    writeSource(src)
    val ckpt = tmpDir("eingest_ckpt")
    runStream(src, ckpt, out, p, () => idx, killInBatch = Some(1))
    runStream(src, ckpt, out, p, () => idx, killInBatch = None)

    val vecs = EmbIngestPipeline.audit(spark, out, idx)
      .filter(col("kind") === "vec").collect()
      .map(r => r.getString(1).toLong -> r.getString(2)).toMap
    assert(vecs.size == 9) // exactly once: 9 vectors, 9 rows
    // batch 0: seed corpus rejects 1 (copy of vec 100); 2 is novel;
    // 3 is the zero vector
    assert(vecs(1L) == "corpus_dup:100")
    assert(vecs(2L) == "admitted")
    assert(vecs(3L) == "zero_norm")
    // batch 1: 4 copies vec 2's embedding — rejected against a code
    // APPENDED in batch 0 (the growing index, not the bootstrap); 5 and
    // 6 are identical intra-batch, only the representative 5 probes
    assert(vecs(4L) == "corpus_dup:2")
    assert(vecs(5L) == "admitted")
    assert(vecs(6L) == "batch_dup:5")
    // batch 2: 7 copies vec 5's (admitted in batch 1); 9 is mis-sized
    assert(vecs(7L) == "corpus_dup:5")
    assert(vecs(8L) == "admitted")
    assert(vecs(9L) == "bad_vector")
    // the index's appended partitions hold exactly the admitted codes,
    // each exactly once
    val codes = spark.read.parquet(s"$idx/codes")
      .filter(col("ingest_batch") >= 0).collect()
    assert(codes.map(_.getAs[Long]("neighbor_id")).sorted.toSeq == Seq(2L, 5L, 8L))
    // one monitor verdict per batch
    val mon = EmbIngestPipeline.audit(spark, out, idx)
      .filter(col("kind") === "monitor").collect()
      .map(r => r.getString(1)).toSet
    assert(mon == Set("batch_0", "batch_1", "batch_2"))
  }

  test("the interrupted embedding run equals an uninterrupted one, audit row for row") {
    val src = tmpDir("eingest_src2")
    writeSource(src)
    val p = params()
    val outA = tmpDir("eingest_outA")
    val idxA = newIndex("eingest_idxA", outA, p, -1L)
    val ckptA = tmpDir("eingest_ckptA")
    runStream(src, ckptA, outA, p, () => idxA, killInBatch = Some(1))
    runStream(src, ckptA, outA, p, () => idxA, killInBatch = None)
    val outB = tmpDir("eingest_outB")
    val idxB = newIndex("eingest_idxB", outB, p, -1L)
    runStream(src, tmpDir("eingest_ckptB"), outB, p, () => idxB, None)
    assert(auditRows(outA, idxA) == auditRows(outB, idxB),
      "kill/restart must land byte-identical audit rows")
    assert(auditRows(outA, idxA).nonEmpty)
    // killed between batch 1's rejected and admitted landings instead
    val outC = tmpDir("eingest_outC")
    val idxC = newIndex("eingest_idxC", outC, p, -1L)
    killBetweenLandings(src, "vec_id BIGINT, embedding ARRAY<FLOAT>",
      tmpDir("eingest_ckptC"), outC) {
      EmbIngestPipeline.stage(seedVecs(), p, outC, idxC)
    }
    assert(auditRows(outC, idxC) == auditRows(outB, idxB),
      "a replay after a kill between the landings must land identical rows")
  }

  test("drift-fire -> rebuild -> recovery: the full maintenance loop in-stream") {
    // serve params tight enough for the AnnIndexSpec dip mechanism: OOD
    // codes collapse onto stale codewords, ADC cannot rank the batch's
    // true mutual neighbors into a 12-deep rerank window
    val p = params(nprobe = 2, rerank = 12, recallTarget = 0.8)
    def oodVec(i: Int): Seq[Float] =
      vec(d => (if (d == 1 + (i % 2) * 4) 1.0 else 0.0) +
        0.05 * math.sin(i * 13.0 + d * 7.0))
    val src = tmpDir("eingest_src_drift")
    df((300 until 320).map(i => i.toLong -> oodVec(i)))
      .coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100)
    val out = tmpDir("eingest_out_drift")
    var idx = newIndex("eingest_idx_drift_v0", out, p, -1L)
    val ckpt = tmpDir("eingest_ckpt_drift")
    // batch 0: the OOD set lands against the stale (seed-trained) index
    runStream(src, ckpt, out, p, () => idx, None)
    val mon0 = spark.read.parquet(s"$out/monitor")
      .filter(col("batch") === "batch_0").collect().head
    val recall0 = mon0.getAs[Double]("mean_recall")
    assert(mon0.getAs[Boolean]("fired"),
      s"stale-codebook recall ($recall0) must fire the monitor")
    // rebuild over seed ∪ admitted-so-far into a NEW versioned dir, swap
    idx = {
      val v1 = tmpDir("eingest_idx_drift_v1")
      EmbIngestPipeline.rebuildIndex(spark, seedVecs(), out, v1, p, through = 0L)
      v1
    }
    // batch 1: a second OOD draw from the same distribution — served by
    // the REBUILT index, whose codebooks now cover the odd anchors
    df((400 until 420).map(i => i.toLong -> oodVec(i)))
      .coalesce(1).write.mode("append").parquet(src)
    runStream(src, ckpt, out, p, () => idx, None)
    val mon1 = spark.read.parquet(s"$out/monitor")
      .filter(col("batch") === "batch_1").collect().head
    val recall1 = mon1.getAs[Double]("mean_recall")
    assert(recall1 > recall0,
      s"rebuilt recall ($recall1) must exceed stale recall ($recall0)")
    assert(!mon1.getAs[Boolean]("fired"),
      s"rebuilt recall ($recall1) must clear the target")
  }

  test("monitor cadence: monitorEvery=2 lands verdicts only on monitored batches") {
    val p = params().copy(monitorEvery = 2)
    val src = tmpDir("eingest_src_cad")
    writeSource(src)
    val out = tmpDir("eingest_out_cad")
    val idx = newIndex("eingest_idx_cad", out, p, -1L)
    runStream(src, tmpDir("eingest_ckpt_cad"), out, p, () => idx, None)
    // batches 0 and 2 are monitored; batch 1 lands NO monitor row — the
    // cadence is a pure function of batchId, so replays agree
    val mon = spark.read.parquet(s"$out/monitor")
      .collect().map(_.getAs[String]("batch")).toSet
    assert(mon == Set("batch_0", "batch_2"), s"got $mon")
    // the admit decisions are cadence-independent: same vec rows as the
    // monitorEvery=1 baseline run
    val outB = tmpDir("eingest_out_cadB")
    val idxB = newIndex("eingest_idx_cadB", outB, params(), -1L)
    runStream(src, tmpDir("eingest_ckpt_cadB"), outB, params(), () => idxB, None)
    def vecRows(o: String, i: String) =
      auditRows(o, i).filter(_._1 != "monitor")
    assert(vecRows(out, idx) == vecRows(outB, idxB))
  }

  test("a kill between codes compaction and the index swap stays exactly-once") {
    // the d31-race analog for the ANN index: compaction writes a NEW
    // versioned directory, so a crash before the operator swaps the
    // thunk leaves the OLD index exactly as it was — the restarted
    // stream replays its in-flight batch against the old dir, lands
    // byte-identical audit rows, and the swap (with a re-compaction
    // covering the late batch) can happen any time later.
    val p = params()
    val src = tmpDir("eingest_src_race")
    writeSource(src)
    val out = tmpDir("eingest_out_race")
    val idx = newIndex("eingest_idx_race", out, p, -1L)
    val ckpt = tmpDir("eingest_ckpt_race")
    // batches 0,1 commit; the stream dies INSIDE batch 2
    runStream(src, ckpt, out, p, () => idx, killInBatch = Some(2))
    // compaction lands while the operator is down — folds the two
    // COMMITTED batches; the in-flight batch 2 must not be folded
    val v1 = tmpDir("eingest_idx_race_v1")
    graft.operators.AnnIndex.compactCodes(spark, idx, v1, through = 1L)
    // crash before the swap: the restart still resolves the OLD dir and
    // replays batch 2 against it
    runStream(src, ckpt, out, p, () => idx, killInBatch = None)
    // the interrupted+compaction-raced run is byte-identical to an
    // uninterrupted, never-compacted one
    val outB = tmpDir("eingest_out_raceB")
    val idxB = newIndex("eingest_idx_raceB", outB, p, -1L)
    runStream(src, tmpDir("eingest_ckpt_raceB"), outB, p, () => idxB, None)
    assert(auditRows(out, idx) == auditRows(outB, idxB))
    // the operator completes the cycle later: re-compact through the
    // late batch and swap — the compacted index serves the same answers
    // and carries every admitted code exactly once
    val v2 = tmpDir("eingest_idx_race_v2")
    graft.operators.AnnIndex.compactCodes(spark, idx, v2, through = 2L)
    val codesV2 = graft.operators.AnnIndex.readCodes(spark, v2)
    assert(codesV2.filter(col("ingest_batch") >= 0).count() == 0)
    assert(codesV2.filter(col("neighbor_id") < 100).collect()
      .map(_.getAs[Long]("neighbor_id")).sorted.toSeq == Seq(2L, 5L, 8L))
    // audit over the swapped index equals the old one's, monitor rows
    // aside (the 'list' manifest filters ingest_batch >= 0 by contract —
    // after a FULL fold the appended-since-bootstrap set is empty, which
    // is the correct reading: everything is now base)
    val qv = df(Seq(50L -> oneHot(1)))
    def top(dirI: String) = graft.operators.AnnIndex.queryIvfPq(
        EmbIngestPipeline.corpusVecs(spark, seedVecs(), out, 3L), qv,
        "vec_id", "embedding", dim, k = 2, nprobe = 4, rerank = 200,
        dir = dirI)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(top(v2) == top(idx), "swap changed serve answers")
  }

  test("an all-rejected batch lands a fired=NULL monitor verdict instead of wedging") {
    val p = params()
    val out = tmpDir("eingest_out_empty")
    val idx = newIndex("eingest_idx_empty", out, p, -1L)
    // every row gated: zero vector + mis-sized vector → nothing admitted
    val batch = df(Seq(1L -> vec(_ => 0.0), 2L -> Seq(1.0f)))
    EmbIngestPipeline.ingestBatch(batch, seedVecs(), p, out, 0L, () => idx)
    val mon = spark.read.parquet(s"$out/monitor").collect()
    assert(mon.length == 1)
    assert(mon.head.isNullAt(mon.head.fieldIndex("fired")),
      "monitor verdict must be NULL (unknown) on an empty admit set")
    // replay is not wedged: idempotent re-land
    EmbIngestPipeline.ingestBatch(batch, seedVecs(), p, out, 0L, () => idx)
    assert(spark.read.parquet(s"$out/monitor").count() == 1)
  }
}
