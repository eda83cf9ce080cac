package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  // local[4, 2]: 4 threads, TWO task attempts — real clusters retry failed
  // tasks constantly, so specs can inject a first-attempt failure and
  // assert results are retry-invariant (RetrySpec). Identical scheduling
  // otherwise.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), name)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** The one exception type the kill harness injects — [[driveStream]]
    * swallows ONLY this (however deep Spark wraps it), so an unrelated
    * first-run failure still fails the spec instead of passing silently
    * as "the kill".
    */
  final class InjectedKill extends RuntimeException("injected mid-stream kill")

  /** Counts calls to [[tick]]; the `killOnCall`-th throws
    * [[InjectedKill]], ONCE, and [[killed]] records that it fired.
    */
  class Kill(killOnCall: Option[Int]) {
    private val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    private val killedFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    def killed: Boolean = killedFlag.get
    protected def tick(): Unit =
      if (killOnCall.contains(calls.incrementAndGet()) &&
          killedFlag.compareAndSet(false, true))
        throw new InjectedKill
  }

  /** DETERMINISTIC mid-stream kill for the ingest-pipeline stream specs:
    * wraps a per-batch thunk (the index/state resolver every pipeline
    * invokes inside foreachBatch) so its `killOnCall`-th invocation
    * throws, ONCE — and exposes whether it actually fired, so the spec
    * can assert the kill run really was a kill run (a kill placed past
    * the last batch must fail the test, not pass vacuously). Because
    * Structured Streaming writes a batch's offsets BEFORE running
    * foreachBatch, the dying batch is already planned in the offset
    * log — the restart replays it with the exact same file set, so batch
    * boundaries (and therefore batch_dup-vs-corpus_dup labels) are
    * reproducible. A `StreamingQuery.stop()`-based kill has no such
    * guarantee: stopping before the next batch's offsets commit lets the
    * restart RE-PLAN the remaining files into different micro-batches
    * (observed: two source files merging into one batch, flipping a
    * corpus_dup into a batch_dup).
    */
  final class KillingThunk[T](killOnCall: Option[Int], underlying: () => T)
      extends Kill(killOnCall) with (() => T) {
    def apply(): T = { tick(); underlying() }
  }

  /** A [[graft.ingest.Frame.ingestBatch]] timer that dies as step `step`
    * starts for the `killOnCall`-th time — e.g. `step = "admit"` kills a
    * batch AFTER its rejected landing and BEFORE its admitted one, a
    * window the index-thunk kill (which fires before anything lands)
    * never reaches.
    */
  final class KillingTimer(killOnCall: Option[Int], step: String)
      extends Kill(killOnCall) with ((String, () => Unit) => Unit) {
    def apply(name: String, f: () => Unit): Unit = {
      if (name == step) tick()
      f()
    }
  }

  def killingThunk[T](killOnCall: Option[Int], underlying: () => T): KillingThunk[T] =
    new KillingThunk(killOnCall, underlying)

  /** Drive a stream to completion, or let the injected kill take it down
    * (`expectKill`) — the companion of [[killingThunk]]. Pass the thunk
    * (or timer) as `kill` on kill runs: only the InjectedKill it throws is
    * swallowed, and the run asserts the kill actually fired.
    */
  def driveStream(q: org.apache.spark.sql.streaming.StreamingQuery,
      expectKill: Boolean,
      kill: Option[Kill] = None): Unit =
    if (expectKill) {
      def injected(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[InjectedKill] || injected(t.getCause))
      try { q.processAllAvailable(); q.stop() }
      catch { case e: Exception if injected(e) => () }
      try q.awaitTermination()
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
            if injected(e) => ()
      }
      kill.foreach(k => assert(k.killed,
        "expectKill run finished but the injected kill never fired " +
          "(killOnCall placed past the last thunk invocation?)"))
    } else {
      q.processAllAvailable()
      q.stop(); q.awaitTermination()
    }

  /** Stream `srcDir` through the shared ingest skeleton with `stage`
    * (re-built per micro-batch), killing micro-batch 1 AFTER its rejected
    * landing and BEFORE its admitted one, then restart to completion: the
    * checkpoint replays batch 1 under the same id. Asserts the kill landed
    * in that window.
    */
  def killBetweenLandings(srcDir: String, schema: String, ckpt: String,
      outDir: String)(stage: => graft.ingest.Frame.Stage): Unit = {
    def run(timer: (String, () => Unit) => Unit, kill: Option[Kill]): Unit =
      driveStream(graft.ingest.Frame.fileStream(spark, srcDir, schema, ckpt) {
        (b, id) => graft.ingest.Frame.ingestBatch(stage, b, id, timer)
      }, expectKill = kill.isDefined, kill = kill)
    val kill = new KillingTimer(Some(2), "admit")
    run(kill, Some(kill))
    def landed(sub: String) = spark.read.parquet(s"$outDir/$sub")
      .filter(org.apache.spark.sql.functions.col("ingest_batch") === 1).count()
    assert(landed("rejected") > 0 && landed("admitted") == 0,
      "the kill must fall between batch 1's rejected and admitted landings")
    run((_, f) => f(), None)
  }
}
