package graft

import org.apache.spark.sql.functions._

import graft.ingest.{DailyRun, MarketPipeline}

/** The market day: a full day over multiple commodities, resume
  * semantics, the typed record layer, and the continuous page ingest.
  */
class DailyRunSpec extends SparkSpec {

  def page(rows: Int): String = {
    val body = (1 to rows).map(i =>
      s"""<tr><td class="tleft2">Bag $i</td><td class="tleft">${i}0.00</td>
         |<td class="tleft">${i}00.00</td><td class="tleft">$i</td></tr>""".stripMargin)
      .mkString("\n")
    s"""<table class="alltable"><thead>
       |<th class="header">Container</th><th class="header">Price (R)</th>
       |<th class="header">Total Value Sold</th><th class="header">Total Quantity Sold</th>
       |</thead><tbody>$body
       |<tr><td class="tleft2">Total</td><td class="tleft"></td><td class="tleft"></td><td class="tleft"></td></tr>
       |</tbody></table>""".stripMargin
  }

  def pages(n: Int): Map[String, Map[String, String]] =
    Map(
      "apples" -> Map("summary" -> page(3), "container" -> page(3), "variety" -> page(6)),
      "pears" -> Map("summary" -> page(1), "container" -> page(1), "variety" -> page(2)),
    ).view.mapValues(_.view.mapValues(identity).toMap).toMap.take(n)

  /** Lands `pages` as `<root>/<commodity>/<linkType>.html` files. */
  def landPages(root: String, pages: Map[String, Map[String, String]]): String = {
    for ((c, byType) <- pages; (t, html) <- byType) {
      val p = java.nio.file.Paths.get(root, c, s"$t.html")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, html)
    }
    root
  }

  test("day lands all link types and is resume-safe") {
    val dir = landPages(tmpDir("daily_pages"), pages(2))
    val raw = tmpDir("daily_raw")
    val ledger = tmpDir("daily_ledger")
    val r1 = DailyRun.day(spark, dir, "2026-08-12", raw, ledger)
    assert(r1 == Seq("apples", "pears"))

    val landed = MarketPipeline.readRaw(spark, raw, "parquet")
    assert(landed.select("commodity").distinct().count() == 2)
    assert(landed.select("link_type").distinct().count() == 3)
    val before = landed.count()
    // totals rows dropped: 3 + 3 + 6 apples rows, 1 + 1 + 2 pears rows
    assert(before == 16)

    // re-run the same day: everything completed → nothing re-processed
    val r2 = DailyRun.day(spark, dir, "2026-08-12", raw, ledger)
    assert(r2.isEmpty)
    assert(MarketPipeline.readRaw(spark, raw, "parquet").count() == before)
  }

  test("ingestPagesStream: continuous page ingest is exactly-once across restarts") {
    val pagesDir = tmpDir("stream_pages")
    val checkpoint = tmpDir("stream_ckpt")
    val raw = tmpDir("stream_raw")
    def land(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(pagesDir, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content)
    }
    land("apples/summary.html",
      s"<html>${page(2)}</html>")
    land("pears/summary.html",
      s"<html>${page(1)}</html>")
    DailyRun.ingestPagesStream(spark, pagesDir, "2026-08-12", checkpoint, raw)
      .awaitTermination()
    val first = spark.read.parquet(raw)
    assert(first.count() == 3) // totals rows dropped: 2 + 1
    assert(first.select("commodity").distinct().count() == 2)

    // a new page lands; restart from the same checkpoint → only the new
    // file is processed, prior output is untouched
    land("plums/summary.html", s"<html>${page(4)}</html>")
    DailyRun.ingestPagesStream(spark, pagesDir, "2026-08-12", checkpoint, raw)
      .awaitTermination()
    val second = spark.read.parquet(raw)
    assert(second.count() == 7)
    assert(second.filter(col("commodity") === "plums").count() == 4)
    assert(second.filter(col("commodity") =!= "plums").count() == 3)

    // restart with nothing new: a no-op
    DailyRun.ingestPagesStream(spark, pagesDir, "2026-08-12", checkpoint, raw)
      .awaitTermination()
    assert(spark.read.parquet(raw).count() == 7)
  }

  test("ingestPagesStream: killed mid-run, restart lands exactly-once") {
    val pagesDir = tmpDir("kill_pages")
    val checkpoint = tmpDir("kill_ckpt")
    val raw = tmpDir("kill_raw")
    def land(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(pagesDir, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content)
    }
    val commodities = Seq("apples", "pears", "plums", "grapes", "melons")
    commodities.zipWithIndex.foreach { case (c, i) =>
      land(s"$c/summary.html", s"<html>${page(i + 1)}</html>")
    }
    // kill WITHOUT draining — depending on timing this interrupts batch 0
    // before, during, or after its foreachBatch write (all three must
    // recover identically: an uncommitted batch is re-run under the same
    // batch id and its dynamic-overwrite partitions are replaced, a
    // committed one is not re-run)
    val q = DailyRun.ingestPagesStream(spark, pagesDir, "2026-08-12", checkpoint, raw)
    q.stop()
    // restart drains to completion; the raw layer must hold each page's
    // rows exactly once, whatever the kill interrupted
    DailyRun.ingestPagesStream(spark, pagesDir, "2026-08-12", checkpoint, raw)
      .awaitTermination()
    val out = spark.read.parquet(raw)
    assert(out.count() == (1 to 5).sum) // page(i) yields i non-total rows
    assert(out.groupBy(col("commodity"), col("container")).count()
      .filter(col("count") > 1).count() == 0, "no duplicated (page, row)")
    assert(out.select("commodity").distinct().count() == 5)
  }

  test("changedPages gate: unchanged pruned, changed and new pass") {
    import spark.implicits._
    val prior = Seq(("a.html", "h1"), ("b.html", "h2")).toDF("page_path", "table_hash")
    val current = Seq(
      ("a.html", "h1"),   // unchanged → pruned
      ("b.html", "hX"),   // content changed → kept
      ("c.html", "h3")    // new page → kept
    ).toDF("page_path", "table_hash")
    val kept = MarketPipeline.changedPages(current, prior)
      .select("page_path").collect().map(_.getString(0)).toSet
    assert(kept == Set("b.html", "c.html"))
  }

  test("missing page is NOT marked complete; retry with the page ingests it") {
    val dir = landPages(tmpDir("partial_pages"), Map("apples" -> (pages(1)("apples") - "variety")))
    val raw = tmpDir("partial_raw")
    val ledger = tmpDir("partial_ledger")
    assert(DailyRun.day(spark, dir, "2026-08-12", raw, ledger) == Seq("apples"))
    // variety absent → not committed, commodity still pending
    assert(MarketPipeline.readLedger(spark, ledger, "2026-08-12").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap ==
      Map("apples" -> Set("summary", "container")))
    landPages(dir, pages(1))
    val r2 = DailyRun.day(spark, dir, "2026-08-12", raw, ledger)
    assert(r2 == Seq("apples"))
    assert(MarketPipeline.readRaw(spark, raw, "parquet")
      .filter(col("link_type") === "variety").count() > 0)
    assert(DailyRun.day(spark, dir, "2026-08-12", raw, ledger).isEmpty)
  }

  test("latestWins upsert: newer version wins, update beats base on tie") {
    import spark.implicits._
    val base = Seq((1L, "old", 1L), (2L, "keep", 1L), (3L, "tie-base", 5L))
      .toDF("k", "v", "version")
    val updates = Seq((1L, "new", 2L), (3L, "tie-update", 5L), (4L, "insert", 1L))
      .toDF("k", "v", "version")
    val merged = graft.ingest.Upsert.latestWins(base, updates, Seq("k"), "version")
      .orderBy("k").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged == Map(1L -> "new", 2L -> "keep", 3L -> "tie-update", 4L -> "insert"))
  }

  test("scd2: NULL attribute transitions version null-safely") {
    import spark.implicits._
    // key 1: a -> NULL -> NULL -> a : three versions (a, NULL, a) —
    // NULL→NULL is NOT a change, X→NULL and NULL→X are; first row always is
    val obs = Seq((1L, 1L, Option("a")), (1L, 2L, None),
      (1L, 3L, None), (1L, 4L, Option("a")))
      .toDF("k", "ts", "attr")
    val hist = graft.ingest.Upsert.scd2(obs, Seq("k"), "ts", "ts", Seq("attr"))
      .orderBy("version").collect()
      .map(r => (r.getLong(4), Option(r.getString(1)), r.getLong(5) == 1L))
    assert(hist.toSeq == Seq((1L, Some("a"), false), (2L, None, false),
      (3L, Some("a"), true)))
  }

  test("typed record layer: normalized rows as Dataset[MarketRecord]") {
    val dir = landPages(tmpDir("typed_pages"), pages(1))
    val raw = tmpDir("typed_raw")
    val ledger = tmpDir("typed_ledger")
    DailyRun.day(spark, dir, "2026-08-12", raw, ledger)
    val records = MarketPipeline.toRecords(MarketPipeline.readRaw(spark, raw, "parquet"))
    val r = records.filter(_.commodity == "apples").collect()
    assert(r.nonEmpty)
    assert(r.forall(_.scrape_date.toString == "2026-08-12"))
    val bag1 = r.filter(_.container.contains("Bag 1")).filter(_.link_type == "summary").head
    assert(bag1.price_r.exists(_.doubleValue == 10.0))
    assert(bag1.total_value_sold.exists(_.doubleValue == 100.0))
    assert(bag1.total_quantity_sold.contains(1L))
  }
}
