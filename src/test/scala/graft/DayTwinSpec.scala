package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.ingest.{DailyRun, MarketPipeline}
import graft.tools.Inspect

object DayTwinSpec {
  /** A table's headers and body rows; `seed` varies the cells. */
  final case class Table(headers: Seq[String], seed: Int, rows: Int)
}

/** `DailyRun.day` against its exact twin, `DayTwin`, over a multi-day
  * sequence; its crash, retry and replay contract; and its Spark actions.
  */
class DayTwinSpec extends SparkSpec {
  import DayTwinSpec.Table

  private val Canonical = Seq("Container", "Price (R)", "Total Value Sold", "Total Quantity Sold")
  private val Drifted = Seq("Container", "Unit Price", "Value Sold", "Qty Sold")

  private def page(date: String, table: Option[Table]): String = {
    val body = table.fold("<p>No market data published for this commodity today.</p>") { t =>
      val cells = (1 to t.rows).map(i => Seq(s"Box ${t.seed}-$i", s"R ${t.seed}$i.50",
        s"${t.seed},${i}00.00", s"$i")) :+ Seq("Total", "", "", s"${t.rows}")
      s"""<table class="alltable"><thead>
         |${t.headers.map(h => s"""<th class="header">$h</th>""").mkString("\n")}</thead>
         |<tbody>
         |${cells.map(_.map(c => s"""<td class="tleft">$c</td>""").mkString("<tr>", "", "</tr>"))
              .mkString("\n")}
         |</tbody></table>""".stripMargin
    }
    s"""<html><div id="right2"><b>$date</b></div>
       |$body</html>""".stripMargin
  }

  /** One day's page files under a fresh root: commodity → link type →
    * (date div, table or none).
    */
  private def landDay(name: String,
      pages: Map[String, Map[String, (String, Option[Table])]]): String = {
    val root = tmpDir(name)
    for ((c, byType) <- pages; (t, (date, table)) <- byType) {
      val p = Paths.get(root, c, s"$t.html")
      Files.createDirectories(p.getParent)
      Files.writeString(p, page(date, table))
    }
    root
  }

  private def rawRows(raw: String): Seq[String] =
    MarketPipeline.readRaw(spark, raw, "parquet").collect().map(_.toString).toSeq.sorted

  private def rawSha(raw: String): String =
    MessageDigest.getInstance("SHA-256").digest(rawRows(raw).mkString("\n").getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  private def pendingSet(pagesRoot: String, ledger: String, date: String): Set[String] = {
    import spark.implicits._
    MarketPipeline.pending(new java.io.File(pagesRoot).list().toSeq.toDF("commodity"),
      spark, ledger, date, DailyRun.ExpectedLinkTypes).as[String].collect().toSet
  }

  private def landed(raw: String, commodity: String, linkType: String, date: String): Long =
    MarketPipeline.readRaw(spark, raw, "parquet")
      .filter(col("commodity") === commodity && col("link_type") === linkType &&
        col("scrape_date") === date).count()

  /** `dir` through a file system whose rename fails, so a ledger commit
    * there throws after the day has landed.
    */
  private def failingRename(dir: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.renamefails.impl", classOf[RenameFailsFileSystem].getName)
    s"renamefails://${new java.io.File(dir).getAbsolutePath}"
  }

  private val (d1, d2, d3, d4) = ("2026-08-01", "2026-08-02", "2026-08-03", "2026-08-04")
  private val A = Table(Canonical, 1, 3)
  private val B = Table(Canonical, 2, 2)

  /** The sequence's days: an unchanged page, content A → B → A, a page
    * with no table, drifted headers, a date div naming another day, and a
    * day whose pages are all unchanged.
    */
  private lazy val season: Map[String, String] = {
    val c1 = Table(Canonical, 3, 4)
    val v1 = Table(Canonical, 4, 2)
    val v2 = Table(Drifted, 5, 3)
    val p = (1 to 3).map(i => Table(Canonical, 10 + i, i))
    val p4 = Table(Canonical, 14, 2)
    val s = (1 to 3).map(i => Table(Canonical, 20 + i, i + 1))
    def day(date: String, apples: (Table, Table, Table), pearsSummary: (String, Table),
        plums: (Option[Table], Option[Table])) = Map(
      "apples" -> Map("summary" -> (date, Some(apples._1)),
        "container" -> (date, Some(apples._2)), "variety" -> (date, Some(apples._3))),
      "pears" -> Map("summary" -> (pearsSummary._1, Some(pearsSummary._2)),
        "container" -> (date, Some(p(1))), "variety" -> (date, Some(p(2)))),
      "plums" -> Map("summary" -> (date, plums._1),
        "container" -> (date, Some(s(1))), "variety" -> (date, plums._2)))
    Map(
      d1 -> landDay("twin_d1", day(d1, (A, c1, v1), (d1, p(0)), (Some(s(0)), None))),
      // apples: A → B, container unchanged, variety with drifted headers;
      // pears' summary names another day; plums' summary loses its table
      d2 -> landDay("twin_d2", day(d2, (B, c1, v2), ("2026-07-30", p4), (None, Some(s(2))))),
      // apples' summary is A again; plums' summary has its day-1 table again
      d3 -> landDay("twin_d3", day(d3, (A, c1, v2), (d3, p4), (Some(s(0)), Some(s(2))))),
      d4 -> landDay("twin_d4", day(d4, (A, c1, v2), (d4, p4), (Some(s(0)), Some(s(2))))))
  }

  test("day equals its twin after every day, replays included") {
    val (raw, ledger) = (tmpDir("day_raw"), tmpDir("day_ledger"))
    val (twinRaw, twinLedger) = (tmpDir("twin_raw"), tmpDir("twin_ledger"))
    val twin = new DayTwin(spark, twinRaw, twinLedger)
    val ops = Seq(d1, d2, d3, d3, d1, d4)
    var before = Seq.empty[String]
    for ((date, i) <- ops.zipWithIndex) {
      val pages = season(date)
      val got = DailyRun.day(spark, pages, date, raw, ledger)
      val want = twin.day(pages, date)
      assert(got == want, s"op $i ($date): committed")
      val rows = rawRows(raw)
      assert(rows == rawRows(twinRaw), s"op $i ($date): raw layer")
      assert(pendingSet(pages, ledger, date) == pendingSet(pages, twinLedger, date),
        s"op $i ($date): pending")
      assert(pendingSet(pages, ledger, date).isEmpty)
      val replay = ops.indexOf(date) < i
      assert(got == (if (replay) Nil else Seq("apples", "pears", "plums")), s"op $i")
      if (replay || date == d4) assert(rows == before, s"op $i ($date) lands nothing")
      before = rows
    }
    // what the sequence exercised
    assert(landed(raw, "apples", "summary", d2) == 2)
    assert(landed(raw, "apples", "summary", d3) == 3, "A lands again after B")
    assert(landed(raw, "apples", "container", d2) == 0, "unchanged page pruned")
    assert(landed(raw, "apples", "variety", d2) == 3, "drifted headers bind")
    assert(MarketPipeline.readRaw(spark, raw, "parquet")
      .filter(col("link_type") === "variety" && col("commodity") === "apples" &&
        col("scrape_date") === d2 && col("total_quantity_sold").isNull).count() == 0)
    assert(landed(raw, "pears", "summary", "2026-07-30") == 2, "the page's own date")
    assert(landed(raw, "pears", "summary", d2) == 0)
    assert(landed(raw, "plums", "summary", d2) == 0, "no table, no rows")
    assert(landed(raw, "plums", "summary", d3) == 0, "gated against the last table")
    assert(landed(raw, "plums", "variety", d2) == 4)
  }

  test("a day whose ledger commit fails replays to an identical raw layer") {
    val (rawU, ledgerU) = (tmpDir("crash_raw_u"), tmpDir("crash_ledger_u"))
    Seq(d1, d2).foreach(d => DailyRun.day(spark, season(d), d, rawU, ledgerU))

    val (raw, ledger) = (tmpDir("crash_raw"), tmpDir("crash_ledger"))
    DailyRun.day(spark, season(d1), d1, raw, ledger)
    val ledgerFiles = new java.io.File(ledger).list().toSet
    val e = intercept[java.io.IOException] {
      DailyRun.day(spark, season(d2), d2, raw, failingRename(ledger))
    }
    assert(e.getMessage.contains("rename"))
    // the day landed, then its commit failed: the ledger is as it was
    assert(new java.io.File(ledger).list().toSet == ledgerFiles)
    assert(landed(raw, "apples", "summary", d2) == 2)
    assert(pendingSet(season(d2), ledger, d2) == Set("apples", "pears", "plums"))

    assert(DailyRun.day(spark, season(d2), d2, raw, ledger) == Seq("apples", "pears", "plums"))
    assert(rawSha(raw) == rawSha(rawU))
    assert(DailyRun.day(spark, season(d2), d2, raw, ledger).isEmpty)
    assert(rawSha(raw) == rawSha(rawU))
  }

  test("a day retried after a page changed gates the next day against the retry") {
    val c = Table(Canonical, 30, 2)
    val v = Table(Canonical, 31, 2)
    val x = Table(Canonical, 32, 4)
    def apples(date: String, summary: Table) = landDay(s"retry_$date",
      Map("apples" -> Map("summary" -> (date, Some(summary)),
        "container" -> (date, Some(c)), "variety" -> (date, Some(v)))))
    val (raw, ledger) = (tmpDir("retry_raw"), tmpDir("retry_ledger"))
    DailyRun.day(spark, apples(d1, A), d1, raw, ledger)
    val day2 = apples(d2, B)
    intercept[java.io.IOException] {
      DailyRun.day(spark, day2, d2, raw, failingRename(ledger))
    }
    assert(landed(raw, "apples", "summary", d2) == 2)
    // the page changes before the retry
    Files.writeString(Paths.get(day2, "apples", "summary.html"), page(d2, Some(x)))
    assert(DailyRun.day(spark, day2, d2, raw, ledger) == Seq("apples"))
    assert(landed(raw, "apples", "summary", d2) == 4, "the retry's content replaced B's")
    // day 3 repeats the retry's content: unchanged, so nothing lands
    assert(DailyRun.day(spark, apples(d3, x), d3, raw, ledger) == Seq("apples"))
    assert(landed(raw, "apples", "summary", d3) == 0)
    // day 4 goes back to B, which no committed day held last: it lands
    assert(DailyRun.day(spark, apples(d4, B), d4, raw, ledger) == Seq("apples"))
    assert(landed(raw, "apples", "summary", d4) == 2)
  }

  test("a day committed twice gates the next day against its later commit") {
    val c = Table(Canonical, 40, 2)
    val v = Table(Canonical, 41, 2)
    val dir = landDay("twice_d1", Map("apples" -> Map(
      "summary" -> (d1, Some(A)), "container" -> (d1, Some(c)))))
    val (raw, ledger) = (tmpDir("twice_raw"), tmpDir("twice_ledger"))
    // variety absent: summary and container commit, apples stays pending
    assert(DailyRun.day(spark, dir, d1, raw, ledger) == Seq("apples"))
    Files.writeString(Paths.get(dir, "apples", "summary.html"), page(d1, Some(B)))
    Files.writeString(Paths.get(dir, "apples", "variety.html"), page(d1, Some(v)))
    assert(DailyRun.day(spark, dir, d1, raw, ledger) == Seq("apples"))
    assert(landed(raw, "apples", "summary", d1) == 2)
    // day 1 holds A and then B for the summary: B, the later commit, gates
    val day2 = landDay("twice_d2", Map("apples" -> Map("summary" -> (d2, Some(B)),
      "container" -> (d2, Some(c)), "variety" -> (d2, Some(v)))))
    assert(DailyRun.day(spark, day2, d2, raw, ledger) == Seq("apples"))
    assert(landed(raw, "apples", "summary", d2) == 0)
  }

  test("a commodity whose directory name needs URI escaping lands before it commits") {
    val dir = landDay("escaped", Map("red apples" -> Map("summary" -> (d1, Some(A)),
      "container" -> (d1, Some(B)), "variety" -> (d1, None))))
    val (raw, ledger) = (tmpDir("escaped_raw"), tmpDir("escaped_ledger"))
    // names are path segments as Spark's file URIs spell them, in the raw
    // layer (`normalizeParsedPages`) and in the ledger alike
    assert(DailyRun.day(spark, dir, d1, raw, ledger) == Seq("red%20apples"))
    assert(landed(raw, "red%20apples", "summary", d1) == 3)
    assert(landed(raw, "red%20apples", "container", d1) == 2)
    assert(DailyRun.day(spark, dir, d1, raw, ledger).isEmpty)
  }

  test("a replay of a complete day is one collect action") {
    val (raw, ledger) = (tmpDir("jobs_raw"), tmpDir("jobs_ledger"))
    def report(what: String, r: Inspect.Report): Unit =
      info(s"$what: ${r.jobs} jobs, ${r.stages} stages, " +
        s"actions ${r.actions.map(_.name).mkString(", ")}")
    report("fresh day over an empty ledger",
      Inspect.run(spark) { DailyRun.day(spark, season(d1), d1, raw, ledger) })
    report("fresh day over a one-day ledger",
      Inspect.run(spark) { DailyRun.day(spark, season(d2), d2, raw, ledger) })
    val replay = Inspect.run(spark) {
      assert(DailyRun.day(spark, season(d2), d2, raw, ledger).isEmpty)
    }
    report("replay", replay)
    assert(replay.actions.map(_.name) == Seq("collect"))
  }
}
