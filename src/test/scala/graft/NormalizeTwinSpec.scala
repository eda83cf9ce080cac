package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ArrayTransform

import graft.ingest.{DailyRun, MarketPipeline}
import graft.queries.MarketQueries
import graft.sources.HtmlTable

/** The header binding that canonicalizes a row's headers once equals its
  * inlined twin ([[NormalizeTwin]]) row for row, and its optimized plan
  * holds a fraction of the twin's header transforms.
  */
class NormalizeTwinSpec extends SparkSpec {

  val day = "2026-08-12"

  /** (page_path, scrape_date, row_idx, headers, cells), as parsePages emits. */
  def parsed(rows: (String, String, Int, Seq[String], Seq[String])*): DataFrame = {
    import spark.implicits._
    rows.toDF("page_path", "scrape_date", "row_idx", "headers", "cells")
  }

  def assertTwin(in: DataFrame): Unit = {
    val got = DailyRun.normalizeParsedPages(in, day)
    val want = NormalizeTwin.normalizeParsedPages(in, day)
    assert(got.schema == want.schema)
    assert(got.collect().toSeq == want.collect().toSeq)
    val head = MarketPipeline.fromParsedPages(in)
    val headTwin = NormalizeTwin.fromParsedPages(in)
    assert(head.schema == headTwin.schema)
    assert(head.collect().toSeq == headTwin.collect().toSeq)
  }

  def transforms(df: DataFrame): Int =
    df.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case t: ArrayTransform => t })).size

  val canonical = Seq("Container", "Price (R)", "Total Value Sold", "Total Quantity Sold")

  test("drifted headers, synonyms and missing measures bind like the twin") {
    assertTwin(parsed(
      ("/p/apples/summary.html", day, 0, canonical, Seq("10kg Bag", "R 1,234.50", "R 12,345.00", "10")),
      ("/p/apples/summary.html", day, 1, canonical, Seq("Box", "99.00", "990.00", "10")),
      ("/p/pears/summary.html", null, 0,
        Seq(" CONTAINER ", "Unit Price", "Value Sold", "Qty Sold"), Seq("Crate", "10", "100", "1")),
      ("/p/plums/container.html", day, 0,
        Seq("Container", "Price per unit", "Total Value", "Total Qty Sold"), Seq("Tray", "5", "50", "2")),
      ("/p/figs/variety.html", day, 0,
        Seq("Container", "Price"), Seq("Sack", "7.50")),
      ("/p/kiwi/summary.html", day, 0,
        Seq("Variety", "Total Kg Sold"), Seq("Hayward", "12")),
      // a synonym and its canonical header on one page: canonical first,
      // and an empty canonical cell still wins over the synonym
      ("/p/lime/summary.html", day, 0,
        Seq("Container", "Unit Price", "Price (R)"), Seq("Bag", "3.00", "4.00")),
      ("/p/lime/summary.html", day, 1,
        Seq("Container", "Unit Price", "Price (R)"), Seq("Bag", "3.00", "")),
      ("/p/none/summary.html", day, 0, Seq.empty[String], Seq.empty[String])))
  }

  test("duplicate headers bind the first column, like the twin") {
    assertTwin(parsed(
      ("/p/apples/summary.html", day, 0,
        Seq("Container", "Price (R)", "Price (R)", "Total Value Sold", "Container"),
        Seq("Bag", "1.00", "2.00", "3.00", "Box"))))
  }

  test("the container-only totals filter drops the rows the twin drops") {
    assertTwin(parsed(
      ("/p/apples/summary.html", day, 0, canonical, Seq("Bag", "1.00", "2.00", "3")),
      ("/p/apples/summary.html", day, 1, canonical, Seq("Grand Total", "", "13,335.00", "20")),
      ("/p/apples/summary.html", day, 2, canonical, Seq("Monthly SUMMARY", "1", "2", "3")),
      ("/p/apples/summary.html", day, 3, canonical, Seq("subtotal crate", "1", "2", "3")),
      // a null container is kept, as the twin's concat_ws keeps it
      ("/p/apples/summary.html", day, 4, canonical, Seq(null, "1.00", "2.00", "3")),
      ("/p/pears/summary.html", day, 0, Seq("Price (R)", "Total Value Sold"), Seq("1.00", "2.00")),
      // business text that parses to a number or null never reads "total"
      ("/p/pears/summary.html", day, 1, canonical, Seq("Bag", "R total", "summary", "Total"))))
    val kept = DailyRun.normalizeParsedPages(parsed(
      ("/p/a/summary.html", day, 0, canonical, Seq("Grand Total", "", "1", "2")),
      ("/p/a/summary.html", day, 1, canonical, Seq(null, "1", "1", "2"))), day).collect()
    assert(kept.length == 1 && kept.head.isNullAt(kept.head.fieldIndex("container")))
  }

  test("parsed market pages normalize like the twin, with 2 header transforms, not 204") {
    val dir = Files.createTempDirectory("normalize_twin")
    for ((rel, html) <- Seq(
        "apples_golden_delicious/summary.html" -> MarketQueries.FixturePage,
        "oranges_navel/summary.html" -> MarketQueries.FixturePageB,
        "oranges_navel/container.html" -> MarketQueries.FixturePageB2,
        "pears/variety.html" -> MarketQueries.FixturePageDrifted)) {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, html)
    }
    val pages = HtmlTable.parsePages(HtmlTable.readPages(spark, s"$dir/*/*.html"))
    assertTwin(pages)
    val got = transforms(DailyRun.normalizeParsedPages(pages, day))
    val twin = transforms(NormalizeTwin.normalizeParsedPages(pages, day))
    info(s"ArrayTransform nodes in the optimized plan: $got (twin: $twin)")
    assert(got == 2 && twin == 204)
  }
}
