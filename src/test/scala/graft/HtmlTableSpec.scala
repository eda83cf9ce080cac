package graft

import graft.sources.HtmlTable

class HtmlTableSpec extends SparkSpec {

  // FIXTURES.md A3 shape: table.alltable, thead th.header, td.tleft2/tleft.
  val page: String =
    """<html><body>
      |<div id="right2"><b>  12 August 2026 </b></div>
      |<iframe><table class="alltable">
      |<thead><tr>
      |  <th class="header">Container</th>
      |  <th class="header">Price (R)</th>
      |  <th class="header">Total Qty Sold</th>
      |</tr></thead>
      |<tbody>
      |<tr><td class="tleft2">10kg Bag</td><td class="tleft">R 1,234.50</td><td class="tleft"> 42 </td></tr>
      |<tr><td class="tleft2">5kg &amp; Box</td><td class="tleft">99.00</td><td class="tleft">7</td></tr>
      |<tr><td class="tleft2">Total</td><td class="tleft">1,333.50</td><td class="tleft">49</td></tr>
      |</tbody></table></iframe>
      |</body></html>""".stripMargin

  test("parses headers, cells, entities, and strips whitespace") {
    val p = HtmlTable.parse(page).get
    assert(p.headers == Seq("Container", "Price (R)", "Total Qty Sold"))
    assert(p.rows.size == 3)
    assert(p.rows.head == Seq("10kg Bag", "R 1,234.50", "42"))
    assert(p.rows(1).head == "5kg & Box")
  }

  test("missing table / thead / tbody yields None (reference table_scraper.py:11)") {
    assert(HtmlTable.parse("<html><p>no table</p></html>").isEmpty)
    assert(HtmlTable.parse("<table class='alltable'><tbody></tbody></table>").isEmpty)
    assert(HtmlTable.parse(
      "<table class='alltable'><thead><th class='header'>A</th></thead></table>").isEmpty)
    assert(HtmlTable.parse("<table class='other'><thead><th class='header'>A</th></thead><tbody></tbody></table>").isEmpty)
  }

  test("short rows are padded to header arity (drift tolerance)") {
    val html =
      """<table class="alltable"><thead>
        |<th class="header">A</th><th class="header">B</th></thead>
        |<tbody><tr><td class="tleft2">x</td></tr></tbody></table>""".stripMargin
    assert(HtmlTable.parse(html).get.rows == Seq(Seq("x", "")))
  }

  test("scrapeDate extracts div#right2 > b text (reference date_scraper.py)") {
    assert(HtmlTable.scrapeDate(page).contains("12 August 2026"))
    assert(HtmlTable.scrapeDate("<div id='other'><b>x</b></div>").isEmpty)
  }

  test("duplicate scraped headers are disambiguated in the frame schema") {
    val html =
      """<table class="alltable"><thead>
        |<th class="header">Price (R)</th><th class="header">Price (R)</th></thead>
        |<tbody><tr><td class="tleft2">1</td><td class="tleft">2</td></tr></tbody></table>""".stripMargin
    val df = HtmlTable.ingest(spark, html)
    assert(df.columns.toSeq == Seq("Price (R)", "Price (R)_2"))
    // and the downstream enrich fold no longer hits AMBIGUOUS_REFERENCE
    val enriched = graft.ingest.MarketPipeline.enrich(df, "2026-08-12", "c", "summary", "r")
    assert(enriched.count() == 1)
  }

  test("distributed parse path: readPages + ParseHtmlTable Generator match the driver-side parse") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("pages")
    java.nio.file.Files.createDirectories(dir.resolve("apples"))
    java.nio.file.Files.writeString(dir.resolve("apples/summary.html"), page)
    java.nio.file.Files.writeString(dir.resolve("apples/container.html"),
      "<html><p>no table today</p></html>")
    val parsed = HtmlTable.parsePages(
      HtmlTable.readPages(spark, s"$dir/*/*.html"))
    val rows = parsed.orderBy(col("row_idx")).collect()
    // the no-table page contributes zero rows; the parser's own output
    // must equal the driver-side parse of the same page
    val expect = HtmlTable.parse(page).get
    assert(rows.length == expect.rows.size)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("page_path").endsWith("apples/summary.html"))
      assert(r.getAs[String]("scrape_date") == "12 August 2026")
      assert(r.getAs[Int]("row_idx") == i)
      assert(r.getSeq[String](r.fieldIndex("headers")) == expect.headers)
      assert(r.getSeq[String](r.fieldIndex("cells")) == expect.rows(i))
    }
    // executor-side header binding: canonical names map cells positionally
    val bound = graft.ingest.MarketPipeline.fromParsedPages(parsed)
      .orderBy(col("row_idx")).collect()
    assert(bound.head.getAs[String]("container") == "10kg Bag")
    assert(bound.head.getAs[java.math.BigDecimal]("price_r")
      .compareTo(new java.math.BigDecimal("1234.50")) == 0)
    // "Total Qty Sold" is a declared synonym of total_quantity_sold
    // (MarketPipeline.HeaderSynonyms) → binds through the drift dictionary
    assert(bound.head.getAs[Long]("total_quantity_sold") == 42L)
  }

  test("DailyRun.day lands a cleaned partitioned raw layer from page files") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("pages2")
    java.nio.file.Files.createDirectories(dir.resolve("apples"))
    java.nio.file.Files.writeString(dir.resolve("apples/summary.html"),
      graft.queries.MarketQueries.FixturePage)
    val root = java.nio.file.Files.createTempDirectory("raw").toString
    val rawRoot = s"$root/raw"
    assert(graft.ingest.DailyRun.day(
      spark, dir.toString, "2026-08-12", rawRoot, s"$root/ledger") == Seq("apples"))
    // totals row dropped, metadata stamped from the path + page date
    val back = spark.read.parquet(rawRoot)
    assert(back.count() == 2)
    val r = back.filter(col("container") === "10kg Bag").head()
    assert(r.getAs[String]("commodity") == "apples")
    assert(r.getAs[String]("link_type") == "summary")
    // partition-column type inference reads the date partition back as DATE
    assert(String.valueOf(r.getAs[Any]("scrape_date")) == "2026-08-12")
    assert(r.getAs[Long]("total_quantity_sold") == 10L)
  }

  test("ingest produces a DataFrame with the dynamic all-string schema") {
    val df = HtmlTable.ingest(spark, page)
    assert(df.columns.toSeq == Seq("Container", "Price (R)", "Total Qty Sold"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 3)
    assert(HtmlTable.ingest(spark, "<p/>").isEmpty)
  }
}
