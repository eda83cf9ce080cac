package graft

import org.apache.spark.sql.functions._

import graft.ingest.MarketPipeline
import graft.sources.HtmlTable

/** End-to-end EP3 pipeline (SURVEY.md §3): parse → enrich → classify →
  * filter → normalize → partitioned sink, plus the incremental ledger
  * semantics (ST1/ST2: idempotent re-runs, anti-join pending).
  */
class MarketPipelineSpec extends SparkSpec {
  import MarketPipeline._

  val html: String =
    """<table class="alltable"><thead>
      |<th class="header">Container</th>
      |<th class="header">Price (R)</th>
      |<th class="header">Total Value Sold</th>
      |<th class="header">Total Quantity Sold</th></thead>
      |<tbody>
      |<tr><td class="tleft2">10kg Bag</td><td class="tleft">R 1,234.50</td><td class="tleft">R 12,345.00</td><td class="tleft">10</td></tr>
      |<tr><td class="tleft2">Box</td><td class="tleft">99.00</td><td class="tleft">990.00</td><td class="tleft">10</td></tr>
      |<tr><td class="tleft2">Grand Total</td><td class="tleft"></td><td class="tleft">13,335.00</td><td class="tleft">20</td></tr>
      |</tbody></table>""".stripMargin

  def ingestOne(commodity: String): org.apache.spark.sql.DataFrame =
    enrich(HtmlTable.ingest(spark, html), "2026-08-12", commodity, "summary", "2026-08-12")

  test("enrich appends the four metadata literals (div_link_handler.py:282-285)") {
    val df = ingestOne("apples_golden")
    assert(df.columns.takeRight(4).toSeq == MetaCols)
    val r = df.select("commodity", "link_type", "ingestion_run_id").head()
    assert(r.getString(0) == "apples_golden" && r.getString(1) == "summary")
  }

  test("dropTotalsRows removes total/summary rows (div_link_handler.py:238-245)") {
    val df = ingestOne("apples")
    assert(df.count() == 3)
    assert(dropTotalsRows(df).count() == 2)
  }

  test("classify: multi vs single container (div_link_handler.py:248-253)") {
    assert(!classify(ingestOne("apples")).isSingleContainer)
    val single = ingestOne("apples").limit(1)
    val c = classify(single)
    assert(c.isSingleContainer && c.structure == "single_container")
  }

  test("normalize: canonical names + money/long casts survive separators") {
    val n = normalize(dropTotalsRows(ingestOne("apples")))
    assert(n.columns.contains("price_r") && n.columns.contains("total_value_sold"))
    val r = n.orderBy(desc("total_value_sold")).head()
    assert(r.getAs[java.math.BigDecimal]("total_value_sold").doubleValue() == 12345.0)
    assert(r.getAs[Long]("total_quantity_sold") == 10L)
    assert(r.getAs[java.sql.Date]("scrape_date").toString == "2026-08-12")
  }

  test("union with header drift fills missing columns with null (§2.7)") {
    val a = ingestOne("apples")
    val b = enrich(HtmlTable.ingest(spark,
      html.replace("Total Quantity Sold", "Total Kg Sold")), "2026-08-12", "pears", "summary", "r")
    val u = unionDrifting(Seq(a, b))
    assert(u.count() == 6)
    assert(u.filter(col("commodity") === "pears" && col("Total Quantity Sold").isNull).count() == 3)
  }

  test("synonym dictionary folds RENAMED headers into canonical measures") {
    // same table, headers renamed the way real pages drift: "Unit Price",
    // "Value Sold", "Qty Sold"
    val drifted = html
      .replace("Price (R)", "Unit Price")
      .replace("Total Value Sold", "Value Sold")
      .replace("Total Quantity Sold", "Qty Sold")
    val a = normalize(dropTotalsRows(ingestOne("apples")))
    val b = normalize(dropTotalsRows(
      enrich(HtmlTable.ingest(spark, drifted), "2026-08-13", "pears", "summary", "r")))
    // both normalize to the SAME canonical measure columns...
    for (c <- Seq("price_r", "total_value_sold", "total_quantity_sold")) {
      assert(a.columns.contains(c), s"canonical page missing $c")
      assert(b.columns.contains(c), s"drifted page missing $c")
    }
    // ...so the union has no drift-nulls and the typed values line up
    val u = unionDrifting(Seq(a, b))
    assert(u.count() == 4)
    assert(u.filter(col("price_r").isNull || col("total_value_sold").isNull
      || col("total_quantity_sold").isNull).count() == 0)
    assert(u.filter(col("commodity") === "pears")
      .agg(sum(col("total_quantity_sold"))).head.getLong(0) == 20L)
  }

  test("fromParsedPages binds drifted headers through the synonym map") {
    import spark.implicits._
    val parsed = Seq(
      ("p1.html", "2026-08-12", 0L,
        Seq("Container", "Unit Price", "Value Sold", "Qty Sold"),
        Seq("Crate", "R 10.00", "100.00", "10")),
      ("p2.html", "2026-08-12", 0L,
        Seq("Container", "Price (R)", "Total Value Sold", "Total Quantity Sold"),
        Seq("Bag", "20.00", "200.00", "10")),
    ).toDF("page_path", "scrape_date", "row_idx", "headers", "cells")
    val out = fromParsedPages(parsed).orderBy("page_path").collect()
    assert(out(0).getAs[java.math.BigDecimal]("price_r").doubleValue() == 10.0)
    assert(out(0).getAs[java.math.BigDecimal]("total_value_sold").doubleValue() == 100.0)
    assert(out(0).getAs[Long]("total_quantity_sold") == 10L)
    assert(out(1).getAs[java.math.BigDecimal]("price_r").doubleValue() == 20.0)
  }

  test("partitioned raw sink is idempotent under re-runs (ST2)") {
    val root = tmpDir("raw")
    writeRaw(ingestOne("apples"), root)
    writeRaw(ingestOne("pears"), root)
    val first = readRaw(spark, root).count()
    // re-run the apples batch: dynamic partition overwrite → no duplication
    writeRaw(ingestOne("apples"), root)
    assert(readRaw(spark, root).count() == first)
    assert(readRaw(spark, root).select("commodity").distinct().count() == 2)
  }

  test("writeRaw leaves the session's partition overwrite mode alone") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key) // the session default: static
    val before = spark.conf.get(key)
    writeRaw(ingestOne("apples"), tmpDir("raw_conf"))
    assert(spark.conf.get(key) == before)
    // a static partitioned overwrite in the same session still replaces
    // the whole table, stale partitions included
    val root = tmpDir("static_after_raw")
    Seq((1, "a"), (2, "b")).toDF("v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(root)
    Seq((3, "a")).toDF("v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(root)
    assert(spark.read.parquet(root).select("p").distinct()
      .collect().map(_.getString(0)).toSet == Set("a"))
  }

  test("partition pruning reaches the raw-layer scan") {
    val root = tmpDir("prune_raw")
    writeRaw(ingestOne("apples"), root)
    writeRaw(ingestOne("pears"), root)
    val pruned = readRaw(spark, root).filter(col("commodity") === "apples")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("(commodity"),
      s"commodity filter should prune partitions:\n$scan")
    assert(pruned.count() == 3)
  }

  test("ledger + anti-join pending + completeness predicate (F4/F5)") {
    import spark.implicits._
    val ledger = tmpDir("ledger")
    val all = Seq("apples", "pears", "plums").toDF("commodity")
    val expected = Seq("summary", "container", "variety")
    recordCompleted(spark, ledger, "apples", expected, "2026-08-12")
    recordCompleted(spark, ledger, "pears", Seq("summary"), "2026-08-12")
    val p = MarketPipeline.pending(all, spark, ledger, "2026-08-12", expected)
      .orderBy("commodity").collect().map(_.getString(0)).toSeq
    // apples fully complete → skipped; pears partial → still pending
    assert(p == Seq("pears", "plums"))
    // re-recording is idempotent (collect_set dedups)
    recordCompleted(spark, ledger, "apples", expected, "2026-08-12")
    assert(MarketPipeline.pending(all, spark, ledger, "2026-08-12", expected).count() == 2)
  }
}
