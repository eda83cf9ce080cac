package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

import graft.ingest.MarketPipeline
import graft.sources.HtmlTable
import graft.tools.Inspect

/** A local file system whose rename always reports failure. */
class RenameFailsFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("renamefails:///")
  override def rename(src: Path, dst: Path): Boolean = false
}

/** End-to-end EP3 pipeline (SURVEY.md §3): parse → enrich → filter →
  * normalize → partitioned sink, plus the incremental ledger
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

  val day = "2026-08-12"
  val expectedTypes: Seq[String] = Seq("summary", "container", "variety")

  def pendingNames(ledger: String, units: String*): Seq[String] = {
    import spark.implicits._
    MarketPipeline.pending(units.toDF("commodity"), spark, ledger, day, expectedTypes)
      .orderBy("commodity").collect().map(_.getString(0)).toSeq
  }

  def ledgerSets(ledger: String): Map[String, Set[String]] =
    readLedger(spark, ledger, day).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap

  test("a ledger commit runs no Spark job; pending is one SQL action") {
    val ledger = tmpDir("ledger_jobs")
    val commit = Inspect.run(spark) {
      recordCompleted(spark, ledger, "apples", expectedTypes, "2026-08-10")
    }
    assert(commit.jobs == 0 && commit.actions.isEmpty)
    recordCompleted(spark, ledger, "apples", expectedTypes, "2026-08-11")
    recordCompleted(spark, ledger, "apples", expectedTypes, day)
    var got = Seq.empty[String]
    val read = Inspect.run(spark) { got = pendingNames(ledger, "apples", "pears") }
    assert(got == Seq("pears"))
    assert(read.actions.map(_.name) == Seq("collect"))
    info(s"pending over a three-day ledger: ${read.jobs} jobs")
    // empty link types commit nothing, so no file is written
    val before = new java.io.File(ledger).list().toSet
    recordCompleted(spark, ledger, "pears", Nil, day)
    assert(new java.io.File(ledger).list().toSet == before)
  }

  test("a commit killed before its rename leaves the commodity pending") {
    val whole = tmpDir("ledger_whole")
    recordCompleted(spark, whole, "apples", expectedTypes, day)
    val part = new java.io.File(whole).listFiles().filter(_.getName.startsWith("part-"))
    assert(part.length == 1 && part.head.getName.endsWith(".parquet"))
    val bytes = Files.readAllBytes(part.head.toPath)
    // the writer died mid-file: only a hidden, truncated file is left
    val ledger = tmpDir("ledger_killed")
    Files.write(Paths.get(ledger, ".part-x.parquet.inprogress"), bytes.take(bytes.length / 2))
    assert(ledgerSets(ledger).isEmpty)
    assert(pendingNames(ledger, "apples", "pears") == Seq("apples", "pears"))
    recordCompleted(spark, ledger, "pears", expectedTypes, day)
    assert(pendingNames(ledger, "apples", "pears") == Seq("apples"))
    // the retried commit completes it
    recordCompleted(spark, ledger, "apples", expectedTypes, day)
    assert(pendingNames(ledger, "apples", "pears").isEmpty)
  }

  test("a commit whose rename fails throws and leaves no file") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.renamefails.impl", classOf[RenameFailsFileSystem].getName)
    val dir = tmpDir("ledger_rename")
    val ledger = s"renamefails://${new java.io.File(dir).getAbsolutePath}"
    val e = intercept[java.io.IOException] {
      recordCompleted(spark, ledger, "apples", expectedTypes, day)
    }
    assert(e.getMessage.contains("rename"))
    assert(new java.io.File(dir).list().isEmpty)
  }

  test("Spark-appended ledger files and commits read as one ledger") {
    import spark.implicits._
    // the ledger's older file shape: Spark appends, one job each
    def sparkAppend(ledger: String, rows: (String, String, String)*): Unit =
      rows.toDF("commodity", "link_type", "scrape_date").write.mode("append").parquet(ledger)
    val mixed = tmpDir("ledger_mixed")
    sparkAppend(mixed, ("apples", "summary", day), ("apples", "container", day),
      ("plums", "summary", "2026-08-11"))
    recordCompleted(spark, mixed, "apples", Seq("variety", "summary"), day)
    recordCompleted(spark, mixed, "pears", Seq("summary"), day)
    assert(ledgerSets(mixed) == Map(
      "apples" -> Set("summary", "container", "variety"), "pears" -> Set("summary")))
    assert(pendingNames(mixed, "apples", "pears", "plums") == Seq("pears", "plums"))
    // the same records through either writer read the same
    val viaSpark = tmpDir("ledger_spark")
    sparkAppend(viaSpark, expectedTypes.map(t => ("apples", t, day)): _*)
    val viaCommit = tmpDir("ledger_commit")
    recordCompleted(spark, viaCommit, "apples", expectedTypes, day)
    assert(ledgerSets(viaSpark) == ledgerSets(viaCommit))
    assert(spark.read.parquet(viaSpark).schema == spark.read.parquet(viaCommit).schema)
    // an empty directory and a missing path both read as empty
    assert(ledgerSets(tmpDir("ledger_empty")).isEmpty)
    assert(ledgerSets(s"$mixed/missing").isEmpty)
  }
}
