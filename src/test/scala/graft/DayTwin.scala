package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.{DailyRun, MarketPipeline}
import graft.sources.HtmlTable

/** The exact twin of `DailyRun.day`: the market day composed from the
  * public pipeline steps the way the benchmark's market workload composes
  * it (`perfbench/.../MarketDaily.scala`): the ledger's pending set, the
  * table-hash gate against an in-memory map of every hash seen so far,
  * parse → normalize → parquet sink of the changed pages, and one
  * `recordCompleted` of all expected link types per pending commodity.
  * Pages land as `<pagesRoot>/<commodity>/<linkType>.html`.
  */
final class DayTwin(spark: SparkSession, rawRoot: String, ledgerPath: String) {
  import spark.implicits._

  private var priorHashes = Map.empty[String, String]

  private def keyCol = regexp_extract(col("page_path"), "([^/]+/[^/]+)\\.html$", 1)
  private def commodityCol = regexp_extract(col("page_path"), "([^/]+)/[^/]+$", 1)

  def day(pagesRoot: String, day: String): Seq[String] = {
    val allUnits = Option(new java.io.File(pagesRoot).list()).toSeq.flatten.toDF("commodity")
    val pending = MarketPipeline
      .pending(allUnits, spark, ledgerPath, day, DailyRun.ExpectedLinkTypes)
      .collect().map(_.getString(0)).toSeq
    if (pending.nonEmpty) {
      val dayPages = () => HtmlTable.readPages(spark, s"$pagesRoot/*/*.html")
        .filter(commodityCol.isin(pending: _*))
      val curRows = MarketPipeline.pageTableHashes(HtmlTable.parsePages(dayPages()))
        .select(keyCol.as("key"), col("table_hash")).as[(String, String)]
        .collect().toSeq
      val prior = priorHashes.toSeq.toDF("key", "table_hash")
      priorHashes = priorHashes ++ curRows
      val changed = MarketPipeline.changedPages(curRows.toDF("key", "table_hash"), prior, "key")
        .select("key").as[String].collect().toSeq
      if (changed.nonEmpty) {
        val parsed = HtmlTable.parsePages(dayPages()).filter(keyCol.isin(changed: _*))
        MarketPipeline.writeRaw(DailyRun.normalizeParsedPages(parsed, day), rawRoot, "parquet")
      }
      pending.foreach(c => MarketPipeline.recordCompleted(spark, ledgerPath, c,
        DailyRun.ExpectedLinkTypes, day))
    }
    pending.sorted
  }
}
