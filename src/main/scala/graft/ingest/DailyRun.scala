package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.HtmlTable
import graft.util.LocalFs

/** EP2 — the reference's per-commodity daily loop
  * (scraper/div_link_handler.py:460-567) as a batch orchestrator:
  *
  *   1. enumerate work units (the commodity pages of the day),
  *   2. skip already-completed commodities via the ledger anti-join (F4),
  *   3. per pending commodity: parse the summary table, classify it
  *      (single vs multi container, A2/A3), branch to the matching flow,
  *      land each scraped table in the partitioned raw layer (EP3),
  *   4. commit the commodity's link types to the ledger (ST2): one parquet
  *      file written on the driver under a hidden name, then renamed into
  *      place — no Spark job, and all of the commit or none of it is seen.
  *
  * Re-running the same day is a no-op: completed commodities are pruned by
  * the ledger and the raw sink overwrites its own partitions. Failures
  * between steps leave the ledger unmarked, so a restart retries exactly
  * the unfinished commodities — the reference's checkpoint/resume contract
  * without bespoke state files.
  *
  * The connector boundary (browser/UI mechanics, SURVEY.md §2.11) is
  * abstracted as `pages`: commodity → (linkType → page HTML).
  */
object DailyRun {

  val ExpectedLinkTypes: Seq[String] = Seq("summary", "container", "variety")

  final case class CommodityResult(
      commodity: String, structure: String, tablesLanded: Int)

  def run(spark: SparkSession,
      pages: Map[String, Map[String, String]],
      scrapeDate: String,
      rawRoot: String,
      ledgerPath: String): Seq[CommodityResult] = {
    import spark.implicits._

    val all = pages.keys.toSeq.sorted.toDF("commodity")
    val pendingNames =
      MarketPipeline.pending(all, spark, ledgerPath, scrapeDate, ExpectedLinkTypes)
        .collect().map(_.getString(0)).toSeq.sorted

    pendingNames.map { commodity =>
      val linkPages = pages(commodity)
      val summary = HtmlTable.ingest(spark, linkPages.getOrElse("summary", ""))
      val enrichedSummary = MarketPipeline.enrich(
        summary, scrapeDate, commodity, "summary", scrapeDate)
      val structure = MarketPipeline.classify(enrichedSummary)

      // branch (div_link_handler.py:527-532): both flows scrape the
      // container and variety tables; the classification selects the
      // navigation mechanics (multi-container gates on table-change
      // detection), which have no analytics meaning here — we record the
      // structure and land the same link types either way.
      val followUps = Seq("container", "variety")

      val landed = ("summary" -> enrichedSummary) +: followUps.flatMap { lt =>
        linkPages.get(lt).map { html =>
          lt -> MarketPipeline.enrich(
            HtmlTable.ingest(spark, html), scrapeDate, commodity, lt, scrapeDate)
        }
      }
      landed.foreach { case (_, df) =>
        if (!df.isEmpty) MarketPipeline.writeRaw(df, rawRoot)
      }
      // only the link types whose pages were actually present are committed:
      // marking an absent page as done would make the completeness predicate
      // prune the commodity forever even though nothing was landed
      MarketPipeline.recordCompleted(spark, ledgerPath, commodity,
        landed.map(_._1), scrapeDate)
      CommodityResult(commodity, structure.structure, landed.size)
    }
  }

  /** The fleet-scale variant of `run`: pages have already LANDED AS FILES
    * under `<pagesRoot>/<commodity>/<linkType>.html` (a day's scrape output)
    * and are ingested fully distributed — wholetext scan, executor-side
    * parse (`graft.plans.ParseHtmlTable`), positional header binding,
    * totals filter, partitioned raw sink. The driver never sees a page.
    *
    * Returns the cleaned normalized frame it landed (also written to
    * `rawRoot` partitioned by commodity/link_type/scrape_date when `rawRoot`
    * is given). Pages missing a date div fall back to `scrapeDate`.
    */
  def ingestLandedPages(spark: SparkSession, pagesRoot: String,
      scrapeDate: String, rawRoot: Option[String] = None): DataFrame = {
    val cleaned = normalizeParsedPages(HtmlTable.parsePages(
      HtmlTable.readPages(spark, s"$pagesRoot/*/*.html")), scrapeDate)
    rawRoot.foreach(root => MarketPipeline.writeRaw(cleaned, root, "parquet"))
    cleaned
  }

  /** The shared tail of the distributed ingest: parsed page rows →
    * path-derived metadata (commodity/link_type), page-date fallback,
    * positional header binding, totals filter. Pure narrow projections.
    */
  def normalizeParsedPages(parsed: DataFrame, scrapeDate: String): DataFrame =
    MarketPipeline.fromParsedPages(parsed)
      .select(
        coalesce(col("scrape_date"), lit(scrapeDate)).as("scrape_date"),
        col("container"), col("price_r"), col("total_value_sold"),
        col("total_quantity_sold"),
        regexp_extract(col("page_path"), "([^/]+)/[^/]+$", 1).as("commodity"),
        regexp_extract(col("page_path"), "([^/]+)\\.html$", 1).as("link_type"),
        lit(scrapeDate).as("ingestion_run_id"))
      // `dropTotalsRows` on the container alone: the other business
      // columns are numbers by now, and a number's text holds neither
      // "total" nor "summary"
      .filter(!MarketPipeline.isTotalsText(coalesce(col("container"), lit(""))))

  /** `ingestLandedPages` as a Structured Streaming query: pages keep landing
    * under `<pagesRoot>/<commodity>/<linkType>.html` and each one is parsed
    * executor-side and appended to the raw layer exactly once — the
    * reference's daily loop as a continuous ingest. File-source discovery
    * is the change detection (ST3): a page file is processed when it
    * appears, the checkpoint remembers which files are done, and a restart
    * resumes without re-landing (same foreachBatch dynamic-overwrite
    * idempotency as `EventStreams.ingestStream`).
    */
  def ingestPagesStream(spark: SparkSession, pagesRoot: String,
      scrapeDate: String, checkpoint: String,
      rawRoot: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val pages = spark.readStream
      .option("wholetext", "true")
      .text(s"$pagesRoot/*/*.html")
      .select(input_file_name().as("page_path"), col("value").as("html"))
    val cleaned = normalizeParsedPages(HtmlTable.parsePages(pages), scrapeDate)
    cleaned.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.options(LocalFs.writeOptions(batch.sparkSession)).mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("commodity", "link_type", "scrape_date", "batch_id")
          .parquet(rawRoot)
      }
      .start()
  }
}
