package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.HtmlTable
import graft.util.LocalFs

/** The reference's daily loop (scraper/div_link_handler.py:460-567) as one
  * idempotent batch, `day`, plus its continuous form, `ingestPagesStream`.
  * The connector boundary (browser/UI mechanics, SURVEY.md §2.11) ends
  * where a day's scrape output has landed as page files under
  * `<pagesRoot>/<commodity>/<linkType>.html`.
  *
  * `day` runs five steps:
  *   1. list the page files on the driver (no Spark job);
  *   2. pending: the listed commodities anti-joined against the ledger's
  *      complete ones for the day (F4/F5, `ExpectedLinkTypes`);
  *   3. change gate: parse the pending commodities' pages, hash each table
  *      (`pageTableHashes`) and keep a page only when its hash differs
  *      from the latest non-null hash the ledger holds for its
  *      commodity/link type from an earlier day (`changedPages`); a page
  *      never hashed before passes;
  *   4. land the changed pages, normalized, with one dynamic-overwrite
  *      parquet `writeRaw` into `rawRoot` (partitioned by commodity,
  *      link_type, scrape_date);
  *   5. commit the day: one ledger row per present link type of each
  *      pending commodity, carrying that page's table hash (null when the
  *      page has no table), as one parquet file written on the driver
  *      under a hidden name and then renamed into place (no Spark job).
  *
  * Replay contract: the ledger is the day's only state, and its commit is
  * the last step. A replay of a complete day finds nothing pending and
  * lands nothing. A day that dies before its commit left the ledger as it
  * was, so its replay gates against the same hashes, lands into the same
  * partitions (the dynamic overwrite replaces what the dead run wrote)
  * and then commits: the raw layer equals an uninterrupted run's. A link
  * type whose page file is absent is not committed, so its commodity
  * stays pending until a run of the day finds the page.
  *
  * Commodity and link type names are the page path's segments as Spark's
  * file URIs spell them (percent-encoded), in the ledger and in the raw
  * layer alike.
  */
object DailyRun {

  val ExpectedLinkTypes: Seq[String] = Seq("summary", "container", "variety")

  private val commodityOfPage: Column = regexp_extract(col("page_path"), "([^/]+)/[^/]+$", 1)
  private val pageKey: Column = regexp_extract(col("page_path"), "([^/]+/[^/]+)\\.html$", 1)

  /** One market day; returns the commodities it committed, sorted. */
  def day(spark: SparkSession, pagesRoot: String, scrapeDate: String,
      rawRoot: String, ledgerPath: String): Seq[String] = {
    import spark.implicits._
    val root = new Path(pagesRoot)
    // names as the page rows spell them: URI path segments (percent-encoded)
    val linkTypes: Map[String, Seq[String]] =
      Option(root.getFileSystem(spark.sessionState.newHadoopConf())
          .globStatus(new Path(root, "*/*.html"))).toSeq.flatten
        .map(_.getPath.toUri.getRawPath.split('/').takeRight(2))
        .groupMap(_(0))(_(1).stripSuffix(".html"))
    val pending = MarketPipeline.pending(linkTypes.keys.toSeq.toDF("commodity"), spark,
        ledgerPath, scrapeDate, ExpectedLinkTypes)
      .as[String].collect().toSeq.sorted
    if (pending.nonEmpty) {
      val parsed = () => HtmlTable.parsePages(HtmlTable.readPages(spark, s"$pagesRoot/*/*.html")
        .filter(commodityOfPage.isin(pending: _*)))
      val hashes = MarketPipeline.pageTableHashes(parsed())
        .select(pageKey, col("table_hash")).as[(String, String)].collect().toMap
      val changed = MarketPipeline.changedPages(hashes.toSeq.toDF("key", "table_hash"),
          MarketPipeline.priorHashes(spark, ledgerPath, scrapeDate), "key")
        .select("key").as[String].collect().toSeq
      if (changed.nonEmpty)
        MarketPipeline.writeRaw(normalizeParsedPages(
          parsed().filter(pageKey.isin(changed: _*)), scrapeDate), rawRoot, "parquet")
      MarketPipeline.commitLedger(spark, ledgerPath, MarketPipeline.LedgerHashSchema,
        for (c <- pending; t <- linkTypes(c).sorted)
          yield Row(c, t, scrapeDate, hashes.getOrElse(s"$c/$t", null)))
    }
    pending
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
        commodityOfPage.as("commodity"),
        regexp_extract(col("page_path"), "([^/]+)\\.html$", 1).as("link_type"),
        lit(scrapeDate).as("ingestion_run_id"))
      // `dropTotalsRows` on the container alone: the other business
      // columns are numbers by now, and a number's text holds neither
      // "total" nor "summary"
      .filter(!MarketPipeline.isTotalsText(coalesce(col("container"), lit(""))))

  /** `day`'s parse and landing as a Structured Streaming query, with no
    * gate and no ledger: pages keep landing under
    * `<pagesRoot>/<commodity>/<linkType>.html` and each one is parsed
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
