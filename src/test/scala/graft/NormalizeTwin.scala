package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ingest.MarketPipeline._

/** The distributed normalization as one inlined projection — every
  * synonym lookup and every read of the typed parse re-canonicalizes the
  * row's headers, and the totals filter reads all four business columns.
  * The exact twin of `MarketPipeline.fromParsedPages` and
  * `DailyRun.normalizeParsedPages`, which bind the headers once.
  */
object NormalizeTwin {

  def fromParsedPages(parsed: DataFrame): DataFrame = {
    val canonHeaders = transform(col("headers"), canonicalNameCol(_))
    def bind(name: String): Column = {
      val aliases = name +: HeaderSynonyms.collect {
        case (drifted, canonical) if canonical == name => drifted
      }.toSeq.sorted
      coalesce(aliases.map { a =>
        val pos = array_position(canonHeaders, a)
        when(pos > 0, element_at(col("cells"), pos.cast("int")))
      }: _*)
    }
    parsed.select(
      col("page_path"), col("scrape_date"), col("row_idx").cast("long").as("row_idx"),
      bind("container").as("container"),
      parseMoney(bind("price_r")).as("price_r"),
      parseMoney(bind("total_value_sold")).as("total_value_sold"),
      parseLong(bind("total_quantity_sold")).as("total_quantity_sold"))
  }

  def normalizeParsedPages(parsed: DataFrame, scrapeDate: String): DataFrame = {
    val typed = fromParsedPages(parsed)
      .withColumn("commodity",
        regexp_extract(col("page_path"), "([^/]+)/[^/]+$", 1))
      .withColumn("link_type",
        regexp_extract(col("page_path"), "([^/]+)\\.html$", 1))
      .withColumn("scrape_date", coalesce(col("scrape_date"), lit(scrapeDate)))
      .withColumn("ingestion_run_id", lit(scrapeDate))
      .drop("page_path")
      .drop("row_idx")
    val business = typed.columns.filterNot(MetaCols.contains)
    val rowText = lower(concat_ws(" ", business.map(col).toIndexedSeq: _*))
    typed.filter(!(rowText.contains("total") || rowText.contains("summary")))
  }
}
