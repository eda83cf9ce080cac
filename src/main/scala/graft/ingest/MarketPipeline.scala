package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.NameFns

/** The normalized-record grain (reference fact grain: commodity, link_type,
  * scrape_date, row — div_link_handler.py:282-285).
  */
final case class MarketRecord(
    commodity: String,
    link_type: String,
    scrape_date: java.sql.Date,
    container: Option[String],
    price_r: Option[scala.math.BigDecimal],
    total_value_sold: Option[scala.math.BigDecimal],
    total_quantity_sold: Option[Long])

/** The market-data ingestion pipeline re-expressed as Spark ETL — the
  * reference's EP2/EP3 flow (SURVEY.md §3) minus the browser mechanics.
  *
  * Raw layer: all-string columns + 4 literal metadata columns, one hive
  * partition per (commodity, link_type, scrape_date) replacing the
  * reference's filename templating (div_link_handler.py:287-293).
  * Normalized layer: sanitized canonical names + typed casts.
  * Incremental semantics: completed-ledger + anti-join pending + dynamic
  * partition overwrite → re-running a batch is a no-op (ST1/ST2).
  *
  * Scale notes: the raw sink partitions on low-cardinality keys so writes
  * are append-only file adds; the ledger stays tiny (one row per commodity ×
  * link_type × day) and is broadcast in the anti-join; normalization is a
  * pure narrow projection (no shuffle).
  */
object MarketPipeline {

  val MetaCols: Seq[String] = Seq("scrape_date", "commodity", "link_type", "ingestion_run_id")

  /** P3+P4: trim every string cell, then append the four metadata literals
    * (reference div_link_handler.py:282-285).
    */
  def enrich(df: DataFrame, scrapeDate: String, commodity: String,
      linkType: String, runId: String): DataFrame = {
    df.select(df.columns.map(c => trim(col(c)).as(c)).toIndexedSeq: _*)
      .withColumns(Map(
        "scrape_date" -> lit(scrapeDate),
        "commodity" -> lit(commodity),
        "link_type" -> lit(linkType),
        "ingestion_run_id" -> lit(runId)))
  }

  /** F2: drop aggregate rows — any row whose concatenated business-column
    * text contains "total" or "summary", case-insensitive
    * (reference div_link_handler.py:238-245).
    */
  def dropTotalsRows(df: DataFrame): DataFrame = {
    val business = df.columns.filterNot(MetaCols.contains)
    val rowText = lower(concat_ws(" ", business.map(col).toIndexedSeq: _*))
    df.filter(!(rowText.contains("total") || rowText.contains("summary")))
  }

  /** A2+A3: table-structure classification driving the reference's
    * single- vs multi-container branch (div_link_handler.py:223-260).
    */
  final case class TableStructure(dataRows: Long, isSingleContainer: Boolean) {
    def structure: String = if (isSingleContainer) "single_container" else "multi_container"
  }

  def classify(df: DataFrame): TableStructure = {
    val n = dropTotalsRows(df).count()
    TableStructure(n, n <= 1)
  }

  /** Defensive money/number parsing (SURVEY.md §7 "locale/number parsing"):
    * strip currency symbols, spaces and thousands separators before cast.
    */
  def parseMoney(c: Column): Column = {
    // blank/symbol-only cells (the totals row's empty price) → null, not an
    // ANSI cast error
    val digits = regexp_replace(c, "[^0-9.\\-]", "")
    when(digits === "" || digits.isNull, lit(null)).otherwise(digits)
      .cast(DecimalType(18, 2))
  }

  def parseLong(c: Column): Column = {
    val digits = regexp_replace(c, "[^0-9\\-]", "")
    when(digits === "" || digits.isNull, lit(null)).otherwise(digits)
      .cast("long")
  }

  /** Canonical column name for a scraped header (header-drift tolerance):
    * the reference's sanitizer applied to header text.
    */
  def canonicalName(header: String): String =
    header.toLowerCase.trim
      .replaceAll("[^\\w\\s-]", "")
      .replaceAll("\\s+", "_")
      .take(NameFns.MaxNameLen)

  /** Header-drift synonym dictionary (SURVEY.md §7): sanitized header
    * variants seen across market pages, mapped to the measure names the
    * normalized layer declares. Keys are post-`canonicalName` forms, so a
    * page titling its column "Value Sold" or "Qty Sold" lands in the same
    * normalized column as one titling it "Total Value Sold" — which is what
    * lets `unionDrifting` align renamed headers, not just missing ones.
    */
  val HeaderSynonyms: Map[String, String] = Map(
    "value_sold" -> "total_value_sold",
    "total_value" -> "total_value_sold",
    "qty_sold" -> "total_quantity_sold",
    "quantity_sold" -> "total_quantity_sold",
    "total_qty_sold" -> "total_quantity_sold",
    "price" -> "price_r",
    "unit_price" -> "price_r",
    "price_per_unit" -> "price_r",
    "kg_sold" -> "total_kg_sold",
    "avg_price_per_kg" -> "average_price_per_kg")

  /** Canonical name with synonym folding; a synonym only applies when the
    * canonical target isn't itself present (first writer wins otherwise).
    */
  private def resolveName(canonical: String, taken: Set[String]): String =
    HeaderSynonyms.get(canonical)
      .filterNot(taken.contains)
      .getOrElse(canonical)

  /** Normalize a raw enriched frame: canonical names + synonym folding +
    * typed casts for the known market measures; unknown headers stay raw
    * strings.
    */
  def normalize(df: DataFrame): DataFrame = {
    val canon = df.columns.filterNot(MetaCols.contains).map(canonicalName).toSet
    val renamed = df.columns.foldLeft(df) { (d, c) =>
      if (MetaCols.contains(c)) d
      else d.withColumnRenamed(c, resolveName(canonicalName(c), canon - canonicalName(c)))
    }
    val moneyCols = Seq("price", "average_price_per_kg", "total_value_sold")
    val longCols = Seq("quantity_available", "total_quantity_sold")
    val doubleCols = Seq("total_kg_sold")
    val casted = renamed.columns.foldLeft(renamed) { (d, c) =>
      if (moneyCols.exists(c.startsWith)) d.withColumn(c, parseMoney(col(c)))
      else if (longCols.contains(c)) d.withColumn(c, parseLong(col(c)))
      else if (doubleCols.contains(c))
        d.withColumn(c, regexp_replace(col(c), "[^0-9.\\-]", "").cast("double"))
      else d
    }
    casted.withColumn("scrape_date", to_date(col("scrape_date")))
  }

  /** `canonicalName` as an expression, for executor-side header binding. */
  def canonicalNameCol(h: Column): Column = substring(
    regexp_replace(regexp_replace(lower(trim(h)), "[^\\w\\s-]", ""), "\\s+", "_"),
    1, NameFns.MaxNameLen)

  /** Distributed normalize head: rows from `HtmlTable.parsePages`
    * (page_path, scrape_date, row_idx, headers, cells) → the canonical
    * market measures, bound positionally per row via the page's own headers
    * (schema-on-read without requiring every page to share a schema).
    * First matching header wins, like `ingest`'s duplicate suffixing;
    * missing measures are null. Pure narrow projection — no shuffle.
    */
  def fromParsedPages(parsed: DataFrame): DataFrame = {
    val canonHeaders = transform(col("headers"), canonicalNameCol(_))
    def bind(name: String): Column = {
      // accept the canonical header or any declared synonym of it, in
      // declaration order (canonical first) — the executor-side twin of
      // normalize()'s synonym folding
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

  /** Table content hash per page (the reference's multi-flow "table
    * changed?" gate, div_link_handler.py:413): md5 over the headers and all
    * body rows in row order. Engine-portable (md5 of a deterministic
    * string), so a hash ledger written by one engine is readable by any.
    */
  def pageTableHashes(parsed: DataFrame): DataFrame =
    parsed
      .groupBy(col("page_path"))
      .agg(md5(concat_ws("\u0001",
        array_join(first(col("headers")), "\u0002"),
        array_join(transform(
            sort_array(collect_list(struct(col("row_idx"), col("cells")))),
            r => array_join(r.getField("cells"), "\u0002")),
          "\u0001"))).as("table_hash"))

  /** Change gate: keep only `current` rows whose (key, table_hash) is NOT in
    * `prior` — unchanged pages are pruned BEFORE the normalize/land work,
    * new pages (absent from prior) pass through. Both sides are
    * (keyCol, table_hash) relations; `prior` is typically a persisted hash
    * ledger from the previous run. An anti-join on the composite key — at
    * scale the ledger side is small (one row per page) and broadcasts.
    */
  def changedPages(current: DataFrame, prior: DataFrame,
      keyCol: String = "page_path"): DataFrame =
    current.join(prior.select(col(keyCol).as("_pk"), col("table_hash").as("_ph")),
      current(keyCol) === col("_pk") && current("table_hash") === col("_ph"),
      "left_anti")

  /** Typed view of the normalized layer (SURVEY.md §1.3: Dataset[T] where
    * the schema is fixed by us). Missing business columns are null-filled so
    * drifting sources still type-check; extra columns are dropped.
    */
  def toRecords(normalized: DataFrame): org.apache.spark.sql.Dataset[MarketRecord] = {
    val spark = normalized.sparkSession
    import spark.implicits._
    val wanted = Seq("commodity", "link_type", "scrape_date", "container",
      "price_r", "total_value_sold", "total_quantity_sold")
    val withAll = wanted.foldLeft(normalized)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
    withAll
      .select(col("commodity"), col("link_type"), col("scrape_date"),
        col("container").cast("string"),
        col("price_r").cast(DecimalType(18, 2)),
        col("total_value_sold").cast(DecimalType(18, 2)),
        col("total_quantity_sold").cast("long"))
      .as[MarketRecord]
  }

  /** Union frames with drifting schemas into one raw table (§2.7). */
  def unionDrifting(frames: Seq[DataFrame]): DataFrame =
    frames.reduceLeft(_.unionByName(_, allowMissingColumns = true))

  /** SNK1: partitioned raw sink. Dynamic partition overwrite makes re-runs
    * of a (commodity, link_type, scrape_date) batch idempotent (ST2).
    * `format` defaults to csv with a header row — the reference lands raw
    * CSV (README.md:4, div_link_handler.py:293); hive-style partition dirs
    * replace its filename templating. Use parquet for the normalized layer.
    */
  def writeRaw(df: DataFrame, root: String, format: String = "csv"): Unit = {
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("commodity", "link_type", "scrape_date")
      .option("header", "true")
      .format(format)
      .save(root)
  }

  /** Schema-on-read of the raw layer (header-derived columns, all strings —
    * the reference's dynamic schema semantics, table_scraper.py:16).
    */
  def readRaw(spark: SparkSession, root: String, format: String = "csv"): DataFrame =
    format match {
      case "csv" => spark.read.option("header", "true").csv(root)
      case f => spark.read.format(f).load(root)
    }

  // ---- completed-commodities ledger (SRC6/SNK3, F4, F5) ----------------

  /** Append a completion record (commodity, link_type, scrape_date). */
  def recordCompleted(spark: SparkSession, ledgerPath: String,
      commodity: String, linkTypes: Seq[String], scrapeDate: String): Unit = {
    import spark.implicits._
    linkTypes.map(t => (commodity, t, scrapeDate))
      .toDF("commodity", "link_type", "scrape_date")
      .write.mode(SaveMode.Append).parquet(ledgerPath)
  }

  /** The deduplicated ledger: commodity → set of completed link types.
    * A missing or still-empty ledger directory reads as an empty ledger
    * (first run of the day).
    */
  def readLedger(spark: SparkSession, ledgerPath: String, scrapeDate: String): DataFrame = {
    import spark.implicits._
    // probe through Spark's reader, not java.io.File — the ledger may live
    // on any Hadoop filesystem (s3a/hdfs), where a local-file check would
    // silently report an existing ledger as empty
    val entries =
      try spark.read.parquet(ledgerPath)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getErrorClass == "PATH_NOT_FOUND" ||
              e.getErrorClass == "UNABLE_TO_INFER_SCHEMA" =>
          Seq.empty[(String, String, String)].toDF("commodity", "link_type", "scrape_date")
      }
    entries
      .filter(col("scrape_date") === scrapeDate)
      .groupBy(col("commodity"))
      .agg(collect_set(col("link_type")).as("link_types"))
  }

  /** F5: commodity complete iff expected ⊆ scraped
    * (reference div_link_handler.py:94-102).
    */
  def isComplete(scraped: Column, expected: Seq[String]): Column =
    size(array_except(array(expected.map(lit): _*), scraped)) === 0

  /** F4: work units still pending = all units anti-joined against the
    * completed ledger (reference div_link_handler.py:501-503).
    */
  def pending(allUnits: DataFrame, spark: SparkSession, ledgerPath: String,
      scrapeDate: String, expected: Seq[String]): DataFrame = {
    val done = readLedger(spark, ledgerPath, scrapeDate)
      .filter(isComplete(col("link_types"), expected))
      .select(col("commodity"))
    allUnits.join(broadcast(done), Seq("commodity"), "left_anti")
  }
}
