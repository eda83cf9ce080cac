package graft.ingest

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter, SparkToParquetSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}

import graft.functions.NameFns
import graft.util.LocalFs

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
  * are append-only file adds; normalization is a pure narrow projection (no
  * shuffle) that canonicalizes each row's headers once. The ledger stays
  * tiny (one row per commodity × link_type × day) and is broadcast in the
  * anti-join. A ledger commit runs no Spark job: it is a driver-side
  * parquet file create plus a rename. The ledger read uses a fixed schema
  * and the parquet raw read takes its schema from one footer, so neither
  * runs a schema-inference job. Local sinks write through
  * `graft.util.LocalFs`, which sets file permissions in-process instead of
  * forking a `chmod` per file, directory and checksum.
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
    df.filter(!isTotalsText(concat_ws(" ", business.map(col).toIndexedSeq: _*)))
  }

  /** F2's test on a row's text: it holds "total" or "summary", in any
    * case. One regex reads `text` once, so a filter pushed below a
    * projection copies the expression behind `text` once.
    */
  def isTotalsText(text: Column): Column = lower(text).rlike("total|summary")

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
    * missing measures, and headers with no cell, are null. Pure narrow
    * projections — no shuffle.
    *
    * Each step is its own projection: the canonical headers, one bound
    * cell per measure, then the typed parse. Catalyst does not merge a
    * projection into one that reads its costly columns more than once, so
    * a row's headers are canonicalized once, not once per synonym lookup
    * and per read of the parse.
    */
  def fromParsedPages(parsed: DataFrame): DataFrame = {
    val keys = Seq(col("page_path"), col("scrape_date"), col("row_idx"))
    def bind(name: String): Column = {
      // accept the canonical header or any declared synonym of it, in
      // declaration order (canonical first) — the executor-side twin of
      // normalize()'s synonym folding; `get` is null at index -1 (absent)
      val aliases = name +: HeaderSynonyms.collect {
        case (drifted, canonical) if canonical == name => drifted
      }.toSeq.sorted
      coalesce(aliases.map { a =>
        get(col("cells"), (array_position(col("canonical_headers"), a) - 1).cast("int"))
      }: _*)
    }
    parsed
      .select(col("page_path"), col("scrape_date"),
        col("row_idx").cast("long").as("row_idx"), col("cells"),
        transform(col("headers"), canonicalNameCol(_)).as("canonical_headers"))
      .select(keys ++ Seq("container", "price_r", "total_value_sold",
        "total_quantity_sold").map(m => bind(m).as(m)): _*)
      .select(keys ++ Seq(col("container"),
        parseMoney(col("price_r")).as("price_r"),
        parseMoney(col("total_value_sold")).as("total_value_sold"),
        parseLong(col("total_quantity_sold")).as("total_quantity_sold")): _*)
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
    * (keyCol, table_hash) relations; `DailyRun.day` takes `prior` from the
    * hashes its completion ledger holds (`priorHashes`). An anti-join on
    * the composite key — at scale the ledger side is small (one row per
    * page) and broadcasts.
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
      .options(LocalFs.writeOptions(df.sparkSession))
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("commodity", "link_type", "scrape_date")
      .option("header", "true")
      .format(format)
      .save(root)
  }

  /** Schema-on-read of the raw layer (header-derived columns, all strings —
    * the reference's dynamic schema semantics, table_scraper.py:16). A
    * parquet layer takes its data schema from one file's footer, read on
    * the driver, so the read runs no schema-inference job; partition
    * columns are still discovered from the directory names.
    */
  def readRaw(spark: SparkSession, root: String, format: String = "csv"): DataFrame =
    format match {
      case "csv" => spark.read.option("header", "true").csv(root)
      case "parquet" => footerSchema(spark, root)
        .fold(spark.read.parquet(root))(spark.read.schema(_).parquet(root))
      case f => spark.read.format(f).load(root)
    }

  /** The data schema Spark's parquet inference would take from one file,
    * read from the footer of the first visible `.parquet` file under
    * `root`. None — so the caller's plain read reports a missing path or
    * an empty layer as before — when there is no such file, and when the
    * session merges schemas across files.
    */
  private def footerSchema(spark: SparkSession, root: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(root)
    val fs = dir.getFileSystem(conf)
    // Spark's listing skips these names (partition directories may start
    // with "_" when they hold "=")
    def visible(p: Path): Boolean = {
      val n = p.getName
      !(n.startsWith(".") || n.startsWith("_") && !n.contains("="))
    }
    def firstFile(d: Path): Option[Path] = {
      val (files, dirs) = fs.listStatus(d).filter(s => visible(s.getPath)).partition(_.isFile)
      files.map(_.getPath).find(_.getName.endsWith(".parquet"))
        .orElse(dirs.iterator.flatMap(s => firstFile(s.getPath)).nextOption())
    }
    val file =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else try firstFile(dir) catch { case _: java.io.FileNotFoundException => None }
    file.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val footer = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(new Footer(f, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  // ---- completed-commodities ledger (SRC6/SNK3, F4, F5) ----------------
  // One unpartitioned directory of small parquet files, one per commit,
  // on any Hadoop filesystem (local, hdfs, s3a). A commit is a driver-side
  // file create plus rename (no Spark job); the read uses a fixed schema
  // (no inference job).

  /** The ledger's read schema and `recordCompleted`'s file schema: three
    * STRING columns.
    */
  val LedgerSchema: StructType = StructType(
    Seq("commodity", "link_type", "scrape_date").map(StructField(_, StringType)))

  /** `DailyRun.day`'s file schema: `LedgerSchema` plus each page's
    * `table_hash`, the change gate's state. `LedgerSchema` reads ignore
    * the extra column; a hash read of a three-column file sees null.
    */
  private[ingest] val LedgerHashSchema: StructType = LedgerSchema.add("table_hash", StringType)

  /** Commit a completion record: one row (commodity, link_type,
    * scrape_date) per link type, as one parquet file in `ledgerPath` (see
    * `commitLedger`). Empty `linkTypes` writes no file; readers see the
    * same ledger either way. A retried commit writes a second file;
    * `readLedger`'s set read dedups it.
    */
  def recordCompleted(spark: SparkSession, ledgerPath: String,
      commodity: String, linkTypes: Seq[String], scrapeDate: String): Unit =
    commitLedger(spark, ledgerPath, LedgerSchema,
      linkTypes.map(t => Row(commodity, t, scrapeDate)))

  /** Write `rows` (STRING columns of `schema`, null allowed) as one parquet
    * file in `ledgerPath`, on the driver: no Spark job. The file schema is
    * `schema` as Spark's own parquet writer lays it out
    * (`optional binary … (STRING)`), so files of either writer read alike.
    *
    * The file is written under a hidden name,
    * `.part-<uuid>.parquet.inprogress`, which Spark's file listing skips,
    * then renamed to `part-<uuid>.parquet`. Readers see all of a commit or
    * none of it: a commit killed before the rename leaves only a hidden
    * file, and its commodities stay pending. A rename that returns false
    * throws, so a completion is never lost silently. On any failure the
    * hidden file is deleted, then the failure is rethrown. No rows, no
    * file.
    */
  private[ingest] def commitLedger(spark: SparkSession, ledgerPath: String,
      schema: StructType, rows: Seq[Row]): Unit =
    if (rows.nonEmpty) {
      val fileSchema = new SparkToParquetSchemaConverter().convert(schema)
      // the reader's Hadoop conf, so session-level fs settings (s3a keys)
      // reach the commit too
      val conf = LocalFs.route(spark.sessionState.newHadoopConf())
      val dir = new Path(ledgerPath)
      val fs = dir.getFileSystem(conf)
      val name = s"part-${UUID.randomUUID()}.parquet"
      val tmp = new Path(dir, s".$name.inprogress")
      try {
        val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
          .withType(fileSchema).withConf(conf)
          .withWriteMode(ParquetFileWriter.Mode.CREATE).build()
        try rows.foreach { r =>
          val g = new SimpleGroup(fileSchema)
          schema.fieldNames.indices.filterNot(r.isNullAt)
            .foreach(i => g.append(schema.fieldNames(i), r.getString(i)))
          out.write(g)
        }
        finally out.close()
        if (!fs.rename(tmp, new Path(dir, name)))
          throw new java.io.IOException(s"ledger commit: rename of $tmp to $name failed")
      } catch {
        case e: Throwable =>
          try fs.delete(tmp, false) catch { case d: Exception => e.addSuppressed(d) }
          throw e
      }
    }

  /** Every ledger file's rows read as `schema`; None for a missing path. */
  private def ledgerEntries(spark: SparkSession, ledgerPath: String,
      schema: StructType): Option[DataFrame] =
    // probe through Spark's reader, not java.io.File — the ledger may live
    // on any Hadoop filesystem (s3a/hdfs), where a local-file check would
    // silently report an existing ledger as empty
    try Some(spark.read.schema(schema).parquet(ledgerPath))
    catch {
      case e: AnalysisException if e.getErrorClass == "PATH_NOT_FOUND" => None
    }

  /** The deduplicated ledger: commodity → set of completed link types.
    * A missing or still-empty ledger directory reads as an empty ledger
    * (first run of the day).
    */
  def readLedger(spark: SparkSession, ledgerPath: String, scrapeDate: String): DataFrame =
    ledgerEntries(spark, ledgerPath, LedgerSchema)
      .getOrElse(spark.createDataFrame(java.util.List.of[Row](), LedgerSchema))
      .filter(col("scrape_date") === scrapeDate)
      .groupBy(col("commodity"))
      .agg(collect_set(col("link_type")).as("link_types"))

  /** The change gate's prior side for a day: per `key`
    * ("commodity/link_type") the latest non-null `table_hash` committed
    * for a day before `scrapeDate` — the latest such day, and within it
    * the latest commit (file modification time), since a retried day can
    * commit a page twice.
    */
  private[ingest] def priorHashes(spark: SparkSession, ledgerPath: String,
      scrapeDate: String): DataFrame = {
    import spark.implicits._
    ledgerEntries(spark, ledgerPath, LedgerHashSchema).fold(
      Seq.empty[(String, String)].toDF("key", "table_hash")) { entries =>
      entries
        .filter(col("scrape_date") < scrapeDate && col("table_hash").isNotNull)
        .groupBy(concat_ws("/", col("commodity"), col("link_type")).as("key"))
        .agg(max_by(col("table_hash"),
          struct(col("scrape_date"), col("_metadata.file_modification_time"))).as("table_hash"))
    }
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
