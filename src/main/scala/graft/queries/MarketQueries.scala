package graft.queries

import org.apache.spark.sql.functions._

import graft.ingest.MarketPipeline
import graft.sources.HtmlTable
import graft.util.Tables

/** The reference's own pipeline (EP3: scrape → enrich → filter → normalize,
  * SURVEY.md §3) declared as an oracle-checked query. The driver testdata has
  * no market tables, so the query ingests a representative fixture page
  * (FIXTURES.md A1 shape) embedded here, and the oracle is the expected
  * normalized relation as literal VALUES — an exact end-to-end check of the
  * parse → enrich → dropTotals → normalize chain.
  */
object MarketQueries {
  import Num._

  /** m06/m07 land a full copy of the scale-table `events` as text; a fresh
    * tempdir per invocation would leak O(|events|) per bench sweep (warm-up
    * + 3 timed runs). One landing per (query, sfDir) is built exactly once
    * per JVM (computeIfAbsent, concurrency-safe like LayoutQueries) and
    * removed on JVM exit. Same acknowledged limitation as the derived
    * layouts: regenerating the source dataset in-JVM keeps serving the old
    * landing.
    */
  private val landings =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def landingDir(key: String)(
      build: java.nio.file.Path => Unit): java.nio.file.Path =
    landings.computeIfAbsent(key, _ => {
      val tmp = java.nio.file.Files.createTempDirectory(
        "graft_" + key.replaceAll("[^A-Za-z0-9_-]", "_") + "_")
      build(tmp)
      tmp
    })
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    landings.values.forEach { root =>
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try {
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch { case _: java.io.IOException => () } // best-effort cleanup
    }))

  private[graft] val FixturePage: String =
    """<html><div id="right2"><b>2026-08-12</b></div>
      |<table class="alltable"><thead>
      |<th class="header">Container</th>
      |<th class="header">Price (R)</th>
      |<th class="header">Total Value Sold</th>
      |<th class="header">Total Quantity Sold</th></thead>
      |<tbody>
      |<tr><td class="tleft2">10kg Bag</td><td class="tleft">R 1,234.50</td><td class="tleft">R 12,345.00</td><td class="tleft">10</td></tr>
      |<tr><td class="tleft2">5kg Box</td><td class="tleft">99.00</td><td class="tleft">990.00</td><td class="tleft">10</td></tr>
      |<tr><td class="tleft2">Grand Total</td><td class="tleft"></td><td class="tleft">13,335.00</td><td class="tleft">20</td></tr>
      |</tbody></table></html>""".stripMargin

  private[graft] val FixturePageB: String =
    """<html><div id="right2"><b>2026-08-13</b></div>
      |<table class="alltable"><thead>
      |<th class="header">Container</th>
      |<th class="header">Price (R)</th>
      |<th class="header">Total Value Sold</th>
      |<th class="header">Total Quantity Sold</th></thead>
      |<tbody>
      |<tr><td class="tleft2">Crate</td><td class="tleft">R 500.25</td><td class="tleft">4,002.00</td><td class="tleft">8</td></tr>
      |<tr><td class="tleft2">Sack 7kg</td><td class="tleft">75.50</td><td class="tleft">755.00</td><td class="tleft">10</td></tr>
      |</tbody></table></html>""".stripMargin

  /** Same table shape as FixturePage but with DRIFTED header names
    * ("Unit Price" / "Value Sold" / "Qty Sold") — the renamed-header case
    * the synonym dictionary (MarketPipeline.HeaderSynonyms) folds back
    * into the canonical measures.
    */
  private[graft] val FixturePageDrifted: String =
    """<html><div id="right2"><b>2026-08-15</b></div>
      |<table class="alltable"><thead>
      |<th class="header">Container</th>
      |<th class="header">Unit Price</th>
      |<th class="header">Value Sold</th>
      |<th class="header">Qty Sold</th></thead>
      |<tbody>
      |<tr><td class="tleft2">Tray</td><td class="tleft">45.00</td><td class="tleft">450.00</td><td class="tleft">10</td></tr>
      |<tr><td class="tleft2">Basket 2kg</td><td class="tleft">R 120.00</td><td class="tleft">1,200.00</td><td class="tleft">10</td></tr>
      |</tbody></table></html>""".stripMargin

  private[graft] val PageNoTable: String =
    """<html><div id="right2"><b>2026-08-13</b></div>
      |<p>No market data published for this commodity today.</p></html>""".stripMargin

  /** FixturePageB a day later: one price moved, one row added. */
  private[graft] val FixturePageB2: String =
    """<html><div id="right2"><b>2026-08-14</b></div>
      |<table class="alltable"><thead>
      |<th class="header">Container</th>
      |<th class="header">Price (R)</th>
      |<th class="header">Total Value Sold</th>
      |<th class="header">Total Quantity Sold</th></thead>
      |<tbody>
      |<tr><td class="tleft2">Crate</td><td class="tleft">R 520.00</td><td class="tleft">5,200.00</td><td class="tleft">10</td></tr>
      |<tr><td class="tleft2">Sack 7kg</td><td class="tleft">75.50</td><td class="tleft">755.00</td><td class="tleft">10</td></tr>
      |<tr><td class="tleft2">Pocket 3kg</td><td class="tleft">30.00</td><td class="tleft">300.00</td><td class="tleft">10</td></tr>
      |</tbody></table></html>""".stripMargin

  val all: Seq[Q] = Seq(
    // The distributed twin of m01: N pages landed as files, scanned
    // wholetext and parsed executor-side through the ParseHtmlTable
    // Generator (SURVEY.md §2.10's parse_html_table UDTF) — the fleet-scale
    // ingest path. One page has no table and must contribute zero rows.
    Q("m02_distributed_page_ingest",
      (s, _) => {
        // fixtures land under a java.io.tmpdir-scoped unique directory per
        // invocation: CWD-independent, and concurrent runs can't race
        val dir = java.nio.file.Files.createTempDirectory("graft_m02_pages_")
        def land(rel: String, content: String): Unit = {
          val p = dir.resolve(rel)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, content)
        }
        land("apples_golden_delicious/summary.html", FixturePage)
        land("oranges_navel/summary.html", FixturePageB)
        land("bananas/container.html", PageNoTable)
        graft.ingest.DailyRun.normalizeParsedPages(HtmlTable.parsePages(
            HtmlTable.readPages(s, s"$dir/*/*.html")), "2026-08-12")
          .select(
            col("container"),
            col("price_r").cast("double").as("price_r"),
            col("total_value_sold").cast("double").as("total_value_sold"),
            col("total_quantity_sold"),
            col("scrape_date"), col("commodity"), col("link_type"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('10kg Bag', CAST(1234.5 AS DOUBLE), CAST(12345.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-12', 'apples_golden_delicious', 'summary'),
             |  ('5kg Box', CAST(99.0 AS DOUBLE), CAST(990.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-12', 'apples_golden_delicious', 'summary'),
             |  ('Crate', CAST(500.25 AS DOUBLE), CAST(4002.0 AS DOUBLE), CAST(8 AS BIGINT),
             |   '2026-08-13', 'oranges_navel', 'summary'),
             |  ('Sack 7kg', CAST(75.5 AS DOUBLE), CAST(755.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-13', 'oranges_navel', 'summary'))
             |AS t(container, price_r, total_value_sold, total_quantity_sold,
             |     scrape_date, commodity, link_type)""".stripMargin)),

    // ST3 / the reference's multi-flow "table changed?" gate at fleet
    // scale: day-1 pages land and their content hashes are persisted as a
    // ledger; on day 2 one page changed and one is identical — the
    // hash anti-join prunes the unchanged page BEFORE any normalize/land
    // work, and only the changed page's rows are ingested.
    Q("m03_changed_page_gate",
      (s, _) => {
        // unique tmpdir per invocation (see m02): pages and the hash ledger
        // share one root so the whole scenario is self-contained
        val root = java.nio.file.Files.createTempDirectory("graft_m03_")
        val dir = root.resolve("pages")
        val ledger = root.resolve("ledger").toString
        def land(rel: String, content: String): Unit = {
          val p = dir.resolve(rel)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, content)
        }
        def hashes = MarketPipeline.pageTableHashes(HtmlTable.parsePages(
          HtmlTable.readPages(s, s"$dir/*/*.html")))
        // day 1: land v1 and persist the hash ledger
        land("apples_golden_delicious/summary.html", FixturePage)
        land("oranges_navel/summary.html", FixturePageB)
        hashes.write.mode("overwrite").parquet(ledger)
        // day 2: oranges updates, apples lands again byte-identical
        land("oranges_navel/summary.html", FixturePageB2)
        val changed = MarketPipeline.changedPages(hashes, s.read.parquet(ledger))
        val parsed = HtmlTable.parsePages(
            HtmlTable.readPages(s, s"$dir/*/*.html"))
          .join(changed.select(col("page_path")), Seq("page_path"), "left_semi")
        graft.ingest.DailyRun.normalizeParsedPages(parsed, "2026-08-14")
          .select(
            col("container"),
            col("price_r").cast("double").as("price_r"),
            col("total_value_sold").cast("double").as("total_value_sold"),
            col("total_quantity_sold"),
            col("scrape_date"), col("commodity"), col("link_type"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('Crate', CAST(520.0 AS DOUBLE), CAST(5200.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-14', 'oranges_navel', 'summary'),
             |  ('Sack 7kg', CAST(75.5 AS DOUBLE), CAST(755.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-14', 'oranges_navel', 'summary'),
             |  ('Pocket 3kg', CAST(30.0 AS DOUBLE), CAST(300.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-14', 'oranges_navel', 'summary'))
             |AS t(container, price_r, total_value_sold, total_quantity_sold,
             |     scrape_date, commodity, link_type)""".stripMargin)),

    // Header drift end-to-end: one page with canonical headers, one with
    // renamed headers ("Unit Price"/"Value Sold"/"Qty Sold"); the synonym
    // dictionary folds the drifted names during normalize, so
    // unionDrifting aligns them into ONE typed frame with no null columns.
    Q("m04_header_drift_union",
      (s, _) => {
        def ingestOne(page: String, commodity: String) = {
          val raw = HtmlTable.ingest(s, page)
          val date = HtmlTable.scrapeDate(page).get
          MarketPipeline.normalize(MarketPipeline.dropTotalsRows(
            MarketPipeline.enrich(raw, date, commodity, "summary", date)))
        }
        MarketPipeline.unionDrifting(Seq(
            ingestOne(FixturePage, "apples_golden_delicious"),
            ingestOne(FixturePageDrifted, "oranges_navel")))
          .select(
            col("container"),
            col("price_r").cast("double").as("price_r"),
            col("total_value_sold").cast("double").as("total_value_sold"),
            col("total_quantity_sold"),
            date_format(col("scrape_date"), "yyyy-MM-dd").as("scrape_date"),
            col("commodity"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('10kg Bag', CAST(1234.5 AS DOUBLE), CAST(12345.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-12', 'apples_golden_delicious'),
             |  ('5kg Box', CAST(99.0 AS DOUBLE), CAST(990.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-12', 'apples_golden_delicious'),
             |  ('Tray', CAST(45.0 AS DOUBLE), CAST(450.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-15', 'oranges_navel'),
             |  ('Basket 2kg', CAST(120.0 AS DOUBLE), CAST(1200.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-15', 'oranges_navel'))
             |AS t(container, price_r, total_value_sold, total_quantity_sold,
             |     scrape_date, commodity)""".stripMargin)),

    // The market pipeline composed with GapFill (s11's operator) on ITS OWN
    // data shape: two commodities ingested on interleaved days (apples
    // 08-12/08-15 — the 15th arriving with drifted headers — bananas
    // 08-13/08-14), densified over the global calendar span. Flows (n,
    // daily revenue) zero/null-fill; the level carries forward; days before
    // a commodity's first observation stay null. This is the reference's
    // "daily volumes + cumulative monthly" consumer made whole-calendar.
    Q("m05_daily_series_gap_fill",
      (s, _) => {
        def ingestOne(page: String, commodity: String) = {
          val raw = HtmlTable.ingest(s, page)
          val date = HtmlTable.scrapeDate(page).get
          MarketPipeline.normalize(MarketPipeline.dropTotalsRows(
            MarketPipeline.enrich(raw, date, commodity, "summary", date)))
        }
        val daily = MarketPipeline.unionDrifting(Seq(
            ingestOne(FixturePage, "apples_golden_delicious"),
            ingestOne(FixturePageDrifted, "apples_golden_delicious"),
            ingestOne(FixturePageB, "bananas"),
            ingestOne(FixturePageB2, "bananas")))
          .groupBy(col("commodity"), col("scrape_date").as("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("total_value_sold")).as("rev"))
        graft.operators.GapFill.denseLocf(daily, "commodity", "day", "n", "rev")
          .select(col("commodity"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n"), col("rev").cast("double").as("rev"),
            col("locf_rev").cast("double").as("locf_rev"), col("is_gap"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('apples_golden_delicious', '2026-08-12', CAST(2 AS BIGINT),
             |   CAST(13335.0 AS DOUBLE), CAST(13335.0 AS DOUBLE), false),
             |  ('apples_golden_delicious', '2026-08-13', CAST(0 AS BIGINT),
             |   CAST(NULL AS DOUBLE), CAST(13335.0 AS DOUBLE), true),
             |  ('apples_golden_delicious', '2026-08-14', CAST(0 AS BIGINT),
             |   CAST(NULL AS DOUBLE), CAST(13335.0 AS DOUBLE), true),
             |  ('apples_golden_delicious', '2026-08-15', CAST(2 AS BIGINT),
             |   CAST(1650.0 AS DOUBLE), CAST(1650.0 AS DOUBLE), false),
             |  ('bananas', '2026-08-12', CAST(0 AS BIGINT),
             |   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), true),
             |  ('bananas', '2026-08-13', CAST(2 AS BIGINT),
             |   CAST(4757.0 AS DOUBLE), CAST(4757.0 AS DOUBLE), false),
             |  ('bananas', '2026-08-14', CAST(3 AS BIGINT),
             |   CAST(6255.0 AS DOUBLE), CAST(6255.0 AS DOUBLE), false),
             |  ('bananas', '2026-08-15', CAST(0 AS BIGINT),
             |   CAST(NULL AS DOUBLE), CAST(6255.0 AS DOUBLE), true))
             |AS t(commodity, day, n, rev, locf_rev, is_gap)""".stripMargin)),

    Q("m01_market_pipeline_e2e",
      (s, _) => {
        val raw = HtmlTable.ingest(s, FixturePage)
        val date = HtmlTable.scrapeDate(FixturePage).get
        val enriched = MarketPipeline.enrich(raw, date, "apples_golden_delicious",
          "summary", date)
        MarketPipeline.normalize(MarketPipeline.dropTotalsRows(enriched))
          .select(
            col("container"),
            col("price_r").cast("double").as("price_r"),
            col("total_value_sold").cast("double").as("total_value_sold"),
            col("total_quantity_sold"),
            date_format(col("scrape_date"), "yyyy-MM-dd").as("scrape_date"),
            col("commodity"), col("link_type"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('10kg Bag', CAST(1234.5 AS DOUBLE), CAST(12345.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-12', 'apples_golden_delicious', 'summary'),
             |  ('5kg Box', CAST(99.0 AS DOUBLE), CAST(990.0 AS DOUBLE), CAST(10 AS BIGINT),
             |   '2026-08-12', 'apples_golden_delicious', 'summary'))
             |AS t(container, price_r, total_value_sold, total_quantity_sold,
             |     scrape_date, commodity, link_type)""".stripMargin)),

    // JSONL landing-zone ingest: events round-trip through a text JSONL
    // drop (the other ubiquitous landing format next to SNK1's CSV), read
    // back with an explicit schema in PERMISSIVE mode. Two planted bad
    // rows exercise both failure surfaces: a malformed line lands whole in
    // the corrupt-record column; a type-mismatched field (string where
    // BIGINT is declared) nulls JUST that field without tripping the
    // corrupt column — so the quarantine predicate must also demand a
    // parseable id, or the half-parsed row silently joins the clean data.
    // The oracle aggregates the source table directly: the hash match
    // proves the round trip is lossless and exactly the two planted rows
    // were dropped.
    Q("m06_jsonl_ingest",
      (s, dir) => {
        val t = Tables(s, dir)
        val tmp = landingDir(s"m06_jsonl_$dir") { tmp =>
          val landing = tmp.resolve("landing")
          t.events
            .select(to_json(struct(col("event_id"), col("event_type"),
              col("value"))).as("value"))
            .write.mode("overwrite").text(landing.toString)
          java.nio.file.Files.writeString(landing.resolve("zz_badshard.txt"),
            "{this is not json}\n{\"event_id\": \"not-a-number\", \"event_type\": \"view\", \"value\": 1.0}\n")
        }
        val landing = tmp.resolve("landing")
        val parsed = s.read
          .schema("event_id BIGINT, event_type STRING, value DOUBLE, _bad STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .json(landing.toString)
        parsed.filter(col("_bad").isNull && col("event_id").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumd(col("value")).as("sum_value"))
      },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sqlSumd("value")} AS sum_value
              |FROM events GROUP BY 1""".stripMargin)),

    // CSV round-trip — the reference's OWN landing format (SNK1 writes
    // header CSV): events land as headered CSV, read back with an explicit
    // schema in PERMISSIVE mode. A planted ragged line (too few columns)
    // must fill missing fields null and surface in the corrupt-record
    // column, and a type-mismatched cell must null its field — both
    // quarantined by the same parseable-id contract as m06, PLUS a
    // complete-row requirement (value present): a null value is
    // indistinguishable in CSV from a truncated line, so unlike m06 (where
    // JSON keeps the distinction) the contract here demands completeness,
    // and the oracle mirrors it with WHERE value IS NOT NULL. The oracle
    // aggregates the source table: the hash proves losslessness (including
    // doubles surviving text round-trip) and an exact quarantine.
    Q("m07_csv_roundtrip",
      (s, dir) => {
        val t = Tables(s, dir)
        val tmp = landingDir(s"m07_csv_$dir") { tmp =>
          val landing = tmp.resolve("landing")
          t.events.select(col("event_id"), col("event_type"), col("value"))
            .write.mode("overwrite").option("header", "true")
            .csv(landing.toString)
          java.nio.file.Files.writeString(landing.resolve("zz_bad.csv"),
            "event_id,event_type,value\n12345,view\nnot-a-number,click,2.5\n")
        }
        val landing = tmp.resolve("landing")
        val parsed = s.read
          .schema("event_id BIGINT, event_type STRING, value DOUBLE, _bad STRING")
          .option("header", "true")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .csv(landing.toString)
        parsed
          .filter(col("_bad").isNull && col("event_id").isNotNull &&
            col("value").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumd(col("value")).as("sum_value"))
      },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sqlSumd("value")} AS sum_value
              |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin)),

    // ORC round-trip with SCHEMA DRIFT: the third landing format Spark
    // bundles (columnar like parquet — the long-retention archive shape),
    // exercised the way drift actually happens: batch 1 lands the core
    // columns, batch 2 lands an extra derived column, and ONE mergeSchema
    // read unifies both (batch-1 rows surface the new column as null —
    // the same union-with-drift semantics as q09/m04, but resolved by the
    // source's schema merge instead of unionByName). The oracle rebuilds
    // the drifted column from the batch predicate; the hash proves the
    // columnar round trip is lossless and the merge fills exactly the
    // missing cells.
    Q("m08_orc_roundtrip",
      (s, dir) => {
        val t = Tables(s, dir)
        val tmp = landingDir(s"m08_orc_$dir") { tmp =>
          val landing = tmp.resolve("landing")
          t.events.filter(col("event_id") % 2 === 0)
            .select(col("event_id"), col("event_type"), col("value"))
            .write.mode("overwrite").orc(landing.resolve("b1").toString)
          t.events.filter(col("event_id") % 2 === 1)
            .select(col("event_id"), col("event_type"), col("value"),
              (col("value") * 2).as("value_x2"))
            .write.mode("overwrite").orc(landing.resolve("b2").toString)
        }
        val landing = tmp.resolve("landing")
        s.read.option("mergeSchema", "true")
          .orc(landing.resolve("b1").toString, landing.resolve("b2").toString)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumd(col("value")).as("sum_value"),
            sumd(coalesce(col("value_x2"), lit(0.0))).as("sum_x2"))
      },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sqlSumd("value")} AS sum_value,
              |  CAST(SUM(CASE WHEN event_id % 2 = 1 THEN ${sqlDec("value")} * 2
              |           ELSE 0 END) AS DOUBLE) AS sum_x2
              |FROM events GROUP BY 1""".stripMargin)),

    // F5 (completeness subset predicate) as an oracle row: per part, the
    // set of observed return flags and MarketPipeline.isComplete — the
    // exact "expected ⊆ scraped" array_except predicate the ingest gate
    // runs (reference div_link_handler.py:94-102) — against the full
    // {A, N, R} flag universe. The oracle mirrors subset containment as a
    // distinct-count over the expected members. One groupBy; the predicate
    // is a scalar expression over the collected set, codegen-friendly.
    Q("m09_completeness_predicate",
      (s, dir) => {
        val t = Tables(s, dir)
        t.lineitem.groupBy(col("l_partkey"))
          .agg(collect_set(col("l_returnflag")).as("flags"))
          .select(col("l_partkey"),
            MarketPipeline.isComplete(col("flags"), Seq("A", "N", "R"))
              .as("complete"))
      },
      Some("""SELECT l_partkey,
             |  COUNT(DISTINCT CASE WHEN l_returnflag IN ('A','N','R')
             |        THEN l_returnflag END) = 3 AS complete
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // SNK3 (completed-ledger upsert) as an oracle row: completion records
    // land APPEND-ONLY through Spark's writer (the ledger's older file
    // shape, which readLedger's fixed schema still reads), the same batch
    // written twice — a retried run — and readLedger's set-dedup read
    // proves the upsert is idempotent: the oracle computes the
    // single-write answer directly from orders, so the hash match IS the
    // "re-run is a no-op" claim. At 100 TB the ledger read stays one
    // groupBy over a date-filtered slice of a small control table.
    Q("m10_ledger_idempotent_upsert",
      (s, dir) => {
        val t = Tables(s, dir)
        val entries = t.orders.select(
          concat(lit("c"), expr("o_custkey % 50")).as("commodity"),
          col("o_orderpriority").as("link_type"),
          lit("2026-01-01").as("scrape_date"))
        val tmp = landingDir(s"m10_ledger_$dir") { tmp =>
          val led = tmp.resolve("ledger").toString
          entries.write.mode("append").parquet(led)
          entries.write.mode("append").parquet(led) // the retried run
        }
        MarketPipeline.readLedger(s, tmp.resolve("ledger").toString, "2026-01-01")
          .select(col("commodity"),
            array_join(sort_array(col("link_types")), ",").as("link_types"),
            size(col("link_types")).cast("long").as("n_types"))
      },
      Some("""SELECT 'c' || CAST(o_custkey % 50 AS VARCHAR) AS commodity,
             |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS link_types,
             |  COUNT(DISTINCT o_orderpriority) AS n_types
             |FROM orders GROUP BY 1""".stripMargin)),

    // Training-shard EXPORT round-trip: the write path of an LLM data
    // pipeline. Documents are hash-sharded (portable md5Hash32 mod 16 of
    // the doc id — deterministic, so re-exports land identically),
    // repartitioned BY the shard column (one shuffle → exactly one writer
    // task per shard, file-per-shard layout instead of tasks×shards
    // fragments), and landed as partitionBy(shard) parquet with a
    // per-doc token count stamped for budget accounting. The declared
    // result reads the LANDED files back and emits the shard manifest
    // (docs, token budget, id checksum per shard); the oracle computes the
    // same manifest from the source table, so the hash proves the export
    // is lossless, balanced, and shard-assignment-exact. At 100 TB add
    // maxRecordsPerFile + sortWithinPartitions(doc_id) per shard; the
    // shuffle stays one pass keyed by 16..4096 shard ids.
    Q("m11_training_shards",
      (s, dir) => {
        val t = Tables(s, dir)
        val nShards = 16
        val tmp = landingDir(s"m11_shards_$dir") { tmp =>
          t.documents
            .withColumn("shard",
              pmod(graft.functions.TextFns.md5Hash32(col("doc_id").cast("string")),
                lit(nShards.toLong)))
            .withColumn("n_tokens",
              graft.functions.TextFns.tokenCount(col("text")))
            .repartition(nShards, col("shard"))
            .write.mode("overwrite").partitionBy("shard")
            .parquet(tmp.resolve("shards").toString)
        }
        s.read.parquet(tmp.resolve("shards").toString)
          .groupBy(col("shard").cast("bigint").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("sum_tokens"),
            sum(col("doc_id")).as("id_checksum"))
      },
      Some(s"""SELECT ${graft.functions.TextFns.md5Hash32Sql("CAST(doc_id AS VARCHAR)")} % 16 AS shard,
              |  COUNT(*) AS n_docs,
              |  CAST(SUM(${graft.functions.TextFns.tokenCountSql("text")}) AS BIGINT) AS sum_tokens,
              |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
              |FROM documents GROUP BY 1""".stripMargin)),

    // END-TO-END incremental multimodal ingest (m12): ONE batch of
    // (image, caption) pairs through the whole daily-ingest DAG —
    // decode/quarantine → intra-batch perceptual dedup (components, min
    // pair represents) → admit/reject against the seed corpus band index
    // (batch-linear, no self-join) → DSIR-score admitted captions against
    // weights trained on the corpus → drift gate over the batch's token
    // distribution → hash-sharded export. The declared result audits the
    // LANDED files (per-pair status+score+shard, the m11-contract shard
    // manifest recomputed from the landing, the drift verdict) — the hash
    // proves the pipeline landed exactly what the composed relational
    // replay says it must. Corpus seed = the scene_a dHash fixtures;
    // batch = the 9 committed cross-modal pairs: 4 corpus dups (scene_a
    // family), 2 intra-batch dups (logo overlay of 4, repeat image of 6),
    // 2 admits, 1 quarantine. IngestStreamSpec proves the same DAG
    // exactly-once across a mid-stream kill/restart.
    Q("m12_incremental_ingest",
      (s, dir) => graft.ingest.IngestPipeline.audit(s,
        probeLanding(s, dir, s"m12_ingest_$dir", "g_m12_seed_bandidx") {
          (trained, out, idx) =>
            val seed = s.read.parquet(MultimodalQueries.dhashFixturePath)
              .filter(col("name").rlike("^scene_a"))
              .select(col("name").as("item_id"),
                graft.plans.DHashBmp(col("payload")).as("dh"))
              .select(col("item_id"), col("dh.hi").as("hi"), col("dh.lo").as("lo"))
            val corpus = graft.ingest.IngestPipeline.corpus(seed, out,
              bands = 4, radius = 3)
            (corpus, graft.ingest.IngestPipeline.stage(corpus, trained,
              nShards = 4, graft.plans.DHashBmp(_), idx),
              s.read.parquet(MultimodalQueries.xmodalFixturePath))
        }),
      Some {
        import graft.functions.TextFns
        val xmodal = MultimodalQueries.xmodalFixturePath
        val dhash = MultimodalQueries.dhashFixturePath
        val radius = 3
        val buckets = 512
        val nShards = 4
        def sd6(e: String) = s"CAST(round($e, 6) AS DECIMAL(18,6))"
        def ham(a: String, b: String) =
          s"bit_count(xor($a.hi, $b.hi)) + bit_count(xor($a.lo, $b.lo))"
        s"""WITH RECURSIVE pairsrc AS (
           |  SELECT pair_id, img_name, payload, caption
           |  FROM read_parquet('$xmodal')),
           |src AS (
           |  SELECT 'b:' || CAST(pair_id AS VARCHAR) AS key,
           |         hex(payload) AS h, octet_length(payload) AS n
           |  FROM pairsrc
           |  UNION ALL
           |  SELECT 'c:' || name, hex(payload), octet_length(payload)
           |  FROM read_parquet('$dhash')
           |  WHERE regexp_matches(name, '^scene_a')),
           |${MediaSql.bmpDHashCtes("src")},
           |bsig AS (
           |  SELECT CAST(substr(key, 3) AS BIGINT) AS pair_id, hi, lo
           |  FROM bmpdhash WHERE key LIKE 'b:%'),
           |csig AS (
           |  SELECT substr(key, 3) AS item_id, hi, lo
           |  FROM bmpdhash WHERE key LIKE 'c:%'),
           |ipairs AS (
           |  SELECT a.pair_id AS id_a, b.pair_id AS id_b
           |  FROM bsig a JOIN bsig b ON a.pair_id < b.pair_id
           |  WHERE ${ham("a", "b")} <= $radius),
           |iedges AS (
           |  SELECT id_a AS src2, id_b AS dst FROM ipairs
           |  UNION ALL SELECT id_b, id_a FROM ipairs),
           |ireach(id, label) AS (
           |  SELECT pair_id, pair_id FROM bsig
           |  UNION
           |  SELECT e.dst, r.label FROM ireach r JOIN iedges e ON e.src2 = r.id),
           |reps AS (SELECT id AS pair_id, MIN(label) AS rep FROM ireach GROUP BY id),
           |cdup AS (
           |  SELECT b.pair_id AS rep, MIN(c.item_id) AS corpus_dup_of
           |  FROM bsig b
           |  JOIN reps r ON r.pair_id = b.pair_id AND r.rep = b.pair_id
           |  JOIN csig c ON ${ham("b", "c")} <= $radius
           |  GROUP BY 1),
           |decided AS (
           |  SELECT p.pair_id, p.caption,
           |    CASE WHEN d.key IS NULL THEN 'quarantined_undecodable'
           |         WHEN r.rep <> p.pair_id
           |           THEN 'batch_dup:' || CAST(r.rep AS VARCHAR)
           |         WHEN cd.corpus_dup_of IS NOT NULL
           |           THEN 'corpus_dup:' || cd.corpus_dup_of
           |         ELSE NULL END AS reject_reason
           |  FROM pairsrc p
           |  LEFT JOIN bmpdhash d ON d.key = 'b:' || CAST(p.pair_id AS VARCHAR)
           |  LEFT JOIN reps r ON r.pair_id = p.pair_id
           |  LEFT JOIN cdup cd ON cd.rep = p.pair_id),
           |ctoks2 AS (
           |  SELECT source, unnest(${TextFns.tokensSql("text")}) AS term
           |  FROM documents),
           |by_bucket AS (
           |  SELECT (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
           |         COUNT(*) AS rc,
           |         SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc
           |  FROM ctoks2 GROUP BY 1),
           |totals AS (SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM by_bucket),
           |weights AS (
           |  SELECT bucket,
           |         ${sd6(s"ln(CAST(tc + 1 AS DOUBLE) / CAST(ttot + $buckets AS DOUBLE))")} -
           |         ${sd6(s"ln(CAST(rc + 1 AS DOUBLE) / CAST(rtot + $buckets AS DOUBLE))")} AS w
           |  FROM by_bucket CROSS JOIN totals),
           |adm AS (
           |  SELECT pair_id, caption FROM decided WHERE reject_reason IS NULL),
           |capfeats AS (
           |  SELECT pair_id,
           |         (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
           |         COUNT(*) AS cnt
           |  FROM (SELECT pair_id, unnest(${TextFns.tokensSql("caption")}) AS term
           |        FROM adm) GROUP BY 1, 2),
           |capscore AS (
           |  SELECT f.pair_id, SUM(f.cnt * w.w) AS sw
           |  FROM capfeats f JOIN weights w USING (bucket) GROUP BY 1),
           |admrows AS (
           |  SELECT a.pair_id,
           |    ${TextFns.md5Hash32Sql("CAST(a.pair_id AS VARCHAR)")} % $nShards AS shard,
           |    CAST(${TextFns.tokenCountSql("a.caption")} AS BIGINT) AS n_tokens,
           |    round(CAST(COALESCE(s.sw, 0) AS DOUBLE), 6) AS dsir_score
           |  FROM adm a LEFT JOIN capscore s ON s.pair_id = a.pair_id)
           |SELECT 'pair' AS kind, CAST(pair_id AS VARCHAR) AS key,
           |  'admitted' AS detail, CAST(shard AS BIGINT) AS n1, n_tokens AS n2,
           |  dsir_score AS x
           |FROM admrows
           |UNION ALL
           |SELECT 'pair', CAST(pair_id AS VARCHAR), reject_reason,
           |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
           |FROM decided WHERE reject_reason IS NOT NULL
           |UNION ALL
           |SELECT 'shard', CAST(shard AS VARCHAR), CAST(NULL AS VARCHAR),
           |  COUNT(*), CAST(SUM(n_tokens) AS BIGINT),
           |  CAST(CAST(SUM(pair_id) AS BIGINT) AS DOUBLE)
           |FROM admrows GROUP BY shard
           |UNION ALL
           |SELECT 'drift', batch, CAST(drifted AS VARCHAR), n_terms,
           |  chi2_micro, CAST(NULL AS DOUBLE)
           |FROM (
           |${graft.operators.Dsir.driftStatSql(
               "SELECT caption AS text FROM read_parquet('" + xmodal + "')",
               "SELECT text FROM documents", "text", buckets,
               20000.0, "batch_0")}
           |)""".stripMargin
      }),

    // The SAME pipeline over AUDIO assets (m13): IngestPipeline's admit
    // machinery is pure Hamming-space, so swapping the signature column
    // (AudioFp for DHashBmp) re-targets the whole DAG at an audio ingest
    // stream — intra-batch clustering collapses every tone_a re-encode
    // (rate/stereo/gain/dropout) onto one representative, which the seed
    // corpus (the 44.1k original alone) then rejects; novel tones admit;
    // non-PCM16 payloads quarantine. Captions are deterministic
    // name-derived transcripts so DSIR scoring, the drift gate and the
    // manifest stay oracle-exact. One fingerprint pass per distinct
    // asset; the oracle replays it per-sample in hex SQL.
    Q("m13_incremental_ingest_audio",
      (s, dir) => graft.ingest.IngestPipeline.audit(s,
        probeLanding(s, dir, s"m13_ingest_audio_$dir", "g_m13_seed_bandidx") {
          (trained, out, idx) =>
            val wavs = s.read.parquet(MultimodalQueries.audioFpFixturePath)
            val seed = wavs.filter(col("name") === "fp_tone_a_44k")
              .select(col("name").as("item_id"),
                graft.plans.AudioFp(col("payload"), dstRate = 6000).as("fp"))
              .select(col("item_id"), col("fp.hi").as("hi"), col("fp.lo").as("lo"))
            val batch = wavs
              .withColumn("pair_id", row_number().over(
                org.apache.spark.sql.expressions.Window.orderBy("name")).cast("long"))
              .select(col("pair_id"), col("name").as("img_name"), col("payload"),
                concat(lit("audio transcript "), col("name")).as("caption"))
            // the audio seed is one fingerprint — the machinery is
            // identical because admit is pure Hamming-space
            val corpus = graft.ingest.IngestPipeline.corpus(seed, out,
              bands = 4, radius = 3)
            (corpus, graft.ingest.IngestPipeline.stage(corpus, trained,
              nShards = 4, graft.plans.AudioFp(_, dstRate = 6000), idx),
              batch)
        }),
      Some {
        import graft.functions.TextFns
        val afp = MultimodalQueries.audioFpFixturePath
        val radius = 3
        val buckets = 512
        val nShards = 4
        def sd6(e: String) = s"CAST(round($e, 6) AS DECIMAL(18,6))"
        def ham(a: String, b: String) =
          s"bit_count(xor($a.hi, $b.hi)) + bit_count(xor($a.lo, $b.lo))"
        s"""WITH RECURSIVE wavs AS (
           |  SELECT name, hex(payload) AS h, octet_length(payload) AS n
           |  FROM read_parquet('$afp')),
           |src AS (SELECT name AS key, h, n FROM wavs),
           |${MediaSql.wavFpCtes("src", 6000)},
           |prs AS (
           |  SELECT name,
           |    CAST(ROW_NUMBER() OVER (ORDER BY name) AS BIGINT) AS pair_id,
           |    'audio transcript ' || name AS caption
           |  FROM wavs),
           |bsig AS (
           |  SELECT p.pair_id, f.hi, f.lo
           |  FROM prs p JOIN wavfp f ON f.key = p.name),
           |csig AS (
           |  SELECT key AS item_id, hi, lo FROM wavfp
           |  WHERE key = 'fp_tone_a_44k'),
           |ipairs AS (
           |  SELECT a.pair_id AS id_a, b.pair_id AS id_b
           |  FROM bsig a JOIN bsig b ON a.pair_id < b.pair_id
           |  WHERE ${ham("a", "b")} <= $radius),
           |iedges AS (
           |  SELECT id_a AS src2, id_b AS dst FROM ipairs
           |  UNION ALL SELECT id_b, id_a FROM ipairs),
           |ireach(id, label) AS (
           |  SELECT pair_id, pair_id FROM bsig
           |  UNION
           |  SELECT e.dst, r.label FROM ireach r JOIN iedges e ON e.src2 = r.id),
           |reps AS (SELECT id AS pair_id, MIN(label) AS rep FROM ireach GROUP BY id),
           |cdup AS (
           |  SELECT b.pair_id AS rep, MIN(c.item_id) AS corpus_dup_of
           |  FROM bsig b
           |  JOIN reps r ON r.pair_id = b.pair_id AND r.rep = b.pair_id
           |  JOIN csig c ON ${ham("b", "c")} <= $radius
           |  GROUP BY 1),
           |decided AS (
           |  SELECT p.pair_id, p.caption,
           |    CASE WHEN d.key IS NULL THEN 'quarantined_undecodable'
           |         WHEN r.rep <> p.pair_id
           |           THEN 'batch_dup:' || CAST(r.rep AS VARCHAR)
           |         WHEN cd.corpus_dup_of IS NOT NULL
           |           THEN 'corpus_dup:' || cd.corpus_dup_of
           |         ELSE NULL END AS reject_reason
           |  FROM prs p
           |  LEFT JOIN wavfp d ON d.key = p.name
           |  LEFT JOIN reps r ON r.pair_id = p.pair_id
           |  LEFT JOIN cdup cd ON cd.rep = p.pair_id),
           |ctoks2 AS (
           |  SELECT source, unnest(${TextFns.tokensSql("text")}) AS term
           |  FROM documents),
           |by_bucket AS (
           |  SELECT (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
           |         COUNT(*) AS rc,
           |         SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc
           |  FROM ctoks2 GROUP BY 1),
           |totals AS (SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM by_bucket),
           |weights AS (
           |  SELECT bucket,
           |         ${sd6(s"ln(CAST(tc + 1 AS DOUBLE) / CAST(ttot + $buckets AS DOUBLE))")} -
           |         ${sd6(s"ln(CAST(rc + 1 AS DOUBLE) / CAST(rtot + $buckets AS DOUBLE))")} AS w
           |  FROM by_bucket CROSS JOIN totals),
           |adm AS (
           |  SELECT pair_id, caption FROM decided WHERE reject_reason IS NULL),
           |capfeats AS (
           |  SELECT pair_id,
           |         (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
           |         COUNT(*) AS cnt
           |  FROM (SELECT pair_id, unnest(${TextFns.tokensSql("caption")}) AS term
           |        FROM adm) GROUP BY 1, 2),
           |capscore AS (
           |  SELECT f.pair_id, SUM(f.cnt * w.w) AS sw
           |  FROM capfeats f JOIN weights w USING (bucket) GROUP BY 1),
           |admrows AS (
           |  SELECT a.pair_id,
           |    ${TextFns.md5Hash32Sql("CAST(a.pair_id AS VARCHAR)")} % $nShards AS shard,
           |    CAST(${TextFns.tokenCountSql("a.caption")} AS BIGINT) AS n_tokens,
           |    round(CAST(COALESCE(s.sw, 0) AS DOUBLE), 6) AS dsir_score
           |  FROM adm a LEFT JOIN capscore s ON s.pair_id = a.pair_id)
           |SELECT 'pair' AS kind, CAST(pair_id AS VARCHAR) AS key,
           |  'admitted' AS detail, CAST(shard AS BIGINT) AS n1, n_tokens AS n2,
           |  dsir_score AS x
           |FROM admrows
           |UNION ALL
           |SELECT 'pair', CAST(pair_id AS VARCHAR), reject_reason,
           |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
           |FROM decided WHERE reject_reason IS NOT NULL
           |UNION ALL
           |SELECT 'shard', CAST(shard AS VARCHAR), CAST(NULL AS VARCHAR),
           |  COUNT(*), CAST(SUM(n_tokens) AS BIGINT),
           |  CAST(CAST(SUM(pair_id) AS BIGINT) AS DOUBLE)
           |FROM admrows GROUP BY shard
           |UNION ALL
           |SELECT 'drift', batch, CAST(drifted AS VARCHAR), n_terms,
           |  chi2_micro, CAST(NULL AS DOUBLE)
           |FROM (
           |${graft.operators.Dsir.driftStatSql(
               "SELECT 'audio transcript ' || name AS text FROM read_parquet('" +
                 afp + "')",
               "SELECT text FROM documents", "text", buckets,
               20000.0, "batch_0")}
           |)""".stripMargin
      }),

    // END-TO-END incremental TEXT ingest (m14): the m12 DAG re-targeted
    // at a document corpus — quality gate (integer-exact token bounds;
    // heuristic langId stamped as metadata) → intra-batch MinHash-LSH
    // dedup (verified pairs → components, min doc_id represents) →
    // admit/reject against the PERSISTED bucketed MinHash band index of
    // the seed corpus (the d30 probe: zero corpus-side exchanges) → DSIR
    // score → drift gate over the whole batch → hash-sharded export.
    // Corpus = documents with doc_id % 5 <> 0 (d12's split); batch =
    // constructed from the % 5 = 0 docs with planted outcomes per block
    // of four: a corpus dup (text copied from a corpus neighbor), a
    // fresh doc, an intra-batch dup of that fresh doc, and a gate reject
    // (alternating too-short / too-long). The declared result audits the
    // LANDED files; TextIngestStreamSpec proves the same DAG exactly-once
    // across a mid-stream kill/restart on the probe path.
    Q("m14_incremental_ingest_text",
      (s, dir) => graft.ingest.TextIngestPipeline.audit(s,
        probeLanding(s, dir, s"m14_ingest_text_$dir",
            s"g_m14_seed_textidx_${LayoutQueries.tag(dir)}") {
          (trained, out, idx) =>
            val docs = Tables(s, dir).documents
            val seed = docs.filter(col("doc_id") % 5 =!= 0)
              .select(col("doc_id"), col("text"))
            val batch = docs.as("b")
              .filter(col("b.doc_id") % 5 === 0)
              .join(docs.select(col("doc_id").as("cid"), col("text").as("ctext")),
                col("b.doc_id") + 1 === col("cid"), "left")
              .join(docs.select(col("doc_id").as("pid"), col("text").as("ptext")),
                col("b.doc_id") - 5 === col("pid"), "left")
              .select((col("b.doc_id") + 1000000L).as("doc_id"),
                when(col("b.doc_id") % 20 === 0, coalesce(col("ctext"), col("b.text")))
                  .when(col("b.doc_id") % 20 === 10, coalesce(col("ptext"), col("b.text")))
                  .when(col("b.doc_id") % 40 === 15, lit("too short doc"))
                  .when(col("b.doc_id") % 40 === 35,
                    repeat(concat(col("b.text"), lit(" ")), 60))
                  .otherwise(col("b.text")).as("text"))
            val corpus = graft.ingest.TextIngestPipeline.corpus(seed, out,
              n = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.8)
            (corpus, graft.ingest.TextIngestPipeline.stage(corpus, trained,
              minTokens = 5L, maxTokens = 400L, nShards = 4, idx), batch)
        }),
      Some {
        import graft.functions.TextFns
        val buckets = 512
        val nShards = 4
        val thr = 0.8
        def sd6(e: String) = s"CAST(round($e, 6) AS DECIMAL(18,6))"
        // one batch-construction fragment, shared by the main replay and
        // the drift subquery (drift runs over the WHOLE batch's text)
        val batchSelect =
          """SELECT b.doc_id + 1000000 AS doc_id,
            |  CASE WHEN b.doc_id % 20 = 0 THEN COALESCE(c.text, b.text)
            |       WHEN b.doc_id % 20 = 10 THEN COALESCE(p.text, b.text)
            |       WHEN b.doc_id % 40 = 15 THEN 'too short doc'
            |       WHEN b.doc_id % 40 = 35 THEN repeat(b.text || ' ', 60)
            |       ELSE b.text END AS text
            |FROM documents b
            |LEFT JOIN documents c ON c.doc_id = b.doc_id + 1
            |LEFT JOIN documents p ON p.doc_id = b.doc_id - 5
            |WHERE b.doc_id % 5 = 0""".stripMargin
        val minCols = graft.operators.Dedup.minhashCoeffs(12).zipWithIndex
          .map { case ((a, b), i) =>
            s"MIN((base * $a + $b) % ${graft.operators.Dedup.MinhashP}) AS m$i"
          }.mkString(", ")
        def bandSelects(minsCte: String) = (0 until 4).map { j =>
          val sig = ((j * 3) until ((j + 1) * 3))
            .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || '|' || ")
          s"SELECT id, $j AS band, $sig AS sig FROM $minsCte"
        }.mkString(" UNION ALL ")
        s"""WITH RECURSIVE corpus AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
           |batch AS ($batchSelect),
           |gated AS (
           |  SELECT doc_id, text,
           |    CAST(${TextFns.tokenCountSql("text")} AS BIGINT) AS n_tokens,
           |    CASE WHEN ${TextFns.tokenCountSql("text")} < 5
           |           THEN 'below_min_tokens'
           |         WHEN ${TextFns.tokenCountSql("text")} > 400
           |           THEN 'above_max_tokens' END AS gate_reason
           |  FROM batch),
           |surv AS (SELECT doc_id, text FROM gated WHERE gate_reason IS NULL),
           |bsh AS (
           |  SELECT DISTINCT doc_id AS id, unnest(${TextFns.shinglesSql("text", 3)}) AS sh
           |  FROM surv),
           |csh AS (
           |  SELECT DISTINCT doc_id AS id, unnest(${TextFns.shinglesSql("text", 3)}) AS sh
           |  FROM corpus),
           |bbased AS (SELECT id, ${TextFns.md5Hash32Sql("sh")} AS base FROM bsh),
           |cbased AS (SELECT id, ${TextFns.md5Hash32Sql("sh")} AS base FROM csh),
           |bmins AS (SELECT id, $minCols FROM bbased GROUP BY id),
           |cmins AS (SELECT id, $minCols FROM cbased GROUP BY id),
           |bbands AS (${bandSelects("bmins")}),
           |cbands AS (${bandSelects("cmins")}),
           |bsizes AS (SELECT id, COUNT(*) AS n_sh FROM bsh GROUP BY id),
           |csizes AS (SELECT id, COUNT(*) AS n_sh FROM csh GROUP BY id),
           |icands AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM bbands a JOIN bbands b
           |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
           |icommon AS (
           |  SELECT id_a, id_b, COUNT(*) AS n_common
           |  FROM icands JOIN bsh x ON id_a = x.id
           |  JOIN bsh y ON id_b = y.id AND x.sh = y.sh
           |  GROUP BY 1, 2),
           |ipairs AS (
           |  SELECT id_a, id_b
           |  FROM icommon JOIN bsizes sa ON id_a = sa.id
           |  JOIN bsizes sb ON id_b = sb.id
           |  WHERE CAST(n_common AS DOUBLE) /
           |        CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= $thr),
           |iedges AS (
           |  SELECT id_a AS src2, id_b AS dst FROM ipairs
           |  UNION ALL SELECT id_b, id_a FROM ipairs),
           |ireach(id, label) AS (
           |  SELECT doc_id, doc_id FROM surv
           |  UNION
           |  SELECT e.dst, r.label FROM ireach r JOIN iedges e ON e.src2 = r.id),
           |reps AS (SELECT id AS doc_id, MIN(label) AS rep FROM ireach GROUP BY id),
           |repbands AS (
           |  SELECT b.* FROM bbands b
           |  JOIN reps r ON r.doc_id = b.id AND r.rep = b.id),
           |xcands AS (
           |  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
           |  FROM repbands b JOIN cbands c ON b.band = c.band AND b.sig = c.sig),
           |xcommon AS (
           |  SELECT batch_id, corpus_id, COUNT(*) AS n_common
           |  FROM xcands JOIN bsh x ON batch_id = x.id
           |  JOIN csh y ON corpus_id = y.id AND x.sh = y.sh
           |  GROUP BY 1, 2),
           |xdup AS (
           |  SELECT batch_id, MIN(corpus_id) AS corpus_dup_of
           |  FROM xcommon JOIN bsizes sb ON batch_id = sb.id
           |  JOIN csizes sc ON corpus_id = sc.id
           |  WHERE CAST(n_common AS DOUBLE) /
           |        CAST(sb.n_sh + sc.n_sh - n_common AS DOUBLE) >= $thr
           |  GROUP BY 1),
           |decided AS (
           |  SELECT g.doc_id, g.text, g.n_tokens,
           |    CASE WHEN g.gate_reason IS NOT NULL THEN g.gate_reason
           |         WHEN r.rep <> g.doc_id
           |           THEN 'batch_dup:' || CAST(r.rep AS VARCHAR)
           |         WHEN x.corpus_dup_of IS NOT NULL
           |           THEN 'corpus_dup:' || CAST(x.corpus_dup_of AS VARCHAR)
           |         ELSE NULL END AS reject_reason
           |  FROM gated g
           |  LEFT JOIN reps r ON r.doc_id = g.doc_id
           |  LEFT JOIN xdup x ON x.batch_id = g.doc_id),
           |ctoks2 AS (
           |  SELECT source, unnest(${TextFns.tokensSql("text")}) AS term
           |  FROM documents),
           |by_bucket AS (
           |  SELECT (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
           |         COUNT(*) AS rc,
           |         SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc
           |  FROM ctoks2 GROUP BY 1),
           |totals AS (SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM by_bucket),
           |weights AS (
           |  SELECT bucket,
           |         ${sd6(s"ln(CAST(tc + 1 AS DOUBLE) / CAST(ttot + $buckets AS DOUBLE))")} -
           |         ${sd6(s"ln(CAST(rc + 1 AS DOUBLE) / CAST(rtot + $buckets AS DOUBLE))")} AS w
           |  FROM by_bucket CROSS JOIN totals),
           |adm AS (
           |  SELECT doc_id, text, n_tokens FROM decided
           |  WHERE reject_reason IS NULL),
           |feats AS (
           |  SELECT doc_id,
           |         (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
           |         COUNT(*) AS cnt
           |  FROM (SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS term
           |        FROM adm) GROUP BY 1, 2),
           |score AS (
           |  SELECT f.doc_id, SUM(f.cnt * w.w) AS sw
           |  FROM feats f JOIN weights w USING (bucket) GROUP BY 1),
           |admrows AS (
           |  SELECT a.doc_id, ${TextFns.langIdSql("a.text")} AS lang,
           |    ${TextFns.md5Hash32Sql("CAST(a.doc_id AS VARCHAR)")} % $nShards AS shard,
           |    a.n_tokens,
           |    round(CAST(COALESCE(s.sw, 0) AS DOUBLE), 6) AS dsir_score
           |  FROM adm a LEFT JOIN score s ON s.doc_id = a.doc_id)
           |SELECT 'doc' AS kind, CAST(doc_id AS VARCHAR) AS key,
           |  'admitted:' || lang AS detail, CAST(shard AS BIGINT) AS n1,
           |  n_tokens AS n2, dsir_score AS x
           |FROM admrows
           |UNION ALL
           |SELECT 'doc', CAST(doc_id AS VARCHAR), reject_reason,
           |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
           |FROM decided WHERE reject_reason IS NOT NULL
           |UNION ALL
           |SELECT 'shard', CAST(shard AS VARCHAR), CAST(NULL AS VARCHAR),
           |  COUNT(*), CAST(SUM(n_tokens) AS BIGINT),
           |  CAST(CAST(SUM(doc_id) AS BIGINT) AS DOUBLE)
           |FROM admrows GROUP BY shard
           |UNION ALL
           |SELECT 'drift', batch, CAST(drifted AS VARCHAR), n_terms,
           |  chi2_micro, CAST(NULL AS DOUBLE)
           |FROM (
           |${graft.operators.Dsir.driftStatSql(batchSelect,
               "SELECT text FROM documents", "text", buckets,
               20000.0, "batch_0")}
           |)""".stripMargin
      }),

    // END-TO-END incremental EMBEDDING ingest (m15): the m12/m14 DAG
    // re-targeted at a vector corpus, where the corpus index IS the
    // serving ANN index — zero-norm gate → intra-batch exact-cosine
    // dedup (pairs → components, min vec_id represents) → admit/reject
    // by PROBING the persisted IVF-PQ index (top-1 + exact rerank at the
    // threshold: per-batch admit cost is the SERVE cost, never a corpus
    // scan — the d29/d30 move for vectors) → exactly-once PQ-code append
    // under an ingest_batch partition → recall monitor (spec-gated; its
    // math is hash-proven by e19/e21, so the declared audit filters
    // monitor rows). Corpus = embeddings with vec_id % 5 <> 0; batch =
    // constructed from the % 5 = 0 vectors per block of four: a corpus
    // dup (copy of a seed neighbor), a fresh vector, an intra-batch dup
    // of that fresh vector, and a zero-norm gate reject. The audit's
    // 'list' rows prove WHAT entered the index (per-list counts, id and
    // stale-encode code checksums); EmbIngestStreamSpec proves the same
    // DAG exactly-once across kill/restart plus the drift-fire → rebuild
    // → recovery loop in-stream.
    Q("m15_incremental_ingest_embeddings",
      (s, dir) => {
        val tmp = m15Landing(s, dir)
        graft.ingest.EmbIngestPipeline.audit(s, tmp.resolve("out").toString,
          tmp.resolve("index").toString, includeMonitor = false)
      },
      Some(M15Sql.baseAudit)),

    // m16: the m15 audit INCLUDING the per-batch recall-monitor verdict —
    // the embedding ingest loop's last spec-only surface promoted to a
    // declared, hash-gated row. The oracle replays the monitor end to
    // end: approx = the stale-codebook IVF-PQ serve over seed ∪ admitted
    // (encodeRel — exactly the codes the engine's index holds after the
    // batch-0 append), queried by the deterministic admitted sample
    // (ORDER BY vec_id LIMIT monitorMax); exact = brute-force cosine
    // top-k over the same corpus; verdict = MICRO-averaged recall (total
    // hits / total truth — integer sums, one double division, which is
    // what makes the landed double bit-comparable across engines) tested
    // against the 0.7 target. Same landed artifact as m15 (shared
    // landingDir), so the two rows prove the same run from two angles.
    Q("m16_emb_ingest_monitor",
      (s, dir) => {
        val tmp = m15Landing(s, dir)
        graft.ingest.EmbIngestPipeline.audit(s, tmp.resolve("out").toString,
          tmp.resolve("index").toString, includeMonitor = true)
      },
      Some(M15Sql.m16Audit)),
  )

  /** m12/m13/m14's shared landed artifact: ONE batch through a
    * band-index pipeline on the PROBE path (the 100 TB shape — admit
    * joins the persisted bucketed seed band index, not a per-batch
    * re-shuffle of the corpus; identical oracle — the two corpus sides
    * are equal by the d29/d31 proofs). DSIR is trained on the sf
    * documents; the seed-only index (through = -1) is a pure function of
    * the inputs, so it is built once per session. `define` gets (trained, out dir, index
    * thunk) and returns the pipeline's corpus, stage and batch 0. Returns
    * the out dir the pipeline's audit reads.
    */
  private def probeLanding(s: org.apache.spark.sql.SparkSession, dir: String,
      key: String, idxTab: String)(
      define: (graft.ingest.Frame.Trained, String,
        () => Option[graft.ingest.Frame.IndexState]) =>
        (graft.ingest.Frame.Corpus, graft.ingest.Frame.Stage,
          org.apache.spark.sql.DataFrame)): String =
    landingDir(key) { tmp =>
      val out = tmp.resolve("out").toString
      val trained = graft.ingest.Frame.train(Tables(s, dir).documents,
        "doc_id", "text", "source", targetSource = "src0", buckets = 512,
        driftThreshold = 20000.0)
      val (corpus, stage, batch) = define(trained, out,
        () => Some(graft.ingest.Frame.IndexState(idxTab, -1L)))
      LayoutQueries.ensureTable(s, idxTab)(
        corpus.buildIndex(idxTab, nBuckets = 8, through = -1L))
      graft.ingest.Frame.ingestBatch(stage, batch, batchId = 0L)
    }.resolve("out").toString

  /** m15/m16's shared landed artifact: ONE embedding ingest batch driven
    * through the full m15 DAG (bootstrap index + ingestBatch 0) over the
    * sf tables — built once per (query, sfDir), read by both declared
    * rows (m15 = decisions + index manifest, m16 = + monitor verdict).
    */
  private def m15Landing(s: org.apache.spark.sql.SparkSession,
      dir: String): java.nio.file.Path =
    landingDir(s"m15_ingest_emb_$dir") { tmp =>
      val emb = Tables(s, dir).embeddings
      val seed = emb.filter(col("vec_id") % 5 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val batch = emb.as("b").filter(col("b.vec_id") % 5 === 0)
        .join(emb.select(col("vec_id").as("cid"), col("embedding").as("cvec2")),
          col("b.vec_id") + 1 === col("cid"), "left")
        .join(emb.select(col("vec_id").as("pid"), col("embedding").as("pvec2")),
          col("b.vec_id") - 5 === col("pid"), "left")
        .select((col("b.vec_id") + 1000000L).as("vec_id"),
          when(col("b.vec_id") % 20 === 0, coalesce(col("cvec2"), col("b.embedding")))
            .when(col("b.vec_id") % 20 === 10, coalesce(col("pvec2"), col("b.embedding")))
            .when(col("b.vec_id") % 40 === 15, array_repeat(lit(0.0f), 64))
            .otherwise(col("b.embedding")).as("embedding"))
      val p = graft.ingest.EmbIngestPipeline.Params(
        dim = 64, threshold = 0.95, nlist = 16, itersCoarse = 2,
        m = 8, ksub = 16, itersPq = 2, nprobe = 4, rerank = 20,
        monitorK = 5, monitorMax = 50, recallTarget = 0.7)
      val idxDir = tmp.resolve("index").toString
      val outP = tmp.resolve("out").toString
      graft.ingest.EmbIngestPipeline.rebuildIndex(s, seed, outP,
        idxDir, p, through = -1L)
      graft.ingest.EmbIngestPipeline.ingestBatch(batch, seed, p, outP,
        batchId = 0L, () => idxDir)
    }

  /** The m15/m16 oracle, assembled once: the full relational replay of
    * the embedding ingest batch (gate → intra-batch CC → stale-codebook
    * probe admit → per-list codes manifest), plus the monitor replay m16
    * adds on top.
    */
  private object M15Sql {
    import graft.functions.VectorFns
    private val thr = 0.95
    private val dim = 64
    private val seedPred = "vec_id % 5 <> 0"
    private val batchSelect =
      """SELECT b.vec_id + 1000000 AS vec_id,
        |  CASE WHEN b.vec_id % 20 = 0 THEN COALESCE(c.embedding, b.embedding)
        |       WHEN b.vec_id % 20 = 10 THEN COALESCE(p.embedding, b.embedding)
        |       WHEN b.vec_id % 40 = 15
        |         THEN CAST(list_transform(range(64), x -> 0.0) AS FLOAT[])
        |       ELSE b.embedding END AS embedding
        |FROM embeddings b
        |LEFT JOIN embeddings c ON c.vec_id = b.vec_id + 1
        |LEFT JOIN embeddings p ON p.vec_id = b.vec_id - 5
        |WHERE b.vec_id % 5 = 0""".stripMargin
    // the shared decision chain: gate → intra-batch pairs →
    // components → representatives (standalone, reused textually)
    private val chain =
      s"""batch AS ($batchSelect),
         |gated AS (
         |  SELECT vec_id, embedding,
         |    CASE WHEN embedding IS NULL OR len(embedding) <> $dim
         |           THEN 'bad_vector'
         |         WHEN ${VectorFns.normSql("embedding", dim)} = 0
         |           THEN 'zero_norm' END AS gate_reason
         |  FROM batch),
         |surv AS (SELECT vec_id, embedding FROM gated WHERE gate_reason IS NULL),
         |v AS (
         |  SELECT vec_id AS id, embedding AS vec,
         |         ${VectorFns.normSql("embedding", dim)} AS nrm
         |  FROM surv),
         |ip AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM v a JOIN v b ON a.id < b.id
         |  WHERE (${VectorFns.dotSql("a.vec", "b.vec", dim)}) / (a.nrm * b.nrm) >= $thr),
         |ie AS (
         |  SELECT id_a AS src2, id_b AS dst FROM ip
         |  UNION ALL SELECT id_b, id_a FROM ip),
         |ir(id, label) AS (
         |  SELECT vec_id, vec_id FROM surv
         |  UNION
         |  SELECT e.dst, r.label FROM ir r JOIN ie e ON e.src2 = r.id),
         |reps AS (SELECT id, MIN(label) AS rep FROM ir GROUP BY id)""".stripMargin
    private val repsRel =
      s"""WITH RECURSIVE $chain
         |SELECT s.vec_id, s.embedding FROM surv s
         |JOIN reps r ON r.id = s.vec_id AND r.rep = s.vec_id""".stripMargin
    private val top1Sql = graft.operators.Similarity.ivfPqTopKStaleSql(
      "embeddings", "vec_id", "embedding", dim, 1, 16, 2, 4, 8, 16, 2, 20,
      trainPred = seedPred, queryPred = "TRUE",
      encodePred = seedPred, queryRel = Some(repsRel))
    private val admittedRel =
      s"""WITH RECURSIVE $chain,
         |top1 AS (
         |  SELECT query_id, neighbor_id, cos_sim FROM ($top1Sql) _t
         |  WHERE cos_sim >= $thr)
         |SELECT s.vec_id, s.embedding FROM surv s
         |JOIN reps r ON r.id = s.vec_id AND r.rep = s.vec_id
         |LEFT JOIN top1 t ON t.query_id = s.vec_id
         |WHERE t.query_id IS NULL""".stripMargin
    private val manifestSql = graft.operators.Similarity.pqListManifestSql(
      "embeddings", "vec_id", "embedding", dim, 16, 2, 8, 16, 2,
      trainPred = seedPred, rowsRel = admittedRel)
    val baseAudit: String =
      s"""WITH RECURSIVE $chain,
         |top1 AS (
         |  SELECT query_id, neighbor_id, cos_sim FROM ($top1Sql) _t
         |  WHERE cos_sim >= $thr),
         |decided AS (
         |  SELECT g.vec_id,
         |    CASE WHEN g.gate_reason IS NOT NULL THEN g.gate_reason
         |         WHEN r.rep <> g.vec_id
         |           THEN 'batch_dup:' || CAST(r.rep AS VARCHAR)
         |         WHEN t.neighbor_id IS NOT NULL
         |           THEN 'corpus_dup:' || CAST(t.neighbor_id AS VARCHAR)
         |         ELSE NULL END AS reject_reason,
         |    t.cos_sim AS dup_cos
         |  FROM gated g
         |  LEFT JOIN reps r ON r.id = g.vec_id
         |  LEFT JOIN top1 t ON t.query_id = g.vec_id)
         |SELECT 'vec' AS kind, CAST(vec_id AS VARCHAR) AS key,
         |  'admitted' AS detail, CAST(NULL AS BIGINT) AS n1,
         |  CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS x
         |FROM decided WHERE reject_reason IS NULL
         |UNION ALL
         |SELECT 'vec', CAST(vec_id AS VARCHAR), reject_reason,
         |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), dup_cos
         |FROM decided WHERE reject_reason IS NOT NULL
         |UNION ALL
         |SELECT 'list', CAST(list_id AS VARCHAR), CAST(NULL AS VARCHAR),
         |  n_codes, code0_checksum, CAST(id_checksum AS DOUBLE)
         |FROM ($manifestSql) _m""".stripMargin
    /** m16 = baseAudit + the monitor verdict replay, assembled as ONE
      * statement whose shared relations are defined once and MATERIALIZED
      * (DuckDB inlines a plain CTE per reference — the monitor touches the
      * admitted chain ~7×, and naive textual nesting replays the whole
      * recursive-CC + stale-IVF-PQ chain each time, which runs DuckDB out
      * of memory at sf0.01; materializing admitted/served/sample collapses
      * the blowup to one evaluation each). The embedded generator outputs
      * (stale serve, exact top-k, manifest) reference those CTEs from
      * their outer scope via the *Rel hooks. Monitor semantics: approx =
      * stale-codebook serve over seed ∪ admitted at monitorK, exact =
      * brute-force cosine over the same corpus, MICRO-averaged recall
      * (integer sums, one division — bit-comparable) vs the 0.7 target.
      */
    val m16Audit: String = {
      val fromAdm = "SELECT vec_id, embedding FROM m16adm"
      val fromSrv = "SELECT vec_id, embedding FROM m16srv"
      val fromSmp = "SELECT vec_id, embedding FROM m16smp"
      // reps-of-surv inline (references the OUTER chain's CTEs — one
      // chain evaluation serves both the decision rows and this probe)
      val repsInline =
        "SELECT s.vec_id, s.embedding FROM surv s " +
          "JOIN reps r ON r.id = s.vec_id AND r.rep = s.vec_id"
      val top1Shared = graft.operators.Similarity.ivfPqTopKStaleSql(
        "embeddings", "vec_id", "embedding", dim, 1, 16, 2, 4, 8, 16, 2, 20,
        trainPred = seedPred, queryPred = "TRUE",
        encodePred = seedPred, queryRel = Some(repsInline))
      val approxSql = graft.operators.Similarity.ivfPqTopKStaleSql(
        "embeddings", "vec_id", "embedding", dim, 5, 16, 2, 4, 8, 16, 2, 20,
        trainPred = seedPred, queryPred = "TRUE",
        queryRel = Some(fromSmp), encodeRel = Some(fromSrv))
      val exactSql = graft.operators.Similarity.cosineTopKSql(
        "embeddings", "vec_id", "embedding", dim, 5, "TRUE",
        corpusRel = Some(fromSrv), queryRel = Some(fromSmp))
      val recallSql = graft.operators.Similarity.recallAtKSql(approxSql, exactSql)
      val manifest16 = graft.operators.Similarity.pqListManifestSql(
        "embeddings", "vec_id", "embedding", dim, 16, 2, 8, 16, 2,
        trainPred = seedPred, rowsRel = fromAdm)
      s"""WITH RECURSIVE $chain,
         |top1 AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, cos_sim FROM ($top1Shared) _t
         |  WHERE cos_sim >= $thr),
         |decided AS (
         |  SELECT g.vec_id,
         |    CASE WHEN g.gate_reason IS NOT NULL THEN g.gate_reason
         |         WHEN r.rep <> g.vec_id
         |           THEN 'batch_dup:' || CAST(r.rep AS VARCHAR)
         |         WHEN t.neighbor_id IS NOT NULL
         |           THEN 'corpus_dup:' || CAST(t.neighbor_id AS VARCHAR)
         |         ELSE NULL END AS reject_reason,
         |    t.cos_sim AS dup_cos
         |  FROM gated g
         |  LEFT JOIN reps r ON r.id = g.vec_id
         |  LEFT JOIN top1 t ON t.query_id = g.vec_id),
         |m16adm AS MATERIALIZED (
         |  SELECT s.vec_id, s.embedding FROM surv s
         |  JOIN reps r ON r.id = s.vec_id AND r.rep = s.vec_id
         |  LEFT JOIN top1 t ON t.query_id = s.vec_id
         |  WHERE t.query_id IS NULL),
         |m16srv AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings WHERE $seedPred
         |  UNION ALL
         |  SELECT vec_id, embedding FROM m16adm),
         |m16smp AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM m16adm ORDER BY vec_id LIMIT 50),
         |rcl AS MATERIALIZED ($recallSql)
         |SELECT 'vec' AS kind, CAST(vec_id AS VARCHAR) AS key,
         |  'admitted' AS detail, CAST(NULL AS BIGINT) AS n1,
         |  CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS x
         |FROM decided WHERE reject_reason IS NULL
         |UNION ALL
         |SELECT 'vec', CAST(vec_id AS VARCHAR), reject_reason,
         |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), dup_cos
         |FROM decided WHERE reject_reason IS NOT NULL
         |UNION ALL
         |SELECT 'list', CAST(list_id AS VARCHAR), CAST(NULL AS VARCHAR),
         |  n_codes, code0_checksum, CAST(id_checksum AS DOUBLE)
         |FROM ($manifest16) _m
         |UNION ALL
         |SELECT 'monitor', 'batch_0', CAST(fired AS VARCHAR),
         |  n_queries, CAST(NULL AS BIGINT), mean_recall
         |FROM (
         |  SELECT COUNT(*) AS n_queries,
         |    CAST(SUM(hits) AS DOUBLE) / CAST(SUM(n_exact) AS DOUBLE) AS mean_recall,
         |    (CAST(SUM(hits) AS DOUBLE) / CAST(SUM(n_exact) AS DOUBLE)) < 0.7 AS fired
         |  FROM rcl) _mon""".stripMargin
    }
  }
}
