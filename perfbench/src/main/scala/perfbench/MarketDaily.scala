package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{DailyRun, MarketPipeline}
import graft.operators.MarketAnalytics
import graft.sources.HtmlTable

/** One generated market page and the facts the checks need about it. */
final case class MarketPage(html: String, content: Option[String],
    rows: Seq[(Long, JBigDecimal)])

/** The paper's flagship: a season of scraped market days. Each op is one
  * day through the public pipeline functions — ledger pending set, the
  * table-hash change gate, parse → normalize → partitioned parquet sink,
  * the ledger commit, and the analytics refresh over the landed layer.
  * Every fifth op replays an earlier day, which must land nothing.
  */
final class MarketDaily(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  import MarketDaily._
  import spark.implicits._

  private val days: IndexedSeq[String] =
    (0 until NDays).map(d => java.time.LocalDate.of(2026, 3, 26).plusDays(d).toString)
  /** pages(day)(commodity/linkType) */
  private val pages: IndexedSeq[Map[String, MarketPage]] = generate(seed)
  /** The op sequence of a pass: day index and whether it is a replay. */
  private val schedule: Seq[(Int, Boolean)] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val out = mutable.ArrayBuffer.empty[(Int, Boolean)]
    var next = 0
    while (next < NDays || out.size % 5 == 4) {
      if (out.size % 5 == 4) out += ((r.nextInt(next), true))
      else { out += ((next, false)); next += 1 }
    }
    out.toSeq
  }
  private var pagesDir = ""

  // per-pass facts for the per-layer table
  private var pagesGated = 0L
  private var pagesEmpty = 0L
  private var pagesPassed = 0L
  private var rowsParsed = 0L

  def setup(dir: String): Unit = {
    pagesDir = s"$dir/pages"
    for ((day, d) <- days.zipWithIndex; (key, page) <- pages(d)) {
      val p = Paths.get(s"$pagesDir/$day/$key.html")
      Files.createDirectories(p.getParent)
      Files.write(p, page.html.getBytes(UTF_8))
    }
  }

  def warm(r: Runner): Unit = runDays(r, s"$work/warm", schedule.take(3))

  def pass(p: Int, r: Runner): Unit = runDays(r, s"$work/pass$p", schedule)

  private def keyCol: Column = regexp_extract(col("page_path"), "([^/]+/[^/]+)\\.html$", 1)
  private def commodityCol: Column = regexp_extract(col("page_path"), "([^/]+)/[^/]+$", 1)

  private def runDays(r: Runner, root: String, ops: Seq[(Int, Boolean)]): Unit = {
    Util.rmrf(new java.io.File(root))
    val raw = s"$root/raw"
    val ledger = s"$root/ledger"
    var priorHashes: Option[String] = None
    if (r.trace.isEnabled) { pagesGated = 0; pagesEmpty = 0; pagesPassed = 0; rowsParsed = 0 }
    // ground truth, advanced op by op
    val lastContent = mutable.Map.empty[String, String]
    val truth = mutable.Map.empty[(String, String), (Long, Long, JBigDecimal)]
    val completed = mutable.Set.empty[String]
    val allUnits = Commodities.toDF("commodity")

    for (((d, replay), i) <- ops.zipWithIndex) {
      val day = days(d)
      // expected state after this op
      if (!completed(day)) {
        for ((key, page) <- pages(d); content <- page.content) {
          if (!lastContent.get(key).contains(content)) {
            val k = (key.takeWhile(_ != '/'), day)
            val (n, q, v) = truth.getOrElse(k, (0L, 0L, JBigDecimal.ZERO))
            truth(k) = (n + page.rows.size, q + page.rows.map(_._1).sum,
              page.rows.map(_._2).foldLeft(v)(_ add _))
          }
          lastContent(key) = content
        }
        completed += day
      }
      val expected = truth.toMap
      r.op(if (replay) s"replay_$day" else s"day_$day") {
        val pending = r.trace.span("ingest.ledger", r.ops.size) {
          MarketPipeline.pending(allUnits, spark, ledger, day, DailyRun.ExpectedLinkTypes)
            .collect().map(_.getString(0)).toSeq
        }
        if (pending.nonEmpty) {
          val dayPages = () => HtmlTable.readPages(spark, s"$pagesDir/$day/*/*.html")
            .filter(commodityCol.isin(pending: _*))
          // 1. change gate against the prior hash ledger
          val changed = r.trace.span("sources", r.ops.size) {
            val curRows = MarketPipeline.pageTableHashes(HtmlTable.parsePages(dayPages()))
              .select(keyCol.as("key"), col("table_hash")).as[(String, String)]
              .collect().toSeq
            val cur = curRows.toDF("key", "table_hash")
            val prior = priorHashes.fold(
              Seq.empty[(String, String)].toDF("key", "table_hash"))(spark.read.parquet(_))
            // the next ledger version: the prior one with today's hashes
            // folded in, one sorted file (a page per key, so it stays small)
            val next = s"$root/hashes/v$i"
            (prior.as[(String, String)].collect().toMap ++ curRows).toSeq.sorted
              .toDF("key", "table_hash").coalesce(1).write.parquet(next)
            priorHashes = Some(next)
            MarketPipeline.changedPages(cur, prior, "key")
              .select("key").as[String].collect().toSeq
          }
          // 2. parse → normalize → partitioned sink, changed pages only
          if (changed.nonEmpty) r.trace.span("ingest", r.ops.size) {
            val parsed = HtmlTable.parsePages(dayPages()).filter(keyCol.isin(changed: _*))
            MarketPipeline.writeRaw(DailyRun.normalizeParsedPages(parsed, day), raw, "parquet")
          }
          // 3. ledger commit
          r.trace.span("ingest.ledger", r.ops.size) {
            pending.foreach(c => MarketPipeline.recordCompleted(spark, ledger, c,
              DailyRun.ExpectedLinkTypes, day))
          }
          if (r.recording && r.trace.isEnabled) {
            val ps = pages(d).filter { case (k, _) => pending.contains(k.takeWhile(_ != '/')) }
            pagesGated += ps.size
            pagesEmpty += ps.count(_._2.content.isEmpty)
            pagesPassed += changed.size
            rowsParsed += ps.collect { case (k, p) if changed.contains(k) =>
              p.content.get.count(_ == '\u0001') }.sum
          }
        }
        // 4. analytics refresh over the landed layer
        r.trace.span("operators", r.ops.size) {
          val landed = MarketPipeline.readRaw(spark, raw, "parquet")
          (landed,
            MarketAnalytics.dailyVolumes(landed).collect(),
            MarketAnalytics.cumulativeMonthlyVolumes(landed).collect(),
            MarketAnalytics.topFiveCommodities(landed).collect())
        }
      } { case (landed, dv, cum, top) =>
        val problems = mutable.ArrayBuffer.empty[String]
        val got = dv.map(row => (row.getString(0), row.getDate(1).toString) ->
          (row.getLong(2), row.getDecimal(3))).toMap
        if (got.keySet != expected.keySet)
          problems += s"daily volume keys differ: ${(got.keySet diff expected.keySet).take(3)} vs ${(expected.keySet diff got.keySet).take(3)}"
        for ((k, (_, q, v)) <- expected; (gq, gv) <- got.get(k))
          if (gq != q || gv.compareTo(v) != 0) problems += s"daily volume of $k: ($gq, $gv), expected ($q, $v)"
        val rows = landed.count()
        val expRows = expected.values.map(_._1).sum
        if (rows != expRows) problems += s"landed rows $rows, expected $expRows"
        if (cum.length != dv.length) problems += s"cumulative rows ${cum.length} vs daily ${dv.length}"
        val revenue = expected.groupBy(_._1._1).map { case (c, m) =>
          c -> m.values.map(_._3).foldLeft(JBigDecimal.ZERO)(_ add _) }
        val expTop = revenue.toSeq.sortBy { case (c, v) => (-BigDecimal(v), c) }.take(5)
        val gotTop = top.map(row => (row.getString(0), row.getDecimal(1))).toSeq
        if (gotTop.map(_._1) != expTop.map(_._1) ||
            gotTop.zip(expTop).exists { case (g, e) => g._2.compareTo(e._2) != 0 })
          problems += s"top five $gotTop, expected $expTop"
        problems.toSeq.take(3)
      }
    }
  }

  def layerMetrics(r: Runner, t: Trace, inPass: Span => Boolean, pass: Int): Map[String, Double] = {
    val root = s"$work/pass$pass"
    val (files, bytes) = Util.footprint(Seq(s"$root/raw", s"$root/ledger", s"$root/hashes"))
    val (_, inBytes) = Util.footprint(Seq(pagesDir))
    val rowsOut = MarketPipeline.readRaw(spark, s"$root/raw", "parquet").count()
    // parsing fuses into the sink's job; a noop-sink probe of the parse
    // alone, per new day, gives its cost
    val parseS = t.span("probe", -1) {
      days.map { day =>
        val t0 = System.nanoTime()
        HtmlTable.parsePages(HtmlTable.readPages(spark, s"$pagesDir/$day/*/*.html"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sum
    }
    Map(
      "sources.pages" -> pagesGated.toDouble,
      "sources.pages_empty" -> pagesEmpty.toDouble,
      "sources.rows_out" -> rowsOut.toDouble,
      "sources.parse_s" -> parseS,
      "ingest.files_written" -> files.toDouble,
      "ingest.bytes_written" -> bytes.toDouble,
      "stored_bytes_ratio" -> bytes.toDouble / inBytes,
      "ingest.gate_pass_ratio" -> pagesPassed.toDouble / pagesGated,
      "ingest.admit_ratio" -> rowsOut.toDouble / rowsParsed,
      "ingest.quarantine_ratio" -> pagesEmpty.toDouble / pagesGated)
  }
}

object MarketDaily {
  val NDays = 6
  /** An assumed market size (the scraper's commodity list is read from the
    * live site at run time): ten, so the top-five cut drops half of them.
    */
  val Commodities: Seq[String] = Seq("apples", "avocados", "bananas", "cabbages", "carrots",
    "lemons", "onions", "oranges", "potatoes", "tomatoes")
  private val Sizes = Seq("1kg", "2kg", "5kg", "7kg", "10kg", "12kg", "15kg", "20kg")
  private val Kinds = Seq("Bag", "Box", "Crate", "Sack", "Tray", "Pocket", "Carton", "Punnet")
  private val Canonical = Seq("Container", "Price (R)", "Total Value Sold", "Total Quantity Sold")
  private val Drifted = Seq("Container", "Unit Price", "Value Sold", "Qty Sold")

  private def money(r: SplittableRandom, v: JBigDecimal): String = r.nextInt(3) match {
    case 0 => "R " + String.format("%,.2f", v)
    case 1 => String.format("%,.2f", v)
    case _ => v.toPlainString
  }

  /** A page with a table: 5–40 rows, drifted headers on ~10% of pages, a
    * totals row on half of them. `content` is the header and body text the
    * change gate hashes; a row separator per counted row lets the
    * per-layer table count parsed rows.
    */
  private def tablePage(r: SplittableRandom, day: String): MarketPage = {
    val headers = if (r.nextDouble() < 0.10) Drifted else Canonical
    val rows = (0 until 5 + r.nextInt(36)).map { _ =>
      val qty = 1L + r.nextInt(200)
      val price = JBigDecimal.valueOf(500L + r.nextInt(200000), 2)
      val value = price.multiply(JBigDecimal.valueOf(qty))
      (s"${Sizes(r.nextInt(Sizes.size))} ${Kinds(r.nextInt(Kinds.size))}",
        money(r, price), money(r, value), qty.toString, qty, value)
    }
    val totals = if (r.nextBoolean()) {
      val v = rows.map(_._6).foldLeft(JBigDecimal.ZERO)(_ add _)
      Seq(("Total", "", money(r, v), rows.map(_._5).sum.toString))
    } else Nil
    val cells = rows.map(x => (x._1, x._2, x._3, x._4)) ++ totals
    val body = cells.map { case (a, b, c, e) =>
      s"""<tr><td class="tleft2">$a</td><td class="tleft">$b</td><td class="tleft">$c</td><td class="tleft">$e</td></tr>"""
    }.mkString("\n")
    val html =
      s"""<html><div id="right2"><b>$day</b></div>
         |<table class="alltable"><thead>
         |${headers.map(h => s"""<th class="header">$h</th>""").mkString("\n")}</thead>
         |<tbody>
         |$body
         |</tbody></table></html>""".stripMargin
    val content = headers.mkString("\u0002") +
      cells.map { case (a, b, c, e) => "\u0001" + Seq(a, b, c, e).mkString("\u0002") }.mkString
    MarketPage(html, Some(content), rows.map(x => (x._5, x._6)))
  }

  private def emptyPage(day: String): MarketPage = MarketPage(
    s"""<html><div id="right2"><b>$day</b></div>
       |<p>No market data published for this commodity today.</p></html>""".stripMargin,
    None, Nil)

  /** Every page of the season: ~30% of pages repeat the previous day's
    * bytes, ~3% carry no table, the rest are fresh tables.
    */
  def generate(seed: Long): IndexedSeq[Map[String, MarketPage]] = {
    val keys = for (c <- Commodities; lt <- DailyRun.ExpectedLinkTypes) yield s"$c/$lt"
    val out = mutable.ArrayBuffer.empty[Map[String, MarketPage]]
    for (d <- 0 until NDays) {
      val day = java.time.LocalDate.of(2026, 3, 26).plusDays(d).toString
      out += keys.zipWithIndex.map { case (key, k) =>
        val r = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + d * 1000003L + k)
        key -> (
          if (d > 0 && r.nextDouble() < 0.30) out(d - 1)(key)
          else if (r.nextDouble() < 0.03) emptyPage(day)
          else tablePage(r, day))
      }.toMap
    }
    out.toIndexedSeq
  }
}
