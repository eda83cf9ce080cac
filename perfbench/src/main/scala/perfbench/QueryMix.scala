package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, SparkSession}

import graft.SparkEntry
import graft.queries.Q

final case class BenchEvent(event_id: Long, ts: LocalDateTime, user_id: Long,
    event_type: String, value: Double, props: String)
final case class BenchDocument(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

/** A fixed list of declared queries over seeded star-schema, event and
  * document tables, each pass running every query once in a
  * seed-permuted order. One op is one query: `Q.run` (which runs the
  * operators' own internal actions) and then a full-materialization noop
  * sink. Its output is collected outside the timed region and must hash
  * the same on every op; the first result of each query is also dumped
  * for the DuckDB oracle compare done by the runner script.
  */
final class QueryMix(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  import QueryMix._

  private val queries: Seq[Q] = {
    val all = SparkEntry.allQueries.map(q => q.name -> q).toMap
    Names.map(all)
  }
  private var data = ""
  private val reference = mutable.Map.empty[String, String]
  private val dumps = mutable.Map.empty[String, String]
  private val countVsNoop = mutable.Map.empty[String, (Double, Double)]

  def setup(dir: String): Unit = {
    data = s"$dir/data"
    generate(spark, seed, data, Sf)
  }

  def warm(r: Runner): Unit = queries.foreach(q => runQuery(r, q))

  def pass(p: Int, r: Runner): Unit = {
    val rnd = new scala.util.Random(seed * 1000003L + p)
    rnd.shuffle(queries).foreach(q => runQuery(r, q))
  }

  private def runQuery(r: Runner, q: Q): Unit = {
    spark.catalog.clearCache()
    r.op(q.name, "queries") {
      val df = r.trace.span("operators", r.ops.size)(q.run(spark, data))
      df.write.format("noop").mode("overwrite").save()
      df
    } { df =>
      val h = canonicalHash(df.collect())
      reference.get(q.name) match {
        case None =>
          reference(q.name) = h
          val out = s"$work/dumps/${q.name}"
          df.repartition(1).write.mode("overwrite").parquet(out)
          dumps(q.name) = out
          Nil
        case Some(ref) if ref == h => Nil
        case Some(ref) => Seq(s"result hash $h differs from the first run's $ref")
      }
    }
  }

  def layerMetrics(r: Runner, t: Trace, inPass: Span => Boolean, pass: Int): Map[String, Double] = {
    val ops = r.opsOf(pass)
    val opIds = ops.map(_.id).toSet
    val qSpans = t.spans.filter(s => inPass(s) && s.name == "queries" && opIds(s.op))
    val build = t.spans.filter(s => inPass(s) && s.name == "operators").map(_.seconds).sum
    // ColumnPruning lets a count() skip computed columns; the noop sink
    // materializes them. The difference, per query, once, after an untimed
    // run of the same final plan.
    t.span("probe", -1) {
      for (q <- queries) {
        val df = q.run(spark, data)
        def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
        df.write.format("noop").mode("overwrite").save()
        val n = time(df.write.format("noop").mode("overwrite").save())
        val c = time(df.count())
        countVsNoop(q.name) = (c, n)
        spark.catalog.clearCache()
      }
    }
    val chain = ops.filter(_.sqlActions > 1)
    Map(
      "queries.build_s" -> build,
      "queries.action_s" -> qSpans.map(t.selfSeconds).sum,
      "queries.sql_actions" -> ops.map(_.sqlActions).sum.toDouble,
      "queries.catalyst_ms" -> ops.map(_.catalystMs).sum.toDouble,
      "queries.chain_wall_s" -> chain.map(_.seconds).sum,
      "queries.scan_wall_s" -> ops.filterNot(_.sqlActions > 1).map(_.seconds).sum,
      "queries.count_minus_noop_s" -> countVsNoop.values.map { case (c, n) => c - n }.sum)
  }

  override def extras: String = {
    val qs = queries.map { q =>
      val cn = countVsNoop.get(q.name).fold("null") { case (c, n) => s"""{"count_s":$c,"noop_s":$n}""" }
      s"""${Util.q(q.name)}:{"dump":${dumps.get(q.name).fold("null")(Util.q)},""" +
        s""""oracle":${q.oracle.fold("null")(Util.q)},"count_vs_noop":$cn}"""
    }
    s"""{"data":${Util.q(data)},"queries":{${qs.mkString(",")}}}"""
  }
}

object QueryMix extends Serializable {
  val Sf = 0.01

  /** Chain: multi-action operator queries. Scan: single-action star, SQL,
    * event and layout queries. The traced run's SQL-action count per op
    * is what assigns each one to its stratum.
    */
  val Names: Seq[String] = Seq(
    "d03_ngram_jaccard_pairs", "d07_jaccard_prefix_filter", "p15_join_size_estimate",
    "p17_ks_two_sample", "t26_bpe_merges",
    "q02_top5_brand_revenue", "q03_segment_revenue", "q19_sql_api_topk_orders",
    "s03_session_windows")

  /** Order-insensitive digest of a collected result. */
  def canonicalHash(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null => "<null>"
      case b: Array[Byte] => java.util.Arrays.toString(b)
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
      case x => x.toString
    }
    val lines = rows.map { r =>
      val names = r.schema.fieldNames
      names.indices.sortBy(names(_)).map(i => cell(r.get(i))).mkString("\u0001")
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def rng(seed: Long, salt: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9e3779b97f4a7c15L ^ salt) ^ (id * 0xc2b2ae3d27d4eb4fL))

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0
  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  private val Day0 = LocalDateTime.of(1995, 1, 1, 0, 0, 0)
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjs = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "de", "fr", "es", "zh")
  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the", "row",
    "agg", "key", "query", "a", "scan", "batch")

  /** SplitMix64's finalizer: decorrelates the seed of each row's generator. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The test-data tables of the repository's schema (one parquet file each, named
    * `<table>.parquet`) at scale factor `sf`, every value drawn from the
    * seed. Shapes follow the repository's scale-data generator.
    */
  def generate(spark: SparkSession, seed: Long, dir: String, sf: Double): Unit = {
    import spark.implicits._
    import graft.tools.{GCustomer, GLineitem, GNation, GOrder, GPart, GRegion, GSupplier}
    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    def ids(n: Long): Dataset[Long] = spark.range(0, n, 1, 4).as[Long]
    def write[T](name: String, ds: Dataset[T]): Unit = {
      val tmp = s"$dir/_tmp_$name"
      ds.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles.filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"))
      Util.rmrf(new java.io.File(tmp))
    }
    write("region", Seq(GRegion(0, "AFRICA"), GRegion(1, "AMERICA"), GRegion(2, "ASIA"),
      GRegion(3, "EUROPE"), GRegion(4, "MIDDLE EAST")).toDS())
    write("nation", (0 until 25).map(i => GNation(i, s"NATION_$i", i % 5)).toDS())
    write("customer", ids(nCust).map { id =>
      val r = rng(seed, 10, id)
      GCustomer(id, f"Customer#$id%09d", r.nextInt(25),
        round2(-1000.0 + r.nextDouble() * 11000.0), pick(r, Segments))
    })
    write("supplier", ids(nSupp).map { id =>
      val r = rng(seed, 20, id)
      GSupplier(id, f"Supplier#$id%09d", r.nextInt(25), round2(-1000.0 + r.nextDouble() * 11000.0))
    })
    write("part", ids(nPart).map { id =>
      val r = rng(seed, 30, id)
      GPart(id, s"${pick(r, Adjs)} ${pick(r, Nouns)}", s"Brand#${r.nextInt(25)}",
        pick(r, PTypes), 1 + r.nextInt(50), round2(900.0 + r.nextDouble() * 100.0))
    })
    write("orders", ids(nOrders).map { id =>
      val r = rng(seed, 40, id)
      GOrder(id, r.nextLong(nCust), pick(r, Seq("O", "P", "F")),
        round2(1000.0 + r.nextDouble() * 499000.0), Day0.plusDays(r.nextLong(2404)),
        pick(r, Priorities))
    })
    write("lineitem", ids(nOrders).flatMap { oid =>
      val r = rng(seed, 50, oid)
      var k = 0; var p = r.nextDouble()
      while (p > math.exp(-4.0)) { k += 1; p *= r.nextDouble() }
      (1 to k).map { ln =>
        GLineitem(oid, r.nextLong(nPart), r.nextLong(nSupp), ln,
          (1 + r.nextInt(50)).toDouble,
          round2((1 + r.nextInt(50)) * (900.0 + r.nextDouble() * 1200.0)),
          round2(r.nextDouble() * 0.1), round2(r.nextDouble() * 0.08),
          pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")),
          Day0.plusDays(r.nextLong(2404) + 1 + r.nextLong(95)))
      }
    })
    val slotMicros = 30L * 24 * 3600 * 1000000L / nEvents
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    write("events", ids(nEvents).map { id =>
      val r = rng(seed, 60, id)
      BenchEvent(id, t0.plusNanos((id * slotMicros + r.nextLong(slotMicros)) * 1000L),
        r.nextLong(nUsers), pick(r, EventTypes), round2(-50.0 * math.log(r.nextDouble())),
        s"""{"k": ${r.nextInt(100)}}""")
    })
    val nBase = (nDocs * 0.95).toLong
    def docText(id: Long): String =
      if (id < nBase) {
        val r = rng(seed, 70, id)
        Seq.fill(10 + r.nextInt(91))(pick(r, Vocab)).mkString(" ")
      } else docText(rng(seed, 71, id).nextLong(nBase)) + " dup"
    write("documents", ids(nDocs).map { id =>
      val r = rng(seed, 72, id)
      val text = docText(id)
      val lang = if (r.nextDouble() < 0.41) 0 else 1 + r.nextInt(4)
      BenchDocument(id, text, Langs(lang), s"src${r.nextInt(20)}", text.length.toLong)
    })
  }
}
