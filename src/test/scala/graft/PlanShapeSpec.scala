package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.tools.Inspect

/** Physical-plan regression guards: correctness tests prove WHAT each query
  * computes; these prove HOW — the plan properties that make the queries
  * survive 100 TB. A refactor that silently turns a broadcast join into a
  * shuffle join, loses scan-level filter pushdown, or reintroduces a
  * value-buffering aggregate still hash-matches the oracle, so only a plan
  * assertion catches it.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Plan tree as text AFTER AQE finalization (runs the query). */
  private def finalPlanString(df: DataFrame): String = {
    df.count() // materialize so AQE settles on the real plan
    planOf(df) match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  test("q02: the part dimension joins as broadcast, not shuffle") {
    val plan = finalPlanString(q("q02_top5_brand_revenue"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q02: top-5 runs as TakeOrderedAndProject, not a global sort") {
    val plan = finalPlanString(q("q02_top5_brand_revenue"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q08: the quantity filter is pushed into the parquet scan") {
    val plan = planOf(q("q08_priority_heavy_orders")).toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"), plan)
  }

  test("q08: scan reads only the needed lineitem columns") {
    val plan = planOf(q("q08_priority_heavy_orders")).toString
    // the lineitem side needs only the join key and the filter column
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("q15: grouped quantiles plan with a window sort, not a value-buffering percentile") {
    val plan = planOf(q("q15_price_percentiles")).toString
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("percentile("), plan)
  }

  test("d04: minhash signatures plan with no ObjectHashAggregate and no row-explosion generate") {
    val sigs = graft.operators.Dedup.minhashSignatures(
      graft.util.Tables(spark, sf).documents, "doc_id", "text", 3, 12)
    val plan = planOf(sigs).toString
    assert(!plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Generate"), plan) // no explode in the signature path
  }

  test("t01 token stats: single narrow aggregation, filters/pruning at the scan") {
    val plan = planOf(q("t01_token_stats")).toString
    // doc stats aggregate straight off the scan: exactly one shuffle pair
    assert("Exchange".r.findAllIn(plan).size <= 2, plan)
  }

  test("as-of native operator: exactly one exchange per side, no window buffering") {
    val plan = finalPlanString(q("s07_asof_native_operator"))
    assert(plan.contains("AsOfJoinBackwardExec") || plan.contains("AsOfJoin"), plan)
  }

  test("b01: bucketed fact-fact join is a SortMergeJoin with ZERO exchanges below it") {
    // at sf0.001 the planner would (rightly) broadcast the tiny orders
    // side; disable broadcast to surface the plan the layout exists for —
    // two 100 TB fact sides, where only bucketing avoids the shuffles
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try {
      val plan = finalPlanString(q("b01_bucketed_order_join"))
      assert(plan.contains("SortMergeJoin"), plan)
      // the bucketed layout proves co-partitioning: the ONLY exchange in
      // the plan is the final 5-row aggregation; neither join side shuffles
      val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.size == 1,
        s"expected only the final-agg exchange, got ${exchanges.size}:\n$plan")
      assert(plan.contains("SelectedBucketsCount"), plan)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("b02: single-day query prunes to ONE date partition at planning time") {
    val df = q("b02_partition_pruned_day")
    // collect() (NOT count()) so THIS DataFrame's executedPlan — the one we
    // read metrics from below — is the plan that actually ran
    df.collect()
    val scan = planOf(df).toString.linesIterator
      .filter(_.contains("FileScan")).mkString("\n")
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.contains("2024-01-15"), scan)
    // the 1-of-30 property itself, from the executed scan's own metrics
    // (inputFiles/plan strings don't reflect pruning)
    val exec = planOf(df) match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // AQE wraps finished stages in QueryStageExec whose inner plan is not a
    // child of the tree — recurse through them to reach the scan
    def allScans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      } ++ p.collect {
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
      }.flatten
    val scans = allScans(exec)
    assert(scans.nonEmpty, exec.toString)
    val partsRead = scans.head.metrics("numPartitions").value
    assert(partsRead == 1, s"scan read $partsRead partitions, expected 1")
  }

  test("b03: sort-on-write layout produces files with disjoint l_shipdate bands") {
    import org.apache.spark.sql.functions.{col, max, min}
    q("b03_sorted_layout_skip").collect() // ensures the layout is written
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val root = wh.listFiles().filter(_.getName.startsWith("g_lineitem_bydate_"))
      .maxBy(_.lastModified)
    val files = root.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1, s"expected a multi-file layout under $root")
    // per-file min/max = exactly what a footer zone map exposes; sorted
    // bands must not overlap, or range queries can't skip files
    val bands = files.map { f =>
      // ISO timestamp strings order lexicographically — avoids the
      // TIMESTAMP_NTZ vs java-time API mismatch entirely
      val r = spark.read.parquet(f.getPath)
        .agg(min(col("l_shipdate")).cast("string"),
          max(col("l_shipdate")).cast("string")).head()
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    bands.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo,
          s"overlapping file bands: $hi > $lo in ${bands.mkString(", ")}")
      case _ =>
    }
  }

  test("b05: z-order layout gives files rectangular footprints a box query can skip") {
    import org.apache.spark.sql.functions.{col, max, min}
    q("b05_zorder_layout").collect() // ensures the layout is written
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val root = wh.listFiles().filter(_.getName.startsWith("g_lineitem_zorder_"))
      .maxBy(_.lastModified)
    val files = root.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1, s"expected a multi-file layout under $root")
    val boxes = files.map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(min(col("l_partkey")), max(col("l_partkey")),
          min(col("l_suppkey")), max(col("l_suppkey"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // a box query sized for the sf0.001 data range (~10% x ~30% of the
    // partkey x suppkey plane): partkey [80, 100) x suppkey [2, 4)
    val hits = boxes.count { case (pLo, pHi, sLo, sHi) =>
      pHi >= 80 && pLo < 100 && sHi >= 2 && sLo < 4
    }
    info(s"files=${files.length} intersecting=$hits boxes=${boxes.mkString(", ")}")
    // a partkey-only sort would leave every file spanning the FULL suppkey
    // range; z-order must let the box query skip at least half the files
    assert(hits <= files.length / 2,
      s"box query intersects $hits of ${files.length} files: ${boxes.mkString(", ")}")
    // and the second dimension must be genuinely clustered: most files
    // cover a strict sub-range of suppkey (the stripe layout never does)
    val sMin = boxes.map(_._3).min
    val sMax = boxes.map(_._4).max
    val subRange = boxes.count { case (_, _, lo, hi) => lo > sMin || hi < sMax }
    assert(subRange * 2 >= boxes.length,
      s"suppkey unclustered — boxes: ${boxes.mkString(", ")}")
  }

  test("b04: runtime bloom filter from the urgent-orders filter reaches the fact side") {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.{col, count, lit}
      // raw reads: the Tables local-scan spread's Repartition node vetoes
      // InjectRuntimeFilter's creation-side walk (see b04's scaladoc)
      val df = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
        .join(spark.read.parquet(s"$sf/lineitem.parquet"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_lines"))
      val plan = finalPlanString(df)
      assert(plan.contains("might_contain"),
        s"expected a bloom-filter probe on the lineitem side:\n$plan")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
  test("s20: attribution computes both touches in ONE window shuffle") {
    val plan = finalPlanString(q("s20_touch_attribution"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected a single user_id shuffle, got $exchanges:\n$plan")
    assert("Window".r.findAllIn(plan).size == 1,
      s"first and last touch must share one window operator:\n$plan")
  }

  test("p12: sketch build is a bounded-heap partial aggregation, pair algebra joins without a shuffle") {
    val plan = finalPlanString(q("p12_sketch_set_ops"))
    // the bottom-k heaps aggregate partially (map-side combine) as an
    // ObjectHashAggregate; the 20-row pair self-join must not sort-merge
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("d21: CDC boundary detection is narrow; chunk freq agg and join reuse one key") {
    val plan = finalPlanString(q("d21_cdc_chunk_dedup"))
    // no join strategy other than the chunk-hash equi-join; no cartesian
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 4, s"CDC dedup should stay at the d09 shuffle budget, got $exchanges:\n$plan")
  }

  test("s21: funnel is ONE user_id shuffle, three windows, one key-only sort") {
    val plan = finalPlanString(q("s21_funnel_steps"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one user_id shuffle, got $exchanges:\n$plan")
    assert("Window".r.findAllIn(plan).size == 3, plan)
    // all three windows share ONE grouping sort, keyed on user_id only
    // (unbounded frames need no ordering column)
    val sorts = "Sort \\[([^\\]]*)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(sorts.size == 1 && sorts.head.contains("user_id") &&
      !sorts.head.contains(","),
      s"expected one user_id-only grouping sort, got $sorts:\n$plan")
  }

  test("b06: ANALYZE column statistics flow into CBO plan estimates") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS g_cbo_orders")
    s.sql(s"CREATE TABLE g_cbo_orders USING parquet AS " +
      s"SELECT * FROM parquet.`$sf/orders.parquet`")
    s.sql("ANALYZE TABLE g_cbo_orders COMPUTE STATISTICS " +
      "FOR COLUMNS o_orderkey, o_orderpriority, o_custkey")
    s.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val rel = s.table("g_cbo_orders")
      val n = s.read.parquet(s"$sf/orders.parquet").count()
      val stats = rel.queryExecution.optimizedPlan.stats
      // catalog row count and per-column NDV/min/max reach the optimizer
      assert(stats.rowCount.contains(BigInt(n)), s"rowCount=${stats.rowCount}")
      assert(stats.attributeStats.nonEmpty,
        "ANALYZE FOR COLUMNS must surface attribute-level statistics")
      // CBO uses them: an equality filter's cardinality estimate shrinks
      // by the column's selectivity instead of staying the table size
      val fstats = rel
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
        .queryExecution.optimizedPlan.stats
      assert(fstats.rowCount.isDefined && fstats.rowCount.get < BigInt(n) / 2,
        s"filter estimate ${fstats.rowCount} should reflect NDV-based selectivity")
    } finally {
      s.conf.unset("spark.sql.cbo.enabled")
      s.sql("DROP TABLE IF EXISTS g_cbo_orders")
    }
  }

  test("d23: pigeonhole Hamming pairs is a bucketed equi-join, never all-pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the pair generation runs inside the operator's eager localCheckpoint
    val r = Inspect.run(spark) {
      graft.operators.Dedup.simhashHammingPairs(
        docs, "doc_id", "text", bits = 32, bands = 4, radius = 3).count()
    }
    val plan = checkpointedPlans(r)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$plan")
  }
}
