package graft

import org.apache.spark.sql.SparkSession

/** Bench runner (driver contract): times every declared query at
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * Methodology (BASELINE.md records the same): a warm-up (flagship query +
  * fact-table scan) amortizes JVM/codegen/parquet-footer cold start; each
  * query then runs SPARK_GRAFT_BENCH_RUNS times (default 3) in sorted name
  * order and reports the per-query MEDIAN, so one GC pause or compaction
  * blip can't swing a number 10x. Between queries (outside the timed
  * region) the Spark cache is cleared and a GC is requested: queries must
  * not inherit cached relations or heap pressure from whoever ran before
  * them — that cross-contamination is what made two trivial queries look
  * 30x slow in round 1.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // an engine with ~75 distinct query plans overflows the default
      // 100-entry generated-class cache every sweep, recompiling the
      // heaviest codegen units (seconds each) on every run
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // silence FileStreamSink's stack-trace WARN on plain-directory reads
    // (the _spark_metadata probe) — driver-log noise, not a failure
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR)

    // warm-up: JVM + whole-stage-codegen + parquet footer caches
    try {
      SparkEntry.entry(spark).count()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    } catch { case _: Throwable => () }

    // SPARK_GRAFT_ONLY=q27,t15 (comma-separated name prefixes) restricts
    // the sweep — a local iteration aid; the driver leaves it unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // verifyDeep tier: queries that exist to re-prove a parity the primary
    // already carries (the e11v/e12v retrain twins deliberately replay
    // Lloyd training inside the timed region — 8 s/sweep re-verifying a
    // result that has held at four scale points). They stay DECLARED and
    // oracle-gated (Verify runs them every round); the bench medians skip
    // them unless SPARK_GRAFT_BENCH_DEEP=1.
    val deepOnly = Set("e11v_knn_pq_retrain", "e12v_knn_ivf_pq_retrain")
    val includeDeep = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEEP", "0") == "1"
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .filter { case (name, _) => includeDeep || !deepOnly(name) }

    // EnvProbe brackets: pin the box's state to numbers INSIDE the record
    // itself (two rounds of bench drift were diagnosed post-hoc from
    // separate probe runs; a record should carry its own evidence). BOTH
    // probes run on the fully-warmed session — the pre probe AFTER the
    // untimed warm sweep, the post probe after the last timed sweep — so
    // their delta reads box-state change, not session warmth (a pre probe
    // before the warm sweep measured 3x the post consistently: cold
    // shuffle machinery, not contention). The summary reports a
    // stage-cost-normalized total next to the raw one so cross-round
    // comparisons stop depending on catching an idle window. Disable with
    // SPARK_GRAFT_BENCH_PROBE=0.
    val probe = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROBE", "1") == "1"
    def probeNow(): Option[(Double, Double, Double)] =
      if (probe) Some(graft.tools.EnvProbe.components(spark, sfDir)) else None
    // one untimed FULL sweep: every query's codegen units get compiled AND
    // JIT-warmed before anything is measured. Without it the first timed
    // sweep pays C2 compilation for the heavy dedup verify joins, which is
    // what made d03/d07/d08 medians swing ±40% run-to-run in round 2 —
    // median-of-3 can't hide a cold first sample when the other two also
    // straddle JIT tier-up. Disable with SPARK_GRAFT_BENCH_WARM=0.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") == "1") {
      for ((_, fn) <- names) {
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
      System.gc()
    }
    val envPre = probeNow()
    val samples = collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // a query that throws in any timed run is not a timing: it leaves the
    // medians and the total and is named in the full record's "failed"
    val failed = collection.mutable.Set.empty[String]
    for (_ <- 1 to runs; (name, fn) <- names) {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => failed += name }
      samples(name) ::= (System.nanoTime() - t0) / 1e9
      // hygiene OUTSIDE the timed region: no cached frames or collectable
      // garbage handed to the next query
      spark.catalog.clearCache()
      System.gc()
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2)
    }
    val envPost = probeNow()
    val results = names.collect { case (name, _) if !failed(name) =>
      name -> median(samples(name)) }
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    def jlist(xs: Seq[String]): String =
      xs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = r3(results.map(_._2).sum)
    // stage-cost normalization: queries here are stage-count-dominated
    // (the round-7/8 drift analyses showed wall time tracking stages, not
    // scans), so total × idle_stage/measured_stage is the comparable
    // number. Symmetric on purpose: a slower-than-idle box corrects down,
    // a faster one corrects up — the raw total and both probes are right
    // next to it for anyone who wants different math.
    def envJson(e: Option[(Double, Double, Double)]): String = e match {
      case Some((c, s, m)) =>
        s"""{"cpu_st_sec":${r3(c)},"stage_sec":${r3(s)},"scan_mb_per_s":${r3(m)}}"""
      case None => "null"
    }
    // bracket sanity (ADVICE r9): normalization assumes ONE stable stage
    // cost across the whole sweep — when the pre/post probes disagree by
    // >20% the box changed state mid-record and a single noisy bracket
    // would silently rescale the headline, so fall back to the raw total
    // and say so in the record.
    val bracketsAgree = (envPre, envPost) match {
      case (Some((_, s1, _)), Some((_, s2, _))) =>
        math.abs(s1 - s2) <= 0.2 * math.max(s1, s2)
      case _ => false
    }
    val normalized = (envPre, envPost) match {
      case (Some((_, s1, _)), Some((_, s2, _))) if bracketsAgree =>
        r3(total * graft.tools.EnvProbe.RefStageSec / ((s1 + s2) / 2))
      case _ => total
    }
    // self-describing exclusions (ADVICE r9): which verifyDeep queries this
    // record's "total" does NOT cover, so cross-round total comparisons
    // can't silently mix inventories.
    val ran = names.map(_._1).toSet
    val deepExcluded = jlist(deepOnly.toSeq.filterNot(ran))
    val envFrag =
      s""","env_pre":${envJson(envPre)},"env_post":${envJson(envPost)}""" +
        s""","ref_stage_sec":${graft.tools.EnvProbe.RefStageSec}""" +
        s""","brackets_agree":$bracketsAgree""" +
        s""","value_stage_normalized":$normalized""" +
        s""","deep_excluded":$deepExcluded""" +
        s""","failed":${jlist(failed.toSeq)}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs$envFrag,"queries":${jmap(results)},"sf":"$sfDir"}"""
    // the complete per-query record, printed first and optionally filed
    // (SPARK_GRAFT_BENCH_OUT=path) — this is what bench/*.json commits
    println(full)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (full + "\n").getBytes("UTF-8"))
    }
    // FINAL stdout line, sized for the driver's 2000-char tail window (the
    // full 190+-query line is ~5 KB and arrived truncated → "parsed": null
    // in rounds 4-5): total + per-family subtotals + the 40 slowest
    // queries, which is the slice a scale review reads first. Nothing is
    // printed after this line. Distinct metric name ("total_summary", not
    // "total") so a key-based consumer can never mistake this truncated
    // record for the full per-query one printed above.
    val families = results.groupBy(_._1.takeWhile(!_.isDigit))
      .map { case (f, rs) => f -> rs.map(_._2).sum }.toSeq.sortBy(_._1)
    val top = results.sortBy(-_._2).take(40)
    println(
      s"""{"metric":"total_summary","value":$total,"unit":"sec","runs":$runs,"value_stage_normalized":$normalized,"n_queries":${results.size},"queries_truncated_to_top":${top.size},"families":${jmap(families)},"queries":${jmap(top)},"sf":"$sfDir"}""")
    System.out.flush()
    spark.stop()
  }
}
