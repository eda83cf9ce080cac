package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Exact two-sample Kolmogorov–Smirnov distance between a numeric column
  * of two slices — the nonparametric drift gate beside p09's binned
  * chi-square: sensitive anywhere in the distribution, no binning choice.
  *
  * KS = max over values v of |F₁(v) − F₂(v)|. Engine-exact: values are
  * exact cents (the p14 discipline), per-value counts and both cumulative
  * counts are integers, and the sup statistic is carried as the integer
  * numerator `max |cumA·n₂ − cumB·n₁|` over the common denominator n₁·n₂ —
  * no float enters until the one final display division (two exact longs,
  * correctly rounded identically in both engines).
  *
  * Scale: one tagged union + one per-value aggregation (map-side combined)
  * reduce the data to |distinct values| rows; the global cumulative counts
  * use [[PrefixSum.localRunningSums]] — range-bucketed two-level prefix
  * sums fused with the sup aggregation into one per-bucket job, NO
  * single-partition window. The cross-multiplied numerator needs
  * n₁·n₂ < 2⁶³ (each slice ≲ 2·10⁹ rows) — guarded loudly; past it, swap
  * the numerator arithmetic to DECIMAL(38,0), same shape.
  */
object KsTest {

  /** One row: n1, n2, ks_num (the integer sup numerator), ks_stat. */
  def ksTwoSample(a: DataFrame, b: DataFrame, valueCol: String,
      numBuckets: Int = 256): DataFrame = {
    def cents(df: DataFrame, ca: Int, cb: Int) = df.select(
      (col(valueCol).cast("decimal(9,2)") * 100).cast("long").as("v"),
      lit(ca.toLong).as("ca"), lit(cb.toLong).as("cb"))
    fromTagged(cents(a, 1, 0).unionAll(cents(b, 0, 1)), numBuckets)
  }

  /** [[ksTwoSample]] when both slices live in ONE table split by a
    * predicate — a single scan tags each row instead of two filtered
    * scans unioned (half the input to the per-value aggregation; the
    * oracle's own shape).
    */
  def ksTwoSampleTagged(df: DataFrame, valueCol: String, predA: Column,
      numBuckets: Int = 256): DataFrame =
    fromTagged(df.select(
      (col(valueCol).cast("decimal(9,2)") * 100).cast("long").as("v"),
      when(predA, 1L).otherwise(0L).as("ca"),
      when(predA, 0L).otherwise(1L).as("cb")), numBuckets)

  private def fromTagged(tagged: DataFrame, numBuckets: Int): DataFrame =
      Materialize { m =>
    // the counts relation backs TWO driver actions (scalars, then the
    // fused per-bucket pass) — persist it once or the per-value
    // aggregation recomputes per action (measured: 4.3 s -> 3.0 s at
    // sf0.1; p17 is job-count-bound, not data-bound)
    val counts = m.persist(tagged
      .groupBy(col("v")).agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb")))
    // one scalar job for range AND sizes (each further job is a fixed
    // scheduling cost at this data size — p17 is job-count-bound)
    val s0 = counts.agg(min(col("v")), max(col("v")),
      sum(col("ca")), sum(col("cb"))).collect()(0)
    require(!s0.isNullAt(0), "KS needs both slices non-empty (no values)")
    val (n1, n2) = (s0.getLong(2), s0.getLong(3))
    require(n1 > 0 && n2 > 0, s"KS needs both slices non-empty ($n1, $n2)")
    require(n1 <= Long.MaxValue / math.max(n2, 1L),
      s"n1*n2 overflows long ($n1 x $n2): switch the numerator to " +
        "DECIMAL(38,0) for slices beyond ~2e9 rows")
    // SECOND AND LAST job — the fused per-bucket pass. The sup decomposes
    // per range bucket: with g(v) = lca(v)·n2 − lcb(v)·n1 over the LOCAL
    // (within-bucket) running counts and C_b = offA·n2 − offB·n1 the
    // bucket's constant from the exclusive offsets, the global term at v
    // is exactly g(v) + C_b, and max|g+C| over a bucket is attained at
    // g's extremes (x ↦ |x+C| is convex) — so ONE window+aggregate job
    // collects (bucket totals, min g, max g) ≤ numBuckets rows and the
    // driver folds offsets and takes the sup, replacing runningSums' two
    // jobs (bucket-totals collect + offset-joined global pass) and their
    // broadcast join. Every value stays a realized |cum·n| ≤ n1·n2 long —
    // same overflow envelope as before, exact integer throughout.
    val local = PrefixSum.localRunningSums(counts, "v", Seq("ca", "cb"),
      numBuckets, (s0.getLong(0), s0.getLong(1)))
    val g = col("ca_lcum") * n2 - col("cb_lcum") * n1
    val rows = local.groupBy(col("_psb"))
      .agg(sum(col("ca")).as("ca_t"), sum(col("cb")).as("cb_t"),
        max(g).as("g_max"), min(g).as("g_min"))
      .collect().toVector.map { r =>
        require(!r.isNullAt(0),
          "ksTwoSample: the value column contains NULLs — a null value " +
            "has no CDF position; filter them out")
        (r.getLong(0), IndexedSeq(r.getLong(1), r.getLong(2)),
          (r.getLong(3), r.getLong(4)))
      }
    val folded = PrefixSum.exclusiveOffsets(rows.map(t => (t._1, t._2)),
      numBuckets)
    var sup = 0L
    folded.zip(rows.sortBy(_._1)).foreach { case ((_, _, off), (_, _, gs)) =>
      val c = off(0) * n2 - off(1) * n1
      sup = math.max(sup, math.max(math.abs(gs._1 + c), math.abs(gs._2 + c)))
    }
    counts.sparkSession.range(1).select(lit(n1).as("n1"), lit(n2).as("n2"),
      lit(sup).as("ks_num"),
      round(lit(sup).cast("double") /
        (lit(n1.toDouble) * lit(n2.toDouble)), 6).as("ks_stat"))
  }

  /** [[ksTwoSample]] oracle: same cents quantization, tagged union,
    * per-value counts, cumulative window (DuckDB may sort on one node —
    * that is the oracle's privilege, not the engine's), and the identical
    * integer numerator / final double division.
    */
  def ksTwoSampleSql(table: String, valueCol: String, predA: String): String = {
    val cents = s"CAST(CAST($valueCol AS DECIMAL(9,2)) * 100 AS BIGINT)"
    s"""WITH tagged AS (
       |  SELECT $cents AS v,
       |         CASE WHEN $predA THEN 1 ELSE 0 END AS ca,
       |         CASE WHEN $predA THEN 0 ELSE 1 END AS cb
       |  FROM $table),
       |counts AS (
       |  SELECT v, CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
       |  FROM tagged GROUP BY 1),
       |cum AS (
       |  SELECT v, SUM(ca) OVER (ORDER BY v ASC) AS ca_cum,
       |         SUM(cb) OVER (ORDER BY v ASC) AS cb_cum
       |  FROM counts),
       |tot AS (
       |  SELECT CAST(SUM(ca) AS BIGINT) AS n1, CAST(SUM(cb) AS BIGINT) AS n2
       |  FROM counts)
       |SELECT t.n1, t.n2,
       |  CAST(MAX(ABS(c.ca_cum * t.n2 - c.cb_cum * t.n1)) AS BIGINT) AS ks_num,
       |  round(CAST(MAX(ABS(c.ca_cum * t.n2 - c.cb_cum * t.n1)) AS DOUBLE) /
       |        (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)), 6) AS ks_stat
       |FROM cum c CROSS JOIN tot t
       |GROUP BY t.n1, t.n2""".stripMargin
  }
}
