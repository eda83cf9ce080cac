package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Exact Gini coefficient of a numeric column — the concentration
  * diagnostic (how skewed is revenue across orders / token budget across
  * sources): G = Σᵢⱼ|xᵢ−xⱼ| / (2·n·Σx), 0 = perfectly even, →1 = one row
  * holds everything.
  *
  * Engine-exact: values are exact cents; the pairwise-difference sum
  * collapses by sorted distinct value v (count c_v, cumulative count C,
  * cumulative sum S) to Σ_v c_v·(v·C_prev − S_prev) — every factor an
  * integer, the product carried as exact decimal (c ≤ 2³¹ and the local
  * inner term < 2·maxAbs·n, cast DECIMAL(20,0), keep the product exact in
  * DECIMAL(31,0), mirrored as HUGEINT arithmetic in DuckDB), and no float
  * until the one display division num / (n·Σx).
  *
  * Scale: one scan to per-value counts (map-side combined), then the
  * cumulative (C, S) terms via [[PrefixSum.localRunningSums]] fused with
  * the numerator aggregation into one per-bucket job — never a
  * single-partition window. Same two-job shape as p17.
  */
object Gini {

  /** One row: n, total_cents, gini (6dp double). */
  def ofColumn(df: DataFrame, valueCol: String,
      numBuckets: Int = 256): DataFrame = Materialize { m =>
    val counts = m.persist(df.select(
        (col(valueCol).cast("decimal(9,2)") * 100).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("s", col("v") * col("c")))
    val s0 = counts.agg(min(col("v")), max(col("v")),
      sum(col("c")), sum(col("s"))).collect()(0)
    require(!s0.isNullAt(0), "Gini needs a non-empty column")
    val (n, total) = (s0.getLong(2), s0.getLong(3))
    require(total > 0, s"Gini needs a positive total (got $total)")
    // Loud overflow guard (the KsTest n1·n2 discipline): the local inner
    // term is BIGINT arithmetic bounded by 2·maxAbs(v)·n, cast DECIMAL(20,0);
    // maxAbs·n < 9e15 keeps it exact in both, where non-ANSI BIGINT overflow
    // would wrap silently into a WRONG gini. Past this regime compute it in
    // DECIMAL(38,0) (per-row allocation for range — the p14 lesson) rather
    // than trusting the docstring.
    val maxAbs = math.max(math.abs(s0.getLong(0)), math.abs(s0.getLong(1)))
    require(maxAbs.toDouble * n < 9e15,
      s"Gini local inner-term bound 2*maxAbs(v)*n = 2*$maxAbs*$n leaves the " +
        "exact DECIMAL(20,0) regime — widen the inner term before scaling further")
    // SECOND AND LAST job — the fused per-bucket pass (the p17 shape).
    // The numerator decomposes per range bucket: with lC/lS the LOCAL
    // (within-bucket) inclusive cumulatives and (offC, offS) the bucket's
    // exclusive offsets, inner = v·(C_prev−c) − (S_prev−s) splits as
    // innerLocal + v·offC − offS, so
    //   Σ_bucket c·inner = Σ c·innerLocal + offC·Σ(c·v) − offS·Σc
    //                    = partial + offC·s_tot − offS·c_tot
    // — ONE window+aggregate job collects (c_tot, s_tot, partial) per
    // bucket and the driver folds offsets into the exact numerator,
    // replacing runningSums' two jobs and their broadcast join.
    // innerLocal = Σ_{u<v in bucket} (v−u)·c_u ∈ [0, 2·maxAbs·n]; cast
    // DECIMAL(20,0) (guarded exact by the maxAbs·n require above), times
    // c as DECIMAL keeps the product exact; the driver fold is
    // BigInt/BigDecimal, also exact.
    val local = PrefixSum.localRunningSums(counts, "v", Seq("c", "s"),
      numBuckets, (s0.getLong(0), s0.getLong(1)))
    val innerLocal = (col("v") * (col("c_lcum") - col("c")) -
      (col("s_lcum") - col("s"))).cast("decimal(20,0)")
    val rows = local.groupBy(col("_psb"))
      .agg(sum(col("c")).as("c_t"), sum(col("s")).as("s_t"),
        sum(col("c").cast("decimal(10,0)") * innerLocal).as("part"))
      .collect().toVector.map { r =>
        require(!r.isNullAt(0),
          "Gini: the value column contains NULLs — filter them out")
        (r.getLong(0), IndexedSeq(r.getLong(1), r.getLong(2)),
          BigDecimal(r.getDecimal(3)))
      }
    val folded = PrefixSum.exclusiveOffsets(rows.map(t => (t._1, t._2)),
      numBuckets)
    var acc = BigDecimal(0)
    folded.zip(rows.sortBy(_._1)).foreach { case ((_, tots, off), (_, _, part)) =>
      acc += part + BigDecimal(BigInt(off(0)) * BigInt(tots(1)) -
        BigInt(off(1)) * BigInt(tots(0)))
    }
    val num = acc.bigDecimal
    df.sparkSession.range(1).select(lit(n).as("n"),
      lit(total).as("total_cents"),
      round(lit(num).cast("double") /
        (lit(n.toDouble) * lit(total.toDouble)), 6).as("gini"))
  }

  /** [[ofColumn]] oracle: identical cents quantization, per-value
    * counts, cumulative window, HUGEINT-exact numerator, and the same
    * final double division.
    */
  def ofColumnSql(table: String, valueCol: String): String = {
    val cents = s"CAST(CAST($valueCol AS DECIMAL(9,2)) * 100 AS BIGINT)"
    s"""WITH counts AS (
       |  SELECT $cents AS v, COUNT(*) AS c FROM $table GROUP BY 1),
       |cum AS (
       |  SELECT v, c, v * c AS s,
       |         SUM(c) OVER (ORDER BY v ASC) AS c_cum,
       |         SUM(v * c) OVER (ORDER BY v ASC) AS s_cum
       |  FROM counts),
       |tot AS (
       |  SELECT CAST(SUM(c) AS BIGINT) AS n,
       |         CAST(SUM(v * c) AS BIGINT) AS total_cents
       |  FROM counts),
       |num AS (
       |  SELECT SUM(CAST(c AS HUGEINT) *
       |             CAST(v * (c_cum - c) - (s_cum - s) AS HUGEINT)) AS num
       |  FROM cum)
       |SELECT t.n, t.total_cents,
       |  round(CAST(m.num AS DOUBLE) /
       |        (CAST(t.n AS DOUBLE) * CAST(t.total_cents AS DOUBLE)), 6) AS gini
       |FROM tot t CROSS JOIN num m""".stripMargin
  }
}
