package graft.util

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout helpers (SURVEY.md §4 "physical layout decisions"):
  * bucketing for co-located joins and aggregations.
  *
  * At 100 TB, a fact⋈fact join on the same key repeated across a pipeline
  * should not pay a shuffle each time. Writing both sides bucketed by the
  * join key (hive-style bucketed tables) lets Spark plan a SortMergeJoin
  * with NO Exchange on either side — the bucketing metadata proves the
  * co-partitioning. The same applies to groupBy on the bucket key.
  */
object Layout {

  /** Z-order (Morton) key of two non-negative integer columns: each column
    * is first MIN-MAX SCALED to the full `bits`-wide range, then bit i of
    * scaled `a` lands at even position 2i and bit i of scaled `b` at odd
    * 2i+1. Sorting by this key clusters rows so a file/row-group covers a
    * RECTANGLE in (a, b) space instead of a stripe — the standard layout for
    * two-column range predicates where a single-column sort (b03) leaves the
    * second column unclustered.
    *
    * The scaling is what makes interleaving meaningful: raw interleave of a
    * 11-bit column with a 7-bit column is dominated by the wide column's
    * high bits and degenerates to a single-column sort (observed on the
    * test tables before normalizing). `aMax`/`bMax` come from a one-row
    * stats pass at layout-build time — layout placement may depend on them,
    * query ANSWERS never do. Pure integer shift/mask built-ins: codegen'd,
    * deterministic, no UDF.
    */
  def zorder2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      aMax: Long, bMax: Long, bits: Int): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    require(aMax > 0 && bMax > 0, "column maxima must be positive")
    val full = (1L << bits) - 1
    val as = a.cast("long") * lit(full) / lit(aMax)
    val bs = b.cast("long") * lit(full) / lit(bMax)
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(as, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(bs, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_.bitwiseOR(_))
  }

  /** Write `df` as a bucketed managed table (bucketBy requires saveAsTable). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Small-file compaction for a hive-partitioned parquet dataset.
    *
    * Incremental sinks (per-day appends, streaming foreachBatch) accrete
    * files far smaller than a scan split; at fleet scale that bloats
    * driver-side split planning and object-store metadata and caps scan
    * parallelism at file granularity. Rewrite each hive partition into
    * ceil(partition_bytes / targetFileBytes) files: per-partition row
    * counts + a global bytes/row estimate size the output, a salt column
    * spreads each partition's rows across exactly that many reducers, and
    * dynamic partition overwrite swaps partitions in place (idempotent,
    * re-runnable). Returns the number of files after compaction.
    */
  def compact(spark: SparkSession, root: String, partitionCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
          buf += f
      }
      buf.toSeq
    }
    val before = dataFiles(new Path(root))
    val totalBytes = before.map(_.getLen).sum
    val df = spark.read.parquet(root)
    val totalRows = df.count()
    if (totalRows == 0) return before.size.toLong
    val bytesPerRow = math.max(1.0, totalBytes.toDouble / totalRows)
    val parts = partitionCols.map(col)
    val sized = df.groupBy(parts: _*)
      .agg(count(lit(1)).as("_rows"))
      .withColumn("_files",
        greatest(lit(1L), ceil(col("_rows") * bytesPerRow / targetFileBytes)).cast("int"))
      .drop("_rows")
    val salted = df.join(broadcast(sized), partitionCols)
      .withColumn("_salt", pmod(hash(df.columns.map(col): _*), col("_files")))
      // sever lineage from the files being replaced: Spark (rightly)
      // refuses to overwrite a path its plan still reads, so materialize
      // first. At fleet scale the equivalent is compact-to-temp + rename,
      // or a table format's rewrite commit; in-place is fine for a
      // single-cluster utility.
      .localCheckpoint(true)
    salted
      .repartition((parts :+ col("_salt")): _*)
      .drop("_files", "_salt")
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(root)
    dataFiles(new Path(root)).size.toLong
  }
}
