package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode}

import graft.ingest.MarketPipeline
import graft.tools.Inspect
import graft.util.LocalFs

/** A local file system that counts its raw `setPermission` calls — each
  * one a forked `chmod` on a host without libhadoop.
  */
class CountingLocalFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    CountingLocalFileSystem.calls.incrementAndGet()
    super.setPermission(p, permission)
  }
})

object CountingLocalFileSystem {
  val calls = new AtomicInteger
}

/** The market sinks' file system route (`graft.util.LocalFs`) and the
  * parquet raw read's footer schema.
  */
class MarketSinkSpec extends SparkSpec {

  val day = "2026-08-12"

  def frame(days: Seq[String]): DataFrame = {
    import spark.implicits._
    (for (d <- days; c <- Seq("apples", "pears"); t <- Seq("summary", "variety"))
      yield (s"$c-$t", BigDecimal("12.50"), 3L, c, t, d))
      .toDF("container", "price_r", "total_quantity_sold", "commodity", "link_type", "scrape_date")
  }

  def octal(mode: String): Short = Integer.parseInt(mode, 8).toShort

  def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Relative path (job UUIDs masked) → POSIX permissions, root included. */
  def tree(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator.asScala.map { p =>
      base.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  def withSessionConf[T](keys: Map[String, String])(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = keys.keys.map(k => k -> Option(conf.getRaw(k))).toMap
    keys.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("NIO permissions equal Hadoop's chmod for files and directories") {
    val conf = new Configuration()
    val umask = FsPermission.getUMask(spark.sessionState.newHadoopConf())
    val nio = new LocalFs.NioPermissions
    val raw = new RawLocalFileSystem
    Seq(nio, raw).foreach(_.initialize(java.net.URI.create("file:///"), conf))
    val dir = Paths.get(tmpDir("perms"))
    val cases = for (m <- Seq("644", "755", "700", "600", "777").map(octal);
         perm <- Seq(new FsPermission(m), FsCreateModes.applyUMask(new FsPermission(m), umask));
         dirs <- Seq(false, true)) yield (perm, dirs)
    for (((perm, dirs), i) <- cases.zipWithIndex) {
      val Seq(a, b) = Seq("nio", "raw").map { n =>
        val p = dir.resolve(s"$n-$i")
        if (dirs) Files.createDirectory(p) else Files.createFile(p)
      }
      nio.setPermission(new Path(a.toUri), perm)
      raw.setPermission(new Path(b.toUri), perm)
      assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b), s"$perm")
      assert(mode(a) == (perm.toShort & octal("777")), s"$perm")
    }
  }

  test("a sticky bit falls back to Hadoop's own call") {
    val nio = new LocalFs.NioPermissions
    nio.initialize(java.net.URI.create("file:///"), new Configuration())
    val dir = Files.createDirectory(Paths.get(tmpDir("sticky")).resolve("d"))
    nio.setPermission(new Path(dir.toUri), new FsPermission(octal("1755")))
    // NIO cannot set the sticky bit; only the forked chmod sets it
    assert(mode(dir) == octal("1755"))
  }

  test("writeRaw leaves every file, checksum and directory as a plain write does") {
    val df = frame(Seq(day, "2026-08-13"))
    for (fmt <- Seq("parquet", "csv")) {
      val routed = tmpDir(s"perm_routed_$fmt")
      MarketPipeline.writeRaw(df, routed, fmt)
      val plain = tmpDir(s"perm_plain_$fmt")
      df.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
        .partitionBy("commodity", "link_type", "scrape_date")
        .option("header", "true").format(fmt).save(plain)
      val (got, want) = (tree(routed), tree(plain))
      assert(got.keys.exists(_.endsWith(".crc")) && got.keys.exists(_.contains("scrape_date=")))
      assert(got == want, fmt)
    }
  }

  test("writes go through LocalFs unless the session names its own file system") {
    assert(LocalFs.writeOptions(spark).get("fs.file.impl").contains(classOf[LocalFs].getName))
    val df = frame(Seq(day))
    CountingLocalFileSystem.calls.set(0)
    MarketPipeline.writeRaw(df, tmpDir("routed"), "parquet")
    MarketPipeline.recordCompleted(spark, tmpDir("routed_ledger"), "apples", Seq("summary"), day)
    assert(CountingLocalFileSystem.calls.get == 0)
    withSessionConf(Map("fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
        "fs.file.impl.disable.cache" -> "true")) {
      assert(LocalFs.writeOptions(spark).isEmpty)
      MarketPipeline.writeRaw(df, tmpDir("own_fs"), "parquet")
      val write = CountingLocalFileSystem.calls.getAndSet(0)
      MarketPipeline.recordCompleted(spark, tmpDir("own_fs_ledger"), "apples", Seq("summary"), day)
      val commit = CountingLocalFileSystem.calls.get
      info(s"Hadoop setPermission calls under the session's own file system: " +
        s"writeRaw of 4 partitions $write, ledger commit $commit")
      assert(write > 0 && commit > 0)
    }
  }

  test("the parquet raw read runs no job and keeps spark.read.parquet's schema") {
    val root = tmpDir("raw_schema")
    MarketPipeline.writeRaw(frame(Seq(day, "2026-08-13", "2026-08-14")), root, "parquet")
    val inferred = Inspect.run(spark) { spark.read.parquet(root) }
    var back: DataFrame = null
    val read = Inspect.run(spark) { back = MarketPipeline.readRaw(spark, root, "parquet") }
    assert(inferred.jobs > 0 && read.jobs == 0, s"inference ${inferred.jobs} jobs")
    val plain = spark.read.parquet(root)
    assert(back.schema == plain.schema)
    assert(back.schema("scrape_date").dataType == org.apache.spark.sql.types.DateType)
    assert(back.collect().map(_.toString).sorted.toSeq ==
      plain.collect().map(_.toString).sorted.toSeq)
    // no visible parquet file: the same error as the plain read
    def errorClass(read: => DataFrame): String =
      intercept[AnalysisException](read).getErrorClass
    for (path <- Seq(s"$root/missing", tmpDir("raw_empty")))
      assert(errorClass(MarketPipeline.readRaw(spark, path, "parquet")) ==
        errorClass(spark.read.parquet(path)), path)
  }
}
