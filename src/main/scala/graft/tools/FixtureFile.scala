package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared tail of the `Gen*Fixtures` tools: each committed fixture is
  * one parquet file, `<outDir>/<file>`, written from one frame.
  *
  * `FixtureFile.write(args, "audio.parquet") { spark => frame }` builds the
  * frame on a small local session, writes it coalesced to one part file in
  * a temp directory and copies that file into place. `outDir` is `args(0)`,
  * or the committed fixture directory when no argument is given.
  */
object FixtureFile {

  private val CommittedDir = "src/main/resources/graft/fixtures"

  def write(args: Array[String], file: String)(frame: SparkSession => DataFrame): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val tmp = Files.createTempDirectory("graft_fixture_")
      frame(spark).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dest = Paths.get(args.headOption.getOrElse(CommittedDir), file)
      Files.createDirectories(dest.getParent)
      Files.copy(part, dest, StandardCopyOption.REPLACE_EXISTING)
      println(s"wrote $dest (${Files.size(dest)} bytes)")
    } finally spark.stop()
  }
}
