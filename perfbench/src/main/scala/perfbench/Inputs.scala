package perfbench

import java.nio.file.{Files, Paths}

import graft.sources.MockDataGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded input suite, written by `graft.sources.MockDataGen` in the
  * testdata layout (`<table>.parquet/` directories). Both workloads read
  * the same suite, and the workloads see only the files.
  */
object Inputs {
  /** Rows per table: a 20k-event tick feed (sf0.02) and a 2k-document
    * corpus. The sizes keep a run, with its memo-cold set-up, inside the
    * benchmark's time budget on a 4-core box, so a run can time several
    * passes; both workloads are overhead-bound at these sizes.
    */
  val Tables: Map[String, Long] = Map("events" -> 20000L, "documents" -> 2000L)

  private def table(spark: SparkSession, name: String, n: Long, seed: Long): DataFrame =
    name match {
      case "events" => MockDataGen.events(spark, n, seed)
      case "documents" => MockDataGen.documents(spark, n, seed)
    }

  /** The inputs of `seed` in `dir`, as JSON: the suite's fingerprint. The
    * suite is written on first use (the fingerprint file marks it
    * complete); on every use each table's row count and content checksum
    * (wrapping sum of a 64-bit hash over every column of every row) are
    * read from the files and must equal the recorded fingerprint.
    */
  def prepare(spark: SparkSession, seed: Long, dir: String): String = {
    val marker = Paths.get(s"$dir/fingerprint.json")
    val recorded = if (Files.exists(marker)) Some(Files.readString(marker)) else None
    if (recorded.isEmpty) Tables.foreach { case (name, n) =>
      table(spark, name, n, seed).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    val tables = Tables.toSeq.sorted.map { case (name, _) =>
      val df = spark.read.parquet(s"$dir/$name.parquet")
      val row = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*))).head()
      name -> Map("rows" -> row.getLong(0), "checksum" -> row.getLong(1).toString)
    }
    val fp = Json(Map("seed" -> seed, "tables" -> tables.toMap))
    recorded.foreach(r => require(r == fp, s"inputs in $dir changed: recorded $r, found $fp"))
    if (recorded.isEmpty) Files.writeString(marker, fp)
    fp
  }
}
