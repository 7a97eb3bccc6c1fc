package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    SparkEntry.requireReferenceDb()
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => SparkEntry.selected(n) }
      .flatMap { case (name, fn) =>
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> String.valueOf(e.getMessage))
        }
      spark.catalog.clearCache() // per-call persists must not accumulate
      failure
    }
    def q(s: String): String = SparkEntry.jsonString(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the per-query failures as a list (empty when every query ran);
    // the exit code does not depend on it
    Files.writeString(Paths.get(s"$outDir/verify_failed.json"),
      SparkEntry.failuresJson(failed) + "\n")
    spark.stop()
  }
}
