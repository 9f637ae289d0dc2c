package graft
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args = query-name subset (local iteration aid; the
    // driver always passes exactly 2)
    val subset = args.drop(2).toSet
    val spark = GraftSession(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // one summary line, so a failure is not only an interleaved stderr
    // line among Spark's own logging
    println(s"[verify] ${failed.size} of ${selected.size} queries failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
    writeOracleSql(outDir)
    spark.stop()
  }

  /** `$outDir/oracle_sql.json`: every query's oracle by name. Jackson
    * escapes every control character, so a tab or CR in an oracle cannot
    * break the driver's json.load. */
  def writeOracleSql(outDir: String): Path =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(SparkEntry.oracleSql.asJava))
}
