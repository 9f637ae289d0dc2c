package graft
import java.nio.file.{Files, Paths}
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
