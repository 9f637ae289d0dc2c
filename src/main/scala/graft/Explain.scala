package graft

import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Dev tool: execute named queries and print each one's FINAL formatted
  * physical plan — used to audit pushdown (PushedFilters/ReadSchema),
  * broadcast joins and WholeStageCodegen spans before accepting a plan.
  * The query runs first (output discarded, like the noop sink) because
  * AQE's runtime decisions — coalesced shuffles, join strategies chosen
  * from runtime sizes (dedup_lines' anti join) — only exist in the plan
  * after execution (`isFinalPlan=true`).
  * Usage: SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.Explain [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(appName = "graft-explain")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n================= $n ($dir) =================")
      try {
        val qe = SparkEntry.queries(n)(spark, dir).queryExecution
        SQLExecution.withNewExecutionId(qe, Some(s"explain: $n")) {
          qe.toRdd.foreach(_ => ())
        }
        println(qe.explainString(FormattedMode))
      } catch { case e: Throwable => println(s"error: ${e.getMessage}") }
    }
    spark.stop()
  }
}
