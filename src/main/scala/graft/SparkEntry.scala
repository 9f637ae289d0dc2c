package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — the index of the operator queries. Each query
  * lives in its family's file under `graft.queries`, next to its DuckDB
  * `oracleSql` twin on the same parquet tables and its Bench scale;
  * adding one means adding one `Query` to that family's list.
  */
object SparkEntry {

  /** Flagship query on sf0.001; driver smoke-checks rows>0.
    * The full SURVEY §7 minimum slice through the config front-end:
    * rsyslog.conf text → objects + script → decode synth syslog lines →
    * filter/enrich/stop → action with rendered template → aggregate.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val raw = Synth.synthSyslog(spark, dir).select(col("rawmsg").as("value"))
    val decoded = graft.sources.Sources.decodeSyslog(raw)
    val cfg = graft.rainerscript.RsyslogConfig.parse(
      """template(name="out" type="string"
        |         string="%timereported:::date-rfc3164% %hostname% %syslogtag% %msg%")
        |ruleset(name="classify") {
        |  if prifilt("*.err") then set $!class = "high";
        |  else set $!class = "low";
        |}
        |call classify
        |if $severity == 7 then stop
        |action(type="omfile" name="keep")
        |""".stripMargin)
    val res = cfg.run(decoded)
    res.actionFrame(0)
      .withColumn("line", cfg.renderTemplate("out", col))
      .groupBy(get_json_object(col("vars_msg"), "$.class").as("class"))
      .agg(count(lit(1)).as("n"), max(length(col("line"))).as("max_len"))
  }

  /** Every query, family by family (SURVEY §2); a name defined twice
    * throws here. */
  val registry: Seq[Query] = Query.registry(
    RelationalQueries.queries, ScriptQueries.queries, TemplateQueries.queries,
    InputQueries.queries, LookupQueries.queries, StatsQueries.queries,
    FlowControlQueries.queries, ParserQueries.queries, OutputQueries.queries,
    TextDataQueries.queries, RetrievalQueries.queries,
    MultimodalQueries.queries, StreamingQueries.queries)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap
}
