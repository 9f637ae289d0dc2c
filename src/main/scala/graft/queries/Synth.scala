package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The syslog stand-in the queries share: a deterministic RFC3164
  * stream synthesized from the events table, and its DuckDB twin. */
object Synth {

  /** events with a deterministic synthesized RFC3164 rawmsg column — the
    * stream stand-in from FIXTURES.md §4: PRI from (user_id, event_id),
    * hostname from user_id, tag from event_type, msg body with seq.
    */
  def synthSyslog(spark: SparkSession, dir: String): DataFrame =
    synthFrom(Tables.events(spark, dir))

  /** Row-level synthesis only, so it runs unchanged on a readStream
    * events frame (the streaming-gate queries reuse it). */
  def synthFrom(ev: DataFrame): DataFrame = {
    ev.withColumn("facility", (col("user_id") % 24).cast("int"))
      .withColumn("severity", (col("event_id") % 8).cast("int"))
      .withColumn("pri", col("facility") * 8 + col("severity"))
      .withColumn("hostname", concat(lit("host"), col("user_id")))
      // v100 = value in integer cents: avoids double→string dialect gaps
      .withColumn("v100", round(col("value") * 100, 0).cast("long"))
      .withColumn("rawmsg", concat(
        lit("<"), col("pri"), lit(">"),
        // RFC3164 TIMESTAMP from ts (second granularity)
        date_format(col("ts"), "MMM "),
        lpad(date_format(col("ts"), "d"), 2, " "),
        date_format(col("ts"), " HH:mm:ss "),
        col("hostname"), lit(" "),
        col("event_type"), lit("[" ), col("event_id"), lit("]: "),
        lit("msgnum:"), lpad(col("event_id"), 8, "0"), lit(": v100="), col("v100")))
  }

  /** Shared DuckDB CTE mirroring synthSyslog's derived fields. */
  val synthSql: String =
    """WITH ev AS (
      |  SELECT *,
      |    CAST(user_id % 24 AS INT) AS facility,
      |    CAST(event_id % 8 AS INT) AS severity,
      |    'host' || user_id AS hostname,
      |    CAST(round(value * 100, 0) AS BIGINT) AS v100,
      |    event_type || '[' || event_id || ']' AS syslogtag
      |  FROM events
      |)""".stripMargin
}
