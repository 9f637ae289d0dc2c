package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators._
import Synth._

/** Counters and windowless aggregations: dynstats, percentile_stats,
  * impstats, mmcount/mmsequence and repeat reduction (SURVEY §2.7). */
object StatsQueries {

  val queries: Seq[Query] = Seq(
    // §2.7 impstats format family (format= legacy/json/json-es/cee/
    // prometheus, statsobj.c getStatsLine/getStatsLineCEE/
    // emitPrometheusForObject): every render of the same counter set,
    // incl. json-c SPACED JSON, the ES dot→bang counter rename, and the
    // U__ Prometheus metric-name encoding for dotted object names
    Query("impstats_formats", (s, dir) => {
      val ev = Tables.events(s, dir)
      val t = ev.groupBy(concat(lit("events."), col("event_type")).as("name"))
        .agg(count(lit(1)).as("submitted"),
          count(when(col("event_id") % 7 === 0, 1)).as("discarded"))
      val ctrs = Seq("submitted" -> col("submitted"),
        "ratelimit.discarded" -> col("discarded"))
      import graft.sources.Impstats
      t.select(col("name"),
        Impstats.legacyLine(col("name"), "imfile", ctrs).as("legacy"),
        Impstats.jsonLine(col("name"), "imfile", ctrs).as("json"),
        Impstats.jsonLine(col("name"), "imfile", ctrs,
          esNames = true).as("json_es"),
        Impstats.ceeLine(col("name"), "imfile", ctrs).as("cee"),
        Impstats.prometheusBlock(col("name"), "imfile", "submitted",
          col("submitted")).as("prom_submitted"),
        Impstats.prometheusBlock(col("name"), "imfile",
          "ratelimit.discarded", col("discarded")).as("prom_discarded"))
    },
      """WITH t AS (
        |  SELECT 'events.' || event_type AS name,
        |    count(*) AS submitted,
        |    count(*) FILTER (WHERE event_id % 7 = 0) AS discarded
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT *,
        |    'U__' || replace(replace(name || '_submitted_total',
        |      '_', '__'), '.', '_2E_') AS m_sub,
        |    'U__' || replace(replace(name || '_ratelimit.discarded_total',
        |      '_', '__'), '.', '_2E_') AS m_dis
        |  FROM t)
        |SELECT name,
        |  name || ': origin=imfile submitted=' || submitted ||
        |    ' ratelimit.discarded=' || discarded || ' ' AS legacy,
        |  '{ "name": "' || name || '", "origin": "imfile", "submitted": ' ||
        |    submitted || ', "ratelimit.discarded": ' || discarded || ' }'
        |    AS json,
        |  '{ "name": "' || name || '", "origin": "imfile", "submitted": ' ||
        |    submitted || ', "ratelimit!discarded": ' || discarded || ' }'
        |    AS json_es,
        |  '@cee: { "name": "' || name || '", "origin": "imfile", "submitted": '
        |    || submitted || ', "ratelimit.discarded": ' || discarded || ' }'
        |    AS cee,
        |  '# HELP ' || m_sub || ' rsyslog stats: origin="imfile" object="' ||
        |    name || '", counter="submitted"' || chr(10) ||
        |    '# TYPE ' || m_sub || ' counter' || chr(10) ||
        |    m_sub || ' ' || submitted || chr(10) AS prom_submitted,
        |  '# HELP ' || m_dis || ' rsyslog stats: origin="imfile" object="' ||
        |    name || '", counter="ratelimit.discarded"' || chr(10) ||
        |    '# TYPE ' || m_dis || ' counter' || chr(10) ||
        |    m_dis || ' ' || discarded || chr(10) AS prom_discarded
        |FROM m""".stripMargin),

    // §2.7 impstats format="zabbix" (impstats.c generateZabbixStats +
    // collectStats_zbx): ONE grouped JSON line per interval — stat lines
    // grouped by sanitized origin, the dual-origin global/local split,
    // and the core.action→stats_omkafka_local remap. The walk order is
    // the explicit ord column (registration order in the reference); the
    // frame is #stats-objects rows, so the single-row assembly is bounded
    Query("impstats_zabbix", (s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.agg(count(lit(1)).as("n"), max(col("ts")).as("mts"))
      val perType = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_t"), max(col("ts")).as("mts_t"))
        .withColumn("name", concat(lit("events."), col("event_type")))
        // bounded window: rows = distinct event types (stats objects)
        .withColumn("ord", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("name")))
          .cast("long"))
      import graft.sources.Impstats
      val imfileLines = perType.join(a).select(
        col("name"), lit("imfile").as("origin"),
        Impstats.jsonLine(col("name"), "imfile",
          Seq("submitted" -> col("n_t"))).as("line"),
        col("ord"), col("mts"))
      // all four synthetic stats objects from ONE pass over the 1-row
      // aggregate (a union of per-branch selects would re-scan the
      // corpus once per branch)
      def entry(name: String, origin: String, ord: Long, line: Column) =
        struct(lit(name).as("name"), lit(origin).as("origin"),
          line.as("line"), lit(ord).as("ord"))
      val synthLines = a.select(col("mts"), explode(array(
          entry("omkafka", "omkafka", 1000L,
            Impstats.jsonLine(lit("omkafka"), "omkafka",
              Seq("submitted" -> col("n")))),
          entry("topic-events", "omkafka", 1001L,
            Impstats.jsonLine(lit("topic-events"), "omkafka",
              Seq("submitted" -> col("n")))),
          entry("action-omkafka", "core.action", 1002L,
            Impstats.jsonLine(lit("action-omkafka"), "core.action",
              Seq("processed" -> col("n")))),
          entry("resource-usage", "impstats", 1003L,
            Impstats.jsonLine(lit("resource-usage"), "impstats",
              Seq("utime" -> col("n"), "openfiles" -> lit(32)))))).as("r"))
        .select(col("r.name").as("name"), col("r.origin").as("origin"),
          col("r.line").as("line"), col("r.ord").as("ord"), col("mts"))
      val lines = imfileLines.unionByName(synthLines)
      Impstats.zabbixSnapshot(lines, col("line"), col("origin"),
        col("name"), col("ord"), col("mts"))
        .select(col("snapshot"),
          get_json_object(col("snapshot"), "$.stats_imfile[0].name")
            .as("probe_first_name"),
          get_json_object(col("snapshot"),
            "$.stats_omkafka_global[0].submitted").cast("long")
            .as("probe_global_sub"),
          get_json_object(col("snapshot"),
            "$.stats_omkafka_local[1].processed").cast("long")
            .as("probe_remap"),
          get_json_object(col("snapshot"), "$.timedate").as("probe_td"))
    },
      """WITH t AS (
        |  SELECT 'events.' || event_type AS name, count(*) AS n_t
        |  FROM events GROUP BY 1),
        |a AS (SELECT count(*) AS n,
        |  max(CAST(ts AS TIMESTAMP)) AS mts FROM events),
        |arr AS (
        |  SELECT string_agg('{ "name": "' || name ||
        |    '", "origin": "imfile", "submitted": ' || n_t || ' }',
        |    ',' ORDER BY name) AS imfile_arr FROM t)
        |SELECT snapshot,
        |  json_extract_string(snapshot, '$.stats_imfile[0].name')
        |    AS probe_first_name,
        |  CAST(json_extract(snapshot, '$.stats_omkafka_global[0].submitted')
        |    AS BIGINT) AS probe_global_sub,
        |  CAST(json_extract(snapshot, '$.stats_omkafka_local[1].processed')
        |    AS BIGINT) AS probe_remap,
        |  json_extract_string(snapshot, '$.timedate') AS probe_td
        |FROM (
        |  SELECT '{ "timedate": "' || strftime(mts, '%a %b %d %H:%M:%S %Y') ||
        |    '", "stats_imfile": [' || (SELECT imfile_arr FROM arr) || ']' ||
        |    ', "stats_omkafka_global": [{ "name": "omkafka", "origin": "omkafka", "submitted": ' || n || ' }]' ||
        |    ', "stats_omkafka_local": [{ "name": "topic-events", "origin": "omkafka", "submitted": ' || n || ' },{ "name": "action-omkafka", "origin": "core.action", "processed": ' || n || ' }]' ||
        |    ', "stats_impstats": [{ "name": "resource-usage", "origin": "impstats", "utime": ' || n || ', "openfiles": 32 }]' ||
        |    '}' AS snapshot
        |  FROM a)""".stripMargin),

    // §2.7 dynstats — dyn_inc counters keyed by runtime string, with
    // maxCardinality semantics (first-seen keys kept, rest → overflow)
    Query("dynstats", (s, dir) => {
      DynStats.counters(Tables.events(s, dir),
        keyCol = col("event_type"), orderCol = col("event_id"),
        maxCardinality = 3)
    },
      DynStats.oracleSql(maxCardinality = 3)),

    // §2.7 percentile_stats — per-key percentiles over an observation window
    Query("perctile", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"),
          round(min(col("value")), 2).as("window_min"),
          round(max(col("value")), 2).as("window_max"),
          count(lit(1)).as("window_count"))
    },
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95,
        |  round(min(value), 2) AS window_min,
        |  round(max(value), 2) AS window_max,
        |  count(*) AS window_count
        |FROM events GROUP BY 1""".stripMargin),

    // §2.7 dyn_inc from SCRIPT TEXT → real DynStats counters: the call
    // sites' frozen path guards aggregate over the final frame. The
    // trailing severity==6 stop runs AFTER the dyn_inc sequence point, so
    // those rows still count (reference fires the side effect the moment
    // the statement runs); the leading severity==7 stop runs before, so
    // those never count.
    Query("rainerscript_dynstats", (s, dir) => {
      val ev = synthSyslog(s, dir)
        .select("event_id", "facility", "severity", "event_type", "hostname")
      val script =
        """if $severity == 7 then stop
          |if $severity <= 4 then {
          |  set $.r = dyn_inc("by_type", $event_type);
          |} else {
          |  set $.r = dyn_inc("by_type", "quiet");
          |}
          |if $severity == 6 then stop
          |""".stripMargin
      graft.rainerscript.RainerCompiler.run(script, ev)
        .dynStatsFrame("by_type", col("event_id"), maxCardinality = 3)
    },
      synthSql +
        """, obs AS (
        |  SELECT event_id,
        |    CASE WHEN severity <= 4 THEN event_type ELSE 'quiet' END AS metric_key
        |  FROM ev WHERE severity <> 7),
        |perkey AS (
        |  SELECT metric_key, count(*) AS cnt, min(event_id) AS first_seen
        |  FROM obs GROUP BY 1),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY first_seen) AS rk FROM perkey)
        |SELECT CASE WHEN rk <= 3 THEN metric_key ELSE '_overflow' END AS metric,
        |  CAST(sum(cnt) AS BIGINT) AS n
        |FROM ranked GROUP BY 1""".stripMargin),

    // §2.7 percentile_observe from SCRIPT TEXT → perctile digest
    Query("rainerscript_perctile", (s, dir) => {
      val ev = synthSyslog(s, dir)
        .select("event_id", "facility", "severity", "event_type", "hostname")
      val script =
        """set $.p = percentile_observe("lat", $event_type,
          |                             $severity * $severity + $facility);
          |""".stripMargin
      graft.rainerscript.RainerCompiler.run(script, ev)
        .perctileFrame("lat")
    },
      synthSql +
        """, obs AS (
        |  SELECT event_type AS pkey,
        |    CAST(severity * severity + facility AS DOUBLE) AS v
        |  FROM ev)
        |SELECT pkey, count(*) AS window_count,
        |  round(min(v), 4) AS window_min, round(max(v), 4) AS window_max,
        |  round(quantile_cont(v, 0.5), 4) AS p50,
        |  round(quantile_cont(v, 0.95), 4) AS p95,
        |  round(quantile_cont(v, 0.99), 4) AS p99
        |FROM obs GROUP BY 1""".stripMargin),

    // §2.7 mmcount — running count per key annotated back onto rows
    Query("mmcount", (s, dir) => {
      val ev = Tables.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("event_id"))
      ev.withColumn("msgcnt", row_number().over(w))
        .filter(col("msgcnt") % 100 === 0)
        .select(col("event_id"), col("event_type"), col("msgcnt"))
    },
      """WITH seq AS (
        |  SELECT event_id, event_type, row_number() OVER (
        |    PARTITION BY event_type ORDER BY event_id) AS msgcnt
        |  FROM events)
        |SELECT event_id, event_type, msgcnt FROM seq WHERE msgcnt % 100 = 0""".stripMargin),

    // §2.7 mmsequence — monotonic per-key sequence numbers
    Query("mmsequence", (s, dir) => {
      val ev = Tables.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      ev.withColumn("seq", row_number().over(w))
        .groupBy(col("user_id"))
        .agg(max(col("seq")).as("max_seq"), count(lit(1)).as("n"))
    },
      """WITH seq AS (
        |  SELECT user_id, row_number() OVER (
        |    PARTITION BY user_id ORDER BY event_id) AS s
        |  FROM events)
        |SELECT user_id, max(s) AS max_seq, count(*) AS n FROM seq GROUP BY 1""".stripMargin),

    // §2.7 "last message repeated n times" — consecutive-run reduction
    Query("repeat_reduce", (s, dir) => {
      RateLimit.repeatedMsgReduction(Tables.events(s, dir),
        col("user_id"), col("event_type"), col("event_id"))
    },
      """WITH base AS (
        |  SELECT user_id AS key, event_type AS msg, event_id,
        |    CASE WHEN lag(event_type) OVER
        |           (PARTITION BY user_id ORDER BY event_id) IS NULL
        |         OR lag(event_type) OVER
        |           (PARTITION BY user_id ORDER BY event_id) <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |runs AS (SELECT *, sum(chg) OVER (
        |    PARTITION BY key ORDER BY event_id ROWS UNBOUNDED PRECEDING)
        |  AS run_id FROM base)
        |SELECT key, msg, min(event_id) AS first_seen,
        |  count(*) AS n_repeats
        |FROM runs GROUP BY key, run_id, msg""".stripMargin)
  )
}
