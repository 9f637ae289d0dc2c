package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.rainer
import graft.operators._
import Synth._

/** Templates and the property replacer (SURVEY §2.4). */
object TemplateQueries {

  val queries: Seq[Query] = Seq(
    // §2.2/§2.4 fjson SPACED render — the reference's default tree→string
    // conversion (jsonToString → JSON_C_TO_STRING_SPACED, msg.c:1067):
    // every %$!…% template render and script string coercion emits
    // `{ "a": 1 }`-spaced JSON; strings render bare, missing paths null,
    // $!all-json falls back to "{}" on a null tree
    Query("json_spaced", (s, dir) => {
      val ev = Tables.events(s, dir)
      val tree = rainer.json_set(
        rainer.json_set(col("props"), "enrich!tag", col("event_type")),
        "enrich!arr",
        concat(lit("["), col("user_id"), lit(","), col("user_id") + 1, lit("]")))
      ev.withColumn("t", tree).select(
        col("event_id"),
        rainer.json_render(col("t"), "").as("whole"),
        rainer.json_render(col("t"), "enrich").as("sub"),
        rainer.json_render(col("t"), "enrich!tag").as("tag_raw"),
        coalesce(rainer.json_render(col("t"), "nope"), lit("<null>")).as("missing"),
        coalesce(rainer.json_render(lit(null).cast("string"), ""), lit("{}")).as("allj_null"))
    },
      """SELECT event_id,
        |  '{ "k": ' || k || ', "enrich": { "tag": "' || event_type ||
        |    '", "arr": [ ' || user_id || ', ' || (user_id + 1) || ' ] } }' AS whole,
        |  '{ "tag": "' || event_type || '", "arr": [ ' || user_id || ', '
        |    || (user_id + 1) || ' ] }' AS sub,
        |  event_type AS tag_raw,
        |  '<null>' AS missing,
        |  '{}' AS allj_null
        |FROM (SELECT event_id, event_type, user_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)""".stripMargin),

    // §2.4 template/property-replacer — RFC3164 file-format projection
    Query("template_render", (s, dir) => {
      val ev = synthSyslog(s, dir)
      ev.select(col("event_id"),
        concat(
          date_format(col("ts"), "MMM "),
          lpad(date_format(col("ts"), "d"), 2, " "),
          date_format(col("ts"), " HH:mm:ss "),
          col("hostname"), lit(" "),
          col("event_type"), lit("["), col("event_id"), lit("]: "),
          lit("v100="), col("v100")).as("line"))
    },
      synthSql +
        """ SELECT event_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%b') || ' ' ||
        |  lpad(CAST(day(ts) AS VARCHAR), 2, ' ') || ' ' ||
        |  strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S') || ' ' ||
        |  hostname || ' ' || event_type || '[' || event_id || ']: ' ||
        |  'v100=' || v100 AS line
        | FROM ev""".stripMargin),

    // §2.4 $NOW-family system properties (getNOW, msg.c:2922-2977;
    // property ids msg.c:473-533) — rendered through the real template
    // compiler from reception time; UTC session makes local ≡ -utc
    Query("template_nowfamily", (s, dir) => {
      val ev = synthSyslog(s, dir)
      ev.select(col("event_id"),
        graft.templates.TemplateCompiler.compile(
          "%$now%T%$hour%:%$minute% h%$hhour% q%$qhour% w%$wday% u%$now-unixtimestamp%",
          col).as("stamp"))
    },
      synthSql +
        """ SELECT event_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M') ||
        |  ' h' || lpad(CAST(minute(ts) // 30 AS VARCHAR), 2, '0') ||
        |  ' q' || lpad(CAST(minute(ts) // 15 AS VARCHAR), 2, '0') ||
        |  ' w' || CAST(dayofweek(ts) AS VARCHAR) ||
        |  ' u' || CAST(floor(epoch(ts)) AS BIGINT) AS stamp
        | FROM ev""".stripMargin),

    // §2.4 property-replacer: severity/facility text names (22 date formats'
    // sibling table options), case conversion, space compression
    Query("prop_replacer", (s, dir) => {
      val sevNames = array(Seq("emerg", "alert", "crit", "err", "warning",
        "notice", "info", "debug").map(lit): _*)
      val ev = synthSyslog(s, dir)
      ev.select(
        col("event_id"),
        element_at(sevNames, col("severity") + 1).as("sev_name"),
        upper(col("event_type")).as("tag_upper"),
        regexp_replace(concat(lit("  x  "), col("event_type"), lit("  ")),
          "\\s+", " ").as("compressed"),
        rainer.rs_substring(col("hostname"), 0, 4).as("host4"))
    },
      synthSql +
        """ SELECT event_id,
        |  (['emerg','alert','crit','err','warning','notice','info','debug'])[severity + 1]
        |    AS sev_name,
        |  upper(event_type) AS tag_upper,
        |  regexp_replace('  x  ' || event_type || '  ', '\s+', ' ', 'g')
        |    AS compressed,
        |  substring(hostname, 1, 4) AS host4
        | FROM ev""".stripMargin),

    // §2.4 property-replacer stages through the COMPILED template path:
    // negative/end-relative/fixed-width substrings, secure-path, jsonf
    // fragment (template-property-transformations.sh semantics over the
    // synth corpus — the matrix spec pins the exact reference bytes,
    // this query keeps the stages in the DuckDB correctness ledger)
    Query("template_stages", (s, dir) => {
      import graft.templates.TemplateCompiler
      val ev = synthSyslog(s, dir)
        .withColumn("pathx", concat(col("hostname"), lit("/"), col("event_type")))
      ev.select(
        col("event_id"),
        TemplateCompiler.compile("%pathx:::secpath-replace%", col).as("secp"),
        TemplateCompiler.compile("%hostname:2:-2%", col).as("negto"),
        TemplateCompiler.compile("%hostname:1:12:fixed-width%|", col).as("fixedw"),
        TemplateCompiler.compile("%hostname:4:1:pos-end-relative%", col).as("relend"),
        TemplateCompiler.compile("%event_type:::jsonf%", col).as("jsonff"))
    },
      synthSql +
        """ SELECT event_id,
        |  replace(hostname || '/' || event_type, '/', '_') AS secp,
        |  substr(hostname, 2, greatest(length(hostname) - 3, 0)) AS negto,
        |  rpad(substr(hostname, 1, 12), 12, ' ') || '|' AS fixedw,
        |  substr(hostname, greatest(length(hostname) - 4, 0) + 1,
        |    greatest(length(hostname) - 1, 0) - greatest(length(hostname) - 4, 0) + 1) AS relend,
        |  '"event_type":"' || event_type || '"' AS jsonff
        | FROM ev""".stripMargin),

    // §2.4 subtree/jsonf template — structured JSON projection
    Query("template_json", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"))).as("j"))
    },
      """SELECT event_id,
        |  '{"event_id":' || event_id || ',"event_type":"' || event_type || '"}'
        |    AS j
        |FROM events""".stripMargin)
  )
}
