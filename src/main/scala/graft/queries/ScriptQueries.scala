package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.rainer
import graft.operators._
import Synth._

/** RainerScript statements, expressions and the built-in function library
  * (SURVEY §2.1-§2.3), plus the config front-ends that compile to them. */
object ScriptQueries {

  val queries: Seq[Query] = Seq(
    // §2.1 S_PRIFILT — PRI bitmask filter compiled from a selector string
    Query("prifilt", (s, dir) => {
      val ev = synthSyslog(s, dir)
      // local4.!=debug is STANDALONE for its facility (nothing before the
      // ';' touches local4): the negated selector pre-fills local4 to
      // ALLPRI before clearing debug (issue #1030,
      // tests/rscript_prifilt_negated_exact.sh); uucp.err is the plain
      // range form, local0.=debug the exact form, mail.none the reset
      ev.filter(rainer.prifilt("uucp.err;mail.none;local0.=debug;local4.!=debug")(col("facility"), col("severity")))
        .groupBy(col("facility"), col("severity"))
        .agg(count(lit(1)).as("n"))
    },
      // mask per facility for "uucp.err;mail.none;local0.=debug;
      // local4.!=debug": uucp(8) bits 0-3 (err and more severe), mail(2)
      // cleared, local0(16) exact debug = 0x80, local4(20) = ALLPRI minus
      // debug (standalone negated selector pre-fills, issue #1030) = 0x7F,
      // every other facility untouched = 0
      synthSql +
        """ SELECT facility, severity, count(*) AS n FROM ev
        | WHERE ((CASE
        |   WHEN facility = 8 THEN 15
        |   WHEN facility = 16 THEN 128
        |   WHEN facility = 20 THEN 127
        |   ELSE 0 END) & (1 << severity)) <> 0
        | GROUP BY 1, 2""".stripMargin),

    // §2.1 S_PROPFILT — legacy property filters: contains/startswith/regex
    Query("propfilt", (s, dir) => {
      Tables.documents(s, dir)
        .filter(rainer.rs_contains(col("text"), "spark") &&
                !rainer.rs_startswith(col("text"), "the") &&
                rainer.re_match(col("text"), "join .* merge"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    },
      """SELECT lang, count(*) AS n FROM documents
        |WHERE text LIKE '%spark%' AND text NOT LIKE 'the%'
        |  AND regexp_matches(text, 'join .* merge')
        |GROUP BY 1""".stripMargin),

    // §2.1 S_SET/S_UNSET via json_set/json_unset custom exprs
    Query("set_unset_json", (s, dir) => {
      val ev = Tables.events(s, dir)
      val withVar = ev.withColumn("vars",
        rainer.json_set(col("props"), "enrich!vdouble", col("value") * 2))
      withVar
        .withColumn("vdouble", get_json_object(col("vars"), "$.enrich.vdouble").cast("double"))
        .withColumn("k_gone",
          get_json_object(rainer.json_unset(col("vars"), "k"), "$.k").isNull)
        .select(col("event_id"), round(col("vdouble"), 2).as("vdouble"), col("k_gone"))
    },
      """SELECT event_id,
        |  round(value * 2, 2) AS vdouble,
        |  true AS k_gone
        |FROM events""".stripMargin),

    // §2.1 S_FOREACH — foreach over array → explode
    Query("foreach_explode", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
    },
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |) WHERE word <> '' GROUP BY 1""".stripMargin),

    // §2.1 the `rsyslogd -o` config translator (runtime/translate.c;
    // tests/config-translate-*.sh exact-output goldens): driver-side
    // translation of two fixtures, both directions, the full output
    // bytes pinned by the DuckDB oracle literals (ConfigTranslateSpec
    // carries the whole 10-scenario golden suite)
    Query("config_translate", (s, dir) => {
      import s.implicits._
      val rsConf =
        "ruleset(name=\"main\") {\n  mail.info action(type=\"omfile\" file=\"/tmp/fa.log\")\n}\n"
      val yamlConf =
        "version: 2\nmainqueue:\n  queue.type: \"Direct\"\nrulesets:\n  - name: \"main\"\n    script: |\n      action(type=\"omstdout\")\n"
      Seq(
        (1L, "yaml", graft.rainerscript.ConfigTranslate.toYaml(rsConf)),
        (2L, "rainerscript",
          graft.rainerscript.ConfigTranslate.toRainerScript(yamlConf))
      ).toDF("case_id", "fmt", "out")
    },
      """SELECT 1 AS case_id, 'yaml' AS fmt,
        |  E'version: 2\n\nrulesets:\n  - name: "main"\n    filter: "mail.info"\n    actions:\n      - type: "omfile"\n        file: "/tmp/fa.log"\n' AS out
        |UNION ALL
        |SELECT 2, 'rainerscript',
        |  E'main_queue(queue.type="Direct")\n\nruleset(name="main") {\n  action(type="omstdout")\n}\n\n'""".stripMargin),

    // §2.1 the YAML config front-end (runtime/yamlconf.c): schema →
    // object model translation with all three ruleset forms — a
    // statements: block (set / if+action / then+else+stop), a prifilt
    // guard, and script-visible variable state — run end-to-end on the
    // synth corpus
    Query("config_yaml", (s, dir) => {
      val yaml =
        """version: 2
          |rulesets:
          |  - name: main
          |    statements:
          |      - set:
          |          var: "$.sevsq"
          |          expr: "$syslogseverity * $syslogseverity"
          |      - if: 'prifilt("mail.*")'
          |        action:
          |          type: omfile
          |          file: "/logs/mail"
          |      - if: '$msg contains "msgnum:"'
          |        then:
          |          - type: omfwd
          |            target: "loghost"
          |        else:
          |          - stop: true
          |""".stripMargin
      val cfg = graft.rainerscript.RsyslogConfig.parseYaml(yaml)
      val ev = synthSyslog(s, dir)
        .withColumn("msg",
          when(col("event_id") % 7 === 0, lit("heartbeat"))
            .otherwise(concat(lit("msgnum:"),
              lpad(col("event_id"), 8, "0"))))
        .withColumn("syslogtag", concat(col("event_type"), lit(":")))
        .withColumn("vars_msg", lit("{}"))
        .withColumn("vars_local", lit("{}"))
      val res = cfg.run(ev, "main")
      val mail = res.actionFrame(0)
        .agg(count(lit(1)).as("n_mail")).withColumn("k", lit(1))
      val fwd = res.actionFrame(1)
        .agg(count(lit(1)).as("n_fwd"),
          sum(get_json_object(col("vars_local"), "$.sevsq").cast("long"))
            .as("sevsq_sum")).withColumn("k", lit(1))
      mail.join(fwd, "k").drop("k")
    },
      synthSql +
        """ SELECT
        |  count(CASE WHEN facility = 2 THEN 1 END) AS n_mail,
        |  count(CASE WHEN event_id % 7 <> 0 THEN 1 END) AS n_fwd,
        |  CAST(sum(CASE WHEN event_id % 7 <> 0
        |    THEN severity * severity END) AS BIGINT) AS sevsq_sum
        | FROM ev""".stripMargin),

    // §2.1 timezone() objects: configured offsets resolve the symbolic
    // zone ids parse_time_localtz receives (runtime/timezones.c,
    // grammar/rainerscript.h:52) — script text + config objects only
    Query("timezone_localtz", (s, dir) => {
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        """timezone(id="CET" offset="+01:00")
          |timezone(id="EST" offset="-05:00")
          |set $.cet = parse_time_localtz($t3339, "CET");
          |set $.est = parse_time_localtz($t3339, "EST");
          |""".stripMargin)
      val ev = Tables.events(s, dir).select(col("event_id"), col("ts"))
        .withColumn("t3339", date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
      val res = cfg.run(ev)
      res.output.select(col("event_id"),
        get_json_object(col("vars_local"), "$.cet").cast("long").as("cet"),
        get_json_object(col("vars_local"), "$.est").cast("long").as("est"))
    },
      """SELECT event_id,
        |  epoch_ns(ts) // 1000000000 - 3600 AS cet,
        |  epoch_ns(ts) // 1000000000 + 18000 AS est
        |FROM events""".stripMargin),

    // §2.1 foreach body action(): the action fires once PER ELEMENT with
    // that element's variable state (runtime/ruleset.c:310-401 executes
    // the body's statements per iteration) — the exploded capture via
    // CompiledAction.frameOverride is the batch face of that
    Query("foreach_action", (s, dir) => {
      val ev = synthSyslog(s, dir)
        .select(col("event_id"), col("hostname"), col("event_type"))
      val script =
        """foreach ($.w in split($event_type, "u")) do {
          |  if $.w != "" then {
          |    set $.line = $hostname & ":" & $.w;
          |    action(type="omfile" file="/fragments.log")
          |  }
          |}
          |""".stripMargin
      val res = graft.rainerscript.RainerCompiler.run(script, ev)
      res.actionFrame(0).select(col("event_id"),
        get_json_object(col("vars_local"), "$.line").as("line"))
    },
      synthSql +
        """ SELECT event_id, hostname || ':' || w AS line
        | FROM (SELECT event_id, hostname,
        |         unnest(string_split(event_type, 'u')) AS w
        |       FROM ev)
        | WHERE w <> ''""".stripMargin),

    // §2.3 string function battery: strlen/tolower/substring/field/replace/wrap
    Query("func_strings", (s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        rainer.strlen(col("text")).as("len"),
        rainer.toupper(rainer.rs_substring(col("text"), 0, 10)).as("head10"),
        rainer.field(col("text"), " ", 3).as("f3"),
        rainer.wrap(rainer.field(col("text"), " ", 1), "'").as("wrapped"),
        rainer.rs_replace(rainer.rs_substring(col("text"), 0, 20), " ", "_").as("und"))
    },
      """SELECT doc_id,
        |  length(text) AS len,
        |  upper(substring(text, 1, 10)) AS head10,
        |  coalesce(string_split(text, ' ')[3], '***FIELD NOT FOUND***') AS f3,
        |  '''' || string_split(text, ' ')[1] || '''' AS wrapped,
        |  replace(substring(text, 1, 20), ' ', '_') AS und
        |FROM documents""".stripMargin),

    // §2.3 numeric/ip functions: num2ipv4, ipv42num, int2hex, is_in_subnet
    Query("func_net", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ipn", (col("user_id") * 7777777L + col("event_id")) % 4294967296L)
      ev.select(
        col("event_id"),
        rainer.num2ipv4(col("ipn")).as("ip"),
        (rainer.ipv42num(rainer.num2ipv4(col("ipn"))) === col("ipn")).as("roundtrip"),
        rainer.int2hex(col("event_id")).as("hexid"),
        rainer.is_in_subnet(rainer.num2ipv4(col("ipn")), "10.0.0.0/8").as("in10"),
        rainer.anon_ipv4(rainer.num2ipv4(col("ipn")), 8).as("anon"))
    },
      """WITH e AS (
        |  SELECT event_id, (user_id * 7777777 + event_id) % 4294967296 AS ipn
        |  FROM events)
        |SELECT event_id,
        |  ((ipn // 16777216) % 256) || '.' || ((ipn // 65536) % 256) || '.' ||
        |    ((ipn // 256) % 256) || '.' || (ipn % 256) AS ip,
        |  true AS roundtrip,
        |  lower(format('{:x}', event_id)) AS hexid,
        |  (ipn // 16777216) % 256 = 10 AS in10,
        |  ((ipn // 16777216) % 256) || '.' || ((ipn // 65536) % 256) || '.' ||
        |    ((ipn // 256) % 256) || '.0' AS anon
        |FROM e""".stripMargin),

    // §2.3 time functions: format_time / parse_time roundtrip
    Query("func_time", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("epoch", expr("ts_ns div 1000000000"))
      ev.select(
        col("event_id"),
        rainer.format_time(col("epoch"), "date-rfc3339").as("rfc3339"),
        rainer.format_time(col("epoch"), "date-rfc3164").as("rfc3164"),
        (rainer.parse_time(rainer.format_time(col("epoch"), "date-rfc3339")) === col("epoch"))
          .as("roundtrip"))
    },
      """SELECT event_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') || '+00:00' AS rfc3339,
        |  strftime(CAST(ts AS TIMESTAMP), '%b') || ' ' ||
        |    lpad(CAST(day(ts) AS VARCHAR), 2, ' ') || ' ' ||
        |    strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S') AS rfc3164,
        |  true AS roundtrip
        |FROM events""".stripMargin),

    // §2.3 parse_json(text, container) side-effect form: rc 0/1 with the
    // STRICT whole-input check (a valid prefix with trailing garbage is
    // rc 1 and stores nothing — doFunc_parse_json char_offset scan,
    // grammar/rainerscript.c:1887-1905, tests/rscript_parse_json_issue.sh)
    Query("parse_json_script", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("msg",
          when(col("event_id") % 5 === 0, concat(col("props"), lit(" trailing")))
          .when(col("event_id") % 5 === 1, lit("22 08 23 this is a test message"))
          .otherwise(col("props")))
        .select("event_id", "msg")
      val res = graft.rainerscript.RainerCompiler.run(
        """set $.rc = parse_json($msg, "\$!parsed");""", ev)
      res.output.select(
        col("event_id"),
        get_json_object(col("vars_local"), "$.rc").cast("long").as("rc"),
        get_json_object(col("vars_msg"), "$.parsed.k").cast("long").as("k"))
    },
      """WITH src AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 5 = 0 THEN props || ' trailing'
        |         WHEN event_id % 5 = 1 THEN '22 08 23 this is a test message'
        |         ELSE props END AS msg
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN json_valid(msg) THEN 0 ELSE 1 END AS rc,
        |  CASE WHEN json_valid(msg)
        |       THEN CAST(json_extract_string(msg, '$.k') AS BIGINT) END AS k
        |FROM src""".stripMargin),

    // §3.1/§7 flagship: RainerScript config text → parsed AST → compiled
    // DataFrame pipeline → action output (the reference's whole compile+
    // execute path, oracle-verified)
    Query("rainerscript_e2e", (s, dir) => {
      val ev = synthSyslog(s, dir)
        .withColumn("msg", concat(lit("msgnum:"), lpad(col("event_id"), 8, "0"),
          lit(": v100="), col("v100")))
        .select("event_id", "facility", "severity", "msg", "hostname")
      val script =
        """set $!sevsq = $severity * $severity;
          |if prifilt("*.err") and $msg contains "v100" then {
          |  set $!flag = "important";
          |} else {
          |  set $!flag = "routine";
          |}
          |if $severity == 7 then stop
          |action(type="omfile" template="%hostname% %msg%")
          |""".stripMargin
      val res = graft.rainerscript.RainerCompiler.run(script, ev)
      res.actionFrame(0).select(
        col("event_id"),
        get_json_object(col("vars_msg"), "$.flag").as("flag"),
        get_json_object(col("vars_msg"), "$.sevsq").cast("long").as("sevsq"),
        col("__rendered").as("line"))
    },
      synthSql +
        """ SELECT event_id,
        |  CASE WHEN severity <= 3
        |         AND ('msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0')
        |              || ': v100=' || v100) LIKE '%v100%'
        |       THEN 'important' ELSE 'routine' END AS flag,
        |  CAST(severity * severity AS BIGINT) AS sevsq,
        |  hostname || ' ' || 'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0')
        |    || ': v100=' || v100 AS line
        | FROM ev WHERE severity <> 7""".stripMargin),

    // global(variables.casesensitive="off") — the reference's DEFAULT
    // fjson mode (glbl.c:1405; its only test, tests/json_var_case.sh,
    // pins the "on" path this engine always had): variable reads find
    // the first case-insensitively matching key, writes replace the
    // matched entry's value IN PLACE (original spelling survives —
    // json-c's json_object_object_add contract), unset/exists fold
    // case, and the overlay cache keys fold to agree with the tree
    Query("json_var_case", (s, dir) => {
      val ev = synthSyslog(s, dir).select("event_id", "severity")
      val conf =
        """global(variables.casesensitive="off")
          |set $!MixedCase!Inner = $severity * 10;
          |set $!mixedCASE!INNER = $!mixedcase!inner + 1;
          |set $.LocalVar = "L" & $!MIXEDCASE!inner;
          |set $!Tmp!Gone = 1;
          |unset $!tmp!gone;
          |set $!out!read_ci = $!MixedCase!INNER;
          |set $!out!exists_gone = exists($!TMP!GONE);
          |set $!out!tmp_obj = exists($!tMp);
          |""".stripMargin
      val cfg = graft.rainerscript.RsyslogConfig.parse(conf)
      val res = cfg.run(ev)
      // single-parse (r15 impcap discipline): four vars_msg re-parses →
      // one json_tuple (key match is case-sensitive exact, same as
      // get_json_object's path step — the readback contract below needs
      // exactly that)
      res.output
        .select(Seq(col("event_id"), col("vars_local")) :+
          json_tuple(col("vars_msg"), "MixedCase", "out"): _*)
        .toDF("event_id", "vars_local", "__mc", "__out")
        .select(
        col("event_id"),
        // case-SENSITIVE readback proves the final spelling: json-c's
        // json_object_object_add under the insensitive global replaces
        // the matched entry's VALUE in place — the ORIGINAL spelling
        // "Inner" survives the `$!mixedCASE!INNER` write (the existing
        // key remains valid; only the value changes)
        get_json_object(col("__mc"), "$.Inner")
          .cast("long").as("v_spell"),
        get_json_object(col("__out"), "$.read_ci")
          .cast("long").as("read_ci"),
        get_json_object(col("vars_local"), "$.LocalVar").as("l_ci"),
        get_json_object(col("__out"), "$.exists_gone").as("exists_gone"),
        get_json_object(col("__out"), "$.tmp_obj").as("tmp_obj"))
    },
      synthSql +
        """ SELECT event_id,
        |  CAST(severity * 10 + 1 AS BIGINT) AS v_spell,
        |  CAST(severity * 10 + 1 AS BIGINT) AS read_ci,
        |  'L' || (severity * 10 + 1) AS l_ci,
        |  'false' AS exists_gone,
        |  'true' AS tmp_obj
        | FROM ev""".stripMargin),

    // stock-config front-end e2e, ACTIVATED: an unmodified distro-style
    // rsyslog.conf (module/input/global/main_queue objects, legacy
    // $-directives, selector lines with file/fwd/usrmsg targets, '&'
    // continuation) parses and BINDS — the synthesized syslog stream is
    // first materialized as real text files, then the config's own
    // input(type="imfile") reads it back through activate() (reference
    // activation pass, tools/rsyslogd.c:885-929): config text → bound
    // file input → ruleset → action counts, no hand-built frame. Output
    // = routed count per action, ONE aggregation over the compiled
    // frame's frozen per-action condition columns (no per-action re-scan)
    Query("config_e2e", (s, dir) => {
      // deterministic path (overwritten per sf) + exit-reaped
      val spool = graft.Tmp.register(java.nio.file.Paths.get(
        s"/tmp/graft_config_e2e_${math.abs(dir.hashCode)}")).toString
      synthSyslog(s, dir).select(col("rawmsg"))
        .coalesce(1).write.mode("overwrite").text(spool)
      val conf =
        s"""module(load="imuxsock")
          |module(load="imklog" permitnonkernelfacility="on")
          |module(load="imfile")
          |$$ModLoad immark
          |input(type="imfile" file="$spool/part-*" tag="e2e:" needparse="on")
          |global(workDirectory="/var/spool/rsyslog")
          |main_queue(queue.size="100000")
          |$$ActionFileDefaultTemplate RSYSLOG_TraditionalFileFormat
          |$$RepeatedMsgReduction on
          |$$FileOwner root
          |auth,authpriv.*    /var/log/auth.log
          |*.*;auth,authpriv.none    -/var/log/syslog
          |cron.*    /var/log/cron.log
          |kern.*    -/var/log/kern.log
          |mail.err    /var/log/mail.err
          |*.emerg    :omusrmsg:*
          |mail.*    @loghost.example.net
          |& stop
          |""".stripMargin
      val cfg = graft.rainerscript.RsyslogConfig.parse(conf)
      require(cfg.hasModule("imuxsock") && cfg.hasModule("immark") &&
        cfg.globals("fileowner") == "root", "stock config surface missing")
      require(cfg.inputs.exists(_.get("type").contains("imfile")),
        "input() object missing")
      // "" = the default/main ruleset the file input is bound to
      val res = cfg.activate(s,
        now = to_timestamp(lit("2024-01-01 00:00:00")))("")
      val names = Seq("n_auth", "n_syslog", "n_cron", "n_kern", "n_mailerr",
        "n_emerg", "n_mailfwd")
      require(res.actions.length == names.length, "action count drifted")
      val aggs = res.actions.zip(names).map { case (a, n) =>
        count(when(col(a.condCol), lit(1))).as(n)
      }
      res.frame.agg(aggs.head, aggs.tail: _*)
    },
      synthSql +
        """ SELECT
        |  count(CASE WHEN facility IN (4,10) THEN 1 END) AS n_auth,
        |  count(CASE WHEN facility NOT IN (4,10) THEN 1 END) AS n_syslog,
        |  count(CASE WHEN facility = 9 THEN 1 END) AS n_cron,
        |  count(CASE WHEN facility = 0 THEN 1 END) AS n_kern,
        |  count(CASE WHEN facility = 2 AND severity <= 3 THEN 1 END) AS n_mailerr,
        |  count(CASE WHEN severity = 0 THEN 1 END) AS n_emerg,
        |  count(CASE WHEN facility = 2 THEN 1 END) AS n_mailfwd
        | FROM ev""".stripMargin),

    // §2.3 exec_template + builtin template registry: render the stock
    // RSYSLOG_FileFormat (rfc3339 variant) through the config front-end
    Query("exec_template", (s, dir) => {
      val cfg = graft.rainerscript.RsyslogConfig.parse("")
      val ev = synthSyslog(s, dir)
        .withColumn("msg", concat(lit(" v100="), col("v100")))
        .withColumn("syslogtag", concat(col("event_type"), lit(":")))
      ev.select(col("event_id"),
        cfg.renderTemplate("RSYSLOG_FileFormat",
          n => if (n == "timereported") col("ts") else col(n)).as("line"))
    },
      synthSql +
        """ SELECT event_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') || '+00:00 ' ||
        |  hostname || ' ' || event_type || ': v100=' || v100 || chr(10) AS line
        | FROM ev""".stripMargin),

    // §2.3 misc functions: b64, wrap, unflatten, CEF, URL decomposition
    Query("func_misc", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("url", concat(lit("https://h"), col("user_id"),
          lit(".example.com/p/"), col("event_id"), lit("?q="), col("user_id")))
      ev.select(
        col("event_id"),
        rainer.b64_decode(rainer.b64_encode(col("event_type"))).as("b64rt"),
        rainer.wrap(col("event_type"), "'", "_").as("wrapped"),
        get_json_object(
          rainer.unflatten(
            concat(lit("""{"a.b":"""), col("user_id"), lit("""}""")), "."),
          "$.a.b").cast("long").as("unflat"),
        rainer.tocef(lit("graft"), lit("engine"), lit("1.0"),
          col("event_id").cast("string"), col("event_type"),
          (col("user_id") % 10).cast("string"),
          concat(lit("uid="), col("user_id"))).as("cef"),
        rainer.faup_scheme(col("url")).as("scheme"),
        rainer.faup_host(col("url")).as("host"),
        rainer.faup_tld(col("url")).as("tld"),
        rainer.faup_path(col("url")).as("path"),
        rainer.faup_query(col("url")).as("q"))
    },
      """SELECT event_id,
        |  event_type AS b64rt,
        |  '''' || event_type || '''' AS wrapped,
        |  user_id AS unflat,
        |  'CEF:0|graft|engine|1.0|' || event_id || '|' || event_type || '|'
        |    || (user_id % 10) || '|uid=' || user_id AS cef,
        |  'https' AS scheme,
        |  'h' || user_id || '.example.com' AS host,
        |  'com' AS tld,
        |  '/p/' || event_id AS path,
        |  'q=' || user_id AS q
        |FROM events""".stripMargin),

    // §2.3 fmhttp http_request (plugins/fmhttp/fmhttp.c:89-136) through
    // the pre-fetched-response boundary: the script renders a URL per
    // message, probes the bound URL → body map (a plan literal — no
    // shuffle), and a miss IS curl failure → number 0. The 0-vs-body
    // branch exercises the reference's svar coercion ("0" == 0 numeric,
    // JSON body vs 0 string compare), then get_property reads into the
    // fetched JSON. Two of the five event types deliberately have no
    // response bound.
    Query("fmhttp_enrich", (s, dir) => {
      val responses = Map(
        "http://svc.example/class?t=error" ->
          """{"sev":"high","team":"oncall"}""",
        "http://svc.example/class?t=purchase" ->
          """{"sev":"low","team":"billing"}""",
        "http://svc.example/class?t=signup" ->
          """{"sev":"low","team":"growth"}""")
      val ev = Tables.events(s, dir).select("event_id", "event_type")
      val script =
        """set $.url = "http://svc.example/class?t=" & $event_type;
          |set $.resp = http_request($.url);
          |if $.resp == 0 then
          |  set $!team = "unresolved";
          |else
          |  set $!team = get_property($.resp, "team");
          |""".stripMargin
      graft.rainerscript.RainerCompiler
        .run(script, ev, http = responses).output
        .groupBy(get_json_object(col("vars_msg"), "$.team").as("team"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("event_type")).as("n_types"))
    },
      """WITH resp(u, body) AS (VALUES
        |  ('http://svc.example/class?t=error',
        |   '{"sev":"high","team":"oncall"}'),
        |  ('http://svc.example/class?t=purchase',
        |   '{"sev":"low","team":"billing"}'),
        |  ('http://svc.example/class?t=signup',
        |   '{"sev":"low","team":"growth"}')),
        |j AS (
        |  SELECT e.event_type,
        |    CASE WHEN r.body IS NULL THEN 'unresolved'
        |         ELSE json_extract_string(r.body, '$.team') END AS team
        |  FROM events e LEFT JOIN resp r
        |    ON 'http://svc.example/class?t=' || e.event_type = r.u)
        |SELECT team, count(*) AS n, count(DISTINCT event_type) AS n_types
        |FROM j GROUP BY 1""".stripMargin),

    // §2.1 stop/omdiscard — anti-filter semantics
    Query("stop_discard", (s, dir) => {
      val ev = synthSyslog(s, dir)
      // `if $syslogseverity >= 5 then stop` → survivors continue
      ev.filter(!(col("severity") >= 5))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    },
      synthSql +
        """ SELECT event_type, count(*) AS n FROM ev
        | WHERE NOT (severity >= 5) GROUP BY 1""".stripMargin),

    // §1.3 comparison-coercion matrix — numeric iff both sides numeric,
    // else strcmp (the 171-test rscript_compare_* corpus semantics)
    Query("rs_coercion", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("numstr", get_json_object(col("props"), "$.k"))
      ev.select(
        col("event_id"),
        rainer.rs_eq(col("numstr"), col("user_id")).as("eq_numstr_num"),
        rainer.rs_le(col("numstr"), lit("50")).as("le_numstr_numstr"),
        rainer.rs_lt(col("event_type"), lit("purchase")).as("lt_str_str"),
        rainer.rs_eq(col("event_type"), col("numstr")).as("eq_str_numstr"),
        rainer.rs_gt(col("numstr"), lit("9")).as("gt_numeric_not_lexico"))
    },
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    json_extract_string(props, '$.k') AS numstr
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN TRY_CAST(numstr AS BIGINT) IS NOT NULL
        |       THEN TRY_CAST(numstr AS BIGINT) = user_id
        |       ELSE numstr = CAST(user_id AS VARCHAR) END AS eq_numstr_num,
        |  CASE WHEN TRY_CAST(numstr AS BIGINT) IS NOT NULL
        |       THEN TRY_CAST(numstr AS BIGINT) <= 50
        |       ELSE numstr <= '50' END AS le_numstr_numstr,
        |  event_type < 'purchase' AS lt_str_str,
        |  event_type = numstr AS eq_str_numstr,
        |  CASE WHEN TRY_CAST(numstr AS BIGINT) IS NOT NULL
        |       THEN TRY_CAST(numstr AS BIGINT) > 9
        |       ELSE numstr > '9' END AS gt_numeric_not_lexico
        |FROM e""".stripMargin),

    // §2.1 foreach over JSON *object* — key/value explode
    Query("foreach_object", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select(col("event_id"),
          explode(from_json(col("props"),
            MapType(StringType, StringType))))
        .withColumnRenamed("key", "k").withColumnRenamed("value", "v")
    },
      """SELECT event_id, k, json_extract_string(props, '$.' || k) AS v
        |FROM (SELECT event_id, props, unnest(json_keys(props)) AS k
        |      FROM events)""".stripMargin),

    // §2.1 ruleset + call + call_indirect + §2.2 IN-array/exists, all
    // oracle-checked: rulesets dispatch by computed name (call_indirect),
    // a routed ruleset nests a plain `call`, unknown names fall through
    // (runtime/ruleset.c:250-294), and the post-dispatch script uses
    // exists($!v) and `== ["a","b"]` IN
    Query("ruleset_call", (s, dir) => {
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        """ruleset(name="audit") { set $!seen = "yes"; }
          |ruleset(name="route_error") { set $!route = "alerts"; call audit }
          |ruleset(name="route_purchase") { set $!route = "billing"; }
          |call_indirect "route_" & $event_type;
          |if not exists($!route) then set $!route = "default";
          |if $event_type == ["view", "signup"] then set $!cls = "funnel";
          |else set $!cls = "other";
          |""".stripMargin)
      val ev = Tables.events(s, dir).select("event_id", "event_type")
      cfg.run(ev).frame.select(
        col("event_id"),
        get_json_object(col("vars_msg"), "$.route").as("route"),
        get_json_object(col("vars_msg"), "$.seen").as("seen"),
        get_json_object(col("vars_msg"), "$.cls").as("cls"))
    },
      // routes: error→alerts (+nested call audit), purchase→billing,
      // click/view/signup→no matching ruleset→default; cls = IN-array test
      """SELECT event_id,
        |  CASE event_type WHEN 'error' THEN 'alerts'
        |    WHEN 'purchase' THEN 'billing' ELSE 'default' END AS route,
        |  CASE WHEN event_type = 'error' THEN 'yes' END AS seen,
        |  CASE WHEN event_type IN ('view', 'signup') THEN 'funnel'
        |    ELSE 'other' END AS cls
        |FROM events""".stripMargin),

    // §2.1 bounded ruleset recursion (rscript_ruleset_call-recursion-
    // limit.sh family): a guarded self-calling ruleset walks $.c up to
    // a data-dependent target — every inlined level carries its own
    // frozen guard, so the recursion is exact as long as the data's
    // depth stays under callNestingLimit (severity ≤ 7 < 16 here)
    Query("ruleset_recursion", (s, dir) => {
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        """ruleset(name="bump") {
          |  set $.c = $.c + 1;
          |  if $.c < $.target then call bump
          |}
          |set $.c = 0;
          |set $.target = $severity;
          |call bump
          |""".stripMargin)
      val ev = synthSyslog(s, dir).select("event_id", "severity")
      cfg.run(ev).output
        .groupBy(get_json_object(col("vars_local"), "$.c").cast("long").as("c"))
        .agg(count(lit(1)).as("n"))
    },
      // trace: c=0; bump sets c=1; guard c < target recurses until c =
      // target — so final c = greatest(severity, 1)
      synthSql +
        """ SELECT greatest(severity, 1) AS c, count(*) AS n
        | FROM ev GROUP BY 1""".stripMargin)
  )
}
