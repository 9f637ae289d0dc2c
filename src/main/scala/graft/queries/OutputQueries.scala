package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.rainer
import graft.operators._
import Synth._

/** Output modules: the om* wire, batch and file shapings (SURVEY §2.10). */
object OutputQueries {

  // shared by omfile_zip and omfile_zstd: the same files, members and
  // round-trips whichever codec writes them
  private[queries] val compressedFileOracle: String =
    """SELECT event_id % 8 AS file,
      |  count(*) AS n_lines,
      |  count(DISTINCT (event_id // 8) % 4) AS n_parts,
      |  CAST(count(DISTINCT (event_id // 8) % 4) AS INT) AS robust_members,
      |  true AS robust_rt,
      |  CAST(1 AS INT) AS plain_members,
      |  true AS plain_rt
      |FROM events GROUP BY 1""".stripMargin

  val queries: Seq[Query] = Seq(
    // §2.10 omelasticsearch bulk shaping: action-metadata line + doc
    // line per record (omelasticsearch.c META_STRT/META_ID), dynamic
    // index from a per-record column (dynSearchIndex)
    Query("es_bulk", (s, dir) => {
      val ev = Tables.events(s, dir)
      val docs = ev.select(col("event_id"),
        concat(lit("logs-"), col("event_type")).as("idx"),
        to_json(struct(col("event_id"), col("event_type"))).as("doc"))
      graft.sources.Sources.esBulkFrame(docs, "idx", "doc",
        idCol = Some("event_id"))
    },
      """SELECT '{"index":{"_index":"logs-' || event_type || '","_id":'
        |  || event_id || '}}' || chr(10) ||
        |  '{"event_id":' || event_id || ',"event_type":"' || event_type
        |  || '"}' AS bulk
        |FROM events""".stripMargin),

    // §2.10 omelasticsearch bulkmode maxbytes packing: byte-capped _bulk
    // request bodies (es-maxbytes-bulk.sh; pairs sized so the 310-byte
    // cap admits exactly 5 fixed-width pairs — the count mirror the
    // oracle can express, same device as awslogs_hlc)
    Query("es_bulk_batches", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("idx", concat(lit("idx"), col("user_id") % 3))
        .withColumn("esid", lpad(col("event_id").cast("string"), 8, "0"))
        .withColumn("doc", concat(lit("{\"n\":\""), col("esid"), lit("\"}")))
      val pairs = graft.sources.Sources.esBulkFrame(ev, "idx", "doc",
        idCol = Some("esid"), keep = Seq("idx", "event_id"))
      graft.sources.Sources.esBulkBatches(pairs, "idx", "event_id",
        maxBytes = 310)
    },
      """WITH p AS (
        |  SELECT event_id, 'idx' || (user_id % 3) AS idx,
        |    '{"index":{"_index":"idx' || (user_id % 3) || '","_id":"' ||
        |      lpad(CAST(event_id AS VARCHAR), 8, '0') || '"}}' || chr(10) ||
        |    '{"n":"' || lpad(CAST(event_id AS VARCHAR), 8, '0') || '"}' AS pair
        |  FROM events),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY idx ORDER BY event_id) - 1 AS rn
        |  FROM p)
        |SELECT idx, rn // 5 AS batch_idx,
        |  string_agg(pair, chr(10) ORDER BY event_id) || chr(10) AS payload,
        |  count(*) AS n_events,
        |  CAST(strlen(string_agg(pair, chr(10) ORDER BY event_id)) + 1
        |    AS BIGINT) AS payload_bytes,
        |  CAST(0 AS BIGINT) AS n_dropped,
        |  min(event_id) AS first_ord, max(event_id) AS last_ord
        |FROM r GROUP BY 1, 2""".stripMargin),

    // §2.10 omfwd octet-counted send framing (runtime/tcpclt.c:196-210):
    // "<len> <msg>" with len the BYTE length of the rendered line — the
    // 'µ' in the prefix makes byte-vs-char length observable
    Query("omfwd_frame", (s, dir) => {
      val ev = Tables.events(s, dir)
      val line = ev.select(col("event_id"),
        concat(lit("<13>host µfwd "), col("event_type"),
          lit(" msgnum:"), lpad(col("event_id"), 8, "0")).as("m"))
      line.select(col("event_id"),
        graft.sources.Sources.frameOctetCounted(col("m")).as("framed"))
    },
      """SELECT event_id,
        |  CAST(strlen(m) AS VARCHAR) || ' ' || m AS framed
        |FROM (SELECT event_id,
        |  '<13>host µfwd ' || event_type || ' msgnum:' ||
        |    lpad(CAST(event_id AS VARCHAR), 8, '0') AS m
        |  FROM events)""".stripMargin),

    // §2.10 omfwd compression.mode="single" (omfwd.c:1782-1807): zlib
    // the wire bytes when > CONF_MIN_SIZE_FOR_COMPRESS (60), 'z'
    // marker, keep only on gain; receive side = imptcp's inflate of the
    // 'z' extension. The deflate bytes themselves are impl-defined, so
    // the oracle checks the DECISION + the engine-side round-trip: the
    // fixture keeps every >60-byte wire clearly compressible (512-byte
    // pad) and every other wire ≤ 60, so `compressed` is closed-form
    Query("omfwd_compress", (s, dir) => {
      val ev = Tables.events(s, dir)
      val wire = when(col("event_id") % 3 === 0,
          concat(lit("<13>h fwd msgnum:"), lpad(col("event_id"), 8, "0")))
        .otherwise(concat(lit("<13>h fwd msgnum:"), lpad(col("event_id"), 8, "0"),
          lit(" "), repeat(lit("pad"), 171)))
      val z = graft.functions.HttpExprs.omfwdZip(wire.cast("binary"))
      ev.select(col("event_id"), wire.as("w"), z.as("z"))
        .select(col("event_id"),
          length(col("w")).as("orig_len"),
          (substring(col("z"), 1, 1) === lit(Array('z'.toByte))).as("compressed"),
          (length(col("z")) < length(col("w"))).as("gain"),
          (graft.functions.HttpExprs.omfwdUnzip(col("z")).cast("string")
            === col("w")).as("roundtrip_ok"))
    },
      """SELECT event_id,
        |  strlen('<13>h fwd msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0'))
        |    + CASE WHEN event_id % 3 = 0 THEN 0 ELSE 514 END AS orig_len,
        |  event_id % 3 <> 0 AS compressed,
        |  event_id % 3 <> 0 AS gain,
        |  true AS roundtrip_ok
        |FROM events""".stripMargin),

    // §2.10 omfile zip output (stream.c doZipWrite → zlibw.c: gzip
    // wrapping via windowBits=31, SYNC_FLUSH per buffer flush) in BOTH
    // reliability modes: veryRobustZip="on" finishes every flushed
    // block into its own gzip member (multi-member file — a torn tail
    // loses only the last member), off = one member with sync-flushed
    // block boundaries. The member walk (header, raw inflate, CRC32
    // trailer — what `gzip -d` checks) is engine-verified; the oracle
    // pins file shape and the closed-form member counts. Blocks model
    // the stream's FLUSH BUFFER (bounded bytes at any corpus size); the
    // whole-file collect here is the verification fixture — production
    // is a partitioned streaming sink appending one member per
    // microbatch flush, never a full-file materialization
    Query("omfile_zip", (s, dir) => {
      import graft.functions.FileZipExprs
      val ev = Tables.events(s, dir)
      val lines = ev.select(col("event_id"),
        (col("event_id") % 8).as("file"),
        ((col("event_id") / 8).cast("long") % 4).cast("int").as("blk"),
        concat(lit("<13>h zf msgnum:"), lpad(col("event_id"), 8, "0"),
          lit("\n")).as("line"))
      val blocks = lines.groupBy(col("file"), col("blk"))
        .agg(count(lit(1)).as("n"),
          concat_ws("", sort_array(collect_list(
            struct(col("event_id"), col("line")))).getField("line")).as("part"))
      val parts = sort_array(collect_list(struct(col("blk"), col("part"))))
        .getField("part")
      val files = blocks.groupBy(col("file"))
        .agg(sum(col("n")).as("n_lines"), count(lit(1)).as("n_parts"),
          FileZipExprs.omfileZip(parts.cast("array<binary>"), 6,
            veryRobust = true).as("robust"),
          FileZipExprs.omfileZip(parts.cast("array<binary>"), 6,
            veryRobust = false).as("plain"),
          concat_ws("", parts).as("expected"))
        .select(col("file"), col("n_lines"), col("n_parts"),
          FileZipExprs.gzipMembers(col("robust")).as("r"),
          FileZipExprs.gzipMembers(col("plain")).as("p"),
          col("expected"))
      files.select(col("file"), col("n_lines"), col("n_parts"),
        col("r").getField("members").as("robust_members"),
        (col("r").getField("decoded").cast("string") === col("expected"))
          .as("robust_rt"),
        col("p").getField("members").as("plain_members"),
        (col("p").getField("decoded").cast("string") === col("expected"))
          .as("plain_rt"))
    },
      compressedFileOracle),

    // §2.10 the zstd compression driver (runtime/zstdw.c, selected by
    // compressionDriver="zstd"): same block/flush contract as the zlib
    // writer — veryRobust = one complete zstd FRAME per flushed block,
    // otherwise ZSTD_e_flush boundaries inside one frame, e_end at
    // close. Frame walk via findFrameCompressedSize is engine-verified;
    // the codec is Spark's own zstd-jni, no stub
    Query("omfile_zstd", (s, dir) => {
      import graft.functions.FileZipExprs
      val ev = Tables.events(s, dir)
      val lines = ev.select(col("event_id"),
        (col("event_id") % 8).as("file"),
        ((col("event_id") / 8).cast("long") % 4).cast("int").as("blk"),
        concat(lit("<13>h zs msgnum:"), lpad(col("event_id"), 8, "0"),
          lit("\n")).as("line"))
      val blocks = lines.groupBy(col("file"), col("blk"))
        .agg(count(lit(1)).as("n"),
          concat_ws("", sort_array(collect_list(
            struct(col("event_id"), col("line")))).getField("line")).as("part"))
      val parts = sort_array(collect_list(struct(col("blk"), col("part"))))
        .getField("part")
      val files = blocks.groupBy(col("file"))
        .agg(sum(col("n")).as("n_lines"), count(lit(1)).as("n_parts"),
          FileZipExprs.omfileZstd(parts.cast("array<binary>"), 3,
            veryRobust = true).as("robust"),
          FileZipExprs.omfileZstd(parts.cast("array<binary>"), 3,
            veryRobust = false).as("plain"),
          concat_ws("", parts).as("expected"))
        .select(col("file"), col("n_lines"), col("n_parts"),
          FileZipExprs.zstdFrames(col("robust")).as("r"),
          FileZipExprs.zstdFrames(col("plain")).as("p"),
          col("expected"))
      files.select(col("file"), col("n_lines"), col("n_parts"),
        col("r").getField("members").as("robust_members"),
        (col("r").getField("decoded").cast("string") === col("expected"))
          .as("robust_rt"),
        col("p").getField("members").as("plain_members"),
        (col("p").getField("decoded").cast("string") === col("expected"))
          .as("plain_rt"))
    },
      // the deflate BYTES are impl-defined, so the oracle pins the
      // closed-form compress decision; roundtrip/gain are engine-verified
      // booleans (same contract as imhttp_body's gzip rows)
      // file shape + member counts closed-form (robust = one member per
      // flushed block, plain = one member total); decode equality and the
      // CRC-checked member walk are engine-verified
      compressedFileOracle),

    // §2.10 omfwd compression.mode="stream:always" + imptcp receive
    // (omfwd.c:1204-1310, imptcp.c:1376-1460): one zlib stream per
    // 64-msg session, SYNC_FLUSH at each 16-msg transaction end, finish
    // at close; the receiver inflates incrementally and the AUTO-mode
    // sniff classifies the session's first two bytes (RFC 1950 check
    // bits). Deflate bytes are impl-defined, so the oracle pins session
    // shape while round-trip/sniff are engine-verified booleans
    Query("omfwd_zipstream", (s, dir) => {
      val ev = Tables.events(s, dir)
      val framed = ev.select(col("event_id"),
        (col("event_id") / 64).cast("long").as("session"),
        ((col("event_id") % 64) / 16).cast("int").as("tx"),
        graft.sources.Sources.frameOctetCounted(
          concat(lit("<13>h fwdz msgnum:"), lpad(col("event_id"), 8, "0"),
            lit(" t="), col("event_type"))).as("frame"))
      val txs = framed
        .groupBy(col("session"), col("tx"))
        .agg(count(lit(1)).as("n"),
          concat_ws("", sort_array(collect_list(
            struct(col("event_id"), col("frame")))).getField("frame"))
            .as("payload"))
      val z = txs
        .groupBy(col("session"))
        .agg(sum(col("n")).as("n_msgs"),
          graft.functions.HttpExprs.omfwdZipStream(
            sort_array(collect_list(struct(col("tx"), col("payload"))))
              .getField("payload").cast("array<binary>")).as("z"),
          concat_ws("", sort_array(collect_list(
            struct(col("tx"), col("payload")))).getField("payload"))
            .as("expected"))
      z.select(col("session"), col("n_msgs"),
        (graft.functions.HttpExprs.imptcpInflateStream(col("z")).cast("string")
          === col("expected")).as("roundtrip_ok"),
        graft.functions.HttpExprs.zlibSniff(col("z")).as("zlib_detected"),
        graft.functions.HttpExprs.zlibSniff(col("expected").cast("binary"))
          .as("plain_detected"))
    },
      // session shape closed-form; round-trip and the deflate-side sniff
      // are engine-verified. plain_detected is COMPUTED from the first
      // frame's rendered octet-count header (not pinned false): a digit
      // CAN pass both RFC1950 checks — '8'(0x38) has low nibble 8 and
      // 0x3830 = 14384 = 31*464 — so a session whose first frame length
      // starts "80" would legitimately sniff as zlib. The oracle mirrors
      // HttpKernels.zlibCandidate over the first two header bytes.
      """WITH s AS (
        |  SELECT event_id // 64 AS session, count(*) AS n_msgs,
        |    CAST(29 + strlen(arg_min(event_type, event_id)) AS VARCHAR)
        |      || ' ' AS hdr
        |  FROM events GROUP BY 1)
        |SELECT session, n_msgs,
        |  true AS roundtrip_ok,
        |  true AS zlib_detected,
        |  (ord(substr(hdr, 1, 1)) % 16 = 8
        |   AND (ord(substr(hdr, 1, 1)) * 256 + ord(substr(hdr, 2, 1))) % 31
        |     = 0) AS plain_detected
        |FROM s""".stripMargin),

    // §2.10 omfwd target POOL load balancing (omfwd.c:1883-1901): a
    // static 3-target pool with the middle target down — active members
    // round-robin in pool order per worker (closed form pinned by
    // PackerPropertySpec against a simulation of the reference's
    // counter loop); worker = event_id residue, seq = quotient, same
    // arithmetic fixture as eventhubs_message
    Query("omfwd_pool", (s, dir) => {
      val ev = Tables.events(s, dir)
      val m = concat(lit("<13>h omfwd msgnum:"), lpad(col("event_id"), 8, "0"))
      ev.select(col("event_id"),
        graft.sources.Sources.omfwdPoolTarget(expr("event_id div 4"),
          Seq(("siteA", 514), ("siteB", 514), ("siteC", 10514)),
          Seq(true, false, true)).as("target"),
        graft.sources.Sources.frameOctetCounted(m).as("framed"))
    },
      """SELECT event_id,
        |  CASE (event_id // 4) % 2 WHEN 0 THEN 'siteA:514'
        |       ELSE 'siteC:10514' END AS target,
        |  CAST(strlen(m) AS VARCHAR) || ' ' || m AS framed
        |FROM (SELECT event_id,
        |  '<13>h omfwd msgnum:' ||
        |    lpad(CAST(event_id AS VARCHAR), 8, '0') AS m
        |  FROM events)""".stripMargin),

    // §2.10/§2.7 omfwd per-target pool stats (omfwd.c:2089-2117): one
    // statsobj per pool member named "TCP-<host>-<port>" origin=omfwd
    // with messages.sent / bytes.sent counters — one map-side-combinable
    // groupBy over the assignment
    Query("omfwd_pool_stats", (s, dir) => {
      val ev = Tables.events(s, dir)
      val m = concat(lit("<13>h omfwd msgnum:"), lpad(col("event_id"), 8, "0"))
      ev.select(
          graft.sources.Sources.omfwdPoolTarget(expr("event_id div 4"),
            Seq(("siteA", 514), ("siteB", 514), ("siteC", 10514)),
            Seq(true, false, true)).as("tgt"),
          graft.sources.Sources.frameOctetCounted(m).as("framed"))
        .groupBy(col("tgt"))
        .agg(count(lit(1)).as("messages_sent"),
          sum(octet_length(col("framed"))).as("bytes_sent"))
        .select(
          concat(lit("TCP-"), regexp_replace(col("tgt"), ":", "-")).as("stat_name"),
          lit("omfwd").as("origin"),
          col("messages_sent"), col("bytes_sent"))
    },
      """WITH a AS (
        |  SELECT CASE (event_id // 4) % 2 WHEN 0 THEN 'TCP-siteA-514'
        |           ELSE 'TCP-siteC-10514' END AS stat_name,
        |    strlen(CAST(strlen(m) AS VARCHAR) || ' ' || m) AS blen
        |  FROM (SELECT event_id,
        |    '<13>h omfwd msgnum:' ||
        |      lpad(CAST(event_id AS VARCHAR), 8, '0') AS m
        |    FROM events))
        |SELECT stat_name, 'omfwd' AS origin,
        |  count(*) AS messages_sent,
        |  CAST(SUM(blen) AS BIGINT) AS bytes_sent
        |FROM a GROUP BY 1""".stripMargin),

    // §2.10 ommysql/ompgsql: the stock " StdDBFmt" / " StdPgSQLFmt"
    // INSERT renders (rsconf.c:223-233) through the registry with their
    // template-level SQL / STDSQL escapes — msg carries a quote and a
    // backslash so both escape dialects are load-bearing
    Query("omdb_insert", (s, dir) => {
      val cfg = graft.rainerscript.RsyslogConfig.parse("")
      val ev = synthSyslog(s, dir)
        .withColumn("syslogtag",
          concat(col("event_type"), lit("["), col("event_id"), lit("]")))
        .withColumn("msg", concat(lit("it's a b\\s "), col("event_type")))
      ev.select(col("event_id"),
        cfg.renderTemplate(" StdDBFmt", n => col(n)).as("mysql_stmt"),
        cfg.renderTemplate(" StdPgSQLFmt", n => col(n)).as("pgsql_stmt"))
    },
      synthSql +
        """ SELECT event_id,
        |  'insert into SystemEvents (Message, Facility, FromHost, ' ||
        |  'Priority, DeviceReportedTime, ReceivedAt, InfoUnitID, ' ||
        |  'SysLogTag) values (''' ||
        |  replace(replace(msg, '\', '\\'), '''', '\''') || ''', ' ||
        |  facility || ', ''' || hostname || ''', ' || severity ||
        |  ', ''' || strftime(ts, '%Y%m%d%H%M%S') || ''', ''' ||
        |  strftime(ts, '%Y%m%d%H%M%S') || ''', 1, ''' || syslogtag ||
        |  ''')' AS mysql_stmt,
        |  'insert into SystemEvents (Message, Facility, FromHost, ' ||
        |  'Priority, DeviceReportedTime, ReceivedAt, InfoUnitID, ' ||
        |  'SysLogTag) values (''' ||
        |  replace(msg, '''', '''''') || ''', ' ||
        |  facility || ', ''' || hostname || ''', ' || severity ||
        |  ', ''' || strftime(ts, '%Y-%m-%d %H:%M:%S') || ''', ''' ||
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') || ''', 1, ''' || syslogtag ||
        |  ''')' AS pgsql_stmt
        | FROM (SELECT *, 'it''s a b\s ' || event_type AS msg FROM ev)""".stripMargin),

    // §2.10 omhiredis — per-mode Redis command shaping
    // (contrib/omhiredis writeHiredis); the hiredis pipeline/AUTH is
    // the foreachBatch transport half
    Query("omhiredis_cmd", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val msg = concat(lit("msgnum:"), lpad(col("event_id"), 8, "0"))
      ev.select(col("event_id"),
        graft.sources.Sources.hiredisCommand(msg, "queue",
          lit("syslog_q")).as("cmd_queue"),
        graft.sources.Sources.hiredisCommand(msg, "queue",
          lit("syslog_q"), useRPush = true).as("cmd_rpush"),
        graft.sources.Sources.hiredisCommand(msg, "publish",
          col("hostname")).as("cmd_publish"),
        graft.sources.Sources.hiredisCommand(msg, "set",
          concat(lit("k"), col("event_id")), expiration = 300).as("cmd_setex"),
        graft.sources.Sources.hiredisCommand(msg, "stream",
          lit("st"), streamCapacityLimit = 100000).as("cmd_xadd"))
    },
      synthSql +
        """ SELECT event_id,
        |  'LPUSH syslog_q ' || m AS cmd_queue,
        |  'RPUSH syslog_q ' || m AS cmd_rpush,
        |  'PUBLISH ' || hostname || ' ' || m AS cmd_publish,
        |  'SETEX k' || event_id || ' 300 ' || m AS cmd_setex,
        |  'XADD st MAXLEN ~ 100000 * msg ' || m AS cmd_xadd
        | FROM (SELECT *,
        |   'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS m
        |   FROM ev)""".stripMargin),

    // §2.10 omrabbitmq — AMQP publish shaping with populated properties
    // (omrabbitmq.c doAction property mapping); routing key computed
    // per message like routing_key_template
    Query("amqp_publish", (s, dir) => {
      val facNames = array(Seq("kern", "user", "mail", "daemon", "auth",
        "syslog", "lpr", "news", "uucp", "cron", "authpriv", "ftp", "ntp",
        "audit", "alert", "clock", "local0", "local1", "local2",
        "local3", "local4", "local5", "local6", "local7").map(lit): _*)
      val sevNames = array(Seq("emerg", "alert", "crit", "err", "warning",
        "notice", "info", "debug").map(lit): _*)
      val ev = synthSyslog(s, dir)
        .withColumn("syslogtag",
          concat(col("event_type"), lit("["), col("event_id"), lit("]")))
        .withColumn("msg", concat(lit("msgnum:"), lpad(col("event_id"), 8, "0")))
      graft.sources.Sources.rabbitPublishFrame(ev,
        exchange = "syslog",
        routingKey = concat(element_at(facNames, col("facility") + 1),
          lit("."), element_at(sevNames, col("severity") + 1)),
        bodyCol = col("msg"), contentType = "text/plain",
        populateProperties = true,
        facilityTextCol = element_at(facNames, col("facility") + 1),
        severityTextCol = element_at(sevNames, col("severity") + 1),
        hostnameCol = col("hostname"), fromhostCol = col("hostname"))
        .select(col("event_id"), col("amqp_publish"),
          // deep probes INTO the nested properties/headers objects (the
          // anti-stringification pattern, see omotel_export)
          get_json_object(col("amqp_publish"), "$.properties.headers.severity")
            .as("probe_sev"),
          get_json_object(col("amqp_publish"), "$.properties.delivery_mode")
            .cast("long").as("probe_dmode"),
          get_json_object(col("amqp_publish"), "$.routing_key")
            .as("probe_rk"))
    },
      synthSql +
        """, names AS (
        |  SELECT *,
        |    ['kern','user','mail','daemon','auth','syslog','lpr','news',
        |     'uucp','cron','authpriv','ftp','ntp','audit','alert','clock',
        |     'local0','local1','local2','local3','local4','local5',
        |     'local6','local7'][facility + 1] AS fac_t,
        |    ['emerg','alert','crit','err','warning','notice','info',
        |     'debug'][severity + 1] AS sev_t,
        |    'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS m
        |  FROM ev)
        | SELECT event_id,
        |  '{"exchange":"syslog","routing_key":"' || fac_t || '.' || sev_t ||
        |  '","properties":{"content_type":"text/plain","delivery_mode":2,' ||
        |  '"timestamp":' || epoch_ns(ts) // 1000000000 ||
        |  ',"app_id":"' || syslogtag ||
        |  '","headers":{"facility":"' || fac_t ||
        |  '","severity":"' || sev_t ||
        |  '","hostname":"' || hostname ||
        |  '","fromhost":"' || hostname ||
        |  '"}},"body":"' || m || '"}' AS amqp_publish,
        |  sev_t AS probe_sev,
        |  2 AS probe_dmode,
        |  fac_t || '.' || sev_t AS probe_rk
        | FROM names""".stripMargin),

    // §2.10 omczmq — PUB socket topic fan-out: one row per
    // (message, topic), [topic, msg] frame pair (topicFrame=on)
    Query("czmq_pub", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val msg = concat(lit("msgnum:"), lpad(col("event_id"), 8, "0"))
      graft.sources.Sources.czmqFrames(
        ev.select(col("event_id"), msg.as("m")), col("m"),
        Seq(lit("syslog.all"), concat(lit("syslog.sev"), col("event_id") % 8)))
        .select(col("event_id"),
          element_at(col("frames"), 1).as("topic"),
          element_at(col("frames"), 2).as("payload"),
          // deep probes on the FRAME ARRAY itself: a layout change (e.g.
          // topic+msg collapsed into one frame) flips n_frames and breaks
          // the wire image, where the element-1/2 probes alone would
          // just read nulls that an authored oracle could mirror
          size(col("frames")).as("n_frames"),
          concat_ws("\u0001", col("frames")).as("frames_wire"))
    },
      synthSql +
        """ SELECT event_id, topic, payload,
        |   2 AS n_frames,
        |   topic || chr(1) || payload AS frames_wire
        | FROM (
        |   SELECT event_id, 'syslog.all' AS topic,
        |     'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS payload
        |   FROM ev
        |   UNION ALL
        |   SELECT event_id, 'syslog.sev' || (event_id % 8),
        |     'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0')
        |   FROM ev)""".stripMargin),

    // §2.10 omawslogshlc — CloudWatch Logs HLC event shaping + greedy
    // request packing (appendEvent's escape table + %.6f time, the
    // max_batch_size=100 count cap; byte caps exercised in CloudSinkSpec)
    Query("awslogs_hlc", (s, dir) => {
      val ev = Tables.events(s, dir)
      val src = ev.select(
        col("event_id"),
        concat(lit("stream"), col("user_id") % 3).as("k"),
        when(col("event_id") % 101 === 0, lit(""))
          .otherwise(concat(lit("app \"x\"\tline1\nmsg:"), col("event_id"),
            lit(" t="), col("event_type"))).as("m"),
        concat(lit("host"), col("user_id") % 5).as("h"),
        col("ts"))
      val events = src.withColumn("ev_json",
        graft.sources.CloudSinks.awsHlcEvent(col("m"), col("ts"), col("h")))
      graft.sources.CloudSinks.awsHlcBatches(events, "k", "event_id",
        "ev_json", maxBatchSize = 100)
        // deep probe INTO the packed payload (anti-stringification): the
        // first concatenated event must PARSE as JSON and its unescaped
        // fields must round-trip — the oracle recomputes both from the
        // first_ord source row, so a payload whose events were escaped a
        // second time (or never escaped) hash-mismatches here. The
        // events carry no '}' in their text, so the first object is the
        // prefix up to the first '}'.
        .withColumn("probe_msg", get_json_object(
          concat(substring_index(col("payload"), "}", 1), lit("}")),
          "$.event"))
        .withColumn("probe_host", get_json_object(
          concat(substring_index(col("payload"), "}", 1), lit("}")),
          "$.host"))
    },
      """WITH src AS (
        |  SELECT event_id, ts,
        |    'stream' || (user_id % 3) AS k,
        |    CASE WHEN event_id % 101 = 0 THEN '(empty)'
        |         ELSE 'app "x"' || chr(9) || 'line1' || chr(10) || 'msg:' ||
        |           event_id || ' t=' || event_type
        |    END AS raw,
        |    CASE WHEN event_id % 101 = 0 THEN '(empty)'
        |         ELSE replace(replace(replace(
        |           'app "x"' || chr(9) || 'line1' || chr(10) || 'msg:' ||
        |             event_id || ' t=' || event_type,
        |           '"', '\"'), chr(9), '\t'), chr(10), '\n')
        |    END AS esc,
        |    'host' || (user_id % 5) AS h
        |  FROM events),
        |e AS (
        |  SELECT event_id, k, raw, h,
        |    '{"event":"' || esc || '","time":' ||
        |    CAST(epoch_ns(ts)//1000000000 AS VARCHAR) || '.' ||
        |    lpad(CAST((epoch_ns(ts)//1000) % 1000000 AS VARCHAR), 6, '0') ||
        |    ',"host":"' || h || '","source":"rsyslog"}' AS ev_json
        |  FROM src),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY k ORDER BY event_id) - 1 AS rn
        |  FROM e)
        |SELECT k, rn // 100 AS batch_idx,
        |  string_agg(ev_json, '' ORDER BY event_id) AS payload,
        |  count(*) AS n_events,
        |  CAST(strlen(string_agg(ev_json, '' ORDER BY event_id))
        |    AS BIGINT) AS payload_bytes,
        |  CAST(0 AS BIGINT) AS n_dropped,
        |  min(event_id) AS first_ord, max(event_id) AS last_ord,
        |  arg_min(raw, event_id) AS probe_msg,
        |  arg_min(h, event_id) AS probe_host
        |FROM r GROUP BY 1, 2""".stripMargin),

    // §2.10 omazuredce — DCE record validation + json-c PLAIN compaction
    // (buildRecordJson: object-or-error, trailing garbage rejected) and
    // the ingestion-URL grammar; array batching shares the oracled
    // greedy packer (CloudSinkSpec covers its byte-cap face)
    Query("azure_dce", (s, dir) => {
      val ev = Tables.events(s, dir)
      val id = col("event_id")
      val m = when(id % 97 === 0,
          concat(lit("{\"id\":"), id, lit("} trailing")))   // trailing garbage
        .when(id % 89 === 0, concat(lit("["), id, lit(",2]"))) // non-object
        .when(id % 5 === 0, concat(lit("{ \"id\": "), id,      // spaced form
          lit(", \"t\": \""), col("event_type"), lit("\" }")))
        .otherwise(concat(lit("{\"id\":"), id, lit(",\"t\":\""),
          col("event_type"), lit("\",\"sev\":"), id % 8, lit("}")))
      ev.select(id,
        graft.sources.CloudSinks.azureDceRecord(m).as("record"),
        lit(graft.sources.CloudSinks.azureDceUrl(
          "https://dce-abc.eastus-1.ingest.monitor.azure.com",
          "dcr-000111", "Custom-Syslog_CL")).as("url"))
        // deep probe INTO the compacted record (anti-stringification)
        .withColumn("probe_t", get_json_object(col("record"), "$.t"))
    },
      """SELECT event_id,
        |  CASE WHEN event_id % 97 = 0 THEN NULL
        |       WHEN event_id % 89 = 0 THEN NULL
        |       WHEN event_id % 5 = 0
        |         THEN '{"id":' || event_id || ',"t":"' || event_type || '"}'
        |       ELSE '{"id":' || event_id || ',"t":"' || event_type ||
        |            '","sev":' || (event_id % 8) || '}'
        |  END AS record,
        |  'https://dce-abc.eastus-1.ingest.monitor.azure.com/dataCollectionRules/dcr-000111/streams/Custom-Syslog_CL?api-version=2023-01-01' AS url,
        |  CASE WHEN event_id % 97 = 0 OR event_id % 89 = 0 THEN NULL
        |       ELSE event_type END AS probe_t
        |FROM events""".stripMargin),

    // §2.10 omazuredce array batching: records comma-joined inside ONE
    // JSON array per request (batchBuf '['…']'), with a deep probe that
    // element 0 of the packed payload is a live OBJECT — `$[0].id`
    // extracts a field through the array, which returns null if the
    // packer had embedded records as escaped strings
    Query("azure_dce_pack", (s, dir) => {
      val ev = Tables.events(s, dir)
      val id = col("event_id")
      val m = when(id % 97 === 0,
          concat(lit("{\"id\":"), id, lit("} trailing")))   // dropped: garbage
        .when(id % 89 === 0, concat(lit("["), id, lit(",2]"))) // dropped
        .otherwise(concat(lit("{\"id\":"), id, lit(",\"t\":\""),
          col("event_type"), lit("\"}")))
      val recs = ev.select(id.as("event_id"),
        (id % 50).cast("string").as("k"),
        graft.sources.CloudSinks.azureDceRecord(m).as("rec"))
      graft.sources.CloudSinks.azureDceBatches(recs, "k", "event_id", "rec")
        .withColumn("probe_id0",
          get_json_object(col("payload"), "$[0].id").cast("long"))
        .withColumn("probe_t0", get_json_object(col("payload"), "$[0].t"))
    },
      """WITH recs AS (
        |  SELECT event_id, CAST(event_id % 50 AS VARCHAR) AS k, event_type,
        |    CASE WHEN event_id % 97 = 0 OR event_id % 89 = 0 THEN NULL
        |         ELSE '{"id":' || event_id || ',"t":"' || event_type || '"}'
        |    END AS rec
        |  FROM events),
        |nn AS (SELECT * FROM recs WHERE rec IS NOT NULL)
        |SELECT k, CAST(0 AS BIGINT) AS batch_idx,
        |  '[' || string_agg(rec, ',' ORDER BY event_id) || ']' AS payload,
        |  count(*) AS n_events,
        |  CAST(strlen('[' || string_agg(rec, ',' ORDER BY event_id) || ']')
        |    AS BIGINT) AS payload_bytes,
        |  CAST(0 AS BIGINT) AS n_dropped,
        |  min(event_id) AS first_ord, max(event_id) AS last_ord,
        |  min(event_id) AS probe_id0,
        |  arg_min(event_type, event_id) AS probe_t0
        |FROM nn GROUP BY 1""".stripMargin),

    // §2.10 omazureeventhubs — AMQP 1.0 message shaping: binary body,
    // per-worker decimal message id, static eventproperties map,
    // ms-epoch creation time (proton_encode_message)
    Query("eventhubs_message", (s, dir) => {
      val ev = synthSyslog(s, dir)
      // 32 workers, worker/seq derived ARITHMETICALLY from the event id
      // (residue class = worker, quotient = that worker's send sequence):
      // the omazureeventhubs contract needs a per-connection monotone
      // decimal message_id, not any particular numbering, so the closed
      // form replaces the former per-worker row_number window — no
      // window, no sort, no shuffle at any scale (the window's partition
      // count capped sort parallelism at #workers: 10M sf1 rows through
      // 32 sort partitions was the round-9 worst-5 entry)
      val worker = (col("event_id") % 32).cast("int")
      val seq = expr("event_id div 32")
      val src = ev.select(col("event_id"), col("rawmsg"), col("ts"),
        worker.as("worker"), seq.as("seq"))
      graft.sources.CloudSinks.eventHubsMessage(src, col("rawmsg"),
        col("seq"), col("ts"),
        "amqps://graft-ns.servicebus.windows.net/hub1",
        Seq("Table" -> "syslog", "Format" -> "raw"))
        .select(col("event_id"), col("worker"), col("amqp_message"),
          get_json_object(col("amqp_message"), "$.message_id").as("probe_id"),
          get_json_object(col("amqp_message"), "$.properties.Table")
            .as("probe_table"),
          get_json_object(col("amqp_message"), "$.creation_time")
            .cast("long").as("probe_ctime"))
    },
      synthSql +
        """, r AS (
        |  SELECT event_id, CAST(event_id % 32 AS INT) AS worker, ts,
        |    '<' || (facility * 8 + severity) || '>' ||
        |    strftime(CAST(ts AS TIMESTAMP), '%b') || ' ' ||
        |    lpad(CAST(day(ts) AS VARCHAR), 2, ' ') || ' ' ||
        |    strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S') || ' ' ||
        |    hostname || ' ' || syslogtag || ': ' ||
        |    'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') ||
        |    ': v100=' || v100 AS rawmsg,
        |    event_id // 32 AS seq
        |  FROM ev)
        |SELECT event_id, worker,
        |  '{"address":"amqps://graft-ns.servicebus.windows.net/hub1","message_id":"'
        |    || seq ||
        |    '","content_type":"application/octet-stream","inferred":true,"creation_time":'
        |    || (epoch_ns(ts)//1000000) ||
        |    ',"properties":{"Table":"syslog","Format":"raw"},"body":"' ||
        |    rawmsg || '"}' AS amqp_message,
        |  CAST(seq AS VARCHAR) AS probe_id,
        |  'syslog' AS probe_table,
        |  epoch_ns(ts)//1000000 AS probe_ctime
        |FROM r""".stripMargin),

    // §2.10 omhttpfs — WebHDFS request shaping: the append/create URL
    // pair the retry ladder walks, dynafile path per message
    Query("omhttpfs_req", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val file = concat(lit("logs/"), col("hostname"), lit("/"),
        col("event_type"), lit(".log"))
      graft.sources.CloudSinks.httpfsRequests(
        ev.select(col("event_id"), col("hostname"), col("event_type"),
          col("rawmsg"), file.as("file")),
        col("file"), col("rawmsg"), host = "hdfs1", port = 14000,
        https = false, user = "rsyslog")
        .select(col("event_id"), col("url_append"), col("url_create"),
          col("hdfs_body"))
    },
      synthSql +
        """ SELECT event_id,
        |  'http://hdfs1:14000/webhdfs/v1/logs/' || hostname || '/' ||
        |    event_type || '.log?user.name=rsyslog&op=append&data=true'
        |    AS url_append,
        |  'http://hdfs1:14000/webhdfs/v1/logs/' || hostname || '/' ||
        |    event_type || '.log?user.name=rsyslog&op=create&overwrite=false&data=true'
        |    AS url_create,
        |  '<' || (facility * 8 + severity) || '>' ||
        |  strftime(CAST(ts AS TIMESTAMP), '%b') || ' ' ||
        |  lpad(CAST(day(ts) AS VARCHAR), 2, ' ') || ' ' ||
        |  strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S') || ' ' ||
        |  hostname || ' ' || syslogtag || ': ' ||
        |  'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') ||
        |  ': v100=' || v100 AS hdfs_body
        | FROM ev""".stripMargin),

    // §2.10 omhttp kafkarest batch shaping (omhttp.c:1627-1688): one
    // output row per batch, unparseable messages dropped by the JSON
    // formats (fjson_tokener_parse NULL → continue; every 97th message
    // here is malformed)
    Query("omhttp_batch", (s, dir) => {
      val ev = Tables.events(s, dir)
      val msgs = ev.select(col("event_id"),
        floor(col("event_id") / 1000).cast("long").as("batch_id"),
        when(col("event_id") % 97 === 0, lit("{oops"))
          .otherwise(concat(lit("{\"id\":"), col("event_id"),
            lit(",\"t\":\""), col("event_type"), lit("\"}"))).as("m"))
      graft.sources.Sources.omhttpBatch(msgs, "m", "batch_id", "event_id",
        "kafkarest")
    },
      """SELECT event_id // 1000 AS batch_id,
        |  '{"records":[' ||
        |  coalesce(string_agg('{"value":' || m || '}', ',' ORDER BY event_id)
        |    FILTER (WHERE json_valid(m)), '') || ']}' AS batch
        |FROM (SELECT event_id,
        |  CASE WHEN event_id % 97 = 0 THEN '{oops'
        |       ELSE '{"id":' || event_id || ',"t":"' || event_type || '"}'
        |  END AS m FROM events)
        |GROUP BY 1""".stripMargin),

    // §2.10 omhttp retry.ruleset requeue (queueBatchOnRetryRuleset
    // :1061-1106): records of a failed batch re-enter as fresh messages
    // (rawmsg = rendered record, TAG omhttp-retry) carrying
    // $!omhttp!response{code,body,batch_index}; a deterministic
    // event_id%7 slice plays the 503'd batch, the probe reads the code
    // back through the JSON tree
    Query("omhttp_retry", (s, dir) => {
      val ev = Tables.events(s, dir)
      val rec = concat(lit("{\"id\":"), col("event_id"),
        lit(",\"t\":\""), col("event_type"), lit("\"}"))
      val failed = ev.filter(col("event_id") % 7 === 0)
      graft.sources.Sources.omhttpRetryMessages(failed, rec,
          code = lit(503), body = lit("{\"error\":\"service unavailable\"}"),
          batchIndex = col("event_id") % 4)
        .select(col("event_id"), col("rawmsg"), col("msg"),
          col("syslogtag"), col("vars_msg"),
          get_json_object(col("vars_msg"), "$.omhttp.response.code")
            .cast("int").as("probe_code"),
          get_json_object(col("vars_msg"), "$.omhttp.response.batch_index")
            .cast("int").as("probe_idx"))
    },
      """SELECT event_id, rec AS rawmsg, rec AS msg,
        |  'omhttp-retry' AS syslogtag,
        |  '{"omhttp":{"response":{"code":503,"body":' ||
        |  '"{\"error\":\"service unavailable\"}"' ||
        |  ',"batch_index":' || (event_id % 4) || '}}}' AS vars_msg,
        |  503 AS probe_code,
        |  CAST(event_id % 4 AS INT) AS probe_idx
        |FROM (SELECT event_id,
        |  '{"id":' || event_id || ',"t":"' || event_type || '"}' AS rec
        |  FROM events WHERE event_id % 7 = 0)""".stripMargin),

    // §2.10 omotel OTLP/HTTP JSON export shaping (plugins/omotel/
    // otlp_json.c omotel_json_build_export): per-batch payloads with the
    // syslog→OTLP severity lookup (omotel.c:498-500), proto3-JSON string
    // timestamps, hex-validated trace/span correlation
    // (omotel.c:1347-1380), the ordered log.syslog.* attribute block,
    // and host.name lifted to resource level only when the whole payload
    // is single-host (otlp_json.c:341-368)
    Query("omotel_export", (s, dir) => {
      val ev = Tables.events(s, dir)
      val src = ev.select(
        col("event_id"),
        (col("user_id") % 7).cast("int").as("batch_id"),
        concat(lit("host"), col("user_id") % 5).as("host"),
        col("event_type").as("app"),
        (col("event_id") % 100).cast("string").as("procid"),
        when(col("event_id") % 4 === 0,
          concat(lit("m"), col("event_id") % 10)).as("msgid"),
        (col("user_id") % 24).cast("int").as("facility"),
        (col("event_id") % 8).cast("int").as("severity"),
        col("ts"),
        concat(lit("msgnum:"), col("event_id")).as("body"),
        when(col("event_id") % 5 === 0, md5(col("event_id").cast("string")))
          .when(col("event_id") % 5 === 1, lit("zznotvalid")).as("trace_id"),
        when(col("event_id") % 3 === 0,
          substring(md5(concat(lit("s"), col("event_id"))), 1, 16))
          .as("span_id"))
      val out = graft.sources.Sources.omotelExport(src, "body", "host", "app",
        "procid", "msgid", "facility", "severity", "ts", None,
        "batch_id", "event_id", maxItems = 50,
        traceIdCol = Some("trace_id"), spanIdCol = Some("span_id"))
      // deep probes: JSON-path INTO the rendered payload, so a nested
      // object accidentally rendered as an escaped string (the imdocker
      // Labels failure mode) comes back null here instead of hiding
      // behind a whole-payload hash that was authored to match
      val rec0 = "$.resourceLogs[0].scopeLogs[0].logRecords[0]"
      out.withColumn("probe_body",
          get_json_object(col("payload"), s"$rec0.body.stringValue"))
        .withColumn("probe_sev",
          get_json_object(col("payload"), s"$rec0.severityNumber").cast("long"))
        .withColumn("probe_attr0_key",
          get_json_object(col("payload"), s"$rec0.attributes[0].key"))
        .withColumn("probe_res_attr0",
          get_json_object(col("payload"),
            "$.resourceLogs[0].resource.attributes[0].value.stringValue"))
    },
      """WITH src AS (
        |  SELECT event_id,
        |    CAST(user_id % 7 AS INT) AS batch_id,
        |    'host' || (user_id % 5) AS host,
        |    event_type AS app,
        |    CAST(event_id % 100 AS VARCHAR) AS procid,
        |    CASE WHEN event_id % 4 = 0 THEN 'm' || (event_id % 10) END AS msgid,
        |    CAST(user_id % 24 AS INT) AS facility,
        |    CAST(event_id % 8 AS INT) AS severity,
        |    ts, 'msgnum:' || event_id AS body,
        |    row_number() OVER (PARTITION BY user_id % 7 ORDER BY event_id) AS rn
        |  FROM events),
        |recs AS (
        |  SELECT *, (rn - 1) // 50 AS chunk,
        |    '{ "timeUnixNano": "' || CAST((epoch_ns(ts) // 1000) * 1000 AS VARCHAR) ||
        |    '", "severityNumber": ' || ([24,23,22,17,13,11,9,5][severity + 1]) ||
        |    ', "severityText": "' ||
        |    (['EMERGENCY','ALERT','CRITICAL','ERROR','WARNING','NOTICE','INFO','DEBUG'][severity + 1]) ||
        |    '", "body": { "stringValue": "' || body || '" }' ||
        |    CASE WHEN event_id % 5 = 0
        |         THEN ', "traceId": "' || md5(CAST(event_id AS VARCHAR)) || '"'
        |         ELSE '' END ||
        |    CASE WHEN event_id % 3 = 0
        |         THEN ', "spanId": "' || substr(md5('s' || event_id), 1, 16) || '"'
        |         ELSE '' END ||
        |    ', "attributes": [ ' ||
        |    '{ "key": "log.syslog.appname", "value": { "stringValue": "' || app || '" } }, ' ||
        |    '{ "key": "log.syslog.procid", "value": { "stringValue": "' || procid || '" } }, ' ||
        |    CASE WHEN msgid IS NOT NULL
        |         THEN '{ "key": "log.syslog.msgid", "value": { "stringValue": "' || msgid || '" } }, '
        |         ELSE '' END ||
        |    '{ "key": "log.syslog.facility", "value": { "intValue": ' || facility || ' } }, ' ||
        |    '{ "key": "log.syslog.hostname", "value": { "stringValue": "' || host || '" } }' ||
        |    ' ] }' AS rec
        |  FROM src),
        |b AS (
        |  SELECT batch_id, chunk,
        |    string_agg(rec, ', ' ORDER BY event_id) AS recs,
        |    min(host) = max(host) AS same_host,
        |    min(host) AS h0, count(*) AS n_records
        |  FROM recs GROUP BY 1, 2)
        |SELECT batch_id, chunk, payload, n_records,
        |  json_extract_string(payload,
        |    '$.resourceLogs[0].scopeLogs[0].logRecords[0].body.stringValue') AS probe_body,
        |  CAST(json_extract(payload,
        |    '$.resourceLogs[0].scopeLogs[0].logRecords[0].severityNumber') AS BIGINT) AS probe_sev,
        |  json_extract_string(payload,
        |    '$.resourceLogs[0].scopeLogs[0].logRecords[0].attributes[0].key') AS probe_attr0_key,
        |  json_extract_string(payload,
        |    '$.resourceLogs[0].resource.attributes[0].value.stringValue') AS probe_res_attr0
        |FROM (
        |SELECT batch_id, chunk,
        |  '{ "resourceLogs": [ { "resource": { "attributes": [ ' ||
        |  '{ "key": "service.name", "value": { "stringValue": "rsyslog" } }, ' ||
        |  '{ "key": "telemetry.sdk.name", "value": { "stringValue": "rsyslog-omotel" } }, ' ||
        |  '{ "key": "telemetry.sdk.language", "value": { "stringValue": "C" } }, ' ||
        |  '{ "key": "telemetry.sdk.version", "value": { "stringValue": "8.2608.0.daily" } }' ||
        |  CASE WHEN same_host
        |       THEN ', { "key": "host.name", "value": { "stringValue": "' || h0 || '" } }'
        |       ELSE '' END ||
        |  ' ] }, "scopeLogs": [ { "scope": { "name": "rsyslog.omotel", "version": "8.2608.0.daily" }, "logRecords": [ ' ||
        |  recs || ' ] } ] } ] }' AS payload,
        |  n_records
        |FROM b)""".stripMargin),

    // §2.10 omrelp — RELP client send framing (librelp envelope around
    // relpCltSendSyslog); round-trips with deframeRelp
    Query("omrelp_frame", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val msg = concat(lit("msgnum:"), lpad(col("event_id"), 8, "0"))
      ev.select(col("event_id"),
        graft.sources.Sources.frameRelp(msg, col("event_id") % 1000 + 1)
          .as("relp_frame"))
    },
      synthSql +
        """ SELECT event_id,
        |  (event_id % 1000 + 1) || ' syslog ' ||
        |  length('msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0')) ||
        |  ' msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS relp_frame
        | FROM ev""".stripMargin),

    // §2.10 omsnmp trap shaping (omsnmp_sendsnmp, omsnmp.c:270-380):
    // v1 PDU with the agent_addr ntohl-index byte-reversal quirk and v2c
    // sysUpTime/snmpTrapOID varbinds, message as the syslogMessageOID
    // string varbind
    Query("omsnmp_trap", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("msg", concat(lit("trap "), col("event_type"),
          lit(" #"), col("event_id")))
        .withColumn("src",
          when(col("event_id") % 11 === 0, lit("not.an.ip.addr"))
          .otherwise(concat(lit("10.0."), col("user_id") % 256, lit("."),
            col("event_id") % 256)))
      val v1 = graft.sources.Sources.omsnmpTrapFrame(ev, "msg", "src",
        version = 1).withColumnRenamed("snmp_trap", "trap_v1")
      graft.sources.Sources.omsnmpTrapFrame(v1, "msg", "src", version = 2,
        uptime = col("event_id") % 100000)
        .select(col("event_id"), col("trap_v1"),
          col("snmp_trap").as("trap_v2c"))
    },
      """SELECT event_id,
        |  '{"version":1,"enterprise":"1.3.6.1.4.1.3.1.1","trap_type":6,' ||
        |  '"specific_type":0,"uptime":0,"agent_addr":[' ||
        |  CASE WHEN event_id % 11 = 0 THEN '0,0,0,0'
        |       ELSE (event_id % 256) || ',' || (user_id % 256) || ',0,10' END ||
        |  '],"varbinds":[{"oid":"1.3.6.1.4.1.19406.1.1.2.1","type":"s",' ||
        |  '"value":"trap ' || event_type || ' #' || event_id || '"}]}' AS trap_v1,
        |  '{"version":2,"varbinds":[' ||
        |  '{"oid":"1.3.6.1.2.1.1.3.0","type":"t","value":"' || (event_id % 100000) || '"},' ||
        |  '{"oid":"1.3.6.1.6.3.1.1.4.1.0","type":"o","value":"1.3.6.1.4.1.19406.1.2.1"},' ||
        |  '{"oid":"1.3.6.1.4.1.19406.1.1.2.1","type":"s","value":"trap ' ||
        |  event_type || ' #' || event_id || '"}]}' AS trap_v2c
        |FROM events""".stripMargin),

    // §2.10 ommongodb default lumberjack document (getDefaultBSON,
    // ommongodb.c:280-362) incl. the procid/pid swap quirk and the
    // lumberjack level table; BSON datetimes = epoch millis
    Query("ommongodb_doc", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("hostname", concat(lit("host"), col("user_id") % 50))
        .withColumn("msg", concat(lit("ev "), col("event_type")))
        .withColumn("facility", (col("user_id") % 24).cast("int"))
        .withColumn("severity", (col("event_id") % 8).cast("int"))
        .withColumn("syslogtag",
          concat(col("event_type"), lit("["), col("event_id") % 1000, lit("]")))
        .withColumn("programname", col("event_type"))
        .withColumn("procid", (col("event_id") % 1000).cast("string"))
      graft.sources.Sources.ommongodbDoc(ev)
        .select(col("event_id"), col("mongo_doc"),
          get_json_object(col("mongo_doc"), "$.sys").as("probe_sys"),
          get_json_object(col("mongo_doc"), "$.level").as("probe_level"),
          get_json_object(col("mongo_doc"), "$.time").cast("long")
            .as("probe_time"))
    },
      """SELECT event_id,
        |  '{"sys":"host' || (user_id % 50) ||
        |  '","time":' || (epoch_ns(ts) // 1000000) ||
        |  ',"time_rcvd":' || (epoch_ns(ts) // 1000000) ||
        |  ',"msg":"ev ' || event_type ||
        |  '","syslog_fac":' || (user_id % 24) ||
        |  ',"syslog_sever":' || (event_id % 8) ||
        |  ',"syslog_tag":"' || event_type || '[' || (event_id % 1000) ||
        |  ']","procid":"' || event_type ||
        |  '","pid":"' || (event_id % 1000) ||
        |  '","level":"' ||
        |  (['FATAL','ERROR','ERROR','ERROR','WARN','INFO','INFO','DEBUG'][CAST(event_id % 8 AS INT) + 1]) ||
        |  '"}' AS mongo_doc,
        |  'host' || (user_id % 50) AS probe_sys,
        |  (['FATAL','ERROR','ERROR','ERROR','WARN','INFO','INFO','DEBUG'][CAST(event_id % 8 AS INT) + 1]) AS probe_level,
        |  epoch_ns(ts) // 1000000 AS probe_time
        |FROM events""".stripMargin),

    // §2.10 ommail RFC822 DATA shaping (writeMailMessage,
    // ommail.c:639-664): SMTP-format Date, From/To/Subject headers with
    // the CR/LF header-injection guard, X-Mailer, SMTP dot-stuffing in
    // the body (start-of-line reopens only after a strict CRLF)
    Query("ommail_message", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("subject",
          concat(lit("alert "), col("event_type"), lit(" line1\nline2")))
        .withColumn("body",
          concat(lit(".lead "), col("event_type"), lit("\r\n.dot "),
            col("event_id"), lit("\nmid .x\r\ntail")))
      graft.sources.Sources.ommailMessage(ev, "body", "subject",
        "rsyslog@example.net", Seq("ops@example.net", "oncall@example.net"),
        now = to_timestamp(lit("2024-06-01 12:00:00")))
        .select(col("event_id"), col("mail_message"))
    },
      """SELECT event_id,
        |  'Date: Sat,  1 Jun 2024 12:00:00 +0000' || chr(13) || chr(10) ||
        |  'From: <rsyslog@example.net>' || chr(13) || chr(10) ||
        |  'To: <ops@example.net>, <oncall@example.net>' || chr(13) || chr(10) ||
        |  'Subject: alert ' || event_type || ' line1 line2' || chr(13) || chr(10) ||
        |  'X-Mailer: rsyslog-ommail' || chr(13) || chr(10) || chr(13) || chr(10) ||
        |  '..lead ' || event_type || chr(13) || chr(10) ||
        |  '..dot ' || event_id || chr(10) ||
        |  'mid .x' || chr(13) || chr(10) ||
        |  'tail' AS mail_message
        |FROM events""".stripMargin),

    // §2.10 omjournal non-template field shaping (omjournal.c:290-302):
    // MESSAGE / PRIORITY=(fac*8|sev) / SYSLOG_FACILITY /
    // SYSLOG_IDENTIFIER as an export-format entry
    Query("omjournal_frame", (s, dir) => {
      val ev = synthSyslog(s, dir)
        .withColumn("syslogtag",
          concat(col("event_type"), lit("["), col("event_id"), lit("]")))
        .withColumn("msg", concat(lit("msgnum:"), lpad(col("event_id"), 8, "0")))
      graft.sources.Sources.omjournalFrame(ev)
        .select(col("event_id"), col("journal_entry"))
    },
      synthSql +
        """ SELECT event_id,
        |  'MESSAGE=msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') ||
        |  chr(10) || 'PRIORITY=' || (facility * 8 + severity) ||
        |  chr(10) || 'SYSLOG_FACILITY=' || facility ||
        |  chr(10) || 'SYSLOG_IDENTIFIER=' || syslogtag AS journal_entry
        | FROM ev""".stripMargin),

    // §2.10 omudpspoof wire accounting: spoofed source from the default
    // source template (%fromhost-ip%), cycling source ports, and the
    // exact IPv4 fragmentation ladder for messages above the MTU
    // (plugins/omudpspoof/omudpspoof.c UDPSend) — severity 5/7 rows are
    // padded past one and past two fragments to walk the whole ladder
    Query("omudpspoof_frames", (s, dir) => {
      val ev = synthSyslog(s, dir)
        .withColumn("pad", when(col("severity") === 7, 3000)
          .when(col("severity") === 5, 1600).otherwise(0))
        .withColumn("wire", concat(col("rawmsg"), expr("repeat('x', pad)")))
        .withColumn("fromhost_ip",
          rainer.num2ipv4(pmod(col("user_id"), lit(4294967296L))))
      val frames = graft.sources.Sources.udpspoofPackets(ev,
        col("wire"), col("fromhost_ip"), col("event_id"))
      // deep probe: each fragment's ACTUAL byte slice of the original
      // datagram (start derived from frag_offset, so a wrong offset
      // ladder shifts the bytes and hash-mismatches against the oracle's
      // independently-positioned substring), plus real reassembly — the
      // slices concatenated in frag_idx order must equal the original
      // wire message byte-for-byte (oracle asserts the same via
      // arithmetic tiling: offsets contiguous ∧ Σ payload_len = len)
      val msgStart = when(col("frag_idx") === 0, lit(1L))
        .otherwise(col("frag_offset") - 8 + 1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_id")).orderBy(col("frag_idx"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      frames
        .withColumn("frag_payload", expr(
          "substring(wire, CAST(CASE WHEN frag_idx = 0 THEN 1 " +
          "ELSE frag_offset - 8 + 1 END AS INT), CAST(payload_len AS INT))"))
        .withColumn("probe_reassembled",
          concat_ws("", collect_list(col("frag_payload")).over(w))
            === col("wire"))
        .withColumn("frag_head", substring(col("frag_payload"), 1, 16))
        .select(col("event_id"), col("frag_idx"), col("src_ip"),
          col("src_port"), col("dst_port"), col("mf"), col("frag_offset"),
          col("payload_len"), col("ip_len"), col("udp_len"),
          col("frag_head"), col("probe_reassembled"))
    },
      // mirrors udpspoofPackets: maxPkt=(1500-20)&~7=1480, fragment-0
      // payload 1472 (UDP header), continuation offsets (msgOffs+8)
      (synthSql + """
      |, m AS (
      |  SELECT event_id,
      |    ('<' || (facility*8 + severity) || '>' ||
      |      strftime(CAST(ts AS TIMESTAMP), '%b') || ' ' ||
      |      lpad(CAST(day(ts) AS VARCHAR), 2, ' ') || ' ' ||
      |      strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S') || ' ' ||
      |      hostname || ' ' || syslogtag || ': msgnum:' ||
      |      lpad(CAST(event_id AS VARCHAR), 8, '0') || ': v100=' || v100)
      |    || repeat('x', CASE WHEN severity = 7 THEN 3000
      |                       WHEN severity = 5 THEN 1600 ELSE 0 END) AS wire,
      |    ((user_id % 4294967296) // 16777216) % 256 || '.' ||
      |      ((user_id % 4294967296) // 65536) % 256 || '.' ||
      |      ((user_id % 4294967296) // 256) % 256 || '.' ||
      |      (user_id % 4294967296) % 256 AS src_ip,
      |    CAST(32000 + event_id % 10001 AS INT) AS src_port
      |  FROM ev),
      |f AS (
      |  SELECT event_id, wire, length(wire) AS len, src_ip, src_port,
      |    unnest(range(CASE WHEN length(wire) <= 1472 THEN 1
      |                      ELSE 2 + (length(wire) - 1473) // 1480 END)) AS frag_idx
      |  FROM m),
      |g AS (
      |  SELECT event_id, wire, len, src_ip, src_port, frag_idx,
      |    CASE WHEN frag_idx = 0 THEN 0
      |         ELSE 1472 + (frag_idx-1)*1480 END AS mstart,
      |    CASE WHEN frag_idx = 0 THEN least(len, 1472)
      |         ELSE least(len - (1472 + (frag_idx-1)*1480), 1480) END AS payload_len
      |  FROM f)
      |SELECT event_id, frag_idx, src_ip, src_port, CAST(514 AS INT) AS dst_port,
      |  CASE WHEN frag_idx = 0 THEN len > 1472
      |       ELSE len - mstart > 1480 END AS mf,
      |  CASE WHEN frag_idx = 0 THEN 0 ELSE mstart + 8 END AS frag_offset,
      |  payload_len,
      |  CASE WHEN frag_idx = 0 THEN payload_len + 28
      |       ELSE payload_len + 20 END AS ip_len,
      |  CASE WHEN frag_idx = 0 THEN len + 8 END AS udp_len,
      |  substr(wire, CAST(mstart + 1 AS INT),
      |    CAST(least(16, payload_len) AS INT)) AS frag_head,
      |  sum(payload_len) OVER (PARTITION BY event_id) = len
      |    AND mstart = coalesce(sum(payload_len) OVER (
      |      PARTITION BY event_id ORDER BY frag_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS probe_reassembled
      |FROM g""").stripMargin),

    // §2.10 omsendertrack — per-sender first/last-seen + volume state
    Query("sender_track", (s, dir) => {
      val ev = synthSyslog(s, dir)
      ev.groupBy(col("hostname").as("sender"))
        .agg(
          expr("min(ts_ns div 1000000000)").as("first_seen"),
          expr("max(ts_ns div 1000000000)").as("last_seen"),
          count(lit(1)).as("n_msgs"),
          round(sum(col("value")), 2).as("sum_v"))
    },
      synthSql +
        """ SELECT hostname AS sender,
        |  min(epoch_ns(ts) // 1000000000) AS first_seen,
        |  max(epoch_ns(ts) // 1000000000) AS last_seen,
        |  count(*) AS n_msgs,
        |  round(sum(value), 2) AS sum_v
        | FROM ev GROUP BY 1""".stripMargin),

    // §2.10 omsendertrack state-file image: the exact JSON array
    // writeSenderStats persists (entry format, ,\n separators, atomic
    // snapshot); entries sorted by sender for determinism (the
    // reference's hashtable order is non-semantic)
    Query("sender_snapshot", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val st = ev.groupBy(col("hostname").as("sender"))
        .agg(count(lit(1)).as("messages"),
          expr("min(ts_ns div 1000000000)").as("firstseen"),
          expr("max(ts_ns div 1000000000)").as("lastseen"))
      val entries = st.select(col("sender"),
        graft.sources.Sources.senderTrackEntry(col("sender"),
          col("messages"), col("firstseen"), col("lastseen")).as("entry"))
      graft.sources.Sources.senderTrackFile(entries, col("entry"),
        col("sender"))
        .select(col("statefile"),
          get_json_object(col("statefile"), "$[0].sender").as("probe_sender"),
          get_json_object(col("statefile"), "$[0].messages").cast("long")
            .as("probe_messages"))
    },
      synthSql +
        """, st AS (
        |  SELECT hostname AS sender, count(*) AS messages,
        |    min(epoch_ns(ts) // 1000000000) AS firstseen,
        |    max(epoch_ns(ts) // 1000000000) AS lastseen
        |  FROM ev GROUP BY 1),
        |f AS (
        |  SELECT '[' || chr(10) ||
        |    string_agg('{"sender":"' || sender || '","messages":' ||
        |      messages || ',"firstseen":' || firstseen || ',"lastseen":' ||
        |      lastseen || '}', ',' || chr(10) ORDER BY sender) ||
        |    chr(10) || ']' || chr(10) AS statefile
        |  FROM st)
        |SELECT statefile,
        |  json_extract_string(statefile, '$[0].sender') AS probe_sender,
        |  CAST(json_extract(statefile, '$[0].messages') AS BIGINT)
        |    AS probe_messages
        |FROM f""".stripMargin),

    // §2.10 omfile dynafile oracle-checked round-trip: the dynafile path
    // template IS partitionBy (tools/omfile.c:276-319 template-computed
    // path + fd cache) — write partitioned by the computed key, read the
    // directory back, verify content per partition
    Query("omfile_dynafile", (s, dir) => {
      val tmp = graft.Tmp.dir("graft_dynafile_")
      val ev = synthSyslog(s, dir)
        .select(col("event_id"), col("severity"), col("hostname"), col("v100"))
      graft.sources.Sources.omfilePartitioned(ev, tmp.toString, Seq("severity"))
      s.read.parquet(tmp.toString)
        .groupBy(col("severity").cast("int").as("severity"))
        .agg(count(lit(1)).as("n"),
          sum(col("v100")).as("sum_v100"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
    },
      synthSql +
        """ SELECT CAST(severity AS INT) AS severity, count(*) AS n,
        |   CAST(sum(v100) AS BIGINT) AS sum_v100,
        |   min(event_id) AS min_id, max(event_id) AS max_id
        | FROM ev GROUP BY 1""".stripMargin),

    // §2.10 omfile static sink: render the RFC3164 wire line, write it
    // through the text sink, read the files back — the whole write path
    // is under oracle (the dynafile twin is omfile_dynafile)
    Query("omfile_text", (s, dir) => {
      // fixed path, mode=overwrite: repeated bench trials reuse the same
      // scratch dir instead of leaking one temp dir per run
      val out = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_omfile_text").getPath
      val ev = synthSyslog(s, dir).select(col("rawmsg").as("line"))
      graft.sources.Sources.omfileText(ev, "line", out)
      s.read.text(out).select(col("value").as("line"))
    },
      synthSql +
        """ SELECT '<' || (facility * 8 + severity) || '>' ||
        |  strftime(CAST(ts AS TIMESTAMP), '%b') || ' ' ||
        |  lpad(CAST(day(ts) AS VARCHAR), 2, ' ') || ' ' ||
        |  strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S') || ' ' ||
        |  hostname || ' ' || syslogtag || ': ' ||
        |  'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') ||
        |  ': v100=' || v100 AS line
        | FROM ev""".stripMargin)
  )
}
