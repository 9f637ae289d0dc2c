package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import Synth._

/** Flow control: rate limits, queue shedding, action gates and the
  * dead-letter path (SURVEY §2.8). */
object FlowControlQueries {

  private[queries] val ratelimitOracle: String =
    """WITH seq AS (
      |  SELECT user_id, row_number() OVER (
      |    PARTITION BY user_id, epoch_ns(ts)//1000000000//3600
      |    ORDER BY event_id) AS rn
      |  FROM events)
      |SELECT user_id, count(*) AS n_passed FROM seq WHERE rn <= 3 GROUP BY 1""".stripMargin

  val queries: Seq[Query] = Seq(
    // §2.8 named ratelimit() object + YAML policy file: per-source
    // limits with an override key, the keyTemplate rendered through the
    // template registry, and the severity exemption that spends no
    // bucket budget (runtime/ratelimit.c; the imptcp-persource-
    // ratelimit-policy.sh shape, policy file written at query time)
    Query("ratelimit_policy", (s, dir) => {
      val f = java.io.File.createTempFile("graft_rlpolicy", ".yaml")
      f.deleteOnExit()
      java.nio.file.Files.write(f.toPath,
        """severity: 6
          |perSource:
          |  enabled: true
          |  keyTemplate: "RlKey"
          |  default:
          |    max: 3
          |    window: 720h
          |  overrides:
          |    - key: "host1"
          |      max: 10
          |""".stripMargin.getBytes("UTF-8"))
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        s"""template(name="RlKey" type="string" string="%hostname%")
           |ratelimit(name="ps" policy="${f.getPath}")
           |""".stripMargin)
      val policy = cfg.ratelimitPolicy("ps").get
      val ev = synthSyslog(s, dir)
      val out = graft.operators.RateLimit.applyPolicy(ev, policy,
        cfg.ratelimitKey(policy, n => col(n)), col("ts"), col("event_id"),
        col("severity"))
      out.groupBy(col("hostname"))
        .agg(count(lit(1)).as("n_in"),
          count(when(col("rl_limited"), 1)).as("n_limited"),
          count(when(!col("rl_limited"), 1)).as("n_pass"))
    },
      synthSql +
        """, r AS (
        |  SELECT hostname, event_id, severity,
        |    epoch_ns(ts)//1000000000//2592000 AS win,
        |    CASE WHEN severity < 6 THEN 0 ELSE 1 END AS subject
        |  FROM ev),
        |c AS (
        |  SELECT *, sum(subject) OVER (
        |    PARTITION BY hostname, win ORDER BY event_id) AS seq
        |  FROM r),
        |f AS (
        |  SELECT hostname,
        |    (subject = 1 AND seq >
        |      (CASE WHEN hostname = 'host1' THEN 10 ELSE 3 END)) AS limited
        |  FROM c)
        |SELECT hostname, count(*) AS n_in,
        |  count(*) FILTER (WHERE limited) AS n_limited,
        |  count(*) FILTER (WHERE NOT limited) AS n_pass
        |FROM f GROUP BY 1""".stripMargin),

    // §2.8 queue.discardMark/discardSeverity load shedding
    // (qqueueChkDiscardMsg): in saturated arrival windows, messages at or
    // above the discard severity drop before enqueue; critical ones pass
    Query("queue_shed", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val shed = graft.operators.RateLimit.discardShed(ev, col("ts"),
        col("severity"), discardMark = 50L, discardSeverity = 4,
        windowDur = "1 day")
      shed.groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("shed"), 1)).as("n_shed"),
          count(when(!col("shed"), 1)).as("n_kept"),
          sum(when(!col("shed"), col("severity")).otherwise(0))
            .as("sev_kept"))
        .select(col("window.start").as("ws"), col("n_total"),
          col("n_shed"), col("n_kept"), col("sev_kept"))
    },
      synthSql +
        """, w AS (
        |  SELECT severity,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS ws FROM ev),
        |c AS (SELECT *, count(*) OVER (PARTITION BY ws) AS depth FROM w),
        |f AS (SELECT ws, severity,
        |  (depth >= 50 AND severity >= 4) AS shed FROM c)
        |SELECT ws, count(*) AS n_total,
        |  count(*) FILTER (WHERE shed) AS n_shed,
        |  count(*) FILTER (WHERE NOT shed) AS n_kept,
        |  CAST(sum(CASE WHEN NOT shed THEN severity ELSE 0 END) AS BIGINT)
        |    AS sev_kept
        |FROM f GROUP BY 1""".stripMargin),

    // §2.8 ratelimit — token bucket (interval+burst) per key over event time
    Query("ratelimit", (s, dir) => {
      val ev = Tables.events(s, dir)
      RateLimit(ev, col("user_id"), col("ts"), col("event_id"),
        intervalSec = 3600, burst = 3)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_passed"))
    },
      ratelimitOracle),

    // §2.8 ratelimit drop summary ("N messages dropped" marks)
    Query("ratelimit_summary", (s, dir) => {
      RateLimit.dropSummary(Tables.events(s, dir), col("user_id"), col("ts"),
        intervalSec = 3600, burst = 3)
    },
      """SELECT user_id AS key, epoch_ns(ts)//1000000000//3600 AS rl_win,
        |  count(*) AS n_total,
        |  least(count(*), 3) AS n_passed,
        |  count(*) - least(count(*), 3) AS n_dropped
        |FROM events GROUP BY 1, 2""".stripMargin),

    // §2.1 action gates — execOnlyEveryNthTime / execOnlyOnceEveryInterval.
    // Both windows cluster by user_id, so chaining them reuses ONE
    // exchange (HashPartitioning(user_id) satisfies the (user_id, win)
    // clustering) and the gate counts aggregate in the same pass — no
    // per-gate frames, no full-outer join.
    Query("exec_gates", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("gate_win", (unix_timestamp(col("ts")) / 86400).cast("long"))
      val wNth = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val wOnce = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("gate_win")).orderBy(col("event_id"))
      ev.withColumn("rn", row_number().over(wNth))
        .withColumn("rn_win", row_number().over(wOnce))
        .groupBy(col("user_id"))
        .agg(
          count(when(col("rn") % 5 === 0, 1)).as("n_nth"),
          count(when(col("rn_win") === 1, 1)).as("n_once"))
    },
      """WITH seq AS (
        |  SELECT user_id, row_number() OVER (
        |    PARTITION BY user_id ORDER BY event_id) AS rn FROM events),
        |nth AS (SELECT user_id, count(*) AS n_nth FROM seq
        |        WHERE rn % 5 = 0 GROUP BY 1),
        |onceseq AS (
        |  SELECT user_id, row_number() OVER (
        |    PARTITION BY user_id, epoch_ns(ts)//1000000000//86400
        |    ORDER BY event_id) AS rn2 FROM events),
        |once AS (SELECT user_id, count(*) AS n_once FROM onceseq
        |         WHERE rn2 = 1 GROUP BY 1)
        |SELECT coalesce(n.user_id, o.user_id) AS user_id,
        |  coalesce(n_nth, 0) AS n_nth, coalesce(n_once, 0) AS n_once
        |FROM nth n FULL OUTER JOIN once o ON n.user_id = o.user_id""".stripMargin),

    // §2.8/§2.10 action retry/suspend → dead-letter, oracle-checked: a
    // healthy action delivers its slice on attempt 1; a permanently
    // suspended action exhausts its retries (action.c:856-1015 backoff)
    // and the batch lands in the error-file/dead-letter path instead of
    // being lost (omelasticsearch error-file pattern)
    Query("dead_letter", (s, dir) => {
      import graft.sources.ReliableSink
      val base = graft.Tmp.dir("graft_dlq_")
      val (primary, dlq) = (s"$base/primary", s"$base/dlq")
      val ev = synthSyslog(s, dir).select(col("event_id"), col("severity"))
      val policy = ReliableSink.RetryPolicy(maxRetries = 2,
        resumeIntervalMs = 1, resumeIntervalMaxMs = 4)
      val okPrimary = ReliableSink.writeWithRetry(ev.filter(col("severity") < 4),
        df => df.write.mode("overwrite").parquet(primary),
        df => df.write.mode("overwrite").parquet(dlq), policy)
      var attempts = 0
      val okSuspended = ReliableSink.writeWithRetry(ev.filter(col("severity") >= 4),
        df => { attempts += 1; throw new java.io.IOException("action suspended") },
        df => df.write.mode("overwrite").parquet(dlq), policy)
      require(okPrimary && !okSuspended && attempts == 3,
        s"retry contract drifted: ok=$okPrimary susp=$okSuspended tries=$attempts")
      s.read.parquet(primary).withColumn("handled_by", lit("primary"))
        .unionByName(s.read.parquet(dlq).withColumn("handled_by", lit("dead_letter")))
        .select(col("event_id"), col("handled_by"))
    },
      synthSql +
        """ SELECT event_id,
        |   CASE WHEN severity < 4 THEN 'primary' ELSE 'dead_letter' END
        |     AS handled_by
        | FROM ev""".stripMargin)
  )
}
