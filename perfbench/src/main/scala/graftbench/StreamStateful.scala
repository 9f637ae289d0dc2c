package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import graft.sources.Sources
import graft.streaming.Stateful
import graft.streaming.Stateful.{DynInput, RlInput}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** stream_stateful: an open loop into Structured Streaming. Two queries
  * tail one directory: decode → `Stateful.rateLimit` keyed by hostname →
  * JSON file sink, and decode → `Stateful.dynStats` (maxCardinality cap)
  * → JSON file sink, both checkpointed. Phase 1 drains a backlog that is
  * in place when the queries start; phase 2 drops one file every
  * `IntervalMs` from a single thread. A file's latency runs from when it
  * was due to the later of the two commits of the batches holding it.
  * One operation is one file. */
final class StreamStateful(ctx: Ctx) extends Workload {
  private val LinesPerFile = Gen.LinesPerSecond // one event-time second per live file
  private val BacklogFiles = 20
  private val BacklogLinesPerFile = 10 * LinesPerFile
  private val IntervalMs = 250L // 4 files/s = 1,000 msgs/s
  private val LiveFiles = (ctx.seconds * 1000 / IntervalMs).toInt
  private val WarmFiles = 2
  private val RlIntervalMs = 1000L
  private val Burst = 5L
  private val DynCap = 400
  private val NoTtlMs = 1000L * 86400 * 365 * 20
  private val WaitS = 90

  private val gen = new Gen(ctx.seed)
  private val stage = ctx.dir("stage")
  private val nFiles = BacklogFiles + LiveFiles
  private val probe = new StreamProbe

  private val tally = new StreamTally(RlIntervalMs)
  private var setups = 0

  private def fileName(i: Int) = f"f-$i%06d.log"

  /** Index of the first line of file `f` (= lines in files before it). */
  private def firstLine(f: Int): Long =
    if (f <= BacklogFiles) f * BacklogLinesPerFile
    else BacklogFiles * BacklogLinesPerFile + (f - BacklogFiles) * LinesPerFile

  def generate(): Map[String, Any] = {
    var bytes = 0L
    for (f <- 0 until nFiles)
      bytes += gen.writeFile(stage.resolve(fileName(f)), firstLine(f), firstLine(f + 1)) { l =>
        if (!l.debug) tally.add(Gen.hostName(l.host), l.tsMs)
      }
    val warm = ctx.dir("warm_stage")
    for (f <- 0 until WarmFiles)
      gen.writeFile(warm.resolve(fileName(f)), (1L << 40) + f * LinesPerFile,
        (1L << 40) + (f + 1) * LinesPerFile)(_ => ())
    Map("input_lines" -> firstLine(nFiles), "input_bytes" -> bytes,
      "backlog_files" -> BacklogFiles, "backlog_lines" -> firstLine(BacklogFiles),
      "live_files" -> LiveFiles, "live_lines_per_file" -> LinesPerFile,
      "live_rate_msgs_per_s" -> LinesPerFile * 1000 / IntervalMs)
  }

  /** Start both queries on `src`; names are `<tag>-rl` and `<tag>-dyn`. */
  private def start(spark: SparkSession, src: Path, tag: String): Seq[StreamingQuery] = {
    import spark.implicits._
    val run = Files.createDirectories(ctx.work.resolve(s"q-$tag"))
    def decoded: DataFrame =
      Sources.decodeSyslog(Sources.fileTail(spark, src.toString)).filter(col("severity") =!= 7)
    val rl = Stateful.rateLimit(decoded.select(col("hostname").as("key"),
      unix_millis(col("ts")).as("tsMillis"), col("msg").as("payload")).as[RlInput],
      RlIntervalMs, Burst)
    val dyn = Stateful.dynStats(decoded.select(lit("hosts").as("bucket"),
      col("hostname").as("key"), unix_millis(col("ts")).as("tsMillis")).as[DynInput],
      DynCap, NoTtlMs)
    Seq("rl" -> rl.toDF(), "dyn" -> dyn.toDF()).map { case (n, df) =>
      df.writeStream.format("json").queryName(s"$tag-$n")
        .option("checkpointLocation", run.resolve(s"ckpt-$n").toString)
        .option("path", run.resolve(s"out-$n").toString)
        .start()
    }
  }

  private def committedRows(q: StreamingQuery): Long =
    probe.of(q.name).map(_.inputRows).sum

  /** Wait until every query has committed `rows` input rows. */
  private def await(qs: Seq[StreamingQuery], rows: Long): Boolean = {
    val deadline = System.nanoTime() + WaitS * 1000000000L
    while (qs.exists(q => committedRows(q) < rows) && System.nanoTime() < deadline) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(5)
    }
    qs.forall(q => committedRows(q) >= rows)
  }

  private def move(to: Path, f: Int): Unit =
    Files.move(stage.resolve(fileName(f)), to.resolve(fileName(f)), StandardCopyOption.ATOMIC_MOVE)

  def setup(spark: SparkSession): Unit = {
    spark.streams.addListener(probe)
    setups += 1
    val src = ctx.dir(s"warm_src_$setups")
    val warm = ctx.work.resolve("warm_stage")
    (0 until WarmFiles).foreach(f => Files.copy(warm.resolve(fileName(f)), src.resolve(fileName(f))))
    val qs = start(spark, src, s"warm$setups")
    val ok = await(qs, WarmFiles * LinesPerFile)
    qs.foreach(_.stop())
    require(ok, "warm-up stream did not commit its input")
  }

  /** Drain the backlog from `src` with fresh queries; returns (queries,
    * drain seconds) with the queries still running. */
  private def drain(spark: SparkSession, src: Path, tag: String): (Seq[StreamingQuery], Double) = {
    val t0 = System.currentTimeMillis()
    val qs = TaskProbe.phase(spark, "stream")(start(spark, src, tag))
    if (!await(qs, firstLine(BacklogFiles))) {
      ctx.rec.fail(nFiles, s"$tag: backlog not committed within ${WaitS}s")
      return (qs, Double.NaN)
    }
    val end = qs.map(q => probe.of(q.name).last.commitMs).max
    (qs, (end - t0) / 1e3)
  }

  def measure(spark: SparkSession): Unit = {
    val rec = ctx.rec
    val src = ctx.dir("src")
    if (ctx.trace) // kept for the untraced drain that gives the tracing overhead
      (0 until BacklogFiles).foreach(f =>
        Files.copy(stage.resolve(fileName(f)), ctx.dir("src_untraced").resolve(fileName(f))))
    (0 until BacklogFiles).foreach(move(src, _))
    val (qs, drainS) = drain(spark, src, "main")
    rec.attempted += nFiles
    if (drainS.isNaN) { qs.foreach(_.stop()); return }
    rec.add("throughput_per_s", firstLine(BacklogFiles) / drainS)

    // phase 2: one file every IntervalMs on this thread, timed from when due
    val due = new Array[Long](LiveFiles)
    val dropped = new Array[Long](LiveFiles)
    val t0 = System.currentTimeMillis() + 200
    for (i <- 0 until LiveFiles) {
      due(i) = t0 + i * IntervalMs
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      move(src, BacklogFiles + i)
      dropped(i) = System.currentTimeMillis()
    }
    val ok = await(qs, firstLine(nFiles))
    qs.foreach(_.stop())
    if (!ok) rec.fail(nFiles, s"live files not committed within ${WaitS}s of the last drop")

    // a file is committed by a query in its first batch whose cumulative
    // input reaches the end of that file (files are taken in drop order)
    val commit = Array.fill(LiveFiles)(Long.MinValue)
    qs.foreach { q =>
      var cum = 0L
      var i = 0
      probe.of(q.name).foreach { b =>
        cum += b.inputRows
        while (i < LiveFiles && firstLine(BacklogFiles + i + 1) <= cum) {
          commit(i) = math.max(commit(i), b.commitMs); i += 1
        }
      }
    }
    for (i <- 0 until LiveFiles if commit(i) != Long.MinValue)
      rec.add("latency_s", (commit(i) - due(i)) / 1e3)
    rec.facts("batch_ms") = qs.map(q => q.name -> probe.of(q.name).map(_.durations("triggerExecution"))).toMap
    val (passRows, overflow) = check()
    if (ctx.trace) {
      // the same backlog drained again by fresh queries without the task
      // listener: traced vs untraced drain is the tracing overhead
      ctx.probe.foreach(spark.sparkContext.removeSparkListener)
      val (uq, untracedDrain) = drain(spark, ctx.work.resolve("src_untraced"), "untraced")
      uq.foreach(_.stop())
      ctx.probe.foreach(spark.sparkContext.addSparkListener)
      layers(spark, qs, src, untracedDrain, drainS, due, dropped, commit, passRows, overflow)
    }
  }

  /** Compare both sinks with the model; returns (passed rows, overflow). */
  private def check(): (Long, Long) = {
    def rows(tag: String): Iterator[String] =
      Files.list(ctx.work.resolve(s"q-main/out-$tag")).iterator.asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(p => Files.readAllLines(p).asScala)
    val rl = "\"key\":\"([^\"]+)\",\"tsMillis\":(\\d+)".r.unanchored
    val got = mutable.HashMap.empty[(String, Long), Long]
    var passRows = 0L
    rows("rl").foreach {
      case rl(h, ts) =>
        val k = (h, ts.toLong / RlIntervalMs); got(k) = got.getOrElse(k, 0L) + 1
        passRows += 1
      case other => ctx.rec.fail(1, s"ratelimit output row not understood: ${other.take(120)}")
    }
    // dyn_stats: each batch appends a full snapshot and counters only grow
    val metric = "\"metric\":\"([^\"]+)\",\"value\":(\\d+)".r.unanchored
    val dyn = mutable.HashMap.empty[String, Long]
    rows("dyn").foreach {
      case metric(m, v) => dyn(m) = math.max(dyn.getOrElse(m, 0L), v.toLong)
      case other => ctx.rec.fail(1, s"dyn_stats output row not understood: ${other.take(120)}")
    }
    val exp = tally.passes(Burst)
    val rlBad = (exp.keySet ++ got.keySet).filter(k => exp.getOrElse(k, 0L) != got.getOrElse(k, 0L))
    if (rlBad.nonEmpty)
      ctx.rec.fail(nFiles, s"ratelimit: ${rlBad.size} (host, window) pass counts differ, e.g. " +
        rlBad.take(3).map(k => s"${k._1}@${k._2} ${got.getOrElse(k, 0L)}/${exp.getOrElse(k, 0L)}").mkString(", "))

    val expDyn = tally.counters(DynCap)
    if (expDyn != dyn.toMap) {
      val bad = (expDyn.keySet ++ dyn.keySet).filter(k => expDyn.get(k) != dyn.get(k))
      ctx.rec.fail(nFiles, s"dyn_stats: ${bad.size} counters differ, e.g. " +
        bad.take(3).map(k => s"$k ${dyn.get(k)}/${expDyn.get(k)}").mkString(", "))
    }
    (passRows, dyn.getOrElse("ops_overflow", 0L))
  }

  private def layers(spark: SparkSession, qs: Seq[StreamingQuery], src: Path,
                     untracedDrain: Double, drainS: Double, due: Array[Long],
                     dropped: Array[Long], commit: Array[Long], passRows: Long,
                     overflow: Long): Unit = {
    val bs = qs.flatMap(q => probe.of(q.name))
    def med(k: String): Double = Stats.median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    val lastState = qs.map(q => probe.of(q.name).last)
    val rlIn = probe.of(qs.head.name).map(_.inputRows).sum
    // files dropped but not yet committed by both queries, at each drop
    val backlog = dropped.indices.map(i => (i + 1) - commit.count(c => c <= dropped(i)))

    // decode cost over the same files as a batch: scan vs scan + decode
    val tr = ctx.tracer
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val lines = Sources.fileLines(spark, src.toString)
    val decoded = Sources.decodeSyslog(lines)
    for (_ <- 0 until 2) {
      TaskProbe.phase(spark, "ladder.scan")(tr.span("ladder.scan")(noop(lines.select("value"))))
      TaskProbe.phase(spark, "ladder.decode")(tr.span("ladder.decode")(
        noop(decoded.select("hostname", "severity", "ts", "msg"))))
    }
    val failRows = TaskProbe.phase(spark, "count")(
      decoded.filter(coalesce(col("hostname"), lit("")) === "" || col("ts").isNull).count())
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val p = ctx.probe.get
    ctx.rec.layer(
      "sources.decode_self_s" -> (Stats.median(tr.seconds("ladder.decode")) -
        Stats.median(tr.seconds("ladder.scan"))),
      "sources.rows" -> p.total(_ == "ladder.scan").inRows / 2.0,
      "sources.parse_fail_rows" -> failRows.toDouble,
      "streaming.batches" -> bs.size.toDouble,
      "streaming.batch_p50_ms" -> med("triggerExecution"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.planning_ms" -> med("queryPlanning"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.state_commit_ms" -> Stats.median(bs.map(_.stateCommitMs.toDouble)),
      "streaming.state_rows" -> lastState.map(_.stateRows).sum.toDouble,
      "streaming.state_bytes" -> lastState.map(_.stateBytes).sum.toDouble,
      "streaming.pass_ratio" -> passRows / math.max(1L, rlIn).toDouble,
      "streaming.dynstats_overflow" -> overflow.toDouble,
      "streaming.backlog_files_max" -> backlog.max.toDouble,
      "streaming.generator_late_s" -> due.indices.map(i => dropped(i) - due(i)).max / 1e3,
      "trace.overhead_ratio" -> (drainS / untracedDrain - 1))
    ctx.rec.layer(p.sparkLayer(_ == "stream", bs.size): _*)
  }
}
