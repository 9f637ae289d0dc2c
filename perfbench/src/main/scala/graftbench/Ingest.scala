package graftbench

import java.nio.file.{Files, Path}
import graft.rainerscript.RsyslogConfig
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** ingest_file: batch syslog ingest the way an rsyslog user runs it. A
  * RainerScript config reads the generated files through
  * `input(type="imfile")`, its ruleset drops debug (and invalid-PRI)
  * messages, parses `@cee:` JSON, enriches from a lookup table, drops
  * low-severity messages of unknown hosts, classifies with prifilt and
  * writes a template to a file. One operation is one input message; a
  * pass reads every input file once and rewrites the output. */
final class Ingest(ctx: Ctx) extends Workload {
  // eight files of ~2.7 MB: each below the session's 4 MiB split, so a pass
  // is eight equal tasks, two full waves on four cores
  private val NFiles = 8
  private val LinesPerFile = 12500L
  private val Rounds = 3 // ladder rounds on a traced run

  private val gen = new Gen(ctx.seed)
  private val in = ctx.dir("in")
  private val out = ctx.work.resolve("out")
  private val lookupPath = ctx.work.resolve("site.json")
  private val nLines = NFiles * LinesPerFile

  // expected output: line count, wrapping sum of line fingerprints, per host
  private var expLines = 0L
  private var expFp = 0L
  private val expHost = new Array[Long](Gen.Hosts)

  private var action: DataFrame = _

  def generate(): Map[String, Any] = {
    Files.writeString(lookupPath, Gen.lookupJson)
    var bytes = 0L
    for (f <- 0 until NFiles)
      bytes += gen.writeFile(in.resolve(f"part-$f%02d.log"), f * LinesPerFile,
        (f + 1) * LinesPerFile) { l =>
        gen.ingestOut(l).foreach { b =>
          expLines += 1; expFp += Gen.fp(b); expHost(l.host) += 1
        }
      }
    Map("input_lines" -> nLines, "input_bytes" -> bytes, "input_files" -> NFiles,
      "expected_output_lines" -> expLines)
  }

  /** The ingest config; the ladder drops the lookup and the template. */
  private def config(outDir: Path, lookup: Boolean = true, template: Boolean = true): String = {
    val lk = if (lookup)
      s"""  set $$!site = lookup("site", $$hostname);
         |  if $$!site == "${Gen.Nomatch}" and $$syslogseverity >= 5 then stop
         |""".stripMargin
    else ""
    s"""module(load="imfile")
       |module(load="mmjsonparse")
       |lookup_table(name="site" file="$lookupPath")
       |template(name="outfmt" type="string"
       |         string="%hostname%|%syslogseverity%|%$$!site%|%$$!cls%|%$$!user%|%msg%")
       |ruleset(name="ingest") {
       |  if $$syslogseverity == 7 then stop
       |  action(type="mmjsonparse")
       |$lk  if prifilt("kern,mail.*") then {
       |    set $$!cls = "sys";
       |  } else {
       |    if $$syslogseverity <= 3 then set $$!cls = "alert"; else set $$!cls = "info";
       |  }
       |  action(type="omfile" file="$outDir"${if (template) " template=\"outfmt\"" else ""})
       |}
       |input(type="imfile" file="$in" tag="gen:" ruleset="ingest" needParse="on")
       |""".stripMargin
  }

  private def actionFrame(spark: SparkSession, cfg: RsyslogConfig): DataFrame = {
    val res = ctx.tracer.span("rainerscript.compile")(cfg.activate(spark))("ingest")
    res.actionFrame(res.actions.find(_.params.get("type").contains("omfile")).get.index)
  }

  private def write(af: DataFrame, dir: Path): Unit =
    Sources.omfileText(af, "__rendered", dir.toString)

  def setup(spark: SparkSession): Unit = {
    val cfg = ctx.tracer.span("rainerscript.parse")(RsyslogConfig.parse(config(out)))
    ctx.tracer.span("templates.compile")(cfg.renderTemplate("outfmt", col))
    action = actionFrame(spark, cfg)
    write(action, out) // warm-up: one untimed pass over the input
  }

  /** Output line count, bytes and part files, checked against the model. */
  private def check(): (Long, Long, Long) = {
    val parts = Files.list(out).iterator.asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
    var lines, fp, bytes = 0L
    val host = new Array[Long](Gen.Hosts)
    parts.foreach { p =>
      val b = Files.readAllBytes(p)
      bytes += b.length
      var s = 0
      var i = 0
      while (i < b.length) {
        if (b(i) == '\n') {
          val line = java.util.Arrays.copyOfRange(b, s, i)
          lines += 1; fp += Gen.fp(line)
          val bar = line.indexOf('|'.toByte)
          val h = if (bar > 1) scala.util.Try(new String(line, 1, bar - 1).toInt).getOrElse(-1) else -1
          if (h >= 0 && h < Gen.Hosts) host(h) += 1
          s = i + 1
        }
        i += 1
      }
    }
    if (lines != expLines || fp != expFp || !java.util.Arrays.equals(host, expHost)) {
      val badHosts = (0 until Gen.Hosts).filter(h => host(h) != expHost(h))
      ctx.rec.fail(nLines, s"ingest output: $lines lines (expected $expLines), " +
        s"fingerprint ${if (fp == expFp) "equal" else "differs"}, " +
        s"${badHosts.size} hosts with other counts, e.g. " +
        badHosts.take(3).map(h => s"h$h ${host(h)}/${expHost(h)}").mkString(", "))
    }
    (lines, bytes, parts.size.toLong)
  }

  /** One timed pass; returns seconds. `on` = spans and listener phase. */
  private def pass(spark: SparkSession, on: Boolean): Double = {
    val t0 = System.nanoTime()
    if (on) TaskProbe.phase(spark, "pass")(ctx.tracer.span("ingest.pass")(write(action, out)))
    else write(action, out)
    val s = (System.nanoTime() - t0) / 1e9
    ctx.rec.attempted += nLines
    s
  }

  def measure(spark: SparkSession): Unit = {
    val rec = ctx.rec
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var k = 0
    val traced, untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    var outStats = (0L, 0L, 0L)
    while (System.nanoTime() < deadline || k < 4) {
      // a traced run alternates passes with and without the listener and
      // spans, which gives the tracing overhead
      val off = ctx.trace && k % 2 == 0
      if (off) ctx.probe.foreach(spark.sparkContext.removeSparkListener)
      val s = pass(spark, !off)
      if (off) ctx.probe.foreach(spark.sparkContext.addSparkListener)
      (if (off) untraced else traced) += s
      rec.add("latency_s", s)
      rec.add("throughput_per_s", nLines / s)
      outStats = check()
      k += 1
    }
    if (ctx.trace) ladder(spark, traced.toSeq, untraced.toSeq, outStats)
  }

  /** The traced layer ladder: scan → +decode → +ruleset → +lookup →
    * +template → +sink, each rung projecting exactly the columns its
    * consumer reads and written to the no-op sink (the last rung writes
    * files). A rung's self time is its median minus the previous rung's. */
  private def ladder(spark: SparkSession, traced: Seq[Double], untraced: Seq[Double],
                     outStats: (Long, Long, Long)): Unit = {
    val tr = ctx.tracer
    val ladderOut = ctx.work.resolve("ladder_out")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val lines = Sources.fileLines(spark, in.toString)
    val decoded = Sources.decodeSyslog(lines)
    val ruleCols = Seq("hostname", "severity", "msg", "vars_msg").map(col)
    val noLookup = actionFrame(spark, RsyslogConfig.parse(config(ladderOut, lookup = false, template = false)))
    val noTemplate = actionFrame(spark, RsyslogConfig.parse(config(ladderOut, template = false)))
    val rungs: Seq[(String, () => Unit)] = Seq(
      "scan" -> (() => noop(lines.select("value"))),
      "decode" -> (() => noop(decoded.select("hostname", "severity", "facility", "msg"))),
      "ruleset" -> (() => noop(noLookup.select(ruleCols: _*))),
      "lookup" -> (() => noop(noTemplate.select(ruleCols: _*))),
      "template" -> (() => noop(action.select("__rendered"))),
      "sink" -> (() => write(action, ladderOut)))
    for (r <- 0 until Rounds; (name, run) <- rungs)
      tr.span("ladder.round")(TaskProbe.phase(spark, s"ladder.$name")(tr.span(s"ladder.$name")(run())))
    val med = rungs.map { case (n, _) => n -> Stats.median(tr.seconds(s"ladder.$n")) }.toMap
    def self(n: String, prev: String): Double = med(n) - med(prev)

    // counts made where the work happens, outside the timed passes
    val (failRows, probes, hits) = TaskProbe.phase(spark, "count") {
      val f = decoded.filter(coalesce(col("hostname"), lit("")) === "" || col("ts").isNull).count()
      val site = graft.operators.LookupTable.load(lookupPath.toString)
        .probe(col("hostname"))
      val row = decoded.filter(col("severity") =!= 7)
        .agg(count(lit(1)), sum(when(site =!= Gen.Nomatch, 1).otherwise(0))).head()
      (f, row.getLong(0), row.getLong(1))
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val probe = ctx.probe.get
    val scanRows = probe.total(_ == "ladder.scan").inRows / Rounds.toDouble
    val (outLines, outBytes, outFiles) = outStats
    val tracedPass = Stats.median(traced)
    ctx.rec.layer(
      "rainerscript.parse_s" -> Stats.median(tr.seconds("rainerscript.parse")),
      "rainerscript.compile_s" -> Stats.median(tr.seconds("rainerscript.compile")),
      "rainerscript.self_s" -> self("ruleset", "decode"),
      "rainerscript.keep_ratio" -> outLines / nLines.toDouble,
      "templates.compile_s" -> Stats.median(tr.seconds("templates.compile")),
      "templates.self_s" -> self("template", "lookup"),
      "templates.bytes_rendered" -> (outBytes - outLines).toDouble,
      "sources.decode_self_s" -> self("decode", "scan"),
      "sources.rows" -> scanRows,
      "sources.parse_fail_rows" -> failRows.toDouble,
      "operators.lookup.self_s" -> self("lookup", "ruleset"),
      "operators.lookup.hit_ratio" -> hits / probes.toDouble,
      "sink.write_s" -> self("sink", "template"),
      "sink.bytes" -> outBytes.toDouble,
      "sink.files" -> outFiles.toDouble,
      "ladder.scan_s" -> med("scan"),
      "ladder.traced_pass_s" -> tracedPass,
      "ladder.residual_s" -> (tracedPass - med("sink")),
      "trace.overhead_ratio" -> (tracedPass / Stats.median(untraced) - 1))
    ctx.rec.layer(probe.sparkLayer(_ == "pass", traced.size): _*)
  }
}
