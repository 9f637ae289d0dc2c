package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Everything one run measured: raw samples (statistics are computed by
  * run.py), per-layer metrics, operation counts and how it was measured. */
final class Record {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def layer(kv: (String, Double)*): Unit = kv.foreach(layers += _)
  def fail(ops: Long, why: String): Unit = { failed += ops; failures += why }
}

/** What a workload run has to work with. `probe` is registered only on
  * traced runs. */
final case class Ctx(seed: Long, seconds: Int, trace: Boolean, work: Path,
                     nproc: Int, rec: Record, tracer: Tracer) {
  var probe: Option[TaskProbe] = None
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

trait Workload {
  /** Writes the run's inputs (not part of set-up time); returns input facts. */
  def generate(): Map[String, Any]
  /** One set-up on a fresh session: configs, lookups, warm-up. */
  def setup(spark: SparkSession): Unit
  /** The measured part of the run. */
  def measure(spark: SparkSession): Unit
}

/** One JVM per run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Writes DIR/result.json (and DIR/spans.jsonl when traced). */
object Main {
  val SetupReps = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val ctx = Ctx(a("seed").toLong, a("seconds").toInt, a("trace") == "1", work,
      Runtime.getRuntime.availableProcessors, new Record,
      new Tracer(a("trace") == "1", s"${a("workload")}-${a("seed")}"))
    val wl: Workload = a("workload") match {
      case "ingest_file" => new Ingest(ctx)
      case "stream_stateful" => new StreamStateful(ctx)
      case "query_mix" => new QueryMix(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rec = ctx.rec
    val g0 = System.nanoTime()
    rec.facts ++= wl.generate()
    val genS = (System.nanoTime() - g0) / 1e9
    rec.facts("generate_s") = genS

    // set-up, twice: first from JVM start (input generation excluded), then
    // from a stopped session to a warmed-up one
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t1 = System.nanoTime()
      spark = graft.GraftSession(s"local[${ctx.nproc}]", "perfbench")
      graft.GraftExtensions.register(spark)
      wl.setup(spark)
      val t2 = System.nanoTime()
      rec.add("setup_s",
        if (rep == 0) (System.currentTimeMillis() -
          java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - genS
        else (t2 - t1) / 1e9)
      if (rep > 0) rec.facts(s"session_stop_s_$rep") = (t1 - t0) / 1e9
    }
    if (ctx.trace) {
      val p = new TaskProbe
      spark.sparkContext.addSparkListener(p)
      ctx.probe = Some(p)
    }
    System.gc() // the stopped set-up sessions' garbage is not the workload's
    val m0 = System.nanoTime()
    wl.measure(spark)
    rec.facts("measure_wall_s") = (System.nanoTime() - m0) / 1e9
    rec.facts("setup_wall_s") = (m0 - g0) / 1e9 - genS
    rec.add("peak_rss_mb", vmHwmMb())
    rec.facts ++= facts(spark, ctx)
    spark.stop()
    if (ctx.trace) ctx.tracer.write(work.resolve("spans.jsonl"))
    Files.writeString(work.resolve("result.json"), Json(Map(
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures.take(20), "samples" -> rec.samples,
      "layers" -> rec.layers, "facts" -> rec.facts)))
  }

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def facts(spark: SparkSession, ctx: Ctx): Map[String, Any] = {
    val rt = Runtime.getRuntime
    Map(
      "nproc" -> ctx.nproc,
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> rt.maxMemory / (1 << 20),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark_version" -> spark.version,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}",
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.default") ||
          k.startsWith("spark.driver.memory") || k == "spark.serializer"
      }.toSeq.sortBy(_._1).toMap)
  }
}
