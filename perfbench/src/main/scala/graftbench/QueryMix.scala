package graftbench

import java.nio.file.Files
import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** query_mix: a closed loop with one client over the non-streaming query
  * registry (`SparkEntry.queries`) on an sf0.01-shaped corpus that run.py
  * generates from the seed. Each round runs the list below in an order
  * drawn from the seed, and a run makes as many whole rounds as fit in
  * `--seconds`, but at least `MinRounds`. One operation is one query
  * execution, timed from the call into the registry (construction,
  * including eager jobs) through planning to the collected result. Every result must equal the first
  * result of its query (floats to a relative 1e-6), and run.py compares
  * that first result with the query's DuckDB oracle. */
final class QueryMix(ctx: Ctx) extends Workload {
  /** (query, operator family): q1/q3 for the relational core, one query
    * from each of the registry's control-flow, function, template, source,
    * lookup, parser and sink families, and the eager-job-heavy training-data
    * operators (dedup, retrieval, ANN). A round runs each query once.
    * Expressions, aggregations and batch stateful operators are left out to
    * keep the benchmark inside its time budget: ingest_file's ruleset runs
    * the expression kernels and stream_stateful runs Stateful.rateLimit and
    * Stateful.dynStats. */
  val Mix: Seq[(String, String)] = Seq(
    "q1_agg" -> "relational", "q3_join" -> "relational",
    "prifilt" -> "control_flow", "func_strings" -> "functions",
    "template_render" -> "templates", "relp_decode" -> "sources",
    "lookup_string" -> "lookup", "mmjsonparse_findjson" -> "parsers",
    "omfwd_frame" -> "sinks", "dedup_clusters" -> "dedup",
    "bm25_topk" -> "retrieval", "ann_hamming" -> "ann")
  val Families: Seq[String] = Mix.map(_._2).distinct
  private val family = Mix.toMap
  private val schedule = Mix.map(_._1)

  private val tables = ctx.work.resolve("tables").toString
  private val warmTables = ctx.work.resolve("warm_tables").toString
  private val results = ctx.dir("results")
  private val firstResult = mutable.LinkedHashMap.empty[String, (Array[Row], DataFrame, Seq[Seq[Any]])]
  private val executions = mutable.LinkedHashMap.empty[String, Long]

  def generate(): Map[String, Any] = {
    // the tables themselves are written by run.py (numpy + pyarrow)
    val files = Files.list(ctx.work.resolve("tables")).iterator.asScala.toSeq
    Files.writeString(ctx.work.resolve("oracles.json"),
      Json(Mix.map(m => m._1 -> SparkEntry.oracleSql(m._1)).toMap))
    Map("input_bytes" -> files.map(Files.size).sum, "input_tables" -> files.size,
      "round" -> schedule, "client_count" -> 1)
  }

  /** Construct, plan and collect one query; returns (rows, seconds). */
  private def execute(spark: SparkSession, q: String, dir: String): (Array[Row], DataFrame, Double) = {
    val tr = ctx.tracer
    val fam = family(q)
    val t0 = System.nanoTime()
    val df = TaskProbe.phase(spark, s"construct:$q")(tr.span("catalyst.construct")(
      SparkEntry.queries(q)(spark, dir)))
    TaskProbe.phase(spark, s"plan:$q")(tr.span("catalyst.plan")(df.queryExecution.executedPlan))
    val rows = TaskProbe.phase(spark, s"exec:$q")(tr.span(s"operators.$fam.exec")(df.collect()))
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: $q $dir ${rows.length} rows $s%.3f s")
    (rows, df, s)
  }

  def setup(spark: SparkSession): Unit = {
    ctx.tracer.paused = true
    try Mix.foreach(m => execute(spark, m._1, warmTables))
    finally ctx.tracer.paused = false
  }

  /** A result with columns in name order and rows sorted on their values
    * (doubles rounded to 6 places for the ordering only). */
  private def normalise(df: DataFrame, rows: Array[Row]): Seq[Seq[Any]] = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map(_._2).toSeq
    def key(x: Any): String = x match {
      case null => "null"
      case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString
      case f: Float => key(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(key).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(key).mkString("{", ",", "}")
      case a: Array[Byte] => a.mkString("b[", ",", "]")
      case o => o.toString
    }
    rows.toSeq.map(r => cols.map(r.get)).sortBy(_.map(key).mkString("\u0001"))
  }

  /** Equal, with doubles and floats equal to a relative 1e-6 (the gate's
    * tolerance): partial sums may meet in another order between runs. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-6 * math.max(math.abs(x), math.abs(y)) + 1e-9
    case (x: Float, y: Float) => same(x.toDouble, y.toDouble)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: Row, y: Row) => same(x.toSeq, y.toSeq)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  def measure(spark: SparkSession): Unit = {
    val rec = ctx.rec
    val rng = new scala.util.Random(ctx.seed)
    val budgetNs = ctx.seconds * 1000000000L
    val roundS = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var n = 0
    val t0 = System.nanoTime()
    var round = 0
    var lastRoundNs = 0L
    while (round < QueryMix.MinRounds || System.nanoTime() - t0 + lastRoundNs <= budgetNs) {
      val r0 = System.nanoTime()
      val off = ctx.trace && round % 2 == 0 // traced runs alternate rounds
      if (off) ctx.probe.foreach(spark.sparkContext.removeSparkListener)
      ctx.tracer.paused = off
      var total = 0.0
      for (q <- rng.shuffle(schedule)) {
        rec.attempted += 1
        executions(q) = executions.getOrElse(q, 0L) + 1
        try {
          val (rows, df, s) = execute(spark, q, tables)
          total += s
          rec.add("latency_s", s)
          val norm = normalise(df, rows)
          firstResult.get(q) match {
            case None => firstResult(q) = (rows, df, norm)
            case Some((_, _, first)) if !same(first, norm) =>
              rec.fail(1, s"$q: result differs from its first execution " +
                s"(${norm.size} vs ${first.size} rows)")
            case _ =>
          }
        } catch {
          case e: Exception => rec.fail(1, s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
        n += 1
      }
      if (off) ctx.probe.foreach(spark.sparkContext.addSparkListener)
      ctx.tracer.paused = false
      roundS += ((off, total))
      lastRoundNs = System.nanoTime() - r0
      round += 1
    }
    rec.add("throughput_per_s", n / ((System.nanoTime() - t0) / 1e9))
    // run.py compares each query's first result with its DuckDB oracle
    firstResult.foreach { case (q, (rows, df, _)) =>
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(results.resolve(q).toString)
    }
    rec.facts("executions") = executions
    rec.facts("rounds") = round
    if (ctx.trace) layers(spark, roundS.toSeq)
  }

  private def layers(spark: SparkSession, roundS: Seq[(Boolean, Double)]): Unit = {
    val tr = ctx.tracer
    // the rebalance shuffle Tables adds to split-starved inputs, per table
    Seq("events" -> Tables.events _, "documents" -> Tables.documents _,
      "embeddings" -> Tables.embeddings _).foreach { case (t, read) =>
      TaskProbe.phase(spark, s"rebalance:$t")(
        read(spark, tables).write.format("noop").mode("overwrite").save())
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val p = ctx.probe.get
    val traced = roundS.filter(!_._1).map(_._2)
    val untraced = roundS.filter(_._1).map(_._2)
    val execs = tr.seconds("catalyst.construct").size.toDouble
    val exec: String => Boolean = ph => ph.startsWith("exec:") || ph.startsWith("plan:") ||
      ph.startsWith("construct:")
    val scan = p.total(exec)
    ctx.rec.layer(
      "tables.scan_rows" -> scan.inRows / execs,
      "tables.scan_bytes" -> scan.inBytes / execs,
      "tables.rebalance_shuffle_bytes" -> p.total(_.startsWith("rebalance:")).shuffleWrite.toDouble,
      "catalyst.construct_s" -> Stats.median(tr.seconds("catalyst.construct")),
      "catalyst.eager_jobs" -> p.total(_.startsWith("construct:")).jobs / execs,
      "catalyst.plan_s" -> Stats.median(tr.seconds("catalyst.plan")))
    Families.foreach(f => ctx.rec.layer(s"operators.$f.exec_s" -> Stats.median(tr.seconds(s"operators.$f.exec"))))
    if (traced.nonEmpty && untraced.nonEmpty)
      ctx.rec.layer("trace.overhead_ratio" -> (Stats.median(traced) / Stats.median(untraced) - 1))
    ctx.rec.layer(p.sparkLayer(exec, execs): _*)
  }
}

object QueryMix {
  /** A round runs each heavy query once, and one execution of dedup_clusters
    * or bm25_topk varies by a fifth between runs, so a p90 over one round
    * is not steady; two rounds also give a traced run one traced and one
    * untraced round. */
  val MinRounds = 2
}
