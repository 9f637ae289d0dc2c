package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every entry point (Verify, Bench, Explain,
  * KernelBench, the tools, the test suites) builds its SparkSession
  * here, so the run that is checked and the run that is timed share one
  * config.
  *
  * The shuffle width is derived, not a constant: rsyslog sizes its
  * worker pools to the host (runtime/wtp.c), and graft's analogue is
  * tasks per shuffle stage. `spark.sql.shuffle.partitions` is set to
  * the built context's `defaultParallelism`, so a local[N] session
  * shuffles N ways. A fixed width over-subscribes a small host — every
  * extra partition is a task, and for a stateful stream a state-store
  * commit per micro-batch — and under-fills a large one. AQE
  * coalescing still trims it at runtime.
  *
  * The rest are constants: AQE on, UTC session time, nanosAsLong for
  * events.parquet's TIMESTAMP(NANOS) column, and 4 MiB file splits (the
  * test parquet is a handful of small files; the 128 MB default would
  * serialize every scan onto one core).
  */
object GraftSession {
  /** `local[N]` with N = `SPARK_GRAFT_CPUS`, default every core. */
  private def localMaster: String =
    "local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "*") + "]"

  def apply(master: String = localMaster, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    spark.conf.set("spark.sql.shuffle.partitions", sc.defaultParallelism.toLong)
    sc.setLogLevel("WARN")
    spark
  }
}
