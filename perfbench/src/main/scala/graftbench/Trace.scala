package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around calls into the engine's layers, kept in memory and written
  * at exit. A span's self time is its duration minus the time its child
  * spans cover (children run on the calling thread, one after another). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  /** Set while the harness runs work that must leave no spans (warm-up,
    * the untraced half of a traced run). */
  var paused = false

  def span[T](name: String)(body: => T): T =
    if (!enabled || paused) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        open = open.tail
      }
    }

  def seconds(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val covered = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    val lines = spans.sortBy(_.startNs).map { s =>
      Json(Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> (s.seconds - covered.getOrElse(s.id, 0.0))))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task, stage and job counters from Spark's public listener bus, summed
  * per phase. A phase is the `perfbench.phase` local property the harness
  * sets on its own thread before it calls into the engine; streaming
  * micro-batches run on the query's thread and are summed under "stream". */
final class TaskProbe extends SparkListener {
  final class Agg {
    var jobs, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, waitMs,
        inRows, inBytes = 0L
    val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }
  val byPhase = mutable.HashMap.empty[String, Agg]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(TaskProbe.Key)))
      .orElse(Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).map(_ => "stream"))
      .getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val ph = phaseOf(e.properties)
    byPhase.getOrElseUpdate(ph, new Agg).jobs += 1
    e.stageIds.foreach(stagePhase(_) = ph)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = byPhase.getOrElseUpdate(stagePhase.getOrElse(e.stageId, "other"), new Agg)
    val m = e.taskMetrics
    a.tasks += 1
    a.waitMs += math.max(0L, e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime))
    a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inRows += m.inputMetrics.recordsRead
      a.inBytes += m.inputMetrics.bytesRead
    }
  }

  /** Sum of the phases accepted by `keep`. */
  def total(keep: String => Boolean): Agg = synchronized {
    val t = new Agg
    byPhase.filter(kv => keep(kv._1)).values.foreach { a =>
      t.jobs += a.jobs; t.tasks += a.tasks; t.runMs += a.runMs; t.cpuNs += a.cpuNs
      t.gcMs += a.gcMs; t.shuffleRead += a.shuffleRead; t.shuffleWrite += a.shuffleWrite
      t.spill += a.spill; t.waitMs += a.waitMs; t.inRows += a.inRows; t.inBytes += a.inBytes
      t.stageTaskMs ++= a.stageTaskMs
    }
    t
  }

  /** The `spark.*` layer metrics for the phases accepted by `keep`, each
    * divided by `per` (the number of measured operations). */
  def sparkLayer(keep: String => Boolean, per: Double): Seq[(String, Double)] = {
    val a = total(keep)
    // max / median task time per stage with at least 4 tasks; median over stages
    val skews = a.stageTaskMs.values.filter(_.size >= 4).map { ts =>
      ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
    }.toSeq
    Seq(
      "spark.jobs" -> a.jobs / per,
      "spark.tasks" -> a.tasks / per,
      "spark.executor_run_s" -> a.runMs / 1e3 / per,
      "spark.executor_cpu_s" -> a.cpuNs / 1e9 / per,
      "spark.gc_s" -> a.gcMs / 1e3 / per,
      "spark.shuffle_read_bytes" -> a.shuffleRead / per,
      "spark.shuffle_write_bytes" -> a.shuffleWrite / per,
      "spark.spill_bytes" -> a.spill / per,
      "spark.task_wait_s" -> a.waitMs / 1e3 / per,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)))
  }
}

object TaskProbe {
  val Key = "perfbench.phase"
  def phase[T](spark: org.apache.spark.sql.SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** One micro-batch's progress; `commitMs` = trigger start + trigger time. */
final case class Batch(query: String, id: Long, commitMs: Long, inputRows: Long,
                       durations: Map[String, Long], stateRows: Long,
                       stateBytes: Long, stateCommitMs: Long)

/** Progress of every micro-batch of every streaming query. */
final class StreamProbe extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    batches.add(Batch(p.name, p.batchId, start + d.getOrElse("triggerExecution", 0L),
      p.numInputRows, d,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum,
      p.stateOperators.map(_.commitTimeMs).sum))
  }

  def of(query: String): Seq[Batch] =
    batches.asScala.filter(_.query == query).toSeq.sortBy(_.id)
}
