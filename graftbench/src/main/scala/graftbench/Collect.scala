package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. `layer` names the graft module whose
  * entry point the span wraps (or `bench` for the harness's own phases).
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spans opened by the client around its calls into graft. Listener-derived
  * spans (micro-batches, Spark jobs) are added when the trace is assembled
  * ([[Layers.report]]).
  */
final class Tracer {
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  def now(): Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs

  /** Run `body` inside a span and return its result with the recorded
    * span; the span id is published to Spark jobs the body starts through
    * the `graftbench.span` local property.
    */
  def span[T](name: String, layer: String, parent: Int)(body: Int => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val sc = SparkSession.active.sparkContext
    val prior = sc.getLocalProperty(Tracer.Prop)
    sc.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = now()
    try {
      val out = body(id)
      val s = Span(id, parent, name, layer, t0, now())
      done.add(s)
      (out, s)
    } finally sc.setLocalProperty(Tracer.Prop, prior)
  }
  def nextId(): Int = ids.incrementAndGet()
  def add(s: Span): Unit = done.add(s)
  def all: Seq[Span] = done.asScala.toSeq
}

object Tracer {
  val Prop = "graftbench.span"
  // wall clock (epoch ms) anchored once, advanced by the monotonic clock
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6
}

final case class JobRec(jobId: Int, start: Long, var end: Long, span: Option[Int],
                        batch: Option[(String, Long)], execId: Option[Long])
final case class TaskRec(jobId: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, shRead: Long, shWrite: Long, spill: Long,
                         inBytes: Long, outBytes: Long)
final case class BatchRec(queryId: String, batchId: Long, start: Double, inputRows: Long,
                          dur: Map[String, Long]) {
  def end: Double = start + dur.getOrElse("triggerExecution", 0L)
}
final case class QeRec(qeId: Long, analysisMs: Double, optimizationMs: Double,
                       planningMs: Double, scanFiles: Long, scanBytes: Long,
                       writtenFiles: Long, writtenBytes: Long, writtenRows: Long,
                       writtenParts: Long)

/** The outside-in collectors: everything here is registered by the
  * benchmark on the session it drives, so graft's code is unaware of it.
  * With `full = false` only the streaming progress listener is attached
  * (the end-to-end batch latency needs it); the rest is the traced run.
  */
final class Collectors(spark: SparkSession, full: Boolean) {
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** QueryExecution.id -> SQL execution id. */
  val qeExec = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      batches.add(BatchRec(p.id.toString, p.batchId, start, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val batch = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
        yield (q, b.toLong)
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      jobs.put(e.jobId, JobRec(e.jobId, e.time, e.time, prop(Tracer.Prop).map(_.toInt),
        batch, prop("spark.sql.execution.id").map(_.toLong)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      ended.add(e.jobId)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      // the QueryExecution behind a SQL execution id (the id jobs carry);
      // the event exposes it only to Spark's own packages, so by reflection
      case end: SparkListenerSQLExecutionEnd =>
        scala.util.Try(end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution])
          .toOption.filter(_ != null).foreach(qe => qeExec.put(qe.id, end.executionId))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      tasks.add(TaskRec(stageToJob.getOrDefault(e.stageId, -1), e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
    }
  }
  private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      def phase(n: String) = qe.tracker.phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      def metric(p: SparkPlan, n: String) = p.metrics.get(n).map(_.value).getOrElse(0L)
      val plan = qe.executedPlan
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      val writes = collect(plan) { case w: DataWritingCommandExec => w }
      def wsum(n: String) = writes.map(w => w.cmd.metrics.get(n).map(_.value).getOrElse(0L)).sum
      qes.add(QeRec(qe.id, phase("analysis"), phase("optimization"), phase("planning"),
        scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum,
        wsum("numFiles"), wsum("numOutputBytes"), wsum("numOutputRows"), wsum("numParts")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (full) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Block until the shared listener queue has delivered everything posted
    * so far: run a one-task marker job and wait for its end event (the QE
    * listener rides the same queue), then wait for `nBatches` progress
    * events of `queryId` (the streams queue).
    */
  def drain(queryId: Option[String] = None, nBatches: Int = 0): Unit = {
    if (full) {
      val sc = spark.sparkContext
      val before = jobs.keySet.asScala.toSet
      sc.parallelize(Seq(1), 1).count()
      val id = jobs.keySet.asScala.diff(before).maxOption
      id.foreach { j =>
        val deadline = System.currentTimeMillis() + 10000
        while (!ended.contains(j) && System.currentTimeMillis() < deadline) Thread.sleep(2)
        jobs.remove(j); tasks.removeIf(_.jobId == j)
      }
    }
    queryId.foreach { q =>
      val deadline = System.currentTimeMillis() + 10000
      while (batches.asScala.count(_.queryId == q) < nBatches &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
    }
  }

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    if (full) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def batchesOf(queryId: String): Seq[BatchRec] =
    batches.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)
}

/** Hadoop's global FileSystem statistics, summed over every scheme. */
object FsStats {
  def snapshot(): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala.foreach { st =>
      st.getLongStatistics.asScala.foreach(s => acc(s.getName) += s.getValue)
    }
    acc.toMap
  }
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** A walk of a table directory: what a reader of it has to list and open. */
final case class Listing(buckets: Int, files: Long, bytes: Long,
                         bucketFiles: Map[String, Set[String]])

object Listing {
  /** The regular files under `dir`. */
  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else java.nio.file.Files.walk(root).iterator.asScala
      .filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
  }

  def of(dir: String): Listing = {
    val root = java.nio.file.Paths.get(dir)
    val files = walk(dir).filter { p =>
      val rel = root.relativize(p).iterator.asScala.map(_.toString).toSeq
      rel.forall(n => n.startsWith("__kb=") || !(n.startsWith("_") || n.startsWith("."))) &&
        rel.last.endsWith(".parquet")
    }
    val byBucket = files.groupBy(p => root.relativize(p).getName(0).toString)
      .filter(_._1.startsWith("__kb="))
    Listing(byBucket.size, files.size.toLong,
      files.map(p => java.nio.file.Files.size(p)).sum,
      byBucket.map { case (b, fs) => b -> fs.map(_.getFileName.toString).toSet })
  }

  def bytesUnder(dir: String): Long = walk(dir).map(p => java.nio.file.Files.size(p)).sum
}

/** Interval arithmetic for self times: the part of [s, e] covered by a
  * set of child intervals.
  */
object Intervals {
  def covered(s: Double, e: Double, children: Seq[(Double, Double)]): Double = {
    val clipped = children.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curS.isNaN) { curS = a; curE = b }
      else if (a <= curE) curE = math.max(curE, b)
      else { total += curE - curS; curS = a; curE = b }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
