package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One operation of a workload's measured loop (a micro-batch, a report
  * query, a curate turn). Spark jobs are attributed to it by streaming
  * batch id, by the `graftbench.span` local property, or by time.
  */
final case class Op(key: String, start: Double, end: Double, span: Option[Int],
                    batch: Option[(String, Long)]) {
  def ms: Double = end - start
}

/** Turns the collectors' records into the per-layer metrics and the span
  * file with its self-time table (traced runs only).
  */
object Layers {
  /** The durationMs keys a micro-batch runs before addBatch, in order. */
  private val BeforeAddBatch = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning")

  def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The addBatch interval of a micro-batch: progress reports only
    * durations, laid out in MicroBatchExecution's order with commitOffsets
    * last.
    */
  private def addBatchInterval(b: BatchRec): (Double, Double) = {
    val co = b.dur.getOrElse("commitOffsets", 0L).toDouble
    val ab = b.dur.getOrElse("addBatch", 0L).toDouble
    (b.end - co - ab, b.end - co)
  }

  def report(c: Ctx, ingestOps: Seq[Op], readOps: Seq[Op],
             fsWindow: (Map[String, Long], Map[String, Long]),
             ingest: Seq[BatchRec], events: Long, extra: Map[String, Double]): Unit = {
    val col = c.col
    val cores = c.spark.sparkContext.defaultParallelism
    col.drain()
    val jobs = col.jobs.values.asScala.toSeq
    val tasks = col.tasks.asScala.toSeq
    val taskIntervals = tasks.map(t => (t.launch.toDouble, t.finish.toDouble))
    val ops = ingestOps ++ readOps

    def opOf(j: JobRec): Option[Op] =
      ops.find(o => o.batch.isDefined && o.batch == j.batch)
        .orElse(ops.find(o => o.span.isDefined && o.span == j.span))
        .orElse(if (j.batch.isDefined) None
                else ops.find(o => j.start >= o.start && j.start <= o.end))
    val jobOp: Map[Int, Op] = jobs.flatMap(j => opOf(j).map(j.jobId -> _)).toMap
    val execOp: Map[Long, Op] = jobs.flatMap(j => for (e <- j.execId; o <- jobOp.get(j.jobId))
      yield e -> o).toMap
    val qes = col.qes.asScala.toSeq.flatMap(q =>
      Option(col.qeExec.get(q.qeId)).flatMap(e => execOp.get(e.longValue)).map(_ -> q))
    val fs = FsStats.delta(fsWindow._1, fsWindow._2)
    val m = mutable.LinkedHashMap.empty[String, Double]

    /** Counters summed over a group of ops, divided by the group's size. */
    final class Group(group: Seq[Op]) {
      private val keys = group.toSet
      val n: Double = math.max(group.size, 1).toDouble
      val jobIds: Set[Int] = jobOp.filter(kv => keys.contains(kv._2)).keySet
      val groupTasks: Seq[TaskRec] = tasks.filter(t => jobIds(t.jobId))
      val groupQes: Seq[QeRec] = qes.filter(q => keys.contains(q._1)).map(_._2)
      val wall: Double = group.map(_.ms).sum
      val driverOnly: Double =
        group.map(o => o.ms - Intervals.covered(o.start, o.end, taskIntervals)).sum / n
      def per(f: TaskRec => Double): Double = groupTasks.map(f).sum / n
      def perQe(f: QeRec => Double): Double = groupQes.map(f).sum / n
    }
    val in = new Group(ingestOps)
    val rd = new Group(readOps)

    // streaming: the micro-batch engine and the upsert sink it drives
    val nb = math.max(ingest.size, 1).toDouble
    def dur(k: String) = ingest.map(_.dur.getOrElse(k, 0L).toDouble)
    val ingestKeys = ingest.map(b => (b.queryId, b.batchId)).toSet
    val ingestQes = qes.filter(_._1.batch.exists(ingestKeys.contains)).map(_._2)
    m("streaming.overhead_ms_p50") = p50(ingest.map(b =>
      (b.dur.getOrElse("triggerExecution", 0L) - b.dur.getOrElse("addBatch", 0L)).toDouble))
    m("streaming.wal_commit_ms_p50") = p50(dur("walCommit"))
    m("streaming.commit_offsets_ms_p50") = p50(dur("commitOffsets"))
    m("streaming.latest_offset_ms_p50") = p50(dur("latestOffset"))
    m("streaming.query_planning_ms_p50") = p50(dur("queryPlanning"))
    m("streaming.add_batch_ms_p50") = p50(dur("addBatch"))
    m("streaming.jobs_per_batch") = jobs.count(_.batch.exists(ingestKeys.contains)) / nb
    m("streaming.driver_ms_per_batch") = ingest.map { b =>
      val (s, e) = addBatchInterval(b)
      (e - s) - Intervals.covered(s, e, taskIntervals)
    }.sum / nb
    m("streaming.buckets_touched_per_batch") = ingestQes.map(_.writtenParts).sum / nb
    m("streaming.rows_written_per_event") =
      if (events == 0) 0.0 else ingestQes.map(_.writtenRows).sum.toDouble / events
    m("streaming.bytes_written_per_batch") = ingestQes.map(_.writtenBytes).sum / nb
    m("streaming.files_written_per_batch") = ingestQes.map(_.writtenFiles).sum / nb
    m("streaming.source_rows_per_event") =
      if (events == 0) 0.0 else ingest.map(_.inputRows).sum.toDouble / events
    Seq("streaming.buckets_total", "streaming.buckets_changed", "streaming.table_files",
      "streaming.table_bytes", "cdc.parse_ms_per_kevent", "cdc.parse_share").foreach(k => m(k) = 0.0)

    // core: the session Engine.local builds. Execution counters are per
    // ingest op (micro-batch or turn); planning and scan counters per read.
    m("core.jobs") = in.jobIds.size / in.n
    m("core.tasks") = in.groupTasks.size / in.n
    m("core.task_run_ms") = in.per(_.runMs.toDouble)
    m("core.task_cpu_ms") = in.per(_.cpuNs / 1e6)
    m("core.gc_ms") = in.per(_.gcMs.toDouble)
    m("core.shuffle_read_bytes") = in.per(_.shRead.toDouble)
    m("core.shuffle_write_bytes") = in.per(_.shWrite.toDouble)
    m("core.spill_bytes") = in.per(_.spill.toDouble)
    m("core.input_bytes") = in.per(_.inBytes.toDouble)
    m("core.output_bytes") = in.per(_.outBytes.toDouble)
    m("core.busy_ratio") = if (in.wall <= 0) 0.0 else in.groupTasks.map(_.runMs).sum / (in.wall * cores)
    m("core.driver_only_ms") = in.driverOnly
    m("core.fs_read_ops") = fs.getOrElse("readOps", 0L) / in.n
    m("core.fs_write_ops") = fs.getOrElse("writeOps", 0L) / in.n
    m("core.fs_bytes_written") = fs.getOrElse("bytesWritten", 0L) / in.n
    m("core.analysis_ms") = rd.perQe(_.analysisMs)
    m("core.optimization_ms") = rd.perQe(_.optimizationMs)
    m("core.planning_ms") = rd.perQe(_.planningMs)
    m("core.scan_files") = rd.perQe(_.scanFiles.toDouble)
    m("core.scan_bytes") = rd.perQe(_.scanBytes.toDouble)
    m("core.read_jobs") = rd.jobIds.size / rd.n
    m("core.read_task_run_ms") = rd.per(_.runMs.toDouble)
    m("core.read_driver_only_ms") = rd.driverOnly
    Seq("q01", "q03", "q12", "q18").foreach(q => m(s"core.${q}_ms_p50") = 0.0)
    m("core.heap_peak_mb") = c.heapPeakMb()

    // llm: the curate turn (dedup, classifier, novelty; ops and functions inside)
    def turnOnly(v: Double) = if (c.workload == "curate") v else 0.0
    m("llm.jobs_per_turn") = turnOnly(m("core.jobs"))
    m("llm.driver_ms_per_turn") = turnOnly(m("core.driver_only_ms"))
    m("llm.shuffle_bytes_per_turn") = turnOnly(m("core.shuffle_write_bytes"))
    m("llm.files_written_per_turn") = turnOnly(in.perQe(_.writtenFiles.toDouble))
    m("llm.index_bytes") = 0.0

    // self time per layer, as a share of the measured window
    val spans = buildSpans(c, jobs)
    val self = selfTimes(spans)
    val window = spans.filter(_.start >= c.measureStart)
    val windowMs = window.map(s => self(s.id)).sum
    Seq("bench", "cdc", "streaming", "core", "llm", "contract").foreach { l =>
      m(s"$l.self_share") = if (windowMs <= 0) 0.0
        else window.filter(_.layer == l).map(s => self(s.id)).sum / windowMs
    }
    extra.foreach { case (k, v) => m(k) = v }
    c.result("layers") = m
    c.result("fs_counted") = fs.filter(_._2 != 0).keys.toSeq.sorted
    writeTrace(c, spans, self)
  }

  /** The span tree: client spans (workload → phase → call), micro-batch
    * spans split by their durationMs keys, and one span per Spark job.
    */
  private def buildSpans(c: Ctx, jobs: Seq[JobRec]): Seq[Span] = {
    val client = c.tracer.all
    val phases = client.filter(_.parent == c.root)
    val end = (client.map(_.end) :+ c.tracer.now()).max
    val out = mutable.ArrayBuffer[Span](Span(c.root, 0, c.workload, "bench",
      client.map(_.start).min, end))
    out ++= client
    def inner(t: Double, among: Seq[Span]) =
      among.filter(s => s.start <= t && t <= s.end).sortBy(_.ms).headOption
    val batchSpan = mutable.Map.empty[(String, Long), (Span, Span)]
    c.col.batches.asScala.toSeq.foreach { b =>
      val parent = inner(b.start, phases).map(_.id).getOrElse(c.root)
      val bs = Span(c.tracer.nextId(), parent, s"microbatch${b.batchId}", "streaming", b.start, b.end)
      out += bs
      var t = b.start
      BeforeAddBatch.foreach { k =>
        val d = b.dur.getOrElse(k, 0L).toDouble
        if (d > 0) out += Span(c.tracer.nextId(), bs.id, k, "streaming", t, t + d)
        t += d
      }
      val (as, ae) = addBatchInterval(b)
      val ab = Span(c.tracer.nextId(), bs.id, "addBatch", "streaming", as, ae)
      out += ab
      out += Span(c.tracer.nextId(), bs.id, "commitOffsets", "streaming", ae, b.end)
      batchSpan((b.queryId, b.batchId)) = (bs, ab)
    }
    val calls = client.filter(_.parent != c.root)
    jobs.foreach { j =>
      val s = j.start.toDouble
      val parent = j.batch.flatMap(batchSpan.get).map { case (bs, ab) =>
          if (s >= ab.start && s <= ab.end) ab.id else bs.id }
        .orElse(j.span.filter(id => client.exists(_.id == id)))
        .orElse(inner(s, calls).map(_.id))
        .orElse(inner(s, phases).map(_.id))
        .getOrElse(c.root)
      out += Span(c.tracer.nextId(), parent, s"job${j.jobId}", "core", s, j.end.toDouble)
    }
    out.toSeq
  }

  private def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.ms - Intervals.covered(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))))
    }.toMap
  }

  private def writeTrace(c: Ctx, spans: Seq[Span], self: Map[Int, Double]): Unit = {
    val run = Paths.get(c.work).getFileName.toString
    val lines = spans.sortBy(_.start).map(s => Json.write(mutable.LinkedHashMap(
      "run" -> run, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end,
      "self_ms" -> self(s.id))))
    Files.write(Paths.get(c.work, "spans.jsonl"), lines.asJava)
    val rows = Seq(("whole run", spans), ("measured window", spans.filter(_.start >= c.measureStart)))
      .flatMap { case (window, ss) =>
        val total = ss.map(s => self(s.id)).sum
        ss.groupBy(_.layer).toSeq.sortBy(-_._2.map(s => self(s.id)).sum).map { case (l, g) =>
          val st = g.map(s => self(s.id)).sum
          f"$window%-16s $l%-10s ${g.size}%7d ${g.map(_.ms).sum}%12.1f $st%12.1f ${100 * st / total}%6.1f%%"
        }
      }
    Files.write(Paths.get(c.work, "selftime.txt"),
      (f"${"window"}%-16s ${"layer"}%-10s ${"spans"}%7s ${"span_ms"}%12s ${"self_ms"}%12s ${"share"}%7s" +: rows).asJava)
  }
}
