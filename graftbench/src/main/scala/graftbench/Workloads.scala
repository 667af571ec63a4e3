package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.cdc.Envelope
import graft.streaming.{Ingest, Sinks}

/** The workloads, one per user of graft. Each runs one client in this JVM:
  * set-up first (not measured), then the measured window — an ingest loop
  * for the first part of `seconds`, then reads of what it produced — then
  * verification reads whose outcome `run.py` compares with the generator's
  * expectations.
  */
object Workloads {
  val Orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))

  val Lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))

  private val Meta = Seq("__op", "__ts_ms", "__lsn", "__deleted")

  /** Columns of the order-independent row hash; gen.py renders the same
    * canonical string (money and ratios in hundredths, dates ISO).
    */
  private def hashCols(schema: StructType): Seq[Column] = schema.fields.toSeq.map { f =>
    if (f.dataType == DoubleType) round(col(f.name) * 100).cast("long") else col(f.name)
  }

  /** (row count, sum of 40-bit row hashes) — exact in a long up to 2^23 rows. */
  def stateHash(df: DataFrame, schema: StructType): Seq[Long] = {
    val s = concat_ws("|", hashCols(schema).map(_.cast("string")): _*)
    val h = conv(substring(md5(s), 1, 10), 16, 10).cast("long")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head
    Seq(r.getLong(0), r.getLong(1))
  }

  /** The consumer's parse path: a text stream of Debezium JSON envelopes,
    * one file per micro-batch, through `Envelope.parse` and
    * `extractNewRecordState` (what `Envelope.cdcFileStream` does, plus the
    * rate limit it does not expose).
    */
  private def changeStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    Envelope.extractNewRecordState(Envelope.parse(
      spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(dir), schema))

  def table(spark: SparkSession, target: String): DataFrame =
    Sinks.currentState(spark, target, opCol = "__op").drop(Meta: _*)

  private def sorted(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq.sorted

  /** Change events in envelope files: one JSON envelope per line. */
  private def eventsIn(files: Seq[String]): Long = files.map { f =>
    val in = Files.newBufferedReader(Paths.get(f))
    try in.lines().count() finally in.close()
  }.sum

  private def failIfDead(q: StreamingQuery): Unit =
    q.exception.foreach(e => throw new IllegalStateException(s"stream failed: ${e.getMessage}", e))

  final case class Reads(spans: Seq[Span], first: Map[String, Seq[Seq[Any]]], mismatches: Int)

  /** Runs whole cycles of the named queries over freshly registered views:
    * `cycles` of them, then more while one is expected to end before
    * `until`. Every execution's result must equal that query's first result.
    */
  private def readLoop(c: Ctx, phase: Int, layer: String, names: Seq[String],
                       views: () => Unit, cycles: Int, until: Double): Reads = {
    val sqls = c.queries.toMap
    val spans = ArrayBuffer.empty[Span]
    val first = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]
    var mismatches = 0
    var cycleStart = c.tracer.now()
    var cycleMs = 0.0
    var i = 0
    while (i % names.size != 0 || i < cycles * names.size || c.tracer.now() + cycleMs <= until) {
      val name = names(i % names.size)
      val (rows, span) = c.tracer.span(name, layer, phase) { _ =>
        views()
        Rows.collect(c.spark.sql(sqls(name)))
      }
      spans += span
      first.get(name) match {
        case None => first(name) = rows
        case Some(r) => if (r != rows) mismatches += 1
      }
      i += 1
      if (i % names.size == 0) {
        cycleMs = c.tracer.now() - cycleStart
        cycleStart = c.tracer.now()
      }
    }
    Reads(spans.toSeq, first.toMap, mismatches)
  }

  /** The parse cost alone: the same envelope files through `Envelope.parse`
    * and `extractNewRecordState` into the `noop` sink. Median of three.
    */
  private def parseProbe(c: Ctx, files: Seq[String], schema: StructType): Double =
    Layers.p50((1 to 3).map { _ =>
      c.tracer.span("parse_probe", "cdc", c.root) { _ =>
        Envelope.extractNewRecordState(Envelope.parse(c.spark.read.text(files: _*), schema))
          .write.format("noop").mode("overwrite").save()
      }._2.ms
    })

  private def readResults(reads: Reads): Map[String, Any] =
    Map("names" -> reads.spans.map(_.name), "ms" -> reads.spans.map(_.ms),
      "mismatches" -> reads.mismatches)

  // ---------------------------------------------------------------- cdc_backlog

  /** Files kept queued ahead of the stream, so it never idles while the
    * client still has backlog to hand over.
    */
  private val Depth = 2
  private val WarmupBatches = 6
  private val ReportMix = Seq("q01", "q03", "q12", "q18")
  /** Share of the measured window given to draining. The report then runs
    * a fixed number of cycles (about the rest of the window), so every run
    * mixes the same share of first reads of the fresh table and of repeats:
    * a repeat runs about a quarter faster (warm file metadata and plans).
    */
  private val DrainShare = 0.7
  private val ReportCycles = 2

  /** A consumer restarts with a backlog: orders and lineitem are preloaded
    * through the upsert sink, then small orders change files drain one per
    * micro-batch; an analyst then runs the report mix over the fresh tables.
    */
  def cdcBacklog(c: Ctx): Unit = {
    val spark = c.spark
    val orders = c.path("tables/orders")
    val lineitem = c.path("tables/lineitem")
    val stage = c.path("stage")
    val watch = c.path("watch")
    Files.createDirectories(Paths.get(watch))
    val files = sorted(stage)
    c.phase("setup.preload") { _ =>
      Sinks.applyUpsertBatch(spark.read.parquet(c.path("snapshot/orders.parquet")), orders,
        Seq("o_orderkey"), "__lsn")
      Sinks.applyUpsertBatch(spark.read.parquet(c.path("snapshot/lineitem.parquet")), lineitem,
        Seq("l_orderkey", "l_linenumber"), "__lsn", bucketCols = Seq("l_orderkey"))
    }
    var fed = 0
    def feed(upTo: Int): Unit = while (fed < math.min(upTo, files.size)) {
      Files.move(Paths.get(stage, files(fed)), Paths.get(watch, files(fed)),
        StandardCopyOption.ATOMIC_MOVE)
      fed += 1
    }
    val q = Sinks.foreachBatchUpsert(changeStream(spark, watch, Orders), orders,
      c.path("ckpt"), Seq("o_orderkey"), "__lsn", trigger = Trigger.ProcessingTime(0L))
    val qid = q.id.toString
    def done(): Int = c.col.batchesOf(qid).count(_.inputRows > 0)
    def pump(limit: Int)(stop: => Boolean): Unit = while (!stop) {
      failIfDead(q)
      feed(math.min(done() + Depth, limit))
      Thread.sleep(2)
    }
    def views(): Unit = {
      table(spark, orders).createOrReplaceTempView("orders")
      table(spark, lineitem).createOrReplaceTempView("lineitem")
      Seq("customer", "nation").foreach(n =>
        spark.read.parquet(c.path(s"dims/$n.parquet")).createOrReplaceTempView(n))
    }
    c.phase("setup.warmup") { ph =>
      // the report first, so the window's first batch follows warm batches
      readLoop(c, ph, "contract", ReportMix, views _, 1, 0)
      pump(WarmupBatches)(done() >= WarmupBatches)
    }
    c.startMeasuring()
    val listed0 = if (c.trace) Listing.of(orders) else null
    val ingestEnd = c.deadline(DrainShare)
    // hand over another file only while the queue is expected to drain
    // before the ingest share of the window ends
    def lastMs = c.col.batchesOf(qid).filter(_.inputRows > 0).last.dur("triggerExecution")
    c.phase("drain") { _ =>
      pump(files.size)(fed == files.size ||
        c.tracer.now() + (fed - done()) * lastMs > ingestEnd)
      pump(fed)(done() >= fed)
    }
    c.col.drain(Some(qid), fed)
    val measured = c.col.batchesOf(qid).filter(_.inputRows > 0).drop(WarmupBatches)
    val drainWall = measured.last.end - c.measureStart
    val drained = files.slice(WarmupBatches, fed).map(f => Paths.get(watch, f).toString)
    val events = eventsIn(drained)
    val fsDrain = if (c.trace) FsStats.snapshot() else Map.empty[String, Long]
    q.stop() // the report reads a table no stream is writing or polling for
    val reads = c.phase("report") { ph =>
      readLoop(c, ph, "contract", ReportMix, views _, ReportCycles, 0)
    }
    c.result("window_end_epoch_ms") = c.tracer.now()
    c.result("ingest") = Map("events" -> events, "wall_ms" -> drainWall,
      "batch_ms" -> measured.map(_.dur("triggerExecution")))
    c.result("reads") = readResults(reads)
    c.result("check") = Map("files_fed" -> fed,
      "state" -> Map("orders" -> stateHash(table(spark, orders), Orders),
        "lineitem" -> stateHash(table(spark, lineitem), Lineitem)),
      "results" -> reads.first)
    if (c.trace) {
      val parseMs = parseProbe(c, drained, Orders)
      val listed1 = Listing.of(orders)
      Layers.report(c,
        ingestOps = measured.map(b => Op(s"batch${b.batchId}", b.start, b.end, None, Some(qid -> b.batchId))),
        readOps = reads.spans.map(s => Op(s.name, s.start, s.end, Some(s.id), None)),
        fsWindow = (c.fsAtMeasure, fsDrain), ingest = measured, events = events,
        extra = Map(
          "cdc.parse_ms_per_kevent" -> parseMs / (events / 1000.0),
          "cdc.parse_share" -> parseMs / drainWall,
          "streaming.buckets_total" -> listed1.buckets.toDouble,
          "streaming.buckets_changed" -> listed1.bucketFiles.count { case (b, fs) =>
            !listed0.bucketFiles.get(b).contains(fs) }.toDouble,
          "streaming.table_files" -> listed1.files.toDouble,
          "streaming.table_bytes" -> listed1.bytes.toDouble) ++
          ReportMix.map(n => s"core.${n}_ms_p50" ->
            Layers.p50(reads.spans.filter(_.name == n).map(_.ms))))
    }
  }

  // ---------------------------------------------------------------- curate

  /** Share of the measured window turns may end in (one always runs). */
  private val TurnShare = 0.85
  /** The reader is cheap: set-up runs it for a while to warm it up, and the
    * window runs it a fixed number of times after the turns.
    */
  private val ReaderWarmupMs = 1000.0
  private val ReaderRuns = 16

  /** A curation pipeline admits document batches, one `curateBatch` turn
    * each, against a quality gate trained in set-up; a reader then counts
    * the admitted corpus per source.
    */
  def curate(c: Ctx): Unit = {
    val spark = c.spark
    val batches = sorted(c.path("batches"))
    val model = c.path("model")
    val index = c.path("lsh")
    val admitted = c.path("corpus/t")
    val novelty = c.path("novelty")
    def turn(i: Int): Unit = Ingest.curateBatch(
      spark.read.parquet(c.path(s"batches/${batches(i)}")), i.toLong, model, Seq("en"),
      index, admitted, novelty, "text", "doc_id",
      shingleN = 3, k = 16, bands = 4, threshold = 0.8)
    def views(): Unit = Ingest.admitted(spark, admitted).createOrReplaceTempView("admitted")
    c.phase("setup.train") { _ =>
      graft.llm.Classifier.nbWrite(spark.read.parquet(c.path("train.parquet")), "text", "lang", model)
    }
    val warm = 1
    c.phase("setup.warmup") { ph =>
      (0 until warm).foreach(turn)
      readLoop(c, ph, "streaming", Seq("curate_sources"), views _, 1, c.tracer.now() + ReaderWarmupMs)
    }
    c.startMeasuring()
    val ingestEnd = c.deadline(TurnShare)
    val turns = ArrayBuffer.empty[Span]
    c.phase("turns") { ph =>
      var i = warm
      // another turn only while it is expected to end within the ingest share
      while (i < batches.size && (i == warm || c.tracer.now() + turns.last.ms <= ingestEnd)) {
        turns += c.tracer.span(s"turn$i", "llm", ph)(_ => turn(i))._2
        i += 1
      }
    }
    val turnsWall = turns.last.end - c.measureStart
    val fsTurns = if (c.trace) FsStats.snapshot() else Map.empty[String, Long]
    val reads = c.phase("read") { ph =>
      readLoop(c, ph, "streaming", Seq("curate_sources"), views _, ReaderRuns, 0)
    }
    c.result("window_end_epoch_ms") = c.tracer.now()
    c.result("ingest") = Map("turns" -> turns.size, "warmup_turns" -> warm,
      "wall_ms" -> turnsWall, "batch_ms" -> turns.map(_.ms))
    c.result("reads") = readResults(reads)
    c.result("check") = Map(
      "admitted_ids" -> Ingest.admitted(spark, admitted).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSeq,
      "sources" -> reads.first("curate_sources"))
    if (c.trace) {
      Layers.report(c,
        ingestOps = turns.map(s => Op(s.name, s.start, s.end, Some(s.id), None)).toSeq,
        readOps = reads.spans.map(s => Op(s.name, s.start, s.end, Some(s.id), None)),
        fsWindow = (c.fsAtMeasure, fsTurns), ingest = Nil, events = 0,
        extra = Map("llm.index_bytes" -> (Listing.bytesUnder(index) + Listing.bytesUnder(novelty)).toDouble))
    }
  }
}
