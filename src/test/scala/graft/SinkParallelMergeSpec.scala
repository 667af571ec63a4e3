package graft

import graft.cdc.Materialize
import graft.ops.StateFiles
import graft.streaming.Sinks
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every bucket-commit writer of the sinks rewrites its buckets on
  * `min(buckets, spark.sql.shuffle.partitions)` tasks, with AQE and its
  * partition coalescing left on: a micro-batch's few MB of touched
  * buckets must not fold into one serial write task. Each rewritten
  * `__kb=` dir still holds exactly one data file, and the rows are the
  * ones the batch semantics define. A full rewrite puts bucket k on task
  * k mod n, and a fresh auto-sized table has one bucket per write task.
  */
class SinkParallelMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Buckets = 16

  private def shufflePartitions(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sink-parallel").toString + "/t"

  /** The task count of every stage that wrote output among the jobs
    * `body` ran, in stage order. Jobs are told apart by job group; the
    * listener bus is asynchronous, so a marker job run after `body` is
    * awaited before the counts are read (the bus delivers in order).
    */
  private def writeStageTasks(s: SparkSession)(body: => Unit): Seq[Int] = {
    val sc = s.sparkContext
    val group = "sink-parallel-" + java.util.UUID.randomUUID()
    val marker = group + "-marker"
    val ours = ConcurrentHashMap.newKeySet[Int]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val writes = new ConcurrentHashMap[Int, Int]()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)  => e.stageIds.foreach(ours.add)
          case Some(`marker`) => markerJobs.add(e.jobId)
          case _              =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        if (ours.contains(info.stageId) && info.taskMetrics != null &&
            info.taskMetrics.outputMetrics.bytesWritten > 0)
          writes.put(info.stageId, info.numTasks)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "sink write under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener-bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the marker job end")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    writes.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  /** Data files per `__kb=` dir of a directory-sink table. */
  private def filesPerBucket(target: String): Map[String, Int] =
    new java.io.File(target).listFiles().filter(_.getName.startsWith("__kb="))
      .map(d => d.getName -> d.listFiles().count(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))
      .toMap

  /** The write task of each `__kb=` dir, read from its data file's
    * `part-NNNNN` index (the partition id of the task that wrote it).
    */
  private def taskOfBucket(target: String): Map[Int, Int] =
    new java.io.File(target).listFiles().filter(_.getName.startsWith("__kb="))
      .map { d =>
        val tasks = d.listFiles().map(_.getName).filter(n =>
          n.startsWith("part-") && n.endsWith(".parquet")).map(_.slice(5, 10).toInt).distinct
        assert(tasks.length === 1, s"${d.getName} was written by tasks ${tasks.toSeq}")
        d.getName.stripPrefix("__kb=").toInt -> tasks.head
      }.toMap

  /** Every bucket of a fully rewritten table sits on task `kb mod n`, so
    * each of the `n` write tasks holds the same number of buckets.
    */
  private def assertPlacement(target: String, n: Int): Unit = {
    val placed = taskOfBucket(target)
    assert(placed.keySet === (0 until Buckets).toSet)
    assert(placed.forall { case (kb, task) => task === kb % n }, placed.toSeq.sorted)
    assert(placed.values.groupBy(identity).values.map(_.size).toSet === Set(Buckets / n),
      placed.toSeq.sorted)
  }

  /** The bucket count a table pinned on its first write. */
  private def pinnedBuckets(s: SparkSession, target: String): Option[Int] = {
    val fs = new Path(target).getFileSystem(s.sparkContext.hadoopConfiguration)
    StateFiles.read(fs, new Path(target, "_graft_buckets"))(_.toInt)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  // 40k orders-style rows: key k, version v (all 1), op u
  private def orders(s: SparkSession): DataFrame =
    s.range(0, 40000).select(col("id").as("k"), lit(1L).as("v"), lit("u").as("op"),
      concat(lit("p"), col("id").cast("string")).as("payload"))

  // a batch that reaches every bucket: updates, deletes, inserts of new
  // keys, and stale versions (v = 0) that must lose to the stored row
  private def ordersBatch(s: SparkSession): DataFrame =
    s.range(0, 4000).select(
      when(col("id") % 5 === 4, col("id") + 100000).otherwise(col("id") * 10).as("k"),
      when(col("id") % 5 === 3, lit(0L)).otherwise(lit(2L)).as("v"),
      when(col("id") % 5 === 1, lit("d")).otherwise(lit("u")).as("op"),
      concat(lit("b"), col("id").cast("string")).as("payload"))

  private def expectedUpsert(preload: DataFrame, batch: DataFrame, keyCols: Seq[String]) =
    sorted(Materialize.latestByKey(preload.unionByName(batch), keyCols, Seq(col("v")))
      .where(col("op") =!= "d"))

  private def checkUpsert(s: SparkSession): Unit = {
    val target = freshDir()
    Sinks.applyUpsertBatch(orders(s), target, Seq("k"), "v", nBuckets = Buckets)
    val tasks = writeStageTasks(s) {
      Sinks.applyUpsertBatch(ordersBatch(s), target, Seq("k"), "v")
    }
    assert(tasks === Seq(math.min(Buckets, shufflePartitions(s))),
      "the merge write runs one task per bucket, capped by the shuffle partitions")
    val files = filesPerBucket(target)
    assert(files.size === Buckets && files.values.forall(_ === 1), files)
    assert(sorted(Sinks.currentState(s, target)) ===
      expectedUpsert(orders(s), ordersBatch(s), Seq("k")))
  }

  test("an upsert batch touching every bucket rewrites them on parallel tasks") {
    checkUpsert(spark)
  }

  test("the upsert merge gives the same rows with AQE off") {
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    checkUpsert(noAqe)
  }

  test("the lineitem layout (bucketCols a subset of keyCols) rewrites on parallel tasks") {
    val target = freshDir()
    // 10k orders x 4 lines, bucketed on the order key only
    val lines = spark.range(0, 40000).select((col("id") / 4).cast("long").as("ok"),
      (col("id") % 4).as("ln"), lit(1L).as("v"), lit("u").as("op"))
    val batch = spark.range(0, 3000).select((col("id") * 3).as("ok"),
      (col("id") % 6).as("ln"), lit(2L).as("v"),
      when(col("id") % 7 === 0, lit("d")).otherwise(lit("u")).as("op"))
    Sinks.applyUpsertBatch(lines, target, Seq("ok", "ln"), "v", nBuckets = Buckets,
      bucketCols = Seq("ok"))
    val tasks = writeStageTasks(spark) {
      Sinks.applyUpsertBatch(batch, target, Seq("ok", "ln"), "v", bucketCols = Seq("ok"))
    }
    assert(tasks === Seq(math.min(Buckets, shufflePartitions(spark))))
    val files = filesPerBucket(target)
    assert(files.size === Buckets && files.values.forall(_ === 1), files)
    assert(sorted(Sinks.currentState(spark, target)) ===
      expectedUpsert(lines, batch, Seq("ok", "ln")))
  }

  test("a rollup batch merges its live buckets on parallel tasks") {
    val target = freshDir()
    def events(from: Long, to: Long) = spark.range(from, to)
      .select((col("id") % 997).as("g"), (col("id") % 13).cast("double").as("x"))
    Sinks.applyRollupBatch(events(0, 40000), target, Seq("g"), "x", nBuckets = Buckets,
      batchId = Some(0L))
    val tasks = writeStageTasks(spark) {
      Sinks.applyRollupBatch(events(40000, 44000), target, Seq("g"), "x",
        batchId = Some(1L))
    }
    assert(tasks === Seq(math.min(Buckets, shufflePartitions(spark))))
    val files = filesPerBucket(target)
    assert(files.size === Buckets && files.values.forall(_ === 1), files)
    val expected = events(0, 44000).groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"), sum(col("x").cast("decimal(18,6)")).as("sum_val"))
      .select(col("g"), col("cnt"), col("sum_val").cast("decimal(18,6)"))
    assert(sorted(Sinks.currentRollup(spark, target).select("g", "cnt", "sum_val")) ===
      sorted(expected))
  }

  test("a truncate rewrites its mixed buckets on parallel tasks") {
    val target = freshDir()
    // versions 1..40000: every bucket holds rows on both sides of the cut
    val pre = spark.range(0, 40000).select(col("id").as("k"), (col("id") + 1).as("v"),
      lit("u").as("op"))
    Sinks.applyUpsertBatchWithTruncates(pre, target, Seq("k"), "v", nBuckets = Buckets)
    val cut = Seq((Option.empty[Long], 20000L, "t")).toDF("k", "v", "op")
    val tasks = writeStageTasks(spark) {
      Sinks.applyUpsertBatchWithTruncates(cut, target, Seq("k"), "v")
    }
    assert(tasks === Seq(math.min(Buckets, shufflePartitions(spark))))
    val files = filesPerBucket(target)
    assert(files.size === Buckets && files.values.forall(_ === 1), files)
    assert(sorted(Sinks.currentState(spark, target)) === sorted(pre.where(col("v") > 20000L)))
  }

  test("compact rewrites the pinned buckets on parallel tasks") {
    val target = freshDir()
    Sinks.applyUpsertBatch(orders(spark), target, Seq("k"), "v", nBuckets = Buckets)
    val before = sorted(Sinks.currentState(spark, target))
    val tasks = writeStageTasks(spark)(Sinks.compact(spark, target))
    assert(tasks === Seq(math.min(Buckets, shufflePartitions(spark))))
    val files = filesPerBucket(target)
    assert(files.size === Buckets && files.values.forall(_ === 1), files)
    assert(sorted(Sinks.currentState(spark, target)) === before)
  }

  test("an all-touched merge and compact put bucket k on write task k mod n") {
    val target = freshDir()
    val n = math.min(Buckets, shufflePartitions(spark))
    Sinks.applyUpsertBatch(orders(spark), target, Seq("k"), "v", nBuckets = Buckets)
    Sinks.applyUpsertBatch(ordersBatch(spark), target, Seq("k"), "v")
    assertPlacement(target, n)
    val merged = sorted(Sinks.currentState(spark, target))
    assert(merged === expectedUpsert(orders(spark), ordersBatch(spark), Seq("k")))
    Sinks.compact(spark, target)
    assertPlacement(target, n)
    assert(sorted(Sinks.currentState(spark, target)) === merged)
  }

  /** A fresh auto-sized table of `s` pins the write parallelism. */
  private def checkFloor(s: SparkSession): Unit = {
    val target = freshDir()
    val want = math.min(s.sparkContext.defaultParallelism, shufflePartitions(s))
    Sinks.applyUpsertBatch(orders(s), target, Seq("k"), "v")
    assert(pinnedBuckets(s, target) === Some(want))
    val files = filesPerBucket(target)
    assert(files.size === want && files.values.forall(_ === 1), files)
    Sinks.applyUpsertBatch(ordersBatch(s), target, Seq("k"), "v")
    assert(pinnedBuckets(s, target) === Some(want), "later batches reuse the pin")
    assert(sorted(Sinks.currentState(s, target)) ===
      expectedUpsert(orders(s), ordersBatch(s), Seq("k")))
  }

  test("a fresh auto-sized table pins min(defaultParallelism, shuffle partitions) buckets") {
    checkFloor(spark)
    val fewer = spark.newSession()
    fewer.conf.set("spark.sql.shuffle.partitions", "2")
    checkFloor(fewer)
  }

  test("the auto-size floor is the same with AQE off") {
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    checkFloor(noAqe)
  }

  test("the clustered sink inserts its touched partitions on parallel tasks") {
    val t = "sink_parallel_clustered"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // a failed run can leave the managed location behind its dropped table
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"spark-warehouse/$t"))
    try {
      Sinks.applyUpsertBatchClustered(orders(spark), t, Seq("k"), "v", Seq("k"),
        nBuckets = 2, nKbParts = Buckets)
      val tasks = writeStageTasks(spark) {
        Sinks.applyUpsertBatchClustered(ordersBatch(spark), t, Seq("k"), "v", Seq("k"),
          nBuckets = 2, nKbParts = Buckets)
      }
      assert(tasks === Seq(math.min(Buckets, shufflePartitions(spark))))
      assert(sorted(Sinks.currentStateClustered(spark, t)) ===
        expectedUpsert(orders(spark), ordersBatch(spark), Seq("k")))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
