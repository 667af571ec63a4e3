package graft

import graft.streaming.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Spark jobs one steady batch of each directory sink runs: a 40k-row
  * table pinned at 16 buckets takes a 4k-row batch that touches every
  * bucket. The counts are pinned exactly, so a change that adds a job to
  * the steady path (a count, a second read, a guard scan) or drops one
  * shows here. The clustered sink's count is pinned in
  * `ClusteredSinkSpec`.
  */
class SinkJobBudgetSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private val Buckets = 16

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sink-jobs").toString + "/t"

  // 40k orders-style rows: key k, version v (all 1), op u
  private def orders(s: SparkSession): DataFrame =
    s.range(0, 40000).select(col("id").as("k"), lit(1L).as("v"), lit("u").as("op"),
      concat(lit("p"), col("id").cast("string")).as("payload"))

  // updates, deletes, inserts of new keys and stale versions, over every bucket
  private def ordersBatch(s: SparkSession): DataFrame =
    s.range(0, 4000).select(
      when(col("id") % 5 === 4, col("id") + 100000).otherwise(col("id") * 10).as("k"),
      when(col("id") % 5 === 3, lit(0L)).otherwise(lit(2L)).as("v"),
      when(col("id") % 5 === 1, lit("d")).otherwise(lit("u")).as("op"),
      concat(lit("b"), col("id").cast("string")).as("payload"))

  /** Assert `body` runs exactly `want` Spark jobs, listing them if not. */
  private def assertJobs(want: Int)(body: => Unit): Unit = {
    val jobs = JobProbe.jobs(spark)(body)
    assert(jobs.size === want, jobs.mkString("jobs:\n", "\n", ""))
  }

  test("a steady upsert batch runs 3 jobs") {
    val target = freshDir()
    Sinks.applyUpsertBatch(orders(spark), target, Seq("k"), "v", nBuckets = Buckets)
    assertJobs(3)(Sinks.applyUpsertBatch(ordersBatch(spark), target, Seq("k"), "v"))
  }

  test("a steady upsert batch of the lineitem layout (bucketCols within keyCols) runs 3 jobs") {
    val target = freshDir()
    def lines(df: DataFrame) = df.select((col("k") / 4).cast("long").as("k"),
      (col("k") % 4).as("line"), col("v"), col("op"), col("payload"))
    Sinks.applyUpsertBatch(lines(orders(spark)), target, Seq("k", "line"), "v",
      nBuckets = Buckets, bucketCols = Seq("k"))
    assertJobs(3)(Sinks.applyUpsertBatch(lines(ordersBatch(spark)), target, Seq("k", "line"),
      "v", bucketCols = Seq("k")))
  }

  test("a steady truncate-sink batch without a truncate runs 4 jobs") {
    val target = freshDir()
    Sinks.applyUpsertBatchWithTruncates(orders(spark), target, Seq("k"), "v",
      nBuckets = Buckets)
    assertJobs(4)(Sinks.applyUpsertBatchWithTruncates(ordersBatch(spark), target,
      Seq("k"), "v"))
  }

  test("a steady heartbeat-sink batch runs 3 jobs, the upsert's count") {
    val target = freshDir()
    Sinks.applyUpsertBatchWithHeartbeats(orders(spark), target, Seq("k"), "v",
      nBuckets = Buckets)
    val beats = spark.range(0, 4).select(lit(null).cast("long").as("k"),
      (col("id") + 3L).as("v"), lit("h").as("op"), lit(null).cast("string").as("payload"))
    assertJobs(3)(Sinks.applyUpsertBatchWithHeartbeats(
      ordersBatch(spark).unionByName(beats), target, Seq("k"), "v"))
    assert(Sinks.readOffsetLedger(spark, target) === Some(6L))
  }

  test("a steady rollup batch runs 9 jobs") {
    val target = freshDir()
    def events(df: DataFrame) = df.select((col("k") % 20000).as("user_id"),
      col("v").cast("double").as("value"))
    Sinks.applyRollupBatch(events(orders(spark)), target, Seq("user_id"), "value",
      nBuckets = Buckets, batchId = Some(0L))
    assertJobs(9)(Sinks.applyRollupBatch(events(ordersBatch(spark)), target,
      Seq("user_id"), "value", batchId = Some(1L)))
  }

  test("compacting a pinned table runs 2 jobs") {
    val target = freshDir()
    Sinks.applyUpsertBatch(orders(spark), target, Seq("k"), "v", nBuckets = Buckets)
    assertJobs(2)(Sinks.compact(spark, target))
  }
}
