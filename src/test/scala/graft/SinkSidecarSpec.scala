package graft

import graft.streaming.Sinks
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sink's layout sidecars (`_graft_buckets`, `_graft_bucket_cols`)
  * and the rollup's `_graft_last_batch` are replaced through
  * [[graft.ops.StateFiles]]: a crash inside the replace window — main
  * deleted, complete `.tmp` left behind — still reads as the pinned
  * value, so the next batch neither refuses nor re-sizes the layout.
  */
class SinkSidecarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTarget() =
    java.nio.file.Files.createTempDirectory("graft-sidecar").toString + "/t"

  /** Simulate a crash between the replace's delete and its rename. */
  private def crashInReplaceWindow(target: String, name: String): Unit = {
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(target, name), new Path(target, s"$name.tmp")))
    assert(!fs.exists(new Path(target, name)))
  }

  private def batch(rows: (Long, Long, String, String)*) =
    rows.toDF("key", "version", "op", "payload")

  test("_graft_buckets: a complete tmp with the main deleted keeps the pinned count") {
    val target = freshTarget()
    Sinks.applyUpsertBatch(batch((1 to 32).map(i => (i.toLong, 1L, "c", s"p$i")): _*),
      target, Seq("key"), "version", nBuckets = 8)
    crashInReplaceWindow(target, "_graft_buckets")
    // auto-size (nBuckets = 0) must resolve the pinned 8, not refuse
    Sinks.applyUpsertBatch(batch((1L, 2L, "u", "p1b"), (40L, 2L, "c", "p40")),
      target, Seq("key"), "version")
    val kbs = spark.read.parquet(target).select("__kb").distinct().as[Int].collect()
    assert(kbs.forall(kb => kb >= 0 && kb < 8), s"layout re-sized: ${kbs.toSeq}")
    val got = Sinks.currentState(spark, target).where(col("key").isin(1L, 40L))
      .select("key", "payload").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "p1b"), (40L, "p40")))
    assert(Sinks.currentState(spark, target).count() === 33L)
  }

  test("_graft_bucket_cols: a complete tmp with the main deleted keeps the pinned columns") {
    val target = freshTarget()
    def lines(rows: (Long, Long, Long, String)*) =
      rows.toDF("order", "line", "version", "payload").withColumn("op", lit("c"))
    Sinks.applyUpsertBatch(lines((1L, 1L, 1L, "a"), (1L, 2L, 1L, "b"), (2L, 1L, 1L, "c")),
      target, Seq("order", "line"), "version", nBuckets = 4, bucketCols = Seq("order"))
    crashInReplaceWindow(target, "_graft_bucket_cols")
    Sinks.applyUpsertBatch(lines((1L, 2L, 2L, "b2")),
      target, Seq("order", "line"), "version", nBuckets = 4, bucketCols = Seq("order"))
    assert(Sinks.currentState(spark, target).select("order", "line", "payload")
      .as[(Long, Long, String)].collect().toSet ===
      Set((1L, 1L, "a"), (1L, 2L, "b2"), (2L, 1L, "c")))
  }

  test("_graft_last_batch: a complete tmp with the main deleted still short-circuits a replay") {
    val target = freshTarget()
    def events(rows: (Long, Double)*) = rows.toDF("user_id", "value")
    Sinks.applyRollupBatch(events((1L, 1.0), (2L, 2.0)), target, Seq("user_id"),
      "value", nBuckets = 4, batchId = Some(0L))
    Sinks.applyRollupBatch(events((1L, 3.0)), target, Seq("user_id"), "value",
      batchId = Some(1L))
    crashInReplaceWindow(target, "_graft_last_batch")
    // the replay fast path reads the sidecar and returns before any job;
    // without it the replay falls through to the per-bucket guard scan
    val jobs = JobProbe.count(spark) {
      Sinks.applyRollupBatch(events((1L, 3.0)), target, Seq("user_id"), "value",
        batchId = Some(1L))
    }
    assert(jobs === 0, "the replay must be skipped from the sidecar alone")
    val state = Sinks.currentRollup(spark, target)
      .select(col("user_id"), col("cnt"), col("sum_val").cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    assert(state === Set((1L, 2L, 4.0), (2L, 1L, 2.0)))
  }

}
