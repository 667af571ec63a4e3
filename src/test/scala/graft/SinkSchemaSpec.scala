package graft

import graft.streaming.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A8c — schema evolution through the upsert sink (round 15): widening
  * absorbs in place (added nullable column, old buckets backfill null,
  * no rewrite), narrowing and type changes refuse loudly (restart-level
  * DDL), and the pinned schema survives compaction.
  */
class SinkSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTarget() =
    java.nio.file.Files.createTempDirectory("graft-sinksch").toString + "/t"

  test("widening absorbs in place; old buckets read the new column as null") {
    val target = freshTarget()
    Sinks.applyUpsertBatch(
      Seq((1L, 10L, "u", "a"), (2L, 11L, "u", "b"))
        .toDF("key", "version", "op", "payload"),
      target, Seq("key"), "version", nBuckets = 4)
    // the DDL: an added nullable column arrives on the restarted stream
    Sinks.applyUpsertBatch(
      Seq((2L, 12L, "u", "b2", 2.5d), (3L, 13L, "c", "c", 3.5d))
        .toDF("key", "version", "op", "payload", "extra"),
      target, Seq("key"), "version", nBuckets = 4)
    val got = Sinks.currentState(spark, target)
      .select(col("key"), col("payload"), col("extra"))
      .as[(Long, String, Option[Double])].collect().toSet
    assert(got === Set((1L, "a", None), (2L, "b2", Some(2.5d)), (3L, "c", Some(3.5d))),
      "pre-widening winners must read the new column as null")
    // the pin survives compaction (old buckets rewritten WITH the column)
    Sinks.compact(spark, target)
    val after = Sinks.currentState(spark, target)
      .select(col("key"), col("payload"), col("extra"))
      .as[(Long, String, Option[Double])].collect().toSet
    assert(after === got, "compaction must preserve the widened schema")
    // and a same-schema follow-up batch still applies
    Sinks.applyUpsertBatch(
      Seq((1L, 20L, "u", "a2", 1.5d)).toDF("key", "version", "op", "payload", "extra"),
      target, Seq("key"), "version", nBuckets = 4)
    assert(Sinks.currentState(spark, target).where(col("key") === 1L)
      .select("payload").as[String].head() === "a2")
  }

  test("a partial first-pin schema tmp degrades to a fresh pin, not a bricked table") {
    // crash DURING the first-ever schema-pin write: a partial tmp, no
    // main — the next batch must re-pin from its own schema (r16 advice)
    val target = freshTarget()
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpPin = new org.apache.hadoop.fs.Path(target, "_graft_schema.tmp")
    val out = fs.create(tmpPin, true)
    try out.write("""{"type":"struct","fields":[{"na""".getBytes("UTF-8"))
    finally out.close() // truncated mid-JSON
    Sinks.applyUpsertBatch(
      Seq((1L, 10L, "u", "a")).toDF("key", "version", "op", "payload"),
      target, Seq("key"), "version", nBuckets = 4)
    val got = Sinks.currentState(spark, target)
      .select(col("key"), col("payload")).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a")),
      "a malformed staged pin must degrade to a clean first write")
    // and the re-pin is now the real schema: a widening still absorbs
    Sinks.applyUpsertBatch(
      Seq((2L, 11L, "u", "b", 2.0d)).toDF("key", "version", "op", "payload", "extra"),
      target, Seq("key"), "version", nBuckets = 4)
    assert(Sinks.currentState(spark, target).count() === 2L)
  }

  test("narrowing and type changes refuse loudly") {
    val target = freshTarget()
    Sinks.applyUpsertBatch(
      Seq((1L, 10L, "u", "a", 1.0d)).toDF("key", "version", "op", "payload", "extra"),
      target, Seq("key"), "version", nBuckets = 4)
    val narrow = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatch(
        Seq((2L, 11L, "u", "b")).toDF("key", "version", "op", "payload"),
        target, Seq("key"), "version", nBuckets = 4)
    }
    assert(narrow.getMessage.contains("NARROWING"))
    val retype = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatch(
        Seq((2L, 11L, "u", "b", "oops")).toDF("key", "version", "op", "payload", "extra"),
        target, Seq("key"), "version", nBuckets = 4)
    }
    assert(retype.getMessage.contains("type changes"))
    // neither refusal moved the table
    assert(Sinks.currentState(spark, target).count() === 1L)
  }

  test("bucketCols cluster the layout on a key subset; the pin refuses drift (r18)") {
    val target = freshTarget()
    // merge key (key, sub), layout on key alone — a key's rows land in
    // ONE bucket dir regardless of sub, the cluster-by-join-key shape
    Sinks.applyUpsertBatch(
      Seq((1L, 1L, 10L, "u", "a"), (1L, 2L, 10L, "u", "b"),
        (2L, 1L, 10L, "u", "c"))
        .toDF("key", "sub", "version", "op", "payload"),
      target, Seq("key", "sub"), "version", nBuckets = 4,
      bucketCols = Seq("key"))
    // key 1's two sub-rows share one bucket: their dirs under __kb= must
    // hold both rows of key 1 together
    val byBucket = spark.read.parquet(target)
      .groupBy("key").agg(org.apache.spark.sql.functions
        .countDistinct("__kb").as("nb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBucket(1L) === 1L, "one key, one bucket — sub must not scatter it")
    // a later batch merges the key-subset layout correctly (latest wins
    // per (key, sub), pruned by the key-hash bucket)
    Sinks.applyUpsertBatch(
      Seq((1L, 2L, 11L, "u", "B")).toDF("key", "sub", "version", "op", "payload"),
      target, Seq("key", "sub"), "version", nBuckets = 4,
      bucketCols = Seq("key"))
    val cur = Sinks.currentState(spark, target)
      .select("key", "sub", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(cur === Set((1L, 1L, "a"), (1L, 2L, "B"), (2L, 1L, "c")))
    // layout drift refuses: different bucketCols would prune wrong buckets
    val drift = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatch(
        Seq((3L, 1L, 12L, "u", "d")).toDF("key", "sub", "version", "op", "payload"),
        target, Seq("key", "sub"), "version", nBuckets = 4)
    }
    assert(drift.getMessage.contains("bucketed on"))
    // and bucketCols outside the merge key refuse outright
    val outside = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatch(
        Seq((3L, 1L, 12L, "u", "d")).toDF("key", "sub", "version", "op", "payload"),
        freshTarget(), Seq("key"), "version", nBuckets = 4,
        bucketCols = Seq("payload"))
    }
    assert(outside.getMessage.contains("subset of keyCols"))
    // a NON-default bucketCols over a table that already holds
    // keyCols-hashed data (no sidecar) refuses — re-hashing on a subset
    // would prune the wrong buckets (r18 review)
    val legacy = freshTarget()
    Sinks.applyUpsertBatch(
      Seq((1L, 1L, 10L, "u", "a")).toDF("key", "sub", "version", "op", "payload"),
      legacy, Seq("key", "sub"), "version", nBuckets = 4)
    val rehash = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatch(
        Seq((2L, 1L, 11L, "u", "b")).toDF("key", "sub", "version", "op", "payload"),
        legacy, Seq("key", "sub"), "version", nBuckets = 4,
        bucketCols = Seq("key"))
    }
    assert(rehash.getMessage.contains("existing layout"))
  }

  test("the upsert pins its merge key: a different key set refuses, also on a table written before the pin") {
    val target = freshTarget()
    def keyed(from: Long, to: Long, v: Long) = spark.range(from, to).select(
      col("id").as("k"), (col("id") % 3).as("sub"), lit(v).as("version"),
      lit("u").as("op"), concat(lit(s"p$v-"), col("id").cast("string")).as("payload"))
    Sinks.applyUpsertBatch(keyed(0L, 200L, 1L), target, Seq("k"), "version", nBuckets = 4)
    val drift = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatch(keyed(160L, 240L, 2L), target, Seq("k", "sub"), "version")
    }
    assert(drift.getMessage.contains("merges on keyCols=k; got k,sub"), drift.getMessage)
    assert(Sinks.currentState(spark, target).count() === 200L, "the refusal moved the table")
    // a table written before the key pin existed: the next batch pins its key
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(target, "_graft_key_cols"), false))
    Sinks.applyUpsertBatch(keyed(150L, 250L, 2L), target, Seq("k"), "version")
    intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatch(keyed(160L, 240L, 3L), target, Seq("k", "sub"), "version")
    }
    val live = Sinks.currentState(spark, target)
    assert(live.count() === 250L && live.select("k").distinct().count() === 250L)
  }

  test("the rollup pins its merge key: a reordered or widened key set refuses") {
    def events(v: Long) = spark.range(0, 100).select((col("id") % 10).as("a"),
      (col("id") % 7).as("b"), lit(v.toDouble).as("value"))
    val target = freshTarget()
    Sinks.applyRollupBatch(events(1L), target, Seq("a", "b"), "value",
      nBuckets = 4, batchId = Some(0L))
    val reordered = intercept[IllegalArgumentException] {
      Sinks.applyRollupBatch(events(2L), target, Seq("b", "a"), "value", batchId = Some(1L))
    }
    assert(reordered.getMessage.contains("merges on keyCols=a,b; got b,a"), reordered.getMessage)
    val narrow = freshTarget()
    Sinks.applyRollupBatch(events(1L), narrow, Seq("a"), "value",
      nBuckets = 4, batchId = Some(0L))
    val widened = intercept[IllegalArgumentException] {
      Sinks.applyRollupBatch(events(2L), narrow, Seq("a", "b"), "value", batchId = Some(1L))
    }
    assert(widened.getMessage.contains("merges on keyCols=a; got a,b"), widened.getMessage)
    val rollup = Sinks.currentRollup(spark, target)
    assert(rollup.count() === 70L && rollup.select("a", "b").distinct().count() === 70L)
  }
}
