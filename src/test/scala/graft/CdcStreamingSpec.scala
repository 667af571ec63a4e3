package graft

import graft.cdc.{Envelope, Materialize}
import graft.streaming.{Replay, Stateful, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** CDC golden-fixture tests (FIXTURES.md §3) and streaming semantics tests
  * (watermark drops, checkpoint recovery, batch equivalence).
  */
class CdcStreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- golden CDC envelope fixture --------------------------------------

  /** Deterministic Debezium-style changelog over customer-shaped rows:
    * snapshot (r) of keys 1,2 → insert key 3 → update key 1 →
    * delete key 2 → out-of-order update of key 3 (lsn 6 delivered before 5)
    * → insert-after-delete on key 2 → one tombstone (null op/after).
    */
  private val goldenLines = Seq(
    """{"before":null,"after":{"c_custkey":1,"c_name":"a","c_nationkey":0,"c_acctbal":10.0,"c_mktsegment":"X"},"source":{"connector":"g","db":"d","schema":"s","table":"customer","lsn":1,"snapshot":true,"ts_ms":1000},"op":"r","ts_ms":1000}""",
    """{"before":null,"after":{"c_custkey":2,"c_name":"b","c_nationkey":0,"c_acctbal":20.0,"c_mktsegment":"X"},"source":{"connector":"g","db":"d","schema":"s","table":"customer","lsn":1,"snapshot":true,"ts_ms":1000},"op":"r","ts_ms":1000}""",
    """{"before":null,"after":{"c_custkey":3,"c_name":"c","c_nationkey":1,"c_acctbal":30.0,"c_mktsegment":"Y"},"source":{"connector":"g","db":"d","schema":"s","table":"customer","lsn":2,"snapshot":false,"ts_ms":2000},"op":"c","ts_ms":2000}""",
    """{"before":{"c_custkey":1,"c_name":"a","c_nationkey":0,"c_acctbal":10.0,"c_mktsegment":"X"},"after":{"c_custkey":1,"c_name":"a2","c_nationkey":0,"c_acctbal":11.0,"c_mktsegment":"X"},"source":{"connector":"g","db":"d","schema":"s","table":"customer","lsn":3,"snapshot":false,"ts_ms":3000},"op":"u","ts_ms":3000}""",
    """{"before":{"c_custkey":2,"c_name":"b","c_nationkey":0,"c_acctbal":20.0,"c_mktsegment":"X"},"after":null,"source":{"connector":"g","db":"d","schema":"s","table":"customer","lsn":4,"snapshot":false,"ts_ms":4000},"op":"d","ts_ms":4000}""",
    // out-of-order delivery: lsn 6 arrives before lsn 5
    """{"before":{"c_custkey":3,"c_name":"c2","c_nationkey":1,"c_acctbal":31.0,"c_mktsegment":"Y"},"after":{"c_custkey":3,"c_name":"c3","c_nationkey":1,"c_acctbal":32.0,"c_mktsegment":"Y"},"source":{"connector":"g","db":"d","schema":"s","table":"customer","lsn":6,"snapshot":false,"ts_ms":6000},"op":"u","ts_ms":6000}""",
    """{"before":{"c_custkey":3,"c_name":"c","c_nationkey":1,"c_acctbal":30.0,"c_mktsegment":"Y"},"after":{"c_custkey":3,"c_name":"c2","c_nationkey":1,"c_acctbal":31.0,"c_mktsegment":"Y"},"source":{"connector":"g","db":"d","schema":"s","table":"customer","lsn":5,"snapshot":false,"ts_ms":5000},"op":"u","ts_ms":5000}""",
    // insert-after-delete key reuse
    """{"before":null,"after":{"c_custkey":2,"c_name":"b9","c_nationkey":2,"c_acctbal":25.0,"c_mktsegment":"Z"},"source":{"connector":"g","db":"d","schema":"s","table":"customer","lsn":7,"snapshot":false,"ts_ms":7000},"op":"c","ts_ms":7000}""",
    // tombstone
    """{"before":null,"after":null,"source":null,"op":null,"ts_ms":null}""")

  test("golden envelope: parse → flatten → materialize gives the expected table") {
    val raw = goldenLines.toDF("value")
    val parsed = Envelope.parse(raw, contract.CdcQueries.customerRowSchema)
    val flat = Envelope.extractNewRecordState(parsed) // drops the tombstone
    assert(flat.count() === 8)
    val current = Materialize.changelog(
        flat.withColumn("op", col("__op")), Seq("c_custkey"), Seq(col("__lsn")))
      .select("c_custkey", "c_name", "c_acctbal")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(current === Array((1L, "a2", 11.0), (2L, "b9", 25.0), (3L, "c3", 32.0)))
  }

  test("parseWithTombstones rejects a missing key column and NULL-keyed tombstones") {
    val rowSchema = contract.CdcQueries.customerRowSchema
    // key column absent → plan-build-time failure, not a silent no-key parse
    val noKey = Seq(("""{"after":null}""", 1L)).toDF("value", "offset")
    val exMissing = intercept[IllegalArgumentException] {
      Envelope.parseWithTombstones(noKey, rowSchema)
    }
    assert(exMissing.getMessage.contains("key"))
    // a tombstone (NULL value) with a NULL key is unaddressable → runtime error
    val badKey = Seq((null: String, null: String))
      .toDF("key", "value")
    val exNull = intercept[Exception] {
      Envelope.parseWithTombstones(badKey, rowSchema).collect()
    }
    assert(exNull.getMessage.contains("NULL 'key'"))
    // a keyed tombstone and a normal envelope still parse fine
    val ok = Seq(("1", goldenLines.head), ("2", null: String)).toDF("key", "value")
    val parsed = Envelope.parseWithTombstones(ok, rowSchema)
    assert(parsed.count() === 2)
    assert(parsed.where(col("op") === "d").select("key").as[String].head() === "2")
  }

  test("materialize is idempotent and snapshot∪delta-consistent") {
    val raw = goldenLines.toDF("value")
    val flat = Envelope.extractNewRecordState(
      Envelope.parse(raw, contract.CdcQueries.customerRowSchema))
      .withColumn("op", col("__op"))
    val all = Materialize.changelog(flat, Seq("c_custkey"), Seq(col("__lsn")))
    // idempotence: materializing the materialized state changes nothing
    val again = Materialize.changelog(all, Seq("c_custkey"), Seq(col("__lsn")))
    assert(again.count() === all.count())
    // snapshot ∪ delta == full materialization
    val snap = flat.where(col("__lsn") <= 3)
    val delta = flat.where(col("__lsn") > 3)
    val combined = Materialize.snapshotPlusDelta(snap, delta, Seq("c_custkey"), Seq(col("__lsn")))
      .select("c_custkey", "c_name").as[(Long, String)].collect().toSet
    val full = all.select("c_custkey", "c_name").as[(Long, String)].collect().toSet
    assert(combined === full)
  }

  // ---- stateful upsert: streaming form == batch spec ---------------------

  test("upsertStream final state equals batch changelog materialization") {
    val changes = Seq(
      Stateful.Change(1, 1, "c", "v1"), Stateful.Change(1, 3, "u", "v3"),
      Stateful.Change(1, 2, "u", "v2"),            // stale, must lose
      Stateful.Change(2, 1, "c", "w1"), Stateful.Change(2, 2, "d", null),
      Stateful.Change(3, 5, "c", "x5"),
      Stateful.Change(2, 9, "c", "w9"))            // reinsert after delete
    val streamed = Replay.run(spark, changes, chunkSize = 2,
        name = s"upsert_spec_${System.nanoTime()}", outputMode = "update") { ds =>
      Stateful.upsertStream(ds).toDF()
    }
    val finalState = Materialize.latestByKey(streamed, Seq("key"), Seq(col("version")))
      .where(!col("deleted"))
      .select("key", "payload").as[(Long, String)].collect().toSet
    assert(finalState === Set((1L, "v3"), (2L, "w9"), (3L, "x5")))
  }

  test("transformWithState upsert equals the flatMapGroupsWithState form (J8)") {
    val changes = Seq(
      Stateful.Change(1, 1, "c", "v1"), Stateful.Change(1, 3, "u", "v3"),
      Stateful.Change(1, 2, "u", "v2"),            // stale, must lose
      Stateful.Change(2, 1, "c", "w1"), Stateful.Change(2, 2, "d", null),
      Stateful.Change(3, 5, "c", "x5"),
      Stateful.Change(2, 9, "c", "w9"))            // reinsert after delete
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Stateful.withRocksDbStateStore(spark)
    try {
      val streamed = Replay.run(spark, changes, chunkSize = 2,
          name = s"tws_spec_${System.nanoTime()}", outputMode = "update") { ds =>
        Stateful.upsertStreamTws(ds).toDF()
      }
      val finalState = Materialize.latestByKey(streamed, Seq("key"), Seq(col("version")))
        .where(!col("deleted"))
        .select("key", "payload").as[(Long, String)].collect().toSet
      // identical to the fMGWS spec above AND to batch changelog semantics
      assert(finalState === Set((1L, "v3"), (2L, "w9"), (3L, "x5")))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState TTL evicts cold state (stale version re-applies)") {
    implicit val sql = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Stateful.withRocksDbStateStore(spark)
    try {
      val src = MemoryStream[Stateful.Change]
      val name = s"ttl_spec_${System.nanoTime()}"
      val q = Stateful.upsertStreamTws(src.toDS(),
          ttl = Some(java.time.Duration.ofSeconds(1)))
        .toDF().writeStream.format("memory").queryName(name).outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-ttl").toString)
        .start()
      // NOTE: processing-time TTL keeps scheduling timer batches, so
      // processAllAvailable never stabilizes — poll the sink instead.
      def emitted(): Set[(Long, Long)] =
        spark.table(name).select("key", "version").as[(Long, Long)].collect().toSet
      def waitFor(cond: => Boolean): Unit = {
        val t0 = System.currentTimeMillis()
        while (!cond && System.currentTimeMillis() - t0 < 30000) Thread.sleep(250)
        assert(cond, s"timed out waiting; sink=${emitted()}")
      }
      src.addData(Seq(Stateful.Change(1, 5, "c", "v5")))
      waitFor(emitted().contains((1L, 5L)))
      Thread.sleep(1500) // let the 1s TTL lapse
      // an OLDER version arrives: with live state it must be ignored;
      // after TTL eviction the state is gone, so it applies — the
      // observable proof that eviction actually happened
      src.addData(Seq(Stateful.Change(1, 3, "u", "v3")))
      waitFor(emitted().contains((1L, 3L)))
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("event-time TTL evicts cold keys deterministically under AvailableNow (J8)") {
    // Processing-time TTL cannot run under a drain (timer-sweep livelock,
    // see upsertStreamTws docs); the event-time variant fires off the
    // WATERMARK, which lives in the checkpoint's commit log — so a
    // restart-per-phase replay (one AvailableNow drain per block, shared
    // checkpoint, exactly like a scheduled incremental job) exercises
    // eviction deterministically. A single drain will NOT: MemoryStream
    // hands AvailableNow all blocks in one batch, the watermark never
    // advances mid-query, and no timer can fire.
    //   phase 1: key 1 v10 at t=1s      (timer set for t=61s; wm 0)
    //   phase 2: key 2 v10 at t=10000s  (wm resumes at 1s)
    //   phase 3: key 3 v10 at t=10001s  (wm 10000s → key 1's 61s timer
    //            fires; input rows process BEFORE expired timers, hence
    //            the separating phase)
    //   phase 4: key 1 v5 "old" — STALE: applies iff key 1 was evicted
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    implicit val sql = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Stateful.withRocksDbStateStore(spark)
    try {
      def emitted(ttlSec: Long): Set[(Long, Long)] = {
        val ckpt = java.nio.file.Files.createTempDirectory("graft-etttl").toString
        val src = MemoryStream[Stateful.TimedChange]
        val phases = Seq(
          Stateful.TimedChange(1, 10, "c", "live", ts(1)),
          Stateful.TimedChange(2, 10, "c", "other", ts(10000)),
          Stateful.TimedChange(3, 10, "c", "mid", ts(10001)),
          Stateful.TimedChange(1, 5, "u", "old", ts(10002)))
        // memory sinks cannot recover from a checkpoint; foreachBatch can,
        // so collect each phase's update batches into a driver buffer
        val acc = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        phases.foreach { row =>
          src.addData(Seq(row))
          val q = Stateful.upsertStreamTwsEventTtl(src.toDS(),
              java.time.Duration.ofSeconds(ttlSec))
            .toDF().writeStream
            .outputMode("update")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              acc.synchronized {
                acc ++= b.select("key", "version").as[(Long, Long)].collect()
              }; ()
            }
            .start()
          q.awaitTermination()
        }
        acc.toSet
      }
      // 60 s TTL: key 1 went cold long before the watermark reached
      // 10000 s, so the stale v5 re-applies — the observable proof its
      // state was evicted
      assert(emitted(60) ===
        Set((1L, 10L), (2L, 10L), (3L, 10L), (1L, 5L)))
      // control: a TTL longer than the replay's event-time span keeps the
      // state live, and the stale v5 must be ignored
      assert(emitted(1000000) === Set((1L, 10L), (2L, 10L), (3L, 10L)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("foreachBatch upsert sink survives restart from checkpoint (A8+J10)") {
    implicit val sql = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-a8-spec-ckpt").toString
    val target = java.nio.file.Files.createTempDirectory("graft-a8-spec-t").toString + "/state"
    val src = MemoryStream[Stateful.Change]
    src.addData(Seq(Stateful.Change(1, 1, "c", "v1"), Stateful.Change(2, 2, "c", "w2")))
    src.addData(Seq(Stateful.Change(1, 3, "u", "v3")))
    val q1 = graft.streaming.Sinks.foreachBatchUpsert(src.toDS().toDF(), target, ckpt,
      keyCols = Seq("key"), versionCol = "version")
    q1.awaitTermination()
    val mid = graft.streaming.Sinks.currentState(spark, target)
      .select("key", "payload").as[(Long, String)].collect().toSet
    assert(mid === Set((1L, "v3"), (2L, "w2")))
    // restart from the same checkpoint: only the new offsets apply, and a
    // delete + reinsert merge correctly into the existing buckets
    src.addData(Seq(Stateful.Change(2, 4, "d", null), Stateful.Change(3, 5, "c", "x5")))
    val q2 = graft.streaming.Sinks.foreachBatchUpsert(src.toDS().toDF(), target, ckpt,
      keyCols = Seq("key"), versionCol = "version")
    q2.awaitTermination()
    val fin = graft.streaming.Sinks.currentState(spark, target)
      .select("key", "payload").as[(Long, String)].collect().toSet
    assert(fin === Set((1L, "v3"), (3L, "x5")),
      "restart must apply exactly the new batches; delete must hold")
  }

  test("upsert batch rewrites exactly the touched bucket directory (A8 scale posture)") {
    val target = java.nio.file.Files.createTempDirectory("graft-a8-bucket").toString + "/t"
    val seed = (1 to 64).map(i => Stateful.Change(i.toLong, 1L, "c", s"p$i")).toDF()
    graft.streaming.Sinks.applyUpsertBatch(seed, target, Seq("key"), "version", nBuckets = 8)
    def bucketFiles(): Map[String, Set[String]] = {
      val dir = new java.io.File(target)
      dir.listFiles().filter(_.getName.startsWith("__kb="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    }
    val before = bucketFiles()
    assert(before.size >= 6, s"64 keys over 8 buckets should spread widely: ${before.keySet}")
    // a single-key batch: nBuckets resolves from the pinned sidecar, and
    // dynamic partition overwrite must replace ONE bucket directory —
    // per-batch cost tracks the working set, not the table
    val one = Seq(Stateful.Change(1L, 2L, "u", "p1b")).toDF()
    graft.streaming.Sinks.applyUpsertBatch(one, target, Seq("key"), "version")
    val after = bucketFiles()
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    assert(changed.size === 1, s"exactly one bucket dir must be rewritten, got: $changed")
    // the bucket count is table layout: a mismatched explicit value is refused
    intercept[IllegalArgumentException] {
      graft.streaming.Sinks.applyUpsertBatch(one, target, Seq("key"), "version", nBuckets = 4)
    }
    val st = graft.streaming.Sinks.currentState(spark, target)
      .where(col("key") === 1L).select("payload").as[String].collect()
    assert(st === Array("p1b"))
  }

  test("rollup sink merges partials and skips replayed batches (A8b)") {
    val target = java.nio.file.Files.createTempDirectory("graft-a8r").toString + "/t"
    def batch(rows: (Long, Double)*) =
      rows.toSeq.toDF("user_id", "value")
    graft.streaming.Sinks.applyRollupBatch(
      batch((1L, 1.5), (1L, 2.5), (2L, 10.0)), target,
      Seq("user_id"), "value", nBuckets = 4, batchId = Some(0L))
    graft.streaming.Sinks.applyRollupBatch(
      batch((1L, 1.0), (3L, 7.0)), target,
      Seq("user_id"), "value", batchId = Some(1L))
    def state(): Map[Long, (Long, Double)] =
      graft.streaming.Sinks.currentRollup(spark, target)
        .select(col("user_id"), col("cnt"), col("sum_val").cast("double"))
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(state() === Map(1L -> (3L, 5.0), 2L -> (1L, 10.0), 3L -> (1L, 7.0)))
    // a REPLAY of batch 1 (foreachBatch is at-least-once) must be a no-op:
    // counts are not latest-wins, so without the guard this double-counts
    graft.streaming.Sinks.applyRollupBatch(
      batch((1L, 1.0), (3L, 7.0)), target,
      Seq("user_id"), "value", batchId = Some(1L))
    assert(state() === Map(1L -> (3L, 5.0), 2L -> (1L, 10.0), 3L -> (1L, 7.0)),
      "replayed batch must not double-count")
    // but the next batch id applies
    graft.streaming.Sinks.applyRollupBatch(
      batch((2L, -10.0)), target, Seq("user_id"), "value", batchId = Some(2L))
    assert(state()(2L) === ((2L, 0.0)))
  }

  test("rollup sink survives a crash between data write and sidecar write (A8b)") {
    val target = java.nio.file.Files.createTempDirectory("graft-a8r-crash").toString + "/t"
    def batch(rows: (Long, Double)*) = rows.toSeq.toDF("user_id", "value")
    def state(): Map[Long, (Long, Double)] =
      graft.streaming.Sinks.currentRollup(spark, target)
        .select(col("user_id"), col("cnt"), col("sum_val").cast("double"))
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    graft.streaming.Sinks.applyRollupBatch(
      batch((1L, 1.0), (2L, 2.0)), target, Seq("user_id"), "value",
      nBuckets = 4, batchId = Some(0L))
    graft.streaming.Sinks.applyRollupBatch(
      batch((1L, 3.0)), target, Seq("user_id"), "value", batchId = Some(1L))
    val applied = state()
    assert(applied === Map(1L -> (2L, 4.0), 2L -> (1L, 2.0)))
    // simulate the crash window: batch 1's DATA was written but the
    // process died before the _graft_last_batch sidecar recorded it —
    // roll the sidecar back to batch 0 and replay batch 1
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecar = new org.apache.hadoop.fs.Path(target, "_graft_last_batch")
    val out = fs.create(sidecar, true)
    try out.write("0".getBytes("UTF-8")) finally out.close()
    graft.streaming.Sinks.applyRollupBatch(
      batch((1L, 3.0)), target, Seq("user_id"), "value", batchId = Some(1L))
    assert(state() === applied,
      "a replay after the sidecar crash window must not double-count: the " +
        "__bid stamped in the bucket data is the authoritative guard")
    // and the guard is per-bucket: a replay that touches an un-applied
    // bucket alongside an applied one folds in ONLY the missing bucket.
    // user 1 and user 9 hash to different buckets of 4 here; re-roll the
    // sidecar and replay a batch 2 that was "half applied" (user 9's
    // bucket never written)
    graft.streaming.Sinks.applyRollupBatch(
      batch((9L, 5.0)), target, Seq("user_id"), "value", batchId = Some(2L))
    assert(state()(9L) === ((1L, 5.0)))
  }

  test("bucketed table with lost sidecar refuses auto-sized bucket counts") {
    val target = java.nio.file.Files.createTempDirectory("graft-a8-lostpin").toString + "/t"
    val seed = (1 to 32).map(i => Stateful.Change(i.toLong, 1L, "c", s"p$i")).toDF()
    graft.streaming.Sinks.applyUpsertBatch(seed, target, Seq("key"), "version", nBuckets = 8)
    // lose the sidecar (older-code table / corrupted meta): __kb= dirs
    // remain but the layout is no longer recorded
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(target, "_graft_buckets"), false)
    val one = Seq(Stateful.Change(1L, 2L, "u", "p1b")).toDF()
    // auto-sizing a FRESH count over the unknown layout would resurrect
    // stale rows (batch hashes under the new count, stored rows keep the
    // old) — it must be refused, not guessed
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.Sinks.applyUpsertBatch(one, target, Seq("key"), "version")
    }
    assert(ex.getMessage.contains("refusing to auto-size"))
    // an explicit count matching the real layout proceeds and re-pins
    graft.streaming.Sinks.applyUpsertBatch(one, target, Seq("key"), "version", nBuckets = 8)
    val st = graft.streaming.Sinks.currentState(spark, target)
      .where(col("key") === 1L).select("payload").as[String].collect()
    assert(st === Array("p1b"))
  }

  test("streaming ingestion dedup admits novel docs, drops near-dups, survives replay") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ingest-idx").toString
    val adm = java.nio.file.Files.createTempDirectory("graft-ingest-adm").toString + "/t"
    val t1 = "the quick brown fox jumps over the lazy dog today"
    val t2 = "entirely novel text that matches nothing in the corpus at all"
    val t3 = "completely different corpus content about spark engines"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("id", "text")
    def ingest(id: Long, rows: (Long, String)*): Unit =
      graft.streaming.Ingest.ingestBatch(batch(rows: _*), idx, adm, id,
        "text", "id", shingleN = 3, k = 8, bands = 4, threshold = 0.8)
    def ids(): Set[Long] =
      graft.streaming.Ingest.admitted(spark, adm).select("id").as[Long].collect().toSet
    // batch 0: two identical docs — intra-batch dedup admits the min id
    ingest(0L, (1L, t1), (2L, t1))
    assert(ids() === Set(1L))
    // batch 1: one dup of the INDEXED corpus, one novel doc
    ingest(1L, (3L, t1), (4L, t2))
    assert(ids() === Set(1L, 4L))
    // replay of batch 1 (foreachBatch is at-least-once): the index already
    // holds doc 4's own rows, which must not self-evict it, and the
    // __batch=1 dynamic overwrite must not duplicate anything
    ingest(1L, (3L, t1), (4L, t2))
    assert(ids() === Set(1L, 4L), "replay must neither duplicate nor self-evict")
    assert(graft.streaming.Ingest.admitted(spark, adm).count() === 2)
    // batch 2 dedups against batch 1's survivors (the growing index)
    ingest(2L, (5L, t2), (6L, t3))
    assert(ids() === Set(1L, 4L, 6L))
    // compaction keeps the (still under-cap) index intact
    graft.llm.Dedup.compactIndex(spark, idx, maxBucketSize = 100)
    ingest(3L, (7L, t3))
    assert(ids() === Set(1L, 4L, 6L))
    // appending into a ROOT-FILE layout (parquet written flat into sigs/)
    // must refuse, not corrupt the index with a mixed partitioned/root-file
    // layout
    val statIdx = java.nio.file.Files.createTempDirectory("graft-ingest-stat").toString
    Seq((20L, Seq(1L, 2L, 3L))).toDF("id", "hs").write.parquet(s"$statIdx/sigs")
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.Ingest.ingestBatch(batch((21L, t2)), statIdx,
        java.nio.file.Files.createTempDirectory("graft-ingest-stat-adm").toString + "/t",
        0L, "text", "id", shingleN = 3, k = 8, bands = 4, threshold = 0.8)
    }
    assert(ex.getMessage.contains("batch-partitioned layout"))
    // streaming wrapper end-to-end on ITS OWN dirs (one dir pair = one
    // stream lineage): two AvailableNow drains over a shared checkpoint,
    // so the second batch dedups against the first's survivors
    implicit val sql = spark.sqlContext
    val idx2 = java.nio.file.Files.createTempDirectory("graft-ingest2-idx").toString
    val adm2 = java.nio.file.Files.createTempDirectory("graft-ingest2-adm").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest2-ckpt").toString
    def ids2(): Set[Long] =
      graft.streaming.Ingest.admitted(spark, adm2).select("id").as[Long].collect().toSet
    val src = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = graft.streaming.Ingest.foreachBatchIngestDedup(
        src.toDS().toDF("id", "text"), idx2, adm2, ckpt,
        "text", "id", shingleN = 3, k = 8, bands = 4, threshold = 0.8)
      q.awaitTermination()
    }
    src.addData(Seq((10L, t1), (11L, t2)))
    drain()
    assert(ids2() === Set(10L, 11L))
    src.addData(Seq((12L, t1), (13L, t3)))
    drain()
    assert(ids2() === Set(10L, 11L, 13L),
      "stream batch 2: dup of batch 1's survivor dropped, novel doc admitted")
  }

  test("ingest exact guard stops short-doc duplicates the LSH path cannot see") {
    // "hello world" has 2 tokens < shingleN=3 → zero shingles → invisible
    // to MinHash/LSH: an exact duplicate would be re-admitted every batch
    val short = "hello world"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("id", "text")
    def ingest(idx: String, adm: String, guard: Boolean)(id: Long, rows: (Long, String)*): Unit =
      graft.streaming.Ingest.ingestBatch(batch(rows: _*), idx, adm, id,
        "text", "id", shingleN = 3, k = 8, bands = 4, threshold = 0.8,
        exactGuard = guard)
    def ids(adm: String): Set[Long] =
      graft.streaming.Ingest.admitted(spark, adm).select("id").as[Long].collect().toSet
    // without the guard: the documented gap
    val idxA = java.nio.file.Files.createTempDirectory("graft-eg-a-idx").toString
    val admA = java.nio.file.Files.createTempDirectory("graft-eg-a-adm").toString + "/t"
    ingest(idxA, admA, guard = false)(0L, (1L, short))
    ingest(idxA, admA, guard = false)(1L, (2L, short))
    assert(ids(admA) === Set(1L, 2L), "shingle-less dup admitted without the guard")
    // with the guard: cross-batch exact repeat dropped
    val idxB = java.nio.file.Files.createTempDirectory("graft-eg-b-idx").toString
    val admB = java.nio.file.Files.createTempDirectory("graft-eg-b-adm").toString + "/t"
    ingest(idxB, admB, guard = true)(0L, (1L, short), (5L, short)) // intra: min id wins
    assert(ids(admB) === Set(1L))
    ingest(idxB, admB, guard = true)(1L, (2L, short))
    assert(ids(admB) === Set(1L))
    // replays: neither a batch-0 replay (own hash row) nor a batch-1
    // replay (already-dropped doc) changes the admitted set
    ingest(idxB, admB, guard = true)(0L, (1L, short), (5L, short))
    ingest(idxB, admB, guard = true)(1L, (2L, short))
    assert(ids(admB) === Set(1L), "guard replays must not self-evict or duplicate")
  }

  test("ingest exact guard is id-type-agnostic: string doc ids survive the hash table") {
    // the guard's hash table used to write `id.cast("long")` — string ids
    // (crawl URLs, UUIDs) became NULL, the `id =!= __seen_id` replay
    // exclusion never matched, and every cross-batch exact dup sailed
    // through; the id must land in its native type
    val short = "hello world" // < shingleN tokens → invisible to LSH
    def batch(rows: (String, String)*) = rows.toSeq.toDF("id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-eg-s-idx").toString
    val adm = java.nio.file.Files.createTempDirectory("graft-eg-s-adm").toString + "/t"
    def ingest(id: Long, rows: (String, String)*): Unit =
      graft.streaming.Ingest.ingestBatch(batch(rows: _*), idx, adm, id,
        "text", "id", shingleN = 3, k = 8, bands = 4, threshold = 0.8,
        exactGuard = true)
    def ids(): Set[String] =
      graft.streaming.Ingest.admitted(spark, adm).select("id").as[String].collect().toSet
    ingest(0L, ("doc/a", short), ("doc/b", short)) // intra-batch: min id wins
    assert(ids() === Set("doc/a"))
    ingest(1L, ("doc/c", short)) // cross-batch exact repeat dropped
    assert(ids() === Set("doc/a"))
    // replay of batch 0: the hash table holds doc/a's OWN row — the
    // same-id exclusion must recognize it (impossible with nulled ids)
    ingest(0L, ("doc/a", short), ("doc/b", short))
    assert(ids() === Set("doc/a"), "string-id replay must not self-evict or duplicate")
  }

  test("ingest exact guard refuses a pre-r8 long-typed hashes dir loudly") {
    // schema resolution without mergeSchema can silently pick one file's
    // schema for a mixed-type dir, making the replay exclusion WRONG
    // rather than failing — the guard must detect the stale layout and
    // name the fix (r8 advice)
    val short = "hello world"
    val idx = java.nio.file.Files.createTempDirectory("graft-eg-up-idx").toString
    val adm = java.nio.file.Files.createTempDirectory("graft-eg-up-adm").toString + "/t"
    // simulate the pre-r8 layout: long-typed ids under __batch=0
    Seq((7L, "aaaa")).toDF("id", "ch").withColumn("__batch", lit(0L))
      .write.partitionBy("__batch").parquet(s"$idx/hashes")
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.Ingest.ingestBatch(
        Seq((8L, short)).toDF("id", "text"), idx, adm, 1L,
        "text", "id", shingleN = 3, k = 8, bands = 4, threshold = 0.8,
        exactGuard = true)
    }
    assert(ex.getMessage.contains("clear the hashes dir"),
      s"upgrade failure must carry the instruction: ${ex.getMessage}")
  }

  test("compaction rewrites each bucket to one file, contents and layout pin intact (A8)") {
    val target = java.nio.file.Files.createTempDirectory("graft-a8-compact").toString + "/t"
    val seed = (1 to 64).map(i => Stateful.Change(i.toLong, 1L, "c", s"p$i")).toDF()
    // r19 optimization round: the merge shuffle is now EXPLICITLY aligned
    // with the layout (repartition on __kb before the window — see
    // Sinks.latestByKeyAligned), so even this deliberately adversarial
    // setup — AQE coalescing OFF, nBuckets=3 coprime to the 4 shuffle
    // partitions, the exact shape that used to fragment every bucket
    // into one file per merge task — must land ONE file per bucket
    // straight from the batch write. The pre-r19 behavior this spec used
    // to manufacture (several small files per bucket) is what the
    // alignment removed; compact() stays the recovery path for tables
    // fragmented by older writers and must keep the one-file invariant
    // and the contents.
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try graft.streaming.Sinks.applyUpsertBatch(seed, target, Seq("key"), "version", nBuckets = 3)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    def filesPerBucket(): Map[String, Int] = {
      new java.io.File(target).listFiles().filter(_.getName.startsWith("__kb="))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))).toMap
    }
    val before = graft.streaming.Sinks.currentState(spark, target)
      .select("key", "payload").as[(Long, String)].collect().toSet
    val fresh = filesPerBucket()
    assert(fresh.values.forall(_ === 1),
      s"the layout-aligned merge must write one file per touched bucket: $fresh")
    // manufacture REAL fragmentation (r20, the r19 advisory): since the
    // aligned merge keeps the table compact by construction, compact()'s
    // multi-file merge path needs another writer's damage to exercise —
    // split one bucket's single file into three on disk (identical rows,
    // fragmented layout), exactly what a pre-r19 binary or a foreign
    // writer leaves behind
    val fragDir = new java.io.File(target).listFiles()
      .filter(_.getName.startsWith("__kb=")).head
    val fragRows = spark.read.parquet(fragDir.getAbsolutePath)
      .localCheckpoint(true) // sever: the source files are deleted below
    val split = java.nio.file.Files.createTempDirectory("graft-a8-split").toString
    fragRows.repartition(3).write.mode("overwrite").parquet(split)
    fragDir.listFiles().filter(_.getName.startsWith("part-")).foreach(_.delete())
    new java.io.File(split).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(fragDir, s"part-frag$i.zstd.parquet").toPath)
      }
    assert(filesPerBucket()(fragDir.getName) > 1,
      s"the fragmentation setup must leave a multi-file bucket: ${filesPerBucket()}")
    assert(graft.streaming.Sinks.currentState(spark, target)
      .select("key", "payload").as[(Long, String)].collect().toSet === before,
      "the fragmentation setup must not change table contents")
    graft.streaming.Sinks.compact(spark, target)
    val fp = filesPerBucket()
    assert(fp.values.forall(_ === 1), s"compaction must leave one file per bucket: $fp")
    val after = graft.streaming.Sinks.currentState(spark, target)
      .select("key", "payload").as[(Long, String)].collect().toSet
    assert(after === before, "compaction must not change table contents")
    // the layout pin survives dynamic overwrite: upserts still work after
    graft.streaming.Sinks.applyUpsertBatch(
      Seq(Stateful.Change(1L, 2L, "u", "p1b")).toDF(), target, Seq("key"), "version")
    val v = graft.streaming.Sinks.currentState(spark, target)
      .where(col("key") === 1L).select("payload").as[String].collect()
    assert(v === Array("p1b"))
  }

  test("interval join drains as a real two-MemoryStream join equal to batch (J7)") {
    implicit val sql = spark.sqlContext
    val signups = (1 to 5).map(u => SignupRow(u.toLong, 100L + u, ts(1000L * u)))
    val clicks = (1 to 5).flatMap(u => Seq(
      ClickRow(u.toLong, 200L + u, ts(1000L * u + 300)),    // within +10 min
      ClickRow(u.toLong, 300L + u, ts(1000L * u + 6000)))) // outside the interval
    val sSrc = MemoryStream[SignupRow]
    val cSrc = MemoryStream[ClickRow]
    signups.grouped(2).foreach(c => sSrc.addData(c))
    clicks.grouped(3).foreach(c => cSrc.addData(c))
    // both sides watermarked inside intervalJoin → bounded join state; the
    // drain is a REAL stream-stream join (two MemoryStreams, AvailableNow)
    val joined = Streams.intervalJoin(sSrc.toDS().toDF(), cSrc.toDS().toDF(),
        "s_ts", "c_ts", "user_id", "1 day", "10 minutes", "10 minutes")
      .select(col("signup_id"), col("click_id"))
    val name = s"j7_spec_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-j7").toString)
      .start()
    q.awaitTermination()
    val streamed = spark.table(name).as[(Long, Long)].collect().toSet
    val batch = Streams.intervalJoin(signups.toDF(), clicks.toDF(),
        "s_ts", "c_ts", "user_id", "1 day", "10 minutes", "10 minutes")
      .select(col("signup_id"), col("click_id")).as[(Long, Long)].collect().toSet
    assert(streamed === batch, "two-stream drain must equal the batch interval join")
    assert(streamed.size === 5, s"one in-window click per signup: $streamed")
  }

  test("outer interval join emits unmatched signups once the watermark passes (J7 outer)") {
    implicit val sql = spark.sqlContext
    val signups = (1 to 5).map(u => SignupRow(u.toLong, 100L + u, ts(1000L * u)))
    // u5 gets NO click; u1..u4 one in-window click each
    val clicks = (1 to 4).map(u => ClickRow(u.toLong, 200L + u, ts(1000L * u + 300)))
    val sSrc = MemoryStream[SignupRow]
    val cSrc = MemoryStream[ClickRow]
    val name = s"j7o_spec_${System.nanoTime() % 100000}"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-j7o").toString
    // ONE long-lived query; outer results emit in a batch that RUNS with
    // a watermark past the window, and the watermark a batch uses is the
    // one the PREVIOUS batch persisted — so: data batch, then a pusher
    // batch to advance the watermark, then one more batch to flush
    // expired outer state (pusher users are outside the asserted range)
    val q = Streams.intervalJoinOuter(sSrc.toDS().toDF(), cSrc.toDS().toDF(),
        "s_ts", "c_ts", "user_id", "10 seconds", "10 minutes", "10 minutes")
      .select(col("signup_id"), col("click_id"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      sSrc.addData(signups); cSrc.addData(clicks); q.processAllAvailable()
      sSrc.addData(Seq(SignupRow(98L, 998L, ts(10000000L))))
      cSrc.addData(Seq(ClickRow(99L, 999L, ts(10000000L)))); q.processAllAvailable()
      sSrc.addData(Seq(SignupRow(96L, 996L, ts(20000000L))))
      cSrc.addData(Seq(ClickRow(97L, 997L, ts(20000000L)))); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
      .select(col("signup_id"), col("click_id"))
      .as[(Long, Option[Long])].collect().filter(_._1 <= 105L).toSet
    val expected = (1 to 4).map(u => (100L + u, Some(200L + u))).toSet + ((105L, None))
    assert(rows === expected,
      "matched signups pair with their click; the zero-click signup must " +
        s"emit with a NULL click once its window expired: $rows")
  }

  test("cdcFileStream equals the batch envelope parse (A4 contract)") {
    val watch = java.nio.file.Files.createTempDirectory("graft-a4-spec").toString
    goldenLines.toDF("value").coalesce(1).write.mode("overwrite").text(watch)
    val streamed = Envelope.extractNewRecordState(
      Envelope.cdcFileStream(spark, watch, contract.CdcQueries.customerRowSchema))
    val name = s"a4_spec_${System.nanoTime() % 100000}"
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-a4-spec-ckpt").toString)
      .start()
    q.awaitTermination()
    val viaStream = spark.table(name)
      .select("c_custkey", "__lsn", "__op").as[(Long, Long, String)].collect().toSet
    val viaBatch = Envelope.extractNewRecordState(
        Envelope.parse(goldenLines.toDF("value"), contract.CdcQueries.customerRowSchema))
      .select("c_custkey", "__lsn", "__op").as[(Long, Long, String)].collect().toSet
    assert(viaStream === viaBatch)
  }

  // ---- streaming semantics ----------------------------------------------

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("streaming tumbling window equals batch aggregation") {
    val rows = (0 until 50).map(i =>
      StreamingQueriesRow(i.toLong, ts(i * 120L), i % 3, "t", i * 1.0))
    val streamed = Replay.run(spark, rows, chunkSize = 7,
        name = s"tumble_spec_${System.nanoTime()}", outputMode = "complete") { ds =>
      Streams.windowedCounts(ds.toDF(), "ts", "10 minutes")
    }.select(unix_micros(col("w_start")).as("w"), col("n")).as[(Long, Long)].collect().toSet
    val batch = Streams.windowedCounts(rows.toDF(), "ts", "10 minutes")
      .select(unix_micros(col("w_start")).as("w"), col("n")).as[(Long, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("watermark drops data later than the bound (J4)") {
    implicit val sql = spark.sqlContext
    val src = MemoryStream[StreamingQueriesRow]
    val name = s"wm_spec_${System.nanoTime()}"
    val agg = Streams.windowedCounts(
      Streams.withLateness(src.toDS().toDF(), "ts", "1 hour"), "ts", "10 minutes")
    val q = agg.writeStream.format("memory").queryName(name).outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-wm").toString)
      .start()
    // batch 1 advances the watermark to ~10020s - 1h; the late event in
    // batch 2 (t=100s) is below it and must be dropped. Separate
    // processAllAvailable calls force separate micro-batches — watermarks
    // only advance on batch boundaries.
    src.addData((0 until 20).map(i => StreamingQueriesRow(i.toLong, ts(10000 + i), 1, "t", 1.0)))
    q.processAllAvailable()
    src.addData(Seq(StreamingQueriesRow(99, ts(100), 1, "t", 1.0)))
    q.processAllAvailable()
    q.stop()
    val windows = spark.table(name).select(unix_micros(col("w_start")) / 1000000L)
      .as[Double].collect()
    assert(!windows.contains(0.0), s"late window leaked: ${windows.toSeq}")
  }

  test("checkpoint recovery resumes exactly-once (J10)") {
    implicit val sql = spark.sqlContext
    // memory sinks can't recover from a checkpoint — use a parquet sink,
    // which records committed batches in its own log (exactly-once)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-rec").toString
    val out = java.nio.file.Files.createTempDirectory("graft-out-rec").toString
    val src = MemoryStream[StreamingQueriesRow]
    src.addData((0 until 10).map(i => StreamingQueriesRow(i.toLong, ts(i), 1, "t", 1.0)))
    val q1 = src.toDS().toDF().select(col("event_id"))
      .writeStream.format("parquet").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("path", out).option("checkpointLocation", ckpt).start()
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() === 10)
    // restart from the same checkpoint with more data on the same source:
    // offsets resume — rows 0-9 must NOT be written again
    src.addData((10 until 15).map(i => StreamingQueriesRow(i.toLong, ts(i), 1, "t", 1.0)))
    val q2 = src.toDS().toDF().select(col("event_id"))
      .writeStream.format("parquet").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("path", out).option("checkpointLocation", ckpt).start()
    q2.awaitTermination()
    val all = spark.read.parquet(out).select("event_id").as[Long].collect().sorted
    assert(all === (0L until 15L).toArray,
      s"recovery must append exactly the new offsets once, got ${all.toSeq}")
  }

  test("state introspection: statestore/state-metadata readers see live keyed state (J10)") {
    implicit val sql = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stinsp").toString
    src.addData((1L, "a"), (2L, "b"), (1L, "dup"))
    val q = src.toDS().toDF("id", "s")
      .dropDuplicates("id")
      .writeStream.format("memory").queryName("stinsp_sink")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).start()
    q.awaitTermination()
    // metadata names the dedup operator and its store
    val md = graft.streaming.StateInspect.metadata(spark, ckpt)
      .select("operatorName").as[String].collect()
    assert(md.nonEmpty && md.exists(_.toLowerCase.contains("dedup")), md.toSeq.toString)
    // state holds exactly the distinct keys, straight from the checkpoint
    val keys = graft.streaming.StateInspect.store(spark, ckpt)
      .select("key.id").as[Long].collect().sorted
    assert(keys === Array(1L, 2L))
  }

  test("session windows equal the batch lag/cumsum sessionization") {
    val rows = Seq(
      StreamingQueriesRow(1, ts(0), 1, "t", 1.0),
      StreamingQueriesRow(2, ts(600), 1, "t", 1.0),    // same session (gap 10 min < 30)
      StreamingQueriesRow(3, ts(600 + 1801), 1, "t", 1.0), // > 30 min → new session
      StreamingQueriesRow(4, ts(50), 2, "t", 1.0))
    val out = Streams.sessionized(rows.toDF(), "ts", "30 minutes", Seq("user_id"))
      .select("user_id", "n_events").as[(Long, Long)].collect().sorted
    assert(out === Array((1L, 1L), (1L, 2L), (2L, 1L)))
  }
}

/** Row type shared by the streaming specs (top-level for stable encoders). */
case class StreamingQueriesRow(event_id: Long, ts: java.sql.Timestamp,
                               user_id: Long, event_type: String, value: Double)

/** Two-stream interval-join spec rows (J7). */
case class SignupRow(user_id: Long, signup_id: Long, s_ts: java.sql.Timestamp)
case class ClickRow(user_id: Long, click_id: Long, c_ts: java.sql.Timestamp)
