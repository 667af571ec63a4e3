package graft

import graft.streaming.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A8d — the clustered catalog upsert sink's contracts beyond the
  * GauntletSpec exchange-free proof: schema parity with the dir sink
  * (catalog-pinned widen / refuse, each a B17 event at the table's
  * location), replay idempotence, compaction that shrinks files
  * without touching the bucket contract, and the table-owned dynamic
  * overwrite (every insert in the caller's session with no checkpoint
  * pass; a table without it refused).
  */
class ClusteredSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private var n = 0
  private def freshTable(): String = {
    n += 1
    val t = s"csink_t$n"
    // a previously failed run can leave the managed location behind
    // after its table is dropped — clear both
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"spark-warehouse/$t")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (loc.exists()) rm(loc)
    t
  }

  private def batch1 = Seq((1L, 10L, "a", "u", 1L), (2L, 20L, "b", "u", 1L))
    .toDF("k", "sub", "payload", "op", "__v")

  test("widening absorbs via the catalog; pin and widen land as B17 events") {
    val t = freshTable()
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Sinks.applyUpsertBatchClustered(batch1, t, Seq("k", "sub"), "__v",
      Seq("k"), nBuckets = 4, nKbParts = 2)
    // batch 2 adds a column: the catalog widens in place, old rows read
    // the new column as null — no rewrite of batch 1's files
    val wide = Seq((3L, 30L, "c", "u", 2L, 1.5d))
      .toDF("k", "sub", "payload", "op", "__v", "extra")
    Sinks.applyUpsertBatchClustered(wide, t, Seq("k", "sub"), "__v",
      Seq("k"), nBuckets = 4, nKbParts = 2)
    val cur = Sinks.currentStateClustered(spark, t)
    assert(cur.count() === 3L)
    assert(cur.where(col("extra").isNull).count() === 2L,
      "pre-widen rows read the new column as null")
    assert(cur.where(col("k") === 3L).select("extra").head().getDouble(0) === 1.5d)
    val ev = graft.cdc.SchemaHistory.read(spark, Sinks.tableLocation(spark, t))
      .select("action").collect().map(_.getString(0)).toSeq
    assert(ev === Seq("pin", "widen"),
      "the clustered sink records its schema decisions like the dir sink")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the dynamic-overwrite insert never mutates the caller's session conf (r18 advice)") {
    val t = freshTable()
    val key = "spark.sql.sources.partitionOverwriteMode"
    // pin an EXPLICIT static mode on the shared session — the r18
    // set→insert→restore would have flipped it to dynamic for the whole
    // window; the cloned-session insert must leave it untouched
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val wide = (1L to 8L).map(k => (k, k * 10L, s"a$k", "u", 1L))
        .toDF("k", "sub", "payload", "op", "__v")
      Sinks.applyUpsertBatchClustered(wide, t, Seq("k", "sub"), "__v",
        Seq("k"), nBuckets = 4, nKbParts = 8)
      assert(spark.conf.get(key) === "static",
        "the caller's session conf must survive the insert untouched")
      assert(spark.table(t).select("__kb").distinct().count() >= 2L,
        "fixture must span partitions or the dynamic-mode probe is vacuous")
      // and the insert itself really ran dynamic: a second batch touching
      // ONE key's partition must not truncate the other partitions' rows
      val b2 = Seq((1L, 10L, "a1x", "u", 2L))
        .toDF("k", "sub", "payload", "op", "__v")
      Sinks.applyUpsertBatchClustered(b2, t, Seq("k", "sub"), "__v",
        Seq("k"), nBuckets = 4, nKbParts = 8)
      assert(spark.conf.get(key) === "static")
      val cur = Sinks.currentStateClustered(spark, t)
        .select("k", "payload").as[(Long, String)].collect().sorted.toSeq
      assert(cur === ((1L, "a1x") +: (2L to 8L).map(k => (k, s"a$k"))),
        "dynamic overwrite inside the clone: untouched partitions survive")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("skew x bucketed layout: hot keys forfeit bucket locality, the cold slice keeps it (r18 verdict #7)") {
    val t = freshTable()
    // a clustered dim keyed AND bucketed on k — the exchange-free join
    // layout the CDC sink maintains
    val dim = (0L until 40L).map(k => (k, s"d$k", "u", 1L))
      .toDF("k", "payload", "op", "__v")
    Sinks.applyUpsertBatchClustered(dim, t, Seq("k"), "__v", Seq("k"),
      nBuckets = 8, nKbParts = 4)
    val small = Sinks.currentStateClustered(spark, t).drop("op", "__v")
    // the probe: key 7 is HOT (1000 rows), everything else cold
    val big = ((0L until 1000L).map(_ => 7L) ++
      (0L until 40L).flatMap(k => Seq(k, k, k))).toDF("k")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // baseline: the PLAIN join keeps bucket locality — only the probe
      // side shuffles (one hashpartitioning exchange in the whole plan)
      val plain = big.join(small, Seq("k"))
      val plainPlan = plain.queryExecution.executedPlan.toString
      val hashEx = "Exchange hashpartitioning\\(".r
        .findAllIn(plainPlan).length
      assert(hashEx === 1,
        s"plain join over the clustered dim: only the probe shuffles\n$plainPlan")
      // the salted split: SAME rows...
      val out = graft.ops.Skew.autoSaltedJoin(big, small, "k",
        hotThreshold = 100L, saltFactor = 4)
      val got = out.select("k", "payload").as[(Long, String)]
        .collect().sorted.toSeq
      val want = plain.select("k", "payload").as[(Long, String)]
        .collect().sorted.toSeq
      assert(got === want, "routing must never change the answer")
      // ...and the POSTURE: the hot join clusters on the composite
      // __ks = struct(k, __salt) — the dim's HashPartitioning(k) would
      // satisfy a (k, __salt) column-PAIR join's distribution (subset
      // clustering co-locates) and Spark would co-locate the probe on
      // the bare key, landing every salt shard of key 7 in ONE partition
      // (the salt silently defeated); the struct key is not satisfiable
      // by the bare-key layout, so with broadcast off BOTH hot sides
      // exchange on __ks. The cold slice still joins on k alone, keeping
      // the dim's bucket layout (exactly one bare-k exchange: the cold
      // probe side).
      val saltedPlan = out.queryExecution.executedPlan.toString
      val saltEx = "hashpartitioning\\((cast\\()?__ks#\\d+".r
        .findAllIn(saltedPlan).length
      assert(saltEx >= 2,
        s"both hot sides must spread on __ks = (k, __salt):\n$saltedPlan")
      val bareK = "Exchange hashpartitioning\\(k#\\d+L?, \\d+\\)".r
        .findAllIn(saltedPlan).length
      assert(bareK === 1,
        s"the cold slice keeps bucket locality (one probe-side exchange):\n$saltedPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // planner freedom retained (r19 review): with broadcast ON, the tiny
    // replicated side plans as a broadcast hash join and the hot probe
    // slice moves ZERO rows — the bucket defeat can only arise in
    // shuffle joins, so forcing the exchange there (the r19 first cut's
    // explicit repartition) shuffled the highest-volume rows for nothing
    try {
      val small2 = Sinks.currentStateClustered(spark, t).drop("op", "__v")
      val big2 = ((0L until 1000L).map(_ => 7L) ++
        (0L until 40L).flatMap(k => Seq(k, k, k))).toDF("k")
      val out2 = graft.ops.Skew.autoSaltedJoin(big2, small2, "k",
        hotThreshold = 100L, saltFactor = 4)
      val plan2 = out2.queryExecution.executedPlan.toString
      assert(!"hashpartitioning\\((cast\\()?__ks#\\d+".r.findAllIn(plan2).hasNext,
        s"broadcast-small replicated side must not shuffle the hot probe:\n$plan2")
      assert(plan2.contains("BroadcastHashJoin"),
        s"the hot route should broadcast the replicated side:\n$plan2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("narrowing and type changes refuse loudly, each a B17 refuse event") {
    val t = freshTable()
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Sinks.applyUpsertBatchClustered(batch1, t, Seq("k", "sub"), "__v",
      Seq("k"), nBuckets = 4, nKbParts = 2)
    val narrow = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatchClustered(
        Seq((3L, 30L, "u", 2L)).toDF("k", "sub", "op", "__v"),
        t, Seq("k", "sub"), "__v", Seq("k"), nBuckets = 4, nKbParts = 2)
    }
    assert(narrow.getMessage.contains("NARROWING"))
    val retype = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatchClustered(
        Seq((3L, 30L, 7L, "u", 2L)).toDF("k", "sub", "payload", "op", "__v"),
        t, Seq("k", "sub"), "__v", Seq("k"), nBuckets = 4, nKbParts = 2)
    }
    assert(retype.getMessage.contains("type changes"))
    assert(Sinks.currentStateClustered(spark, t).count() === 2L,
      "neither refusal moved the table")
    val ev = graft.cdc.SchemaHistory.read(spark, Sinks.tableLocation(spark, t))
      .select("action").collect().map(_.getString(0)).toSeq
    assert(ev === Seq("pin", "refuse", "refuse"))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("layout pins refuse drift: a different nKbParts or keyCols is loud, never silent (r18 review)") {
    val t = freshTable()
    Sinks.applyUpsertBatchClustered(batch1, t, Seq("k", "sub"), "__v",
      Seq("k"), nBuckets = 4, nKbParts = 2)
    // a different __kb modulus would prune the wrong partitions and
    // resurrect stale rows — the table property pin refuses it
    val drift = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatchClustered(batch1, t, Seq("k", "sub"), "__v",
        Seq("k"), nBuckets = 4, nKbParts = 4)
    }
    assert(drift.getMessage.contains("nKbParts"))
    val keyDrift = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatchClustered(batch1, t, Seq("k"), "__v",
        Seq("k"), nBuckets = 4, nKbParts = 2)
    }
    assert(keyDrift.getMessage.contains("keyCols"))
    // a table not created through this sink (no pin) is refused outright
    val t2 = freshTable()
    spark.sql(s"CREATE TABLE $t2 (k BIGINT, sub BIGINT, payload STRING, " +
      "op STRING, __v BIGINT, __kb INT) USING parquet PARTITIONED BY (__kb) " +
      "CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS")
    val unpinned = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatchClustered(batch1, t2, Seq("k", "sub"), "__v",
        Seq("k"), nBuckets = 4, nKbParts = 2)
    }
    assert(unpinned.getMessage.contains("graft.nKbParts"))
    spark.sql(s"DROP TABLE IF EXISTS $t"); spark.sql(s"DROP TABLE IF EXISTS $t2")
  }

  test("re-applying a batch is idempotent (the foreachBatch at-least-once contract)") {
    val t = freshTable()
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Sinks.applyUpsertBatchClustered(batch1, t, Seq("k", "sub"), "__v",
      Seq("k"), nBuckets = 4, nKbParts = 2)
    val before = Sinks.currentStateClustered(spark, t)
      .orderBy("k").collect().toSeq
    Sinks.applyUpsertBatchClustered(batch1, t, Seq("k", "sub"), "__v",
      Seq("k"), nBuckets = 4, nKbParts = 2) // the replay
    val after = Sinks.currentStateClustered(spark, t)
      .orderBy("k").collect().toSeq
    assert(after === before, "a replayed batch must change nothing")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("compaction shrinks files, keeps the answer, and the bucket contract survives") {
    val t = freshTable()
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // several batches over the same keys → file accrual per partition.
    // AQE's partition coalescing hides the accrual at this toy size (the
    // whole merge fits one task); disable it for the feed so the merge
    // shuffle spreads across tasks the way a real-sized merge does
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      for (v <- 1 to 4)
        Sinks.applyUpsertBatchClustered(
          (1L to 200L).map(i => (i % 40, i, s"p$v-$i", "u", v.toLong))
            .toDF("k", "sub", "payload", "op", "__v"),
          t, Seq("k", "sub"), "__v", Seq("k"), nBuckets = 4, nKbParts = 2)
    } finally spark.conf.set(coalesceKey, prevCoalesce)
    def files(): Int = {
      val loc = new java.net.URI(Sinks.tableLocation(spark, t)).getPath
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(loc)).count(_.getName.endsWith(".parquet"))
    }
    val beforeFiles = files()
    // r19 optimization round: the merge shuffle is layout-aligned
    // (Sinks.latestByKeyAligned — one task per touched __kb dir), so
    // each rewrite already lands exactly nBuckets files per dir and the
    // steady-state file count is the compacted one: nKbParts × nBuckets.
    // This spec's old setup (AQE off, 4 batches) used to accrue more;
    // now it must NOT — that ceiling is the new pin. compactClustered
    // stays the recovery path for externally-fragmented tables and must
    // never exceed it or change the answer.
    assert(beforeFiles <= 2 * 4,
      s"layout-aligned merges must keep ≤ nKbParts×nBuckets files (got $beforeFiles)")
    val beforeRows = Sinks.currentStateClustered(spark, t)
      .orderBy("k", "sub").collect().toSeq
    // manufacture REAL fragmentation (r20, the r19 advisory): the
    // aligned merge keeps the table at the compacted ceiling by
    // construction, so compactClustered's multi-file fold needs a
    // foreign writer's damage to exercise — re-insert the table's own
    // rows through an UNALIGNED dynamic overwrite (the pre-r19 binary
    // shape: many tasks × buckets files per partition, same content)
    val tableCols = spark.table(t).columns
    val unaligned = spark.table(t).localCheckpoint(true)
      .repartition(5).select(tableCols.map(col): _*)
    val pow = "spark.sql.sources.partitionOverwriteMode"
    val prevPow = spark.conf.get(pow, "STATIC")
    spark.conf.set(pow, "dynamic")
    try unaligned.write.mode("overwrite").insertInto(t)
    finally spark.conf.set(pow, prevPow)
    spark.catalog.refreshTable(t)
    val fragFiles = files()
    assert(fragFiles > 2 * 4,
      s"the fragmentation setup must exceed the compacted ceiling (got $fragFiles)")
    assert(Sinks.currentStateClustered(spark, t)
      .orderBy("k", "sub").collect().toSeq === beforeRows,
      "the fragmentation setup must not change the answer")
    Sinks.compactClustered(spark, t)
    assert(files() <= beforeFiles,
      s"compaction must fold the fragmented table back to ≤ the aligned " +
        s"steady state (was $beforeFiles aligned, $fragFiles fragmented, " +
        s"now ${files()})")
    assert(Sinks.currentStateClustered(spark, t)
      .orderBy("k", "sub").collect().toSeq === beforeRows,
      "compaction must never change the answer")
    // the bucket spec is catalog metadata — the exchange-free join
    // contract holds after compaction
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val other = freshTable()
      spark.sql(s"DROP TABLE IF EXISTS $other")
      Sinks.applyUpsertBatchClustered(
        (0L until 40L).map(i => (i, s"dim$i", "u", 1L))
          .toDF("k", "name", "op", "__v"),
        other, Seq("k"), "__v", Seq("k"), nBuckets = 4, nKbParts = 2)
      val j = Sinks.currentStateClustered(spark, t).drop("__v", "op")
        .join(Sinks.currentStateClustered(spark, other).drop("__v", "op"),
          Seq("k"))
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "the compacted table still joins exchange-free")
      assert(j.count() === 200L)
      spark.sql(s"DROP TABLE IF EXISTS $other")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("an encoder-built array<int> batch lands twice: nullability is not a type change") {
    val t = freshTable()
    // the encoder builds array<int> with containsNull = false; the
    // catalog stores the column as containsNull = true
    def tagged(v: Long) = Seq((1L, 10L, Seq(1, 2), "u", v), (2L, 20L, Seq(3), "u", v))
      .toDF("k", "sub", "tags", "op", "__v")
    Sinks.applyUpsertBatchClustered(tagged(1L), t, Seq("k", "sub"), "__v",
      Seq("k"), nBuckets = 4, nKbParts = 2)
    Sinks.applyUpsertBatchClustered(tagged(2L), t, Seq("k", "sub"), "__v",
      Seq("k"), nBuckets = 4, nKbParts = 2)
    assert(Sinks.currentStateClustered(spark, t).select("k", "tags", "__v")
      .as[(Long, Seq[Int], Long)].collect().toSet ===
      Set((1L, Seq(1, 2), 2L), (2L, Seq(3), 2L)))
    val ev = graft.cdc.SchemaHistory.read(spark, Sinks.tableLocation(spark, t))
      .select("action").collect().map(_.getString(0)).toSeq
    assert(ev === Seq("pin"), "the second batch neither widens nor refuses")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a steady batch runs three Spark jobs: the insert reads the partitions it overwrites") {
    val t = freshTable()
    // 20k keys over 16 __kb partitions x 4 buckets; the steady batch
    // updates, deletes and inserts across every partition
    def rows(from: Long, to: Long, v: Long) = spark.range(from, to).select(
      col("id").as("k"), (col("id") * 7).as("sub"),
      concat(lit(s"p$v-"), col("id").cast("string")).as("payload"),
      when(col("id") % 10 === 3, lit("d")).otherwise(lit("u")).as("op"),
      lit(v).as("__v"))
    Sinks.applyUpsertBatchClustered(rows(0L, 20000L, 1L), t, Seq("k"), "__v",
      Seq("k"), nBuckets = 4, nKbParts = 16)
    val batch = rows(10000L, 30000L, 2L)
    // the touched-set collect (one job, no shuffle) and the insert (merge
    // shuffle + write): no checkpoint pass between the merge and the write
    val jobs = JobProbe.jobs(spark)(Sinks.applyUpsertBatchClustered(batch, t, Seq("k"), "__v",
      Seq("k"), nBuckets = 4, nKbParts = 16))
    assert(jobs.size === 3, jobs.mkString("jobs:\n", "\n", ""))
    val want = rows(0L, 10000L, 1L).unionByName(batch).where(col("op") =!= "d")
      .select("k", "payload").as[(Long, String)].collect().sorted.toSeq
    assert(Sinks.currentStateClustered(spark, t).select("k", "payload")
      .as[(Long, String)].collect().sorted.toSeq === want)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the table owns dynamic overwrite: a static session's INSERT OVERWRITE keeps the other partitions") {
    val t = freshTable()
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val rows = (1L to 8L).map(k => (k, k * 10L, s"a$k", "u", 1L))
        .toDF("k", "sub", "payload", "op", "__v")
      Sinks.applyUpsertBatchClustered(rows, t, Seq("k", "sub"), "__v",
        Seq("k"), nBuckets = 4, nKbParts = 8)
      val kbs = spark.table(t).select("__kb").distinct().as[Int].collect().sorted
      assert(kbs.length >= 2, "fixture must span partitions")
      val one = kbs.head
      val others = spark.table(t).where(col("__kb") =!= one).count()
      // a plain SQL overwrite whose rows all land in ONE partition: in
      // static mode on a table without the option it would empty the rest
      spark.sql(s"INSERT OVERWRITE TABLE $t SELECT k, sub, concat(payload, 'x'), " +
        s"op, __v, __kb FROM $t WHERE __kb = $one")
      assert(spark.table(t).where(col("__kb") =!= one).count() === others,
        "the other partitions survive a static-mode session's overwrite")
      assert(spark.table(t).where(col("__kb") === one)
        .as[(Long, Long, String, String, Long, Int)].collect()
        .forall(_._3.endsWith("x")), "the overwritten partition holds the new rows")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("a pinned table without the dynamic-overwrite option is refused by a batch and by compaction") {
    val t = freshTable()
    // the sink's layout pins, but no storage option: every overwrite
    // would run in the session's (static) mode and replace the table
    spark.sql(s"CREATE TABLE $t (k BIGINT, sub BIGINT, payload STRING, " +
      "op STRING, __v BIGINT, __kb INT) USING parquet PARTITIONED BY (__kb) " +
      "CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS " +
      "TBLPROPERTIES ('graft.nKbParts' = '2', 'graft.keyCols' = 'k,sub')")
    spark.sql(s"INSERT INTO $t VALUES (9, 90, 'keep', 'u', 1, 0), (8, 80, 'keep', 'u', 1, 1)")
    val batch = intercept[IllegalArgumentException] {
      Sinks.applyUpsertBatchClustered(batch1, t, Seq("k", "sub"), "__v",
        Seq("k"), nBuckets = 4, nKbParts = 2)
    }
    assert(batch.getMessage.contains("partitionOverwriteMode") &&
      batch.getMessage.contains("recreate it here"), batch.getMessage)
    val compact = intercept[IllegalArgumentException](Sinks.compactClustered(spark, t))
    assert(compact.getMessage.contains("partitionOverwriteMode"), compact.getMessage)
    assert(spark.table(t).count() === 2L, "neither refusal touched the table")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
