package graft.streaming

import graft.ops.StateFiles
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructType}

/** A8 — `foreachBatch` upsert sink: the standard way a CDC consumer applies
  * a change stream to a queryable target table (the reference's whole
  * purpose per /root/reference/README.md:13 is feeding such consumers).
  *
  * Target layout: parquet partitioned by a hash bucket of the key
  * (`__kb`), so each micro-batch rewrites ONLY the buckets it touches
  * (one staged bucket commit) and reads back only those buckets
  * (partition-pruned scan) — at 100 TB the per-batch cost is proportional
  * to the touched working set, not the table. On a lakehouse table format
  * this whole function is a single MERGE INTO; plain parquet needs the
  * read-merge-overwrite cycle below.
  *
  * The stored state keeps the latest event per key INCLUDING delete
  * tombstones, so a replayed or out-of-order batch can never resurrect a
  * deleted key; readers get live rows via [[currentState]]. Re-applying a
  * batch is idempotent (latest-version-wins), which is exactly what
  * foreachBatch's at-least-once contract requires for end-to-end
  * exactly-once tables.
  */
object Sinks {

  /** Rows-per-bucket target for auto bucket sizing: small enough that a
    * bucket rewrite is one task's worth of work, large enough that file
    * counts stay sane (100 TB / 64k-row buckets of ~1 KB rows ≈ 1.6M
    * buckets — cap at 65536 and revisit the layout if you hit it).
    */
  private val RowsPerBucket = 65536L
  private val MaxAutoBuckets = 65536

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every sink sidecar is a small text file beside the table's `__kb=`
    * dirs, written and read through [[graft.ops.StateFiles]] (replace by
    * tmp-then-rename; a torn first write reads as absent).
    */
  private def readSidecar[T](fs: FileSystem, dir: String,
                             name: String)(parse: String => T): Option[T] =
    StateFiles.read(fs, new Path(dir, name))(parse)

  private def writeSidecar(fs: FileSystem, dir: String,
                           name: String, text: String): Unit =
    StateFiles.replace(fs, new Path(dir, name), text.getBytes("UTF-8"))

  /** The bucket count is part of the TABLE layout, not the batch: if two
    * batches bucketed a key differently, the merge would read the wrong
    * bucket and resurrect stale rows. First write pins the choice in a
    * sidecar file; every later batch (and any caller-supplied value) must
    * match it.
    */
  private val BucketsFile = "_graft_buckets"

  /** Resolve the table's bucket count: pinned value wins (a mismatched
    * explicit ask is an error); otherwise pin the caller's value or
    * auto-size from `rows` (evaluated lazily — only on first write).
    *
    * If bucketed data (`__kb=` dirs) already exists but the sidecar is
    * missing (a table written by older code, or a lost sidecar), blindly
    * auto-pinning a FRESH count would hash batch rows under the new count
    * while stored rows keep the old layout — touched-bucket pruning would
    * then miss the stored row for a key and the merge would silently
    * resurrect stale rows. That case REFUSES auto-sizing: the caller must
    * pass the table's real bucket count explicitly (which is then pinned).
    */
  private def resolvePinnedBuckets(fs: FileSystem,
                                   targetDir: String, nBuckets: Int,
                                   rows: => Long): Int =
    readSidecar(fs, targetDir, BucketsFile)(_.toInt) match {
      case Some(p) =>
        require(nBuckets == 0 || nBuckets == p,
          s"table at $targetDir is bucketed with $p buckets; got nBuckets=$nBuckets")
        p
      case None =>
        require(!hasBucketDirs(fs, targetDir) || nBuckets > 0,
          s"table at $targetDir has existing __kb= bucket directories but no " +
            "_graft_buckets sidecar; refusing to auto-size a fresh bucket count " +
            "over an unknown layout — pass nBuckets matching the existing layout " +
            "explicitly (it will be pinned)")
        val chosen =
          if (nBuckets > 0) nBuckets
          else math.min(math.max(16L, rows / RowsPerBucket + 1),
            MaxAutoBuckets.toLong).toInt
        writeSidecar(fs, targetDir, BucketsFile, chosen.toString)
        chosen
    }

  /** The table's pinned SCHEMA sidecar (round 15 — the r14 verdict's #3):
    * a Debezium consumer's most common DDL is an added nullable column,
    * and restart-on-DDL (the declared policy for everything else) forced
    * a full rebuild for it. The pin makes widening absorbable in place:
    * batch schema ⊃ table schema → the new columns join the pinned
    * schema (forced nullable) and untouched buckets simply read as null
    * through the explicit-schema scan below — no rewrite of old files,
    * ONE metadata step. Narrowing (a table column missing from the
    * batch) and type changes REFUSE loudly — those stay restart-level
    * DDL. Readers and the compactor resolve the pinned schema, so a
    * table whose buckets straddle a widening never depends on which
    * parquet footer Spark happens to sample.
    */
  private val SchemaFile = "_graft_schema"

  private def readPinnedSchema(fs: FileSystem,
                               targetDir: String): Option[StructType] =
    readSidecar(fs, targetDir, SchemaFile)(
      DataType.fromJson(_).asInstanceOf[StructType])

  /** Nullability is normalized RECURSIVELY (r15 review): a footer-
    * inferred array/struct column carries containsNull/field-nullable
    * flags an encoder-produced batch may not, and a strict DataType
    * comparison would misreport the identical schema as a type change.
    */
  private def nullable(st: StructType): StructType = {
    def nullify(dt: DataType): DataType = dt match {
      case ArrayType(e, _)      => ArrayType(nullify(e), containsNull = true)
      case MapType(k, v, _)     => MapType(nullify(k), nullify(v), valueContainsNull = true)
      case StructType(fields)   => StructType(fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
      case other                => other
    }
    nullify(st).asInstanceOf[StructType]
  }

  /** Enforce the schema contract for one upsert batch against the
    * table's schema `table` (the pin, else the nullable footer schema,
    * or the clustered sink's nullable catalog schema; None on a fresh
    * table): returns the (possibly widened) table schema
    * to read existing buckets with, and whether the pin must be
    * rewritten after the data write. Nullability is forced — every
    * stored column is nullable once a widening can backfill nulls.
    */
  private def resolveSchema(targetDir: String, batchSchema: StructType,
                            table: Option[StructType]): (StructType, Boolean) = {
    val b = nullable(batchSchema)
    table match {
      case None => (b, true) // first write pins the batch schema
      case Some(ts) =>
        val bByName = b.fields.map(f => f.name -> f).toMap
        val missing = ts.fields.map(_.name).filterNot(bByName.contains)
        require(missing.isEmpty,
          s"upsert batch is missing table columns ${missing.mkString(", ")} at " +
            s"$targetDir — NARROWING is restart-level DDL (rebuild the table " +
            "or project the dropped columns as nulls explicitly)")
        val clashes = ts.fields.flatMap { f =>
          bByName.get(f.name).filter(_.dataType != f.dataType)
            .map(bf => s"${f.name}: table ${f.dataType.simpleString} vs " +
              s"batch ${bf.dataType.simpleString}")
        }
        require(clashes.isEmpty,
          s"upsert batch changes column types at $targetDir — ${clashes.mkString("; ")}: " +
            "type changes are restart-level DDL")
        val newCols = b.fields.filterNot(f => ts.fieldNames.contains(f.name))
        if (newCols.isEmpty) (ts, false)
        else (StructType(ts.fields ++ newCols), true) // WIDEN: absorb in place
    }
  }

  /** Last-applied-batch sidecar: the rollup sink's replay FAST PATH. The
    * authoritative replay guard is the `__bid` column stamped into the
    * bucket data itself (see [[applyRollupBatch]]); the sidecar only
    * short-circuits the common case without reading any bucket. (The
    * upsert sink needs neither — its merge is idempotent.)
    */
  private val LastBatchFile = "_graft_last_batch"

  /** The layout-column sidecar (r18): `__kb` hashes `bucketCols`, which
    * default to the merge key but may be a SUBSET of it — the
    * cluster-by-join-key layout (e.g. lineitem merged on
    * (orderkey, linenumber) but bucketed by orderkey alone, so the
    * downstream fact join reads co-located buckets). Like the bucket
    * COUNT, the bucket COLUMNS are part of the table layout: a batch
    * hashed on different columns would prune the wrong buckets and
    * resurrect stale rows, so the first write pins the choice and every
    * later batch must match.
    */
  private val BucketColsFile = "_graft_bucket_cols"

  private def resolveBucketCols(fs: FileSystem,
                                targetDir: String, keyCols: Seq[String],
                                bucketCols: Seq[String]): Seq[String] = {
    val want = if (bucketCols.isEmpty) keyCols else bucketCols
    require(want.forall(keyCols.contains),
      s"bucketCols (${want.mkString(",")}) must be a subset of keyCols " +
        s"(${keyCols.mkString(",")}): the layout hash must be a pure " +
        "function of the merge key or a key's versions land in different buckets")
    readSidecar(fs, targetDir, BucketColsFile)(_.split(",").toSeq) match {
      case Some(pinned) =>
        require(pinned == want,
          s"table at $targetDir is bucketed on ${pinned.mkString(",")}; " +
            s"got bucketCols=${want.mkString(",")}")
        pinned
      case None =>
        // pinned only when it differs from the default — legacy tables
        // (no sidecar) stay readable as keyCols-bucketed. A NON-default
        // choice may only be pinned on a FRESH table (r18 review): data
        // already bucketed under the keyCols hash re-hashed on a subset
        // would prune the wrong buckets and resurrect stale rows, exactly
        // the drift resolvePinnedBuckets refuses for the bucket COUNT.
        if (want != keyCols) {
          require(!hasBucketDirs(fs, targetDir),
            s"table at $targetDir already holds data bucketed on its merge " +
              s"key; refusing to pin bucketCols=${want.mkString(",")} over " +
              "the existing layout — rebuild the table to re-cluster it")
          writeSidecar(fs, targetDir, BucketColsFile, want.mkString(","))
        }
        want
    }
  }

  /** Whether bucketed data (`__kb=` dirs) already exists under the table. */
  private def hasBucketDirs(fs: FileSystem,
                            targetDir: String): Boolean = {
    val tdir = new Path(targetDir)
    fs.exists(tdir) && fs.listStatus(tdir).exists(_.getPath.getName.startsWith("__kb="))
  }

  /** Merge one batch of flattened change events into the target.
    * `versionCol` must totally order events per key (e.g. lsn).
    *
    * `nBuckets = 0` (the default) auto-sizes on first write from the
    * batch volume (one bucket per [[RowsPerBucket]] rows, floor 16) and
    * pins the result in the table's `_graft_buckets` sidecar; later
    * batches reuse the pinned value, so the layout never shifts under a
    * live table. At 100 TB pass an explicit count sized from the TABLE
    * (≈ tableRows / 64k) on the first write — the first batch is a poor
    * proxy for eventual volume.
    *
    * `bucketCols` (r18): the layout hash columns — default the merge
    * key; pass a key subset (e.g. just the order key) to co-locate the
    * table for a downstream join. Pinned on first write.
    *
    * File-count note (r19): the merge shuffle is explicitly keyed on the
    * layout column ([[latestByKeyAligned]]), so every rewrite lands ~one
    * file per touched bucket REGARDLESS of how nBuckets relates to
    * `spark.sql.shuffle.partitions` — no alignment arithmetic needed,
    * and [[compact]] is only ever needed for tables fragmented by other
    * writers.
    */
  def applyUpsertBatch(batch: DataFrame, targetDir: String, keyCols: Seq[String],
                       versionCol: String, nBuckets: Int = 0,
                       bucketCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val fs = fsOf(spark, targetDir)
    finishCommit(fs, targetDir)
    // LAZY (r18): the count is one full batch pass, but it's only needed
    // when auto-sizing fires (first write with nBuckets=0) or a schema
    // event records its triggering volume — the steady path (pinned
    // buckets, stable schema) must not pay a per-micro-batch count job
    lazy val batchRows = batch.count()
    val layoutCols = resolveBucketCols(fs, targetDir, keyCols, bucketCols)
    val n = resolvePinnedBuckets(fs, targetDir, nBuckets, batchRows)
    val tableExists = hasBucketDirs(fs, targetDir)
    // what the table believed before this batch — the B17 history event's
    // old side (pin sidecar, else the footer schema of the live table);
    // the pin is read once per batch
    val pinned = readPinnedSchema(fs, targetDir)
    val footer =
      if (pinned.isEmpty && tableExists) Some(StructType(
        spark.read.parquet(targetDir).schema.fields.filterNot(_.name == "__kb")))
      else None
    val priorSchema = pinned.orElse(footer)
    // schema contract: widen in place on added columns, refuse narrowing
    // and type changes (restart-level DDL) — see the schema-pin scaladoc.
    // A refusal is a B17 schema-history event BEFORE it throws: the
    // rejected DDL is exactly what an operator reads the log for.
    val (tableSchema, repin) =
      try resolveSchema(targetDir, batch.schema, pinned.orElse(footer.map(nullable)))
      catch {
        case e: IllegalArgumentException =>
          graft.cdc.SchemaHistory.append(spark, targetDir, "refuse",
            priorSchema, Some(batch.schema), Some(batchRows))
          throw e
      }
    val b = batch.withColumn("__kb", pmod(hash(layoutCols.map(col): _*), lit(n)))
    // buckets touched by this batch — bounded by nBuckets, a driver-safe collect
    val touched = b.select(col("__kb")).distinct().collect().map(_.getInt(0)).toSeq
    def recordPin(): Unit = {
      // the B17 event lands BEFORE the pin moves: a crash between the
      // two re-detects the same widening on replay and re-appends —
      // at-least-once history, never a silently missing row
      graft.cdc.SchemaHistory.append(spark, targetDir,
        if (priorSchema.isEmpty) "pin" else "widen",
        priorSchema, Some(tableSchema), Some(batchRows))
      writeSidecar(fs, targetDir, SchemaFile, tableSchema.json)
    }
    if (touched.isEmpty) { if (repin) recordPin(); return }
    val existing =
      if (tableExists)
        // partition-pruned: only the touched buckets are read. The
        // EXPLICIT widened schema (not footer sampling) makes buckets
        // written before a widening read their missing columns as null.
        Some(spark.read.schema(tableSchema.add("__kb", IntegerType))
          .parquet(targetDir).where(col("__kb").isin(touched: _*)))
      else None
    val all = existing.map(_.unionByName(b, allowMissingColumns = true)).getOrElse(b)
    commitBuckets(fs, targetDir, latestByKeyAligned(all, keyCols, versionCol, touched.size))
    // the pin moves AFTER the data lands: a crash in between re-detects
    // the same widening next batch and rewrites the same content
    if (repin) recordPin()
  }

  private val StageDir = "_graft_stage"

  /** The directory sinks' one bucket commit: overwrite exactly the
    * `__kb=` bucket dirs present in `rows`. Every bucket write — the
    * upsert and rollup merges (first writes included), the truncate
    * rewrite and [[compact]] — goes through here. Spark writes `rows` in
    * one job under the underscore-prefixed `_graft_stage` dir (invisible
    * to every parquet scan of the table, like the sidecars), so reading
    * the table while writing carries no self-overwrite hazard; its job
    * commit writes the stage's `_SUCCESS`, which marks the stage
    * complete. [[finishCommit]] then promotes the staged buckets.
    */
  private def commitBuckets(fs: FileSystem, targetDir: String, rows: DataFrame): Unit = {
    val stage = new Path(targetDir, StageDir)
    rows.write.mode("overwrite").partitionBy("__kb").parquet(stage.toString)
    // a session in dynamic partition-overwrite mode, or a committer that
    // writes no success marker, leaves a stage finishCommit can only drop
    if (!finishCommit(fs, targetDir))
      throw new IllegalStateException(s"the write into $stage left no _SUCCESS marker: " +
        "the bucket commit needs static partition overwrite and the committer's marker")
  }

  /** Finish whatever bucket commit the stage holds. A complete stage
    * (its `_SUCCESS` present) wins: each staged `__kb=` dir replaces the
    * live one (delete, then rename into place), then the stage goes. A
    * stage without `_SUCCESS` was never complete and is simply deleted.
    * This is [[graft.ops.StateFiles]]' replace applied to directories,
    * and it is idempotent, so a crash anywhere in a commit is rolled
    * forward by the next sink call — which runs this before its first
    * read of the table, so a replayed batch never reads a bucket the
    * crash left missing. Readers that race a promote can still see a
    * bucket missing for the length of one rename. Returns whether the
    * stage was complete.
    */
  private def finishCommit(fs: FileSystem, targetDir: String): Boolean = {
    val stage = new Path(targetDir, StageDir)
    val complete = fs.exists(new Path(stage, "_SUCCESS"))
    if (complete)
      fs.listStatus(stage).filter(_.getPath.getName.startsWith("__kb=")).foreach { st =>
        val dest = new Path(targetDir, st.getPath.getName)
        fs.delete(dest, true)
        if (!fs.rename(st.getPath, dest))
          throw new java.io.IOException(s"could not promote ${st.getPath} to $dest")
      }
    fs.delete(stage, true)
    complete
  }

  /** The upsert merge, keyed for the table LAYOUT (r19 optimization
    * round, guide §2.4/§6): semantically identical to
    * `Materialize.latestByKey(all, keyCols, version)` — `__kb` is a pure
    * function of a SUBSET of the merge key, so grouping on
    * (__kb, keyCols) partitions rows exactly like keyCols alone — but
    * the one shuffle it needs is the [[byBucket]] exchange on `__kb`,
    * the same column the write below partitions directories by.
    * HashPartitioning(__kb, n) satisfies the window's
    * ClusteredDistribution(__kb :: keyCols) (partitioning ⊆ clustering),
    * so Catalyst plans exactly ONE exchange — and every task then holds
    * whole buckets, so the bucket commit lands ~one file per touched
    * bucket instead of one per (merge-shuffle task × bucket): before
    * this, a lineitem-style layout (bucketCols ⊂ keyCols, hashes
    * unaligned) fragmented every micro-batch rewrite into up to
    * `spark.sql.shuffle.partitions` files PER BUCKET, each a parquet
    * commit now and a scan task next batch. `buckets` is the number of
    * buckets the merge produces (the touched count); the merge and its
    * write run on [[byBucket]]'s task count.
    */
  private def latestByKeyAligned(all: DataFrame, keyCols: Seq[String],
                                 versionCol: String, buckets: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((col("__kb") +: keyCols.map(col)): _*)
      .orderBy(col(versionCol).desc)
    byBucket(all, buckets)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** The sinks' one bucket exchange: hash `rows` on `__kb` into
    * `min(buckets, spark.sql.shuffle.partitions)` partitions, `buckets`
    * being the number of buckets the write produces. Every task holds
    * whole buckets, so a bucket rewrite still lands one file per bucket,
    * and the write runs up to the shuffle-partitions count of tasks —
    * the count an unnumbered `repartition(__kb)` starts from, capped by
    * the buckets there are to spread.
    *
    * The count is explicit because AQE never coalesces a numbered
    * repartition. Left to AQE, the exchange is coalesced by BYTES (toward
    * `advisoryPartitionSizeInBytes`, and at least
    * `coalescePartitions.minPartitionSize` per task): a micro-batch's
    * touched buckets are a MB or two of shuffle, so they fold into ONE
    * task that
    * encodes and commits every bucket file serially while the other
    * cores idle. A bucket rewrite's cost is set by the files it writes
    * (one parquet encode and commit per bucket), not by the bytes it
    * shuffles, so byte-sized partitions are the wrong unit for it.
    */
  private def byBucket(rows: DataFrame, buckets: Int): DataFrame = {
    val cap = rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    rows.repartition(math.max(1, math.min(buckets, cap)), col("__kb"))
  }

  /** A8 — attach the upsert sink to a (streaming) frame of flattened
    * change events. Batches apply serially in batch-id order; recovery
    * replays the in-flight batch, which [[applyUpsertBatch]] absorbs
    * idempotently.
    */
  def foreachBatchUpsert(changes: DataFrame, targetDir: String, checkpointDir: String,
                         keyCols: Seq[String], versionCol: String,
                         nBuckets: Int = 0,
                         trigger: Trigger = Trigger.AvailableNow(),
                         bucketCols: Seq[String] = Nil): StreamingQuery =
    startSink(changes, checkpointDir, trigger) { (batch, _) =>
      applyUpsertBatch(batch, targetDir, keyCols, versionCol, nBuckets, bucketCols)
    }

  /** The `writeStream … foreachBatch … start()` scaffold every sink in
    * this package attaches through: append mode, the caller's trigger
    * and checkpoint.
    */
  private[streaming] def startSink(changes: DataFrame, checkpointDir: String, trigger: Trigger)
                       (apply: (DataFrame, Long) => Unit): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) => apply(batch, id) }
      .start()

  /** A8e/B19 (r19) — the upsert sink with TRUNCATE support. [PK:
    * Debezium emits `op='t'` for TRUNCATE TABLE on supported connectors;
    * the event has no row images and no key — it addresses the whole
    * table.] Semantics match Materialize.changelogWithTruncates (the
    * batch spec, property-pinned in TruncateSpec): every stored row whose
    * version is at or below the batch's LAST truncate dies — whatever its
    * key and whichever earlier batch landed it — and batch rows versioned
    * after the truncate merge as usual. Earlier rows lose, later rows
    * win.
    *
    * Mechanics: (1) batch rows OUTLIVING the truncate merge through the
    * normal pruned [[applyUpsertBatch]] (schema pin / widen / B17 history
    * all apply; rows at or below the cutoff are dead on arrival and never
    * land); (2) the pre-truncate key-space clears — and because a
    * truncate addresses EVERY key, the touched-partition contract doesn't
    * bound it: a per-partition (min, max) version scan (one column-pruned
    * pass, collected bounded by the layout's partition count) classifies
    * each `__kb` dir as untouched (min outlives the cutoff), wholly dead
    * (max doesn't — the dir is deleted outright; the bucket commit
    * cannot delete a bucket absent from its output), or mixed (rewritten
    * without its dead rows). A replayed batch (foreachBatch is
    * at-least-once) recomputes the same survivor set — both steps are
    * idempotent.
    *
    * Sinks that cannot honor a truncate (the rollup's count partials)
    * must route them to the B13 dead letter instead —
    * [[graft.cdc.Envelope.splitTruncates]].
    */
  def applyUpsertBatchWithTruncates(batch: DataFrame, targetDir: String,
                                    keyCols: Seq[String], versionCol: String,
                                    opCol: String = "op",
                                    nBuckets: Int = 0,
                                    bucketCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val fs = fsOf(spark, targetDir)
    applyTruncating(batch, versionCol, opCol, new TruncateTarget {
      def floorDir: Option[String] = Some(targetDir)
      def stored: Option[DataFrame] =
        if (hasBucketDirs(fs, targetDir)) Some(readPinned(spark, targetDir)) else None
      def rewrite(rows: DataFrame): Unit = commitBuckets(fs, targetDir, rows)
      def drop(kb: Int): Unit = fs.delete(new Path(targetDir, s"__kb=$kb"), true): Unit
    })(applyUpsertBatch(_, targetDir, keyCols, versionCol, nBuckets, bucketCols))
  }

  /** The four things the two truncate sinks differ in: where the floor
    * sidecar lives (None before the target exists), how the stored rows
    * are read (with their `__kb`; None while nothing is stored), how
    * rewritten buckets are written, and how a wholly dead bucket goes.
    */
  private trait TruncateTarget {
    def floorDir: Option[String]
    def stored: Option[DataFrame]
    def rewrite(rows: DataFrame): Unit
    def drop(kb: Int): Unit
  }

  /** The truncate sinks' one body: the cut (floor ∪ the batch's last
    * truncate), the `upsert` of the rows that outlive it, and — for a
    * truncate newer than the floor — the clear of the stored pre-truncate
    * rows, then the floor's move.
    */
  private def applyTruncating(batch: DataFrame, versionCol: String, opCol: String,
                              target: TruncateTarget)(upsert: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    // the FLOOR is part of the table, not the batch: a batch arriving
    // AFTER the truncate's batch but carrying straggler rows versioned
    // BEFORE it must not resurrect the cleared key-space. The sidecar
    // persists the highest truncate version ever applied; every batch
    // drops its rows at or below it before merging.
    val floor: Option[Long] = target.floorDir.flatMap(d =>
      readSidecar(fsOf(spark, d), d, TruncateFile)(_.toLong))
    val cut = batch.where(col(opCol) === TruncateOp)
      .agg(max(col(versionCol).cast("long"))).head() // one driver row
    val batchT: Option[Long] = if (cut.isNullAt(0)) None else Some(cut.getLong(0))
    val effT: Option[Long] = (floor.toSeq ++ batchT.toSeq).maxOption
    val rows = batch.where(col(opCol) =!= TruncateOp || col(opCol).isNull)
    upsert(effT.map(t => rows.where(col(versionCol) > lit(t))).getOrElse(rows))
    // a truncate NEWER than the floor clears the stored pre-truncate
    // key-space, then moves the floor (floor moves LAST: a crash between
    // the two replays the clear idempotently — the survivor set
    // recomputes identically)
    if (batchT.exists(bt => floor.forall(_ < bt))) {
      val t = lit(effT.get)
      target.stored.foreach { cur =>
        val spans = cur.groupBy(col("__kb"))
          .agg(coalesce(min(col(versionCol)) <= t, lit(false)).as("__hasDead"),
            coalesce(max(col(versionCol)) <= t, lit(false)).as("__allDead"))
          .collect().map(r => (r.getInt(0), r.getBoolean(1), r.getBoolean(2)))
        val toRewrite = spans.collect { case (kb, true, false) => kb }
        if (toRewrite.nonEmpty)
          target.rewrite(byBucket(cur.where(col("__kb").isin(toRewrite.toIndexedSeq: _*) &&
            col(versionCol) > t), toRewrite.length))
        // fully-dead buckets: a bucket write only replaces the buckets
        // present in its output, so these go outright
        spans.collect { case (kb, _, true) => kb }.foreach(target.drop)
      }
      // the upsert above created the target, so its floor dir exists
      val d = target.floorDir.get
      writeSidecar(fsOf(spark, d), d, TruncateFile, effT.get.toString)
    }
  }

  /** The truncate sinks' op value and floor sidecar: the highest
    * truncate version (a source LSN) ever applied. The floor is read
    * through [[graft.ops.StateFiles]], so a crash inside its replace
    * window never silently lowers the cutoff.
    */
  private val TruncateOp = "t"
  private val TruncateFile = "_graft_truncate"

  /** A8e — attach the truncate-aware upsert sink to a change stream. */
  def foreachBatchUpsertTruncates(changes: DataFrame, targetDir: String,
                                  checkpointDir: String, keyCols: Seq[String],
                                  versionCol: String, opCol: String = "op",
                                  nBuckets: Int = 0,
                                  trigger: Trigger = Trigger.AvailableNow(),
                                  bucketCols: Seq[String] = Nil): StreamingQuery =
    startSink(changes, checkpointDir, trigger) { (batch, _) =>
      applyUpsertBatchWithTruncates(batch, targetDir, keyCols, versionCol,
        opCol, nBuckets, bucketCols)
    }

  /** B20 (r19) — HEARTBEATS and the consumer OFFSET LEDGER. [PK:
    * Debezium emits periodic heartbeat records (`heartbeat.interval.ms`,
    * the `__debezium-heartbeat.<server>` topic) so that source offsets
    * keep advancing even when the captured tables are QUIET — without
    * them the connector's committed position pins WAL/binlog retention
    * and downstream liveness monitoring goes blind.] Consumer side, the
    * twin concern: the sink's durably-consumed position is the floor
    * below which channel retention is safe (Signals.pruneChannel /
    * Notifications.prune document "prune only below every consumer's
    * committed offset") — and on a quiet stream that floor never moves
    * unless heartbeats move it. Convention: a heartbeat is a flattened
    * changelog row with `op='h'`, a valid version/lsn, and no images.
    * [[applyUpsertBatchWithHeartbeats]] merges the DATA rows through the
    * normal pruned upsert and then advances the `_graft_offset` ledger
    * to the batch's max lsn INCLUDING heartbeats — a heartbeat-only
    * batch is zero table IO, one monotone sidecar move. The ledger
    * advances only AFTER the data lands (a crash between the two
    * replays idempotently and re-advances), and never moves backwards
    * (an out-of-order replay cannot lower the consumed floor).
    */
  def applyUpsertBatchWithHeartbeats(batch: DataFrame, targetDir: String,
                                     keyCols: Seq[String], versionCol: String,
                                     opCol: String = "op",
                                     nBuckets: Int = 0,
                                     bucketCols: Seq[String] = Nil): Unit = {
    val data = batch.where(col(opCol) =!= HeartbeatOp || col(opCol).isNull)
    applyUpsertBatch(data, targetDir, keyCols, versionCol, nBuckets, bucketCols)
    val hi = batch.agg(max(col(versionCol).cast("long"))).head()
    if (!hi.isNullAt(0)) {
      val fs = fsOf(batch.sparkSession, targetDir)
      // monotone: replays never lower the floor
      if (readSidecar(fs, targetDir, OffsetFile)(_.toLong).forall(_ < hi.getLong(0)))
        writeSidecar(fs, targetDir, OffsetFile, hi.getLong(0).toString)
    }
  }

  private val HeartbeatOp = "h"
  private val OffsetFile = "_graft_offset"

  /** B20 — attach the heartbeat-aware upsert sink to a change stream. */
  def foreachBatchUpsertHeartbeats(changes: DataFrame, targetDir: String,
                                   checkpointDir: String, keyCols: Seq[String],
                                   versionCol: String, opCol: String = "op",
                                   nBuckets: Int = 0,
                                   trigger: Trigger = Trigger.AvailableNow(),
                                   bucketCols: Seq[String] = Nil): StreamingQuery =
    startSink(changes, checkpointDir, trigger) { (batch, _) =>
      applyUpsertBatchWithHeartbeats(batch, targetDir, keyCols, versionCol,
        opCol, nBuckets, bucketCols)
    }

  /** The sink's durably-consumed position (None before anything landed).
    * This is the channel-retention floor: pruning a signal/notification
    * channel at or below it can never drop something this consumer has
    * not applied.
    */
  def readOffsetLedger(spark: SparkSession, targetDir: String): Option[Long] =
    readSidecar(fsOf(spark, targetDir), targetDir, OffsetFile)(_.toLong)

  /** Incrementally maintained aggregate rollup: each micro-batch folds its
    * per-key (count, decimal sum) PARTIALS into the bucket-partitioned
    * target — the streaming-materialized GROUP BY. Only mergeable partials
    * are stored (count/sum are associative), so a batch costs one narrow
    * partial agg plus a merge of the touched buckets, never a rescan; avg
    * and friends derive at read time. Decimal sums keep the stored value
    * bit-exact across engines and batch orders.
    *
    * Replay safety: count partials are NOT latest-wins, so a replayed
    * batch (foreachBatch is at-least-once) would double-count. The guard
    * lives IN the data: every bucket row carries `__bid`, the highest
    * batch id folded into it, so a replayed batch skips any touched
    * bucket whose stored `max(__bid)` already covers it. This closes the
    * crash window a sidecar-only guard leaves open (crash between the
    * data write and the sidecar write re-applied the batch permanently
    * and undetectably) — the sidecar remains only as a read-free fast
    * path for the common already-applied case. The bucket writes
    * themselves go through [[commitBuckets]], whose interrupted commit
    * the replay finishes before reading, so each touched bucket is
    * either old (guard misses → replay re-merges it) or new (guard hits
    * → replay skips it); either way the replayed batch folds into each
    * bucket exactly once.
    */
  def applyRollupBatch(batch: DataFrame, targetDir: String, keyCols: Seq[String],
                       valueCol: String, nBuckets: Int = 0,
                       batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val fs = fsOf(spark, targetDir)
    finishCommit(fs, targetDir)
    def recordBatch(): Unit =
      batchId.foreach(id => writeSidecar(fs, targetDir, LastBatchFile, id.toString))
    if (batchId.exists(id =>
        readSidecar(fs, targetDir, LastBatchFile)(_.toLong).exists(_ >= id))) return
    val partial = batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast("decimal(18,6)")).as("sum_val"))
    val n = resolvePinnedBuckets(fs, targetDir, nBuckets, partial.count())
    val b = partial.withColumn("__kb", pmod(hash(keyCols.map(col): _*), lit(n)))
      .withColumn("__bid", lit(batchId.getOrElse(-1L)))
    val touched = b.select(col("__kb")).distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) { recordBatch(); return }
    val existing =
      if (hasBucketDirs(fs, targetDir))
        Some {
          val ex = spark.read.parquet(targetDir).where(col("__kb").isin(touched: _*))
          // tables written before the __bid column existed merge as "never
          // guarded" (-1): correct, since nothing ever stamped them.
          // Persisted: BOTH the per-bucket guard aggregate and the merge
          // read the touched buckets — one storage scan, not two.
          (if (ex.columns.contains("__bid")) ex
           else ex.withColumn("__bid", lit(-1L))).persist()
        }
      else None
    try {
      // buckets whose data already contains this batch (crash after their
      // write, before the sidecar) — bounded by nBuckets, driver-safe
      val applied: Set[Int] = (existing, batchId) match {
        case (Some(ex), Some(id)) =>
          ex.groupBy(col("__kb")).agg(max(col("__bid")).as("mb"))
            .where(col("mb") >= id)
            .select(col("__kb")).collect().map(_.getInt(0)).toSet
        case _ => Set.empty
      }
      val live = touched.filterNot(applied)
      if (live.isEmpty) { recordBatch(); return }
      // already-applied buckets are excluded from BOTH sides: their dirs are
      // simply not in the output, and the bucket commit leaves them untouched
      val bLive = b.where(col("__kb").isin(live: _*))
      val exLive = existing.map(_.where(col("__kb").isin(live: _*)))
      val all = exLive.map(_.unionByName(bLive)).getOrElse(bLive)
      // layout-aligned like the upsert merge (r20, guide §2.4/§6): the
      // one exchange is [[byBucket]]'s on the layout column —
      // HashPartitioning(__kb, n) satisfies the final aggregate's
      // ClusteredDistribution(keyCols :+ __kb), so no second exchange is
      // planned and each rewrite lands ~one file per live bucket
      // instead of one per (agg task × bucket)
      val merged = byBucket(all, live.size)
        .groupBy((keyCols :+ "__kb").map(col): _*)
        .agg(sum(col("cnt")).as("cnt"),
          sum(col("sum_val")).cast("decimal(18,6)").as("sum_val"),
          max(col("__bid")).as("__bid"))
      commitBuckets(fs, targetDir, merged)
      recordBatch()
    } finally existing.foreach(_.unpersist(false))
  }

  /** A8b — attach the incremental rollup to a change stream. */
  def foreachBatchRollup(events: DataFrame, targetDir: String, checkpointDir: String,
                         keyCols: Seq[String], valueCol: String,
                         nBuckets: Int = 0,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startSink(events, checkpointDir, trigger) { (batch, id) =>
      applyRollupBatch(batch, targetDir, keyCols, valueCol, nBuckets, Some(id))
    }

  /** The maintained rollup (layout + replay-guard columns dropped). */
  def currentRollup(spark: SparkSession, targetDir: String): DataFrame =
    spark.read.parquet(targetDir).drop("__kb", "__bid")

  /** Compaction for the upsert table. Since the r19 layout-aligned merge
    * ([[latestByKeyAligned]]) every micro-batch rewrite already lands
    * ~one file per touched bucket, so a table maintained solely through
    * [[applyUpsertBatch]] stays compact by construction; this remains
    * the recovery path for buckets fragmented by OTHER writers (or by
    * pre-r19 binaries, whose merges emitted one file per shuffle task ×
    * bucket). Compacting rewrites each bucket as ONE file ([[byBucket]]
    * over the pinned bucket count, so a task holds whole buckets) through
    * [[commitBuckets]], which replaces only `__kb=*` directories — the
    * `_graft_buckets` layout pin survives. A table without the pin
    * (written by older code) compacts on the shuffle-partitions count.
    */
  def compact(spark: SparkSession, targetDir: String): Unit = {
    val fs = fsOf(spark, targetDir)
    finishCommit(fs, targetDir)
    val buckets = readSidecar(fs, targetDir, BucketsFile)(_.toInt).getOrElse(Int.MaxValue)
    commitBuckets(fs, targetDir, byBucket(readPinned(spark, targetDir), buckets))
  }

  /** Read the table through its pinned schema when one exists — buckets
    * written before a widening then read their missing columns as null
    * instead of depending on which footer Spark samples.
    */
  private def readPinned(spark: SparkSession, targetDir: String): DataFrame =
    readPinnedSchema(fsOf(spark, targetDir), targetDir) match {
      case Some(st) => spark.read.schema(st.add("__kb", IntegerType)).parquet(targetDir)
      case None     => spark.read.parquet(targetDir)
    }

  /** Live rows of the materialized table (tombstones filtered, layout
    * column dropped), resolved through the pinned schema.
    */
  def currentState(spark: SparkSession, targetDir: String,
                   opCol: String = "op", deleteOp: String = "d"): DataFrame =
    readPinned(spark, targetDir).where(col(opCol) =!= deleteOp).drop("__kb")

  /** A8d (r18) — the CLUSTERED upsert sink: merge a change batch into a
    * CATALOG table that is both partitioned by `__kb` (the touched-set
    * pruning unit, a hash of the merge key) and BUCKETED by `bucketCols`
    * (the downstream JOIN key). The catalog's bucket spec is what the
    * plain directory layout can't give: readers see
    * `HashPartitioning(bucketCols, nBuckets)`, so two tables maintained
    * through this sink join with ZERO exchanges — the changelog-fed
    * answer to GauntletSpec's pre-bucketed fact pair, the layout a
    * reporting consumer wants when the same fact join runs every hour at
    * 100 TB.
    *
    * Per-batch cost is the dir sink's: read ONLY the touched `__kb`
    * partitions (CatalogFileIndex partition pruning), latest-wins merge,
    * overwrite exactly those partitions (bucket files are rebuilt inside
    * each rewritten partition; untouched partitions keep their files
    * byte-identical, so the bucket contract never breaks).
    *
    * Commit: the TABLE owns its dynamic partition overwrite — it is
    * created with `OPTIONS ('partitionOverwriteMode' = 'dynamic')`, which
    * Spark's insert honors over the session's mode, so every write here
    * is a plain `insertInto` in the caller's own session and never
    * touches its conf. Spark stages a dynamic overwrite's output and
    * moves it into place only at job commit, so the merge may read the
    * very partitions it replaces. The move itself is Spark's: per
    * partition a delete, then a rename, with no roll-forward — a crash
    * inside it can leave a partition missing until the batch is
    * replayed, and a concurrent reader can see one missing for the
    * length of a rename. A table without the option (not created here)
    * is refused: its overwrite would run in static mode and replace the
    * whole table.
    *
    * Schema contract (r18, at parity with the dir sink): the CATALOG is
    * the schema pin. A batch that ADDS columns widens the table in
    * place (`ALTER TABLE … ADD COLUMNS` — old files read the new
    * columns as null through the catalog schema, nothing rewrites);
    * narrowing and type changes REFUSE loudly (restart-level DDL).
    * Every pin / widen / refusal lands as a B17 schema-history event
    * under the table's location, exactly like the dir sink's.
    * `bucketCols ⊆ keyCols` for the same colocation reason as the dir
    * sink's layout pin.
    */
  def applyUpsertBatchClustered(batch: DataFrame, table: String,
                                keyCols: Seq[String], versionCol: String,
                                bucketCols: Seq[String],
                                nBuckets: Int = 8, nKbParts: Int = 16): Unit = {
    val spark = batch.sparkSession
    require(bucketCols.nonEmpty && bucketCols.forall(keyCols.contains),
      s"bucketCols (${bucketCols.mkString(",")}) must be a non-empty subset " +
        s"of keyCols (${keyCols.mkString(",")})")
    lazy val batchRows = batch.count()
    if (!spark.catalog.tableExists(table)) {
      // batch 0 defines the table: data columns from the batch schema,
      // __kb as the partition column, the join key as the bucket spec,
      // and the dynamic overwrite every later write relies on.
      // The LAYOUT KNOBS (nKbParts, keyCols) are pinned as table
      // properties: like the dir sink's sidecars, a later batch hashing
      // __kb with a different modulus or key set would prune the wrong
      // partitions and silently resurrect stale rows — the pin turns
      // that into a loud refusal. (bucketCols need no extra pin: the
      // catalog's own bucket spec enforces them at write.)
      val colsDdl = batch.schema.toDDL
      val bk = bucketCols.mkString(", ")
      spark.sql(
        s"""CREATE TABLE $table ($colsDdl, __kb INT) USING parquet
           |OPTIONS ('partitionOverwriteMode' = 'dynamic')
           |PARTITIONED BY (__kb)
           |CLUSTERED BY ($bk) SORTED BY ($bk) INTO $nBuckets BUCKETS
           |TBLPROPERTIES ('graft.nKbParts' = '$nKbParts',
           |  'graft.keyCols' = '${keyCols.mkString(",")}')"""
          .stripMargin)
      graft.cdc.SchemaHistory.append(spark, tableLocation(spark, table),
        "pin", None, Some(batch.schema), Some(batchRows))
    } else {
      // the layout pin is MANDATORY on later batches: a modulus or
      // key-set drift would prune the wrong partitions
      val props = requireSinkTable(spark, table)
      require(props("graft.nKbParts") == nKbParts.toString,
        s"table $table is partitioned with nKbParts=${props("graft.nKbParts")}; " +
          s"got $nKbParts — a different modulus would prune the wrong " +
          "partitions and resurrect stale rows")
      require(props.get("graft.keyCols").contains(keyCols.mkString(",")),
        s"table $table merges on keyCols=${props.get("graft.keyCols")
          .getOrElse("?")}; got ${keyCols.mkString(",")}")
      // the catalog is the pinned schema: the dir sink's contract
      // (widen on added columns, refuse narrowing/type changes), each
      // decision a B17 event
      val ts = StructType(
        spark.table(table).schema.fields.filterNot(_.name == "__kb"))
      val (widened, widen) =
        try resolveSchema(table, batch.schema, Some(nullable(ts)))
        catch {
          case e: IllegalArgumentException =>
            graft.cdc.SchemaHistory.append(spark, tableLocation(spark, table),
              "refuse", Some(ts), Some(batch.schema), Some(batchRows))
            throw e
        }
      if (widen) {
        val adds = widened.fields.drop(ts.length)
          .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
        spark.sql(s"ALTER TABLE $table ADD COLUMNS ($adds)")
        graft.cdc.SchemaHistory.append(spark, tableLocation(spark, table),
          "widen", Some(ts), Some(widened), Some(batchRows))
      }
    }
    val b = batch.withColumn("__kb",
      pmod(hash(keyCols.map(col): _*), lit(nKbParts)))
    val touched = b.select(col("__kb")).distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return
    val existing = spark.table(table).where(col("__kb").isin(touched: _*))
    // layout-aligned merge (see [[latestByKeyAligned]]): one exchange on
    // __kb, whole partitions per task — the bucketed insert then writes
    // ~one file per (touched __kb dir × bucket) instead of one per
    // (merge-shuffle task × dir × bucket)
    insertOverwrite(latestByKeyAligned(existing.unionByName(b), keyCols, versionCol,
      touched.size), table)
  }

  /** Overwrite the clustered table's `__kb` partitions present in `rows`
    * — the table's dynamic-overwrite option replaces exactly those (see
    * [[applyUpsertBatchClustered]]). `insertInto` matches columns by
    * position, so `rows` is put in the table's column order first.
    */
  private def insertOverwrite(rows: DataFrame, table: String): Unit =
    rows.select(rows.sparkSession.table(table).columns.map(col).toIndexedSeq: _*)
      .write.mode("overwrite").insertInto(table)

  private def tableProps(spark: SparkSession, table: String): Map[String, String] =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** One `DESCRIBE TABLE EXTENDED` detail row (`Location`, `Storage
    * Properties`, …) of `table`, if present. The rows are filtered on the
    * driver: a filter over the command's result would run a Spark job.
    */
  private def tableDetail(spark: SparkSession, table: String, name: String): Option[String] =
    spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .find(_.getString(0) == name).map(_.getString(1))

  /** The table's layout pins, refusing a table this sink did not
    * create: one without the `graft.nKbParts` pin (the guard against
    * layout drift), or without the dynamic-overwrite storage option
    * (its overwrite would run in static mode and replace the whole
    * table).
    */
  private def requireSinkTable(spark: SparkSession, table: String): Map[String, String] = {
    def notOurs(missing: String, why: String): String =
      s"table $table has no $missing — it was not created through this sink; " +
        s"recreate it here ($why)"
    val props = tableProps(spark, table)
    require(props.contains("graft.nKbParts"),
      notOurs("graft.nKbParts pin", "the pin is the guard against layout drift"))
    require(tableDetail(spark, table, "Storage Properties")
        .exists(_.toLowerCase(java.util.Locale.ROOT).contains("partitionoverwritemode=dynamic")),
      notOurs("'partitionOverwriteMode' = 'dynamic' option",
        "without it an overwrite runs in static mode and replaces the whole table"))
    props
  }

  /** B19 parity for the CLUSTERED catalog sink: [[applyUpsertBatchClustered]]
    * with TRUNCATE support — the same semantics, floor discipline and
    * body as [[applyUpsertBatchWithTruncates]] (dir-sink scaladoc),
    * adapted to the catalog: the floor sidecar lives at the table
    * LOCATION (beside its B17 history), the stored rows are the catalog
    * table, mixed partitions rewrite through the table's dynamic
    * overwrite, and wholly-dead partitions drop via `ALTER TABLE … DROP
    * PARTITION` (the catalog's delete — dynamic overwrite cannot remove a
    * partition absent from its output). The bucket spec is catalog
    * metadata, so the exchange-free join contract survives the truncate
    * untouched.
    */
  def applyUpsertBatchClusteredWithTruncates(batch: DataFrame, table: String,
                                             keyCols: Seq[String],
                                             versionCol: String,
                                             bucketCols: Seq[String],
                                             opCol: String = "op",
                                             nBuckets: Int = 8,
                                             nKbParts: Int = 16): Unit = {
    val spark = batch.sparkSession
    applyTruncating(batch, versionCol, opCol, new TruncateTarget {
      def floorDir: Option[String] =
        if (spark.catalog.tableExists(table)) Some(tableLocation(spark, table)) else None
      def stored: Option[DataFrame] = Some(spark.table(table))
      def rewrite(rows: DataFrame): Unit = insertOverwrite(rows, table)
      def drop(kb: Int): Unit =
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (__kb=$kb)"): Unit
    })(applyUpsertBatchClustered(_, table, keyCols, versionCol, bucketCols,
      nBuckets, nKbParts))
  }

  /** Live rows of a [[applyUpsertBatchClustered]] table (tombstones
    * filtered, layout column dropped). The frame keeps the catalog's
    * bucket distribution — join it on `bucketCols` exchange-free.
    */
  def currentStateClustered(spark: SparkSession, table: String,
                            opCol: String = "op",
                            deleteOp: String = "d"): DataFrame =
    spark.table(table).where(col(opCol) =!= deleteOp).drop("__kb")

  /** The table's storage location — the root its B17 schema-history
    * events live under (the clustered twin of the dir sink's targetDir).
    */
  def tableLocation(spark: SparkSession, table: String): String =
    tableDetail(spark, table, "Location").get

  /** Compaction for the clustered table. Since the r19 layout-aligned
    * merge each rewrite holds every touched `__kb` partition in one task
    * (nBuckets files per dir — the catalog bucket spec splits within the
    * task), so tables maintained solely through this sink stay compact;
    * this remains the recovery path for partitions fragmented by other
    * writers or pre-r19 binaries (one file per merge-shuffle task ×
    * partition × bucket). Compacting re-clusters each `__kb` partition in one task
    * ([[byBucket]] over the pinned `graft.nKbParts`) so the rewrite lands
    * ~one file per (partition, bucket) — the catalog's bucket spec is
    * metadata and survives untouched, so the exchange-free join contract
    * holds before and after. Like every write of the sink it reads the
    * partitions it overwrites through the table's staged dynamic
    * overwrite, and refuses a table the sink did not create.
    */
  def compactClustered(spark: SparkSession, table: String): Unit = {
    val kbParts = requireSinkTable(spark, table)("graft.nKbParts").toInt
    insertOverwrite(byBucket(spark.table(table), kbParts), table)
  }
}
