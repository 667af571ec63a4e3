package graft.streaming

import graft.cdc.SchemaHistory
import graft.ops.StateFiles
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructType}

/** A8 — `foreachBatch` sinks: the standard way a CDC consumer applies a
  * change stream to a queryable target table.
  *
  * Every sink writes a BUCKET TABLE: rows partitioned by `__kb`, a hash
  * bucket of the merge key (or of a key subset), so a micro-batch reads
  * back and rewrites ONLY the buckets it touches — the per-batch cost is
  * proportional to the touched working set, not the table. (On a
  * lakehouse format a merge is one MERGE INTO; plain parquet needs this
  * read-merge-overwrite cycle.) A fresh directory table auto-sizes its
  * `__kb` modulus to one bucket per 64k rows of its first write, floored
  * at the write parallelism, so a small table's full rewrite is one file
  * per write task ([[applyUpsertBatch]] states the rule's property and
  * trade-off); the exchange puts bucket k on task k mod n ([[byBucket]]).
  *
  * THE TARGET CONTRACT is what Structured Streaming asks of a
  * foreachBatch sink: an idempotent per-batch overwrite. The private
  * `BucketTable` states it once. A target owns
  *  - the layout pin: merge key, `__kb` hash columns and modulus, pinned
  *    on the first write; drift refuses, since a batch hashed differently
  *    would prune the wrong buckets and resurrect stale rows;
  *  - the table schema and its widen step ([[resolveSchema]]);
  *  - the touched-bucket read, the bucket write and the bucket drop;
  *  - the root of the truncate floor, offset ledger and B17 history.
  * One merge body ([[mergeBuckets]]) serves every sink — upsert, rollup
  * and clustered upsert are merge functions over it, the truncate and
  * heartbeat sinks wrap the upsert — with one schema contract and one
  * compaction. The two implementations and their crash windows:
  *  - DIRECTORY: pins are sidecar files beside the `__kb=` dirs, through
  *    [[graft.ops.StateFiles]]. A write stages its buckets under
  *    `_graft_stage` in one Spark job (whose `_SUCCESS` marks the stage
  *    complete), then promotes each one (delete, then rename). The next
  *    call rolls an interrupted promote forward before it reads, so a
  *    replayed batch never reads a bucket the crash left missing; a
  *    concurrent reader can see one missing for the length of a rename.
  *  - CATALOG: pins are table properties and the catalog schema; the
  *    write is Spark's dynamic partition overwrite, owned by the table as
  *    a storage option. Spark moves each partition into place at job
  *    commit (delete, then rename) with NO roll-forward: a crash inside
  *    it can leave a partition missing until the batch is replayed.
  *
  * The upsert state keeps the latest event per key INCLUDING delete
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

  /** How many buckets a full rewrite runs at once, one file per task: the
    * [[byBucket]] exchange never has more than the shuffle-partitions
    * count of tasks, and tasks beyond the cores only wait for a core.
    */
  private def writeParallelism(spark: SparkSession): Int =
    math.min(spark.sparkContext.defaultParallelism, shufflePartitions(spark))

  private def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every sink sidecar is a small text file under the table's root,
    * written and read through [[graft.ops.StateFiles]] (replace by
    * tmp-then-rename; a torn first write reads as absent).
    */
  private def readSidecar[T](fs: FileSystem, dir: String,
                             name: String)(parse: String => T): Option[T] =
    StateFiles.read(fs, new Path(dir, name))(parse)

  private def writeSidecar(fs: FileSystem, dir: String,
                           name: String, text: String): Unit =
    StateFiles.replace(fs, new Path(dir, name), text.getBytes("UTF-8"))

  /** A table's layout pin: the merge key, the columns `__kb` hashes and
    * the `__kb` modulus.
    */
  private final case class Layout(keyCols: Seq[String], hashCols: Seq[String], buckets: Int)

  /** The refusal of another or reordered merge key: it hashes rows into
    * other buckets.
    */
  private def keyDrift(table: String, pinned: String, keyCols: Seq[String]): String =
    s"table $table merges on keyCols=$pinned; got ${keyCols.mkString(",")}"

  /** The sink target (see the object scaladoc). */
  private trait BucketTable {
    /** The table as refusals name it. */
    def name: String
    /** Where the floor, offset and B17 sidecars live (None before the table exists). */
    def root: Option[String]
    /** Check the layout ask against the pin, pinning a fresh table;
      * `buckets = 0` auto-sizes from `rows`, evaluated only then.
      */
    def layout(keyCols: Seq[String], buckets: Int, rows: => Long): Layout
    /** The pinned `__kb` modulus, if any. */
    def buckets: Option[Int]
    /** The schema the table holds (None while fresh). */
    def schema: Option[StructType]
    /** Pin `schema`, first (`prior` None) or widened; `record` lands the
      * B17 event under a root.
      */
    def pinSchema(layout: Layout, prior: Option[StructType], schema: StructType)
                 (record: String => Unit): Unit
    /** Whether the schema pin lands before the merge (a catalog insert
      * needs the widened columns) or after its write.
      */
    def pinFirst: Boolean
    /** The stored rows with `__kb`, through `schema` when given (None while empty). */
    def read(schema: Option[StructType]): Option[DataFrame]
    /** Overwrite exactly the buckets present in `rows`. */
    def write(rows: DataFrame): Unit
    /** Remove bucket `kb` (a write cannot remove a bucket absent from it). */
    def drop(kb: Int): Unit
  }

  /** The directory layout pins: the `__kb` modulus, the hash columns
    * (r18: a SUBSET of the merge key clusters the table on a join key,
    * e.g. lineitem merged on (orderkey, linenumber) and bucketed by
    * orderkey; written only when it differs from the key) and the merge
    * key itself.
    */
  private val BucketsFile = "_graft_buckets"
  private val BucketColsFile = "_graft_bucket_cols"
  private val KeyColsFile = "_graft_key_cols"

  /** The directory schema pin (round 15): a Debezium consumer's most
    * common DDL is an added nullable column, and the pin absorbs it in
    * place — the new columns join the pinned schema (forced nullable) and
    * untouched buckets read them as null through the explicit-schema
    * scan, with no rewrite. Readers and the compactor resolve the pin, so
    * a table whose buckets straddle a widening never depends on which
    * parquet footer Spark samples.
    */
  private val SchemaFile = "_graft_schema"

  private val StageDir = "_graft_stage"

  private def readBuckets(spark: SparkSession, dir: String,
                          schema: Option[StructType]): DataFrame = schema match {
    case Some(st) => spark.read.schema(st.add("__kb", IntegerType)).parquet(dir)
    case None     => spark.read.parquet(dir)
  }

  private def pinnedSchema(fs: FileSystem, dir: String): Option[StructType] =
    readSidecar(fs, dir, SchemaFile)(DataType.fromJson(_).asInstanceOf[StructType])

  /** The directory target. Constructing it finishes whatever bucket
    * commit a crash interrupted, so every sink call starts from a whole
    * table.
    */
  private final class DirTable(spark: SparkSession, dir: String,
                               bucketCols: Seq[String] = Nil) extends BucketTable {
    private val fs = fsOf(spark, dir)
    finishCommit()

    def name: String = dir
    def root: Option[String] = Some(dir)
    def pinFirst: Boolean = false
    def buckets: Option[Int] = readSidecar(fs, dir, BucketsFile)(_.toInt)

    private def hasBucketDirs: Boolean = {
      val tdir = new Path(dir)
      fs.exists(tdir) && fs.listStatus(tdir).exists(_.getPath.getName.startsWith("__kb="))
    }

    /** A NON-default hash choice is pinned only on a FRESH table (r18
      * review), and `__kb=` dirs without a count pin (older code, or a
      * lost sidecar) refuse auto-sizing: either would re-hash stored rows'
      * keys into other buckets and the merge would resurrect stale rows.
      */
    def layout(keyCols: Seq[String], nBuckets: Int, rows: => Long): Layout = {
      val want = if (bucketCols.isEmpty) keyCols else bucketCols
      require(want.forall(keyCols.contains),
        s"bucketCols (${want.mkString(",")}) must be a subset of keyCols " +
          s"(${keyCols.mkString(",")}): the layout hash must be a pure " +
          "function of the merge key or a key's versions land in different buckets")
      val pinnedKeys = readSidecar(fs, dir, KeyColsFile)(identity)
      pinnedKeys.foreach(p => require(p == keyCols.mkString(","), keyDrift(s"at $dir", p, keyCols)))
      val hashCols = readSidecar(fs, dir, BucketColsFile)(_.split(",").toSeq) match {
        case Some(pinned) =>
          require(pinned == want, s"table at $dir is bucketed on ${pinned.mkString(",")}; " +
            s"got bucketCols=${want.mkString(",")}")
          pinned
        case None =>
          if (want != keyCols) {
            require(!hasBucketDirs,
              s"table at $dir already holds data bucketed on its merge " +
                s"key; refusing to pin bucketCols=${want.mkString(",")} over " +
                "the existing layout — rebuild the table to re-cluster it")
            writeSidecar(fs, dir, BucketColsFile, want.mkString(","))
          }
          want
      }
      val n = buckets match {
        case Some(p) =>
          require(nBuckets == 0 || nBuckets == p,
            s"table at $dir is bucketed with $p buckets; got nBuckets=$nBuckets")
          p
        case None =>
          require(!hasBucketDirs || nBuckets > 0,
            s"table at $dir has existing __kb= bucket directories but no " +
              "_graft_buckets sidecar; refusing to auto-size a fresh bucket count " +
              "over an unknown layout — pass nBuckets matching the existing layout " +
              "explicitly (it will be pinned)")
          val chosen =
            if (nBuckets > 0) nBuckets
            else math.min(math.max(writeParallelism(spark).toLong, rows / RowsPerBucket + 1),
              MaxAutoBuckets.toLong).toInt
          writeSidecar(fs, dir, BucketsFile, chosen.toString)
          chosen
      }
      if (pinnedKeys.isEmpty) writeSidecar(fs, dir, KeyColsFile, keyCols.mkString(","))
      Layout(keyCols, hashCols, n)
    }

    /** The pin, else the footer schema of the live table. */
    def schema: Option[StructType] = pinnedSchema(fs, dir).orElse(
      if (hasBucketDirs) Some(StructType(
        spark.read.parquet(dir).schema.fields.filterNot(_.name == "__kb")))
      else None)

    def pinSchema(layout: Layout, prior: Option[StructType], schema: StructType)
                 (record: String => Unit): Unit = {
      record(dir)
      writeSidecar(fs, dir, SchemaFile, schema.json)
    }

    def read(schema: Option[StructType]): Option[DataFrame] =
      if (hasBucketDirs) Some(readBuckets(spark, dir, schema.orElse(pinnedSchema(fs, dir))))
      else None

    /** The stage is underscore-prefixed, so no parquet scan of the table
      * sees it: a merge may read the buckets it rewrites.
      */
    def write(rows: DataFrame): Unit = {
      val stage = new Path(dir, StageDir)
      rows.write.mode("overwrite").partitionBy("__kb").parquet(stage.toString)
      // a session in dynamic partition-overwrite mode, or a committer that
      // writes no success marker, leaves a stage finishCommit can only drop
      if (!finishCommit())
        throw new IllegalStateException(s"the write into $stage left no _SUCCESS marker: " +
          "the bucket commit needs static partition overwrite and the committer's marker")
    }

    def drop(kb: Int): Unit = fs.delete(new Path(dir, s"__kb=$kb"), true): Unit

    /** [[graft.ops.StateFiles]]' replace applied to bucket dirs, and
      * idempotent: a complete stage (its `_SUCCESS` present) wins, each
      * staged `__kb=` dir replacing the live one; a stage without it was
      * never complete and is dropped. Returns whether it was complete.
      */
    private def finishCommit(): Boolean = {
      val stage = new Path(dir, StageDir)
      val complete = fs.exists(new Path(stage, "_SUCCESS"))
      if (complete)
        fs.listStatus(stage).filter(_.getPath.getName.startsWith("__kb=")).foreach { st =>
          val dest = new Path(dir, st.getPath.getName)
          fs.delete(dest, true)
          if (!fs.rename(st.getPath, dest))
            throw new java.io.IOException(s"could not promote ${st.getPath} to $dest")
        }
      fs.delete(stage, true)
      complete
    }
  }

  /** The catalog target: partitioned by `__kb`, bucketed by `bucketCols`
    * into `nBuckets` (the CREATE-time spec; an existing table keeps its
    * own).
    */
  private final class CatalogTable(spark: SparkSession, table: String,
                                   bucketCols: Seq[String] = Nil,
                                   nBuckets: Int = 0) extends BucketTable {
    private def exists: Boolean = spark.catalog.tableExists(table)

    def name: String = table
    def root: Option[String] = if (exists) Some(tableLocation(spark, table)) else None
    def pinFirst: Boolean = true
    def buckets: Option[Int] = Some(requireSinkTable(spark, table)("graft.nKbParts").toInt)

    /** A fresh table is pinned by its CREATE ([[pinSchema]]). */
    def layout(keyCols: Seq[String], nKbParts: Int, rows: => Long): Layout = {
      require(bucketCols.nonEmpty && bucketCols.forall(keyCols.contains),
        s"bucketCols (${bucketCols.mkString(",")}) must be a non-empty subset " +
          s"of keyCols (${keyCols.mkString(",")})")
      if (exists) {
        val props = requireSinkTable(spark, table)
        require(props("graft.nKbParts") == nKbParts.toString,
          s"table $table is partitioned with nKbParts=${props("graft.nKbParts")}; " +
            s"got $nKbParts — a different modulus would prune the wrong " +
            "partitions and resurrect stale rows")
        require(props.get("graft.keyCols").contains(keyCols.mkString(",")),
          keyDrift(table, props.getOrElse("graft.keyCols", "?"), keyCols))
      }
      Layout(keyCols, keyCols, nKbParts)
    }

    def schema: Option[StructType] =
      if (exists) Some(StructType(spark.table(table).schema.fields.filterNot(_.name == "__kb")))
      else None

    /** The first pin is the CREATE, carrying the dynamic overwrite every
      * write relies on and the layout pins as properties (the catalog's
      * bucket spec enforces `bucketCols`); its B17 event follows, as the
      * location exists only once the table does. A widening is `ALTER
      * TABLE … ADD COLUMNS`: old files read the new columns as null.
      */
    def pinSchema(layout: Layout, prior: Option[StructType], schema: StructType)
                 (record: String => Unit): Unit = prior match {
      case None =>
        val bk = bucketCols.mkString(", ")
        spark.sql(
          s"""CREATE TABLE $table (${schema.toDDL}, __kb INT) USING parquet
             |OPTIONS ('partitionOverwriteMode' = 'dynamic')
             |PARTITIONED BY (__kb)
             |CLUSTERED BY ($bk) SORTED BY ($bk) INTO $nBuckets BUCKETS
             |TBLPROPERTIES ('graft.nKbParts' = '${layout.buckets}',
             |  'graft.keyCols' = '${layout.keyCols.mkString(",")}')"""
            .stripMargin)
        record(tableLocation(spark, table))
      case Some(p) =>
        record(tableLocation(spark, table))
        val adds = schema.fields.drop(p.length)
          .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
        spark.sql(s"ALTER TABLE $table ADD COLUMNS ($adds)"): Unit
    }

    def read(schema: Option[StructType]): Option[DataFrame] = Some(spark.table(table))

    /** `insertInto` matches columns by position: table order first. */
    def write(rows: DataFrame): Unit =
      rows.select(spark.table(table).columns.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").insertInto(table)

    def drop(kb: Int): Unit =
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (__kb=$kb)"): Unit
  }

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

  /** The schema rule for one batch against the table's nullable schema
    * (None while fresh): ADDED columns widen the table in place;
    * narrowing and type changes REFUSE (restart-level DDL). Returns the
    * table schema after the batch — forced nullable, since a widening
    * backfills nulls — and whether the pin must move.
    */
  private def resolveSchema(table: String, batchSchema: StructType,
                            current: Option[StructType]): (StructType, Boolean) = {
    val b = nullable(batchSchema)
    current match {
      case None => (b, true) // first write pins the batch schema
      case Some(ts) =>
        val bByName = b.fields.map(f => f.name -> f).toMap
        val missing = ts.fields.map(_.name).filterNot(bByName.contains)
        require(missing.isEmpty,
          s"upsert batch is missing table columns ${missing.mkString(", ")} at $table " +
            "— NARROWING is restart-level DDL (rebuild the table " +
            "or project the dropped columns as nulls explicitly)")
        val clashes = ts.fields.flatMap { f =>
          bByName.get(f.name).filter(_.dataType != f.dataType)
            .map(bf => s"${f.name}: table ${f.dataType.simpleString} vs " +
              s"batch ${bf.dataType.simpleString}")
        }
        require(clashes.isEmpty,
          s"upsert batch changes column types at $table — ${clashes.mkString("; ")}: " +
            "type changes are restart-level DDL")
        val newCols = b.fields.filterNot(f => ts.fieldNames.contains(f.name))
        if (newCols.isEmpty) (ts, false)
        else (StructType(ts.fields ++ newCols), true) // WIDEN: absorb in place
    }
  }

  /** The sinks' one schema contract: [[resolveSchema]] against the
    * target, each decision a B17 schema-history event. A refusal is
    * recorded before it throws (the rejected DDL is what an operator
    * reads the log for). Returns the schema to read stored buckets with,
    * and the pin step. Its event lands BEFORE the pin moves, so a crash
    * between the two re-detects the change on replay and re-appends:
    * at-least-once history, never a missing event.
    */
  private def schemaContract(t: BucketTable, layout: Layout, batch: DataFrame,
                             rows: => Long): (StructType, () => Unit) = {
    val spark = batch.sparkSession
    val prior = t.schema
    val (schema, repin) =
      try resolveSchema(t.name, batch.schema, prior.map(nullable))
      catch {
        case e: IllegalArgumentException =>
          // only a table with a schema refuses, so its root exists
          SchemaHistory.append(spark, t.root.get, "refuse", prior, Some(batch.schema), Some(rows))
          throw e
      }
    (schema, () => if (repin) t.pinSchema(layout, prior, schema) { root =>
      SchemaHistory.append(spark, root, if (prior.isEmpty) "pin" else "widen",
        prior, Some(schema), Some(rows)): Unit
    })
  }

  /** The sinks' one merge body: hash `rows` into `__kb`, collect the
    * touched buckets, read their stored rows (partition-pruned, through
    * `readSchema` when given), union them with the batch rows, and write
    * `merge` over the [[byBucket]] exchange. An `applied` guard names the
    * touched buckets that already hold this batch; both sides of those
    * are left out, and the stored read, which the guard reads too, is
    * persisted once.
    */
  private def mergeBuckets(t: BucketTable, rows: DataFrame, layout: Layout,
                           readSchema: Option[StructType] = None,
                           applied: Option[DataFrame => Set[Int]] = None)
                          (merge: DataFrame => DataFrame): Unit = {
    val b = rows.withColumn("__kb", pmod(hash(layout.hashCols.map(col): _*), lit(layout.buckets)))
    // one job and no shuffle: each task returns its partition's distinct
    // buckets (at most the modulus), the driver takes their union
    val touched = b.select(col("__kb")).as(Encoders.scalaInt)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaInt).collect().distinct.toSeq
    if (touched.isEmpty) return
    val stored = t.read(readSchema).map { s =>
      val pruned = s.where(col("__kb").isin(touched: _*))
      if (applied.isDefined) pruned.persist() else pruned
    }
    try {
      val skip = applied.flatMap(stored.map(_)).getOrElse(Set.empty[Int])
      val live = touched.filterNot(skip)
      def keep(df: DataFrame) = if (skip.isEmpty) df else df.where(col("__kb").isin(live: _*))
      if (live.nonEmpty)
        t.write(merge(byBucket(stored.map(s => keep(s).unionByName(keep(b),
          allowMissingColumns = true)).getOrElse(keep(b)), live.size)))
    } finally if (applied.isDefined) stored.foreach(_.unpersist(false))
  }

  /** The upsert merge function, keyed for the table LAYOUT (r19):
    * semantically `Materialize.latestByKey(all, keyCols, version)` —
    * `__kb` is a function of the merge key, so grouping on
    * (__kb, keyCols) groups exactly like keyCols — but the byBucket
    * partitioning on `__kb` satisfies its window's
    * ClusteredDistribution(__kb :: keyCols), so Catalyst plans ONE
    * exchange and every task holds whole buckets: a rewrite lands ~one
    * file per touched bucket, not one per (merge task × bucket).
    */
  private def latestByKeyAligned(keyCols: Seq[String], versionCol: String)
                                (all: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((col("__kb") +: keyCols.map(col)): _*)
      .orderBy(col(versionCol).desc)
    all.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** One upsert batch into either target: the layout pin, the schema
    * contract, and the merge body with [[latestByKeyAligned]]. The schema
    * pin lands where the target puts it: the directory pin moves AFTER
    * the data lands (a crash in between re-detects the same widening and
    * rewrites the same content), the catalog's DDL before the merge.
    */
  private def upsertInto(t: BucketTable, batch: DataFrame, keyCols: Seq[String],
                         versionCol: String, buckets: Int): Unit = {
    // LAZY (r18): only auto-sizing and schema events need the count, so
    // the steady path pays no per-micro-batch count job
    lazy val batchRows = batch.count()
    val layout = t.layout(keyCols, buckets, batchRows)
    val (schema, pin) = schemaContract(t, layout, batch, batchRows)
    if (t.pinFirst) pin()
    mergeBuckets(t, batch, layout, Some(schema))(latestByKeyAligned(keyCols, versionCol))
    if (!t.pinFirst) pin()
  }

  /** The sinks' one bucket exchange: send each row of `rows` to task
    * `__kb mod n`, `n = min(buckets, spark.sql.shuffle.partitions)`,
    * `buckets` being the number of buckets the write produces. Every task
    * holds whole buckets, so a bucket rewrite still lands one file per
    * bucket, and the write runs up to the shuffle-partitions count of
    * tasks — the count an unnumbered `repartition(__kb)` starts from,
    * capped by the buckets there are to spread.
    *
    * PLACEMENT: `repartitionById` passes `__kb` through as the partition
    * id (`ShufflePartitionIdPassThrough`, `pmod(__kb, n)`), so a fully
    * touched table and [[compactTable]] spread their buckets evenly: 16
    * buckets on 4 tasks are 4/4/4/4, where Spark's Murmur3 hash gave
    * 3/3/4/6 and the batch waited for the task with 6. For a sparse
    * touched set `kb mod n` is exact only by luck (touched 0, 4 and 8 of
    * 16 over `n = 3` is even, 0, 3 and 6 is not); in expectation it is no
    * worse than the hash. The partitioning still satisfies a
    * `ClusteredDistribution` containing `__kb`, so the upsert window and
    * the rollup aggregate above it plan no second exchange.
    *
    * The count is explicit because AQE never coalesces a numbered
    * repartition. Left to AQE, the exchange is coalesced by BYTES (toward
    * `advisoryPartitionSizeInBytes`, and at least
    * `coalescePartitions.minPartitionSize` per task): a micro-batch's
    * touched buckets are a MB or two of shuffle, so they fold into ONE
    * task that encodes and commits every bucket file serially while the
    * other cores idle. A bucket rewrite's cost is set by the files it
    * writes (one parquet encode and commit per bucket), not by the bytes
    * it shuffles, so byte-sized partitions are the wrong unit for it.
    */
  private def byBucket(rows: DataFrame, buckets: Int): DataFrame =
    rows.repartitionById(math.max(1, math.min(buckets, shufflePartitions(rows.sparkSession))),
      col("__kb"))

  /** The one compaction: rewrite every bucket through [[byBucket]] over
    * the pinned modulus, so each lands ~one file (per catalog bucket);
    * the pins and the catalog bucket spec survive. A directory table
    * without the count pin (older code) compacts on the shuffle-partitions
    * count.
    */
  private def compactTable(t: BucketTable): Unit = {
    val buckets = t.buckets.getOrElse(Int.MaxValue)
    t.read(None).foreach(rows => t.write(byBucket(rows, buckets)))
  }

  /** Merge one batch of flattened change events into the directory
    * target. `versionCol` must totally order events per key (e.g. lsn).
    *
    * `nBuckets = 0` (the default) auto-sizes on first write from the
    * batch volume and pins the result; later batches reuse the pinned
    * value. The rule is one bucket per [[RowsPerBucket]] rows, floored at
    * the write parallelism `min(defaultParallelism,
    * spark.sql.shuffle.partitions)`: a small table whose batches touch
    * most of its buckets then rewrites one bucket file per write task
    * ([[byBucket]]), not several small ones. The trade-off: a sparse
    * batch into a small table rewrites a larger share of it. A table
    * that will grow past its first write — at 100 TB, every table —
    * should pass an explicit count sized from the TABLE (≈ tableRows /
    * 64k) on the first write; the first batch is a poor proxy for its
    * volume.
    * `bucketCols` (r18): the layout hash columns, default the merge key;
    * a key subset (e.g. just the order key) co-locates the table for a
    * downstream join. Both are pinned on first write, like `keyCols`.
    * Pins, commit and crash window: the directory target's (object
    * scaladoc). [[compact]] is needed only for tables fragmented by other
    * writers: each merge lands ~one file per touched bucket.
    */
  def applyUpsertBatch(batch: DataFrame, targetDir: String, keyCols: Seq[String],
                       versionCol: String, nBuckets: Int = 0,
                       bucketCols: Seq[String] = Nil): Unit =
    upsertInto(new DirTable(batch.sparkSession, targetDir, bucketCols), batch,
      keyCols, versionCol, nBuckets)

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
    * after the truncate merge as usual. The mechanics are
    * [[applyTruncating]]'s. Sinks that cannot honor a truncate (the
    * rollup's count partials) must route them to the B13 dead letter
    * instead — [[graft.cdc.Envelope.splitTruncates]].
    */
  def applyUpsertBatchWithTruncates(batch: DataFrame, targetDir: String,
                                    keyCols: Seq[String], versionCol: String,
                                    opCol: String = "op",
                                    nBuckets: Int = 0,
                                    bucketCols: Seq[String] = Nil): Unit = {
    val t = new DirTable(batch.sparkSession, targetDir, bucketCols)
    applyTruncating(t, batch, versionCol, opCol)(upsertInto(t, _, keyCols, versionCol, nBuckets))
  }

  /** The truncate sinks' one body: (1) the batch rows OUTLIVING the cut
    * (floor ∪ the batch's last truncate) go through `upsert`; rows at or
    * below it are dead on arrival. (2) A truncate newer than the floor
    * clears the stored pre-truncate key-space — which the touched-bucket
    * contract cannot bound, since a truncate addresses EVERY key: a
    * per-bucket (min, max) version scan classifies each bucket as
    * untouched, wholly dead (dropped) or mixed (rewritten without its
    * dead rows) — and then the floor moves. A replay recomputes the same
    * survivor set, so both steps are idempotent.
    */
  private def applyTruncating(t: BucketTable, batch: DataFrame, versionCol: String,
                              opCol: String)(upsert: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    // the FLOOR (the highest truncate ever applied) is part of the table:
    // a later batch's straggler rows versioned BEFORE it must not
    // resurrect the cleared key-space
    val floor: Option[Long] = t.root.flatMap(d =>
      readSidecar(fsOf(spark, d), d, TruncateFile)(_.toLong))
    val cut = batch.where(col(opCol) === TruncateOp)
      .agg(max(col(versionCol).cast("long"))).head() // one driver row
    val batchT: Option[Long] = if (cut.isNullAt(0)) None else Some(cut.getLong(0))
    val effT: Option[Long] = (floor.toSeq ++ batchT.toSeq).maxOption
    val rows = batch.where(col(opCol) =!= TruncateOp || col(opCol).isNull)
    upsert(effT.map(t => rows.where(col(versionCol) > lit(t))).getOrElse(rows))
    // the floor moves LAST: a crash before it replays the clear idempotently
    if (batchT.exists(bt => floor.forall(_ < bt))) {
      val cutoff = lit(effT.get)
      t.read(None).foreach { cur =>
        // one column-pruned pass, collected bounded by the bucket count
        val spans = cur.groupBy(col("__kb"))
          .agg(coalesce(min(col(versionCol)) <= cutoff, lit(false)).as("__hasDead"),
            coalesce(max(col(versionCol)) <= cutoff, lit(false)).as("__allDead"))
          .collect().map(r => (r.getInt(0), r.getBoolean(1), r.getBoolean(2)))
        val toRewrite = spans.collect { case (kb, true, false) => kb }
        if (toRewrite.nonEmpty)
          t.write(byBucket(cur.where(col("__kb").isin(toRewrite.toIndexedSeq: _*) &&
            col(versionCol) > cutoff), toRewrite.length))
        spans.collect { case (kb, _, true) => kb }.foreach(t.drop)
      }
      // the upsert above created the target, so its root exists
      val d = t.root.get
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
    * normal upsert and then advances the `_graft_offset` ledger
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
    // the max rides the merge's first job, which always runs and reads
    // every batch row (the touched collect), so it costs no job of its own
    val observed = Observation()
    val data = batch.observe(observed, max(col(versionCol).cast("long")).as("hi"))
      .where(col(opCol) =!= HeartbeatOp || col(opCol).isNull)
    applyUpsertBatch(data, targetDir, keyCols, versionCol, nBuckets, bucketCols)
    Option(observed.get("hi")).map(_.asInstanceOf[Long]).foreach { hi =>
      val fs = fsOf(batch.sparkSession, targetDir)
      // monotone: replays never lower the floor
      if (readSidecar(fs, targetDir, OffsetFile)(_.toLong).forall(_ < hi))
        writeSidecar(fs, targetDir, OffsetFile, hi.toString)
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

  /** The rollup's replay FAST PATH: the last applied batch id. The
    * authoritative guard is the `__bid` stamped in the bucket data (see
    * [[applyRollupBatch]]); the sidecar only skips the common case
    * without reading any bucket.
    */
  private val LastBatchFile = "_graft_last_batch"

  /** Incrementally maintained aggregate rollup: each micro-batch folds its
    * per-key (count, decimal sum) PARTIALS into the directory target —
    * the streaming-materialized GROUP BY. Only mergeable partials are
    * stored (count/sum are associative), so a batch costs one narrow
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
    * path for the common already-applied case. The target rolls an
    * interrupted commit forward before the replay reads, so each touched
    * bucket is either old (guard misses → replay re-merges it) or new
    * (guard hits → replay skips it): the batch folds in exactly once.
    */
  def applyRollupBatch(batch: DataFrame, targetDir: String, keyCols: Seq[String],
                       valueCol: String, nBuckets: Int = 0,
                       batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val t = new DirTable(spark, targetDir)
    val fs = fsOf(spark, targetDir)
    if (batchId.exists(id =>
        readSidecar(fs, targetDir, LastBatchFile)(_.toLong).exists(_ >= id))) return
    val partial = batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast("decimal(18,6)")).as("sum_val"))
      .withColumn("__bid", lit(batchId.getOrElse(-1L)))
    // tables written before __bid existed are never guarded: the union
    // fills their __bid with null, which max() passes over
    val applied = batchId.map(id => (stored: DataFrame) =>
      if (!stored.columns.contains("__bid")) Set.empty[Int]
      else stored.groupBy(col("__kb")).agg(max(col("__bid")).as("mb"))
        .where(col("mb") >= id).select(col("__kb")).collect().map(_.getInt(0)).toSet)
    // layout-aligned like the upsert merge (r20): byBucket's
    // partitioning on __kb satisfies the aggregate's
    // ClusteredDistribution(keyCols :+ __kb), so no second exchange
    mergeBuckets(t, partial, t.layout(keyCols, nBuckets, partial.count()),
        applied = applied) { all =>
      all.groupBy((keyCols :+ "__kb").map(col): _*)
        .agg(sum(col("cnt")).as("cnt"),
          sum(col("sum_val")).cast("decimal(18,6)").as("sum_val"),
          max(col("__bid")).as("__bid"))
    }
    batchId.foreach(id => writeSidecar(fs, targetDir, LastBatchFile, id.toString))
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

  /** Compaction for the directory upsert table ([[compactTable]]): the
    * recovery path for buckets fragmented by OTHER writers, or by pre-r19
    * binaries (one file per merge task × bucket).
    */
  def compact(spark: SparkSession, targetDir: String): Unit =
    compactTable(new DirTable(spark, targetDir))

  /** Live rows of the materialized table (tombstones filtered, layout
    * column dropped), resolved through the pinned schema.
    */
  def currentState(spark: SparkSession, targetDir: String,
                   opCol: String = "op", deleteOp: String = "d"): DataFrame =
    readBuckets(spark, targetDir, pinnedSchema(fsOf(spark, targetDir), targetDir))
      .where(col(opCol) =!= deleteOp).drop("__kb")

  /** A8d (r18) — the CLUSTERED upsert sink: merge a change batch into a
    * CATALOG table that is both partitioned by `__kb` (the touched-set
    * pruning unit, the merge key hashed modulo `nKbParts`) and BUCKETED
    * by `bucketCols` (the downstream JOIN key, a subset of the key) into
    * `nBuckets`. The catalog's bucket spec is what the directory layout
    * can't give: readers see `HashPartitioning(bucketCols, nBuckets)`, so
    * two tables maintained through this sink join with ZERO exchanges —
    * the changelog-fed answer to GauntletSpec's pre-bucketed fact pair.
    * Per-batch cost is the dir sink's; untouched partitions keep their
    * files byte-identical, so the bucket contract never breaks.
    *
    * Pins, schema contract, commit and crash window: the catalog
    * target's (object scaladoc). Its table is created with `OPTIONS
    * ('partitionOverwriteMode' = 'dynamic')`, which Spark's insert honors
    * over the session's mode: every write is a plain `insertInto` in the
    * caller's own session and never touches its conf, and since Spark
    * stages the overwrite until job commit, the merge may read the
    * partitions it replaces. A table without the option (not created
    * here) is refused: its overwrite would replace the whole table.
    */
  def applyUpsertBatchClustered(batch: DataFrame, table: String,
                                keyCols: Seq[String], versionCol: String,
                                bucketCols: Seq[String],
                                nBuckets: Int = 8, nKbParts: Int = 16): Unit =
    upsertInto(new CatalogTable(batch.sparkSession, table, bucketCols, nBuckets),
      batch, keyCols, versionCol, nKbParts)

  /** One `DESCRIBE TABLE EXTENDED` detail row (`Location`, `Storage
    * Properties`, …) of `table`, if present. The rows are filtered on the
    * driver: a filter over the command's result would run a Spark job.
    */
  private def tableDetail(spark: SparkSession, table: String, name: String): Option[String] =
    spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .find(_.getString(0) == name).map(_.getString(1))

  /** The table's properties, refusing a table this sink did not create:
    * one without the `graft.nKbParts` pin (the guard against layout
    * drift), or without the dynamic-overwrite storage option (its
    * overwrite would run in static mode and replace the whole table).
    */
  private def requireSinkTable(spark: SparkSession, table: String): Map[String, String] = {
    def notOurs(missing: String, why: String): String =
      s"table $table has no $missing — it was not created through this sink; " +
        s"recreate it here ($why)"
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(props.contains("graft.nKbParts"),
      notOurs("graft.nKbParts pin", "the pin is the guard against layout drift"))
    require(tableDetail(spark, table, "Storage Properties")
        .exists(_.toLowerCase(java.util.Locale.ROOT).contains("partitionoverwritemode=dynamic")),
      notOurs("'partitionOverwriteMode' = 'dynamic' option",
        "without it an overwrite runs in static mode and replaces the whole table"))
    props
  }

  /** B19 parity for the CLUSTERED catalog sink: [[applyUpsertBatchClustered]]
    * with TRUNCATE support — the semantics and body of
    * [[applyUpsertBatchWithTruncates]] over the catalog target: the floor
    * sidecar lives at the table LOCATION, mixed partitions rewrite
    * through the dynamic overwrite, and wholly-dead ones drop via `ALTER
    * TABLE … DROP PARTITION`. The bucket spec is catalog metadata, so the
    * exchange-free join contract survives the truncate.
    */
  def applyUpsertBatchClusteredWithTruncates(batch: DataFrame, table: String,
                                             keyCols: Seq[String],
                                             versionCol: String,
                                             bucketCols: Seq[String],
                                             opCol: String = "op",
                                             nBuckets: Int = 8,
                                             nKbParts: Int = 16): Unit = {
    val t = new CatalogTable(batch.sparkSession, table, bucketCols, nBuckets)
    applyTruncating(t, batch, versionCol, opCol)(upsertInto(t, _, keyCols, versionCol, nKbParts))
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

  /** Compaction for the clustered table ([[compactTable]] over the
    * pinned `graft.nKbParts`): the recovery path for partitions
    * fragmented by other writers or pre-r19 binaries. It reads the
    * partitions it overwrites through the staged dynamic overwrite, and
    * refuses a table the sink did not create.
    */
  def compactClustered(spark: SparkSession, table: String): Unit =
    compactTable(new CatalogTable(spark, table))
}
