package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level statistics manifest + data-skipping reads — a poor-man's
  * lakehouse data-skipping index over a plain parquet directory.
  *
  * Why it matters at 100 TB: parquet footers already carry min/max stats,
  * but the reader must still OPEN every footer to discover a file is
  * irrelevant — on a 100k-file table that is 100k round-trips to object
  * storage per query. A manifest (one small parquet holding per-FILE
  * min/max/row-count) moves that to one read: the planner filters the
  * manifest, then scans only the overlapping files. Same idea as Delta /
  * Iceberg file statistics, expressed over vanilla parquet with zero table
  * format. Pairs with [[Layout.zorderWrite]] / `repartitionByRange`
  * writes, which make per-file ranges tight so skipping actually bites.
  *
  * The manifest lives UNDER the table directory as `_graft_manifest` —
  * Hadoop's input listing hides `_`-prefixed paths, so plain
  * `spark.read.parquet(table)` never sees it (same convention as
  * `_delta_log` / `_SUCCESS`).
  *
  * Freshness contract (round 6): [[prunedRead]] cross-checks the table's
  * CURRENT file listing (one cheap FS list) against the manifest's file
  * set and falls back to a full scan on any mismatch — a stale manifest
  * can cost performance, never correctness. [[refresh]] is the matching
  * O(new files) repair: stats are computed only for files absent from the
  * manifest, retained rows are carried over byte-identical, and rows for
  * deleted files are dropped — an append-heavy 100 TB table refreshes at
  * the cost of the appended batch, not the table.
  */
object Manifest {

  val ManifestDir = "_graft_manifest"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Scan `tablePath` once and persist per-file (min, max) for each of
    * `cols` plus a row count: one codegen'd pass, one map-side-combinable
    * shuffle keyed by file name (groups = number of files). Returns the
    * manifest. For refreshing after an append, prefer [[refresh]] —
    * O(new files) instead of O(table).
    */
  def write(spark: SparkSession, tablePath: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "manifest needs at least one stats column")
    statsFor(spark.read.parquet(tablePath), cols)
      .coalesce(1) // manifests are tiny (one row per data file)
      .write.mode("overwrite").parquet(s"$tablePath/$ManifestDir")
    read(spark, tablePath)
  }

  private def statsFor(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    df.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental refresh: bring the manifest up to date after files were
    * added (or removed) WITHOUT rescanning the table. Diffs the current
    * file listing against the manifest's file set; aggregates stats only
    * for new files; keeps existing rows byte-identical; drops rows whose
    * files no longer exist. Cost ∝ new files — the refresh an
    * append-every-hour 100k-file table actually affords.
    *
    * Falls back to a full [[write]] when no manifest exists yet or its
    * column set does not match `cols`. Note: covers flat (unpartitioned)
    * layouts — the ones [[Layout]]'s clustered writes produce; stats over
    * Hive-partition-derived columns need the full [[write]] path, which
    * reads through the table root.
    */
  def refresh(spark: SparkSession, tablePath: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "manifest needs at least one stats column")
    val manifestPath = new org.apache.hadoop.fs.Path(s"$tablePath/$ManifestDir")
    val fs = manifestPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(manifestPath)) return write(spark, tablePath, cols)
    val existing = read(spark, tablePath)
    val expected = (cols.flatMap(c => Seq(s"min_$c", s"max_$c")) ++ Seq("n_rows", "file")).toSet
    if (existing.columns.toSet != expected) {
      log.warn(s"manifest at $tablePath has columns ${existing.columns.mkString(",")}; " +
        s"rebuilding for ${cols.mkString(",")}")
      return write(spark, tablePath, cols)
    }
    // driver state: one string per file — the same boundedness class as
    // pruneFiles' collected list (file count, never rows)
    val known = existing.select(col("file")).collect().map(_.getString(0))
    val knownNorm = known.map(normalizePath).toSet
    val current = listDataFiles(spark, tablePath)
    val currentNorm = current.map(normalizePath).toSet
    val newFiles = current.filterNot(f => knownNorm.contains(normalizePath(f)))
    val removed = known.filterNot(f => currentNorm.contains(normalizePath(f)))
    if (newFiles.isEmpty && removed.isEmpty) return existing
    log.info(s"manifest refresh for $tablePath: ${newFiles.size} new, " +
      s"${removed.size} removed of ${current.size} files")
    val retained =
      if (removed.isEmpty) existing
      else existing.where(!col("file").isin(removed.toSeq: _*))
    val newStats =
      if (newFiles.isEmpty) None
      else Some(statsFor(spark.read.parquet(newFiles: _*), cols))
    val merged = newStats.fold(retained)(retained.unionByName(_))
      .coalesce(1)
      // eagerly materialize BEFORE overwriting the directory the retained
      // rows are being read from (Spark refuses / corrupts a write over
      // its own input otherwise); the block is tiny (one row per file)
      .localCheckpoint(true)
    merged.write.mode("overwrite").parquet(s"$tablePath/$ManifestDir")
    read(spark, tablePath)
  }

  /** Read the manifest back (through [[StateDirs.read]], like every
    * `_`-prefixed side dir here).
    */
  def read(spark: SparkSession, tablePath: String): DataFrame =
    StateDirs.read(spark, s"$tablePath/$ManifestDir")

  /** Current data files under `tablePath`: everything Spark's own input
    * listing would see (skips `_`/`.`-prefixed files and directories —
    * the manifest itself, `_SUCCESS`, checksums). One recursive FS
    * listing — the cheap operation object stores are built for; no
    * footer is opened.
    */
  def listDataFiles(spark: SparkSession, tablePath: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val rootPath = root.toUri.getPath
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toUri.getPath
      val rel = p.stripPrefix(rootPath).split('/').filter(_.nonEmpty)
      // Spark's own hidden-path rule: `_`/`.`-prefixed names are metadata
      // (the manifest itself, _SUCCESS) — EXCEPT `_`-prefixed names
      // containing `=`, which are partition directories (`__batch=0`)
      // and carry data. Dot-prefixed names stay hidden even with an `=`
      // (Spark hides them unconditionally — e.g. hive staging dirs).
      val hidden = rel.exists(seg =>
        seg.startsWith(".") || (seg.startsWith("_") && !seg.contains("=")))
      if (st.isFile && !hidden)
        out += st.getPath.toString
    }
    out.result()
  }

  /** Scheme-insensitive comparison key: `input_file_name()` reports
    * `file:///x` where an FS listing reports `file:/x` — compare the path
    * component only.
    */
  private def normalizePath(f: String): String =
    new org.apache.hadoop.fs.Path(f).toUri.getPath

  /** Files whose [min, max] range on `c` intersects [lo, hi]. An all-null
    * file has null min/max → the predicate is null → correctly skipped
    * (a range predicate never matches null). The collected list is
    * bounded by the table's FILE count (not rows) — the same boundedness
    * class as the IVF probe-cell list; a table beyond ~1M files wants the
    * manifest pushed into a join instead (see [[prunedRead]] note).
    */
  def pruneFiles(spark: SparkSession, tablePath: String, c: String,
                 lo: Column, hi: Column): Seq[String] =
    read(spark, tablePath)
      .where(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
      .select(col("file"))
      .collect().map(_.getString(0)).toSeq

  /** Range-filtered read that scans ONLY the files the manifest says can
    * match, then applies the exact residual predicate. Semantically equal
    * to `spark.read.parquet(table).where(c between lo and hi)` — the
    * manifest only removes files that cannot contain a match, and a
    * STALE manifest (files added/replaced since the last write/refresh)
    * is detected by diffing the table's current listing against the
    * manifest's file set, falling back to the plain full-scan filter —
    * staleness can cost speed, never rows.
    *
    * The file list rides in the plan as scan paths (a static pruning
    * decision, like IVF's `isin` partition filter), so the driver cost is
    * one tiny manifest read + one FS listing — not a footer per file.
    *
    * `trustManifest` (default OFF) skips the staleness listing entirely —
    * the read mode for a DECLARED-IMMUTABLE table (a published snapshot
    * that nothing appends to): on such a table the per-query recursive
    * listing is pure overhead, and at ~1M files it is also the documented
    * driver ceiling of [[listDataFiles]]. The trade is explicit and the
    * caller's: against a table that WAS modified since the last
    * write/refresh, a trusted read serves the manifest's view of the data
    * (new files invisible, vanished files fail the scan) instead of
    * detecting the drift — only declare immutable what is immutable.
    */
  private[graft] def bloomDir(c: String): String = s"${ManifestDir}_bloom_$c"

  /** Per-file BLOOM sidecar for point lookups on `c` — the skipping tool
    * where min/max cannot bite: a high-cardinality key spread across
    * every file (id lookups on a table clustered by something else) has
    * file-spanning [min, max] ranges, but its per-file Bloom filter
    * answers "could this file hold value v" in one bit probe. One
    * codegen'd pass + one map-side-combined shuffle whose payload is ONE
    * 16 KB buffer per file ([[Aggregates.BloomFilterAgg]]); the sidecar
    * is nFiles × numBits/8 bytes beside the min/max manifest, hidden
    * from table scans by the `_` prefix.
    */
  def writeBloom(spark: SparkSession, tablePath: String, c: String,
                 numBits: Int = 1 << 17, numHashes: Int = 5): DataFrame = {
    val agg = Aggregates.bloomFilterUdaf(numBits, numHashes)
    spark.read.parquet(tablePath)
      .select(input_file_name().as("file"), xxhash64(col(c)).as("__h"))
      .groupBy(col("file"))
      .agg(agg(col("__h")).as("bloom"), count(lit(1)).as("n_rows"))
      .withColumn("num_bits", lit(numBits))
      .withColumn("num_hashes", lit(numHashes))
      .coalesce(1) // one row per data file
      .write.mode("overwrite").parquet(s"$tablePath/${bloomDir(c)}")
    StateDirs.read(spark, s"$tablePath/${bloomDir(c)}")
  }

  /** Incremental Bloom-sidecar repair — [[refresh]]'s twin: filters are
    * built only for files absent from the sidecar, retained rows are
    * carried over byte-identical, rows for vanished files are dropped.
    * Cost ∝ new files; the (numBits, numHashes) geometry is read FROM
    * the existing sidecar so appended filters always probe-match the
    * originals. Falls back to a full [[writeBloom]] when no sidecar
    * exists.
    */
  def refreshBloom(spark: SparkSession, tablePath: String, c: String): DataFrame = {
    val side = s"$tablePath/${bloomDir(c)}"
    val sidePath = new org.apache.hadoop.fs.Path(side)
    val fs = sidePath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(sidePath)) return writeBloom(spark, tablePath, c)
    val existing = StateDirs.read(spark, side)
    val head = existing.select(col("num_bits"), col("num_hashes")).head()
    val (numBits, numHashes) = (head.getInt(0), head.getInt(1))
    val known = existing.select(col("file")).collect().map(_.getString(0))
    val knownNorm = known.map(normalizePath).toSet
    val current = listDataFiles(spark, tablePath)
    val currentNorm = current.map(normalizePath).toSet
    val newFiles = current.filterNot(f => knownNorm.contains(normalizePath(f)))
    val removed = known.filterNot(f => currentNorm.contains(normalizePath(f)))
    if (newFiles.isEmpty && removed.isEmpty) return existing
    log.info(s"bloom refresh for $tablePath($c): ${newFiles.size} new, " +
      s"${removed.size} removed of ${current.size} files")
    val retained =
      if (removed.isEmpty) existing
      else existing.where(!col("file").isin(removed.toSeq: _*))
    val agg = Aggregates.bloomFilterUdaf(numBits, numHashes)
    val newStats =
      if (newFiles.isEmpty) None
      else Some(spark.read.parquet(newFiles: _*)
        .select(input_file_name().as("file"), xxhash64(col(c)).as("__h"))
        .groupBy(col("file"))
        .agg(agg(col("__h")).as("bloom"), count(lit(1)).as("n_rows"))
        .withColumn("num_bits", lit(numBits))
        .withColumn("num_hashes", lit(numHashes)))
    val merged = newStats.fold(retained)(retained.unionByName(_))
      .coalesce(1)
      // materialize BEFORE overwriting the directory the retained rows
      // read from (the refresh rule); one row per file
      .localCheckpoint(true)
    merged.write.mode("overwrite").parquet(side)
    StateDirs.read(spark, side)
  }

  /** Point-lookup read through the Bloom sidecar: scan only the files
    * whose filter MIGHT hold `value`, then apply the exact equality —
    * semantically equal to the plain full-scan filter (a Bloom false
    * positive costs one extra file scan, never a wrong row; a true
    * negative is guaranteed by construction). The membership test runs
    * INSIDE the sidecar scan as k codegen'd bit probes (the k positions
    * are derived from the probe value driver-side — no UDF, no collect
    * of non-matching files), so driver state is bounded by MATCHING
    * files. Staleness mirrors [[prunedRead]]: the table listing is
    * diffed against the sidecar's file set and any drift falls back to
    * the full scan — stale can cost speed, never rows; `trustBloom`
    * skips the listing for declared-immutable tables.
    */
  def bloomRead(spark: SparkSession, tablePath: String, c: String,
                value: Column, trustBloom: Boolean = false): DataFrame = {
    val side = s"$tablePath/${bloomDir(c)}"
    val bl = StateDirs.read(spark, side)
    if (!trustBloom) {
      val known = bl.select(col("file")).collect()
        .map(r => normalizePath(r.getString(0))).toSet
      val current = listDataFiles(spark, tablePath).map(normalizePath).toSet
      if (known != current) {
        log.warn(s"bloom sidecar at $side is stale " +
          s"(${(current -- known).size} unknown / ${(known -- current).size} missing " +
          "files) — falling back to a full scan; run Manifest.writeBloom")
        return spark.read.parquet(tablePath).where(col(c) === value)
      }
    }
    val head = bl.select(col("num_bits"), col("num_hashes")).head()
    val (numBits, numHashes) = (head.getInt(0), head.getInt(1))
    // the probe value hashes through the SAME xxhash64 the build used —
    // evaluated by the engine so any literal type matches its column
    val h = spark.range(1).select(xxhash64(value).as("h")).head().getLong(0)
    val cond = (0 until numHashes).map(i => Aggregates.bloomPos(h, i, numBits))
      .distinct.map { p =>
        element_at(col("bloom"), p / 64 + 1)
          .bitwiseAND(lit(1L << (p & 63))) =!= lit(0L)
      }.reduce(_ && _)
    val files = bl.where(cond).select(col("file")).collect().map(_.getString(0)).toSeq
    val base =
      if (files.isEmpty) spark.read.parquet(tablePath).where(lit(false))
      else spark.read.parquet(files: _*)
    base.where(col(c) === value)
  }

  def prunedRead(spark: SparkSession, tablePath: String, c: String,
                 lo: Column, hi: Column, trustManifest: Boolean = false): DataFrame = {
    val m = read(spark, tablePath)
    if (!trustManifest) {
      val manifestFiles = m.select(col("file")).collect()
        .map(r => normalizePath(r.getString(0))).toSet
      val currentFiles = listDataFiles(spark, tablePath).map(normalizePath).toSet
      if (manifestFiles != currentFiles) {
        log.warn(s"manifest at $tablePath is stale " +
          s"(${(currentFiles -- manifestFiles).size} unknown / " +
          s"${(manifestFiles -- currentFiles).size} missing files) — " +
          "falling back to a full scan; run Manifest.refresh")
        return spark.read.parquet(tablePath).where(col(c) >= lo && col(c) <= hi)
      }
    }
    val files = m.where(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    val base =
      if (files.isEmpty)
        // keep the caller's schema without scanning data
        spark.read.parquet(tablePath).where(lit(false))
      else spark.read.parquet(files: _*)
    base.where(col(c) >= lo && col(c) <= hi)
  }
}
