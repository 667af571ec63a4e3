package graft.ops

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit

/** Crash-atomic directory swap via generation directories + commit
  * markers — the one mechanism every index, model and corpus state
  * family compacts, retrains or re-pins through:
  *   - the LSH/simhash index (`buckets`, `sigs`) and IVF (`vectors`,
  *     carrying `_centroids`);
  *   - BM25 (`postings`, `stats`);
  *   - the NB and LM models (`nbcounts`, `bigrams`);
  *   - novelty (`gramset`, `scores`, `occ`) and drift (`ref`, `cur`);
  *   - the weighted reservoirs (`res`, `sres`);
  *   - the K13 pair store and assignment (`pairs`, `assignment`);
  *   - the admitted corpus (`_gen/data`) and corpus versions (`data`).
  *
  * Writers call [[swap]] (stage, write, commit, then [[gcOld]]) or, for
  * [[CorpusVersions]], which keeps every published version, [[publish]]
  * (no GC). Markers that describe a generation's data — novelty's
  * `_compact_watermark` and `_folded_rets`, the pair store's
  * `_compact_watermark`, drift's `_compact_watermark` and `_folded_ret`
  * — are written inside the `write` closure through
  * [[StateFiles.replace]], so they ride the same commit as the data and
  * are read back through [[StateFiles.read]].
  *
  * The same families keep their appendable state as replay-idempotent
  * `__batch=<id>` partitions (the batch-id-keyed idempotent sink of
  * Structured Streaming), and this object owns that layout too:
  * [[batchIds]] reads it, [[writeBatch]] writes it (base builds, appends,
  * negative-id retraction batches, compaction folds), and
  * [[requireBatchLayout]] refuses a root-file dir before an append.
  * The writer's empty-write rule: a single-level layout dir left with no
  * `__batch=` partition gets a schema-only file under the written batch,
  * so it stays readable; nested layouts (`cell=`, `tb=`, `__cb=`) are
  * outside that rule.
  *
  * Problem: "rewrite a served directory in place" has no safe ordering.
  * `delete(dir); rename(tmp, dir)` leaves NOTHING served if the process
  * dies between the two calls, and a mutable pointer file has the same
  * delete-then-recreate window one level down. At 100 TB a maintenance
  * crash must never take an index offline for readers.
  *
  * Scheme (the standard lakehouse generation trick, cf. Delta/Iceberg
  * snapshot pointers, expressed over a plain filesystem):
  *   - generation N's data lives at `<base>_gen=N/` (generation 0 is the
  *     original `<base>/` written by the index build — so pre-generation
  *     indexes resolve unchanged);
  *   - a generation becomes current the instant its IMMUTABLE commit
  *     marker `_<base>_commit_N` is created (one atomic create of an
  *     empty file — nothing is ever deleted or renamed on the commit
  *     path);
  *   - readers resolve "current" as the highest committed N whose
  *     directory exists; no markers → the plain `<base>/` layout.
  *
  * Every instant therefore serves a COMPLETE directory: before the
  * marker lands the old generation is current (an uncommitted staged dir
  * is invisible); after, the new one is. A crash at any boundary leaves
  * either state, both valid — the kill-point spec walks each one.
  *
  * GC is deliberately decoupled from the swap: [[gcOld]] keeps the
  * current AND previous generations (in-flight readers that resolved
  * just before a commit still have their files — the grace period), and
  * markers are deleted BEFORE their data dirs so resolution never picks
  * a half-deleted generation. [[vacuum]] is the operator's explicit
  * "no readers older than the last compact" reclaim.
  */
object Generations {

  private def markerName(base: String, gen: Long) = s"_${base}_commit_$gen"

  private[graft] def genDir(root: Path, base: String, gen: Long): Path =
    if (gen == 0L) new Path(root, base) else new Path(root, s"${base}_gen=$gen")

  /** Committed generation numbers (marker present AND data dir present),
    * ascending. Generation 0 (the plain `<base>/` dir) is implicit and
    * not listed here.
    */
  private def committed(fs: FileSystem, root: Path, base: String): Seq[Long] = {
    if (!fs.exists(root)) return Nil
    val prefix = s"_${base}_commit_"
    fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)
      .filter(g => fs.exists(genDir(root, base, g)))
      .sorted
  }

  /** The generation number readers should serve: highest committed, else
    * 0 (the plain `<base>/` layout — also the pre-generation legacy
    * resolution, so existing indexes read unchanged).
    */
  def currentGen(fs: FileSystem, root: Path, base: String): Long =
    committed(fs, root, base).lastOption.getOrElse(0L)

  /** Committed generations, ascending — the corpus-versioning history
    * surface ([[CorpusVersions.history]]).
    */
  def committedGens(fs: FileSystem, root: Path, base: String): Seq[Long] =
    committed(fs, root, base)

  /** Drop ONE committed generation (marker before data, the GC ordering).
    * Refuses the current generation — the serve path never loses its
    * directory.
    */
  def dropGeneration(fs: FileSystem, root: Path, base: String, gen: Long): Unit = {
    require(gen != currentGen(fs, root, base),
      s"refusing to drop the CURRENT generation $gen of $base")
    dropGen(fs, root, base, gen)
  }

  /** The directory readers should scan right now. */
  def currentDir(fs: FileSystem, root: Path, base: String): Path =
    genDir(root, base, currentGen(fs, root, base))

  /** Reserve the next generation: returns (stagingDir, gen). Any
    * leftover UNCOMMITTED dir at that number (a previous crashed
    * attempt) is cleared — it was never visible to readers.
    */
  private[graft] def stage(fs: FileSystem, root: Path, base: String): (Path, Long) = {
    val next = currentGen(fs, root, base) + 1
    val dir = genDir(root, base, next)
    if (fs.exists(dir)) fs.delete(dir, true)
    (dir, next)
  }

  /** Make generation `gen` current: one atomic create of its immutable,
    * empty commit marker ([[StateFiles.createExclusive]]; [[committed]]
    * reads only marker names). The staged directory MUST be fully
    * written first. Throws if the marker already exists — a rival
    * committed this generation.
    */
  private[graft] def commit(fs: FileSystem, root: Path, base: String, gen: Long): Unit = {
    val marker = new Path(root, markerName(base, gen))
    if (!StateFiles.createExclusive(fs, marker))
      throw new FileAlreadyExistsException(s"generation $gen of $base is already committed: $marker")
  }

  /** Publish the next generation: stage it, run `write` into the staged
    * directory (data and any in-generation markers), then commit its
    * marker; returns the generation number. If `write` throws, nothing
    * is committed and the staged dir is cleared by the next stage.
    * Old generations are kept — [[CorpusVersions]] publishes its pinned
    * versions this way.
    */
  def publish(fs: FileSystem, root: Path, base: String)(write: Path => Unit): Long = {
    val (dir, gen) = stage(fs, root, base)
    write(dir)
    commit(fs, root, base, gen)
    gen
  }

  /** [[publish]] followed by [[gcOld]] — the compaction swap of every
    * index, model and corpus family.
    */
  def swap(fs: FileSystem, root: Path, base: String)(write: Path => Unit): Long = {
    val gen = publish(fs, root, base)(write)
    gcOld(fs, root, base)
    gen
  }

  /** The `__batch=<id>` partition ids directly under `dir`, sorted and
    * distinct; Nil when `dir` is absent. A nested layout (`tb=`, `cell=`,
    * `__cb=`) is listed whole by [[requireBatchLayout]]. Listing only — no
    * Spark job.
    */
  def batchIds(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil else batchesOf(fs.listStatus(dir).toSeq)._1

  /** The `__batch=` ids of the layout dir `dir`, nested layout dirs
    * (`cell=`, `tb=`, `__cb=`) included, sorted and distinct — refusing a
    * dir that holds data files outside any `__batch=` partition: a
    * root-file layout, at `dir` itself or under a nested layout dir.
    * `__batch=` partitions written beside such files would mix partition
    * depths, which parquet partition discovery rejects on every later
    * read, so every append checks its target first. A missing or empty
    * dir passes. Listing only.
    */
  def requireBatchLayout(fs: FileSystem, dir: Path): Seq[Long] = {
    val (ids, stray) = walk(fs, dir)
    require(stray.isEmpty,
      s"$dir is not the batch-partitioned layout (data files outside any " +
        s"__batch= partition, e.g. ${stray.head}) — rebuild it with its " +
        "family's index write before appending")
    ids.distinct.sorted
  }

  /** (batch ids, data files outside any batch) under `dir`: `__batch=`
    * dirs are not entered, other `<col>=<v>` dirs are nested layout dirs,
    * and `_`/`.`-prefixed names are markers or sidecars.
    */
  private def walk(fs: FileSystem, dir: Path): (Seq[Long], Seq[Path]) =
    if (!fs.exists(dir)) (Nil, Nil)
    else {
      val (ids, rest) = batchesOf(fs.listStatus(dir).toSeq)
      val nested = rest.filter(e => e.isDirectory && e.getPath.getName.contains("="))
        .map(e => walk(fs, e.getPath))
      val stray = rest.filter(e => e.isFile && !Seq("_", ".").exists(e.getPath.getName.startsWith))
        .map(_.getPath)
      (ids ++ nested.flatMap(_._1), stray ++ nested.flatMap(_._2))
    }

  /** A layout dir's entries split into its `__batch=` ids (sorted,
    * distinct) and everything else.
    */
  private def batchesOf(entries: Seq[FileStatus]): (Seq[Long], Seq[FileStatus]) = {
    val (batches, rest) = entries.partition(_.getPath.getName.startsWith("__batch="))
    (batches.map(_.getPath.getName.stripPrefix("__batch=").toLong).distinct.sorted, rest)
  }

  /** Write `df` into the layout dir `dir` under `__batch=<batch>` — the
    * write side of the layout [[batchIds]] reads, shared by every
    * appendable family's base build, append, negative-id retraction batch
    * and compaction fold. Partitioned by the `layout` columns (`cell`,
    * `tb`, `__cb`) then `__batch`, always as a dynamic partition
    * overwrite: a replayed batch rewrites exactly its own partitions, and
    * a base build or fold writes into a dir [[reset]] or [[stage]] has
    * just cleared.
    *
    * Empty writes: a partitioned write of zero rows lands no file with a
    * schema footer, so the next reader of a dir that holds nothing else
    * dies on schema inference. When a single-level layout dir (no
    * `layout` columns) holds no `__batch=` partition after the write, a
    * schema-only file lands under `__batch=<batch>`. That is found by
    * listing the dir, so a non-empty write pays no extra job. Nested
    * layouts are outside this rule: a schema-only file has no `cell`,
    * `tb` or `__cb` value to sit under.
    */
  def writeBatch(df: DataFrame, dir: String, batch: Long, layout: String*): Unit =
    write(df.withColumn("__batch", lit(batch)), dir, batch, layout)

  /** [[writeBatch]] for a frame that carries its own per-row `__batch`
    * (a full re-encode or a stats pass that keeps batch provenance); an
    * empty write of a single-level layout lands under `__batch=0`.
    */
  def writeBatches(df: DataFrame, dir: String, layout: String*): Unit =
    write(df, dir, 0L, layout)

  private def write(df: DataFrame, dir: String, emptyBatch: Long,
                    layout: Seq[String]): Unit = {
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(layout :+ "__batch": _*).parquet(dir)
    if (layout.isEmpty) {
      val spark = df.sparkSession
      val p = new Path(dir)
      if (batchIds(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), df.drop("__batch").schema)
          .write.mode("overwrite").parquet(new Path(p, s"__batch=$emptyBatch").toString)
    }
  }

  /** Drop generations older than the PREVIOUS one (current and previous
    * stay readable — the in-flight-reader grace period). Markers are
    * deleted before their data dirs, so a crash mid-GC only leaks a dir,
    * never dangles a marker at a missing one.
    */
  def gcOld(fs: FileSystem, root: Path, base: String): Unit = {
    val gens = 0L +: committed(fs, root, base)
    gens.dropRight(2).foreach(dropGen(fs, root, base, _))
  }

  /** Drop EVERY generation except current — run only when no reader can
    * be older than the last commit (the operator's reclaim cadence).
    */
  def vacuum(fs: FileSystem, root: Path, base: String): Unit = {
    val cur = currentGen(fs, root, base)
    val gens = 0L +: committed(fs, root, base)
    gens.filter(_ != cur).foreach(dropGen(fs, root, base, _))
  }

  /** Remove all generation state for `base` (markers first, then dirs,
    * then the base dir itself) — the fresh-build reset: an index rebuild
    * at the same path must not stay shadowed by a stale committed
    * generation from the previous lineage.
    */
  def reset(fs: FileSystem, root: Path, base: String): Unit = {
    committed(fs, root, base).foreach(dropGen(fs, root, base, _))
    val baseDir = new Path(root, base)
    if (fs.exists(baseDir)) fs.delete(baseDir, true)
    // uncommitted staged leftovers too
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith(s"${base}_gen="))
        .foreach(fs.delete(_, true))
  }

  private def dropGen(fs: FileSystem, root: Path, base: String, gen: Long): Unit = {
    if (gen > 0L) { // gen 0 has no marker
      val m = new Path(root, markerName(base, gen))
      if (fs.exists(m)) fs.delete(m, false)
    }
    val d = genDir(root, base, gen)
    if (fs.exists(d)) fs.delete(d, true)
  }
}
