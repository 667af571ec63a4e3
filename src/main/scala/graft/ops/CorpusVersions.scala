package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-atomic corpus VERSIONING over [[Generations]] — dataset
  * snapshot publishing for training-data pipelines (the Delta/Iceberg
  * snapshot idea over plain parquet, sharing the index family's swap
  * mechanism).
  *
  * Why it is its own operator: a training corpus is rebuilt (dedup
  * rerun, decontamination refresh, new crawl folded in) while training
  * jobs READ it, and "overwrite the directory" has no safe ordering —
  * the same problem index compaction solved, but here the publishes ARE
  * the write path and the version history is a product feature:
  * reproducing a training run means pinning the exact corpus version it
  * read. So unlike compaction, publishing never garbage-collects —
  * every version stays readable until [[vacuumVersions]] explicitly
  * retires it.
  *
  * Mechanics (all inherited from [[Generations]], kill-point-specced
  * there): version N's data lives at `data_gen=N/`, becomes current the
  * instant its immutable commit marker is atomically created, and
  * readers resolve the highest committed version — a crash mid-publish
  * leaves the previous version served, never a partial directory.
  * Reading a never-published corpus fails loudly on the missing dir.
  */
object CorpusVersions {

  private val Base = "data"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Publish `df` as the next version of the corpus at `path`; returns
    * the new version number. The snapshot is fully written into its own
    * generation directory BEFORE the one-marker commit, so readers flip
    * from the old version to the new one atomically and a kill at any
    * point leaves a complete corpus served.
    *
    * `statsCols` / `bloomCols` (round 11): data-skipping sidecars —
    * per-file min/max manifest for the named columns, per-file Bloom
    * filters for point-lookup keys ([[Manifest]]) — are written INSIDE
    * the staged generation directory before the marker lands, so the
    * one-marker commit covers data AND sidecars atomically (a kill
    * between them can never publish a corpus whose sidecars are
    * missing or stale) and every pinned version keeps ITS OWN skipping
    * index forever. The `_`-prefixed sidecar dirs are invisible to the
    * snapshot scan itself, and a published version is immutable by
    * construction — exactly the declared-immutable contract the
    * trust-the-manifest read mode was built for, which is why
    * [[readVersionPruned]] / [[readVersionPoint]] skip the staleness
    * listing entirely.
    */
  def publish(spark: SparkSession, path: String, df: DataFrame,
              statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    Generations.publish(fsOf(spark, path), new Path(path), Base) { staged =>
      df.write.mode("overwrite").parquet(staged.toString)
      if (statsCols.nonEmpty) Manifest.write(spark, staged.toString, statsCols)
      bloomCols.foreach(c => Manifest.writeBloom(spark, staged.toString, c))
    }
  }

  /** The current version's frame. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(
      Generations.currentDir(fsOf(spark, path), new Path(path), Base).toString)

  /** A PINNED version's frame — what a reproducible training run records
    * and re-reads. Refuses loudly when the version was never published
    * or has been vacuumed.
    */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    spark.read.parquet(versionDir(spark, path, version))

  /** The committed generation directory of `version` — refuses loudly
    * when the version was never published or has been vacuumed.
    */
  private def versionDir(spark: SparkSession, path: String, version: Long): String = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    require(Generations.committedGens(fs, root, Base).contains(version),
      s"corpus at $path has no committed version $version " +
        s"(history: ${Generations.committedGens(fs, root, Base).mkString(",")})")
    Generations.genDir(root, Base, version).toString
  }

  private def requireSidecar(spark: SparkSession, dir: String, sub: String,
                             hint: String): Unit =
    require(fsOf(spark, dir).exists(new Path(dir, sub)),
      s"version at $dir carries no $sub sidecar — publish with $hint")

  /** Range-filtered read of a PINNED version through its own min/max
    * manifest: scans only the files whose range can intersect [lo, hi],
    * exactly equal to `readVersion(...).where(c between lo and hi)`.
    * The version is immutable by construction (it was committed with its
    * sidecar under one marker), so the manifest is trusted outright — no
    * per-query staleness listing, the read mode a 1M-file pinned
    * training corpus needs. Refuses a version published without
    * `statsCols` rather than silently full-scanning.
    */
  def readVersionPruned(spark: SparkSession, path: String, version: Long,
                        c: String, lo: org.apache.spark.sql.Column,
                        hi: org.apache.spark.sql.Column): DataFrame = {
    val dir = versionDir(spark, path, version)
    requireSidecar(spark, dir, Manifest.ManifestDir, s"statsCols including $c")
    Manifest.prunedRead(spark, dir, c, lo, hi, trustManifest = true)
  }

  /** Point-lookup read of a PINNED version through its per-file Bloom
    * sidecar — the skipping tool for high-cardinality keys whose
    * per-file min/max ranges span the corpus. Same immutability-derived
    * trust as [[readVersionPruned]]; refuses a version published
    * without `bloomCols` for `c`.
    */
  def readVersionPoint(spark: SparkSession, path: String, version: Long,
                       c: String, value: org.apache.spark.sql.Column): DataFrame = {
    val dir = versionDir(spark, path, version)
    requireSidecar(spark, dir, Manifest.bloomDir(c), s"bloomCols including $c")
    Manifest.bloomRead(spark, dir, c, value, trustBloom = true)
  }

  /** Version history, ascending: (version, is_current, dir). */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, path)
    val root = new Path(path)
    val cur = Generations.currentGen(fs, root, Base)
    Generations.committedGens(fs, root, Base)
      .map(g => (g, g == cur, Generations.genDir(root, Base, g).toString))
      .toDF("version", "is_current", "dir")
  }

  /** Re-publish an old version's snapshot as the new current — roll
    * FORWARD, one distributed copy: no marker is ever deleted on the
    * serve path, so the rollback itself is crash-atomic and the history
    * keeps recording what was served when. Returns the new version.
    * Sidecars are re-DERIVED, not copied (manifest rows pin absolute
    * file paths, which the copy invalidates) — pass the same
    * `statsCols` / `bloomCols` the original publish used to keep the
    * restored version skippable.
    */
  def rollback(spark: SparkSession, path: String, toVersion: Long,
               statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    publish(spark, path, readVersion(spark, path, toVersion), statsCols, bloomCols)

  /** What changed between two published versions, by key: one row per
    * key present in exactly one of them — (key, change ∈ added/removed).
    * The product question behind it: "what entered/left the training
    * corpus between the run pinned at v1 and the run pinned at v2".
    * Cost at 100 TB: two key-projected anti-joins (each one shuffle on
    * the key — the honest lower bound for a presence diff over corpora
    * written independently); keys-only projection reaches the scans, so
    * the shuffled payload is the key column, never the documents.
    * Key-level by design: a content-level diff is `readVersion(v1)
    * EXCEPT readVersion(v2)` composed by the caller when rows are small
    * enough to compare wholesale.
    */
  def diff(spark: SparkSession, path: String, fromVersion: Long, toVersion: Long,
           keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val from = readVersion(spark, path, fromVersion).select(col(keyCol).as("key"))
    val to = readVersion(spark, path, toVersion).select(col(keyCol).as("key"))
    to.join(from, Seq("key"), "left_anti").withColumn("change", lit("added"))
      .unionByName(
        from.join(to, Seq("key"), "left_anti").withColumn("change", lit("removed")))
  }

  /** Retire history: drop all but the last `keepLast` versions (the
    * current one is always kept). Run on the retention cadence that owns
    * reproducibility windows — a vacuumed version's `readVersion` fails
    * loudly thereafter.
    */
  def vacuumVersions(spark: SparkSession, path: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val fs = fsOf(spark, path)
    val root = new Path(path)
    Generations.committedGens(fs, root, Base).dropRight(keepLast)
      .foreach(Generations.dropGeneration(fs, root, Base, _))
  }
}
