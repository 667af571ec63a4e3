package graft

import graft.streaming.Sinks
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Kill-point walk of the directory sinks' bucket commit: Spark writes
  * the merged buckets into `_graft_stage` (its job commit marks the
  * stage complete with `_SUCCESS`), then each staged `__kb=` dir
  * replaces the live one by delete + rename.
  *
  * Each crash state is built from the real commit's own output: the
  * same batch is applied to a copy of the table, the copy's merged
  * buckets are planted in the original as its `_graft_stage`, and the
  * live buckets are then kept, deleted or promoted to match the
  * boundary. The next sink call — the replay a streaming restart makes,
  * or the next upsert after an interrupted compaction — must land on
  * exactly the state of the uninterrupted copy.
  */
class SinkCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private sealed trait Boundary
  /** The stage write died before its job commit: no `_SUCCESS`, and
    * one staged bucket is still empty.
    */
  private case object Incomplete extends Boundary
  /** The stage is complete; no bucket has been promoted. */
  private case object Complete extends Boundary
  /** One live bucket is deleted; its staged copy is not yet renamed. */
  private case object DeletedNotRenamed extends Boundary
  /** Some buckets are promoted, the others are still staged. */
  private case object PartlyPromoted extends Boundary

  private val boundaries = Seq(Incomplete, Complete, DeletedNotRenamed, PartlyPromoted)

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sink-commit").toString

  private def bucketDirs(dir: String): Seq[Path] =
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith("__kb=")).sortBy(_.getName).toSeq

  /** A copy of `target` with `commit` applied to it, and the copy's
    * `__kb=` dirs whose names `touched` selects.
    */
  private def committedCopy(target: String)(commit: String => Unit)
                           (touched: String => Seq[String]): (String, Seq[Path]) = {
    val copy = freshDir() + "/copy"
    assert(FileUtil.copy(fs, new Path(target), fs, new Path(copy), false,
      spark.sparkContext.hadoopConfiguration))
    commit(copy)
    val names = touched(copy).toSet
    (copy, bucketDirs(copy).filter(p => names(p.getName)))
  }

  /** Plant `staged` as `target`'s stage and leave it at `boundary`. */
  private def plantCrash(target: String, staged: Seq[Path], boundary: Boundary): Unit = {
    assert(staged.size >= 2, s"the walk needs at least two merged buckets: $staged")
    val stage = new Path(target, "_graft_stage")
    staged.foreach(p => assert(FileUtil.copy(fs, p, fs, new Path(stage, p.getName),
      false, spark.sparkContext.hadoopConfiguration)))
    if (boundary != Incomplete) fs.create(new Path(stage, "_SUCCESS")).close()
    // a torn stage: one bucket's files have not landed yet
    else fs.listStatus(new Path(stage, staged.head.getName)).foreach(f => fs.delete(f.getPath, true))
    def promote(name: String, rename: Boolean): Unit = {
      val live = new Path(target, name)
      assert(fs.delete(live, true), s"no live bucket $live to delete")
      if (rename) assert(fs.rename(new Path(stage, name), live))
    }
    boundary match {
      case DeletedNotRenamed => promote(staged.head.getName, rename = false)
      case PartlyPromoted    => staged.take(staged.size / 2).foreach(p => promote(p.getName, rename = true))
      case _                 =>
    }
  }

  private def rowsOf(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def assertStageGone(target: String): Unit =
    assert(!fs.exists(new Path(target, "_graft_stage")), "the stage must be finished and removed")

  // ---- upsert ---------------------------------------------------------

  private def changes(rows: (Long, Long, String, String)*) =
    rows.toDF("key", "version", "op", "payload")

  /** 200 keys over 4 buckets, then a batch updating 6 keys and deleting 2. */
  private val seed = changes((1 to 200).map(i => (i.toLong, 1L, "c", s"p$i")): _*)
  private val update = changes(
    (1 to 8).map(i => (i.toLong, 2L, if (i % 4 == 0) "d" else "u", s"p${i}b")): _*)

  private def touchedBy(batch: DataFrame)(table: String): Seq[String] =
    spark.read.parquet(table).join(batch.select("key"), "key")
      .select("__kb").distinct().as[Int].collect().map(kb => s"__kb=$kb").toSeq

  private def upsert(batch: DataFrame)(table: String): Unit =
    Sinks.applyUpsertBatch(batch, table, Seq("key"), "version", nBuckets = 4)

  boundaries.foreach { boundary =>
    test(s"upsert: a crash at '$boundary' is rolled forward by the replayed batch") {
      val target = freshDir() + "/t"
      upsert(seed)(target)
      val (copy, staged) = committedCopy(target)(upsert(update))(touchedBy(update))
      plantCrash(target, staged, boundary)
      upsert(update)(target)
      assertStageGone(target)
      val want = rowsOf(Sinks.currentState(spark, copy))
      val got = rowsOf(Sinks.currentState(spark, target))
      assert(got.size === want.size, s"live rows after the replay: ${got.size} of ${want.size}")
      assert(got === want)
    }
  }

  // ---- rollup ---------------------------------------------------------

  private def events(rows: (Long, Double)*) = rows.toDF("user_id", "value")

  private val rollupSeed = events((1 to 40).map(i => (i.toLong, i.toDouble)): _*)
  private val rollupBatch = events((1 to 40 by 3).map(i => (i.toLong, 0.5)): _*)

  private def rollup(batch: DataFrame, id: Long)(table: String): Unit =
    Sinks.applyRollupBatch(batch, table, Seq("user_id"), "value",
      nBuckets = 4, batchId = Some(id))

  boundaries.foreach { boundary =>
    test(s"rollup: a crash at '$boundary' folds the replayed batch in exactly once") {
      val target = freshDir() + "/r"
      rollup(rollupSeed, 0L)(target)
      val (copy, staged) = committedCopy(target)(rollup(rollupBatch, 1L)) { t =>
        spark.read.parquet(t).where(col("__bid") === 1L)
          .select("__kb").distinct().as[Int].collect().map(kb => s"__kb=$kb").toSeq
      }
      plantCrash(target, staged, boundary)
      rollup(rollupBatch, 1L)(target)
      assertStageGone(target)
      val counts = Sinks.currentRollup(spark, target)
        .select(col("user_id"), col("cnt"), col("sum_val").cast("double"))
        .as[(Long, Long, Double)].collect().toSet
      val want = (1 to 40).map { i =>
        val hit = (i - 1) % 3 == 0
        (i.toLong, if (hit) 2L else 1L, i.toDouble + (if (hit) 0.5 else 0.0))
      }.toSet
      assert(counts === want)
      assert(rowsOf(Sinks.currentRollup(spark, target)) ===
        rowsOf(Sinks.currentRollup(spark, copy)))
    }
  }

  // ---- compact --------------------------------------------------------

  boundaries.foreach { boundary =>
    test(s"compact: a crash at '$boundary' loses no row by the next upsert") {
      val target = freshDir() + "/c"
      upsert(seed)(target)
      val (copy, staged) = committedCopy(target)(Sinks.compact(spark, _))(
        t => bucketDirs(t).map(_.getName))
      plantCrash(target, staged, boundary)
      upsert(update)(target)
      upsert(update)(copy)
      assertStageGone(target)
      assert(rowsOf(Sinks.currentState(spark, target)) ===
        rowsOf(Sinks.currentState(spark, copy)))
      assert(Sinks.currentState(spark, target).count() === 198L)
    }
  }

  test("first and later writes both stage: no root _SUCCESS, no stage left behind") {
    val target = freshDir() + "/f"
    upsert(seed)(target)
    assertStageGone(target)
    assert(bucketDirs(target).size === 4)
    upsert(update)(target)
    assertStageGone(target)
    assert(!fs.exists(new Path(target, "_SUCCESS")))
    assert(Sinks.currentState(spark, target).count() === 198L)
  }

  test("a stage the write left unmarked fails the commit loudly instead of being dropped") {
    val target = freshDir() + "/d"
    upsert(seed)(target)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    // dynamic mode moves the partitions out of Spark's own staging dir
    // and leaves the output dir without a success marker
    spark.conf.set(key, "dynamic")
    try intercept[IllegalStateException](upsert(update)(target))
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    upsert(update)(target)
    assert(Sinks.currentState(spark, target).count() === 198L)
  }
}
