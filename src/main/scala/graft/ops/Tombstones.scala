package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE tombstone mechanism behind every index-family retraction
  * (round-12 review: the `removed/__ret=<id>` dir naming, the existence
  * probe, the reader, and the cast/distinct/dynamic-overwrite write were
  * triplicated across the LSH, IVF, and BM25 families — three places to
  * patch in lockstep). Layout: long ids under
  * `<indexPath>/removed/__ret=<retractionId>` — dynamic overwrite, so a
  * replayed retraction rewrites exactly itself; readers anti-join the
  * set; compactions apply it physically and clear the directory.
  *
  * The write REFUSES ids that do not cast losslessly to long: the
  * engine's id convention is long-castable everywhere, and a silent
  * null-out here would turn a compliance delete into a no-op the caller
  * believes succeeded (the round-12 review's silent-no-op finding).
  */
object Tombstones {

  private val Base = "removed"

  def dir(indexPath: String): String = s"$indexPath/$Base"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The retraction ids present — an fs listing, no job. */
  def retIds(spark: SparkSession, indexPath: String): Seq[Long] = {
    val p = new Path(dir(indexPath))
    val fs = fsOf(spark, indexPath)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("__ret="))
      .map(_.stripPrefix("__ret=").toLong).toSeq.sorted
  }

  /** The tombstoned id set as a 1-column `id: long` frame, or None when
    * nothing was ever retracted (one fs check, no scan, no plan change).
    */
  def set(spark: SparkSession, indexPath: String): Option[DataFrame] =
    if (retIds(spark, indexPath).isEmpty) None
    else Some(spark.read.schema("id BIGINT").parquet(dir(indexPath)).select(col("id")))

  /** Write one retraction batch. Loudly refuses non-long-castable ids. */
  def write(spark: SparkSession, indexPath: String, removedIds: DataFrame,
            idCol: String, retractionId: Long): Unit = {
    require(retractionId >= 0L, s"retractionId must be >= 0: $retractionId")
    val ids = removedIds
      .select(col(idCol).as("__raw"), col(idCol).cast("long").as("id"))
      .localCheckpoint(true) // three consumers: two guards and the write
    // NULL removal ids are the same silent-no-op class as non-castable
    // ones (r12 advice): a null-keyed delete matches nothing downstream,
    // so refuse it loudly instead of filtering it away.
    val nul = ids.where(col("__raw").isNull).count()
    require(nul == 0L,
      s"$nul removal id(s) are NULL (idCol '$idCol') — a null-keyed " +
        "tombstone deletes nothing; the caller's removal batch is malformed")
    val bad = ids.where(col("__raw").isNotNull && col("id").isNull).count()
    require(bad == 0L,
      s"$bad removal id(s) do not cast to long (idCol '$idCol') — the " +
        "engine keys every index by long-castable ids; a silently dropped " +
        "tombstone would leave the delete unapplied")
    ids.select(col("id")).distinct()
      .withColumn("__ret", lit(retractionId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__ret").parquet(dir(indexPath))
  }

  /** Anti-join `df` against the tombstone set on `idCol` (None → df). */
  def drop(df: DataFrame, removed: Option[DataFrame], idCol: String): DataFrame =
    removed match {
      case None => df
      case Some(r) =>
        df.join(r.select(col("id").cast(df.schema(idCol).dataType).as(idCol)),
          Seq(idCol), "left_anti")
    }

  /** Delete the tombstone directory (post-compaction clear). */
  def clear(spark: SparkSession, indexPath: String): Unit = {
    fsOf(spark, indexPath).delete(new Path(dir(indexPath)), true); ()
  }
}
