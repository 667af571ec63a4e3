package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one reader of a graft-owned parquet state dir whose own name
  * starts with `_`: the IVF index's in-generation `_centroids/`,
  * `_cell_stats/` and `_drift_stats/`, and [[Manifest]]'s
  * `_graft_manifest` and `_graft_manifest_bloom_<col>` beside a table.
  *
  * Spark's reader flags a root path whose name starts with `_` and logs
  * "All paths were ignored" on every such read (it still reads it). The
  * dir's listed children (`cell=`/`__batch=` dirs, part files) pass
  * that check, and read with the dir itself as `basePath` they give the
  * same rows. The children are listed here rather than globbed: a single
  * glob path makes Spark look for a streaming-sink log under the literal
  * glob and log a warning with a stack trace.
  */
object StateDirs {

  def read(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val children = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root).map(_.getPath).filter { c =>
        val n = c.getName
        n.contains("=") || !(n.startsWith("_") || n.startsWith("."))
      }
    spark.read.option("basePath", dir).parquet(children.map(_.toString).toIndexedSeq: _*)
  }
}
