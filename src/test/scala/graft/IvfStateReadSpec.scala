package graft

import org.apache.hadoop.fs.Path
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The IVF index keeps its rebuilt centroids and its stats sidecars in
  * `_`-prefixed dirs inside the vectors generation, and the file-stats
  * manifest keeps `_graft_manifest` and its Bloom sidecars beside the
  * table. Spark's reader drops such a root path from its listing filter
  * and warns "All paths were ignored" on every read; both read them
  * through their children (`graft.ops.StateDirs`), so a rebuild-then-
  * report round and a manifest write/refresh/read round log no such line
  * and read the same rows as a plain read of each dir.
  */
class IvfStateReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Every log line, of any logger, emitted while `body` runs. */
  private def captureLogs[T](body: => T): (T, Seq[String]) = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("ivf-state-read-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, lines.asScala.toSeq)
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("reading the in-generation centroids and stats dirs logs no ignored-paths warning") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-state-read").toString
    val split = e.agg((max(col("id")) * lit(0.8)).cast("long")).head().getLong(0)
    llm.Similarity.ivfWriteIndex(e.where(col("id") < split), "v", "id",
      nCells = 4, lloydRounds = 1, path = path)
    llm.Similarity.ivfAppendBatch(spark, path, e.where(col("id") >= split), "v", "id",
      batchId = 1L)

    val ((drift, cells, centroids), logs) = captureLogs {
      llm.Similarity.ivfRebuild(spark, path, lloydRounds = 1)
      (sorted(llm.Similarity.ivfDriftStats(spark, path)
        .select("__batch", "n", "mean_d2", "p95_d2")),
        sorted(llm.Similarity.cellSizes(spark, path)),
        sorted(llm.Similarity.ivfCentroids(spark, path)))
    }
    val ignored = logs.filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
    val noMetadata = logs.filter(_.contains("Assume no metadata directory"))
    assert(noMetadata.isEmpty, noMetadata.mkString("\n"))

    // the rebuild moved every sidecar and the centroids into the generation
    val gen = new Path(llm.Similarity.ivfVectorsDir(spark, path))
    Seq("_centroids", "_cell_stats", "_drift_stats").foreach { d =>
      assert(gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new Path(gen, d)), s"$d under $gen")
    }
    // and the rows are those of a plain read of each dir
    assert(drift === sorted(spark.read.parquet(new Path(gen, "_drift_stats").toString)
      .select(col("__batch").cast("long"), col("n"), col("mean_d2"), col("p95_d2"))))
    assert(cells === sorted(spark.read.parquet(new Path(gen, "_cell_stats").toString)
      .groupBy(col("cell")).agg(sum(col("n")).as("n"))))
    assert(centroids === sorted(spark.read.parquet(new Path(gen, "_centroids").toString)))
  }

  test("a manifest and Bloom write, refresh and read round logs no ignored-paths warning") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-manifest-state-read").toString + "/t"
    (0L until 400L).map(i => (i, i % 7)).toDF("id", "g").repartition(4)
      .write.parquet(table)
    val (read, logs) = captureLogs {
      ops.Manifest.write(spark, table, Seq("id"))
      ops.Manifest.writeBloom(spark, table, "id")
      // an appended file: both refreshes read the side dir, then rewrite it
      (1000L until 1010L).map(i => (i, i % 7)).toDF("id", "g").coalesce(1)
        .write.mode("append").parquet(table)
      ops.Manifest.refresh(spark, table, Seq("id"))
      ops.Manifest.refreshBloom(spark, table, "id")
      (sorted(ops.Manifest.read(spark, table).select("file", "min_id", "max_id", "n_rows")),
        sorted(ops.Manifest.prunedRead(spark, table, "id", lit(100L), lit(120L))),
        sorted(ops.Manifest.bloomRead(spark, table, "id", lit(1005L))))
    }
    val ignored = logs.filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
    val (manifest, pruned, point) = read
    assert(manifest === sorted(spark.read.parquet(s"$table/${ops.Manifest.ManifestDir}")
      .select("file", "min_id", "max_id", "n_rows")))
    assert(manifest.size === 5, "four written files and the appended one")
    assert(pruned === sorted(spark.read.parquet(table).where(col("id").between(100L, 120L))))
    assert(point === Seq("[1005,4]"))
  }
}
