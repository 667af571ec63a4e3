package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark's file commit protocol, failing the job commit of any write
  * whose output directory's name contains `drift_stats` — a crash between
  * the drift sidecar's tasks and its commit.
  */
class FailDriftStatsCommitProtocol(jobId: String, path: String,
                                   dynamicPartitionOverwrite: Boolean = false)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    if (new Path(path).getName.contains("drift_stats"))
      throw new java.io.IOException(s"injected commitJob failure for $path")
    super.commitJob(jobContext, taskCommits)
  }
}

/** [[llm.Similarity.ivfCompact]] writes the IVF `cell_stats` and
  * `drift_stats` sidecars inside the vectors generation swap: a sidecar
  * write that fails must leave the pre-compaction generation current,
  * with its cell sizes and drift report, and the next compaction must
  * finish the job.
  */
class IvfStatsCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def drift(path: String): Set[(Long, Long, Double, Double)] =
    llm.Similarity.ivfDriftStats(spark, path)
      .select(col("__batch"), col("n"), col("mean_d2"), col("p95_d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet

  private def cells(path: String): Map[Int, Long] =
    llm.Similarity.cellSizes(spark, path).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("a failed drift-stats commit during ivfCompact keeps the pre-compaction sidecars") {
    val e: DataFrame = core.Engine.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-stats-commit").toString
    val split = e.agg((max(col("id")) * lit(0.8)).cast("long")).head().getLong(0)
    llm.Similarity.ivfWriteIndex(e.where(col("id") < split), "v", "id",
      nCells = 4, lloydRounds = 1, path = path)
    llm.Similarity.ivfAppendBatch(spark, path, e.where(col("id") >= split), "v", "id",
      batchId = 1L)
    val (driftBefore, cellsBefore) = (drift(path), cells(path))
    assert(driftBefore.map(_._1) === Set(0L, 1L), "base build plus one appended batch")

    val failing = spark.newSession()
    failing.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[FailDriftStatsCommitProtocol].getName)
    val err = intercept[Exception](llm.Similarity.ivfCompact(failing, path))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected commitJob failure")), err)
    assert(llm.Similarity.ivfVectorsDir(spark, path).endsWith("vectors"),
      "the vectors swap must not commit without its sidecars")
    assert(drift(path) === driftBefore, "the drift report must be the pre-compaction one")
    assert(cells(path) === cellsBefore)

    llm.Similarity.ivfCompact(spark, path)
    assert(llm.Similarity.ivfVectorsDir(spark, path).endsWith("vectors_gen=1"))
    val folded = drift(path)
    assert(folded.map(_._1) === Set(0L), "a compaction re-anchors the baseline on batch 0")
    assert(folded.head._2 === driftBefore.toSeq.map(_._2).sum, "every vector in the baseline")
    assert(cells(path) === cellsBefore, "compaction moves no vector between cells")
  }
}
