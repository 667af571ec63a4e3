package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark's file commit protocol, failing the job commit of any write
  * whose output directory's name starts with `stats` — a crash between
  * the stats rewrite's tasks and its commit.
  */
class FailStatsCommitProtocol(jobId: String, path: String,
                              dynamicPartitionOverwrite: Boolean = false)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    if (new Path(path).getName.startsWith("stats"))
      throw new java.io.IOException(s"injected commitJob failure for $path")
    super.commitJob(jobContext, taskCommits)
  }
}

/** [[llm.Search.bm25Compact]] collapses the BM25 stats through a
  * generation swap: a stats write that fails after the postings swap
  * committed must leave the index serving its pre-compaction N and
  * avgdl, and the next compaction must finish the job.
  */
class Bm25StatsCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Q = Seq("spark", "join", "vector")

  private def docs: DataFrame =
    core.Engine.table(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"))

  private def scores(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("doc"), col("n_hit_terms"), col("bm25"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("a failed stats commit during bm25Compact keeps the pre-compaction scores") {
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-stats-commit").toString
    val split = docs.agg((max(col("doc_id")) * lit(0.7)).cast("long")).head().getLong(0)
    llm.Search.bm25IndexWrite(docs.where(col("doc_id") < split),
      "text", "doc_id", path, nBuckets = 8)
    llm.Search.bm25AppendBatch(spark, path, docs.where(col("doc_id") >= split),
      "text", "doc_id", batchId = 1L)
    val before = scores(llm.Search.bm25Indexed(spark, path, Q))
    assert(before.nonEmpty, "the fixture corpus must hit the query terms")

    val failing = spark.newSession()
    failing.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[FailStatsCommitProtocol].getName)
    val e = intercept[Exception](llm.Search.bm25Compact(failing, path))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected commitJob failure")), e)
    assert(llm.Search.postingsDir(spark, path).endsWith("postings_gen=1"),
      "the postings swap commits before the stats are collapsed")
    assert(scores(llm.Search.bm25Indexed(spark, path, Q)) === before,
      "a failed stats commit must leave N and avgdl as they were")

    llm.Search.bm25Compact(spark, path)
    assert(scores(llm.Search.bm25Indexed(spark, path, Q)) === before,
      "the next compaction completes over the leftover stage")
  }
}
