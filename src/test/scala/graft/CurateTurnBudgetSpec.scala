package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The job budget of one composed intake turn
  * ([[streaming.Ingest.curateBatch]]): a later turn on a fixed small
  * batch must stay under a ceiling of Spark jobs, and what it writes
  * must equal the standalone stage chain
  * ([[llm.Classifier.nbClassifyIndexed]] →
  * [[llm.Dedup.ingestAgainstIndex]] →
  * [[llm.TextAnalysis.noveltyAppendBatch]]) run over separate state.
  */
class CurateTurnBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Jobs per non-first turn. A turn runs the frozen-model statistics
    * collect, the gate's scoring query, the bucket materialization, the
    * drop list, the index, corpus and novelty writes and the gram
    * aggregate; each AQE query stage is one job. This batch takes 45 on
    * the suite's 4-core session (75 before the eager counts, the model
    * checkpoint and the schema inference left the turn).
    */
  private val JobCeiling = 48

  import CurateTurnFixture._

  test("a later curate turn stays under the job ceiling and equals the standalone chain") {
    val model = trainModel(spark)
    val (idx, adm, nov) = (tmp("graft-budget-idx"), tmp("graft-budget-adm") + "/t",
      tmp("graft-budget-nov"))
    turn(spark, 0, model, idx, adm, nov)
    val jobs = JobProbe.jobs(spark)(turn(spark, 1, model, idx, adm, nov))
    assert(jobs.size <= JobCeiling,
      s"${jobs.size} jobs in one turn (ceiling $JobCeiling):\n" +
        jobs.groupBy(identity).map { case (s, v) => s"${v.size}× $s" }.toSeq.sorted.mkString("\n"))

    // the standalone chain over its own index, corpus and novelty state
    val (idx2, nov2) = (tmp("graft-budget-idx2"), tmp("graft-budget-nov2"))
    val kept = (0 to 1).map { i =>
      val b = batch(spark, i)
      val pred = llm.Classifier.nbClassifyIndexed(spark, model, b, "text", "doc_id")
        .where(col("predicted").isin(Keep: _*))
      val gated = b.join(pred, b("doc_id") === pred("doc"), "inner").drop("doc")
      val k = llm.Dedup.ingestAgainstIndex(spark, idx2, i.toLong, gated,
        "text", "doc_id", shingleN = 3, k = 16, bands = 4, threshold = 0.8)
      if (i == 0) llm.TextAnalysis.noveltyIndexWrite(k, "text", "doc_id", nov2, n = 3)
      else llm.TextAnalysis.noveltyAppendBatch(spark, nov2, k, "text", "doc_id",
        batchId = i.toLong, n = 3)
      k
    }.reduce(_ unionByName _)

    def gate(df: DataFrame): Set[(Long, String, Long, Double)] =
      df.select(col("doc_id"), col("predicted"), col("n_tokens"), col("score"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val admitted = gate(streaming.Ingest.admitted(spark, adm))
    assert(admitted === gate(kept), "admitted ids and their gate audit columns")
    assert(admitted.map(_._1).exists(_ >= 1000L) === false,
      "every exact repeat and near-duplicate of turn 0 must be dropped")
    assert(admitted.size > 50, "the fixture must admit docs from both turns")

    def novelty(p: String): Set[(Long, Long, Long, Double)] =
      llm.TextAnalysis.noveltyScoresIndexed(spark, p).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(novelty(nov) === novelty(nov2), "novelty scores")
  }
}

/** The fixed small intake of the curate-turn specs: a gate trained on
  * docs [0, 400) and two turns.
  */
object CurateTurnFixture {
  val Keep: Seq[String] = Seq("en", "de", "fr", "es")

  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs(spark: SparkSession): DataFrame =
    core.Engine.table(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"))

  def trainModel(spark: SparkSession): String = {
    val model = tmp("graft-curate-model")
    llm.Classifier.nbWrite(docs(spark).where(col("doc_id") < 400L), "text", "lang", model)
    model
  }

  /** Turn 0: docs [400, 450). Turn 1: docs [450, 500), exact repeats of
    * 400–419 and near-duplicates of 420–424 (the `dup` edit), under
    * fresh, larger ids.
    */
  def batch(spark: SparkSession, turn: Int): DataFrame = {
    val d = docs(spark).select(col("doc_id"), col("text"))
    if (turn == 0) d.where(col("doc_id").between(400L, 449L))
    else d.where(col("doc_id").between(450L, 499L))
      .unionByName(d.where(col("doc_id").between(400L, 419L))
        .select((col("doc_id") + 1000L).as("doc_id"), col("text")))
      .unionByName(d.where(col("doc_id").between(420L, 424L))
        .select((col("doc_id") + 1100L).as("doc_id"), concat(col("text"), lit(" dup")).as("text")))
  }

  def turn(spark: SparkSession, i: Int, model: String, idx: String, adm: String,
           nov: String): Unit =
    streaming.Ingest.curateBatch(batch(spark, i), i.toLong, model, Keep, idx, adm, nov,
      "text", "doc_id", shingleN = 3, k = 16, bands = 4, threshold = 0.8)
}
