package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fragmentation-policy symmetry (round 11): every appendable index
  * family exposes ONE maintenance entry point with the `ivfMaintain`
  * contract — act only past the fragment bound, stay readable and
  * result-invariant through the action, report what was done.
  * (`ivfMaintain` itself — the drift arm included — is covered by
  * IvfDriftSpec.)
  */
class IndexMaintainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docs: DataFrame =
    core.Engine.table(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("ivfRetract: tombstones at read == brute force over survivors; compaction bakes") {
    import spark.implicits._
    val path = tmp("graft-ivfret")
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    llm.Similarity.ivfWriteIndex(e, "v", "id", nCells = 8, lloydRounds = 1,
      path = path)
    llm.Quantization.ivfPqWriteCodes(spark, path, m = 8, k = 16)
    val removed = e.where(col("id") % 5 === 2).select(col("id"))
    val removedIds = removed.as[Long].collect().toSet
    val queries = e.where(col("id") < 10L)
      .select(col("id").as("qid"), col("v").as("qv"))
    llm.Similarity.ivfRetract(spark, path, removed, "id", 0L)
    // full-probe IVF over the tombstoned index == brute-force cosine
    // top-k over the SURVIVING corpus (candidate set = every survivor)
    def ivfTop(): Seq[(Long, Long, Int)] =
      llm.Similarity.ivfKnnPruned(spark, path, queries, "qv", "qid",
          k = 5, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val brute = llm.Similarity.bruteForceKnn(
        corpus = e.join(removed, Seq("id"), "left_anti"),
        queries = e.where(col("id") < 10L),
        vecCol = "v", idCol = "id", k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(ivfTop() === brute,
      "tombstoned full-probe IVF must equal brute force over survivors")
    // the composed PQ read also never surfaces a tombstoned id
    val pq = llm.Quantization.ivfPqKnn(spark, path, queries, "qv", "qid",
        kNN = 5, nProbe = 8, shortlist = 50)
      .select(col("neighbor_id")).as[Long].collect().toSet
    assert(pq.intersect(removedIds).isEmpty,
      "PQ shortlist must not resurface tombstoned vectors")
    // compaction bakes the tombstones and clears them; reads unchanged
    val before = ivfTop()
    llm.Similarity.ivfCompact(spark, path)
    assert(graft.ops.Tombstones.set(spark, path).isEmpty)
    assert(ivfTop() === before, "baked == tombstoned-at-read")
    val rawIds = spark.read.parquet(
        llm.Similarity.ivfVectorsDir(spark, path))
      .select(col("id")).as[Long].collect().toSet
    assert(rawIds.intersect(removedIds).isEmpty,
      "retracted ids must be physically gone after compaction")
    // the compaction HEALED the composed code table in the same call
    // (round-12 review: with a single-batch index the liveness guard
    // cannot detect staleness — {0} still matches {0} — so stale code
    // rows for retracted ids would crowd the ADC shortlist); the PQ
    // read must work post-compaction and never resurface a removed id
    val pqAfter = llm.Quantization.ivfPqKnn(spark, path, queries, "qv", "qid",
        kNN = 5, nProbe = 8, shortlist = 50)
      .select(col("neighbor_id")).as[Long].collect().toSet
    assert(pqAfter.nonEmpty && pqAfter.intersect(removedIds).isEmpty,
      "post-compaction PQ read must serve healed, tombstone-free codes")
    val rawCodeIds = spark.read.parquet(s"$path/pq_codes")
      .select(col("id")).as[Long].collect().toSet
    assert(rawCodeIds.intersect(removedIds).isEmpty,
      "the healed code table must not carry retracted ids")
    // a retraction batch with non-long-castable ids refuses loudly
    // instead of silently writing an empty tombstone set
    val ex = intercept[IllegalArgumentException] {
      llm.Similarity.ivfRetract(spark, path,
        Seq("doc-abc", "7").toDF("id"), "id", 1L)
    }
    assert(ex.getMessage.contains("cast"))
  }

  test("IVF re-ingest of a retracted id is visible ONLY after compaction (delete-side id rule)") {
    import spark.implicits._
    val path = tmp("graft-ivf-reingest")
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    llm.Similarity.ivfWriteIndex(e, "v", "id", nCells = 8, lloydRounds = 1,
      path = path)
    val removed = e.where(col("id") % 5 === 2)
    val removedIds = removed.select(col("id")).as[Long].collect().toSet
    val queries = e.where(col("id") < 10L)
      .select(col("id").as("qid"), col("v").as("qv"))
    def neigh(): Set[Long] =
      llm.Similarity.ivfKnnPruned(spark, path, queries, "qv", "qid",
          k = 5, nProbe = 8)
        .select(col("neighbor_id")).as[Long].collect().toSet
    llm.Similarity.ivfRetract(spark, path, removed.select(col("id")), "id", 0L)
    // HAZARD pinned: re-appending the tombstoned ids BEFORE compaction —
    // the id-keyed tombstone hides the fresh rows from every read, and
    // the next compaction physically deletes them (the scaladoc
    // precondition's exact failure mode)
    llm.Similarity.ivfAppendBatch(spark, path, removed, "v", "id", batchId = 1L)
    assert(neigh().intersect(removedIds).isEmpty,
      "pre-compaction re-ingest must stay invisible behind the tombstone")
    llm.Similarity.ivfCompact(spark, path)
    assert(neigh().intersect(removedIds).isEmpty,
      "…and the compaction deletes the re-added rows with the tombstone")
    assert(graft.ops.Tombstones.set(spark, path).isEmpty)
    // SAFE path: re-ingest AFTER the compaction epoch that absorbed the
    // retraction — the id is a fresh doc again and full-probe reads
    // equal brute force over the complete corpus
    llm.Similarity.ivfAppendBatch(spark, path, removed, "v", "id", batchId = 2L)
    val brute = llm.Similarity.bruteForceKnn(corpus = e,
        queries = e.where(col("id") < 10L), vecCol = "v", idCol = "id", k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val full = llm.Similarity.ivfKnnPruned(spark, path, queries, "qv", "qid",
        k = 5, nProbe = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(full === brute,
      "post-compaction re-ingest must read as a corpus the id never left")
  }

  test("simhash indexMaintain: compacts past the bound, no-op inside it") {
    val path = tmp("graft-maint-sim")
    llm.Dedup.simhashIndexWrite(docs.where(col("doc_id") < 30L), "text", "doc_id",
      path, bits = 16, maxHamming = 3, maxBucketSize = Int.MaxValue)
    llm.Dedup.simhashAppendBatch(spark, path, 1L,
      docs.where(col("doc_id") >= 30L && col("doc_id") < 40L), "text", "doc_id",
      maxBucketSize = Int.MaxValue)
    llm.Dedup.simhashAppendBatch(spark, path, 2L,
      docs.where(col("doc_id") >= 40L && col("doc_id") < 50L), "text", "doc_id",
      maxBucketSize = Int.MaxValue)
    val probe = docs.where(col("doc_id") >= 50L).limit(5)
    def pairs(): Set[(Long, Long)] =
      llm.Dedup.simhashPairsAgainstIndex(spark, path, probe, "text", "doc_id")
        .select(col("new_id"), col("corpus_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs()
    assert(llm.Dedup.indexMaintain(spark, path, maxLiveBatches = 4) === "none",
      "3 live batches within a bound of 4 must not compact")
    assert(llm.Dedup.indexMaintain(spark, path, maxLiveBatches = 2,
      maxBucketSize = Int.MaxValue) === "compact")
    assert(pairs() === before, "compaction must be result-invariant")
    assert(llm.Dedup.indexMaintain(spark, path, maxLiveBatches = 2) === "none",
      "a freshly-compacted index is one batch — inside any bound")
  }

  test("bm25Maintain: compacts past the bound, scores invariant") {
    val path = tmp("graft-maint-bm25")
    val q = Seq("spark", "join", "vector")
    llm.Search.bm25IndexWrite(docs.where(col("doc_id") < 40L), "text", "doc_id",
      path, nBuckets = 8)
    llm.Search.bm25AppendBatch(spark, path, docs.where(col("doc_id") >= 40L),
      "text", "doc_id", batchId = 1L)
    def scores(): Set[(Long, Long, Double)] =
      llm.Search.bm25Indexed(spark, path, q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = scores()
    assert(llm.Search.bm25Maintain(spark, path, maxLiveBatches = 2) === "none")
    assert(llm.Search.bm25Maintain(spark, path, maxLiveBatches = 1) === "compact")
    assert(scores() === before)
    assert(llm.Search.bm25Maintain(spark, path, maxLiveBatches = 1) === "none")
  }

  test("lmMaintain: compacts past the bound, model invariant") {
    val path = tmp("graft-maint-lm")
    llm.LanguageModel.lmWrite(docs.where(col("doc_id") < 40L),
      "text", "doc_id", path)
    llm.LanguageModel.lmAppendBatch(spark, path,
      docs.where(col("doc_id") >= 40L), "text", "doc_id", 1L)
    def model(): Set[(String, String, Long)] =
      llm.LanguageModel.lmModel(spark, path)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val before = model()
    assert(llm.LanguageModel.lmMaintain(spark, path, maxLiveBatches = 2) === "none")
    assert(llm.LanguageModel.lmMaintain(spark, path, maxLiveBatches = 1) === "compact")
    assert(model() === before)
    assert(llm.LanguageModel.lmMaintain(spark, path, maxLiveBatches = 1) === "none")
  }
}
