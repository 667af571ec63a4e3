package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one on-disk layout of every appendable state family
  * ([[ops.Generations.writeBatch]]): a base build plus one append leaves
  * only `__batch=` partitions under each layout dir (nested under the
  * family's `cell=`/`tb=`/`__cb=` dirs where it has them), the writer's
  * empty-write rule keeps a single-level dir readable, and full rewrites
  * outside a reset base clear the batches they replace.
  */
class BatchLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private lazy val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs: DataFrame =
    core.Engine.table(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))

  private def embeddings: DataFrame =
    core.Engine.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))

  private def split(df: DataFrame, idCol: String): Long =
    df.agg((max(col(idCol)) * lit(0.8)).cast("long")).head().getLong(0)

  /** Markers and sidecars (`_SUCCESS`, `_centroids`, checksums) are not
    * layout entries; `__batch=` and other `<col>=` dirs are.
    */
  private def layoutEntry(p: Path): Boolean = {
    val n = p.getName
    !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
  }

  /** Asserts `dir` holds only `__batch=` partition dirs — each under a
    * `<nested>=` dir when `nested` is given — and returns its batch ids.
    */
  private def batchLayout(dir: String, nested: String = ""): Seq[Long] = {
    val root = new Path(dir)
    def onlyBatches(d: Path): Unit =
      fs.listStatus(d).filter(s => layoutEntry(s.getPath)).foreach { s =>
        assert(s.isDirectory && s.getPath.getName.startsWith("__batch="),
          s"${s.getPath} is not a __batch= partition")
      }
    if (nested.isEmpty) onlyBatches(root)
    else {
      val outer = fs.listStatus(root).filter(s => layoutEntry(s.getPath))
      assert(outer.nonEmpty, s"$root holds no $nested= dirs")
      outer.foreach { s =>
        assert(s.isDirectory && s.getPath.getName.startsWith(s"$nested="),
          s"${s.getPath} is not a $nested= dir")
        onlyBatches(s.getPath)
      }
    }
    ops.Generations.requireBatchLayout(fs, root)
  }

  test("MinHash: base build and an ingest append share one layout; the append dedups") {
    import spark.implicits._
    val path = tmp("graft-layout-minhash")
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "spark engines shuffle partitions across executors for every join"))
      .toDF("id", "text")
    llm.Dedup.minhashIndexWrite(base, "text", "id", path, shingleN = 3, k = 8, bands = 4)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "an entirely novel document that shares nothing with the corpus"))
      .toDF("id", "text")
    val admitted = llm.Dedup.ingestAgainstIndex(spark, path, 1L, batch, "text", "id",
      shingleN = 3, k = 8, bands = 4)
    assert(admitted.select("id").as[Long].collect().toSet === Set(11L),
      "the near-duplicate of a base doc must drop against the base-built index")
    assert(batchLayout(llm.Dedup.sigsDir(spark, path)) === Seq(0L, 1L))
    assert(batchLayout(llm.Dedup.bucketsDir(spark, path)) === Seq(0L, 1L))
  }

  test("simhash, BM25, LM and NB: base build plus one append") {
    val d = docs
    val cut = split(d, "doc_id")
    val (base, rest) = (d.where(col("doc_id") < cut), d.where(col("doc_id") >= cut))

    val sim = tmp("graft-layout-simhash")
    llm.Dedup.simhashIndexWrite(base, "text", "doc_id", sim)
    llm.Dedup.simhashAppendBatch(spark, sim, 1L, rest, "text", "doc_id")
    assert(batchLayout(s"$sim/buckets") === Seq(0L, 1L))

    val bm = tmp("graft-layout-bm25")
    llm.Search.bm25IndexWrite(base, "text", "doc_id", bm, nBuckets = 8)
    llm.Search.bm25AppendBatch(spark, bm, rest, "text", "doc_id", batchId = 1L)
    assert(batchLayout(s"$bm/postings", nested = "tb") === Seq(0L, 1L))
    assert(batchLayout(s"$bm/stats") === Seq(0L, 1L))

    val lm = tmp("graft-layout-lm")
    llm.LanguageModel.lmWrite(base, "text", "doc_id", lm)
    llm.LanguageModel.lmAppendBatch(spark, lm, rest, "text", "doc_id", batchId = 1L)
    assert(batchLayout(s"$lm/bigrams") === Seq(0L, 1L))

    val nb = tmp("graft-layout-nb")
    llm.Classifier.nbWrite(base, "text", "lang", nb)
    llm.Classifier.nbAppendBatch(spark, nb, rest, "text", "lang", batchId = 1L)
    assert(batchLayout(s"$nb/nbcounts") === Seq(0L, 1L))
  }

  test("novelty, pair store, drift and admission totals: base batch plus one append") {
    val d = docs
    val cut = split(d, "doc_id")
    val (base, rest) = (d.where(col("doc_id") < cut), d.where(col("doc_id") >= cut))

    val nov = tmp("graft-layout-novelty")
    llm.TextAnalysis.noveltyIndexWrite(base, "text", "doc_id", nov)
    llm.TextAnalysis.noveltyAppendBatch(spark, nov, rest, "text", "doc_id", batchId = 1L)
    Seq("scores", "gramset", "occ").foreach { t =>
      assert(batchLayout(s"$nov/$t") === Seq(0L, 1L), t)
    }

    val gph = tmp("graft-layout-graph")
    def pairs(df: DataFrame): DataFrame =
      llm.Dedup.ngramJaccardPairs(df, "text", "doc_id", n = 2, threshold = 0.1)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
    ops.Graph.foldBatch(spark, gph, pairs(base), "id_a", "id_b", batchId = 0L)
    ops.Graph.foldBatch(spark, gph, pairs(d), "id_a", "id_b", batchId = 1L)
    assert(batchLayout(ops.Graph.pairStoreDir(fs, gph), nested = "__cb") === Seq(0L, 1L))

    val drift = tmp("graft-layout-drift")
    val bin = llm.Drift.lengthBin(col("text"), 10)
    llm.Drift.accumulate(spark, drift, base, "source", bin, 5, batchId = 0L)
    llm.Drift.accumulate(spark, drift, rest, "source", bin, 5, batchId = 1L)
    assert(batchLayout(s"$drift/cur") === Seq(0L, 1L))

    val mix = tmp("graft-layout-mix")
    llm.Mixing.mixGateAdmit(spark, mix, base, "text", "doc_id", "source", 0L,
      tokenBudget = Long.MaxValue, sourceCap = Long.MaxValue)
    llm.Mixing.mixGateAdmit(spark, mix, rest, "text", "doc_id", "source", 1L,
      tokenBudget = Long.MaxValue, sourceCap = Long.MaxValue)
    assert(batchLayout(s"$mix/totals") === Seq(0L, 1L))
  }

  test("IVF and IVF-PQ: base build plus one append, nested under cell=") {
    val e = embeddings
    val cut = split(e, "id")
    val path = tmp("graft-layout-ivf")
    llm.Similarity.ivfWriteIndex(e.where(col("id") < cut), "v", "id",
      nCells = 4, lloydRounds = 1, path = path)
    llm.Quantization.ivfPqWriteCodes(spark, path, m = 4, k = 8)
    llm.Similarity.ivfAppendBatch(spark, path, e.where(col("id") >= cut), "v", "id",
      batchId = 1L)
    llm.Quantization.ivfPqAppendCodes(spark, path, batchId = 1L)
    assert(batchLayout(s"$path/vectors", nested = "cell") === Seq(0L, 1L))
    assert(batchLayout(s"$path/cell_stats") === Seq(0L, 1L))
    assert(batchLayout(s"$path/drift_stats") === Seq(0L, 1L))
    assert(batchLayout(s"$path/pq_codes", nested = "cell") === Seq(0L, 1L))
    assert(batchLayout(s"$path/pq_drift_stats") === Seq(0L, 1L))
  }

  test("an all-capped simhash base build stays readable and finds no pairs") {
    import spark.implicits._
    val same = (1 to 300).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "text")
    val path = tmp("graft-layout-simcap")
    llm.Dedup.simhashIndexWrite(same, "text", "id", path, maxBucketSize = 100)
    val batch = Seq((1000L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("id", "text")
    assert(llm.Dedup.simhashPairsAgainstIndex(spark, path, batch, "text", "id").count() === 0)
    assert(batchLayout(s"$path/buckets") === Seq(0L), "one schema-only base batch")
  }

  test("an IVF rebuild and a PQ re-encode leave no stale appended batch behind") {
    val e = embeddings
    val cut = split(e, "id")
    val third = (e.agg(max(col("id"))).head().getLong(0) * 0.9).toLong
    val path = tmp("graft-layout-ivf-clear")
    def build(): Unit = llm.Similarity.ivfWriteIndex(e.where(col("id") < cut), "v", "id",
      nCells = 4, lloydRounds = 1, path = path)
    build()
    llm.Quantization.ivfPqWriteCodes(spark, path, m = 4, k = 8)
    llm.Similarity.ivfAppendBatch(spark, path,
      e.where(col("id") >= cut && col("id") < third), "v", "id", batchId = 1L)
    llm.Quantization.ivfPqAppendCodes(spark, path, batchId = 1L)
    llm.Similarity.ivfAppendBatch(spark, path, e.where(col("id") >= third), "v", "id",
      batchId = 2L)
    llm.Quantization.ivfPqAppendCodes(spark, path, batchId = 2L)
    Seq("cell_stats", "drift_stats", "pq_drift_stats").foreach { t =>
      assert(batchLayout(s"$path/$t") === Seq(0L, 1L, 2L), t)
    }
    // compaction folds the vectors to batch 0 and re-encodes the codes
    llm.Similarity.ivfCompact(spark, path)
    assert(batchLayout(s"$path/pq_codes", nested = "cell") === Seq(0L))
    assert(batchLayout(s"$path/pq_drift_stats") === Seq(0L))
    // a rebuild from scratch rewrites the base-build stats sidecars
    build()
    assert(batchLayout(s"$path/cell_stats") === Seq(0L))
    assert(batchLayout(s"$path/drift_stats") === Seq(0L))
  }
}
