package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination for LLM training corpora: flag (and drop)
  * training documents whose word-n-gram overlap with an evaluation /
  * benchmark corpus exceeds a threshold, so that held-out benchmarks are
  * not leaked into the training set. The standard pipeline step described
  * in public training-data writeups (GPT-3 §C, PaLM, Llama): n-gram
  * collision against the benchmark, document-level drop on overlap ratio.
  *
  * Scale shape (the asymmetry is the whole design): the BENCHMARK side is
  * small by construction (eval sets are MBs, the corpus is TBs), so its
  * distinct gram-hash set broadcasts; the corpus side is one codegen'd
  * shingle-hash pass materialized ONCE, a broadcast LEFT SEMI join that
  * keeps only colliding grams (sparse in practice), and ONE shuffle of
  * those hits on doc id. The corpus is never shuffled whole and never
  * self-joined.
  *
  * Persist discipline (the round-5 lesson, now a SCALING.md rule): the
  * gram pipeline fans out to two consumers (the hit count and the per-doc
  * gram count), and an uncached HOF-gram pipeline under a Generate is
  * 5-8x slower than exploding from cache — so the ONLY expensive pass is
  * the shared [[Dedup.shingleHashProjection]] (id, array<long> gram
  * hashes), persisted and eagerly counted exactly like the MinHash
  * pipeline (Dedup.scala), with both consumers reading the cache. Grams
  * are hashed to longs (md5-prefix mod P — identical math to MinHash
  * shingle hashes) so the cache holds 8-byte longs instead of n-gram
  * strings and the DuckDB oracle reproduces the collision set
  * bit-for-bit.
  */
object Decontaminate {

  /** Per-document overlap stats against a benchmark corpus.
    *
    * Returns one row per `docs` row: (idCol, n_grams, n_hits, overlap,
    * contaminated) where `n_grams` is the document's distinct-gram-hash
    * count, `n_hits` how many of those occur anywhere in `bench`,
    * `overlap` = n_hits / n_grams (0 when the doc is shorter than n
    * tokens) and `contaminated` = overlap >= threshold.
    *
    * The result is eagerly materialized (`localCheckpoint(true)`) before
    * the corpus cache is released: it is one small row per document (the
    * stats, never the text or grams), the same boundedness class as the
    * LSH pair list — and it means `clean` and any other consumer reads
    * the finished stats, not a re-execution of the gram pipeline.
    */
  def overlapStats(docs: DataFrame, bench: DataFrame, textCol: String,
                   idCol: String, n: Int = 3,
                   threshold: Double = 0.5): DataFrame =
    overlapStatsAgainstGrams(docs, benchGramSet(bench, textCol, idCol, n),
      textCol, idCol, n, threshold)

  /** The benchmark side, precomputed: the distinct gram-hash set as one
    * eagerly-materialized frame (`__gk` long). Compute ONCE and reuse
    * across calls — the streaming ingest guard scrubs every micro-batch
    * against the same benchmark, and re-deriving the eval grams per batch
    * would put the constant factor back. `localCheckpoint(true)` rather
    * than persist: the set survives independent of any cache lifecycle
    * the per-batch work manages.
    */
  def benchGramSet(bench: DataFrame, textCol: String, idCol: String,
                   n: Int = 3): DataFrame = {
    val benchProj = Dedup.shingleHashProjection(bench, textCol, idCol, n).persist()
    benchProj.count()
    val grams = benchProj.select(explode(col("hs")).as("__gk")).distinct()
      .localCheckpoint(true)
    benchProj.unpersist(false)
    grams
  }

  /** [[overlapStats]] against a precomputed [[benchGramSet]]. */
  def overlapStatsAgainstGrams(docs: DataFrame, benchGrams: DataFrame,
                               textCol: String, idCol: String, n: Int = 3,
                               threshold: Double = 0.5): DataFrame = {
    require(threshold >= 0 && threshold <= 1, s"threshold must be in [0,1]: $threshold")
    // ONE expensive pass over the corpus: (id, hs) with hs = distinct
    // long gram-hashes; persisted + eagerly counted so every fan-out
    // consumer below hits the cache, not the tokenizer — and so no
    // explode ever runs over the uncached HOF pipeline (the SCALING.md
    // trap: the fused Generate-over-HOF plan measured 18 s where
    // explode-from-cache is ~1 s, independent of the side's row count).
    val docProj = Dedup.shingleHashProjection(docs, textCol, idCol, n).persist()
    docProj.count()
    val hits = docProj
      .select(col("id"), explode(col("hs")).as("__gk"))
      .join(broadcast(benchGrams), Seq("__gk"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
    val stats = docProj
      .select(col("id"), size(col("hs")).cast("long").as("n_grams"))
      .join(hits, Seq("id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("overlap",
        when(col("n_grams") > 0,
          round(col("n_hits").cast("double") / col("n_grams"), 6))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", col("overlap") >= threshold)
      .withColumnRenamed("id", idCol)
      // eager materialization + lineage severing BEFORE unpersisting the
      // big cache: the caller (and clean()) consume finished stats rows;
      // localCheckpoint blocks are ContextCleaner-collected once dropped.
      .localCheckpoint(true)
    docProj.unpersist(false)
    stats
  }

  /** The production form: `docs` minus contaminated rows. Reuses the
    * already-materialized stats from [[overlapStats]] — the gram pipeline
    * runs exactly once; the anti-join sees only the (small) flagged id
    * set, so AQE plans it broadcast.
    */
  def clean(docs: DataFrame, bench: DataFrame, textCol: String,
            idCol: String, n: Int = 3, threshold: Double = 0.5): DataFrame =
    cleanAgainstGrams(docs, benchGramSet(bench, textCol, idCol, n),
      textCol, idCol, n, threshold)

  /** [[clean]] against a precomputed [[benchGramSet]] — the per-batch
    * form the streaming ingest guard uses.
    */
  def cleanAgainstGrams(docs: DataFrame, benchGrams: DataFrame,
                        textCol: String, idCol: String, n: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    val flagged = overlapStatsAgainstGrams(docs, benchGrams, textCol, idCol, n, threshold)
      .where(col("contaminated")).select(col(idCol))
    docs.join(flagged, Seq(idCol), "left_anti")
  }

  /** EMBEDDING-space decontamination — the semantic complement of the
    * n-gram overlap above: a training example whose embedding is
    * near-identical to an eval example leaks the benchmark even when
    * its wording differs (paraphrase leakage — the reason public
    * writeups pair n-gram decontamination with an embedding pass).
    *
    * One row per corpus vector: (idCol, max_cos, n_hits, contaminated)
    * where `max_cos` is the maximum 6dp-rounded cosine against ANY
    * benchmark vector ([[graft.functions.VectorFunctions.cosine]] — the
    * bit-matched codegen expression, so the whole stat is
    * DuckDB-oracle-exact), `n_hits` how many benchmark vectors clear
    * `threshold`, and `contaminated` = max_cos >= threshold.
    *
    * Scale shape — the same asymmetry as the gram pass: the benchmark
    * side is BOUNDED by construction (eval sets are thousands of rows,
    * the corpus is billions), so it rides one broadcast and the corpus
    * is scanned exactly once, per-partition, with a map-side-combinable
    * (id)-keyed aggregate; the corpus is never shuffled whole and never
    * self-joined. The broadcast nested-loop shape is the documented-safe
    * bounded-broadcast class (the k4 brute-force rule): its cost is
    * |corpus| × |bench| cosines spread across every executor — the
    * honest cost of exact semantic overlap; cap the benchmark, not the
    * corpus.
    */
  def semanticOverlapStats(docs: DataFrame, bench: DataFrame, vecCol: String,
                           idCol: String, threshold: Double = 0.99): DataFrame = {
    val b = broadcast(bench.select(col(vecCol).as("__bvec")))
    docs.select(col(idCol), col(vecCol).as("__v"))
      .crossJoin(b)
      .select(col(idCol),
        round(graft.functions.VectorFunctions.cosine(col("__v"), col("__bvec")), 6)
          .as("__c"))
      .groupBy(col(idCol))
      .agg(max(col("__c")).as("max_cos"),
        sum(when(col("__c") >= threshold, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("contaminated", col("max_cos") >= threshold)
  }
}
