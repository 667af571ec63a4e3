package graft.llm

import graft.functions.TextFunctions._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-gram language-model perplexity scoring — the CCNet-style quality
  * signal (Wenzek et al., LREC 2020: score every document against a
  * reference LM, keep by perplexity band) as a first-class pipeline
  * operator. The model here is a bigram LM with add-k smoothing —
  * exact integer counts plus one log per scored bigram, so the whole
  * family is DuckDB-oracle-checkable bit-for-bit, unlike a blackbox
  * KenLM binary.
  *
  * THE model is ONE table: bigram counts (w1, w2, c). Both smoothing
  * denominators derive from it — the conditional context total
  * ctx(a) = Σ_b c(a,b) (the MLE denominator: P(b|a) = c(a,b)/ctx(a))
  * and the event-space size V = |distinct w2|. Deriving them at score
  * time from vocab-sized aggregations (never a corpus rescan) means
  * the persisted layout has NO stats sidecar to keep consistent:
  * an append is ONE atomic dynamic-overwrite write, and the
  * incremental model is count-additive — bit-identical to a one-shot
  * rebuild, which `k14_lm_incremental` pins by hash-matching the
  * one-shot oracle.
  *
  * Scoring: each scored document explodes to its (w1, w2) transition
  * occurrences; a LEFT join against the model (broadcast only under
  * [[TextAnalysis.DfreqBroadcastMaxVocab]]-style gating — the model is
  * corpus-derived and unbounded at 100 TB) attaches c(a,b) and ctx(a);
  * the per-transition logprob ln((c+k)/(ctx+kV)) is rounded to 6dp and
  * summed as decimal (order-independent — the bm25 exactness
  * discipline). The per-doc output is (n_bigrams, sum_logprob) — the
  * SUM, not the mean: a rounded post-division mean is the one
  * arithmetic shape the cross-engine contract cannot pin (the decimal
  * sum cast to double is exact at 6dp, but round(sum/n, 6) lands
  * within one ulp of a 7th-digit .5 boundary often enough to flip a
  * last digit between Spark's exact-BigDecimal rounding and DuckDB's
  * float-multiply rounding — observed 2/5000 docs at sf0.1). Mean and
  * perplexity derive downstream; [[perplexityBands]] compares on the
  * UNROUNDED mean, where both engines' IEEE division agrees
  * bit-for-bit. Unseen transitions coalesce to c = 0, unseen contexts
  * to ctx = 0 — a fully-OOV document scores ln(k/(kV)) = −ln(V) per
  * transition at k = 1, the add-one uniform floor, so cross-corpus
  * scoring needs no special path.
  *
  * Scale shape: training is one tokenize pass + one (w1, w2) count
  * shuffle (map-side combined — the pair table is vocab²-bounded,
  * ≪ corpus); scoring is one explode + one equi-join (or broadcast
  * when the model is small) + one doc-keyed aggregation. Per-query
  * driver state: nothing corpus-sized — V and the broadcast gate are
  * single-row/count aggregates.
  *
  * Perplexity itself (exp(−avg_logprob)) is deliberately NOT in the
  * hash-checked output: `exp` is a libm call whose last-ulp behavior
  * the cross-engine contract cannot pin, and perplexity is a monotone
  * transform of avg_logprob — every band decision is made on the
  * logprob scale ([[perplexityBands]]).
  */
object LanguageModel {

  private val BigramsBase = "bigrams"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (doc, w1, w2) transition-occurrence rows for a document set — the
    * shared tokenize pass of training and scoring. Pairs are built from
    * O(1) `element_at` lookups over the tokens (the [[ngrams]] rule:
    * never a `slice` per position).
    */
  private[graft] def transitions(docs: DataFrame, textCol: String,
                                 idCol: String): DataFrame = {
    val toks = tokens(normalizeText(col(textCol)))
    docs
      .select(col(idCol).as("doc"), toks.as("__t"))
      .where(size(col("__t")) >= 2)
      .select(col("doc"), explode(transform(sequence(lit(0), size(col("__t")) - 2),
        i => struct(element_at(col("__t"), i + 1).as("w1"),
          element_at(col("__t"), i + 2).as("w2")))).as("__p"))
      .select(col("doc"), col("__p.w1").as("w1"), col("__p.w2").as("w2"))
  }

  /** Train in-memory: the bigram count table (w1, w2, c) — one shuffle,
    * map-side combined.
    */
  def lmTrain(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    transitions(docs, textCol, idCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))

  /** Score `score` documents against a trained bigram table: one row per
    * document with ≥ 2 tokens — (doc, n_bigrams, avg_logprob), the
    * rounded-decimal-sum discipline. `model` may be in-memory
    * ([[lmTrain]]) or the summed persisted table ([[lmModel]]).
    */
  def lmScore(score: DataFrame, model: DataFrame, textCol: String, idCol: String,
              k: Double = 1.0,
              maxBroadcastVocab: Long = TextAnalysis.DfreqBroadcastMaxVocab): DataFrame = {
    val spark = score.sparkSession
    // model feeds three consumers (ctx agg, V agg, the score join): a
    // vocab²-bounded table, materialized once — the SCALING.md fan-out rule
    val m = model.localCheckpoint(true)
    val nModel = m.count()
    val ctx = m.groupBy(col("w1")).agg(sum(col("c")).as("ctx"))
    val v = m.agg(countDistinct(col("w2")).cast("double").as("__v"))
    val gate = nModel <= maxBroadcastVocab
    val mSide = if (gate) broadcast(m) else m
    val ctxSide = if (gate) broadcast(ctx) else ctx
    val bg = transitions(score, textCol, idCol)
    // ln((c + k) / (ctx + k·V)) — expression tree mirrored token for
    // token by the DuckDB oracle (double arithmetic is order-sensitive)
    val lnp = log((coalesce(col("c"), lit(0L)).cast("double") + lit(k)) /
      (coalesce(col("ctx"), lit(0L)).cast("double") + lit(k) * col("__v")))
    bg.join(mSide, Seq("w1", "w2"), "left")
      .join(ctxSide, Seq("w1"), "left")
      .join(broadcast(v))
      .withColumn("__s", round(lnp, 6).cast("decimal(28,6)"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("__s")).cast("double"), 6).as("sum_logprob"))
  }

  /** Self-scored corpus perplexity — train on `docs`, score `docs`; the
    * transition table feeds both, so it is persisted and eagerly counted
    * (the [[TextAnalysis.tfidf]] shared-`tf` shape) rather than
    * re-tokenizing per consumer.
    */
  def perplexity(docs: DataFrame, textCol: String, idCol: String,
                 k: Double = 1.0): DataFrame = {
    val bg = transitions(docs, textCol, idCol).persist()
    bg.count() // eager: model agg + score rows below read the cache
    try {
      val model = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      // inline the score join against the cached transitions (lmScore
      // would re-derive them from the raw text)
      val m = model.localCheckpoint(true)
      val gate = m.count() <= TextAnalysis.DfreqBroadcastMaxVocab
      val ctx = m.groupBy(col("w1")).agg(sum(col("c")).as("ctx"))
      val v = m.agg(countDistinct(col("w2")).cast("double").as("__v"))
      val lnp = log((coalesce(col("c"), lit(0L)).cast("double") + lit(k)) /
        (coalesce(col("ctx"), lit(0L)).cast("double") + lit(k) * col("__v")))
      bg.join(if (gate) broadcast(m) else m, Seq("w1", "w2"), "left")
        .join(if (gate) broadcast(ctx) else ctx, Seq("w1"), "left")
        .join(broadcast(v))
        .withColumn("__s", round(lnp, 6).cast("decimal(28,6)"))
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("__s")).cast("double"), 6).as("sum_logprob"))
        .localCheckpoint(true)
    } finally bg.unpersist(false)
  }

  /** (doc, w1, w2, w3) trigram-occurrence rows — the [[transitions]]
    * rule one order up (O(1) element_at lookups, never a slice).
    */
  private[graft] def trigramTransitions(docs: DataFrame, textCol: String,
                                        idCol: String): DataFrame = {
    val toks = tokens(normalizeText(col(textCol)))
    docs
      .select(col(idCol).as("doc"), toks.as("__t"))
      .where(size(col("__t")) >= 3)
      .select(col("doc"), explode(transform(sequence(lit(0), size(col("__t")) - 3),
        i => struct(element_at(col("__t"), i + 1).as("w1"),
          element_at(col("__t"), i + 2).as("w2"),
          element_at(col("__t"), i + 3).as("w3")))).as("__p"))
      .select(col("doc"), col("__p.w1").as("w1"), col("__p.w2").as("w2"),
        col("__p.w3").as("w3"))
  }

  /** Interpolated TRIGRAM perplexity — one order deeper than
    * [[perplexity]], same contract discipline: per trigram occurrence
    * ln(λ·P(w3|w1w2) + (1−λ)·P(w3|w2)), both conditionals add-one
    * smoothed, rounded to 6dp and decimal-summed per doc.
    *
    * EVERY statistic derives from the ONE trigram count table over the
    * corpus's trigram events (the family's one-table invariant, an
    * order up): ctx(w1,w2) = Σ_w3 c, the backoff counts
    * c(w2,w3) = Σ_w1 c and ctx(w2) = Σ c over the SAME event space,
    * and V = |distinct w3|. A fully-OOV transition floors at −ln V
    * (λ/V + (1−λ)/V = 1/V), so cross-corpus scoring needs no special
    * path. λ and 1−λ are BOTH explicit literals — deriving 0.3 as
    * 1.0 − 0.7 in IEEE gives 0.30000000000000004 and the oracle could
    * never write that down.
    *
    * Scale shape: one tokenize pass feeding the count aggregate and
    * the score rows (persisted, the [[perplexity]] shared-pass shape);
    * model-side tables are vocab³-bounded aggregations; the score
    * joins are broadcast-gated like [[lmScore]].
    */
  def trigramPerplexity(docs: DataFrame, textCol: String, idCol: String,
                        lambda: Double = 0.7, oneMinusLambda: Double = 0.3,
                        maxBroadcastVocab: Long = TextAnalysis.DfreqBroadcastMaxVocab): DataFrame = {
    val tri = trigramTransitions(docs, textCol, idCol).persist()
    tri.count() // eager: the model aggregates and score rows read the cache
    try {
      val m3 = tri.groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("c3")).localCheckpoint(true)
      val gate = m3.count() <= maxBroadcastVocab
      val ctx12 = m3.groupBy(col("w1"), col("w2")).agg(sum(col("c3")).as("ctx12"))
      val m23 = m3.groupBy(col("w2"), col("w3")).agg(sum(col("c3")).as("c23"))
      val ctx2 = m3.groupBy(col("w2")).agg(sum(col("c3")).as("ctx2"))
      val v = m3.agg(countDistinct(col("w3")).cast("double").as("__v"))
      def side(d: DataFrame) = if (gate) broadcast(d) else d
      val p3 = (coalesce(col("c3"), lit(0L)).cast("double") + lit(1.0)) /
        (coalesce(col("ctx12"), lit(0L)).cast("double") + col("__v"))
      val p2 = (coalesce(col("c23"), lit(0L)).cast("double") + lit(1.0)) /
        (coalesce(col("ctx2"), lit(0L)).cast("double") + col("__v"))
      val lnp = log(lit(lambda) * p3 + lit(oneMinusLambda) * p2)
      tri
        .join(side(m3), Seq("w1", "w2", "w3"), "left")
        .join(side(ctx12), Seq("w1", "w2"), "left")
        .join(side(m23), Seq("w2", "w3"), "left")
        .join(side(ctx2), Seq("w2"), "left")
        .join(broadcast(v))
        .withColumn("__s", round(lnp, 6).cast("decimal(28,6)"))
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_trigrams"),
          round(sum(col("__s")).cast("double"), 6).as("sum_logprob"))
        .localCheckpoint(true)
    } finally tri.unpersist(false)
  }

  /** CCNet band assignment on the logprob scale: per-doc MEAN logprob
    * (sum_logprob / n_bigrams, UNROUNDED — IEEE division agrees
    * bit-for-bit across engines; it is only round-after-divide that
    * doesn't) bucketed 'head' / 'middle' / 'tail' by the corpus's exact
    * (loPct, hiPct) percentiles. The thresholds are ONE 1-row aggregate
    * broadcast back over the scores — never a corpus-wide rank window
    * (an `ntile` would drag the corpus through one task at scale).
    * Input is a finished [[perplexity]]/[[lmScore]] frame, so sweeping
    * several band splits re-reads the scores, not the corpus.
    */
  def perplexityBands(scores: DataFrame, loPct: Double = 0.25,
                      hiPct: Double = 0.75): DataFrame = {
    require(loPct > 0 && hiPct < 1 && loPct < hiPct,
      s"need 0 < loPct < hiPct < 1: ($loPct, $hiPct)")
    val avg = col("sum_logprob") / col("n_bigrams").cast("double")
    val based = scores.withColumn("__avg", avg)
    val cuts = based.agg(
      expr(s"percentile(__avg, $hiPct)").as("__hi"),
      expr(s"percentile(__avg, $loPct)").as("__lo"))
    based.join(broadcast(cuts))
      // higher mean logprob = more in-distribution = 'head' (CCNet keeps
      // head+middle); boundary values land in the upper band
      .withColumn("band",
        when(col("__avg") >= col("__hi"), lit("head"))
          .when(col("__avg") >= col("__lo"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("__hi", "__lo", "__avg")
  }

  // ---------------------------------------------------------------- //
  // Persisted model — train once, score many                         //
  // ---------------------------------------------------------------- //

  /** The CURRENT bigrams directory — generation-resolved (the
    * [[Search.postingsDir]] twin): `bigrams/` until the first
    * compaction, the highest committed `bigrams_gen=N/` after.
    */
  private[graft] def bigramsDir(spark: SparkSession, path: String): String =
    graft.ops.Generations.currentDir(fsOf(spark, path), new Path(path),
      BigramsBase).toString

  /** Write the model at `path`: bigram counts as `__batch=0`. Clears any
    * previous generation state (the `ivfWriteIndex` reset rule).
    */
  def lmWrite(docs: DataFrame, textCol: String, idCol: String,
              path: String): Unit = {
    val spark = docs.sparkSession
    graft.ops.Generations.reset(fsOf(spark, path), new Path(path), BigramsBase)
    graft.ops.Generations.writeBatch(lmTrain(docs, textCol, idCol),
      s"$path/$BigramsBase", 0L)
  }

  /** Append ONE document batch's bigram counts under their own `__batch`
    * partition — counts are ADDITIVE, so the score-time per-(w1,w2) sum
    * over batches equals a full retrain bit-for-bit. ONE dynamic
    * overwrite (a replayed batch rewrites exactly itself) and no
    * sidecar: this family has no crash window at all. O(batch): one
    * tokenize pass over the batch, zero reads of the existing model.
    */
  def lmAppendBatch(spark: SparkSession, path: String, batch: DataFrame,
                    textCol: String, idCol: String, batchId: Long): Unit = {
    require(batchId > 0, s"batchId must be > 0 (batch 0 is the base build): $batchId")
    val root = new Path(bigramsDir(spark, path))
    require(fsOf(spark, path).exists(root),
      s"no LM model at $path — run lmWrite first")
    graft.ops.Generations.writeBatch(lmTrain(batch, textCol, idCol),
      root.toString, batchId)
  }

  /** RETRACT documents from the persisted model — counts are ADDITIVE,
    * so deletion is the NEGATED train of the removed docs under a
    * negative `__batch = -(retractionId+1)` partition (disjoint from
    * the append id space; dynamic overwrite — a replayed retraction
    * rewrites exactly itself). The summed model then equals a one-shot
    * retrain on the survivors bit-for-bit: transitions whose count
    * cancels to zero drop out of the summed table ([[lmModel]]'s
    * `c != 0` filter), so V and the smoothing denominators shrink
    * exactly as a retrain's would. The caller supplies the removed
    * DOCUMENTS (the [[graft.ops.Graph.retractBatch]] evidence rule —
    * the deleter holds what it deletes); retract a doc at most once
    * per compaction epoch (a second retraction double-subtracts — the
    * append families' ids-unique precondition class). O(removed): one
    * tokenize pass, zero reads of the existing model.
    */
  def lmRetractBatch(spark: SparkSession, path: String, removedDocs: DataFrame,
                     textCol: String, idCol: String, retractionId: Long): Unit = {
    require(retractionId >= 0L, s"retractionId must be >= 0: $retractionId")
    val root = new Path(bigramsDir(spark, path))
    require(fsOf(spark, path).exists(root),
      s"no LM model at $path — run lmWrite first")
    graft.ops.Generations.writeBatch(lmTrain(removedDocs, textCol, idCol)
        .select(col("w1"), col("w2"), (-col("c")).as("c")),
      root.toString, -(retractionId + 1L))
  }

  /** The persisted model's summed bigram table — one vocab²-bounded
    * aggregation over the live batches; identical to a one-shot
    * [[lmTrain]] over the union of every ingested document set minus
    * every retracted one. Transitions whose counts cancel to zero are
    * DROPPED: a retrained model never saw them, and the event space V
    * (distinct `w2`) must shrink with them for the smoothing
    * denominators to match a retrain exactly.
    */
  def lmModel(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(bigramsDir(spark, path))
    require(fsOf(spark, path).exists(root),
      s"no LM model at $path — run lmWrite first")
    spark.read.parquet(root.toString)
      .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c"))
      .where(col("c") =!= 0L)
  }

  /** Score documents THROUGH the persisted model — [[lmScore]] over
    * [[lmModel]]'s summed counts.
    */
  def lmScoreIndexed(spark: SparkSession, path: String, docs: DataFrame,
                     textCol: String, idCol: String, k: Double = 1.0): DataFrame =
    lmScore(docs, lmModel(spark, path), textCol, idCol, k)

  /** Fold the accumulated `__batch` fragments into one summed `__batch=0`
    * — crash-atomic via the shared [[graft.ops.Generations]] swap (the
    * staged generation holds the full summed table before its commit
    * marker lands; the superseded generation survives until the next
    * compact / [[lmVacuum]] as the in-flight-reader grace period).
    * Scores are invariant: the sum of per-batch counts is the count.
    * Same retired-lineage rule as every compacting family: batch
    * provenance collapses, so compact only after the appending stream's
    * checkpoint is dropped.
    */
  def lmCompact(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, path)
    val cur = graft.ops.Generations.currentDir(fs, root, BigramsBase)
    graft.ops.Generations.swap(fs, root, BigramsBase) { staged =>
      graft.ops.Generations.writeBatch(spark.read.parquet(cur.toString)
          .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c"))
          .where(col("c") =!= 0L), // retraction-cancelled rows bake away
        staged.toString, 0L)
    }
  }

  /** The [[graft.llm.Similarity.ivfMaintain]] policy shape for the LM
    * model — fragmentation-only (counts have no geometry to drift):
    * COMPACT when the live `__batch` count exceeds `maxLiveBatches`,
    * else no-op; returns "compact" | "none". Retired-lineage rule
    * applies ([[lmCompact]]).
    */
  def lmMaintain(spark: SparkSession, path: String,
                 maxLiveBatches: Int = 8): String =
    if (liveBatches(spark, path).size > maxLiveBatches) {
      lmCompact(spark, path); "compact"
    } else "none"

  /** Reclaim every superseded model generation — run when no reader can
    * be older than the last [[lmCompact]] commit.
    */
  def lmVacuum(spark: SparkSession, path: String): Unit =
    graft.ops.Generations.vacuum(fsOf(spark, path), new Path(path), BigramsBase)

  /** The model's live `__batch` set from partition-directory names — an
    * FS listing, no Spark job.
    */
  private[graft] def liveBatches(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val root = new Path(bigramsDir(spark, path))
    require(fs.exists(root), s"no LM model at $path — run lmWrite first")
    graft.ops.Generations.batchIds(fs, root)
  }
}
