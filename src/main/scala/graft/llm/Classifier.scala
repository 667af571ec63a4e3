package graft.llm

import graft.functions.TextFunctions._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multinomial Naive-Bayes document classification — the trainable
  * quality/language/domain-filter signal (the CCNet/GPT-3 lineage keeps
  * corpora with a LINEAR text classifier scored over every document;
  * multinomial NB is the deterministic member of that family) as a
  * first-class pipeline operator. Like the bigram LM
  * ([[LanguageModel]]), the model is exact integer counts plus one log
  * per scored token, so training, scoring, appending and streaming are
  * all DuckDB-oracle-checkable bit-for-bit — unlike a blackbox fastText
  * binary.
  *
  * THE model is ONE table: (label, word, c). Word rows carry per-class
  * token counts; the per-class DOCUMENT count rides in the same table
  * as a `word = ""` sentinel row (tokens are non-empty by construction
  * — [[graft.functions.TextFunctions.tokens]] filters `length > 0` —
  * so the sentinel cannot collide). Every derived statistic comes from
  * that table at score time: the class-conditional denominator
  * ctx(c) = Σ_w cnt(c,w), the event space V = |distinct word|, the
  * prior P(c) = dc(c) / Σ dc. No stats sidecar exists to keep
  * consistent: an append is ONE atomic dynamic-overwrite and counts
  * (token AND document) are additive, so the incremental model is
  * bit-identical to a one-shot retrain — `k15_nb_incremental` pins it
  * by hash-matching the one-shot oracle.
  *
  * Scoring follows the [[LanguageModel]] per-occurrence discipline: a
  * scored document explodes to its token OCCURRENCES (never a tf
  * compression — a decimal × integer product re-introduces the
  * cross-engine type-widening question the per-occurrence sum avoids);
  * occurrences cross the bounded class list (a literal — classes
  * are a classifier parameter, not corpus-derived), LEFT-join the model
  * on (label, word), and each occurrence contributes
  * ln((c + 1) / (ctx + V)) rounded to 6dp and summed as decimal. The
  * class prior ln(dc / N), rounded to the same 6dp decimal, is added
  * once per (doc, label) after the aggregate. The published score is
  * ROUND(CAST(prior + Σ AS DOUBLE), 6) — the sum-not-mean shape
  * (round-after-divide is the one arithmetic the cross-engine contract
  * cannot pin). Unseen (label, word) coalesces to c = 0: a fully-OOV
  * document degrades to priors plus n·ln(1/(ctx + V)) — cross-corpus
  * scoring needs no special path.
  *
  * The predicted class is an AGGREGATE, never a window:
  * max(struct(score, label)) picks the max score with ties to the
  * greatest label — deterministic, map-side-combinable, zero extra
  * shuffle (the k13 `max_by` canonical-pick rule).
  *
  * Scale shape: training is one tokenize pass + one (label, word)
  * count shuffle (map-side combined; the table is vocab × classes,
  * ≪ corpus) + one label-keyed doc count. Scoring is one class-bounded
  * `rollup(label)` collect of the model's statistics (per-class ctx
  * and dc; V, N and the model's row count), then one query: one
  * explode over the literal class list, one model join
  * (broadcast-gated at `maxBroadcastModel` — the model is
  * corpus-derived and unbounded at 100 TB), one (doc, label)-keyed
  * aggregation. Driver state: one row per class plus the grand total.
  */
object Classifier {

  private val CountsBase = "nbcounts"

  /** The schema every counts write produces ([[nbTrain]] and its sums);
    * reads pass it so no Spark job infers it from the footers. The
    * `__batch` partition column still comes from the directory names.
    */
  private val CountsSchema = "label STRING, word STRING, c BIGINT"

  /** The `word` value of per-class document-count rows. Real tokens are
    * never empty, so the sentinel cannot collide with a count row.
    */
  val DocCountWord = ""

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Train in-memory: the ONE-table model — (label, word, c) token
    * counts ∪ (label, "", n_docs). Two keyed aggregations, both
    * map-side combined; the doc count comes from the raw frame (a
    * token-less document still counts toward its class prior).
    */
  def nbTrain(docs: DataFrame, textCol: String, labelCol: String): DataFrame = {
    val words = docs
      .select(col(labelCol).cast("string").as("label"),
        explode(tokens(normalizeText(col(textCol)))).as("word"))
      .groupBy(col("label"), col("word")).agg(count(lit(1)).as("c"))
    val dc = docs
      .groupBy(col(labelCol).cast("string").as("label"))
      .agg(count(lit(1)).as("c"))
      .select(col("label"), lit(DocCountWord).as("word"), col("c"))
    words.unionByName(dc)
  }

  /** Per-(doc, label) class scores for `score` documents against a
    * trained model table: (doc, label, n_tokens, score) — one row per
    * (document with ≥ 1 token) × class. `model` may be in-memory
    * ([[nbTrain]]) or the summed persisted table ([[nbModel]]).
    */
  def nbScore(score: DataFrame, model: DataFrame, textCol: String, idCol: String,
              maxBroadcastModel: Long = TextAnalysis.DfreqBroadcastMaxVocab): DataFrame = {
    val occ = score
      .select(col(idCol).as("doc"),
        explode(tokens(normalizeText(col(textCol)))).as("word"))
    scoreOccurrences(occ, model, maxBroadcastModel)
  }

  /** The ONE scoring tree — shared by [[nbScore]] and
    * [[nbSelfClassify]] so a smoothing/prior fix can never fork the
    * 'one oracle, four paths' invariant. `occ` is the (doc, word)
    * occurrence frame (one row per token occurrence); `model` the
    * one-table counts (one document-count row per label, as [[nbTrain]]
    * and [[nbModel]] produce).
    *
    * The statistics derived from the model are bounded by the class
    * count, so ONE `rollup(label)` collect brings them to the driver:
    * per-label ctx and dc, and on the grand-total row V, N and the
    * model's row count (the broadcast gate). They enter the tree as
    * literals — the class list as `explode(typedLit(labels))`, ctx and
    * dc as `element_at(typedLit(map), label)` — so the scoring query
    * reads the model once, for the (label, word) join. The arithmetic
    * stays Spark expressions evaluated per row, so the DuckDB oracle
    * still matches bit for bit. The classes are the non-null labels
    * with a document-count row (a null label never matched its prior);
    * V and N span every model row.
    */
  private def scoreOccurrences(occ: DataFrame, model: DataFrame,
                               maxBroadcastModel: Long): DataFrame = {
    val isDoc = col("word") === lit(DocCountWord)
    val stats = model.rollup(col("label"))
      .agg(grouping(col("label")).cast("int").as("__total"),
        sum(when(!isDoc, col("c"))).as("ctx"),
        sum(when(isDoc, col("c"))).as("dc"),
        countDistinct(when(!isDoc, col("word"))).as("v"),
        count(lit(1)).as("rows"))
      .collect()
    val (total, perLabel) = stats.partition(_.getInt(1) == 1)
    val classes = perLabel.filter(r => !r.isNullAt(0) && !r.isNullAt(3))
    val labels = classes.map(_.getString(0)).toSeq
    val ctxOf = classes
      .map(r => r.getString(0) -> (if (r.isNullAt(2)) 0L else r.getLong(2))).toMap
    val dcOf = classes.map(r => r.getString(0) -> r.getLong(3)).toMap
    val grand = total.headOption
    val v = grand.fold(0.0)(_.getLong(4).toDouble)
    val n = grand.filterNot(_.isNullAt(3)).fold(0.0)(_.getLong(3).toDouble)
    val nModel = grand.fold(0L)(_.getLong(5))
    val words = model.where(col("word") =!= lit(DocCountWord))
    val wSide = if (nModel <= maxBroadcastModel) broadcast(words) else words
    val label = col("label")
    // ln((c + 1) / (ctx + V)) — expression tree mirrored token for token
    // by the DuckDB oracle (double arithmetic is order-sensitive)
    val lnp = log((coalesce(col("c"), lit(0L)).cast("double") + lit(1.0)) /
      (coalesce(element_at(typedLit(ctxOf), label), lit(0L)).cast("double") + lit(v)))
    // prior ln(dc/N): IEEE division (bit-stable across engines), then the
    // shared 6dp-decimal rounding
    val prior = round(log(element_at(typedLit(dcOf), label).cast("double") / lit(n)), 6)
      .cast("decimal(28,6)")
    occ.select(col("doc"), col("word"), explode(typedLit(labels)).as("label"))
      .join(wSide, Seq("label", "word"), "left")
      .withColumn("__s", round(lnp, 6).cast("decimal(28,6)"))
      .groupBy(col("doc"), label)
      .agg(count(lit(1)).as("n_tokens"), sum(col("__s")).as("__ws"))
      .select(col("doc"), label, col("n_tokens"),
        round((col("__ws") + prior).cast("double"), 6).as("score"))
  }

  /** Classify: argmax class per document — (doc, n_tokens, predicted,
    * score). The pick is max(struct(score, label)) — max score, ties to
    * the greatest label — an aggregate, never a per-doc rank window.
    */
  def nbClassify(score: DataFrame, model: DataFrame, textCol: String, idCol: String,
                 maxBroadcastModel: Long = TextAnalysis.DfreqBroadcastMaxVocab): DataFrame =
    pickBest(nbScore(score, model, textCol, idCol, maxBroadcastModel))

  private def pickBest(scores: DataFrame): DataFrame =
    scores
      .groupBy(col("doc"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(struct(col("score"), col("label"))).as("__m"))
      .select(col("doc"), col("n_tokens"),
        col("__m.label").as("predicted"), col("__m.score").as("score"))

  /** EXACT ROC AUC of a score column against a boolean label (round 14
    * — the gate-calibration number: "how well does this quality/language
    * classifier actually separate?"). Mann–Whitney form with the
    * standard tie correction: AUC = (Σ_g np_g·negBelow_g +
    * ½·Σ_g np_g·nn_g) / (NP·NN) over distinct-score groups g.
    *
    * Distributed and EXACT — no sampling, no sketch, and no
    * single-partition rank window (the trap a naive
    * `row_number() OVER (ORDER BY score)` falls into): scores reduce to
    * (score, np, nn) groups in one map-side-combined shuffle, the
    * groups range-partition by score (materialized once — the
    * [[graft.ops.Layout.denseIds]] two-pass discipline: repartitionByRange
    * re-samples boundaries per execution, so the counts pass and the
    * rank pass must see ONE frozen partitioning), per-partition negative
    * totals collect (bounded by the partition COUNT, not the data) into
    * broadcast offsets, and the cumulative-below runs as a
    * partition-LOCAL window. Counts stay exact longs end to end; the
    * single final division is the only float op, 6dp-rounded — the
    * DuckDB oracle applies the identical expression.
    */
  def binaryAuc(df: DataFrame, scoreCol: Column, isPositive: Column,
                numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val g = df.select(scoreCol.cast("double").as("s"),
        isPositive.cast("boolean").as("p"))
      .where(col("s").isNotNull && col("p").isNotNull)
      .groupBy(col("s"))
      .agg(sum(when(col("p"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("p"), 1L).otherwise(0L)).as("nn"))
    val parts = if (numPartitions > 0) numPartitions
                else spark.sparkContext.defaultParallelism
    val parted = g.repartitionByRange(parts, col("s"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val counts = parted.groupBy(col("__pid")).agg(sum(col("nn")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val cum = counts.map(_._1).zip(
      counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1)).toMap
    val offset =
      if (cum.isEmpty) lit(0L)
      else coalesce(
        element_at(
          map(cum.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
          col("__pid")),
        lit(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("s"))
    parted
      .withColumn("__negBelow", sum(col("nn")).over(w) - col("nn") + offset)
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * col("__negBelow")).as("__wins"),
        sum(col("np") * col("nn")).as("__ties"))
      .select(col("n_pos"), col("n_neg"),
        round((col("__wins").cast("double") + lit(0.5d) * col("__ties").cast("double"))
          / (col("n_pos").cast("double") * col("n_neg").cast("double")), 6).as("auc"))
  }

  /** Self-classify a labeled corpus (train on it, score it) — ONE
    * tokenize pass: the exploded (doc, label, word) occurrence frame is
    * persisted and feeds both the model aggregate and the score rows
    * (the [[LanguageModel.perplexity]] shared-pass shape). The returned
    * frame is eagerly checkpointed, so callers can fan out (confusion
    * matrix, band filters) without re-running the pipeline.
    */
  def nbSelfClassify(docs: DataFrame, textCol: String, labelCol: String,
                     idCol: String): DataFrame = {
    val occ = docs
      .select(col(idCol).as("doc"), col(labelCol).cast("string").as("__lbl"),
        tokens(normalizeText(col(textCol))).as("__t"))
      .select(col("doc"), col("__lbl"), explode(col("__t")).as("word"))
      .persist()
    occ.count() // eager: the model agg and the score rows read the cache
    try {
      val words = occ.groupBy(col("__lbl").as("label"), col("word"))
        .agg(count(lit(1)).as("c"))
      val dc = docs.groupBy(col(labelCol).cast("string").as("label"))
        .agg(count(lit(1)).as("c"))
        .select(col("label"), lit(DocCountWord).as("word"), col("c"))
      // corpus-derived here: materialized once for the statistics
      // collect and the score join
      val model = words.unionByName(dc).localCheckpoint(true)
      val scored = scoreOccurrences(occ.select(col("doc"), col("word")),
        model, TextAnalysis.DfreqBroadcastMaxVocab)
      pickBest(scored).localCheckpoint(true)
    } finally occ.unpersist(false)
  }

  // ---------------------------------------------------------------- //
  // Persisted model — train once, classify many                      //
  // ---------------------------------------------------------------- //

  /** The CURRENT counts directory — generation-resolved (the
    * [[LanguageModel.bigramsDir]] twin).
    */
  private[graft] def countsDir(spark: SparkSession, path: String): String =
    graft.ops.Generations.currentDir(fsOf(spark, path), new Path(path),
      CountsBase).toString

  /** Write the model at `path`: the one-table counts as `__batch=0`.
    * Clears any previous generation state (the `ivfWriteIndex` reset
    * rule).
    */
  def nbWrite(docs: DataFrame, textCol: String, labelCol: String,
              path: String): Unit = {
    val spark = docs.sparkSession
    graft.ops.Generations.reset(fsOf(spark, path), new Path(path), CountsBase)
    graft.ops.Generations.writeBatch(nbTrain(docs, textCol, labelCol),
      s"$path/$CountsBase", 0L)
  }

  /** Append ONE labeled batch's counts under its own `__batch` partition
    * — token AND document counts are additive, so the score-time
    * per-(label, word) sum over batches equals a full retrain
    * bit-for-bit. ONE dynamic overwrite (a replayed batch rewrites
    * exactly itself), no sidecar, no crash window. O(batch).
    */
  def nbAppendBatch(spark: SparkSession, path: String, batch: DataFrame,
                    textCol: String, labelCol: String, batchId: Long): Unit = {
    require(batchId > 0, s"batchId must be > 0 (batch 0 is the base build): $batchId")
    val root = new Path(countsDir(spark, path))
    require(fsOf(spark, path).exists(root),
      s"no NB model at $path — run nbWrite first")
    graft.ops.Generations.writeBatch(nbTrain(batch, textCol, labelCol),
      root.toString, batchId)
  }

  /** The persisted model's summed count table — one bounded aggregation
    * over the live batches; identical to a one-shot [[nbTrain]] over
    * the union of every ingested document set.
    */
  def nbModel(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(countsDir(spark, path))
    require(fsOf(spark, path).exists(root),
      s"no NB model at $path — run nbWrite first")
    spark.read.schema(CountsSchema).parquet(root.toString)
      .groupBy(col("label"), col("word")).agg(sum(col("c")).as("c"))
      // retraction-cancelled rows drop: a retrained survivor model
      // never saw them, and V / ctx / the priors must shrink with them
      .where(col("c") =!= 0L)
  }

  /** RETRACT labeled documents from the persisted model — the
    * [[LanguageModel.lmRetractBatch]] contract for the classifier:
    * counts (token AND per-class document) are additive, so deletion is
    * the NEGATED [[nbTrain]] of the removed docs under a negative
    * `__batch = -(retractionId+1)` partition; the summed model equals a
    * retrain on the survivors bit-for-bit (zero-summed rows filtered by
    * [[nbModel]] — a fully-removed class loses its sentinel row and
    * vanishes from the priors, exactly like a retrain). Same evidence
    * and once-per-epoch preconditions as the LM twin; O(removed).
    */
  def nbRetractBatch(spark: SparkSession, path: String, removedDocs: DataFrame,
                     textCol: String, labelCol: String,
                     retractionId: Long): Unit = {
    require(retractionId >= 0L, s"retractionId must be >= 0: $retractionId")
    val root = new Path(countsDir(spark, path))
    require(fsOf(spark, path).exists(root),
      s"no NB model at $path — run nbWrite first")
    graft.ops.Generations.writeBatch(nbTrain(removedDocs, textCol, labelCol)
        .select(col("label"), col("word"), (-col("c")).as("c")),
      root.toString, -(retractionId + 1L))
  }

  /** Classify documents THROUGH the persisted model — [[nbClassify]]
    * over [[nbModel]]'s summed counts.
    */
  def nbClassifyIndexed(spark: SparkSession, path: String, docs: DataFrame,
                        textCol: String, idCol: String): DataFrame =
    nbClassify(docs, nbModel(spark, path), textCol, idCol)

  /** [[nbClassifyIndexed]] over a PRE-TOKENIZED (doc, word) occurrence
    * frame — the `curateBatch` shared-pass hook: when the caller has
    * already tokenized the batch for another stage (the shingle
    * projection), the gate must not tokenize it again. Scoring goes
    * through the ONE shared tree, so the result is row-identical to
    * the textCol path.
    */
  def nbClassifyOccurrences(spark: SparkSession, path: String,
                            occ: DataFrame): DataFrame =
    pickBest(scoreOccurrences(occ.select(col("doc"), col("word")),
      nbModel(spark, path), TextAnalysis.DfreqBroadcastMaxVocab))

  /** Fold the accumulated `__batch` fragments into one summed
    * `__batch=0` — crash-atomic via the shared [[graft.ops.Generations]]
    * swap; scores are invariant (the sum of per-batch counts is the
    * count). Same retired-lineage rule as every compacting family.
    */
  def nbCompact(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, path)
    val cur = graft.ops.Generations.currentDir(fs, root, CountsBase)
    graft.ops.Generations.swap(fs, root, CountsBase) { staged =>
      graft.ops.Generations.writeBatch(
        spark.read.schema(CountsSchema).parquet(cur.toString)
          .groupBy(col("label"), col("word")).agg(sum(col("c")).as("c"))
          .where(col("c") =!= 0L), // retraction-cancelled rows bake away
        staged.toString, 0L)
    }
  }

  /** RETRAIN the persisted model from scratch on `docs` under ONE
    * crash-atomic generation swap (round 14 — the drift-retune leg's
    * gate retrain): unlike [[nbWrite]] (a fresh-lineage reset that
    * deletes before it writes), this stages the new `__batch=0` counts
    * into the next generation and commits by marker, so a classify
    * racing the retrain always reads a COMPLETE model — old before the
    * marker, new after.
    */
  def nbRetrain(spark: SparkSession, path: String, docs: DataFrame,
                textCol: String, labelCol: String): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, path)
    require(fs.exists(new Path(countsDir(spark, path))),
      s"no NB model at $path — nbRetrain replaces an existing model; " +
        "use nbWrite for the initial build")
    graft.ops.Generations.swap(fs, root, CountsBase) { staged =>
      graft.ops.Generations.writeBatch(nbTrain(docs, textCol, labelCol),
        staged.toString, 0L)
    }
  }

  /** The maintenance-policy shape for the NB model — fragmentation-only,
    * like [[LanguageModel.lmMaintain]] (counts have no geometry to
    * drift): COMPACT when live `__batch` dirs exceed `maxLiveBatches`,
    * else no-op; returns "compact" | "none".
    */
  def nbMaintain(spark: SparkSession, path: String,
                 maxLiveBatches: Int = 8): String =
    if (liveBatches(spark, path).size > maxLiveBatches) {
      nbCompact(spark, path); "compact"
    } else "none"

  /** Reclaim every superseded model generation — run when no reader can
    * be older than the last [[nbCompact]] commit.
    */
  def nbVacuum(spark: SparkSession, path: String): Unit =
    graft.ops.Generations.vacuum(fsOf(spark, path), new Path(path), CountsBase)

  /** The model's live `__batch` set from partition-directory names — an
    * FS listing, no Spark job.
    */
  private[graft] def liveBatches(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val root = new Path(countsDir(spark, path))
    require(fs.exists(root), s"no NB model at $path — run nbWrite first")
    graft.ops.Generations.batchIds(fs, root)
  }
}
