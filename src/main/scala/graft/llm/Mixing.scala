package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus mixing / resampling operators — the "what do we train on"
  * knobs of a training-data pipeline, downstream of dedup and quality
  * filtering: cap any one domain's contribution, and rebalance languages
  * (or any stratum) with temperature sampling. Both are deterministic
  * pure functions of the row ids (md5-derived priorities / uniforms, the
  * same engine-portable trick as the K8 sampling family), so reruns,
  * engines and re-partitions all select the identical subset — the
  * property a reproducible training mix needs.
  */
object Mixing {

  /** The deterministic per-doc uniform in [0, 1): first 8 md5 hex chars
    * of the id as a 32-bit integer over 2³². */
  private def mdUniform(idCol: String): Column =
    conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0d)

  /** K12 — deterministic TOKEN-BUDGET sampling: the "give me a ~50B-token
    * subset" mix operation. Documents are ranked by the md5(id) priority
    * (the [[perSourceCap]] lottery — stable across runs, partitionings
    * and engines) and admitted in that order while the running token
    * total stays within `budget`; the first document that would cross it
    * is dropped, as is everything after. Tokens are whitespace tokens of
    * the RAW text (the K5 `k5_token_counts` convention), returned as
    * `n_tokens`.
    *
    * Scale shape — NO global window: a global running sum would move the
    * corpus through one task. The md5-priority space is split into
    * 16^bucketHexChars PREFIX buckets (hex is lowercase fixed-width, so
    * prefix-value order IS the global priority order), one narrow
    * map-side-combined aggregate yields per-bucket token totals (a
    * parameter-bounded driver list), whole buckets below the cutoff are
    * admitted with zero per-doc work, buckets above it are dropped, and
    * ONLY the cutoff bucket runs the exact per-doc running sum — a
    * window over ~1/buckets of the corpus, partitioned, never global.
    * Row-identical to the naive global-window form (spec-pinned). The
    * result is eagerly severed (localCheckpoint) so the shared
    * projection cache releases — the spans-family rule.
    */
  def tokenBudgetSample(df: DataFrame, textCol: String, idCol: String,
                        budget: Long, bucketHexChars: Int = 2): DataFrame = {
    require(budget >= 0L, s"budget must be >= 0: $budget")
    require(bucketHexChars >= 1 && bucketHexChars <= 4,
      s"bucketHexChars must be in 1..4: $bucketHexChars")
    val base = df
      .withColumn("__prio", md5(col(idCol).cast("string")))
      .withColumn("n_tokens",
        size(graft.functions.TextFunctions.tokens(col(textCol))).cast("long"))
      .withColumn("__b",
        conv(substring(col("__prio"), 1, bucketHexChars), 16, 10).cast("long"))
      .persist()
    try {
      base.count() // two consumers: the bucket totals and the final scan
      val perBucket = base.groupBy(col("__b")).agg(sum(col("n_tokens")).as("t"))
        .orderBy(col("__b")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      var cum = 0L; var cut = -1L; var offset = 0L
      val it = perBucket.iterator
      while (it.hasNext && cut < 0) {
        val (b, t) = it.next()
        if (cum + t > budget) { cut = b; offset = cum } else cum += t
      }
      val out =
        if (cut < 0) base.drop("__prio", "__b") // the whole corpus fits
        else {
          val below = base.where(col("__b") < cut)
          val w = Window.partitionBy(col("__b"))
            .orderBy(col("__prio"), col(idCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val inCut = base.where(col("__b") === cut)
            .withColumn("__cum", sum(col("n_tokens")).over(w))
            .where(col("__cum") + lit(offset) <= budget)
            .drop("__cum")
          below.unionByName(inCut).drop("__prio", "__b")
        }
      out.localCheckpoint(true)
    } finally base.unpersist(false)
  }

  /** Per-source (domain) cap: keep at most `cap` documents per source,
    * chosen by a deterministic md5 priority over the doc id (ties broken
    * by id). The Common-Crawl-style guard against any one domain
    * dominating the corpus.
    *
    * Scale shape: ONE shuffle on the source key; the window computes
    * row_number per source partition with partial ordering only within
    * each source. A pathological mega-domain makes a hot partition — use
    * [[perSourceCapSkewed]] when one domain is a meaningful fraction of
    * the corpus (its two-level salted top-k is exact and keeps every
    * partition bounded at n_source / saltBuckets).
    */
  /** Sample the corpus DOWN to a TARGET stratum distribution — the
    * "hit the DoReMi weights" operator: given per-stratum target shares
    * (they need not sum to 1; relative weights suffice), keep the
    * largest subcorpus whose stratum proportions match the targets up
    * to flooring. The binding stratum is the one with the least
    * headroom: s = min_l (count_l / target_l), and each stratum keeps
    * floor(s · target_l) documents — its full count for the binding
    * stratum, proportionally fewer everywhere else. Strata WITHOUT a
    * target are dropped (weight 0).
    *
    * Selection within a stratum is the deterministic md5 lottery
    * ([[perSourceCap]]'s rule): rank by (md5(id), id), keep the top
    * floor(s · t_l) — engines draw the identical subcorpus, so the
    * whole result hashes. All arithmetic is IEEE (count/target
    * division, min, s·t, floor) mirrored token for token by the
    * oracle.
    *
    * Scale shape: one stratum-keyed count, two broadcast-bounded
    * joins (targets are a mixing parameter; the scale frame is one
    * row), one stratum-keyed rank window. Nothing collects.
    */
  def targetMix(df: DataFrame, stratumCol: String, idCol: String,
                targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty, "targetMix needs at least one stratum target")
    require(targets.values.forall(_ > 0), s"targets must be positive: $targets")
    val spark = df.sparkSession
    import spark.implicits._
    val t = targets.toSeq.toDF("__stratum", "__t")
    // strata-bounded; materialized once — it feeds BOTH the missing-
    // strata guard and the binding-stratum computation (the guard would
    // otherwise re-run the corpus-scale stratum count)
    val counts = df.groupBy(col(stratumCol).as("__stratum"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)
    // A targeted stratum with ZERO corpus rows makes the requested
    // distribution unsatisfiable (s = min n_l/t_l = 0 → empty result);
    // silently dropping it from the binding min (the pre-round-12
    // behavior) would instead VIOLATE the distribution. Fail fast — the
    // collect is bounded by |targets|, a mixing parameter.
    val observed = counts.join(broadcast(t), Seq("__stratum"), "left_semi")
      .select(col("__stratum").cast("string")).as[String].collect().toSet
    val missing = targets.keySet -- observed
    require(missing.isEmpty,
      s"targetMix: targeted strata absent from the corpus: " +
        s"${missing.toSeq.sorted.mkString(", ")} — a zero-count targeted " +
        "stratum cannot meet the requested distribution")
    val scaled = counts.join(broadcast(t), Seq("__stratum"))
    val s = scaled.agg(min(col("__n").cast("double") / col("__t")).as("__s"))
    val keeps = scaled.join(broadcast(s))
      .select(col("__stratum"), floor(col("__s") * col("__t")).cast("long").as("__keep"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(broadcast(keeps), col(stratumCol) === col("__stratum"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= col("__keep"))
      .drop("__stratum", "__t", "__keep", "__rn")
  }

  def perSourceCap(df: DataFrame, sourceCol: String, idCol: String,
                   cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Skew-safe [[perSourceCap]] — the r6/r7-reviewed mega-domain path,
    * EXACT by construction (not a probabilistic pre-filter): sources
    * whose row count exceeds `megaFactor × cap` run a two-level salted
    * top-k — top-`cap` within each of `saltBuckets` deterministic salt
    * buckets (partition size n_source / saltBuckets), then top-`cap`
    * over the ≤ saltBuckets × cap survivors. The overall top-`cap` by
    * (md5 priority, id) is a subset of the per-bucket top-`cap` union,
    * so the result is row-identical to the plain window (pinned by
    * `MixingScaleSpec`); normal sources take the single-window path
    * untouched. Costs one extra count aggregation over (source) — cheap
    * next to the window shuffle it de-skews.
    */
  def perSourceCapSkewed(df: DataFrame, sourceCol: String, idCol: String,
                         cap: Int, saltBuckets: Int = 32,
                         megaFactor: Long = 100L): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    require(saltBuckets >= 2, s"saltBuckets must be >= 2: $saltBuckets")
    val mega = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      .where(col("__n") > lit(megaFactor) * lit(cap.toLong))
      .select(col(sourceCol), lit(true).as("__mega"))
    val flagged = df.join(broadcast(mega), Seq(sourceCol), "left")
    val normal = perSourceCap(flagged.where(col("__mega").isNull).drop("__mega"),
      sourceCol, idCol, cap)
    // level 1: bounded partitions via a deterministic id salt
    val wSalt = Window.partitionBy(col(sourceCol), col("__salt"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val survivors = flagged.where(col("__mega").isNotNull).drop("__mega")
      .withColumn("__salt", pmod(hash(col(idCol)), lit(saltBuckets)))
      .withColumn("__rn", row_number().over(wSalt))
      .where(col("__rn") <= cap)
      .drop("__salt", "__rn")
    // level 2: the survivors are ≤ saltBuckets × cap per source — tiny
    normal.unionByName(perSourceCap(survivors, sourceCol, idCol, cap))
  }

  /** Above this many strata, [[temperatureResample]] stops collecting
    * the per-stratum counts to the driver and compiling thresholds into
    * a `when`-chain — unbounded driver state plus an expression tree the
    * planner chokes on when strata are domains (millions), not languages
    * (dozens) — and broadcast-joins a distributed threshold table
    * instead (the Clustering.AssignLiteralMaxElems gate precedent).
    */
  private[graft] val ThresholdWhenChainMaxStrata = 1000L

  /** Temperature resampling over a stratum column (typically language):
    * sampling weight ∝ count^alpha (alpha in (0,1] flattens the
    * distribution — the multilingual rebalancing rule from public
    * training recipes), scaled so the expected kept total is
    * `targetTotal`. Per-stratum keep fraction =
    * min(1, targetTotal · (w_l / Σw) / n_l), applied with the
    * deterministic per-doc md5 uniform.
    *
    * Two stratum-cardinality regimes, same math:
    *  - ≤ [[ThresholdWhenChainMaxStrata]] strata (languages): counts are
    *    collected (bounded driver state — one row per stratum), weights
    *    summed in a SORTED left fold, thresholds rounded to 6 decimals
    *    and compiled into a `when`-chain — the oracle mirrors the
    *    identical fold order (`list_reduce(list(w ORDER BY lang))`) and
    *    rounding, so both engines draw the same sample, bit for bit.
    *  - above it (domains, millions of strata): counts, weights, Σw and
    *    thresholds all stay DISTRIBUTED (`round(..., 6)` is the same
    *    HALF_UP as the driver's BigDecimal), and the per-stratum
    *    threshold table broadcast-joins onto the corpus — tens of MB at
    *    10⁶ strata, the autoBroadcast size class; no driver state ∝
    *    cardinality, no planner-choking expression tree. Σw is a plain
    *    distributed sum here: its partial-order nondeterminism is a
    *    last-ulp effect absorbed by the 6-decimal threshold rounding in
    *    all but adversarially-constructed weights, and at this
    *    cardinality no engine could reproduce a sorted sequential fold
    *    without a single-task bottleneck anyway (the gate spec pins
    *    value-equality of the two paths on boundary-free data).
    */
  def temperatureResample(df: DataFrame, stratumCol: String, idCol: String,
                          targetTotal: Long, alpha: Double = 0.5,
                          maxWhenChainStrata: Long = ThresholdWhenChainMaxStrata): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]: $alpha")
    require(targetTotal >= 1, s"targetTotal must be >= 1: $targetTotal")
    // ONE stratum aggregate serves the cardinality gate AND the chosen
    // branch (r8 verdict: the gate probe used to run the full corpus
    // groupBy, then the branch re-executed it — one wasted scan+shuffle
    // per call at any scale; persisting also pins gate and thresholds to
    // the SAME aggregate on a non-deterministic input). The cache is
    // strata-sized (one row per stratum) and released before returning:
    // the small path needs nothing after collect(), the distributed path
    // checkpoints its (strata-sized) threshold table off the cache.
    val countsDf = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n")).persist()
    try {
      val nStrata = countsDf.count()
      require(nStrata > 0, "temperatureResample needs a non-empty frame")
      val u = mdUniform(idCol)
      if (nStrata <= maxWhenChainStrata) {
        val counts = countsDf
          .collect().map(r => (r.get(0).toString, r.getLong(1))).sortBy(_._1)
        // sqrt for the canonical alpha=0.5 (correctly-rounded IEEE in every
        // engine); Math.pow otherwise (matches SQL POW to the ulp in
        // practice; thresholds are rounded below, which absorbs it)
        def weight(n: Long): Double =
          if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
        val wSum = counts.foldLeft(0.0d)((acc, c) => acc + weight(c._2))
        val thresholds = counts.map { case (l, n) =>
          val keep = math.min(1.0d, targetTotal.toDouble * (weight(n) / wSum) / n.toDouble)
          l -> BigDecimal(keep).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        val thr = thresholds.foldLeft(lit(Double.NaN)) { case (acc, (l, t)) =>
          when(col(stratumCol) === l, lit(t)).otherwise(acc)
        }
        df.where(u < thr)
      } else {
        val wCol =
          if (alpha == 0.5) sqrt(col("__n").cast("double"))
          else pow(col("__n").cast("double"), lit(alpha))
        val weighted = countsDf.withColumn("__w", wCol)
        // materialized (strata-sized) so countsDf can be released now and
        // the returned lazy frame doesn't re-run the corpus aggregate
        val thrTable = weighted
          .join(broadcast(weighted.agg(sum(col("__w")).as("__wsum"))))
          .withColumn("__thr", round(
            least(lit(1.0d),
              lit(targetTotal.toDouble) * (col("__w") / col("__wsum"))
                / col("__n").cast("double")), 6))
          .select(col(stratumCol), col("__thr"))
          .localCheckpoint(true)
        df.join(broadcast(thrTable), Seq(stratumCol))
          .where(u < col("__thr"))
          .drop("__thr")
          .select(df.columns.map(col).toIndexedSeq: _*)
      }
    } finally countsDf.unpersist(false)
  }

  // ---------------------------------------------------------------- //
  // K12 STREAMING admission — gate a live ingest on running totals    //
  // ---------------------------------------------------------------- //

  /** Admit ONE arriving batch under a per-source document cap and a
    * global token budget, against PERSISTED running totals — the
    * streaming twin of the K12 mixing policies: where the batch
    * operators choose the best subset of a corpus they can see whole
    * (md5-lottery ranks), a live gate must decide in ARRIVAL order and
    * can never retract an admitted doc. The admission rule is therefore
    * prefix-based and batch-boundary-invariant by construction:
    *
    *   - stage A (source cap): docs ranked within their source by id;
    *     admitted while prior-batches' stage-A count + rank ≤ cap;
    *   - stage B (token budget): over stage-A survivors, in global id
    *     order, admitted while the running token sum (including every
    *     PRIOR stage-A survivor's tokens — the budget line does not
    *     reopen when a later doc is rejected) ≤ budget.
    *
    * With id-monotone batches (the standard ingest-lineage rule) the
    * admitted set is IDENTICAL to running the same two windows over the
    * union of all batches — the ▶ contract query hash-checks exactly
    * that equivalence.
    *
    * State is the novelty-index shape (state-is-the-index, no sidecar):
    * one `totals/__batch=<id>` row per (batch, source) holding the
    * batch's stage-A survivor count and token mass; priors are the sum
    * over `__batch < batchId` (partition-pruned), so an at-least-once
    * replay sees the identical prior and rewrites exactly itself via
    * dynamic overwrite. The per-batch global cumsum runs on the
    * micro-batch frame — batch-bounded by the trigger, the documented
    * benign window class (the corpus-scale operators never do this).
    */
  def mixGateBatch(spark: org.apache.spark.sql.SparkSession, statePath: String,
                   batch: DataFrame, textCol: String, idCol: String,
                   sourceCol: String, batchId: Long, tokenBudget: Long,
                   sourceCap: Long, admittedDir: String): Unit = {
    val admitted = mixGateAdmit(spark, statePath, batch, textCol, idCol,
      sourceCol, batchId, tokenBudget, sourceCap)
    // the corpus write resolves the CURRENT generation like every other
    // corpus writer (ingestBatch/curateBatch): a raw-root write after a
    // corpusCompact would land admissions in the superseded layout —
    // invisible to admitted() and deleted by the next compact/vacuum
    graft.ops.Generations.writeBatch(admitted,
      graft.streaming.Ingest.corpusDataDir(spark, admittedDir), batchId)
  }

  /** The admission CORE of [[mixGateBatch]]: updates the persisted
    * running totals for `batchId` and RETURNS the admitted rows
    * (batch columns + `n_tokens`, eagerly checkpointed) instead of
    * writing them — the composition point for
    * [[graft.streaming.Ingest.curateBatch]]'s stage 0, where admission
    * feeds the quality gate inside the same turn.
    */
  def mixGateAdmit(spark: org.apache.spark.sql.SparkSession, statePath: String,
                   batch: DataFrame, textCol: String, idCol: String,
                   sourceCol: String, batchId: Long, tokenBudget: Long,
                   sourceCap: Long): DataFrame = {
    require(batchId >= 0L, s"batchId must be >= 0: $batchId")
    require(tokenBudget >= 0L, s"tokenBudget must be >= 0: $tokenBudget")
    require(sourceCap >= 1L, s"sourceCap must be >= 1: $sourceCap")
    val totalsDir = s"$statePath/totals"
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasState =
      graft.ops.Generations.batchIds(fs, new org.apache.hadoop.fs.Path(totalsDir)).nonEmpty
    val b = batch
      .withColumn("__nt",
        size(graft.functions.TextFunctions.tokens(col(textCol))).cast("long"))
      .persist()
    b.count() // feeds stage A, stage B, and the state write
    try {
      val prior =
        if (!hasState)
          spark.emptyDataFrame
            .select(lit("").as(sourceCol), lit(0L).as("__pn"), lit(0L).as("__pt"))
            .where(lit(false))
        else
          spark.read.parquet(totalsDir).where(col("__batch") < batchId)
            .groupBy(col(sourceCol))
            .agg(sum(col("n_surv")).as("__pn"), sum(col("t_surv")).as("__pt"))
            .localCheckpoint(true)
      val priorTokens =
        if (!hasState) 0L
        else {
          val r = prior.agg(sum(col("__pt"))).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
      val wSrc = Window.partitionBy(col(sourceCol)).orderBy(col(idCol))
      // source-count state is source-keyed and bounded (one row per
      // source per batch) — always broadcastable on the gate side.
      // The lookup is NULL-SAFE (<=>): the state write's groupBy folds
      // NULL sources into one row, and a null-unsafe equi-join would
      // never match it back — resetting that source's cap every batch
      // and breaking batch-boundary invariance (r12 advice).
      val stageA = b.withColumn("__rn", row_number().over(wSrc))
        .join(broadcast(prior.withColumnRenamed(sourceCol, "__psrc")),
          col(sourceCol) <=> col("__psrc"), "left")
        .drop("__psrc")
        .where(col("__rn") + coalesce(col("__pn"), lit(0L)) <= sourceCap)
        .persist()
      stageA.count() // feeds the budget scan and the state write
      try {
        val wAll = Window.orderBy(col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val admitted = stageA
          .withColumn("__cum", sum(col("__nt")).over(wAll))
          .where(col("__cum") + lit(priorTokens) <= tokenBudget)
          .drop("__rn", "__pn", "__pt", "__cum")
          .withColumnRenamed("__nt", "n_tokens")
          .localCheckpoint(true) // sever lineage before the caches release
        graft.ops.Generations.writeBatch(stageA.groupBy(col(sourceCol))
            .agg(count(lit(1)).as("n_surv"), sum(col("__nt")).as("t_surv")),
          totalsDir, batchId)
        admitted
      } finally stageA.unpersist(false)
    } finally b.unpersist(false)
  }
}
