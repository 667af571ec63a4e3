package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K8 — distribution-drift monitoring between two corpus slices.
  *
  * The production question behind it: "did this week's crawl change shape
  * vs the corpus we trained the gates on?" The standard answer is the
  * population stability index per source over binned quality signals:
  * PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i), with p the reference slice's bin
  * distribution and q the current slice's. PSI ≈ 0 → stable;
  * > 0.1 drifting; > 0.25 shifted enough to re-tune gates.
  *
  * Scale shape: two map-side-combined groupBys over (group, slice, bin) —
  * the corpus is touched once, everything downstream is
  * O(groups × bins). The bin universe is densified (groups × slices ×
  * bins cross join of the TINY distinct frames) so empty bins carry the
  * 0.5 Laplace pseudo-count instead of dropping out — PSI is undefined at
  * zero probabilities, and silently skipping empty bins UNDERSTATES drift
  * exactly when a bin appears or vanishes, the strongest drift signal
  * there is.
  *
  * Hash-exact discipline: each bin's term is rounded at 8 dp and summed
  * as DECIMAL(28,8) (order-independent — the BM25 pattern), final PSI
  * rounded at 6 dp; the DuckDB oracle applies the identical expression
  * tree.
  */
object Drift {

  /** PSI per `groupCol` between the `isCur = false` (reference) and
    * `isCur = true` (current) slices of `df`, over `binCol` ∈ [0, nBins).
    *
    * `binCol` is any integer binning expression (see [[lengthBin]]);
    * values outside [0, nBins) would silently escape the densified grid,
    * so they are clamped into the edge bins defensively.
    */
  def psiDrift(df: DataFrame, groupCol: String, binCol: Column, isCur: Column,
               nBins: Int = 10): DataFrame = {
    val base = df.withColumn("__cur", isCur.cast("boolean"))
    psiFromCounts(
      binCounts(base.where(!col("__cur")), groupCol, binCol, nBins),
      binCounts(base.where(col("__cur")), groupCol, binCol, nBins),
      nBins, groupCol)
  }

  /** The (g, b, c) bin-count summary of one slice — the ONLY state the
    * drift monitor ever persists or ships: O(groups × bins) regardless of
    * corpus size, additive across batches (sum the c's), and computed in
    * one map-side-combined groupBy.
    */
  def binCounts(df: DataFrame, groupCol: String, binCol: Column,
                nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"binCounts needs at least 2 bins, got $nBins")
    df.select(col(groupCol).as("g"),
        // clamp into [0, nBins); a NULL signal (e.g. null text) lands in
        // bin 0 instead of silently escaping the densified grid. The
        // NULL default must be applied BEFORE the clamp (r13 advice):
        // Spark's least/greatest SKIP null args, so least(null, n-1)
        // would resolve to n-1 and a null signal would land in the TOP
        // bin — the outer coalesce alone was dead code. The oracle SQL
        // mirrors the inner COALESCE so both engines pin NULL to bin 0.
        coalesce(greatest(least(coalesce(binCol.cast("int"), lit(0)),
          lit(nBins - 1)), lit(0)), lit(0)).as("b"))
      .groupBy("g", "b").agg(count(lit(1)).as("c"))
  }

  /** PSI from two bin-count summaries (reference p vs current q). Shared
    * by the one-shot [[psiDrift]] and the persisted/streaming monitor, so
    * the streamed PSI is definitionally the one-shot PSI of the
    * accumulated counts — the batch-boundary-invariance law the ▶
    * contract query pins.
    */
  private[graft] def psiFromCounts(refCounts: DataFrame, curCounts: DataFrame,
                                   nBins: Int, groupOut: String): DataFrame = {
    val spark = refCounts.sparkSession
    val counts = refCounts.withColumn("cur", lit(false))
      .unionByName(curCounts.withColumn("cur", lit(true)))
    val totals = counts.groupBy("g", "cur").agg(sum(col("c")).as("tot"))
    // dense (group × slice × bin) grid — groups is the only data-derived
    // side and it is output-sized (distinct of the group key), so the
    // cross joins are broadcast-trivial
    val grid = counts.select(col("g")).distinct()
      .crossJoin(spark.range(nBins).select(col("id").cast("int").as("b")))
      .crossJoin(spark.range(2).select((col("id") === 1L).as("cur")))
    val probs = grid
      .join(counts, Seq("g", "cur", "b"), "left")
      .join(totals, Seq("g", "cur"), "left")
      .na.fill(0L, Seq("c", "tot"))
      // Laplace 0.5 pseudo-count per bin: p > 0 always, and an entirely
      // missing slice degrades to the uniform distribution
      .withColumn("p", (col("c") + lit(0.5d)) / (col("tot") + lit(nBins * 0.5d)))
    val ref = probs.where(!col("cur")).select(col("g"), col("b"), col("p"))
    val cur = probs.where(col("cur")).select(col("g"), col("b"), col("p").as("q"))
    ref.join(cur, Seq("g", "b"))
      .withColumn("__term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 8)
          .cast("decimal(28,8)"))
      .groupBy(col("g").as(groupOut))
      .agg(round(sum(col("__term")).cast("double"), 6).as("psi"))
  }

  // ---- persisted drift monitor (the streaming twin's state) ----

  private val RefBase = "ref"
  private val CurBase = "cur"
  private val CompactWatermarkFile = "_compact_watermark"
  private val FoldedRetFile = "_folded_ret"

  private def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The CURRENT accumulator directory — generation-resolved like `ref`
    * (round 14): plain `$path/cur` until a [[driftCompact]] commits a
    * folded generation.
    */
  private def curDir(spark: org.apache.spark.sql.SparkSession, path: String): String =
    graft.ops.Generations.currentDir(fsOf(spark, path),
      new org.apache.hadoop.fs.Path(path), CurBase).toString

  /** Highest `__batch` id [[driftCompact]] has folded into the current
    * generation's `__batch=0` — None if never compacted. Lives inside
    * the generation dir, so it rides the same crash-atomic swap.
    */
  private def compactWatermark(spark: org.apache.spark.sql.SparkSession,
                               path: String): Option[Long] =
    graft.ops.StateFiles.read(fsOf(spark, path), new org.apache.hadoop.fs.Path(
      curDir(spark, path), CompactWatermarkFile))(_.toLong)

  /** Retraction ids [[driftCompact]] already netted into the folded
    * counts — excluded at read until the (post-commit) tombstone clear
    * lands, closing the double-apply crash window.
    */
  private def foldedRetIds(spark: org.apache.spark.sql.SparkSession,
                           path: String): Set[Long] =
    graft.ops.StateFiles.read(fsOf(spark, path), new org.apache.hadoop.fs.Path(
      curDir(spark, path), FoldedRetFile))(_.split(",").filter(_.nonEmpty).map(_.toLong).toSet)
      .getOrElse(Set.empty)

  /** The CURRENT reference directory — generation-resolved (round 14):
    * plain `$path/ref` until a [[retune]] commits a re-pinned
    * generation, then the committed `ref_gen=N`. Pre-retune states read
    * unchanged (generation 0 is the plain layout).
    */
  private def refDir(spark: org.apache.spark.sql.SparkSession, path: String): String =
    graft.ops.Generations.currentDir(fsOf(spark, path),
      new org.apache.hadoop.fs.Path(path), RefBase).toString

  private[graft] def hasAccumulated(spark: org.apache.spark.sql.SparkSession,
                                    path: String): Boolean =
    graft.ops.Generations.batchIds(fsOf(spark, path),
      new org.apache.hadoop.fs.Path(curDir(spark, path))).nonEmpty

  /** Pin the reference distribution: the bin counts of the slice the
    * gates were tuned on. Overwrite-idempotent; a FRESH pin — any
    * generation state from a previous lineage's retunes is reset so the
    * plain write is what readers resolve.
    */
  def referenceWrite(spark: org.apache.spark.sql.SparkSession, path: String,
                     df: DataFrame, groupCol: String, binCol: Column,
                     nBins: Int = 10): Unit = {
    graft.ops.Generations.reset(fsOf(spark, path),
      new org.apache.hadoop.fs.Path(path), RefBase)
    binCounts(df, groupCol, binCol, nBins)
      .write.mode("overwrite").parquet(s"$path/$RefBase")
  }

  /** Fold one batch's bin counts into the current-side accumulator.
    * Batch-id-partitioned dynamic overwrite — an at-least-once replay of
    * the same batch rewrites its own partition instead of double-counting
    * (the corpus-append sidecar discipline).
    */
  def accumulate(spark: org.apache.spark.sql.SparkSession, path: String,
                 batch: DataFrame, groupCol: String, binCol: Column,
                 nBins: Int, batchId: Long): Unit = {
    // retired-lineage guard (the pairsCompact rule): a replay of a batch
    // [[driftCompact]] already folded would dynamic-overwrite its id
    // back in BESIDE the folded mass and double-count it
    val wm = compactWatermark(spark, path)
    require(wm.forall(batchId > _),
      s"batchId $batchId is at or below the drift-state compaction " +
        s"watermark ${wm.get} — batches folded by driftCompact cannot be " +
        "replayed (drop the accumulating stream's checkpoint before compacting)")
    graft.ops.Generations.writeBatch(binCounts(batch, groupCol, binCol, nBins),
      curDir(spark, path), batchId)
  }

  private def retDir(path: String) = s"$path/ret"

  /** RETRACT removed docs from the monitored current distribution — the
    * negated-count-batch pattern the LM/NB models use: bin counts of the
    * removed docs written NEGATED under a retraction-id partition, summed
    * away at read. Replay-idempotent (dynamic overwrite of the same
    * retraction id), order/batching-insensitive (sums commute), and
    * O(removed batch) — the accumulated history is never rewritten.
    */
  def retract(spark: org.apache.spark.sql.SparkSession, path: String,
              removedDocs: DataFrame, groupCol: String, binCol: Column,
              nBins: Int, retractionId: Long): Unit = {
    // the accumulate-side watermark guard, mirrored (r14 advice): a new
    // retraction REUSING an id driftCompact already folded would land in
    // ret/ but be excluded by the folded-id filter in liveCounts — a
    // silent no-op delete. Refuse loudly; folded ids are retired forever.
    val folded = foldedRetIds(spark, path)
    require(!folded.contains(retractionId),
      s"retractionId $retractionId was already folded by driftCompact at " +
        s"$path — folded retraction ids are retired; use a fresh id")
    graft.ops.Generations.writeBatch(
      binCounts(removedDocs, groupCol, binCol, nBins).withColumn("c", -col("c")),
      retDir(path), retractionId)
  }

  /** The drift TIME SERIES: one PSI row per (accumulated batch, group) —
    * each batch scored ALONE against the pinned reference, giving the
    * monitor its time axis ("which crawl drifted", not just "did the
    * total drift"). Reads only the persisted count sidecars; the batch
    * list is stream-batch-bounded metadata (collected, like every other
    * bounded driver list — SCALING.md boundedness inventory). Scores the
    * INTAKE as it arrived: retractions change the live state
    * ([[psiAgainstReference]]), not history.
    */
  def psiTrend(spark: org.apache.spark.sql.SparkSession, path: String,
               nBins: Int = 10, groupOut: String = "source",
               batchOut: String = "batch"): DataFrame = {
    val ref = spark.read.parquet(refDir(spark, path)).select("g", "b", "c")
    val cur = spark.read.parquet(curDir(spark, path))
      .select(col("__batch").cast("long").as("__batch"), col("g"), col("b"), col("c"))
    require(!cur.isEmpty,
      s"psiTrend at $path: nothing accumulated yet — no batches to score")
    // ONE plan for the whole time series (round 14; the r13 shape built
    // one psiFromCounts plan PER batch in a driver loop and unioned them
    // — O(batches) analysis/planning time at thousands of micro-batches,
    // the one flagged degrade-without-maintenance shape). `__batch` is
    // carried through the grouped grid instead: the dense grid is
    // (batches × groups × bins) with the reference probabilities shared
    // across batches — exactly the SQL oracle's own CTE shape, so the
    // hash is unchanged. Data volume stays O(groups × bins × batches)
    // sidecar counts; plan size is now O(1) in the batch count.
    val bins = spark.range(nBins).select(col("id").cast("int").as("b"))
    val refAgg = ref.groupBy("g", "b").agg(sum(col("c")).as("c"))
    val curAgg = cur.groupBy("__batch", "g", "b").agg(sum(col("c")).as("c"))
    // group universe: every g seen in the reference OR any batch (the
    // oracle's `gs` CTE); both sides are output-sized distincts
    val gAll = refAgg.select("g").union(curAgg.select("g")).distinct()
    val refProbs = gAll.crossJoin(bins)
      .join(refAgg, Seq("g", "b"), "left")
      .join(refAgg.groupBy("g").agg(sum(col("c")).as("tot")), Seq("g"), "left")
      .na.fill(0L, Seq("c", "tot"))
      .withColumn("p", (col("c") + lit(0.5d)) / (col("tot") + lit(nBins * 0.5d)))
      .select(col("g"), col("b"), col("p"))
    val curProbs = curAgg.select("__batch").distinct()
      .crossJoin(gAll).crossJoin(bins)
      .join(curAgg, Seq("__batch", "g", "b"), "left")
      .join(curAgg.groupBy("__batch", "g").agg(sum(col("c")).as("tot")),
        Seq("__batch", "g"), "left")
      .na.fill(0L, Seq("c", "tot"))
      .withColumn("q", (col("c") + lit(0.5d)) / (col("tot") + lit(nBins * 0.5d)))
      .select(col("__batch"), col("g"), col("b"), col("q"))
    curProbs.join(refProbs, Seq("g", "b"))
      .withColumn("__term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 8)
          .cast("decimal(28,8)"))
      .groupBy(col("__batch").as(batchOut), col("g").as(groupOut))
      .agg(round(sum(col("__term")).cast("double"), 6).as("psi"))
      .select(col(batchOut), col(groupOut), col("psi"))
  }

  /** PSI of everything accumulated so far (minus retractions) vs the
    * pinned reference — O(groups × bins × batches) read, never a corpus
    * rescan.
    */
  def psiAgainstReference(spark: org.apache.spark.sql.SparkSession, path: String,
                          nBins: Int = 10,
                          groupOut: String = "source"): DataFrame = {
    val ref = spark.read.parquet(refDir(spark, path)).select("g", "b", "c")
    psiFromCounts(ref, liveCounts(spark, path), nBins, groupOut)
  }

  /** Character-length bin: bin i covers [i·width, (i+1)·width), last bin
    * open-ended. The simplest quality signal with real drift power —
    * boilerplate floods and truncation bugs both move it first.
    */
  def lengthBin(textCol: Column, width: Int = 200): Column =
    floor(length(textCol) / lit(width)).cast("int")

  /** Bin edges at the REFERENCE's exact quantiles — the production PSI
    * binning: equal reference mass per bin, so drift sensitivity is
    * uniform across the distribution instead of concentrated wherever a
    * fixed width happens to resolve. nBins−1 exact percentiles, rounded
    * at 6 dp (the e5-pinned engine-portability boundary for percentile
    * interpolation) and collected once — parameter-bounded driver state,
    * like the stratum thresholds.
    */
  def quantileBinEdges(ref: DataFrame, valueCol: Column, nBins: Int = 10): Seq[Double] = {
    require(nBins >= 2, s"quantileBinEdges needs at least 2 bins, got $nBins")
    val fr = (1 until nBins).map(i => i.toDouble / nBins).mkString(", ")
    val row = ref.select(valueCol.cast("double").as("__v"))
      .selectExpr(s"transform(percentile(__v, array($fr)), x -> round(x, 6)) AS e")
      .head()
    require(!row.isNullAt(0), "quantileBinEdges over an empty reference slice")
    row.getSeq[Double](0)
  }

  /** [[quantileBinEdges]] via `percentile_approx` (GK sketch, bounded
    * memory) — the 100 TB edge-pin path. Exact `percentile` is an
    * ObjectHashAggregate that BUFFERS the whole reference slice; the
    * sketch holds O(accuracy) state per partition instead. The trade is
    * declared: approx edges are not the e5-pinned cross-engine exact
    * form, so a state pinned this way is a DIFFERENT DriftTarget
    * identity (recorded in the edges sidecar and refused on mismatch by
    * the same no-re-pin rule). Drift semantics are unaffected — any
    * fixed monotone edge set is a valid binning; exactness only matters
    * for oracle reproduction.
    */
  def approxQuantileBinEdges(ref: DataFrame, valueCol: Column, nBins: Int = 10,
                             accuracy: Int = 10000): Seq[Double] = {
    require(nBins >= 2, s"approxQuantileBinEdges needs at least 2 bins, got $nBins")
    val fr = (1 until nBins).map(i => i.toDouble / nBins)
    val row = ref.select(valueCol.cast("double").as("__v"))
      .agg(percentile_approx(col("__v"),
        typedLit(fr), lit(accuracy)).as("e"))
      .selectExpr("transform(e, x -> round(x, 6)) AS e")
      .head()
    require(!row.isNullAt(0), "approxQuantileBinEdges over an empty reference slice")
    row.getSeq[Double](0)
  }

  /** Rows above which [[quantileReferenceWrite]] refuses the EXACT edge
    * derivation: exact `percentile` buffers every value of the slice in
    * one aggregation buffer (~128 MB of doubles at this bound — the top
    * of comfortable), so an unbounded reference slice is a driver/executor
    * memory cliff on the pin path. Larger slices pin with
    * `approxEdges = true` (bounded GK sketch) or pass a pre-sampled
    * reference.
    */
  private[graft] val ExactEdgesMaxRows = 16777216L

  /** The bin for a value against [[quantileBinEdges]]: the number of
    * edges strictly below it (NULL values land in bin 0, matching the
    * grid clamp).
    */
  def quantileBin(valueCol: Column, edges: Seq[Double]): Column =
    edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(valueCol.cast("double") > lit(e), 1).otherwise(0)
    }

  // ---- pinned-edge quantile drift state (round 14) ----

  private def edgesDir(path: String) = s"$path/edges"

  /** Pin a QUANTILE-binned drift state: derives the reference slice's
    * [[quantileBinEdges]], persists them beside the reference counts,
    * and pins the reference binned with them. The edges are part of the
    * target's IDENTITY (the r13 verdict's gap): before this, the edges
    * lived only in a driver `Seq[Double]` the caller closed over, and a
    * later session re-deriving them from a changed reference slice
    * would accumulate counts under a silently different binning than
    * the history it sums with. [[quantileAccumulate]] /
    * [[quantileRetract]] always read the PINNED edges, so the binning
    * cannot diverge within a lineage.
    *
    * Refuses to re-pin once counts have accumulated — a new edge set
    * under old counts is exactly the silent mismatch this exists to
    * prevent; a re-tune keeps the pinned binning ([[retune]]), and a
    * genuine re-binning is a NEW state lineage (fresh path).
    */
  def quantileReferenceWrite(spark: org.apache.spark.sql.SparkSession, path: String,
                             ref: DataFrame, groupCol: String, valueCol: Column,
                             nBins: Int = 10,
                             approxEdges: Boolean = false,
                             maxExactRows: Long = ExactEdgesMaxRows): Seq[Double] = {
    require(!hasAccumulated(spark, path),
      s"drift state at $path already has accumulated counts — re-deriving " +
        "quantile edges now would bin new batches differently from the " +
        "history they sum with (the binning is part of the DriftTarget " +
        "identity). Re-pin via retune (keeps the edges), or start a new " +
        "state lineage for a new binning")
    // the exact edge pin is SIZE-GATED (r14 verdict watch item): exact
    // percentile buffers the whole slice in one agg buffer, so a 100 TB
    // reference would OOM the one-time pin. The count probe is one cheap
    // agg, paid once per lineage.
    if (!approxEdges) {
      val n = ref.count()
      require(n <= maxExactRows,
        s"reference slice has $n rows — beyond the exact-percentile edge " +
          s"pin bound ($maxExactRows). Pin with approxEdges = true " +
          "(bounded-memory sketch; a declared different DriftTarget " +
          "identity) or pass a bounded reference sample")
    }
    val edges =
      if (approxEdges) approxQuantileBinEdges(ref, valueCol, nBins)
      else quantileBinEdges(ref, valueCol, nBins)
    import spark.implicits._
    // edge_mode rides in the sidecar: the derivation is part of the
    // lineage's identity, inspectable by any later session
    Seq((edges, nBins, if (approxEdges) "approx" else "exact"))
      .toDF("edges", "n_bins", "edge_mode")
      .coalesce(1).write.mode("overwrite").parquet(edgesDir(path))
    referenceWrite(spark, path, ref, groupCol, quantileBin(valueCol, edges), nBins)
    edges
  }

  /** The pinned (edges, nBins) of a quantile drift state — refuses
    * loudly when the state was never edge-pinned (accumulating against
    * ad-hoc edges is the bug class this API closes).
    */
  def pinnedQuantileState(spark: org.apache.spark.sql.SparkSession,
                          path: String): (Seq[Double], Int) = {
    val p = new org.apache.hadoop.fs.Path(edgesDir(path))
    require(fsOf(spark, path).exists(p),
      s"no pinned quantile edges at $path — pin the state with " +
        "quantileReferenceWrite before accumulating against it")
    val row = spark.read.parquet(edgesDir(path)).select("edges", "n_bins").head()
    (row.getSeq[Double](0), row.getInt(1))
  }

  /** [[accumulate]] binned with the PINNED edges — the only accumulate
    * path a quantile-pinned state should see.
    */
  def quantileAccumulate(spark: org.apache.spark.sql.SparkSession, path: String,
                         batch: DataFrame, groupCol: String, valueCol: Column,
                         batchId: Long): Unit = {
    val (edges, nBins) = pinnedQuantileState(spark, path)
    accumulate(spark, path, batch, groupCol, quantileBin(valueCol, edges),
      nBins, batchId)
  }

  /** [[retract]] binned with the PINNED edges — retraction must negate
    * the EXACT counts the docs contributed, which only the pinned
    * binning can reproduce.
    */
  def quantileRetract(spark: org.apache.spark.sql.SparkSession, path: String,
                      removedDocs: DataFrame, groupCol: String, valueCol: Column,
                      retractionId: Long): Unit = {
    val (edges, nBins) = pinnedQuantileState(spark, path)
    retract(spark, path, removedDocs, groupCol, quantileBin(valueCol, edges),
      nBins, retractionId)
  }

  /** [[psiAgainstReference]] with nBins taken from the pinned state. */
  def quantilePsiAgainstReference(spark: org.apache.spark.sql.SparkSession,
                                  path: String,
                                  groupOut: String = "source"): DataFrame = {
    val (_, nBins) = pinnedQuantileState(spark, path)
    psiAgainstReference(spark, path, nBins, groupOut)
  }

  /** RE-PIN the reference to the live accumulated distribution — the
    * actionable half of the [[psiAdvisory]] "retune" flag (round 14):
    * when the intake has drifted past the threshold, the gates get
    * retrained on the current corpus and the drift baseline must move
    * with them, or the monitor alarms forever against a reference
    * nobody tunes to anymore.
    *
    * ONE crash-atomic generation swap of `ref/` (the ivfRebuild shape):
    * the new reference = the accumulated counts minus retractions (read
    * from the O(groups × bins × batches) sidecars — the corpus is NEVER
    * rescanned), staged to `ref_gen=N+1`, committed by marker. At every
    * crash point readers resolve a complete reference: old before the
    * marker, new after. The accumulated `cur/` + `ret/` history is
    * deliberately untouched — post-retune PSI is exactly 0 by
    * construction (p = q bin for bin), and the time axis ([[psiTrend]])
    * keeps its history. Pinned quantile edges are KEPT: the binning is
    * the lineage's identity; re-binning is a new state.
    */
  def retune(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    require(hasAccumulated(spark, path),
      s"retune at $path: nothing accumulated — there is no live " +
        "distribution to re-pin the reference to")
    val live = liveCounts(spark, path)
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    graft.ops.Generations.swap(fs, root, RefBase) { staged =>
      live.write.mode("overwrite").parquet(staged.toString)
    }
  }

  /** The live accumulated (g, b, c) counts — cur + retractions summed,
    * zero rows dropped, over-retraction refused loudly. Shared by
    * [[psiAgainstReference]] and [[retune]].
    */
  private def liveCounts(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    val retPath = new org.apache.hadoop.fs.Path(retDir(path))
    val hasRet = fsOf(spark, path).exists(retPath)
    val raw = spark.read.parquet(curDir(spark, path)).select("g", "b", "c")
    // retractions driftCompact already netted into the folded counts are
    // excluded until the tombstone clear lands (the double-apply window)
    val folded = foldedRetIds(spark, path)
    val all = if (hasRet) {
      val retRaw = spark.read.parquet(retDir(path))
      val retKept =
        if (folded.isEmpty) retRaw
        else retRaw.where(!col("__batch").cast("long").isin(folded.toSeq: _*))
      raw.unionByName(retKept.select("g", "b", "c"))
    } else raw
    val cur = all.groupBy("g", "b").agg(sum(col("c")).as("c"))
      .where(col("c") =!= 0L) // fully-retracted bins drop to the grid default
    // a retraction of docs never accumulated would drive counts negative
    // and the Laplace-smoothed probability ≤ 0 (ln undefined) — refuse
    // loudly instead of silently producing NaN PSI. The check reads the
    // O(groups × bins) summary, never the corpus.
    val neg = cur.where(col("c") < 0L).count()
    require(neg == 0L,
      s"drift state at $path has $neg negative bin counts — a retraction " +
        "removed docs that were never accumulated (wrong slice or double retract)")
    cur
  }

  /** COMPACT the drift state (round 14 — the last stateful family to
    * get one): fold every accumulated `__batch` fragment AND every
    * pending retraction into one netted `__batch=0`, clear the
    * retraction dir. A long-lived intake otherwise accrues one `cur/`
    * partition dir per micro-batch forever — tiny data, but the same
    * small-file/listing growth axis every other family bakes away.
    *
    * Crash ordering (the pairsCompact pattern): the folded counts land
    * in the next `cur_gen=N` via the shared [[graft.ops.Generations]]
    * swap, CARRYING two markers inside the generation dir — the folded
    * batch-id watermark (so a replayed pre-compaction [[accumulate]]
    * refuses instead of double-counting beside the folded mass) and the
    * folded retraction-id set (so a crash between the commit and the
    * retraction-dir clear cannot double-apply a retraction: readers
    * skip folded ids until the clear lands). At every instant readers
    * resolve a complete, correctly-netted state.
    *
    * Deliberate trade, documented: compaction COARSENS the time axis —
    * [[psiTrend]] afterwards reports the folded history as one batch 0.
    * Run it when the trend has been read/acted on (the maintenance
    * cadence), like every index compaction's retired-lineage rule.
    */
  def driftCompact(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    require(hasAccumulated(spark, path),
      s"driftCompact at $path: nothing accumulated — nothing to fold")
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    // highest live batch id BEFORE the fold — the new watermark
    val curP = new org.apache.hadoop.fs.Path(curDir(spark, path))
    val topBatch = graft.ops.Generations.batchIds(fs, curP).max
    val wm = math.max(topBatch, compactWatermark(spark, path).getOrElse(0L))
    val retP = new org.apache.hadoop.fs.Path(retDir(path))
    val retIds = graft.ops.Generations.batchIds(fs, retP)
    val live = liveCounts(spark, path) // cur + unfolded ret, netted, guarded
    graft.ops.Generations.swap(fs, root, CurBase) { staged =>
      graft.ops.Generations.writeBatch(live, staged.toString, 0L)
      graft.ops.StateFiles.replace(fs,
        new org.apache.hadoop.fs.Path(staged, CompactWatermarkFile), wm.toString.getBytes("UTF-8"))
      if (retIds.nonEmpty)
        graft.ops.StateFiles.replace(fs,
          new org.apache.hadoop.fs.Path(staged, FoldedRetFile), retIds.mkString(",").getBytes("UTF-8"))
    }
    // tombstones are netted into the committed generation — clear LAST
    // (a crash before this leaves them excluded-by-marker, never
    // double-applied)
    if (fs.exists(retP)) fs.delete(retP, true)
  }

  /** Threshold-gated maintenance for the drift state — the engine's
    * standard reporting shape: COMPACT when the accumulated `__batch`
    * fragments plus pending retraction partitions exceed
    * `maxLiveBatches`, else no-op; returns "compact" | "none". Both
    * probes are FS listings (no Spark job on the no-op path).
    */
  def driftMaintain(spark: org.apache.spark.sql.SparkSession, path: String,
                    maxLiveBatches: Int = 8): String = {
    val fs = fsOf(spark, path)
    def frag(dir: String): Int =
      graft.ops.Generations.batchIds(fs, new org.apache.hadoop.fs.Path(dir)).size
    if (frag(curDir(spark, path)) + frag(retDir(path)) > maxLiveBatches) {
      driftCompact(spark, path); "compact"
    } else "none"
  }

  /** Maintenance advisory: max PSI across groups vs the standard 0.25
    * re-tune threshold — one tiny frame a maintenance turn can inspect
    * (the gate-drift analogue of the IVF drift trigger).
    */
  def psiAdvisory(psi: DataFrame, threshold: Double = 0.25): DataFrame =
    psi.agg(max(col("psi")).as("max_psi"),
        sum(when(col("psi") > threshold, 1L).otherwise(0L)).as("groups_over"),
        lit(threshold).as("threshold"))
      .withColumn("retune", col("groups_over") > 0L)
}
