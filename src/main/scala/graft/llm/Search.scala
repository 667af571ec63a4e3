package graft.llm

import graft.functions.TextFunctions._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index — the index family behind
  * [[TextAnalysis.bm25]] (r10 verdict #1: `bm25` re-tokenizes the corpus
  * and rebuilds postings + doc-length stats on EVERY call; search is a
  * query-many workload, so at 100 TB each query paid a full corpus scan
  * that an inverted index reduces to |postings(query terms)|).
  *
  * Layout at `path` (the LSH/simhash/IVF lifecycle, applied to text):
  *   - `postings/tb=<bucket>/__batch=<b>/` — one row per (term, doc):
  *     (term, doc, tf, dl). `tb = pmod(xxhash64(term), nBuckets)` is the
  *     term-hash partition key: a query's terms resolve to a STATIC
  *     `isin` set of buckets, so the scan is partition-pruned to
  *     ~|terms|/nBuckets of the postings before the term predicate even
  *     runs (the IVF `cell` trick, for text). `dl` (the doc's token
  *     count) is DENORMALIZED onto every posting row — queries never do
  *     a doc-keyed join against a corpus-sized length table; the
  *     candidate rows already carry it.
  *   - `stats/__batch=<b>/` — one row per batch: (n_docs, n_docs_dl,
  *     sum_dl). N and avgdl are SUMS over these nBatches-bounded rows,
  *     so O(batch) appends never rescan the corpus to refresh the global
  *     statistics: avgdl = Σ sum_dl / Σ n_docs_dl is exact long
  *     arithmetic, equal to AVG over the doc-length table by
  *     construction. Generation-resolved like the postings (`stats/`
  *     until the first compaction, `stats_gen=N/` after).
  *   - `meta/` — one row pinning `n_buckets` (the simhash `meta/`
  *     precedent: the bucketing that built the index is the bucketing
  *     every later read and append must use).
  *
  * Document frequency is deliberately NOT materialized: df(term) =
  * COUNT of postings rows for that term, computable exactly from the
  * pruned hit set at query time (all of a term's rows live in its one
  * bucket). An explicit df table would be one more sidecar to keep
  * consistent across appends for zero saved work.
  *
  * Append lifecycle: [[bm25AppendBatch]] lands one batch's postings
  * under its own `__batch` partitions (dynamic overwrite — the
  * Ingest.scala replay-idempotence rule) and writes the batch's stats
  * row LAST as the commit point; [[bm25Indexed]] refuses loudly when
  * postings hold a batch the stats don't (the crash window between the
  * two writes), and a replayed append heals it — the
  * [[Quantization.ivfPqAppendCodes]] contract. Because a doc lives
  * wholly in one batch (dl is per-doc) and df/N/avgdl are derived at
  * query time across ALL live batches, an incrementally-built index
  * scores BIT-IDENTICALLY to a one-shot build — pinned by the
  * `k7_bm25_incremental` contract query hash-matching the one-shot
  * oracle.
  *
  * Compaction: [[bm25Compact]] folds the accumulated `__batch` fragments
  * back into one `__batch=0` per bucket, and the stats into one row,
  * each through the shared crash-atomic [[graft.ops.Generations]] swap
  * (readers always resolve complete postings and stats directories; the
  * superseded generations survive until the next compact /
  * [[bm25Vacuum]]). Same retired-lineage rule as LSH/IVF
  * compaction: batch provenance collapses, so compact only after the
  * appending stream's checkpoint is dropped.
  *
  * Scale math at 100 TB: postings ≈ corpus token count rows, written
  * once and appended O(batch); a query reads |postings(query terms)|
  * through bucket pruning + term pushdown — for a 3-term query on a
  * 10⁹-doc corpus that is millions of rows, not the corpus. The
  * re-tokenizing [[TextAnalysis.bm25]] stays as the one-shot batch form
  * (corpus analytics, ad-hoc sweeps); this is the query-many form.
  */
object Search {

  /** Term-hash bucket count. 64 keeps per-bucket postings ≈ 1.6% of the
    * corpus token count — at 100 TB text (~10¹³ tokens) a bucket is
    * ~10¹¹ rows of (term, doc, tf, dl), split across that bucket's many
    * parquet files; more buckets sharpen pruning for short queries at
    * the cost of smaller files per batch (the append-side small-file
    * pressure [[bm25Compact]] exists to absorb).
    */
  val DefaultTermBuckets = 64

  private val PostingsBase = "postings"
  private val StatsBase = "stats"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The CURRENT postings directory — generation-resolved, the
    * [[Similarity.ivfVectorsDir]] twin: `postings/` until the first
    * compaction, the highest committed `postings_gen=N/` after.
    */
  private[graft] def postingsDir(spark: SparkSession, path: String): String =
    graft.ops.Generations.currentDir(fsOf(spark, path), new Path(path),
      PostingsBase).toString

  /** The CURRENT stats directory — generation-resolved like the postings. */
  private def statsDir(spark: SparkSession, path: String): String =
    graft.ops.Generations.currentDir(fsOf(spark, path), new Path(path),
      StatsBase).toString

  private def termBucket(nBuckets: Int) =
    pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")

  /** (term, doc, tf, dl, tb) for one document set — the shared
    * tokenize→tf→dl pipeline of build and append; the docs are tokenized
    * exactly once.
    *
    * dl (r19 optimization round, guide §2.4): the document length is
    * `sum(tf) over (partition by doc)` only by construction — the
    * explode emits exactly one row per token occurrence, so that sum IS
    * `size(tokens(text))`, a pure per-row function computable in the
    * projection BEFORE the explode. The old window form cost a second
    * exchange (the tf aggregate hashes on (doc, term), which does not
    * cluster by doc) plus a sort; carrying dl through the one tf
    * aggregate as a grouping column (functionally dependent on doc —
    * group identity is unchanged) removes that whole exchange from
    * every index build and append.
    */
  private def postingsOf(docs: DataFrame, textCol: String, idCol: String,
                         nBuckets: Int): DataFrame =
    docs
      .select(col(idCol).as("doc"),
        tokens(normalizeText(col(textCol))).as("__toks"))
      .select(col("doc"), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col("doc"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
      .select(col("doc"), col("term"), col("tf"), col("dl"))
      .withColumn("tb", termBucket(nBuckets))

  /** One (n_docs, n_docs_dl, sum_dl) stats row for a document set.
    * `n_docs` counts EVERY doc (tokenless ones score against N too —
    * the [[TextAnalysis.bm25]] `df.agg(count)` semantics); `n_docs_dl` /
    * `sum_dl` cover only docs that produced tokens, matching the AVG
    * over the dl table the oracle computes.
    */
  private def statsOf(docs: DataFrame, textCol: String): DataFrame = {
    val n = size(tokens(normalizeText(col(textCol))))
    docs.select(n.as("__n"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("__n") > 0, 1)).as("n_docs_dl"),
        coalesce(sum(when(col("__n") > 0, col("__n").cast("long"))), lit(0L))
          .as("sum_dl"))
  }

  /** Build the index: postings + stats as `__batch=0`, bucketing pinned
    * in `meta/`. Clears any previous generation state at `path` (the
    * `ivfWriteIndex` reset rule — a rebuild must not stay shadowed by a
    * stale committed generation).
    *
    * CONTRACT: `idCol` is unique across `docs` (the same id-uniqueness
    * precondition every index family states — Ingest.ingestBatch's).
    * Since r19's rewrite, dl is grouped per (doc, text) row rather than
    * summed across all rows of a doc id, so a duplicated id with two
    * different texts would emit duplicate (doc, term) postings with
    * conflicting dl instead of one merged per-doc row — dedupe upstream
    * if the source can repeat ids.
    */
  def bm25IndexWrite(docs: DataFrame, textCol: String, idCol: String,
                     path: String, nBuckets: Int = DefaultTermBuckets): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    graft.ops.Generations.reset(fsOf(spark, path), new Path(path), PostingsBase)
    graft.ops.Generations.reset(fsOf(spark, path), new Path(path), StatsBase)
    // layout-aligned write (r19, guide §6): without the repartition the
    // tf aggregate's (doc, dl, term)-keyed tasks each write up to
    // nBuckets `tb=` dirs — shufflePartitions × nBuckets small files per
    // build. One repartition on the layout column lands ~one file per
    // bucket; write parallelism = nBuckets, which is the sizing knob
    // production passes proportional to the corpus anyway.
    graft.ops.Generations.writeBatch(
      postingsOf(docs, textCol, idCol, nBuckets).repartition(col("tb")),
      s"$path/$PostingsBase", 0L, "tb")
    graft.ops.Generations.writeBatch(statsOf(docs, textCol), s"$path/$StatsBase", 0L)
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The pinned bucketing of the index at `path`. */
  private def readMeta(spark: SparkSession, path: String): Int = {
    val metaPath = new Path(s"$path/meta")
    require(fsOf(spark, path).exists(metaPath),
      s"no BM25 index at $path — run bm25IndexWrite first")
    spark.read.parquet(metaPath.toString).head().getInt(0)
  }

  /** The postings' live `__batch` set from partition-directory names —
    * nBuckets-bounded FS listings, no Spark job (the
    * [[Similarity.ivfLiveBatches]] metadata entry point, for text). A
    * pre-batch flat layout refuses.
    */
  private[graft] def liveBatches(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val root = new Path(postingsDir(spark, path))
    require(fs.exists(root), s"no BM25 index at $path — run bm25IndexWrite first")
    graft.ops.Generations.requireBatchLayout(fs, root)
  }

  /** The stats sidecar's `__batch` set — same dir-name listing. */
  private def statsBatches(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val root = new Path(statsDir(spark, path))
    require(fs.exists(root), s"no stats sidecar at $path — run bm25IndexWrite first")
    graft.ops.Generations.batchIds(fs, root)
  }

  /** Append ONE document batch: its postings land under their own
    * `__batch` partitions (dynamic overwrite — a replayed batch rewrites
    * exactly itself), its stats row LAST as the commit point. Cost is
    * O(batch): one tokenize pass over the batch, zero reads of the
    * existing index. The batch's docs must be NEW ids (a doc split
    * across batches would carry two partial dl values); same
    * whole-stream id-uniqueness precondition as [[graft.streaming.Ingest]].
    */
  def bm25AppendBatch(spark: SparkSession, path: String, batch: DataFrame,
                      textCol: String, idCol: String, batchId: Long): Unit = {
    require(batchId > 0, s"batchId must be > 0 (batch 0 is the base build): $batchId")
    val nBuckets = readMeta(spark, path)
    val root = new Path(postingsDir(spark, path))
    val fs = fsOf(spark, path)
    require(fs.exists(root), s"no BM25 index at $path — run bm25IndexWrite first")
    graft.ops.Generations.requireBatchLayout(fs, root)
    graft.ops.Generations.writeBatch(
      postingsOf(batch, textCol, idCol, nBuckets)
        .repartition(col("tb")), // one file per touched bucket per batch (r19)
      root.toString, batchId, "tb")
    graft.ops.Generations.writeBatch(statsOf(batch, textCol), statsDir(spark, path), batchId)
  }

  /** RETRACT documents from the BM25 index without a rewrite — the
    * tombstone contract of the other index families, completed for the
    * one index whose SCORES depend on corpus-global statistics: BM25's
    * idf rides (N, df) and its length normalization rides avgdl, so
    * deleting a doc changes every other doc's score. The correction is
    * still exact and O(removed):
    *
    *   - tombstone ids land under `removed/__ret=<retractionId>` —
    *     query-time hits anti-join them, which yields the SURVIVOR df
    *     per term for free (df is counted from the filtered hits);
    *   - the removed docs' aggregate stats (doc count, tokenized count,
    *     token mass) are written NEGATED under `stats/__batch=
    *     -(retractionId+1)` — the stats sidecar is a sum over batches,
    *     so N and avgdl come out exactly as if the docs never entered.
    *
    * The caller supplies the removed DOCUMENTS (not just ids) — the
    * [[graft.ops.Graph.retractBatch]] evidence rule: the index cannot
    * recover a doc's token mass without a corpus-scale postings scan,
    * but the deleter holds the docs being deleted. Scores after
    * retraction are bit-identical to an index built on the survivors
    * (the contract query shares the survivor-corpus oracle). Writes are
    * ordered tombstones-first, stats-second with a read-side pairing
    * guard: a crash between them refuses loudly and the replay heals
    * (both writes are dynamic-overwrite idempotent). Retract a doc at
    * most ONCE per compaction epoch (a second retraction of the same
    * doc would double-subtract its stats — the same ids-unique class of
    * precondition as the append families), and do NOT re-ingest a
    * retracted id before the compaction that absorbs its tombstone (the
    * re-added doc's postings would be filtered at read and deleted at
    * compaction while its positive stats row survived — N/avgdl would
    * silently drift from the postings); [[bm25Compact]] applies
    * tombstones physically and clears them.
    */
  def bm25Retract(spark: SparkSession, path: String, removedDocs: DataFrame,
                  textCol: String, idCol: String, retractionId: Long): Unit = {
    require(retractionId >= 0L, s"retractionId must be >= 0: $retractionId")
    readMeta(spark, path) // loud no-index refusal
    graft.ops.Tombstones.write(spark, path, removedDocs, idCol, retractionId)
    graft.ops.Generations.writeBatch(statsOf(removedDocs, textCol)
        .select((-col("n_docs")).as("n_docs"), (-col("n_docs_dl")).as("n_docs_dl"),
          (-col("sum_dl")).as("sum_dl")),
      statsDir(spark, path), -(retractionId + 1L))
  }

  /** BM25 scored search THROUGH the index — same scores, same exactness
    * discipline as [[TextAnalysis.bm25]] (Okapi, Lucene non-negative
    * idf, per-term 6dp-decimal sums), but the per-query cost is
    * |postings(query terms)|: the postings scan is partition-pruned to
    * the query terms' buckets (static `isin` on `tb`) with the term
    * equality pushed into the parquet scan, N/avgdl come from the
    * nBatches-row stats sidecar (driver arithmetic on exact long sums —
    * equal to the corpus-scan AVG by construction), and df is counted
    * on the pruned hit set. Returns (doc, n_hit_terms, bm25) for every
    * doc containing at least one query term.
    *
    * Refuses loudly when postings hold a `__batch` the stats sidecar
    * lacks — the crash window of [[bm25AppendBatch]]; replay the append
    * to heal (never a silently-wrong N).
    */
  def bm25Indexed(spark: SparkSession, path: String, query: Seq[String],
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25Indexed needs at least one query term")
    import spark.implicits._
    val qterms = query.distinct
    val nBuckets = readMeta(spark, path)
    val live = liveBatches(spark, path)
    val stBatches = statsBatches(spark, path)
    require(live.forall(stBatches.contains),
      s"postings at $path hold batches $live but stats only $stBatches — " +
        "a bm25AppendBatch crashed between its postings and stats writes; " +
        "replay the append to heal")
    // retraction pairing: every tombstone set must have its negated
    // stats delta (tombstones write first, stats second — a crash
    // between them refuses here and the retraction replay heals)
    val retIds = graft.ops.Tombstones.retIds(spark, path)
    require(retIds.forall(r => stBatches.contains(-(r + 1L))),
      s"retractions $retIds at $path lack stats deltas (have $stBatches) — " +
        "a bm25Retract crashed between its tombstone and stats writes; " +
        "replay the retraction to heal")
    // global statistics from the nBatches-bounded sidecar: exact long
    // sums, so n and avgdl equal the corpus-scan COUNT/AVG bit-for-bit
    val st = spark.read.parquet(statsDir(spark, path))
      .agg(sum(col("n_docs")).as("n"), sum(col("n_docs_dl")).as("nd"),
        sum(col("sum_dl")).as("sd")).head()
    val n = st.getLong(0).toDouble
    val nDl = st.getLong(1)
    require(nDl > 0, s"index at $path holds no tokenized documents")
    val avgdl = st.getLong(2).toDouble / nDl
    // the query terms' bucket values — one local-relation job over
    // |terms| rows, evaluating the SAME hash expression the write used
    val buckets = qterms.toDF("term").select(termBucket(nBuckets).as("tb"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val rawHits = spark.read.parquet(postingsDir(spark, path))
      .where(col("tb").isin(buckets: _*) && col("term").isin(qterms: _*))
      .select(col("term"), col("doc"), col("tf"), col("dl"))
    // tombstoned docs drop from the hits BEFORE df is counted, so the
    // per-term df is the SURVIVOR df with no stored correction needed
    val hits = graft.ops.Tombstones.drop(rawHits, graft.ops.Tombstones.set(spark, path), "doc")
      .persist() // two consumers: df count + the score rows
    hits.count()
    try {
      // df(term) = pruned row count per term: all of a term's postings
      // live in its bucket, across every batch — exact global df
      val dfreq = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // expression tree mirrors TextAnalysis.bm25 / the oracle SQL token
      // for token (double arithmetic is order-sensitive); n and avgdl
      // enter as literals carrying the identical IEEE values
      val idf = log(lit(1.0) +
        (lit(n) - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      val termScore = (idf * (col("tf").cast("double") * lit(k1 + 1))) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1 - b) + (lit(b) * col("dl").cast("double")) / lit(avgdl)))
      hits.join(broadcast(dfreq), Seq("term"))
        .withColumn("__s", round(termScore, 6).cast("decimal(28,6)"))
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_hit_terms"),
          round(sum(col("__s")).cast("double"), 6).as("bm25"))
        .localCheckpoint(true)
    } finally hits.unpersist(false)
  }

  /** Fold the accumulated append fragments back into one `__batch=0`
    * per bucket — the small-files compaction, crash-atomic through the
    * shared [[graft.ops.Generations]] swap (the `ivfCompact` shape: the
    * compacted layout is fully written into the next generation and
    * becomes current the instant its commit marker lands; the
    * superseded generation survives until the next compact as the
    * in-flight-reader grace period). Stats collapse to one batch-0 row
    * of the same sums through their own swap — N/avgdl are invariant,
    * and a crash before the stats commit leaves the uncollapsed stats,
    * whose sums are the same. Compact only retired lineages: batch
    * provenance collapses, so a still-checkpointed appending stream
    * would re-append its replayed batches under their old ids.
    */
  def bm25Compact(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, path)
    val cur = graft.ops.Generations.currentDir(fs, root, PostingsBase)
    // tombstones bake into the folded postings; the negated stats
    // deltas fold into the collapsed stats row below, so the compacted
    // index IS the survivor index
    val removed = graft.ops.Tombstones.set(spark, path)
    val folded = graft.ops.Tombstones.drop(spark.read.parquet(cur.toString), removed, "doc")
    graft.ops.Generations.swap(fs, root, PostingsBase) { staged =>
      graft.ops.Generations.writeBatch(
        folded.select(col("term"), col("doc"), col("tf"), col("dl"), col("tb"))
          .repartition(col("tb")),
        staged.toString, 0L, "tb")
    }
    // clear tombstones BEFORE collapsing stats: after this point they
    // are no-ops (the ids are out of the committed postings), and the
    // pairing guard must not see a tombstone set whose delta row the
    // collapse absorbed (the deltas stay until the very next step)
    if (removed.isDefined) graft.ops.Tombstones.clear(spark, path)
    val stats = statsDir(spark, path)
    graft.ops.Generations.swap(fs, root, StatsBase) { staged =>
      graft.ops.Generations.writeBatch(spark.read.parquet(stats)
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_docs_dl")).as("n_docs_dl"),
            sum(col("sum_dl")).as("sum_dl")),
        staged.toString, 0L)
    }
  }

  /** The [[graft.llm.Similarity.ivfMaintain]] policy shape for the BM25
    * index — fragmentation-only (postings have no geometry to drift):
    * COMPACT when the live `__batch` count exceeds `maxLiveBatches`,
    * else no-op; returns "compact" | "none". Retired-lineage rule
    * applies ([[bm25Compact]]).
    */
  def bm25Maintain(spark: SparkSession, path: String,
                   maxLiveBatches: Int = 8): String =
    // pending tombstones gate too (round 13): every read anti-joins
    // them until the compact bakes them, and baking re-opens their ids
    if (graft.ops.Tombstones.retIds(spark, path).nonEmpty ||
        liveBatches(spark, path).size > maxLiveBatches) {
      bm25Compact(spark, path); "compact"
    } else "none"

  /** Reclaim every superseded postings and stats generation — run when
    * no reader can be older than the last [[bm25Compact]] commit.
    */
  def bm25Vacuum(spark: SparkSession, path: String): Unit =
    Seq(PostingsBase, StatsBase).foreach(
      graft.ops.Generations.vacuum(fsOf(spark, path), new Path(path), _))
}
