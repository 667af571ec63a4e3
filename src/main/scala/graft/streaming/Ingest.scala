package graft.streaming

import graft.llm.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingestion dedup — the production LLM-data intake loop: a
  * document stream (crawl batches) where every micro-batch is
  *   1. near-dedup'd AGAINST the persisted LSH index of everything
  *      admitted so far (the incremental path: no corpus-wide signature
  *      rebuild, ever),
  *   2. near-dedup'd WITHIN itself (a crawl batch carries its own
  *      self-dups),
  *   3. and its survivors appended to the admitted corpus AND the index,
  *      so batch N+1 dedups against batch N's survivors.
  * All three stages run off ONE cached signature pass
  * ([[Dedup.ingestAgainstIndex]]).
  *
  * At 100 TB the per-batch cost is the batch's own signature pass plus
  * equi-joins against the index — proportional to the batch and its
  * collision set, never the corpus.
  *
  * Replay safety (foreachBatch is at-least-once): every write lands under
  * a `__batch=<id>` partition via dynamic overwrite, so a replayed batch
  * rewrites exactly its own partitions. The one subtlety is that on
  * replay the index already CONTAINS the replayed batch's survivors —
  * self-matches (same id) are excluded from the vs-index pairs, and
  * cross-doc matches within the replayed batch resolve to the same
  * survivor set (the pair's greater id loses either intra-batch or
  * vs-index — same outcome). Requires a deterministic-replay source
  * (Kafka offsets, file lists, MemoryStream), like every foreachBatch
  * exactly-once argument.
  */
object Ingest {

  /** Apply one batch of documents: admit the novel ones, append them to
    * the corpus at `admittedDir` and to the LSH index at `indexPath`.
    * Batch-API core of [[foreachBatchIngestDedup]]; idempotent per
    * (batchId, batch content) — see the replay-safety note above.
    *
    * There is deliberately NO last-batch sidecar here: batch ids are only
    * meaningful within one checkpoint lineage (a new stream attached to
    * the same dirs restarts at 0, and a sidecar guard would silently skip
    * its batches). The `__batch=<id>` layout makes replays idempotent on
    * its own; a replay merely recomputes the (identical) result. For the
    * same reason, one (indexPath, admittedDir) pair belongs to ONE stream
    * lineage — id collisions across lineages would cross-overwrite
    * `__batch` partitions.
    *
    * PRECONDITION: `idCol` is unique across the WHOLE stream, not just a
    * batch. Same-id index/hash hits are interpreted as replay artifacts
    * (and ignored), so a source that reuses a doc id in a later batch
    * would slip that redelivery past both dedup guards.
    */
  def ingestBatch(batch: DataFrame, indexPath: String, admittedDir: String,
                  batchId: Long, textCol: String, idCol: String,
                  shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                  threshold: Double = 0.8,
                  maxBucketSize: Int = Dedup.DefaultMaxBucketSize,
                  exactGuard: Boolean = false,
                  scorer: String = "jaccard",
                  containmentThreshold: Double = 0.9): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(admittedDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a dir is only a readable table once a batch actually wrote rows into
    // it — a batch of shingle-less docs writes zero partitions, leaving a
    // dir whose schema parquet cannot infer
    def hasData(dir: String): Boolean =
      graft.ops.Generations.batchIds(fs, new Path(dir)).nonEmpty
    // Optional exact-content stage: a doc with fewer than `shingleN`
    // tokens produces NO shingles and therefore sails through LSH — an
    // exact duplicate of it would be re-admitted every batch forever.
    // The guard keeps a tiny (id, content-hash) table alongside the index
    // and drops exact repeats first: intra-batch via deterministic
    // min-id-wins, cross-batch via an anti-join on the hash. Off by
    // default: it changes admitted-set semantics, and corpora whose docs
    // always shingle get the same protection from jaccard == 1.0 pairs.
    val hashesPath = s"$indexPath/hashes"
    val exactDeduped =
      if (!exactGuard) batch
      else {
        val intra = Dedup.exact(batch, textCol, idCol)
        if (!hasData(hashesPath)) intra
        else {
          val seenRaw = spark.read.parquet(hashesPath)
          // Loud upgrade guard (r8 advice): a pre-r8 hashes dir wrote ids
          // in their NATIVE type; spark.read without mergeSchema can
          // silently resolve mixed partitions to one file's schema and
          // make the replay-exclusion compare wrong instead of failing.
          val idType = seenRaw.schema("id").dataType
          require(idType == org.apache.spark.sql.types.StringType,
            s"$hashesPath holds ${idType.simpleString}-typed ids (pre-r8 layout); " +
              "clear the hashes dir once to upgrade — the admitted corpus is unaffected")
          val seen = seenRaw.select(col("ch"), col("id").as("__seen_id"))
          intra.withColumn("__ch", md5(graft.functions.TextFunctions.normalizeText(col(textCol))))
            // same-id hash hits are a replayed batch finding its own rows;
            // the guard id is string-typed on BOTH sides (see the write
            // below), so the comparison casts to match
            .join(seen, col("__ch") === col("ch") &&
              col(idCol).cast("string") =!= col("__seen_id"), "left_anti")
            .drop("__ch")
        }
      }
    // one-pass core: vs-index dedup, intra-batch dedup, and the index
    // append all derive from ONE cached signature pass (composing the
    // standalone ops would signature the batch three times)
    val kept = Dedup.ingestAgainstIndex(spark, indexPath, batchId, exactDeduped,
      textCol, idCol, shingleN, k, bands, threshold, maxBucketSize,
      scorer = scorer, containmentThreshold = containmentThreshold)
    graft.ops.Generations.writeBatch(kept, corpusDataDir(spark, admittedDir), batchId)
    // the guard id lands as ONE stable type (string) regardless of the
    // source's id type: r7 wrote it in its native type after the
    // cast("long") bug (which silently nulled string ids and defeated the
    // replay exclusion), but native-typed partitions make the hashes dir
    // schema depend on the source — a long-id stream and a later string-id
    // replay would mix types across __batch partitions and fail the guard
    // read. String is lossless for every id type and compares exactly.
    // Upgrading a pre-r8 hashes dir (long-typed ids) requires clearing
    // <indexPath>/hashes once; the admitted corpus is unaffected.
    if (exactGuard)
      graft.ops.Generations.writeBatch(
        kept.select(col(idCol).cast("string").as("id"),
          md5(graft.functions.TextFunctions.normalizeText(col(textCol))).as("ch")),
        hashesPath, batchId)
  }

  /** Attach incremental IVF appends to a streaming frame of embeddings —
    * the vector-side twin of [[foreachBatchIngestDedup]], completing the
    * index-family symmetry (LSH and IVF both: build once → per-batch
    * incremental maintenance → streaming attachment). Every micro-batch
    * is assigned against the PERSISTED centroids at `indexPath` (map-only
    * native argmin, zero shuffle of the existing index) and appended
    * under `cell=<c>/__batch=<streamBatch + 1>` with dynamic-overwrite
    * replay idempotence; `__batch = 0` stays reserved for the base build.
    * Same lineage rules as the LSH loop: one (indexPath, checkpointDir)
    * pair per stream lineage, ids unique across the whole stream, and a
    * deterministic-replay source for the exactly-once argument. Centroid
    * drift policy is the caller's: rebuild the base index when recall
    * sags, re-attach the stream with a fresh checkpoint.
    */
  def foreachBatchIvfAppend(embeddings: DataFrame, indexPath: String,
                            checkpointDir: String, vecCol: String, idCol: String,
                            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(embeddings, checkpointDir, trigger) { (batch, id) =>
      graft.llm.Similarity.ivfAppendBatch(batch.sparkSession, indexPath, batch,
        vecCol, idCol, batchId = id + 1)
    }

  /** [[foreachBatchIvfAppend]] for an IVF-PQ index: every micro-batch is
    * appended to the vectors AND append-encoded into the code table with
    * the frozen codebooks ([[graft.llm.Quantization.ivfPqAppendCodes]]),
    * so the compressed-domain read surface follows the stream without
    * full re-encodes. Attach only to an index whose base codes exist
    * (`ivfPqWriteCodes` after the base build). Both halves are
    * replay-idempotent dynamic overwrites of the micro-batch's own
    * partitions; a crash BETWEEN them leaves `ivfPqKnn` refusing loudly
    * (stale code table — never a silently missing batch) and the
    * checkpointed replay of the same micro-batch heals it. Same lineage
    * rules as the other streaming index maintainers: one (indexPath,
    * checkpointDir) pair per lineage, ids unique across the stream,
    * deterministic-replay source.
    */
  def foreachBatchIvfPqAppend(embeddings: DataFrame, indexPath: String,
                              checkpointDir: String, vecCol: String, idCol: String,
                              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(embeddings, checkpointDir, trigger) { (batch, id) =>
      val s = batch.sparkSession
      graft.llm.Similarity.ivfAppendBatch(s, indexPath, batch,
        vecCol, idCol, batchId = id + 1)
      graft.llm.Quantization.ivfPqAppendCodes(s, indexPath, batchId = id + 1)
    }

  /** Attach incremental simhash-index appends to a streaming frame of
    * documents — the third member of the streaming index-maintenance
    * family ([[foreachBatchIngestDedup]] for LSH, [[foreachBatchIvfAppend]]
    * for IVF): every micro-batch is signatured with the banding read
    * from the index `meta/` and appended under `__batch = stream batch
    * + 1` with dynamic-overwrite replay idempotence (`__batch = 0` stays
    * reserved for the base build). Same lineage rules as the other two:
    * one (indexPath, checkpointDir) pair per stream lineage, ids unique
    * across the whole stream, deterministic-replay source.
    */
  def foreachBatchSimhashAppend(docs: DataFrame, indexPath: String,
                                checkpointDir: String, textCol: String, idCol: String,
                                maxBucketSize: Int = Dedup.DefaultMaxBucketSize,
                                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      Dedup.simhashAppendBatch(batch.sparkSession, indexPath, id + 1,
        batch, textCol, idCol, maxBucketSize)
    }

  /** Attach incremental BM25-index appends to a streaming frame of
    * documents — the fourth member of the streaming index-maintenance
    * family (LSH, IVF/IVF-PQ, simhash, and now the text-search index):
    * every micro-batch is tokenized once and appended under
    * `__batch = stream batch + 1` with dynamic-overwrite replay
    * idempotence (`__batch = 0` stays reserved for the base build); the
    * batch's stats row is the commit point, so a crash mid-append leaves
    * [[graft.llm.Search.bm25Indexed]] refusing loudly and the
    * checkpointed replay heals it. Same lineage rules as the other
    * three: one (indexPath, checkpointDir) pair per stream lineage, ids
    * unique across the whole stream, deterministic-replay source.
    */
  def foreachBatchBm25Append(docs: DataFrame, indexPath: String,
                             checkpointDir: String, textCol: String, idCol: String,
                             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      graft.llm.Search.bm25AppendBatch(batch.sparkSession, indexPath, batch,
        textCol, idCol, batchId = id + 1)
    }

  /** Attach incremental LM-model appends to a streaming frame of
    * documents — the language-model member of the streaming
    * index-maintenance family: every micro-batch's bigram counts land
    * under `__batch = stream batch + 1` with dynamic-overwrite replay
    * idempotence (`__batch = 0` stays reserved for the base build).
    * Counts are ADDITIVE and the model is one sidecar-free table, so
    * this is the simplest member: a single atomic write per batch, no
    * crash window, and the streamed-up model scores bit-identically to
    * a full retrain ([[graft.llm.LanguageModel.lmAppendBatch]]). Same
    * lineage rules as the others: one (modelPath, checkpointDir) pair
    * per stream lineage, deterministic-replay source.
    */
  def foreachBatchLmAppend(docs: DataFrame, modelPath: String,
                           checkpointDir: String, textCol: String, idCol: String,
                           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      graft.llm.LanguageModel.lmAppendBatch(batch.sparkSession, modelPath,
        batch, textCol, idCol, batchId = id + 1)
    }

  /** Attach incremental Naive-Bayes model appends to a streaming frame
    * of LABELED documents — the classifier member of the streaming
    * index-maintenance family, and arithmetically the LM twin: the
    * model is one sidecar-free additive count table
    * ([[graft.llm.Classifier]]), so each micro-batch is a single atomic
    * dynamic-overwrite write, there is no crash window, and the
    * streamed-up model classifies bit-identically to a full retrain.
    * Same lineage rules: one (modelPath, checkpointDir) pair per stream
    * lineage, deterministic-replay source.
    */
  def foreachBatchNbAppend(docs: DataFrame, modelPath: String,
                           checkpointDir: String, textCol: String, labelCol: String,
                           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      graft.llm.Classifier.nbAppendBatch(batch.sparkSession, modelPath,
        batch, textCol, labelCol, batchId = id + 1)
    }

  /** Attach incremental NOVELTY scoring to a streaming frame of
    * documents — the freshness-signal member of the streaming
    * index-maintenance family: every micro-batch is scored O(batch)
    * against the persisted gram set (membership anti-join + an
    * in-batch min-id pass) and folds its own distinct grams in
    * ([[graft.llm.TextAnalysis.noveltyAppendBatch]]). With monotone-id
    * batches the accumulated scores are row-identical to a full-corpus
    * recompute — the contract query hash-checks it against the same
    * oracle as the one-shot path. Standard lineage rules: one
    * (indexPath, checkpointDir) pair per stream lineage,
    * deterministic-replay source, `__batch` dynamic overwrites.
    */
  def foreachBatchNoveltyAppend(docs: DataFrame, indexPath: String,
                                checkpointDir: String, textCol: String, idCol: String,
                                n: Int = 3,
                                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      graft.llm.TextAnalysis.noveltyAppendBatch(batch.sparkSession, indexPath,
        batch, textCol, idCol, batchId = id + 1, n = n)
    }

  /** Attach an INGEST-TIME QUALITY GATE to a streaming frame of
    * documents — the production use of the K15 classifier: every
    * micro-batch is classified against the FROZEN persisted NB model at
    * `modelPath` ([[graft.llm.Classifier.nbClassifyIndexed]]) and only
    * documents whose predicted label is in `keepLabels` are admitted to
    * the corpus at `admittedDir` (the CCNet/GPT-3 pattern: a trained
    * quality/language filter between the crawl and the training set).
    * Admitted rows carry their (n_tokens, predicted, score) columns —
    * the filter decision is auditable forever.
    *
    * Per-doc decisions against a STATIC model are batch-boundary-
    * invariant, so the admitted corpus equals the batch classify+filter
    * exactly (the k10 streaming-decontaminate argument) — the contract
    * query hash-checks it against the one-shot oracle. Replay safety is
    * the standard layout: `__batch` partitions + dynamic overwrite.
    * The model is NOT appended to here — gating and model maintenance
    * ([[foreachBatchNbAppend]]) are separate lifecycles; a model that
    * trained on its own gated output would drift unaudited.
    */
  def foreachBatchClassifyFilter(docs: DataFrame, modelPath: String,
                                 admittedDir: String, checkpointDir: String,
                                 textCol: String, idCol: String,
                                 keepLabels: Seq[String],
                                 trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(keepLabels.nonEmpty, "an empty keep set admits nothing — pass the labels to keep")
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      val spark = batch.sparkSession
      val kept = graft.llm.Classifier
        .nbClassifyIndexed(spark, modelPath, batch, textCol, idCol)
        .where(col("predicted").isin(keepLabels: _*))
        .withColumnRenamed("doc", "__doc")
      graft.ops.Generations.writeBatch(
        batch.join(kept, batch(idCol) === kept("__doc"), "inner").drop("__doc"),
        corpusDataDir(spark, admittedDir), id)
    }
  }

  /** Attach a DATA-SKIPPING-MAINTAINED corpus append to a streaming
    * frame — the streaming twin of the x2/x3 sidecar family: every
    * micro-batch lands under its own `__batch` partition (dynamic
    * overwrite — the standard replay-idempotence layout), then the
    * min/max manifest and any per-column Bloom sidecars are refreshed
    * INSIDE the same foreachBatch turn via the O(new files) incremental
    * repairs ([[graft.ops.Manifest.refresh]]/`refreshBloom` — cost ∝
    * the appended files, never the table). Readers between batches are
    * always safe: a pruned read that races the refresh sees a stale
    * manifest and falls back to a full scan (the staleness contract —
    * stale costs speed, never rows); after the refresh it skips again.
    * A replayed batch rewrites its own partition with NEW file names,
    * which the refresh diff handles as removed+added — sidecars
    * converge to the replayed content.
    */
  def foreachBatchCorpusAppend(rows: DataFrame, tablePath: String,
                               checkpointDir: String, statsCols: Seq[String],
                               bloomCols: Seq[String] = Nil,
                               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(rows, checkpointDir, trigger) { (batch, id) =>
      val spark = batch.sparkSession
      graft.ops.Generations.writeBatch(batch, tablePath, id)
      graft.ops.Manifest.refresh(spark, tablePath, statsCols)
      bloomCols.foreach(c => graft.ops.Manifest.refreshBloom(spark, tablePath, c))
    }

  /** Attach incremental dedup RESOLUTION to a streaming frame of
    * near-dup pairs — the dedup endgame's streaming twin (round 10 built
    * K13 batch + incremental; this closes the family the way LSH / IVF /
    * simhash / BM25 close theirs): every micro-batch of pairs is folded
    * through [[graft.ops.Graph.foldBatch]] into the crash-atomically
    * persisted (id, component) assignment at `assignmentPath`, so the
    * corpus-wide duplicate-cluster labels FOLLOW the pair stream without
    * ever re-traversing historical pairs (the assignment is the state —
    * the traversed graph per batch is |V_assigned| + |E_batch|).
    *
    * Replay safety differs from the append families and is stronger:
    * folding a replayed batch is a mathematical no-op on the assignment
    * content (its closure is already absorbed), so no batch-id layout is
    * needed — any at-least-once redelivery republishes an identical
    * generation. Same lineage rule as the others: one (assignmentPath,
    * checkpointDir) pair per stream lineage, deterministic-replay source.
    */
  def foreachBatchResolve(pairs: DataFrame, assignmentPath: String,
                          checkpointDir: String, aCol: String, bCol: String,
                          maxIter: Int = 50,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(pairs, checkpointDir, trigger) { (batch, id) =>
      graft.ops.Graph.foldBatch(batch.sparkSession, assignmentPath, batch,
        aCol, bCol, maxIter, batchId = id)
    }

  /** Attach the ingestion-dedup loop to a streaming frame of documents. */
  def foreachBatchIngestDedup(docs: DataFrame, indexPath: String, admittedDir: String,
                              checkpointDir: String, textCol: String, idCol: String,
                              shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                              threshold: Double = 0.8,
                              maxBucketSize: Int = Dedup.DefaultMaxBucketSize,
                              exactGuard: Boolean = false,
                              scorer: String = "jaccard",
                              containmentThreshold: Double = 0.9,
                              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      ingestBatch(batch, indexPath, admittedDir, id, textCol, idCol,
        shingleN, k, bands, threshold, maxBucketSize, exactGuard,
        scorer, containmentThreshold)
    }

  /** ONE COMPOSED INGEST TURN — the production intake shape: each
    * micro-batch runs quality gate → LSH near-dedup (vs-index +
    * intra-batch) → corpus append + data-skipping sidecar refresh →
    * novelty scoring/index fold, all inside a single foreachBatch turn
    * and all off ONE cached tokenize/shingle pass. Running the four
    * stage families as separate streams (their standalone
    * `foreachBatch*` attachments) re-tokenizes the batch once per
    * stage and re-shingles it twice; here the classifier's gate output
    * is cached once and the shingle-hash projection is computed once
    * and shared by dedup AND novelty (the `projection` hooks on
    * [[graft.llm.Dedup.ingestAgainstIndex]] /
    * [[graft.llm.TextAnalysis.noveltyAppendBatch]]).
    *
    * Stage semantics are EXACTLY the standalone operators', so the
    * composed result equals running the stages sequentially (the
    * `k21_ingest_pipeline` contract query hash-checks the whole fused
    * frame — gate audit columns AND novelty scores — against a one-SQL
    * composition of the three oracles):
    *   1. gate: frozen NB model at `modelPath`, keep `keepLabels`
    *      predictions; admitted rows carry (n_tokens, predicted, score);
    *   2. dedup: [[ingestBatch]]'s core against the LSH index at
    *      `indexPath` — survivors append to the index; `scorer`
    *      (jaccard | containment | both, round 14) decides what counts
    *      as a duplicate: the containment arm drops boilerplate-wrapped
    *      verbatim reposts the symmetric Jaccard gate structurally
    *      admits, off the same cached signature pass;
    *   3. corpus: survivors land under `__batch=<id>` in the corpus's
    *      CURRENT generation at `admittedDir` (dynamic overwrite — the
    *      replay-idempotent layout; [[corpusCompact]] swaps generations
    *      under readers and writers alike), min/max manifest + Bloom
    *      sidecars refreshed in the same turn;
    *   4. novelty: batch 0 base-builds the gram-set index at
    *      `noveltyPath` ([[graft.llm.TextAnalysis.noveltyIndexWrite]]);
    *      later batches fold O(batch) appends (batchId = stream batch
    *      id, > 0 by construction).
    *
    * Lineage rules are the union of the stage families': one
    * (indexPath, admittedDir, noveltyPath, checkpointDir) tuple per
    * stream lineage, ids unique and MONOTONE non-decreasing across
    * batches (novelty first-ness), deterministic-replay source, and
    * the FIRST batch must admit at least one document (an empty base
    * novelty index fails the later append loudly).
    */
  def curateBatch(batch: DataFrame, batchId: Long, modelPath: String,
                  keepLabels: Seq[String], indexPath: String,
                  admittedDir: String, noveltyPath: String,
                  textCol: String, idCol: String,
                  shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                  threshold: Double = 0.8,
                  maxBucketSize: Int = Dedup.DefaultMaxBucketSize,
                  statsCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil,
                  mixStatePath: String = null,
                  sourceCol: String = null,
                  tokenBudget: Long = Long.MaxValue,
                  sourceCap: Long = Long.MaxValue,
                  cardPath: String = null,
                  driftTarget: DriftTarget = null,
                  scorer: String = "jaccard",
                  containmentThreshold: Double = 0.9): Unit = {
    require(keepLabels.nonEmpty, "an empty keep set admits nothing — pass the labels to keep")
    require(mixStatePath == null || sourceCol != null,
      "admission (mixStatePath) needs sourceCol")
    require(cardPath == null || sourceCol != null,
      "the dataset card is per-source — a cardPath needs sourceCol")
    require(sourceCol == null || mixStatePath != null || cardPath != null,
      "sourceCol is consumed by admission (mixStatePath) or the card " +
        "(cardPath) — set at least one, or drop sourceCol")
    val spark = batch.sparkSession
    // stage 0 (optional) — K12 admission: per-source cap + token budget
    // in arrival order against the persisted running totals at
    // `mixStatePath` (mixGateAdmit updates them and returns the
    // admitted rows); everything downstream sees only what got in
    val intake =
      if (mixStatePath == null) batch
      else graft.llm.Mixing.mixGateAdmit(spark, mixStatePath, batch,
        textCol, idCol, sourceCol, batchId, tokenBudget, sourceCap)
        .drop("n_tokens") // the gate's own n_tokens audit column follows
    // THE shared tokenize pass (round 13): ONE tokens(normalizeText())
    // over the intake feeds the NB gate's occurrence frame AND the
    // shingle projection — before this, the gate re-tokenized the batch
    // the projection had already tokenized (the k21 verdict's remaining
    // shared-pass win). Identical expressions keep both consumers
    // bit-identical to their standalone paths. The three caches below
    // are filled by the first job that reads them (the dedup stage's
    // bucket rows) — an eager count per cache would only add jobs.
    val parallelism = spark.sparkContext.defaultParallelism
    val toks = intake
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(parallelism, col("id"))
      .select(col("id"),
        graft.functions.TextFunctions.tokens(
          graft.functions.TextFunctions.normalizeText(col("__text"))).as("__toks"))
      .persist()
    // stage 1 — quality gate against the frozen model; the gated frame
    // (with its audit columns) feeds every later stage, so cache it
    val scored = graft.llm.Classifier
      .nbClassifyOccurrences(spark, modelPath,
        toks.select(col("id").as("doc"), explode(col("__toks")).as("word")))
      .where(col("predicted").isin(keepLabels: _*))
      .withColumnRenamed("doc", "__doc")
    val gated = intake.join(scored, intake(idCol) === scored("__doc"), "inner")
      .drop("__doc").persist()
    // the shingle projection rides the SAME token cache, restricted to
    // the gate's survivors
    val proj = Dedup.shingleHashProjectionFromTokens(
        toks.join(gated.select(col(idCol).cast(toks.schema("id").dataType).as("id")),
          Seq("id"), "left_semi"), shingleN)
      .persist()
    try {
      // stage 2 — near-dedup vs index + intra-batch; survivors append
      // to the LSH index inside the call
      val kept = Dedup.ingestAgainstIndex(spark, indexPath, batchId, gated,
        textCol, idCol, shingleN, k, bands, threshold, maxBucketSize,
        appendToIndex = true, projection = Some(proj),
        scorer = scorer, containmentThreshold = containmentThreshold)
      // stages 3 / 3.5 / 4+5 commit to DISJOINT sinks (the corpus dir,
      // the drift state, the novelty index + card) and all read the same
      // checkpointed `kept` frame — independent jobs, overlapped from a
      // small driver pool so each sink's commit tail back-fills with the
      // next sink's tasks (r20, guide §2.6). Stage semantics and written
      // content are exactly the serial version's: the only ordering the
      // stages ever relied on is novelty-before-card, which stays inside
      // one task below.
      val dataDir = corpusDataDir(spark, admittedDir)
      val stageTasks = Seq(
        // stage 3 — corpus append + sidecar refresh (the x5 shape)
        Some(() => {
          graft.ops.Generations.writeBatch(kept, dataDir, batchId)
          if (statsCols.nonEmpty) graft.ops.Manifest.refresh(spark, dataDir, statsCols)
          bloomCols.foreach(c => graft.ops.Manifest.refreshBloom(spark, dataDir, c))
        }),
        // stage 3.5 (optional) — drift counts over what was ADMITTED
        // ("is what we're letting in drifting from the tuning corpus" —
        // the monitor rides the same batch turn, one O(batch) groupBy)
        if (driftTarget == null) None else Some(() => {
          graft.llm.Drift.accumulate(spark, driftTarget.statePath, kept,
            driftTarget.groupCol, driftTarget.binCol, driftTarget.nBins, batchId)
          ()
        }),
        // stage 4 — novelty over the SURVIVORS: restrict the shared
        // projection to kept ids (a semi-join over the cache, no
        // re-shingle); then stage 5 (optional) — K19 card deltas over
        // the admitted docs, AFTER the novelty fold (the card's novelty
        // partials read this batch's scores from the index). The gate's
        // predicted label IS the lang dimension — lang-id at intake.
        Some(() => {
          val keptProj = proj.join(kept.select(col(idCol).as("id")), Seq("id"), "left_semi")
          if (batchId == 0L)
            graft.llm.TextAnalysis.noveltyIndexWrite(kept, textCol, idCol,
              noveltyPath, n = shingleN, projection = Some(keptProj))
          else
            graft.llm.TextAnalysis.noveltyAppendBatch(spark, noveltyPath, kept,
              textCol, idCol, batchId = batchId, n = shingleN,
              projection = Some(keptProj))
          if (cardPath != null)
            graft.llm.TextAnalysis.cardAccumulate(spark, cardPath, kept, textCol,
              sourceCol, "predicted", idCol, batchId, noveltyPath)
        })).flatten
      graft.ops.DriverPool.run(stageTasks.map(t => () => { t(); () }))
    } finally { proj.unpersist(false); gated.unpersist(false); toks.unpersist(false) }
  }

  /** Attach [[curateBatch]] to a streaming frame of documents — the
    * single-stream, shared-pass replacement for chaining
    * foreachBatchClassifyFilter → foreachBatchIngestDedup →
    * foreachBatchNoveltyAppend → foreachBatchCorpusAppend.
    */
  def foreachBatchCuratePipeline(docs: DataFrame, modelPath: String,
                                 keepLabels: Seq[String], indexPath: String,
                                 admittedDir: String, noveltyPath: String,
                                 checkpointDir: String,
                                 textCol: String, idCol: String,
                                 shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                                 threshold: Double = 0.8,
                                 maxBucketSize: Int = Dedup.DefaultMaxBucketSize,
                                 statsCols: Seq[String] = Nil,
                                 bloomCols: Seq[String] = Nil,
                                 mixStatePath: String = null,
                                 sourceCol: String = null,
                                 tokenBudget: Long = Long.MaxValue,
                                 sourceCap: Long = Long.MaxValue,
                                 cardPath: String = null,
                                 driftTarget: DriftTarget = null,
                                 scorer: String = "jaccard",
                                 containmentThreshold: Double = 0.9,
                                 trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      curateBatch(batch, id, modelPath, keepLabels, indexPath, admittedDir,
        noveltyPath, textCol, idCol, shingleN, k, bands, threshold,
        maxBucketSize, statsCols, bloomCols, mixStatePath, sourceCol,
        tokenBudget, sourceCap, cardPath, driftTarget,
        scorer, containmentThreshold)
    }

  /** Attach the K12 STREAMING ADMISSION GATE to a document stream —
    * per-batch token-budget / per-source-cap admission against
    * persisted running totals ([[graft.llm.Mixing.mixGateBatch]]): the
    * policy that stops a live ingest when the corpus is full, per
    * source and globally. Same lineage rules as the other gates:
    * id-monotone batches (the admitted set then equals the batch
    * windows over the union — the ▶ contract query's claim), one
    * (statePath, admittedDir, checkpointDir) tuple per lineage,
    * deterministic-replay source.
    */
  def foreachBatchMixGate(docs: DataFrame, statePath: String,
                          admittedDir: String, checkpointDir: String,
                          textCol: String, idCol: String, sourceCol: String,
                          tokenBudget: Long, sourceCap: Long,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      graft.llm.Mixing.mixGateBatch(batch.sparkSession, statePath, batch,
        textCol, idCol, sourceCol, id, tokenBudget, sourceCap, admittedDir)
    }

  /** Attach the DRIFT MONITOR to a streaming frame of documents (round
    * 13): each micro-batch folds its O(groups × bins) bin-count summary
    * into the accumulator at `statePath` ([[graft.llm.Drift.accumulate]]
    * — batch-id-partitioned dynamic overwrite, so at-least-once replay
    * rewrites itself), against a reference distribution pinned once with
    * [[graft.llm.Drift.referenceWrite]]. The monitored PSI at any point
    * is [[graft.llm.Drift.psiAgainstReference]] — definitionally the
    * one-shot PSI of the union of all batches (counts are additive), the
    * batch-boundary-invariance law the ▶ contract query hash-pins. The
    * corpus is never rescanned: per batch cost is one groupBy of the
    * batch, read cost is the tiny count sidecars.
    */
  def foreachBatchDriftAccumulate(docs: DataFrame, statePath: String,
                                  checkpointDir: String, groupCol: String,
                                  binCol: org.apache.spark.sql.Column,
                                  nBins: Int = 10,
                                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      graft.llm.Drift.accumulate(batch.sparkSession, statePath, batch,
        groupCol, binCol, nBins, batchId = id)
    }

  /** [[foreachBatchDriftAccumulate]] for a PINNED-EDGE quantile drift
    * state (round 14): each micro-batch bins `valueCol` with the edges
    * [[graft.llm.Drift.quantileReferenceWrite]] persisted beside the
    * reference — the binning can never diverge from the accumulated
    * history, because no caller-supplied edge set exists to diverge
    * with. Attach only to an edge-pinned state (the accumulate refuses
    * loudly otherwise). Same replay/lineage rules as the width-binned
    * monitor.
    */
  def foreachBatchQuantileDrift(docs: DataFrame, statePath: String,
                                checkpointDir: String, groupCol: String,
                                valueCol: org.apache.spark.sql.Column,
                                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      graft.llm.Drift.quantileAccumulate(batch.sparkSession, statePath,
        batch, groupCol, valueCol, batchId = id)
    }

  /** Attach the WEIGHTED RESERVOIR to a streaming frame (round 13): each
    * micro-batch folds its local A-res top-k into the generation-swapped
    * k-row state ([[graft.llm.TextAnalysis.reservoirFold]]). Because the
    * priorities are deterministic md5 lottery keys, the folded reservoir
    * is EXACTLY the one-shot weighted sample over everything streamed —
    * the ▶ contract query shares `k8_weighted_sample`'s oracle verbatim.
    */
  def foreachBatchReservoir(docs: DataFrame, statePath: String,
                            checkpointDir: String, idCol: String,
                            weight: org.apache.spark.sql.Column, k: Int,
                            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, _) =>
      graft.llm.TextAnalysis.reservoirFold(batch.sparkSession, statePath,
        batch, idCol, weight, k)
    }

  /** Attach the PER-STRATUM weighted reservoir to a streaming frame
    * (round 14): each micro-batch folds its per-stratum A-res top-k
    * into the generation-swapped state
    * ([[graft.llm.TextAnalysis.stratifiedReservoirFold]]). Deterministic
    * mergeable priorities make the folded per-group reservoirs EXACTLY
    * the one-shot per-group weighted sample over everything streamed —
    * the ▶ contract query shares the one-shot per-group oracle.
    */
  def foreachBatchStratifiedReservoir(docs: DataFrame, statePath: String,
                                      checkpointDir: String, idCol: String,
                                      stratumCol: String,
                                      weight: org.apache.spark.sql.Column, k: Int,
                                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, _) =>
      graft.llm.TextAnalysis.stratifiedReservoirFold(batch.sparkSession,
        statePath, batch, idCol, stratumCol, weight, k)
    }

  /** Attach LIVE RETRACTION to a stream of removal ids — the delete
    * side of the ingest lifecycle (the natural upstream is a CDC delete
    * feed: `Envelope.parseWithTombstones` / op='d' envelopes keyed by
    * doc id): every micro-batch tombstones its ids out of the
    * text-similarity index at `indexPath`
    * ([[graft.llm.Dedup.retractFromIndex]], retractionId = the stream
    * batch id — dynamic overwrite, so an at-least-once replay rewrites
    * exactly itself). Reads see the deletes the moment the batch
    * commits; the index's scheduled compaction applies them physically.
    * Same lineage rules as the append families.
    */
  def foreachBatchIndexRetract(removedIds: DataFrame, indexPath: String,
                               checkpointDir: String, idCol: String,
                               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(removedIds, checkpointDir, trigger) { (batch, id) =>
      graft.llm.Dedup.retractFromIndex(batch.sparkSession, indexPath,
        batch, idCol, retractionId = id)
    }

  /** Where a composed delete turn fans out — every index, model, and
    * store a [[curateBatch]]-style intake maintains, each optional so
    * one turn serves any pipeline shape. `corpusDir` is the admitted
    * corpus root: its tombstones live under the underscore-prefixed
    * `_ret/` subdir (invisible to the corpus parquet scan) and
    * [[admitted]] applies them.
    */
  /** The drift monitor's retraction coordinates: the state path plus the
    * binning that was used to accumulate (retraction must negate the
    * EXACT counts the docs contributed, so the binning is part of the
    * target's identity).
    */
  final case class DriftTarget(statePath: String, groupCol: String,
                               binCol: org.apache.spark.sql.Column,
                               nBins: Int = 10)

  /** A [[DriftTarget]] built from a PINNED quantile state (round 14):
    * the binning comes from the edges `quantileReferenceWrite` persisted
    * beside the reference — the intake turn can then monitor what it
    * admits without any caller-held edge list to diverge from the
    * accumulated history. Edges are immutable within a lineage
    * (re-pinning refuses; retune keeps them), so reading them once at
    * target construction is sound for the stream's lifetime.
    */
  def quantileDriftTarget(spark: org.apache.spark.sql.SparkSession,
                          statePath: String, groupCol: String,
                          valueCol: org.apache.spark.sql.Column): DriftTarget = {
    val (edges, nBins) = graft.llm.Drift.pinnedQuantileState(spark, statePath)
    DriftTarget(statePath, groupCol,
      graft.llm.Drift.quantileBin(valueCol, edges), nBins)
  }

  final case class RetractTargets(
      lshIndexPath: Option[String] = None,
      simhashIndexPath: Option[String] = None,
      ivfIndexPath: Option[String] = None,
      bm25IndexPath: Option[String] = None,
      lmModelPath: Option[String] = None,
      nbModelPath: Option[String] = None,
      graphPath: Option[String] = None,
      noveltyPath: Option[String] = None,
      corpusDir: Option[String] = None,
      driftState: Option[DriftTarget] = None)

  private def corpusRetRoot(admittedDir: String): String = s"$admittedDir/_ret"

  /** The admitted corpus's CURRENT data directory — generation-resolved
    * (round 14): the plain `admittedDir` (its root-level `__batch=`
    * partitions) until a [[corpusCompact]] commits a folded generation,
    * then the committed `data_gen=N/` subdir. Every corpus writer and
    * reader in this file resolves through here, so post-compaction
    * appends land in the served generation instead of being shadowed.
    * The `_ret/` tombstones and the `_data_commit_*` markers are
    * underscore-prefixed — invisible to parquet scans of the root.
    */
  private def corpusGenRoot(admittedDir: String) = new Path(s"$admittedDir/_gen")

  private[graft] def corpusDataDir(spark: org.apache.spark.sql.SparkSession,
                                   admittedDir: String): String = {
    val root = corpusGenRoot(admittedDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = graft.ops.Generations.currentGen(fs, root, "data")
    if (gen == 0L) admittedDir
    else graft.ops.Generations.genDir(root, "data", gen).toString
  }

  /** PHYSICAL corpus tombstone compaction (round 14 — the r13 verdict's
    * "permanent per-read anti-join" gap): [[admitted]] applies `_ret/`
    * tombstones at every read forever; at 100 TB with a long delete
    * history that anti-join never goes away, and a long-running intake
    * additionally accrues one `__batch=` directory of small files per
    * micro-batch. This bakes both away: the live rows (current data
    * minus tombstones) are folded to one `__batch=0` in the next
    * `data_gen=N/` generation, committed crash-atomically by marker
    * (the [[graft.ops.Generations]] swap every compacting family uses),
    * and the tombstone dir is cleared AFTER the commit — a crash
    * between the two leaves no-op tombstones over already-gone ids,
    * never a resurrected row. Post-compaction [[admitted]] reads are a
    * bare scan: no anti-join, one partition dir. Generations live under
    * the underscore-prefixed `_gen/` subtree so a staged (or even a
    * committed) generation can never confuse partition discovery on the
    * legacy root layout.
    *
    * Gate: compacts when tombstones exist OR the live `__batch` count
    * exceeds `maxLiveBatches`; returns "compact" | "none". Same
    * retired-lineage precondition as every compacting family: run only
    * after the appending stream's checkpoint is dropped (a replayed
    * pre-compaction batch would re-append rows the fold already
    * carries). Root-level gen-0 partitions are reclaimed one compaction
    * late (current + previous generations stay readable — the in-flight-
    * reader grace period the shared GC applies to `data_gen=` dirs).
    */
  def corpusCompact(spark: org.apache.spark.sql.SparkSession, admittedDir: String,
                    idCol: String = "doc_id", maxLiveBatches: Int = 8): String = {
    val genRoot = corpusGenRoot(admittedDir)
    val fs = genRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val removed = graft.ops.Tombstones.set(spark, corpusRetRoot(admittedDir))
    val cur = corpusDataDir(spark, admittedDir)
    val curPath = new Path(cur)
    require(fs.exists(curPath), s"no admitted corpus at $admittedDir")
    val liveBatches = graft.ops.Generations.batchIds(fs, curPath).size
    if (removed.isEmpty && liveBatches <= maxLiveBatches) return "none"
    val live = graft.ops.Tombstones.drop(
      spark.read.parquet(cur), removed, idCol)
    // fold target is __batch = -1, NOT 0: corpus writers use the stream
    // batch id DIRECTLY (unlike the index families' id+1 convention), so
    // a retired-lineage re-attach restarts at 0 and its dynamic
    // overwrite of __batch=0 would silently DESTROY a fold parked there;
    // no stream ever produces a negative id (the LM retraction's
    // negative-partition trick)
    graft.ops.Generations.swap(fs, genRoot, "data") { staged =>
      graft.ops.Generations.writeBatch(live, staged.toString, -1L)
    }
    if (removed.isDefined)
      graft.ops.Tombstones.clear(spark, corpusRetRoot(admittedDir))
    // the shared GC reclaims _gen/data_gen= dirs but knows nothing about
    // the legacy root layout — apply the same current+previous grace to
    // gen 0's root `__batch=` partitions once two generations exist
    if (graft.ops.Generations.currentGen(fs, genRoot, "data") >= 2L)
      dropRootBatches(fs, admittedDir)
    "compact"
  }

  /** Delete the legacy root-layout `__batch=` partitions of the corpus. */
  private def dropRootBatches(fs: org.apache.hadoop.fs.FileSystem, admittedDir: String): Unit =
    graft.ops.Generations.batchIds(fs, new Path(admittedDir))
      .foreach(b => fs.delete(new Path(admittedDir, s"__batch=$b"), true))

  /** ONE COMPOSED DELETE TURN — the mirror of [[curateBatch]]: fan one
    * batch of removed DOCUMENTS to every registered per-family
    * retraction entry point. Before this existed, a compliance delete
    * was seven separate calls and one missed call meant stale state;
    * here the target list is a value, so "delete everywhere" is one
    * statement and the set of everywheres is auditable.
    *
    * The batch must carry the removed docs' id + TEXT (+ label when an
    * NB model is targeted) — the evidence rule shared by the BM25 / LM
    * / NB / novelty retractions: additive state cannot recover a
    * removed doc's mass from its aggregates. Id-only families (LSH,
    * simhash, IVF, the K13 assignment, the corpus) take just the key.
    *
    * Each family's own retraction is atomic and replay-idempotent
    * under the SAME `retractionId` (dynamic `__ret=`/`__batch=-(id+1)`
    * overwrites, generation swaps), so the composed turn is
    * at-least-once safe: a crash mid-fan-out leaves some families
    * retracted and some not, and the replay re-runs every family —
    * already-applied ones rewrite identical content, missed ones catch
    * up. Per-family preconditions apply unchanged (retract a doc at
    * most once per compaction epoch; novelty ids are monotone and > the
    * folded watermark, so pass `retractionId >= 1` when targeting it).
    *
    * Cost shape at 100 TB: the input frame is checkpointed ONCE and
    * every family reads that cache; each family's own work is
    * O(removals) except the evidence-bounded novelty occ probe and the
    * partition-pruned K13 pair read — nothing scans a corpus.
    */
  def retractEverywhere(spark: org.apache.spark.sql.SparkSession,
                        removedDocs: DataFrame, retractionId: Long,
                        targets: RetractTargets, textCol: String, idCol: String,
                        labelCol: String = null, shingleN: Int = 3): Unit = {
    require(targets.productIterator.exists(_ != None),
      "retractEverywhere with no targets deletes nothing — register at least one path")
    require(targets.nbModelPath.isEmpty || labelCol != null,
      "NB model retraction needs the removed docs' labelCol")
    val rm = removedDocs.localCheckpoint(true) // one evaluation feeds every family
    val ids = rm.select(col(idCol))
    // every family targets its OWN disjoint path and reads only the
    // checkpointed `rm` — independent sinks, overlapped from a small
    // driver pool (r20, guide §2.6) so each family's commit tail
    // back-fills with the next family's tasks. Written content per
    // family is exactly the serial version's; a failure surfaces after
    // the in-flight families finish, and the at-least-once replay
    // re-runs every family identically (their own idempotence args).
    val legs: Seq[() => Unit] = Seq(
      targets.lshIndexPath.map(p => () =>
        Dedup.retractFromIndex(spark, p, ids, idCol, retractionId)),
      targets.simhashIndexPath.map(p => () =>
        Dedup.retractFromIndex(spark, p, ids, idCol, retractionId)),
      targets.ivfIndexPath.map(p => () =>
        graft.llm.Similarity.ivfRetract(spark, p, ids, idCol, retractionId)),
      targets.bm25IndexPath.map(p => () =>
        graft.llm.Search.bm25Retract(spark, p, rm, textCol, idCol, retractionId)),
      targets.lmModelPath.map(p => () =>
        graft.llm.LanguageModel.lmRetractBatch(spark, p, rm, textCol, idCol, retractionId)),
      targets.nbModelPath.map(p => () =>
        graft.llm.Classifier.nbRetractBatch(spark, p, rm, textCol, labelCol, retractionId)),
      targets.graphPath.map(p => () =>
        graft.ops.Graph.retractBatchStored(spark, p, ids, idCol,
          retractionId = retractionId)),
      targets.noveltyPath.map(p => () =>
        graft.llm.TextAnalysis.noveltyRetract(spark, p, rm, textCol, idCol,
          retractionId, n = shingleN)),
      targets.corpusDir.map(p => () =>
        graft.ops.Tombstones.write(spark, corpusRetRoot(p), ids, idCol, retractionId)),
      targets.driftState.map(t => () =>
        graft.llm.Drift.retract(spark, t.statePath, rm, t.groupCol, t.binCol,
          t.nBins, retractionId))).flatten.map(f => () => { f(); () })
    graft.ops.DriverPool.run(legs)
    ()
  }

  /** Attach [[retractEverywhere]] to a stream of removed documents —
    * the delete mirror of [[foreachBatchCuratePipeline]] (the natural
    * upstream is a CDC delete feed carrying the deleted rows' before
    * images — `Envelope` op='d'). retractionId = stream batch id + 1
    * (novelty retraction ids start at 1), so an at-least-once replay
    * rewrites every family identically, and batch splits are invisible:
    * two streamed removal batches equal the single-shot retraction of
    * their union (pinned by the ▶ contract query).
    */
  def foreachBatchRetractPipeline(removedDocs: DataFrame, targets: RetractTargets,
                                  checkpointDir: String, textCol: String,
                                  idCol: String, labelCol: String = null,
                                  shingleN: Int = 3,
                                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.startSink(removedDocs, checkpointDir, trigger) { (batch, id) =>
      retractEverywhere(batch.sparkSession, batch, retractionId = id + 1,
        targets, textCol, idCol, labelCol, shingleN)
    }

  /** Where a composed MAINTENANCE turn fans out — every state a
    * [[curateBatch]]-style intake accumulates and a
    * [[retractEverywhere]] tombstones. Each leg optional, like
    * [[RetractTargets]]; `ivfPqCodes` additionally runs the PQ drift
    * check at the IVF path; the corpus leg refreshes its min/max and
    * Bloom sidecars (O(new files) each).
    */
  final case class MaintainTargets(
      lshIndexPath: Option[String] = None,
      simhashIndexPath: Option[String] = None,
      ivfIndexPath: Option[String] = None,
      ivfPqCodes: Boolean = false,
      bm25IndexPath: Option[String] = None,
      lmModelPath: Option[String] = None,
      nbModelPath: Option[String] = None,
      graphPath: Option[String] = None,
      noveltyPath: Option[String] = None,
      corpusDir: Option[String] = None,
      corpusStatsCols: Seq[String] = Nil,
      corpusBloomCols: Seq[String] = Nil,
      compactCorpus: Boolean = false,
      corpusIdCol: String = "doc_id",
      driftStatePath: Option[String] = None,
      driftNBins: Int = 10,
      driftPsiThreshold: Double = 0.25,
      driftRetune: Option[RetuneTarget] = None,
      compactDriftState: Boolean = false,
      snapshot: Option[SnapshotTarget] = None,
      signals: Option[SignalTarget] = None)

  /** The ACTIONABLE half of the drift advisory (round 14): what the
    * maintenance turn should DO when [[graft.llm.Drift.psiAdvisory]]
    * crosses the threshold — retrain the NB quality gate on the current
    * admitted survivors (their stored `predicted` label is the gate's
    * own audit column, so the retrain needs no external labels) and
    * re-pin the drift reference to the live intake distribution
    * ([[graft.llm.Drift.retune]] — one generation swap, pinned quantile
    * edges kept). Opt-in because moving the baseline is a modelling
    * decision: advisory-only remains the default.
    */
  final case class RetuneTarget(
      nbModelPath: Option[String] = None,
      corpusDir: Option[String] = None,
      textCol: String = "text",
      idCol: String = "doc_id",
      labelCol: String = "predicted")

  /** The B15 incremental-snapshot leg of [[maintainEverywhere]] (round
    * 15): a chunked re-snapshot is PACED work — a few bounded chunk
    * reads per maintenance turn, resumed from the persisted cursor, for
    * as many turns as the table needs (the DBLog cadence; a 100 TB
    * table re-snapshots over days of turns, never one scan). `table` is
    * the live source frame, `loLsnOf` the caller's view of the current
    * log position per chunk (the watermark stamped into each landing).
    */
  final case class SnapshotTarget(
      statePath: String,
      table: org.apache.spark.sql.DataFrame,
      keyCol: String,
      chunkSize: Int,
      loLsnOf: Long => Long,
      maxChunksPerTurn: Int = 4)

  /** The B16 SIGNAL-DRIVEN snapshot leg (round 16): where
    * [[SnapshotTarget]] hardwires ONE table into the turn,
    * this leg delegates WHAT to snapshot to the signal protocol —
    * operators queue/stop/pause collections through the signal table
    * ([[graft.cdc.Signals.applySignals]], typically fed by
    * `fromEnvelope` off the captured signal-table stream) and the
    * maintenance turn just runs the paced [[graft.cdc.Signals.turn]].
    * The resolvers map a collection NAME (what signals carry) to its
    * live frame, key columns, chunk size, and watermark supplier.
    */
  final case class SignalTarget(
      root: String,
      tableOf: String => org.apache.spark.sql.DataFrame,
      keyColsOf: String => Seq[String],
      chunkSizeOf: String => Int,
      loLsnOf: (String, Long) => Long,
      maxChunksPerTurn: Int = 4,
      // this driver's writer-epoch token (graft.cdc.Signals.acquireWriter)
      // — when set, a zombie maintenance turn refuses instead of
      // clobbering the successor driver's protocol state (r17)
      epoch: Option[Long] = None)

  /** Gate a change-stream foreachBatch sink on the B16 signal root
    * (r17, the r16 verdict's #5): a BLOCKING snapshot's consistency
    * contract is "the caller holds stream application for the drain" —
    * previously prose, now enforced. [[maintainEverywhere]]'s signal
    * leg runs [[graft.cdc.Signals.turn]], which holds the root's writer
    * lock for its whole turn; a sink wrapped here serializes on the
    * SAME lock, so a micro-batch that arrives during a blocking drain
    * waits out exactly the drain window and lands AFTER the blocking
    * watermark — where the B15 merge lets it outrank the chunk rows.
    * Zero cost when no turn is in flight (an uncontended monitor).
    */
  def gatedChangeSink(root: String)(
      sink: (org.apache.spark.sql.DataFrame, Long) => Unit):
      (org.apache.spark.sql.DataFrame, Long) => Unit =
    (batch, id) => graft.cdc.Signals.gated(root) { sink(batch, id) }

  /** ONE COMPOSED MAINTENANCE TURN — the third leg of the lifecycle
    * ([[curateBatch]] admits, [[retractEverywhere]] deletes, THIS keeps
    * the accumulated state healthy): fan one scheduled maintenance pass
    * to every registered family's own threshold-gated entry point —
    * LSH/simhash and novelty compactions (tombstones bake, fragments
    * fold), IVF drift-or-fragmentation (+ the PQ codebook retrain
    * check), BM25/LM/NB count-model folds, the K13 pair-store prune
    * (which re-opens retracted ids for ingest), and the corpus sidecar
    * refreshes. Before this existed, "keep the curation stack healthy"
    * was nine separately scheduled calls; here the target list is a
    * value and the returned (family, action) report is the audit trail
    * a scheduler wants ("compact" / "rebuild" / "retrain" / "refresh" /
    * "none" per family).
    *
    * Each family's gate is an FS listing (no Spark job on its no-op
    * path) and each action is that family's own crash-atomic
    * generation-swapped operation, so the composed turn is safe to
    * re-run at any point: a crash mid-fan-out leaves every family
    * either maintained or untouched, and the re-run's gates skip the
    * already-maintained ones ("none") — the turn is state-idempotent
    * (second run reports all-"none" absent new appends/retractions;
    * spec-pinned).
    */
  def maintainEverywhere(spark: org.apache.spark.sql.SparkSession,
                         targets: MaintainTargets,
                         maxLiveBatches: Int = 8,
                         maxBucketSize: Int = Dedup.DefaultMaxBucketSize,
                         driftFlagRatio: Double = 2.0,
                         lloydRounds: Int = 2): Seq[(String, String)] = {
    require(targets.productIterator.exists {
      case o: Option[_] => o.isDefined
      case _            => false
    }, "maintainEverywhere with no targets maintains nothing — register at least one path")
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // the index/model family legs below each maintain their OWN disjoint
    // path (each a threshold-gated, crash-atomic generation swap) — the
    // exemplary independent-sinks case, overlapped from a small driver
    // pool (r20, guide §2.6): a compacting family's commit/stage tail
    // back-fills with the next family's jobs. Report order is preserved
    // (tasks return in submission order); the ivf→pq ordering the PQ
    // drift check relies on stays INSIDE one task. Corpus, drift,
    // snapshot, and signal legs keep their serial order below — their
    // semantics are ordered (sidecars describe the compacted generation;
    // the signal turn holds the writer lock for its whole turn).
    val familyLegs: Seq[() => Seq[(String, String)]] = Seq(
      targets.lshIndexPath.map(p => () =>
        Seq("lsh" -> Dedup.indexMaintain(spark, p, maxLiveBatches, maxBucketSize))),
      targets.simhashIndexPath.map(p => () =>
        Seq("simhash" -> Dedup.indexMaintain(spark, p, maxLiveBatches, maxBucketSize))),
      targets.ivfIndexPath.map(p => () => {
        val ivf = "ivf" -> graft.llm.Similarity.ivfMaintain(spark, p,
          maxLiveBatches, driftFlagRatio, lloydRounds)
        if (targets.ivfPqCodes)
          Seq(ivf, "pq" -> graft.llm.Quantization.pqMaintain(spark, p, driftFlagRatio))
        else Seq(ivf)
      }),
      targets.bm25IndexPath.map(p => () =>
        Seq("bm25" -> graft.llm.Search.bm25Maintain(spark, p, maxLiveBatches))),
      targets.lmModelPath.map(p => () =>
        Seq("lm" -> graft.llm.LanguageModel.lmMaintain(spark, p, maxLiveBatches))),
      targets.nbModelPath.map(p => () =>
        Seq("nb" -> graft.llm.Classifier.nbMaintain(spark, p, maxLiveBatches))),
      targets.graphPath.map(p => () =>
        Seq("k13" -> graft.ops.Graph.pairsMaintain(spark, p, maxLiveBatches))),
      targets.noveltyPath.map(p => () =>
        Seq("k17" -> graft.llm.TextAnalysis.noveltyMaintain(spark, p, maxLiveBatches)))
    ).flatten
    graft.ops.DriverPool.run(familyLegs).foreach(out ++= _)
    targets.corpusDir.foreach { p =>
      // physical tombstone bake FIRST (round 14, opt-in): the sidecars
      // then describe the compacted generation's files, not the ones the
      // swap just superseded
      val compacted =
        if (targets.compactCorpus)
          corpusCompact(spark, p, targets.corpusIdCol, maxLiveBatches)
        else "none"
      val dataDir = corpusDataDir(spark, p)
      if (targets.corpusStatsCols.nonEmpty)
        graft.ops.Manifest.refresh(spark, dataDir, targets.corpusStatsCols)
      targets.corpusBloomCols.foreach(c =>
        graft.ops.Manifest.refreshBloom(spark, dataDir, c))
      val refreshed =
        targets.corpusStatsCols.nonEmpty || targets.corpusBloomCols.nonEmpty
      out += "corpus" -> ((compacted, refreshed) match {
        case ("none", false) => "none"
        case ("none", true)  => "refresh"
        case (c, false)      => c
        case (c, true)       => s"$c+refresh"
      })
    }
    targets.driftStatePath.foreach { p =>
      // state hygiene first (round 14), OPT-IN like compactCorpus (r14
      // advice): folding installs a batch-id watermark, so a live
      // foreachBatchDriftAccumulate stream's legitimate at-least-once
      // replay of a folded batch would hard-fail accumulate's guard
      // instead of being replay-idempotent — compaction is a
      // retired-lineage decision, not an automatic one
      out += "drift_state" -> (
        if (targets.compactDriftState)
          graft.llm.Drift.driftMaintain(spark, p, maxLiveBatches)
        else "none")
      // gate-drift check (round 13, actionable since round 14): PSI of
      // the accumulated intake vs the pinned reference — O(groups × bins)
      // read, never a corpus rescan. Advisory-only by DEFAULT (moving
      // the baseline is a modelling decision); with an opt-in
      // RetuneTarget the flagged turn retrains the NB gate on the
      // current admitted survivors and re-pins the reference under one
      // generation swap — post-retune PSI is 0 by construction, so the
      // next turn reports "stable".
      val adv = graft.llm.Drift.psiAdvisory(
        graft.llm.Drift.psiAgainstReference(spark, p, targets.driftNBins),
        targets.driftPsiThreshold).head()
      val maxPsi = adv.getAs[Double]("max_psi")
      out += "drift" -> (
        if (!adv.getAs[Boolean]("retune")) "stable"
        else targets.driftRetune match {
          case None => s"retune(max_psi=$maxPsi)"
          case Some(rt) =>
            rt.nbModelPath.foreach { mp =>
              val corpus = rt.corpusDir.getOrElse(sys.error(
                "RetuneTarget.nbModelPath needs corpusDir — the gate " +
                  "retrains on the admitted survivors"))
              graft.llm.Classifier.nbRetrain(spark, mp,
                admitted(spark, corpus, rt.idCol), rt.textCol, rt.labelCol)
            }
            graft.llm.Drift.retune(spark, p)
            // the audit string states what the turn DID (r14 advice):
            // "retrain" only when a model was actually retrained
            if (rt.nbModelPath.isDefined) s"retrain(max_psi=$maxPsi)"
            else s"retune_applied(max_psi=$maxPsi)"
        })
    }
    // B15 incremental snapshot: land up to maxChunksPerTurn bounded
    // chunk reads from wherever the cursor left off — the paced
    // re-snapshot cadence (round 15); a finished snapshot reports
    // "none" (the cursor sits past the key space, the probe lands
    // nothing)
    targets.snapshot.foreach { st =>
      val landed = graft.cdc.IncrementalSnapshot.snapshotChunks(spark,
        st.statePath, st.table, st.keyCol, st.chunkSize, st.loLsnOf,
        st.maxChunksPerTurn)
      out += "snapshot" -> (if (landed == 0) "none" else s"landed($landed)")
    }
    // B16 signal-driven snapshots: one paced protocol turn — the signal
    // state (queued/paused/stopped by operators through the signal
    // table) decides what, if anything, this turn reads (round 16)
    targets.signals.foreach { sg =>
      val landed = graft.cdc.Signals.turn(spark, sg.root, sg.tableOf,
        sg.keyColsOf, sg.chunkSizeOf, sg.loLsnOf, sg.maxChunksPerTurn,
        sg.epoch)
      val st = graft.cdc.Signals.state(spark, sg.root)
      out += "signal_snapshot" -> (
        if (st.paused) "paused"
        else if (landed == 0 && st.queue.isEmpty) "idle"
        else s"landed($landed)")
    }
    out.toSeq
  }

  /** Reclaim every superseded corpus generation AND the legacy root
    * partitions — run when no reader can be older than the last
    * [[corpusCompact]] commit (the [[graft.llm.Dedup.vacuumIndex]] /
    * nbVacuum cadence; [[corpusCompact]]'s own GC keeps
    * current+previous as the in-flight-reader grace period).
    */
  def corpusVacuum(spark: org.apache.spark.sql.SparkSession,
                   admittedDir: String): Unit = {
    val genRoot = corpusGenRoot(admittedDir)
    val fs = genRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.Generations.vacuum(fs, genRoot, "data")
    if (graft.ops.Generations.currentGen(fs, genRoot, "data") >= 1L)
      dropRootBatches(fs, admittedDir)
  }

  /** The admitted corpus (layout column dropped, tombstoned docs — a
    * [[retractEverywhere]] with a `corpusDir` target — filtered out).
    */
  def admitted(spark: org.apache.spark.sql.SparkSession, admittedDir: String,
               idCol: String = "doc_id"): DataFrame =
    graft.ops.Tombstones.drop(
      spark.read.parquet(corpusDataDir(spark, admittedDir)).drop("__batch"),
      graft.ops.Tombstones.set(spark, corpusRetRoot(admittedDir)), idCol)

  /** Streaming benchmark decontamination — the production shape of K10:
    * "scrub today's crawl" at ingest time, instead of decontaminating the
    * assembled corpus after the fact. Each micro-batch is cleaned against
    * a STATIC evaluation corpus ([[graft.llm.Decontaminate]] semantics:
    * drop any doc whose distinct-gram overlap with the benchmark reaches
    * `threshold`) and its survivors land under a `__batch=<id>` partition
    * via dynamic overwrite — the same replay-idempotent layout as the
    * dedup loop (a replayed batch rewrites exactly its own partitions
    * with the identical survivor set, since the benchmark is static).
    *
    * The benchmark gram set is computed ONCE per stream attach
    * ([[graft.llm.Decontaminate.benchGramSet]], eagerly materialized) and
    * reused by every batch; per-batch cost is the batch's own gram pass
    * plus a broadcast semi-join against that set — proportional to the
    * batch, never the corpus or the stream history. Decontamination is
    * per-document against a static reference, so batch boundaries cannot
    * change the admitted set: the streamed result equals the batch
    * [[graft.llm.Decontaminate.clean]] over the same documents (pinned by
    * the ▶ contract query's oracle).
    */
  def foreachBatchDecontaminate(docs: DataFrame, bench: DataFrame,
                                outDir: String, checkpointDir: String,
                                textCol: String, idCol: String,
                                n: Int = 3, threshold: Double = 0.5,
                                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val benchGrams = graft.llm.Decontaminate.benchGramSet(bench, textCol, idCol, n)
    Sinks.startSink(docs, checkpointDir, trigger) { (batch, id) =>
      graft.ops.Generations.writeBatch(
        graft.llm.Decontaminate.cleanAgainstGrams(batch, benchGrams, textCol, idCol, n, threshold),
        outDir, id)
    }
  }
}
