package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components + dedup resolution — the endgame of every
  * near-dup pipeline: pairs (from MinHash/LSH, SimHash, n-gram Jaccard,
  * embedding cosine, …) → transitive clusters → ONE kept document per
  * cluster. Without this step a pair list is not a dedup decision: A~B
  * and B~C must collapse {A,B,C} even when A and C never paired.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * standard shared-nothing CC algorithm at the 100 TB scale this engine
  * targets:
  *
  *   - every round is two shuffle stages (a min-aggregate and an
  *     equi-join per star), all on the node-id key — no collects, no
  *     driver-side graph state, nothing proportional to data on the
  *     driver;
  *   - converges in O(log n) rounds on real graphs (provably O(log² n));
  *     near-dup graphs — short chains, small cliques — converge in 2-3;
  *   - large-star splits high-degree hubs by construction (each
  *     neighbor-partition re-points independently), so a viral document
  *     paired with millions of others does not serialize into one task
  *     the way a label-propagation groupBy(component) would.
  *
  * Per-round frames are materialized via checkpoint (reliable when the
  * session has a checkpoint dir — the production setting; localCheckpoint
  * otherwise) so the iterative plan does not accrete lineage, and
  * convergence is detected by a 1-row (count, hash-sum) fingerprint
  * aggregate — two scalars per round on the driver, never edges.
  *
  * Reference surface: debezium-incubator's pipelines stop at pair
  * emission; cluster resolution is the post-processing its users run
  * downstream. Expressed here Spark-first as a first-class operator.
  */
object Graph extends org.apache.spark.internal.Logging {

  /** Connected components over an edge list. Returns one row per node
    * that appears in `edges`: (id, component) with `component` = the
    * minimum node id in the component (deterministic labels — safe to
    * hash-compare across engines). Self-loops are ignored; edge
    * direction and duplicates are irrelevant.
    *
    * Node ids must be castable to long (docs/vectors in this engine key
    * by long ids; hash string keys first — xxhash64 — if needed).
    * Throws if `maxIter` alternating rounds do not converge (the
    * algorithm's bound is O(log² n), so 50 rounds covers any realistic
    * graph; silent partial labels would poison a dedup downstream).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50): DataFrame = {
    // canonical big→small orientation, self-loops dropped, exact dups
    // merged — one shuffle, and every later round preserves the invariant
    var e = truncate(
      edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
        .where(col("s") =!= col("d") && col("s").isNotNull && col("d").isNotNull)
        .select(greatest(col("s"), col("d")).as("src"), least(col("s"), col("d")).as("dst"))
        .distinct())
    var fp = fingerprint(e)
    var it = 0
    var converged = fp._1 == 0L // an edgeless graph is already a (empty) star forest
    while (!converged && it < maxIter) {
      val t0 = System.nanoTime()
      val next = truncate(smallStar(largeStar(e)))
      val nfp = fingerprint(next)
      converged = nfp == fp
      free(e)
      e = next; fp = nfp; it += 1
      logInfo(s"connectedComponents round $it: ${nfp._1} edges, " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s, converged=$converged")
    }
    if (!converged) {
      free(e)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter alternating rounds " +
          s"(edge fingerprint still moving: $fp) — the bound is O(log^2 n), so " +
          "this indicates non-deterministic input ids, not a large graph")
    }
    // at the fixpoint the edge set is a star forest (member → component
    // min); the assignment is the edges plus one self-row per root
    e.select(col("src").as("id"), col("dst").as("component"))
      .union(e.select(col("dst").as("id"), col("dst").as("component")).distinct())
  }

  /** INCREMENTAL connected components — merge a new batch of edges into
    * an existing assignment without re-traversing historical edges: the
    * assignment's (id, component) rows ARE edges (every node linked,
    * transitively via its representative, to every old neighbor), so CC
    * over assignment-edges ∪ new-edges yields exactly the components of
    * the full historical graph plus the batch. Because labels are
    * component-MINIMUM ids on both paths, the result is ROW-IDENTICAL
    * to a full recompute (spec-pinned and oracle-checked against the
    * full-closure SQL), not merely isomorphic — so batches can chain
    * forever: feed each output back as the next call's assignment.
    *
    * Cost: the traversed graph is |V_old| + |E_new| edges instead of
    * |E_old| + |E_new| — the pair history never needs retention; the
    * ASSIGNMENT is the state, the same state-is-the-index rule as the
    * LSH/IVF append families. Nodes whose component collapses to a
    * singleton (self-loop-only in the union) are re-emitted with their
    * own id, so output coverage is exactly nodes(assignment) ∪
    * nodes(newEdges).
    */
  def incrementalComponents(assignment: DataFrame, idCol: String, compCol: String,
                            newEdges: DataFrame, srcCol: String, dstCol: String,
                            maxIter: Int = 50): DataFrame = {
    val oldE = assignment.select(
      col(idCol).cast("long").as("s"), col(compCol).cast("long").as("d"))
    val newE = newEdges.select(
      col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
    val comp = connectedComponents(oldE.unionByName(newE), "s", "d", maxIter)
    // the core drops self-loops, so roots/singletons with no surviving
    // edge fall out of its output — restore them as their own label
    val nodes = oldE.select(col("s").as("id"))
      .union(oldE.select(col("d").as("id")))
      .union(newE.select(col("s").as("id")))
      .union(newE.select(col("d").as("id")))
      .where(col("id").isNotNull).distinct()
    nodes.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Dedup resolution over a full corpus: assign every doc its near-dup
    * component (docs in no pair are their own singleton component) and
    * flag the ONE canonical doc to keep per component — the doc
    * maximizing `prefer` (e.g. `length($"text")`, a quality score), ties
    * broken toward the SMALLEST id so the choice is deterministic.
    *
    * The canonical pick is a `max_by(id, struct(prefer, -id))` hash
    * aggregate — partial aggregation on the map side, so a pathological
    * million-doc component costs a wide agg, never a single-task window
    * (the `row_number over (partition by component)` idiom this
    * deliberately avoids).
    *
    * Returns (id, component, is_canonical) for EVERY doc in `docs`.
    */
  def dedupResolve(docs: DataFrame, idCol: String, prefer: Column,
                   pairs: DataFrame, aCol: String, bCol: String,
                   maxIter: Int = 50): DataFrame =
    resolveFromAssignment(docs, idCol, prefer,
      connectedComponents(pairs, aCol, bCol), "id", "component")

  /** [[dedupResolve]] when the components already exist — the read side
    * of the persisted-assignment lifecycle ([[foldBatch]] /
    * `Ingest.foreachBatchResolve` maintain the assignment as the stream
    * runs; THIS turns it into the corpus-wide keeper/drop decision on
    * demand, without re-running any CC): docs outside the assignment
    * are their own singleton component, the canonical pick is the same
    * skew-proof `max_by` hash aggregate (never a per-component window).
    */
  def resolveFromAssignment(docs: DataFrame, idCol: String, prefer: Column,
                            assignment: DataFrame, aIdCol: String,
                            compCol: String): DataFrame = {
    val comp = assignment.select(
      col(aIdCol).cast("long").as("id"), col(compCol).cast("long").as("component"))
    val assigned = docs
      .select(col(idCol).cast("long").as("id"), prefer.as("__pref"))
      .join(comp, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
    val canon = assigned.groupBy(col("component"))
      .agg(expr("max_by(id, struct(__pref, -id))").as("__canonical"))
    assigned.join(canon, Seq("component"))
      .select(col("id"), col("component"),
        (col("id") === col("__canonical")).as("is_canonical"))
  }

  /** PERSISTED assignment folding — the streaming K13 state step: merge
    * one batch of near-dup pairs into the crash-atomically persisted
    * (id, component) assignment at `path`. The first fold runs a plain
    * [[connectedComponents]]; every later fold goes through
    * [[incrementalComponents]], so the traversed graph is |V_assigned| +
    * |E_batch| — pair history is never retained or re-read. The
    * ASSIGNMENT is the state (the same state-is-the-index rule as the
    * LSH/IVF append families).
    *
    * Durability is a [[Generations]] swap: the new assignment is fully
    * written into the next `assignment_gen=N/` directory and becomes
    * current the instant its immutable commit marker lands, so readers
    * always resolve a COMPLETE assignment and a crash at any point
    * leaves the previous fold served. Superseded generations are GC'd
    * down to current+previous (the in-flight-reader grace period).
    *
    * Replay safety (foreachBatch is at-least-once) needs NO batch-id
    * sidecar here, unlike the append families: folding edges whose
    * closure the assignment already contains is a mathematical no-op
    * (CC(assignment ∪ E) = assignment when E's closure ⊆ assignment), so
    * a replayed batch recomputes the identical assignment and publishes
    * a content-identical generation. An edgeless batch is skipped
    * entirely.
    */
  def foldBatch(spark: SparkSession, path: String, pairs: DataFrame,
                aCol: String, bCol: String, maxIter: Int = 50,
                batchId: Long = -1L): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Retired-lineage guard (mirrors the novelty family's enforced rule):
    // [[pairsCompact]] folds streaming store partitions into __batch=0,
    // so a replay of an already-compacted batch would (a) resurrect
    // pairs the compaction pruned and (b) dynamic-overwrite the folded
    // partition itself. Refused loudly — drop the folding stream's
    // checkpoint before compacting.
    val wm = pairsCompactWatermark(fs, path)
    require(batchId < 0L || wm.forall(batchId > _),
      s"batchId $batchId is at or below the pair-store compaction " +
        s"watermark ${wm.get} — batches folded by pairsCompact cannot be " +
        "replayed (drop the folding stream's checkpoint before compacting)")
    // canonicalize BEFORE the emptiness probe: a batch of self-loops /
    // nulls only must be a no-op, not an empty published generation.
    // Materialized ONCE — the frame feeds the emptiness probe, the
    // evidence write, the re-ingest guard, and the CC fold (an uncached
    // caller pipeline, e.g. a pair miner, would otherwise run 3-4×).
    val edges = truncate(
      pairs.select(col(aCol).cast("long").as("s"), col(bCol).cast("long").as("d"))
        .where(col("s") =!= col("d") && col("s").isNotNull && col("d").isNotNull))
    try {
      if (edges.isEmpty) return
      // Re-ingest guard (the delete-side id rule shared with the LSH /
      // novelty families, ENFORCED here because this family's evidence
      // store is what a stale id poisons): an edge touching a tombstoned
      // id would make the retracted era's stored pairs read as evidence
      // about the re-ingested doc. Tombstone set is retraction-bounded →
      // two broadcast semi-probes over the (checkpointed) batch.
      Tombstones.set(spark, path).foreach { r =>
        val ts = broadcast(r.select(col("id")).distinct().localCheckpoint(true))
        val nBad =
          edges.join(ts.select(col("id").as("s")), Seq("s"), "left_semi").count() +
            edges.join(ts.select(col("id").as("d")), Seq("d"), "left_semi").count()
        require(nBad == 0L,
          s"$nBad edge endpoint(s) in this batch are retracted ids still " +
            "tombstoned in the pair store — re-ingest of a retracted id is " +
            "safe only after pairsCompact has folded its tombstone")
      }
      // pair-evidence store, written BEFORE the fold commits (a crash
      // between the two replays into a no-op refold + identical rewrite;
      // the reverse order could publish a closure whose evidence a
      // retraction later needs and cannot find). Bucketed by the SMALLER
      // endpoint id mod [[PairBuckets]] — equivalent to component
      // bucketing for pruning (a component label IS the min member id,
      // current or historical, so every pair a retraction must see lives
      // in a bucket of some affected-member-or-removed id) without the
      // edge→component join a label-keyed layout would need per fold, and
      // immune to label drift when components later merge.
      val canonical = edges
        .select(greatest(col("s"), col("d")).as("src"),
          least(col("s"), col("d")).as("dst"))
        .distinct()
        // int: partition-dir inference reads the values back as int, and
        // the prune literals must match the column type exactly or the
        // induced cast defeats partition pruning
        .withColumn("__cb", pmod(col("dst"), lit(PairBuckets)).cast("int"))
      if (batchId >= 0L)
        // streaming folds: a replayed batch rewrites exactly itself
        Generations.writeBatch(canonical, pairStoreDir(fs, path), batchId, "__cb")
      else
        // one-shot folds with no replay lineage: plain append (duplicate
        // pairs from a re-run are absorbed — every consumer distincts,
        // and [[pairsCompact]] folds them away physically), in the
        // writer's `__cb=`/`__batch=` layout
        canonical.withColumn("__batch", lit(batchId)).write.mode("append")
          .partitionBy("__cb", "__batch").parquet(pairStoreDir(fs, path))
      val cur = Generations.genDir(root, AssignmentBase,
        Generations.currentGen(fs, root, AssignmentBase))
      val next =
        if (fs.exists(cur))
          incrementalComponents(spark.read.parquet(cur.toString), "id", "component",
            edges, "s", "d", maxIter)
        else connectedComponents(edges, "s", "d", maxIter)
      Generations.swap(fs, root, AssignmentBase) { staged =>
        next.write.mode("overwrite").parquet(staged.toString)
      }
    } finally free(edges)
  }

  /** Buckets of the fold-time pair-evidence store — enough for a
    * retraction's partition pruning to skip most of the pair history on
    * a small removal batch, few enough that a micro-batch fold does not
    * spray thousands of small files.
    */
  val PairBuckets = 64L

  private val PairsBase = "pairs"
  private val PairsWatermarkFile = "_compact_watermark"

  /** The pair store's serving directory — generation-resolved, so folds
    * land in (and retractions read) the store [[pairsCompact]] last
    * committed; a never-compacted store is the plain `pairs/` dir.
    */
  private[graft] def pairStoreDir(fs: org.apache.hadoop.fs.FileSystem,
                                  path: String): String =
    Generations.currentDir(fs, new Path(path), PairsBase).toString

  /** Highest streaming `__batch` id [[pairsCompact]] has folded into the
    * store's `__batch=0` — None if never compacted. Lives INSIDE the
    * store's generation dir (underscore prefix → invisible to the
    * parquet scan), so it rides the same crash-atomic swap as the folded
    * data it describes.
    */
  private def pairsCompactWatermark(fs: org.apache.hadoop.fs.FileSystem,
                                    path: String): Option[Long] =
    StateFiles.read(fs, new Path(pairStoreDir(fs, path), PairsWatermarkFile))(_.toLong)

  /** Threshold-gated maintenance for the pair store — the engine's
    * standard reporting shape: COMPACT when retraction tombstones are
    * pending (stale evidence to prune — and the step that re-opens
    * [[foldBatch]] for those ids) or the store has fragmented past
    * `maxLiveBatches` live `__batch` partitions, else no-op. Returns
    * "compact" | "none"; both probes are FS listings.
    */
  def pairsMaintain(spark: SparkSession, path: String,
                    maxLiveBatches: Int = 8): String = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new Path(pairStoreDir(fs, path))
    require(fs.exists(store),
      s"no pair-evidence store at $path — fold at least one batch first")
    val liveBatches = Generations.requireBatchLayout(fs, store).size
    val pendingRets = Tombstones.retIds(spark, path).nonEmpty
    if (pendingRets || liveBatches > maxLiveBatches) {
      pairsCompact(spark, path); "compact"
    } else "none"
  }

  /** COMPACT the pair-evidence store: physically drop every pair
    * touching a tombstoned (retracted) id, fold all `__batch` fragments
    * (including the append-mode `__batch=-1` area, whose re-run
    * duplicates collapse in the distinct) into one `__batch=0`, and
    * clear the tombstones — the graph family's twin of the LSH / BM25 /
    * novelty compactions, and the step that DISCHARGES the re-ingest
    * precondition: after this, [[foldBatch]]'s tombstone guard passes
    * for a previously retracted id because no stale evidence about it
    * survives anywhere.
    *
    * Crash ordering: the rewrite rides a [[Generations]] swap (readers
    * resolve a complete store at every instant); the folded-batch
    * watermark commits with the swap, so a replayed streaming fold can
    * never overwrite the folded partition; tombstones clear LAST — a
    * crash before the clear re-runs the (idempotent) prune over the
    * already-pruned store.
    */
  def pairsCompact(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val storeDir = pairStoreDir(fs, path)
    if (!fs.exists(new Path(storeDir))) return
    val cur = spark.read.parquet(storeDir)
      .select(col("src"), col("dst"), col("__cb"), col("__batch"))
    val top = cur.agg(max(col("__batch").cast("long"))).head()
    val folded = if (top.isNullAt(0)) -1L else top.getLong(0)
    // __batch=0 is where the fold lands, so the watermark is never
    // below 0 even for an append-only (-1) store
    val wm = math.max(0L,
      math.max(pairsCompactWatermark(fs, path).getOrElse(-1L), folded))
    val pruned = Tombstones.set(spark, path) match {
      case None => cur
      case Some(r) =>
        val ts = r.select(col("id")).distinct().localCheckpoint(true)
        cur.join(broadcast(ts.select(col("id").as("src"))), Seq("src"), "left_anti")
          .join(broadcast(ts.select(col("id").as("dst"))), Seq("dst"), "left_anti")
    }
    Generations.swap(fs, root, PairsBase) { staged =>
      Generations.writeBatch(pruned.select(col("src"), col("dst"), col("__cb")).distinct(),
        staged.toString, 0L, "__cb")
      StateFiles.replace(fs, new Path(staged, PairsWatermarkFile), wm.toString.getBytes("UTF-8"))
    }
    Tombstones.clear(spark, path)
  }

  /** RETRACTION — remove documents from the persisted assignment and
    * re-close ONLY the components they touched. Removing a doc can
    * SPLIT a component (the star assignment keeps labels, not the pair
    * evidence — a bridge doc's neighbors may have no surviving path),
    * so retraction needs pair evidence for the affected components:
    * `pairs` must cover (at least) the historically folded pairs among
    * the affected components' surviving members — either a retained
    * pair log or a re-mine over just those docs (bounded by the
    * affected membership, never the corpus). Pairs reaching OUTSIDE
    * the affected components are ignored: an untouched component's
    * rows survive verbatim (by closure, no historical pair crosses
    * component boundaries).
    *
    * Result: rows of removed docs are gone; affected components are
    * re-closed from the surviving pairs (members left pairless become
    * their own singletons, preserving output coverage =
    * nodes(assignment) ∖ removed); labels remain component-minimum
    * ids, so the published assignment is ROW-IDENTICAL to a
    * from-scratch closure over the surviving pair set (oracle-pinned
    * by `k13_retract`). Publishing rides the same crash-atomic
    * generation swap as [[foldBatch]]; a replay of the same retraction
    * republishes a content-identical generation (idempotent).
    *
    * Scale shape: the affected component set is bounded by the removal
    * batch; everything beyond three semi/anti-joins on the assignment
    * runs on the affected subgraph only.
    */
  def retractBatch(spark: SparkSession, path: String, removedIds: DataFrame,
                   idCol: String, pairs: DataFrame, aCol: String, bCol: String,
                   maxIter: Int = 50, retractionId: Long = -1L): Unit = {
    val evidence = pairs
      .select(col(aCol).cast("long").as("s"), col(bCol).cast("long").as("d"))
      .where(col("s") =!= col("d") && col("s").isNotNull && col("d").isNotNull)
    retractCore(spark, path, removedIds, idCol, (_, _) => evidence, maxIter,
      retractionId)
  }

  /** [[retractBatch]] reading its pair evidence from the store
    * [[foldBatch]] persists — the scale-safe delete path: instead of a
    * full pair-history scan (or a caller-retained log), the read is
    * PARTITION-PRUNED to the buckets of the affected members ∪ removed
    * ids. Every pair inside an affected component (under any historical
    * label) has its smaller endpoint among those ids, so the pruned
    * read is exact, and on a small removal batch it touches a handful
    * of `__cb=` directories out of [[PairBuckets]] — O(affected), never
    * O(pair history).
    *
    * Stale-evidence lifecycle: the retraction tombstones its ids (see
    * [[retractCore]]'s ordering note); pairs touching them stay in the
    * store PHYSICALLY until [[pairsCompact]] prunes them, but can never
    * be READ as live evidence — retraction restricts evidence to
    * surviving assignment members, and a removed id cannot re-enter the
    * assignment because [[foldBatch]] refuses tombstoned endpoints. The
    * compaction is what discharges the re-ingest rule and bounds the
    * store's growth.
    */
  def retractBatchStored(spark: SparkSession, path: String, removedIds: DataFrame,
                         idCol: String, maxIter: Int = 50,
                         retractionId: Long = -1L): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(pairStoreDir(fs, path))),
      s"no pair-evidence store at $path — fold batches through foldBatch " +
        "(which persists it) or pass the evidence to retractBatch directly")
    retractCore(spark, path, removedIds, idCol, (members, removed) => {
      // ≤ PairBuckets distinct values; the aggregate is distributed and
      // only the bucket list reaches the driver
      val buckets = members
        .select(pmod(col("id"), lit(PairBuckets)).cast("int").as("b"))
        .union(removed.select(pmod(col("id"), lit(PairBuckets)).cast("int").as("b")))
        .distinct().collect().map(_.getInt(0)).toIndexedSeq
      spark.read.parquet(pairStoreDir(fs, path))
        .where(col("__cb").isin(buckets: _*))
        .select(col("src").as("s"), col("dst").as("d"))
    }, maxIter, retractionId)
  }

  /** Shared retraction core: `evidence(members, removed)` supplies the
    * pair rows as canonical long (s, d) — either caller-retained or the
    * pruned store read.
    */
  private def retractCore(spark: SparkSession, path: String, removedIds: DataFrame,
                          idCol: String,
                          evidence: (DataFrame, DataFrame) => DataFrame,
                          maxIter: Int, retractionId: Long): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val asg = assignment(spark, path)
    val removed = removedIds.select(col(idCol).cast("long").as("id"))
      .where(col("id").isNotNull).distinct().localCheckpoint(true)
    if (removed.isEmpty) return
    // components losing at least one member — bounded by the removal batch
    val affected = asg.join(removed, Seq("id"), "left_semi")
      .select(col("component")).distinct().localCheckpoint(true)
    val untouched = asg.join(affected, Seq("component"), "left_anti")
    // surviving members of the affected components
    val members = asg.join(affected, Seq("component"), "left_semi")
      .join(removed, Seq("id"), "left_anti")
      .select(col("id")).localCheckpoint(true)
    // pair evidence restricted to surviving affected members (drops
    // pairs touching removed docs AND pairs outside the affected set)
    val e = evidence(members, removed)
      .join(members.select(col("id").as("s")), Seq("s"), "left_semi")
      .join(members.select(col("id").as("d")), Seq("d"), "left_semi")
    val reclosed = connectedComponents(e, "s", "d", maxIter)
    // members whose every pair involved a removed doc → singletons
    val rebuilt = members.join(reclosed, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    val next = untouched.select(col("id"), col("component")).unionByName(rebuilt)
    Generations.swap(fs, root, AssignmentBase) { staged =>
      next.write.mode("overwrite").parquet(staged.toString)
    }
    // Tombstone the removed ids AFTER the assignment commit: the
    // assignment is physically pruned (the tombstones are not a read
    // filter here) — they (a) make [[foldBatch]] refuse a premature
    // re-ingest loudly and (b) tell [[pairsCompact]] which stored pairs
    // are stale evidence to drop. A crash between the commit and this
    // write replays into an identical republish + the tombstone catch-up.
    // retractionId < 0 → derive the next monotone id (a replay then adds
    // a duplicate tombstone batch of the same ids — harmless: every
    // consumer reads the DISTINCT id set).
    val rid =
      if (retractionId >= 0L) retractionId
      else Tombstones.retIds(spark, path).lastOption.getOrElse(-1L) + 1L
    Tombstones.write(spark, path, removed, "id", rid)
  }

  /** The current persisted (id, component) assignment at `path` —
    * generation-resolved, so it is always a complete fold. Refuses
    * loudly before the first fold.
    */
  def assignment(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = Generations.currentDir(fs, root, AssignmentBase)
    require(fs.exists(cur),
      s"no persisted assignment at $path — fold at least one pair batch first")
    spark.read.parquet(cur.toString)
  }

  private val AssignmentBase = "assignment"

  /** large-star: every node re-points its LARGER neighbors at the
    * minimum of its neighborhood (including itself). Emitted edges
    * (v, m) keep the big→small invariant because v > u ≥ m.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src"), least(col("__mn"), col("src")).as("__m"))
    sym.join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("__m").as("dst"))
      .distinct()
  }

  /** small-star: every node links its SMALLER-or-equal neighbors (and
    * itself) to the minimum among them. Output re-canonicalized — the
    * emitted (neighbor, min) pairs have no fixed order between them.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("src")).agg(min(col("dst")).as("__m"))
    val j = e.join(mins, "src")
    j.select(col("dst").as("a"), col("__m").as("b"))
      .union(mins.select(col("src").as("a"), col("__m").as("b")))
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("src"), least(col("a"), col("b")).as("dst"))
      .distinct()
  }

  /** (row count, xxhash64 sum) of the canonical edge set — the 1-row
    * convergence fingerprint. Sum-of-hashes is order-independent; a
    * collision would need two DIFFERENT edge sets with equal count and
    * equal 64-bit hash sum in the SAME iteration chain — not a realistic
    * failure mode, and the alternative (an `except` per round) is a full
    * extra shuffle.
    */
  private def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
    // decimal(38,0) sum: a long sum would ANSI-overflow after ~2 edges
    // (xxhash64 spans the full 64-bit range); 38 digits hold 10^18 edges
    val r = e.agg(count(lit(1)),
      sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
  }

  /** Materialize + truncate lineage: reliable checkpoint when the
    * session has a checkpoint dir (the production setting — survives
    * executor loss), localCheckpoint otherwise (local/test rigs; blocks
    * are freed by [[free]] as rounds retire).
    */
  private def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Release a retired round's materialized blocks (checkpointed frames
    * pin storage until GC otherwise; at 100 TB that is the cluster's
    * whole storage memory after a few rounds).
    */
  private def free(df: DataFrame): Unit =
    try df.unpersist(false) catch { case _: Throwable => () }
}
