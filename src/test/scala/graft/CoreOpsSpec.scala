package graft

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.ops.Joins
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CoreOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- vectors -----------------------------------------------------------

  test("cosine: identical=1, orthogonal=0, symmetric, bounded") {
    val df = Seq(
      (Seq(1f, 0f, 0f), Seq(1f, 0f, 0f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),
      (Seq(1f, 2f, 3f), Seq(-3f, 2f, -1f))).toDF("a", "b")
    val out = df.select(
      VectorFunctions.cosine(col("a"), col("b")).as("ab"),
      VectorFunctions.cosine(col("b"), col("a")).as("ba")).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(out(1).getDouble(0)) < 1e-12)
    assert(out(2).getDouble(0) === out(2).getDouble(1)) // symmetry
    out.foreach(r => assert(r.getDouble(0) >= -1.0 - 1e-12 && r.getDouble(0) <= 1.0 + 1e-12))
  }

  test("cosine: zero vector yields null, not NaN") {
    val df = Seq((Seq(0f, 0f), Seq(1f, 1f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosine(col("a"), col("b"))).head.isNullAt(0))
  }

  test("normalize produces unit vectors") {
    val df = Seq(Tuple1(Seq(3f, 4f))).toDF("a")
    val n = df.select(VectorFunctions.l2Norm(VectorFunctions.normalize(col("a")))).head.getDouble(0)
    assert(math.abs(n - 1.0) < 1e-12)
  }

  test("signBucket is deterministic and bounded") {
    val df = Seq(Tuple1(Seq.fill(8)(0.5f)), Tuple1(Seq.fill(8)(-0.5f))).toDF("v")
    val b1 = df.select(VectorFunctions.signBucket(col("v"), 3, 8)).collect().map(_.getInt(0))
    val b2 = df.select(VectorFunctions.signBucket(col("v"), 3, 8)).collect().map(_.getInt(0))
    assert(b1.sameElements(b2))
    b1.foreach(b => assert(b >= 0 && b < 8))
  }

  test("IVF knn recall vs brute force on real embeddings") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
    val corpus = e.select(col("vec_id").as("id"), col("embedding"))
    val queries = e.where(col("vec_id") < 10).select(col("vec_id").as("id"), col("embedding"))
    val exact = Similarity.bruteForceKnn(corpus, queries, "embedding", "id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val (indexed, centroids) = Similarity.ivfIndex(
      e.select(col("vec_id").as("id"), col("embedding").as("v")), "v", "id", 16, 1)
    val approx = Similarity.ivfKnn(indexed, centroids, queries, "embedding", "id", 5, 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  // ---- text --------------------------------------------------------------

  test("ngrams basics and edges") {
    val df = Seq("a b c d", "a b", "", "  x  ").toDF("t")
    val out = df.select(ngrams(tokens(col("t")), 3).as("g")).as[Seq[String]].collect()
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq.empty)
    assert(out(2) === Seq.empty)
    assert(out(3) === Seq.empty) // single token, n=3
  }

  test("native minhash signature matches the HOF witness bit-for-bit") {
    val docs = core.Engine.table(spark, TestSpark.sf, "documents")
    val hs = docs.select(col("doc_id"),
        array_distinct(shingleHashes(ngrams(tokens(normalizeText(col("text"))), 3))).as("hs"))
      .where(size(col("hs")) > 0)
    val both = hs.select(col("doc_id"),
      graft.functions.MinHashSignature(col("hs"), 16).as("nat"),
      minhashSignatureFast(col("hs"), 16).as("hof"))
    assert(both.count() > 0)
    assert(both.where(not(col("nat") === col("hof"))).count() === 0)
    // empty input → null signature (callers filter shingle-less docs)
    val empty = Seq(Seq.empty[Long]).toDF("hs")
      .select(graft.functions.MinHashSignature(col("hs"), 4).as("sig"))
    assert(empty.where(col("sig").isNull).count() === 1)
  }

  test("minhash is order-insensitive over the shingle set") {
    val df = Seq("w1 w2 w3 w4 w5", "w3 w4 w5 w1 w2").toDF("text")
    // different orders → different shingles, but equality on a shared set:
    val sig = df.select(minhashComponent(array(lit("x"), lit("y"), lit("z")), 7)).distinct()
    assert(sig.count() === 1)
  }

  test("jaccard: identical=1, disjoint=0, empty→null") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq.empty[String])).toDF("a", "b")
    val out = df.select(jaccard(col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) === 1.0)
    assert(out(1).getDouble(0) === 0.0)
    assert(out(2).isNullAt(0))
  }

  test("simhash bounded to bit width; identical text → distance 0") {
    val df = Seq("spark query engine", "spark query engine", "totally different words here")
      .toDF("text")
    val sigs = df.select(simhash(tokens(col("text")), 16).as("s")).as[Long].collect()
    sigs.foreach(s => assert(s >= 0 && s < (1L << 16)))
    assert(sigs(0) === sigs(1))
    // the split-projection form (tokenHashes materialized once, the
    // corpus-scale path simhashBandedRows takes) is bit-identical to the
    // single-expression form
    val split = df.select(tokenHashes(tokens(col("text"))).as("__th"))
      .select(simhashFromHashes(col("__th"), 16).as("s")).as[Long].collect()
    assert(split.toSeq === sigs.toSeq, "split-projection simhash must be bit-identical")
  }

  test("langId picks marker language, und when no markers") {
    val df = Seq("the and of to is", "le et la les est", "xyzzy plugh").toDF("text")
    val out = df.select(langId(tokens(col("text")))).as[String].collect()
    assert(out(0) === "en")
    assert(out(1) === "fr")
    assert(out(2) === "und")
  }

  test("qualityScore stays in [0,1]") {
    val df = Seq("the quick brown fox jumps over the lazy dog and runs far away today",
      "!!!", "x").toDF("text")
    val out = df.select(qualityScore(col("text"))).as[Double].collect()
    out.foreach(q => assert(q >= 0.0 && q <= 1.0))
  }

  // ---- dedup -------------------------------------------------------------

  test("exact dedup keeps smallest id and is idempotent") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("id", "text")
    val once = Dedup.exact(df, "text", "id")
    assert(once.select("id").as[Long].collect().sorted === Array(1L, 3L))
    val twice = Dedup.exact(once, "text", "id")
    assert(twice.count() === once.count())
  }

  test("minhashDedup output is a subset of input") {
    val docs = core.Engine.table(spark, TestSpark.sf, "documents")
    val kept = Dedup.minhashDedup(docs, "text", "doc_id", threshold = 0.8)
    assert(kept.count() <= docs.count())
    assert(kept.join(docs, Seq("doc_id"), "left_anti").count() === 0)
  }

  test("decontaminate: exact benchmark copy flagged, disjoint text clean") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // exact copy → overlap 1.0
      (2L, "alpha beta gamma zz yy xx ww"),   // 1 of 5 grams hit → 0.2
      (3L, "one two three four five six"),    // disjoint vocab → 0 hits
      (4L, "tiny doc")                        // < 3 tokens → 0 grams, clean
    ).toDF("id", "text")
    val st = llm.Decontaminate.overlapStats(docs, bench, "text", "id", n = 3, threshold = 0.5)
      .orderBy("id")
      .select("id", "n_grams", "n_hits", "overlap", "contaminated")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(st(0) === ((1L, 3L, 3L, 1.0, true)))
    assert(st(1) === ((2L, 5L, 1L, 0.2, false)))
    assert(st(2) === ((3L, 4L, 0L, 0.0, false)))
    assert(st(3) === ((4L, 0L, 0L, 0.0, false)))
    val kept = llm.Decontaminate.clean(docs, bench, "text", "id", n = 3, threshold = 0.5)
    assert(kept.select("id").as[Long].collect().sorted === Array(2L, 3L, 4L))
  }

  test("chunkDocuments: stride coverage, edge sizes, empty docs") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 toks → chunks at 0,3,6
      (2L, "a b"),                             // under chunkSize → 1 chunk
      (3L, " ")                                // zero tokens → no rows
    ).toDF("id", "text")
    val ch = llm.TextAnalysis.chunkDocuments(docs, "text", "id", chunkSize = 4, stride = 3)
      .orderBy("id", "chunk_id")
      .as[(Long, Long, Long, String)].collect()
    assert(ch === Array(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 2L, "a b")))
    // every input token appears in some chunk (stride <= chunkSize)
    val covered = ch.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered === (1 to 10).map(i => s"t$i").toSet)
  }

  test("repetitionSignals: hand-checked dominants, ties to min gram, zero exchange") {
    val docs = Seq(
      // "x y" ×3 dominates the bigrams; "x y x y x" repeats its 5-gram
      (1L, "x y x y x y x"),
      // every bigram unique; tie on count 1 must break to the lex-min
      (2L, "b a c"),
      (3L, "solo"),   // 1 token: no grams at all
      (4L, " ")       // zero tokens
    ).toDF("id", "text")
    val out = llm.TextAnalysis.repetitionSignals(docs, "text", "id")
      .orderBy("id").collect()
    val r1 = out(0)
    // doc 1: 7 tokens, 6 bigrams, "x y" ×3, "x y x" ×3 of 5 trigrams,
    // 5-grams: [x y x y x, y x y x y, x y x y x] → 1 duplicate of 3
    assert((r1.getLong(1), r1.getLong(2)) === ((7L, 13L))) // tokens, chars
    assert((r1.getLong(3), r1.getString(4), r1.getLong(5)) === ((3L, "x y", 9L)))
    assert(r1.getDouble(6) === 0.5) // 3/6
    assert((r1.getLong(7), r1.getString(8)) === ((3L, "x y x")))
    assert((r1.getLong(10), r1.getLong(11), r1.getDouble(12)) === ((1L, 3L, 0.333333)))
    val r2 = out(1)
    assert((r2.getLong(3), r2.getString(4)) === ((1L, "a c")),
      "count ties must break to the lexicographically smallest gram")
    val r3 = out(2)
    assert((r3.getLong(3), r3.getString(4), r3.getLong(10)) === ((0L, "", 0L)))
    assert(out(3).getLong(1) === 0L)
    // the scale claim: per-row HOFs only — no exchange anywhere
    val plan = llm.TextAnalysis.repetitionSignals(
      core.Engine.table(spark, TestSpark.sf, "documents"), "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"repetitionSignals must not shuffle:\n$plan")
  }

  test("connectedComponents: transitive closure incl. a 4-node chain") {
    // components: {1,2,3,4} via chain 1-2-3-4 (needs >1 round), {7,8}, {9} absent (no edges)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("dedupAgainstIndex drops corpus near-dups from a new batch, keeps fresh docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different corpus content about spark engines"))
      .toDF("id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-inc-idx").toString
    Dedup.minhashIndexWrite(corpus, "text", "id", path, shingleN = 3, k = 8, bands = 4)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
      (11L, "entirely novel text that matches nothing in the corpus at all"))
      .toDF("id", "text")
    val kept = Dedup.dedupAgainstIndex(spark, path, batch, "text", "id",
      shingleN = 3, k = 8, bands = 4, threshold = 0.8)
    assert(kept.select("id").as[Long].collect().toSet === Set(11L))
    // and the pair view names the corpus doc it matched
    val pairs = Dedup.minhashPairsAgainstIndex(spark, path, batch, "text", "id",
      shingleN = 3, k = 8, bands = 4, jaccardThreshold = 0.8)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 1L)))
  }

  test("connectedComponents raises instead of returning non-converged labels") {
    // a 5-node chain needs >1 star round; maxIter=1 must throw,
    // never silently return split clusters
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, "id_a", "id_b", maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("LSH bucket cap keeps a degenerate identical-doc corpus from pair blowup") {
    // 1000 byte-identical docs land in ONE bucket per band: uncapped, the
    // self-join would emit ~500k pairs per band. With the cap every bucket
    // is over-wide and dropped — candidate generation stays empty and the
    // job finishes immediately (exact dedup is the right tool for these).
    val docs = (1 to 1000)
      .map(i => (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "text")
    val pairs = Dedup.minhashCandidatePairs(docs, "text", "id", maxBucketSize = 100)
    assert(pairs.count() === 0, "over-wide buckets must be dropped, not joined")
  }

  test("containmentPairs keeps a superset pair the Jaccard threshold drops") {
    // doc 1 is embedded verbatim in doc 2, which carries extra trailing
    // boilerplate: containment of A in B is exactly 1.0 while Jaccard
    // dilutes below a 0.9 dedup threshold. Both scores see the SAME
    // candidate (the bands still collide at this size ratio); the point
    // is the scoring semantics — the threshold that keeps the repost is
    // containment, not Jaccard.
    val small = (1 to 50).map(i => s"tok$i").mkString(" ")
    val filler = (1 to 8).map(i => s"extra$i").mkString(" ")
    val docs = Seq((1L, small), (2L, s"$small $filler"), (3L, "totally unrelated words"))
      .toDF("id", "text")
    val cont = Dedup.containmentPairs(docs, "text", "id",
        shingleN = 3, k = 8, bands = 4, containmentThreshold = 0.95)
      .where(col("id_a") === 1L && col("id_b") === 2L)
      .select("cont_a", "jaccard").as[(Double, Double)].collect()
    assert(cont.length === 1, "the superset pair must survive the containment threshold")
    assert(cont(0)._1 === 1.0d, s"A fully inside B must score cont_a 1.0, got ${cont(0)._1}")
    assert(cont(0)._2 < 0.9d, "the same pair must sit below the 0.9 Jaccard threshold")
    // the classic Jaccard path at the same strictness drops the pair
    val jac = Dedup.minhashCandidatePairs(docs, "text", "id",
      shingleN = 3, k = 8, bands = 4, jaccardThreshold = 0.9).count()
    assert(jac === 0L)
  }

  test("containmentDedup drops the contained doc, keeps superset and ties by id") {
    val small = (1 to 50).map(i => s"tok$i").mkString(" ")
    val filler = (1 to 8).map(i => s"extra$i").mkString(" ")
    val docs = Seq(
      (1L, small),                 // contained in 2 → dropped
      (2L, s"$small $filler"),     // the superset → kept
      (3L, "totally unrelated words"), // untouched → kept
      // exact mutual pair on its own token set → tie keeps id 10
      (10L, (1 to 40).map(i => s"other$i").mkString(" ")),
      (11L, (1 to 40).map(i => s"other$i").mkString(" "))
    ).toDF("id", "text")
    val kept = Dedup.containmentDedup(docs, "text", "id",
        shingleN = 3, k = 8, bands = 4, threshold = 0.9)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L, 10L))
  }

  test("persisted LSH index caps over-wide buckets at write time") {
    // Same degenerate corpus through the INCREMENTAL path: an uncapped
    // index bucket would join every colliding future batch forever, so the
    // cap must apply when buckets/ is written — and a colliding new batch
    // must then produce zero candidates (instead of O(new × bucket) pairs).
    val docs = (1 to 300)
      .map(i => (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-capidx").toString
    Dedup.minhashIndexWrite(docs, "text", "id", path,
      shingleN = 3, k = 8, bands = 4, maxBucketSize = 100)
    assert(spark.read.parquet(s"$path/buckets").count() === 0,
      "over-wide buckets must not be persisted in the index")
    val batch = Seq((1000L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "text")
    val pairs = Dedup.minhashPairsAgainstIndex(spark, path, batch, "text", "id",
      shingleN = 3, k = 8, bands = 4)
    assert(pairs.count() === 0)
  }

  test("partitioned sequence packing: no single-partition sort, matches per-lang global") {
    val docs = core.Engine.table(spark, TestSpark.sf, "documents")
    val packed = TextAnalysis.packSequences(docs, "text", "doc_id", 2048L, Seq("lang"))
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"partitioned packing must not plan a global single-partition sort:\n$plan")
    // differential: the partitioned form restricted to one language equals
    // packing that language's docs through the global-order form
    val viaPart = packed.where(col("lang") === "en")
      .select("doc_id", "bin").as[(Long, Long)].collect().toSet
    val viaGlobal = TextAnalysis.packSequences(
        docs.where(col("lang") === "en"), "text", "doc_id", 2048L)
      .select("doc_id", "bin").as[(Long, Long)].collect().toSet
    assert(viaPart === viaGlobal)
    assert(viaPart.nonEmpty)
  }

  test("duplicatedNgramSpans: maximal cross-doc spans, islands split at gap > n") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two alpha beta gamma delta seven eight"),
      (2L, "totally unique words here nine ten"),
      // shares "alpha beta gamma" (p0) and "beta gamma delta" (p7) with
      // gap 7 > n=3 → two separate spans, not one
      (3L, "alpha beta gamma x y z q beta gamma delta")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedNgramSpans(docs, "text", "doc_id", n = 3, minDf = 2L)
      .select("doc_id", "span_start", "span_end", "span_tokens", "n_dup_grams")
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    assert(spans === Set(
      (0L, 0, 3, 4, 2L), // "alpha beta gamma delta": grams at 0,1 chain
      (1L, 2, 5, 4, 2L), // the same run, offset by the prefix
      (3L, 0, 2, 3, 1L),
      (3L, 7, 9, 3, 1L)))
  }

  test("simhashPairs finds identical docs at distance 0") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "unrelated content entirely")).toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "text", "id", bits = 32, maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashPairs caps degenerate buckets instead of going quadratic") {
    // 50 identical docs → ONE bucket of 50 → 1225 pairs uncapped
    val dup = (1L to 50L).map(i => (i, "the very same duplicated sentence"))
    val df = (dup :+ ((99L, "something completely different"))).toDF("id", "text")
    val capped = Dedup.simhashPairsWithStats(df, "text", "id", bits = 32,
      maxHamming = 0, maxBucketSize = 10)
    assert(capped.pairs.count() === 0, "over-wide bucket must be dropped, not joined")
    // the cap's effect is SURFACED, not just logged (r9 advice): callers
    // see the dropped-bucket count and can route those docs to exact dedup
    assert(capped.droppedBuckets === 1L)
    val uncapped = Dedup.simhashPairsWithStats(df, "text", "id", bits = 32,
      maxHamming = 0)
    assert(uncapped.pairs.count() === 50L * 49L / 2L)
    assert(uncapped.droppedBuckets === 0L)
  }

  // ---- joins -------------------------------------------------------------

  test("rangeJoinBinned equals the naive range join") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val left = Seq((1L, ts(100)), (1L, ts(400)), (2L, ts(250))).toDF("k", "ts")
    val right = Seq((1L, ts(50), ts(150), "w1"), (1L, ts(390), ts(400), "w2"),
      (2L, ts(0), ts(500), "w3"), (3L, ts(0), ts(999), "w4"))
      .toDF("k", "lo", "hi", "tag")
    val binned = Joins.rangeJoinBinned(left, right, "ts", "lo", "hi", 60, Seq("k"))
      .select("tag").as[String].collect().sorted
    assert(binned === Array("w1", "w2", "w3"))
  }

  test("asofJoin: at-or-before semantics incl. equal timestamps") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val probe = Seq((1L, ts(100), "p1"), (1L, ts(200), "p2"), (2L, ts(50), "p3"))
      .toDF("k", "ts", "p")
    val build = Seq((1L, ts(100), 10L, 1.0), (1L, ts(150), 11L, 2.0), (2L, ts(60), 12L, 3.0))
      .toDF("k", "ts", "b_id", "b_v")
    val out = graft.cdc.Materialize.asofJoin(probe, build, "k", "ts", "b_id", Seq("b_id", "b_v"))
      .select("p", "b_id_asof").as[(String, Option[Long])].collect().toMap
    assert(out("p1") === Some(10L)) // equal ts counts (at-or-before)
    assert(out("p2") === Some(11L))
    assert(out("p3") === None)      // build is after probe
  }

  // ---- multimodal --------------------------------------------------------

  test("multimodal synthetic media + stub features") {
    val base = Seq(1L, 2L, 3L).toDF("id")
    val media = Multimodal.withSyntheticMedia(base, "id")
    val bytes = media.select(length(col("media_bytes"))).as[Int].collect()
    bytes.foreach(b => assert(b === 64))
    val feats = Multimodal.extractFeatures(media, "media_bytes", "id", 8)
    val rows = feats.select(col("feat.feat_dim"), col("feat.decode_ok"),
      size(col("feat.features"))).collect()
    rows.foreach { r =>
      assert(r.getInt(0) === 8); assert(r.getBoolean(1)); assert(r.getInt(2) === 8)
    }
    val frames = Multimodal.sampleFrames(media, "media_bytes", 4)
    assert(frames.count() === 12)
  }

  test("extractFeatures keeps the full row out of the object boundary") {
    val base = Seq(1L, 2L, 3L).toDF("id")
    val media = Multimodal.withSyntheticMedia(base, "id")
    val feats = Multimodal.extractFeatures(media, "media_bytes", "id", 8)
    val plan = feats.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"),
      s"no RDD drop-out allowed in the multimodal path:\n$plan")
    // the serialize step must carry the (id, feat) pair only — the media
    // metadata struct stays in the columnar plan and rejoins by id
    val serLines = plan.linesIterator.filter(_.contains("SerializeFromObject")).toSeq
    assert(serLines.nonEmpty)
    serLines.foreach(l => assert(!l.contains("media_meta"),
      s"full row leaked into the object boundary: $l"))
  }

  test("multimodal stub decode is deterministic per payload") {
    val a = Multimodal.decodeStub(Array[Byte](1, 2, 3, 4), 6)
    val b = Multimodal.decodeStub(Array[Byte](1, 2, 3, 4), 6)
    assert(a.sameElements(b))
    assert(Multimodal.decodeStub(null, 6) === null)
  }

  test("repartitionForMedia sizes partitions from payload bytes; decoder seam is pluggable") {
    val base = spark.range(1000).toDF("id")
    val media = Multimodal.withSyntheticMedia(base, "id") // 64 bytes each
    // 1000 rows × 64 B = 64000 B at 4096 B/partition → ceil = 16
    val sized = Multimodal.repartitionForMedia(media, "media_bytes",
      targetBytesPerPartition = 4096L)
    assert(sized.rdd.getNumPartitions === 16)
    // empty input: no stats, no shuffle added, no crash
    val empty = Multimodal.repartitionForMedia(
      media.where(col("id") < 0), "media_bytes", 4096L)
    assert(empty.count() === 0)
    // a custom decoder flows through the typed seam (constant vector)
    object OnesDecoder extends Multimodal.MediaDecoder {
      override def decode(bytes: Array[Byte], dim: Int): Array[Float] =
        if (bytes == null) null else Array.fill(dim)(1.0f)
    }
    val feats = Multimodal.extractFeatures(
      media.where(col("id") < 3), "media_bytes", "id", 4, OnesDecoder)
    val vecs = feats.select(col("feat.features")).as[Seq[Float]].collect()
    assert(vecs.length === 3)
    vecs.foreach(v => assert(v === Seq(1.0f, 1.0f, 1.0f, 1.0f)))
  }

  test("persisted IVF layout partition-prunes the vectors scan") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-spec").toString
    Similarity.ivfWriteIndex(
      e.select(col("vec_id").as("id"), col("embedding").as("v")), "v", "id",
      nCells = 16, lloydRounds = 1, path = path)
    val queries = e.where(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding"))
    val knn = Similarity.ivfKnnPruned(spark, path, queries, "embedding", "id", k = 5, nProbe = 2)
    val plan = knn.queryExecution.executedPlan.toString
    // the vectors scan must carry a partition filter on `cell` — the scan
    // reads ~nProbe/nCells of the files, the whole point of the layout
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("vectors")).getOrElse(plan)
    assert(plan.contains("PartitionFilters") && plan.contains("cell#"),
      s"vectors scan must be partition-pruned on cell:\n$scanLine")
    assert(knn.count() > 0)
  }

  // ---- approx ops sanity (rows-only in the oracle gate) ------------------

  test("percentile_approx within 1% of exact percentile") {
    val li = core.Engine.table(spark, TestSpark.sf, "lineitem")
    val r = li.agg(
      expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("a"),
      expr("percentile(l_extendedprice, 0.5)").as("e")).head
    val (a, e) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(a - e) / e <= 0.01, s"approx=$a exact=$e")
  }

  test("HLL sketch partial + merge estimate within 5% of exact distinct") {
    val o = core.Engine.table(spark, TestSpark.sf, "orders")
    val merged = o.groupBy(col("o_orderstatus"))
      .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).head.getLong(0).toDouble
    val exact = o.select(countDistinct(col("o_custkey"))).head.getLong(0).toDouble
    assert(math.abs(merged - exact) / exact <= 0.05,
      s"sketch-merge estimate $merged vs exact $exact")
  }

  test("approx_count_distinct within 5% of exact") {
    val o = core.Engine.table(spark, TestSpark.sf, "orders")
    val r = o.agg(approx_count_distinct(col("o_custkey")).as("a"),
      countDistinct(col("o_custkey")).as("e")).head
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(a - e) / e <= 0.05, s"approx=$a exact=$e")
  }

  test("stratified sampleBy is deterministic and near the target fractions") {
    val d = core.Engine.table(spark, TestSpark.sf, "documents")
    val fr = Map("en" -> 0.5, "fr" -> 1.0, "es" -> 1.0, "de" -> 1.0, "zh" -> 1.0)
    def run() = d.stat.sampleBy("lang", fr, 42L)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val s1 = run(); val s2 = run()
    assert(s1 === s2, "seeded stratified sample must be deterministic")
    val totals = d.groupBy("lang").count().as[(String, Long)].collect().toMap
    fr.foreach { case (lang, f) =>
      val got = s1.getOrElse(lang, 0L).toDouble
      val want = totals.getOrElse(lang, 0L) * f
      if (totals.getOrElse(lang, 0L) > 20)
        assert(math.abs(got - want) <= math.max(0.35 * want, 10.0),
          s"$lang: got $got want ~$want")
    }
  }

  test("seeded sample is stable and bounded") {
    val o = core.Engine.table(spark, TestSpark.sf, "orders")
    val s1 = o.sample(false, 0.1, 42).count()
    val s2 = o.sample(false, 0.1, 42).count()
    assert(s1 === s2)
    assert(s1 > 0 && s1 < o.count())
  }
}

/** Native CosineSimilarity expression vs the HOF reference formulation. */
class CosineExprSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import graft.functions.VectorFunctions

  test("native cosine is bit-identical to the HOF formulation on real embeddings") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
    val a = e.select(col("vec_id"), col("embedding").as("va")).alias("a")
    val b = e.select((col("vec_id") - 1L).as("vec_id"), col("embedding").as("vb")).alias("b")
    val both = a.join(b, Seq("vec_id"))
      .select(VectorFunctions.cosine(col("va"), col("vb")).as("native"),
        VectorFunctions.cosineHof(col("va"), col("vb")).as("hof"))
    val diffs = both.where(col("native") =!= col("hof")).count()
    assert(diffs === 0, "native and HOF cosine must agree exactly")
  }

  test("native cosine survives codegen (doGenCode path) and interpreted eval") {
    import spark.implicits._
    val df = Seq((Seq(1f, 2f, 3f), Seq(3f, 2f, 1f))).toDF("a", "b")
    val expected = (3.0 + 4.0 + 3.0) / (math.sqrt(14.0) * math.sqrt(14.0))
    val viaCodegen = df.select(VectorFunctions.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(viaCodegen - expected) < 1e-12)
    // interpreted path (no-codegen) must agree
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(VectorFunctions.cosine(col("a"), col("b"))).head.getDouble(0)
      assert(interp === viaCodegen)
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("two cosine instances share one codegen scope without collisions") {
    // non-nullable literal arrays: nullSafeExec adds no brace scope, so
    // fixed Java local names would collide and Janino would silently fall
    // back to interpreted — ctx.freshName locals must keep this compiled
    val one = array(lit(1f), lit(2f), lit(3f))
    val two = array(lit(3f), lit(2f), lit(1f))
    val row = spark.range(1)
      .select(VectorFunctions.cosine(one, two).as("ab"),
        VectorFunctions.cosine(two, one).as("ba")).head
    val expected = 10.0 / 14.0
    assert(math.abs(row.getDouble(0) - expected) < 1e-12)
    assert(row.getDouble(0) === row.getDouble(1))
  }

  test("null array elements propagate to a null cosine (HOF parity)") {
    import spark.implicits._
    val df = Seq((Seq(Some(1f), None, Some(3f)), Seq(Some(1f), Some(2f), Some(3f))))
      .toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))
    val r = df.select(VectorFunctions.cosine(col("a"), col("b")).as("native"),
      VectorFunctions.cosineHof(col("a"), col("b")).as("hof")).head
    assert(r.isNullAt(0), "native must null out on null elements")
    assert(r.isNullAt(1), "HOF witness must agree")
  }

  test("K9 bucketed similarity join plans an equi-join, not a nested loop") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
    val stream = e.where(col("vec_id") >= 500)
      .select(col("vec_id"), col("embedding"))
    val static = e.where(col("vec_id") < 500)
      .select(col("vec_id").as("corpus_id"), col("embedding").as("cv"))
    val joined = graft.streaming.Streams.bucketedSimJoin(stream, static,
      "embedding", "cv", dim = 64, nPlanes = 2, threshold = 0.3)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"corpus must never ride a condition-free broadcast join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"expected an equi-join:\n$plan")
  }

  test("SparkSessionExtensions injects cosine_similarity into new sessions") {
    import org.apache.spark.sql.SparkSession
    val base = spark // force-create the shared context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val withExt = SparkSession.builder()
        .withExtensions(new graft.core.GraftExtensions)
        .getOrCreate() // reuses the running SparkContext, new session state
      val v = withExt
        .sql("SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
        .head.getDouble(0)
      assert(math.abs(v - 1.0) < 1e-12)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("query plans keep scan pushdown and broadcast joins (scale posture)") {
    val plan = graft.contract.RelationalQueries.queries("d1_inner_join_agg")(
      spark, TestSpark.sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dim joins must broadcast")
    val scanPlan = graft.contract.RelationalQueries.queries("c2_filter_predicates")(
      spark, TestSpark.sf).queryExecution.executedPlan.toString
    assert(scanPlan.contains("PushedFilters: ["), "filters must reach the parquet scan")
    assert(scanPlan.contains("o_totalprice"), "predicate columns in pushdown")
  }
}

/** Bucketing: the co-located-join layout for repeated large joins — the
  * 100 TB alternative to shuffling the fact table on every query.
  */
class BucketingSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("bucketed tables join without a shuffle exchange") {
    // warehouse.dir is static config — managed tables land in the default
    // ./spark-warehouse (gitignored); DROP TABLE below removes the files
    val li = core.Engine.table(spark, TestSpark.sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = core.Engine.table(spark, TestSpark.sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_bucketed")
    // disable auto-broadcast so the join would normally shuffle both sides
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() === li.count()) // every lineitem has its order
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }
}

/** Salted join + element-wise-min Aggregator. */
class SkewAndUdafSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("saltedJoin equals plain join on a pathologically skewed key") {
    // 10k rows of one hot key + a tail
    val skewed = ((1 to 10000).map(_ => (1L, 1.0)) ++
      (1 to 100).map(i => (i.toLong + 1, 2.0))).toDF("k", "v")
    val dim = (1 to 200).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    val plain = skewed.join(dim, Seq("k"))
      .groupBy("name").count().as[(String, Long)].collect().toSet
    val salted = graft.ops.Joins.saltedJoin(skewed, dim, "k", saltFactor = 8)
      .groupBy("name").count().as[(String, Long)].collect().toSet
    assert(salted === plain)
  }

  test("ElementwiseMin aggregator merges minhash-style signatures") {
    val udafFn = graft.ops.Aggregates.elementwiseMinUdaf(3)
    val df = Seq(
      (1L, Seq("b", "x", "c")),
      (1L, Seq("a", "y", "d")),
      (2L, Seq("q", "q", "q"))).toDF("k", "sig")
    val out = df.groupBy("k").agg(udafFn(col("sig")).as("m"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) === Seq("a", "x", "c"))
    assert(out(2L) === Seq("q", "q", "q"))
  }

  test("ElementwiseMin fails fast on ragged signatures instead of truncating") {
    val udafFn = graft.ops.Aggregates.elementwiseMinUdaf(3)
    val df = Seq((1L, Seq("a", "b", "c")), (1L, Seq("z"))).toDF("k", "sig")
    val ex = intercept[Exception] {
      df.groupBy("k").agg(udafFn(col("sig"))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null && c.getMessage.contains("ElementwiseMin")),
      s"expected the width-validation failure, got: $ex")
  }
}

/** Blanket scale posture: every batch contract query's physical plan is
  * audited for the two local-rig-invisible scale killers — a condition-
  * free broadcast join (OOM by construction on a big side) and a single-
  * partition exchange (one task does all the work). Exemptions are
  * explicit and documented; anything new that regresses fails CI here.
  */
class ScalePostureSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark

  // deliberately non-equi / bounded-broadcast shapes where a nested-loop
  // broadcast IS the right plan: D4 cross and D5 theta probes; brute-force
  // KNN broadcasts the BOUNDED query batch against a corpus scan (the
  // documented baseline — the IVF layout is the scale path); TF-IDF folds
  // the 1-ROW corpus count into the DAG as a condition-free broadcast
  private val bnljOk = Set("d4_cross_join", "d5_theta_join",
    "k9_neardup_bruteforce", "k4_knn_bruteforce", "k7_tfidf_top_terms",
    "m3_multimodal_retrieval", // bounded query batch vs feature scan
    // PQ: the codebook rides as a condition-free 1-ROW broadcast (the
    // assignCells transport shape) and the per-query ADC tables join
    // non-equi (self-exclusion) as a bounded query batch — both
    // documented-safe; k4_pq_recall's exact side is the same bounded
    // brute-force shape as k4_knn_bruteforce
    "k4_pq_knn", "k4_pq_recall",
    "k10_semantic_decontaminate", // bounded benchmark (eval-set) broadcast vs corpus scan
    "k12_target_mix", // the 1-ROW binding-stratum scale rides a condition-free broadcast
    "k7_hybrid_search",  // dense leg: 1-row query-vector broadcast
    // same 1-row query-vector broadcast; only the lexical source differs
    // (postings index instead of corpus scan)
    "k7_hybrid_indexed", "k7_hybrid_both_indexed",
    // K8 PSI drift: the dense bin grid crossJoins the output-sized
    // distinct-groups frame with the nBins-row and 2-row literal ranges —
    // all three sides bounded by construction (groups × bins × 2 IS the
    // monitor's whole state)
    "k8_quality_drift",
    "k8_quantile_drift", // same bounded grid; edges are collected literals
    // same bounded grid over the kmeans assignment (1-group × k cells);
    // the kmeans itself runs at construction like k11's audited shape
    "k8_embedding_drift",
    // the audit card joins the same bounded PSI grid (groups × bins × 2)
    // onto the card — the k8_quality_drift class, per-source state only
    "k19_audit_card", "k19_audit_card_incremental",
    // B19 truncate: the cutoff is the max-truncate-LSN scalar riding as
    // a 1-ROW condition-free broadcast over the survivors (the
    // assignCells transport shape) — bounded by construction
    "b19_truncate",
    // same scalar cutoff, applied to both sides of the DBLog merge
    "b19_truncate_in_snapshot")
  // documented driver-bounded or globally-ordered shapes: 1-row results
  // (k7's corpus count, sketch rollup), global limit/offset, the
  // global-order packing form (its partitioned twin is the scale path),
  // tiny crosstab outputs
  private val singlePartitionOk = Set(
    // Q6/Q14/Q17/Q19's answer IS one global sum — and Q11/Q15/Q22 each
    // evaluate an uncorrelated scalar-AGGREGATE subquery the same way:
    // partial aggregation runs map-side across the keyed input and the
    // final combine merges 1 row per partition on one task — the
    // bounded final-agg class
    "q17_small_qty_avg", "q19_disjunctive_brackets",
    "q11_important_stock", "q22_global_sales_opportunity",
    "q06_forecast_revenue", "q14_promo_effect", "q15_top_supplier",
    "k5_sequence_packing", "e4_sketch_merge", "g3_limit_offset",
    "b9_schema_drift", "e12_crosstab", "k7_tfidf_top_terms",
    "j12_funnel", // three 1-row stage counts
    "b13_dead_letter", // the dead-letter TALLY is one 1-row count; routing itself is shuffle-free
    "k12_target_mix", // the binding-stratum scale is one 1-row min over strata-count rows
    // the vocab id window runs over the post-limit <= maxVocab-row frame
    // (the bm25 top-20 discipline); the corpus-side passes stay keyed
    "k18_vocab", "k18_encode",
    "k4_pq_recall", // 1-row recall summary per shortlist setting
    // the Misra-Gries final merge combines one O(k)-entry summary per
    // partition partial on one task — bounded by the sketch size, which
    // is the sketch's whole point (the fact table itself never moves)
    "e13_heavy_hitters",
    "x6_approx_salted_join", // same MG merge feeding the routing list
    "k7_bm25_search", // rank window over the post-limit 20-row frame
    "k7_hybrid_search", // leg ranks + fusion over post-limit <=30-row frames
    "k7_hybrid_indexed", "k7_hybrid_both_indexed", // same bounded frames
    // the chunk-ASSIGNMENT window runs over the output-sized distinct-key
    // frame (the declared benign class); the production path is the
    // bounded cursor loop (IncrementalSnapshot.snapshotChunks)
    "b15_incremental_snapshot",
    // B19 truncate's cutoff agg combines 1 partial row per partition on
    // one task — the bounded final-agg class (q06/q14's shape)
    "b19_truncate",
    "b19_truncate_in_snapshot") // same bounded cutoff agg
  // queries that execute work at construction time (streams, index
  // writes, eager cached pipelines, file roundtrips) — audited by their
  // own dedicated plan specs instead of this blanket pass
  private val heavy = Set(
    "a2_csv_roundtrip", "a2_orc_roundtrip", "a2_xml_roundtrip", "a3_jsonl_roundtrip",
    "a4_cdc_file_stream", "a5_file_stream", "a7_partitioned_sink",
    "a8_foreach_upsert", "j5_stream_dedup", "j8_stream_upsert",
    // checkpointed upsert streams + chunk landings at construction; the
    // final plan is currentState's audited pruned scan (SinkSchemaSpec /
    // IncrementalSnapshotSpec pin the mechanics)
    "b15_snapshot_upsert",
    // drives the upsert/landing writes + refusals at construction; the
    // result is a local O(DDL-count) frame (SchemaHistorySpec pins it);
    // the ▶ twin additionally drains two file-source streams
    "b17_schema_history", "b17_schema_history_stream",
    // drives the whole signal-protocol walk (turns, drains, stops) at
    // construction; the result is a local O(events) frame
    // (NotificationsSpec pins the mechanics); the ▶ twin additionally
    // drains a file-source stream
    "b18_notifications", "b18_notifications_stream",
    // drives the file-channel stream + protocol turns at construction;
    // the result is the O(collections) progress readout
    "b16_signal_file_channel",
    // r19: three-drain MemoryStream through the truncate-aware /
    // heartbeat-aware sinks (TruncateSpec / HeartbeatSpec pin the
    // mechanics); the platform walk additionally drives the whole
    // signal protocol + clustered upsert at construction
    "b19_truncate_stream", "b19_platform_walk", "b20_heartbeat_ledger",
    // replay two checkpointed changelog streams through the upsert sink
    // at construction; GauntletSpec pins the materialized-equals-base law
    // and the clustered layout's exchange-free join
    "q03_materialized", "q10_materialized",
    // materializes the shared relation (localCheckpoint) at construction
    // — the whole point of the variants; GauntletSpec pins their laws
    "q02_min_cost_supplier_mat",
    "q11_important_stock_mat", "q15_top_supplier_mat",
    "j8_stream_upsert_tws", "j9_stream_tumbling",
    "k2_lsh_candidate_pairs", "k2_dedup_clusters", "k2_incremental_neardup",
    "k2_incremental_containment", // index write at construction, same as its jaccard twin
    "k2_containment", // persist + eager count, same as k2_lsh_candidate_pairs
    "k2_incremental_simhash", "k2_streaming_simhash_append",
    "k2_streaming_ingest_dedup", // two-drain MemoryStream replay + index writes
    "k10_streaming_decontaminate", // two-drain MemoryStream replay + partitioned writes
    "k4_ivf_knn", "k4_ivf_drift", "b9_schema_drift", "g8_sample",
    "k8_stratified_sample", "e4_sketch_merge",
    "k4_ivf_pq_knn", // writes index + code table at construction; IvfPqSpec audits
    "k4_ivf_pq_append", // index build + append + two encodes at construction
    "k4_pq_drift",      // index build + two appends + three encodes at construction
    "k4_streaming_ivf_pq_append", // two-drain MemoryStream + index/code writes
    // K15 NB classifier: every path eagerly materializes (persist /
    // localCheckpoint / model writes / MemoryStream drains) at
    // construction; ClassifierSpec audits the plan shapes
    "k15_nb_classify", "k15_nb_confusion", "k15_nb_model_indexed",
    "k15_nb_incremental", "k15_streaming_nb_append",
    "k2_source_overlap", // persist + eager count + checkpointed G²-row result
    "x5_streaming_sidecar_append", // two-drain MemoryStream + sidecar refreshes
    "k16_hashed_knn", // checkpoints the shared vector frame at construction
    "k16_hashed_idf", // shared occurrence pass persists at construction
    "k15_streaming_quality_gate", // two-drain MemoryStream + model write + gated appends
    "k17_novelty", // persists the shared gram projection at construction
    "k17_incremental_novelty", // index write + two appends at construction
    "k19_dataset_card", // the novelty leg persists/checkpoints at construction
    "k20_leakage_safe_split", // pair generation + CC execute at construction
    "k17_streaming_novelty", // two-drain MemoryStream + index writes
    "k13_streaming_resolve",   // two-drain MemoryStream + generation-swapped folds
    "k13_streaming_canonical", // same stream + read-time resolve
    // round 12: queries that fold/retract/build persisted state at
    // construction — their plan shapes are audited by their own specs
    // (GraphSpec, LshQualitySpec, IndexMaintainSpec, SearchSpec,
    // LanguageModelSpec, ClassifierSpec, BpeSpec, MixingScaleSpec)
    "k13_retract",             // full fold + affected-component re-closure
    "k2_retract_neardup",      // index write + tombstone write at construction
    "k7_bm25_retract",         // index write + retraction at construction
    "k14_lm_retract", "k15_nb_retract", // model writes + negated-count batches
    "k4_ivf_retract_knn",      // index write + tombstones; same family as k4_ivf_knn
    "k18_bpe_merges", "k18_bpe_vocab", "k18_bpe_encode", "k18_bpe_encode_oov",
    "k21_ingest_pipeline",     // two-drain MemoryStream through the fused turn
    "k21_full_intake",         // same turn with the admission stage composed in
    "k2_streaming_retract",    // two-drain MemoryStream + tombstone writes
    "k12_streaming_mix_gate",  // two-drain MemoryStream + state writes
    // round 13: the delete/maintenance turns build + retract persisted
    // state at construction; plan shapes audited by RetractPipelineSpec,
    // NoveltySpec, PqDriftSpec, IntakeCardSpec. The BNLJ inside
    // k21_retract_pipeline's union read is the NB gate's label-set-
    // bounded crossJoin(broadcast(priors)); the single-partition
    // exchange is the bm25 top-20 rank window — both bounded, both the
    // same shapes their standalone (excluded) family queries carry.
    "k17_retract",             // index write + occ-probe retraction at construction
    "k21_retract_pipeline",    // seven-family state build + two-drain removal stream
    "k21_maintain_turn",       // seven-family state + delete + composed compactions
    "k4_pq_maintain",          // index build + drifted append + threshold retrain
    "k19_card_incremental",    // novelty index + three card folds at construction
    // the K14 LM family executes its train pass (cache/checkpoint/model
    // write/stream drain) at construction; LanguageModelSpec audits the
    // gated-broadcast score join, and the band cutoffs are a 1-row agg
    "k14_lm_perplexity", "k14_lm_model_indexed", "k14_lm_incremental",
    "k14_streaming_lm_append", "k14_lm_quality_band",
    "k14_trigram_perplexity", // shared-pass persist + checkpoint at construction
    // round 13: two-drain MemoryStream + reference/accumulator writes at
    // construction; the read-back plan is k8_quality_drift's audited
    // bounded-grid shape (DriftSpec pins replay idempotence)
    "k8_streaming_drift",
    "k8_drift_retract", // reference + accumulate + retract writes at construction
    "k8_drift_trend",   // same two-drain feed; per-batch PSI reads the sidecars
    "k8_streaming_weighted_sample", // two-drain feed + generation-swapped reservoir folds
    // round 14: drift-lifecycle + intake/corpus queries that build,
    // retract, retune, or compact persisted state at construction; the
    // read-back plans are the same audited shapes as their excluded
    // siblings (the bounded PSI grid / the admitted()-scan), and
    // DriftSpec / CorpusCompactSpec / ContainmentIntakeSpec pin them
    "k8_streaming_quantile_drift", // two-drain feed + pinned-edge state writes
    "k8_drift_retune",   // maintain turn + ref generation swap at construction
    "k8_drift_compact",  // accumulate + retract + cur generation fold at construction
    "k2_containment_intake", // two-drain MemoryStream + index/corpus writes
    "k21_corpus_compact",    // corpus build + retraction + data generation fold
    "k8_streaming_stratified_reservoir", // two-drain feed + per-stratum generation-swapped folds
    "k15_nb_auc") // model checkpoint + bounded partition-offset collect at construction

  test("no contract query plans a BNLJ or single-partition exchange unexpectedly") {
    val qs = SparkEntry.queries
    val offenders = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- qs if !heavy.contains(name)) {
      val plan =
        try fn(spark, TestSpark.sf).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljOk.contains(name))
        offenders += s"$name: BroadcastNestedLoopJoin"
      if (plan.contains("Exchange SinglePartition") && !singlePartitionOk.contains(name))
        offenders += s"$name: Exchange SinglePartition"
    }
    assert(offenders.isEmpty,
      s"scale-posture regressions:\n${offenders.mkString("\n")}")
  }
}

/** Z-order clustering: every output file gets a tight min/max bounding box
  * in BOTH dimensions — the property parquet scan pruning consumes. A
  * single-column sort bounds only its own column; the spec proves z-order
  * strictly beats it on the second dimension and stays bounded on the
  * first.
  */
class ZorderLayoutSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("denseIds: dense, unique, order-correct on tiny and skewed inputs") {
    import spark.implicits._
    // fewer rows than partitions, duplicated-free keys out of order
    val df = Seq(30L, 10L, 20L).toDF("k")
    val ids = graft.ops.Layout.denseIds(df, "k")
      .select("k", "dense_id").as[(Long, Long)].collect().toMap
    assert(ids === Map(10L -> 0L, 20L -> 1L, 30L -> 2L))
    // single row
    val one = graft.ops.Layout.denseIds(Seq(7L).toDF("k"), "k")
      .select("dense_id").as[Long].collect()
    assert(one === Array(0L))
  }

  test("zValue clamps out-of-domain inputs and survives a constant column") {
    import spark.implicits._
    val df = Seq((5.0, 5.0), (-1.0, 99.0)).toDF("a", "b")
    // constant domain on a (lo == hi) must not divide by zero; out-of-
    // range b values clamp into [0, 2^bits)
    val z = df.select(graft.ops.Layout.zValue(col("a"), col("b"),
      5.0, 5.0, 0.0, 10.0, bits = 8).as("z")).as[Long].collect()
    z.foreach(v => assert(v >= 0L && v < (1L << 16)))
  }

  test("z-order bounds both dimensions per file; single-column sort does not") {
    val li = core.Engine.table(spark, TestSpark.sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val zPath = java.nio.file.Files.createTempDirectory("graft-zorder").toString + "/z"
    val sPath = java.nio.file.Files.createTempDirectory("graft-zorder").toString + "/s"
    graft.ops.Layout.zorderWrite(li, "l_orderkey", "l_partkey", zPath, nFiles = 8)
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(sPath)
    def avgFileRange(path: String, c: String): Double =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("r"))
        .agg(avg(col("r"))).head.getDouble(0)
    val d = li.agg(
      (max(col("l_partkey")) - min(col("l_partkey"))).cast("double"),
      (max(col("l_orderkey")) - min(col("l_orderkey"))).cast("double")).head
    val (globalB, globalA) = (d.getDouble(0), d.getDouble(1))
    val zB = avgFileRange(zPath, "l_partkey")
    val sB = avgFileRange(sPath, "l_partkey")
    // second dimension: z-order files cover a fraction of the domain; the
    // single-column layout covers essentially all of it in every file
    assert(zB < 0.6 * globalB, s"z-order partkey range $zB vs global $globalB")
    assert(zB < 0.75 * sB, s"z-order ($zB) must beat single-sort ($sB) on dim 2")
    // first dimension stays bounded too (the curve splits both)
    val zA = avgFileRange(zPath, "l_orderkey")
    assert(zA < 0.7 * globalA, s"z-order orderkey range $zA vs global $globalA")
    // clustering must not change contents
    assert(spark.read.parquet(zPath).count() === li.count())
  }

  test("zorderWrite degrades gracefully on empty input and all-null cluster columns") {
    import spark.implicits._
    val ePath = java.nio.file.Files.createTempDirectory("graft-zempty").toString + "/e"
    graft.ops.Layout.zorderWrite(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", ePath, nFiles = 4)
    assert(spark.read.parquet(ePath).count() === 0)
    // non-empty rows but a cluster column with no domain (all null): the
    // rows must still be written, unclustered, not NPE
    val nPath = java.nio.file.Files.createTempDirectory("graft-znull").toString + "/n"
    val df = Seq((1L, "x"), (2L, "y")).toDF("a", "s")
      .withColumn("b", lit(null).cast("long"))
    graft.ops.Layout.zorderWrite(df, "a", "b", nPath, nFiles = 4)
    assert(spark.read.parquet(nPath).count() === 2)
  }
}

/** G2 — partition-local sort is plan-level: a non-global Sort, no exchange. */
class PartitionSortSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("sortWithinPartitions plans a local sort without a shuffle") {
    val df = core.Engine.table(spark, TestSpark.sf, "orders")
      .repartition(4, col("o_custkey"))
      .sortWithinPartitions(col("o_orderdate"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Sort [o_orderdate"))
    assert(plan.contains("false, 0"), s"sort must be non-global (local):\n$plan")
    // exactly the one repartition exchange; the sort itself adds none
    assert("Exchange".r.findAllIn(plan).length === 1, plan)
    // rows are ordered within each partition
    val ok = df.select(unix_micros(col("o_orderdate").cast("timestamp")))
      .mapPartitions { it =>
        val ts = it.map(_.getLong(0)).toSeq
        Iterator.single(ts == ts.sorted)
      }(org.apache.spark.sql.Encoders.scalaBoolean)
      .collect()
    assert(ok.forall(identity))
  }
}

/** File-stats manifest + data-skipping: the pruned read must scan strictly
  * fewer files on a selective range over range-clustered data, and agree
  * exactly with the full-scan filter.
  */
class ManifestSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("manifest prunes files and prunedRead equals the full-scan filter") {
    val out = java.nio.file.Files.createTempDirectory("graft-manifest-spec").toString
    val orders = core.Engine.table(spark, TestSpark.sf, "orders")
    orders.repartitionByRange(6, col("o_orderdate")).write.mode("overwrite").parquet(out)

    val m = graft.ops.Manifest.write(spark, out, Seq("o_orderdate"))
    val nFiles = m.count()
    assert(nFiles === 6)
    assert(m.agg(sum(col("n_rows"))).head.getLong(0) === orders.count())

    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-06-30").cast("timestamp")
    val pruned = graft.ops.Manifest.pruneFiles(spark, out, "o_orderdate", lo, hi)
    assert(pruned.nonEmpty && pruned.size < nFiles,
      s"selective range should skip files: kept ${pruned.size} of $nFiles")

    val viaManifest = graft.ops.Manifest.prunedRead(spark, out, "o_orderdate", lo, hi)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus")).collect()
    val fullScan = spark.read.parquet(out)
      .where(col("o_orderdate") >= lo && col("o_orderdate") <= hi)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus")).collect()
    assert(viaManifest === fullScan)

    // a range outside the domain matches no file and returns empty cleanly
    val none = graft.ops.Manifest.prunedRead(spark, out, "o_orderdate",
      lit("1899-01-01").cast("timestamp"), lit("1899-12-31").cast("timestamp"))
    assert(none.count() === 0)

    // hidden-path rule matches Spark's: `_p=1` is a partition dir (data),
    // but a DOT-prefixed name is hidden even when it contains '=' (hive
    // staging dirs) — its files must NOT be listed as data
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val before = graft.ops.Manifest.listDataFiles(spark, out).size
    val staged = new org.apache.hadoop.fs.Path(out, ".hive-staging_x=1/part-0.parquet")
    val os = fs.create(staged, true); os.write(1); os.close()
    val under = new org.apache.hadoop.fs.Path(out, "_p=1/part-0.parquet")
    val os2 = fs.create(under, true); os2.write(1); os2.close()
    val listed = graft.ops.Manifest.listDataFiles(spark, out)
    assert(listed.size === before + 1, "only the _-prefixed partition dir counts")
    assert(!listed.exists(_.contains("hive-staging")))
    fs.delete(staged.getParent, true); fs.delete(under.getParent, true)
  }

  test("bloom sidecar prunes point lookups min/max cannot; stale sidecar falls back") {
    val out = java.nio.file.Files.createTempDirectory("graft-bloom-spec").toString
    val orders = core.Engine.table(spark, TestSpark.sf, "orders")
    // clustered by DATE: every file's o_orderkey range spans the table,
    // so min/max skipping is useless for a key point lookup — the case
    // the bloom sidecar exists for
    orders.repartitionByRange(6, col("o_orderdate")).write.mode("overwrite").parquet(out)
    val bl = graft.ops.Manifest.writeBloom(spark, out, "o_orderkey")
    assert(bl.count() === 6)
    assert(bl.agg(sum(col("n_rows"))).head.getLong(0) === orders.count())

    def viaBloom(k: Long) = graft.ops.Manifest
      .bloomRead(spark, out, "o_orderkey", lit(k))
      .select(col("o_orderkey"), col("o_custkey")).collect().toSeq
    def fullScan(k: Long) = spark.read.parquet(out)
      .where(col("o_orderkey") === k)
      .select(col("o_orderkey"), col("o_custkey")).collect().toSeq
    assert(viaBloom(999L) === fullScan(999L))
    assert(viaBloom(999L).nonEmpty)
    // a key outside the domain: every bloom answers "definitely not"
    // with overwhelming probability at 17-bit filters — but never a
    // wrong row either way; equality with the full scan is the contract
    assert(viaBloom(-12345L) === fullScan(-12345L))

    // the pruning BITES: the key lives in one file; with 5 probes into
    // 2^17 bits the chance a second file false-positives is ~1e-9, so
    // the sidecar must keep at most 2 of 6 files (1 real + fp slack)
    val h = spark.range(1)
      .select(xxhash64(lit(999L)).as("h")).head().getLong(0)
    val head = bl.select(col("num_bits"), col("num_hashes")).head()
    val cond = (0 until head.getInt(1))
      .map(i => graft.ops.Aggregates.bloomPos(h, i, head.getInt(0)))
      .distinct.map { p =>
        element_at(col("bloom"), p / 64 + 1)
          .bitwiseAND(lit(1L << (p & 63))) =!= lit(0L)
      }.reduce(_ && _)
    assert(bl.where(cond).count() <= 2)

    // stale sidecar (appended files) → full-scan fallback, never lost rows
    orders.where(col("o_orderkey") === 42L).write.mode("append").parquet(out)
    assert(viaBloom(42L).size === fullScan(42L).size)
    assert(viaBloom(42L).size === 2) // original row + appended copy

    // incremental repair: only the appended file gets a new filter row,
    // the 6 original rows survive byte-identical, and the healed
    // sidecar serves the appended row WITHOUT the fallback
    val before = bl.collect().map(r => r.getString(r.fieldIndex("file")) -> r.toSeq).toMap
    val bl1 = graft.ops.Manifest.refreshBloom(spark, out, "o_orderkey")
    assert(bl1.count() === 7)
    val after = bl1.collect().map(r => r.getString(r.fieldIndex("file")) -> r.toSeq).toMap
    before.foreach { case (f, row) => assert(after(f) === row, s"retained row changed: $f") }
    assert(viaBloom(42L).size === 2)
    // idempotent when nothing changed
    assert(graft.ops.Manifest.refreshBloom(spark, out, "o_orderkey").count() === 7)
  }

  test("streaming corpus append maintains manifest + bloom sidecars per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-x5-spec").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-x5-spec-ckpt").toString
    val orders = core.Engine.table(spark, TestSpark.sf, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    val rows = orders.as[(Long, String, Double, java.sql.Timestamp)].collect()
    val cut = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double, java.sql.Timestamp)]
    def drain(): Unit = {
      val q = graft.streaming.Ingest.foreachBatchCorpusAppend(
        src.toDS().toDF("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"),
        out, ckpt, statsCols = Seq("o_orderdate"), bloomCols = Seq("o_orderkey"))
      q.awaitTermination()
    }
    // scheme-insensitive comparison (input_file_name reports file:///,
    // the FS listing file:/) — the normalizePath rule
    def norm(f: String): String = new org.apache.hadoop.fs.Path(f).toUri.getPath
    src.addData(rows.filter(_._4.before(cut)).toSeq); drain()

    // after batch 0 the sidecars are CURRENT: manifest file set == table
    val files0 = graft.ops.Manifest.listDataFiles(spark, out).map(norm).toSet
    val mFiles0 = graft.ops.Manifest.read(spark, out)
      .select(col("file")).collect().map(r => norm(r.getString(0))).toSet
    assert(mFiles0 === files0, "batch-0 refresh must leave a fresh manifest")

    src.addData(rows.filterNot(_._4.before(cut)).toSeq); drain()
    val files1 = graft.ops.Manifest.listDataFiles(spark, out).map(norm).toSet
    val mFiles1 = graft.ops.Manifest.read(spark, out)
      .select(col("file")).collect().map(r => norm(r.getString(0))).toSet
    assert(mFiles1 === files1, "batch-1 refresh must cover the appended partition")
    assert(files1.size > files0.size)

    // pruning BITES through the streamed manifest: the date-split means a
    // 1996+ range excludes every batch-0 file
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1999-12-31").cast("timestamp")
    val kept = graft.ops.Manifest.pruneFiles(spark, out, "o_orderdate", lo, hi)
      .map(norm).toSet
    assert(kept.nonEmpty && (kept & files0).isEmpty,
      s"the pre-1996 batch partition must prune away: kept ${kept.size}")

    // the pruned read and the bloom point read agree with full scans
    val viaManifest = graft.ops.Manifest.prunedRead(spark, out, "o_orderdate", lo, hi)
      .agg(count(lit(1))).head.getLong(0)
    val full = spark.read.parquet(out)
      .where(col("o_orderdate") >= lo && col("o_orderdate") <= hi)
      .agg(count(lit(1))).head.getLong(0)
    assert(viaManifest === full && full > 0)
    val k = rows.head._1
    assert(graft.ops.Manifest.bloomRead(spark, out, "o_orderkey", lit(k)).count() ===
      spark.read.parquet(out).where(col("o_orderkey") === k).count())
  }

  test("stale manifest falls back to full scan; refresh is incremental and byte-identical") {
    val out = java.nio.file.Files.createTempDirectory("graft-manifest-refresh").toString
    val orders = core.Engine.table(spark, TestSpark.sf, "orders")
    orders.repartitionByRange(6, col("o_orderdate")).write.mode("overwrite").parquet(out)
    val m0 = graft.ops.Manifest.write(spark, out, Seq("o_orderdate"))
    val before = m0.collect().map(r => r.getString(r.fieldIndex("file")) -> r.toSeq).toMap
    assert(before.size === 6)

    // append new files WITHOUT refreshing: prunedRead must detect the
    // stale manifest and still agree with the full-scan filter
    val extra = orders.where(col("o_orderkey") % 10 === 0)
    extra.repartition(2).write.mode("append").parquet(out)
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-06-30").cast("timestamp")
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus")).collect()
    val staleRead = agg(graft.ops.Manifest.prunedRead(spark, out, "o_orderdate", lo, hi))
    val fullScan = agg(spark.read.parquet(out)
      .where(col("o_orderdate") >= lo && col("o_orderdate") <= hi))
    assert(staleRead === fullScan, "stale manifest must not drop appended rows")

    // incremental refresh: only the 2 new files get stats rows; the 6
    // original rows survive byte-identical
    val m1 = graft.ops.Manifest.refresh(spark, out, Seq("o_orderdate"))
    val after = m1.collect().map(r => r.getString(r.fieldIndex("file")) -> r.toSeq).toMap
    assert(after.size === 8)
    before.foreach { case (f, row) =>
      assert(after(f) === row, s"retained manifest row changed for $f")
    }
    assert(m1.agg(sum(col("n_rows"))).head.getLong(0) === orders.count() + extra.count())

    // refresh with nothing to do is a no-op
    val m2 = graft.ops.Manifest.refresh(spark, out, Seq("o_orderdate"))
    assert(m2.collect().map(_.toSeq).toSet === m1.collect().map(_.toSeq).toSet)

    // and the pruned read agrees again (manifest-pruned path, not fallback)
    assert(agg(graft.ops.Manifest.prunedRead(spark, out, "o_orderdate", lo, hi))
      === fullScan)
  }

  test("trustManifest serves the manifest's view without the staleness listing") {
    val out = java.nio.file.Files.createTempDirectory("graft-manifest-trust").toString
    val orders = core.Engine.table(spark, TestSpark.sf, "orders")
    orders.repartitionByRange(6, col("o_orderdate")).write.mode("overwrite").parquet(out)
    graft.ops.Manifest.write(spark, out, Seq("o_orderdate"))
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-06-30").cast("timestamp")
    def cnt(df: org.apache.spark.sql.DataFrame) = df.count()
    val frozen = cnt(graft.ops.Manifest.prunedRead(spark, out, "o_orderdate", lo, hi))
    // on a genuinely immutable table both modes agree exactly
    assert(cnt(graft.ops.Manifest.prunedRead(spark, out, "o_orderdate", lo, hi,
      trustManifest = true)) === frozen)

    // violate the immutability declaration: append in-range rows without
    // refreshing. The DEFAULT mode detects the drift and serves them
    // (fallback); the TRUSTED mode provably skipped the listing — it
    // still serves the manifest's 6-file view, new rows invisible. That
    // asymmetry IS the contract: trust is only for declared-immutable
    // tables, where the per-query listing is pure overhead.
    val extra = orders.where(col("o_orderkey") % 10 === 0 &&
      col("o_orderdate") >= lo && col("o_orderdate") <= hi)
    assert(extra.count() > 0, "need in-range appended rows for the probe")
    extra.repartition(2).write.mode("append").parquet(out)
    assert(cnt(graft.ops.Manifest.prunedRead(spark, out, "o_orderdate", lo, hi))
      === frozen + extra.count(), "default mode must detect staleness and fall back")
    assert(cnt(graft.ops.Manifest.prunedRead(spark, out, "o_orderdate", lo, hi,
      trustManifest = true)) === frozen,
      "trusted mode must serve the manifest view (no listing, no fallback)")

    // after a refresh the two modes agree again
    graft.ops.Manifest.refresh(spark, out, Seq("o_orderdate"))
    assert(cnt(graft.ops.Manifest.prunedRead(spark, out, "o_orderdate", lo, hi,
      trustManifest = true)) === frozen + extra.count())
  }
}

/** Corpus mixing: the per-source cap and temperature resampling must be
  * deterministic subsets with the promised per-stratum properties.
  * Exactness vs the SQL oracle is covered by the k12_* contract queries.
  */
class MixingSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("perSourceCap keeps at most cap per source, deterministically") {
    val docs = core.Engine.table(spark, TestSpark.sf, "documents")
    val kept = graft.llm.Mixing.perSourceCap(docs, "source", "doc_id", cap = 7)
    val per = kept.groupBy(col("source")).agg(count(lit(1)).as("n"))
    assert(per.where(col("n") > 7).count() === 0)
    // kept rows are a subset of the input, and reruns pick the same set
    assert(kept.join(docs, Seq("doc_id"), "left_anti").count() === 0)
    val again = graft.llm.Mixing.perSourceCap(docs, "source", "doc_id", cap = 7)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted
      === again.select("doc_id").collect().map(_.getLong(0)).sorted)
  }

  test("temperatureResample hits the expected budget and flattens strata") {
    val docs = core.Engine.table(spark, TestSpark.sf, "documents")
    val total = docs.count()
    val target = total / 2
    val kept = graft.llm.Mixing.temperatureResample(docs, "lang", "doc_id", target)
    val n = kept.count()
    // md5 uniforms are iid-ish: expect the budget within a generous band
    assert(n > target * 7 / 10 && n < target * 13 / 10,
      s"kept $n of $total for target $target")
    // alpha<1 flattens: no stratum's kept fraction may exceed its input
    // share by more than the temperature boost allows; cheap sanity —
    // every stratum retains at least one doc at this target
    assert(kept.select("lang").distinct().count()
      === docs.select("lang").distinct().count())
    // deterministic across runs
    val again = graft.llm.Mixing.temperatureResample(docs, "lang", "doc_id", target)
    assert(again.count() === n)
    // degenerate inputs refuse loudly
    intercept[IllegalArgumentException](
      graft.llm.Mixing.temperatureResample(docs, "lang", "doc_id", target, alpha = 0.0))
  }
}

/** Fixed-point k-means: separates obvious blobs, is deterministic, and
  * never loses or duplicates a point. Exactness vs the SQL oracle is
  * covered by the k11_kmeans contract query.
  */
class ClusteringSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def blobs = Seq(
    (1L, Seq(1.0f, 1.0f, 0.9f)), (2L, Seq(0.9f, 1.1f, 1.0f)),
    (3L, Seq(1.1f, 0.9f, 1.0f)),
    (10L, Seq(-1.0f, -1.0f, -0.9f)), (11L, Seq(-0.9f, -1.1f, -1.0f)),
    (12L, Seq(-1.1f, -0.9f, -1.0f))
  ).toDF("id", "v")

  test("kmeans separates two blobs and partitions the input exactly") {
    val m = graft.llm.Clustering.kmeans(blobs, "v", "id", k = 2, iters = 3)
    val a = m.assignments.as[(Long, Long)].collect().toMap
    assert(a.size === 6)
    assert(Set(a(1L), a(2L), a(3L)).size === 1)
    assert(Set(a(10L), a(11L), a(12L)).size === 1)
    assert(a(1L) !== a(10L))
    assert(m.centroids.size === 2)
    // centroid of the positive blob ≈ (1.0, 1.0, 0.966…) in fixed-point
    val pos = m.centroids.toMap.apply(a(1L))
    assert(pos.forall(c => c > 900000L && c < 1100000L))
  }

  test("kmeans is deterministic across runs") {
    val m1 = graft.llm.Clustering.kmeans(blobs, "v", "id", k = 2, iters = 2)
    val m2 = graft.llm.Clustering.kmeans(blobs, "v", "id", k = 2, iters = 2)
    assert(m1.centroids === m2.centroids)
    assert(m1.assignments.orderBy("id").collect() ===
      m2.assignments.orderBy("id").collect())
  }

  test("kmeans on real embeddings: summary counts sum to corpus size") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
    val m = graft.llm.Clustering.kmeans(e, "embedding", "vec_id", k = 4, iters = 2)
    val s = graft.llm.Clustering.summary(m)
    assert(s.agg(sum(col("n"))).head.getLong(0) === e.count())
    assert(s.count() <= 4)
  }

  test("kmeans validates its input shape up front") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("id", "v")
    intercept[IllegalArgumentException](
      graft.llm.Clustering.kmeans(empty, "v", "id", k = 2, iters = 1))
    val mixed = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f))).toDF("id", "v")
    intercept[IllegalArgumentException](
      graft.llm.Clustering.kmeans(mixed, "v", "id", k = 2, iters = 1))
    val nulls = Seq((1L, Some(Seq(1.0f, 2.0f))), (2L, None)).toDF("id", "v")
    intercept[IllegalArgumentException](
      graft.llm.Clustering.kmeans(nulls, "v", "id", k = 2, iters = 1))
  }

  test("assign ships centroids as broadcast data above the literal threshold") {
    val q = Seq((1L, Seq(0L, 0L)), (2L, Seq(10L, 11L))).toDF("id", "v")
    // small k: pure projection — no join of any kind in the plan
    val small = Seq((0L, Seq(0L, 0L)), (1L, Seq(10L, 10L)))
    val aSmall = graft.llm.Clustering.assign(q, small)
    val pSmall = aSmall.queryExecution.executedPlan.toString
    assert(!pSmall.contains("Join"), s"literal path must not join:\n$pSmall")
    // k×dim over the threshold: centroids ride as ONE broadcast row, not
    // a plan literal (BNLJ of a 1-row build side — the documented-safe
    // shape); the corpus side is still never shuffled
    val n = (graft.llm.Clustering.AssignLiteralMaxElems / 2 + 1).toInt
    val large = (0 until n).map(i => (i.toLong, Seq(i.toLong * 2, i.toLong * 2)))
    val aLarge = graft.llm.Clustering.assign(q, large)
    val pLarge = aLarge.queryExecution.executedPlan.toString
    assert(pLarge.contains("BroadcastNestedLoopJoin"),
      s"large-k path must broadcast the centroid row:\n$pLarge")
    assert(!pLarge.contains("Exchange hashpartitioning") &&
      !pLarge.contains("Exchange SinglePartition"),
      s"assign must not shuffle the corpus:\n$pLarge")
    // both paths agree with the hand-computed nearest centroid
    assert(aSmall.select("id", "cluster").as[(Long, Long)].collect().toMap
      === Map(1L -> 0L, 2L -> 1L))
    assert(aLarge.select("id", "cluster").as[(Long, Long)].collect().toMap
      === Map(1L -> 0L, 2L -> 5L)) // (10,11) nearest to (10,10) = cid 5
  }
}

/** K7's vocab-broadcast gate: the document-frequency table is
  * corpus-derived (one row per distinct term — the vocabulary), so the
  * broadcast hint must disappear above the bound and the term join fall
  * back to a shuffled join AQE can skew-split.
  */
class TfidfGateSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private def frames() = {
    import spark.implicits._
    val tf = Seq((1L, "alpha", 1L), (1L, "beta", 2L), (2L, "alpha", 1L),
      (2L, "gamma", 1L)).toDF("doc", "term", "tf")
    val dfreq = Seq(("alpha", 2L), ("beta", 1L), ("gamma", 1L)).toDF("term", "df")
    val n = tf.select(col("doc")).distinct()
      .agg(count(lit(1)).cast("double").as("__n"))
    (tf, dfreq, n)
  }

  test("dfreq broadcasts under the vocab gate, shuffles above it") {
    val (tf, dfreq, n) = frames()
    // pin autoBroadcast off so the ONLY broadcast source is the hint —
    // otherwise the planner would broadcast the tiny test frame on size
    // stats and the gate would be untestable
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val under = graft.llm.TextAnalysis
        .tfidfJoin(tf, dfreq, n, vocab = 3, maxBroadcastVocab = 1000)
      val pUnder = under.queryExecution.executedPlan.toString
      assert(pUnder.contains("BroadcastHashJoin"),
        s"under-gate plan must broadcast dfreq:\n$pUnder")
      val over = graft.llm.TextAnalysis
        .tfidfJoin(tf, dfreq, n, vocab = 3, maxBroadcastVocab = 2)
      val pOver = over.queryExecution.executedPlan.toString
      assert(!pOver.contains("BroadcastHashJoin"),
        s"over-gate plan must NOT broadcast the vocab table:\n$pOver")
      assert(pOver.contains("SortMergeJoin") || pOver.contains("ShuffledHashJoin"),
        s"over-gate term join must be a shuffled join:\n$pOver")
      // both paths produce identical rows — the gate is plan-only
      val rows = (d: org.apache.spark.sql.DataFrame) =>
        d.orderBy("doc", "term").collect().toSeq
      assert(rows(under) === rows(over))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("tfidf end-to-end matches the hand computation (persist + checkpoint path)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta beta"), (2L, "alpha gamma")).toDF("id", "text")
    val out = graft.llm.TextAnalysis.tfidf(docs, "text", "id")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    def idf(df: Long) = math.log(2.0 / df)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Set(
      (1L, "alpha", 1L, 2L, r6(1 * idf(2))),
      (1L, "beta", 2L, 1L, r6(2 * idf(1))),
      (2L, "alpha", 1L, 2L, r6(1 * idf(2))),
      (2L, "gamma", 1L, 1L, r6(1 * idf(1)))))
  }
}

/** Native NearestCentroid argmin vs the interpreted HOF witness — the
  * r7-escalated expression must be bit-identical on BOTH arithmetic paths
  * (fixed-point long, float-vs-double) and BOTH centroid transports
  * (plan literal, broadcast row).
  */
class NearestCentroidSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import graft.functions.NearestCentroid

  private def longVecs(n: Int, dim: Int, seedMul: Long) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, (0 until dim).map(d =>
        ((i * seedMul + d * 2654435761L) % 2000L) - 1000L))
    }.toDF("id", "v")
  }

  test("long path: native assign == HOF witness on the literal transport") {
    val q = longVecs(200, 8, 40503L)
    val centroids: Seq[(Long, Seq[Long])] = (0L until 5L).map { c =>
      (c, (0 until 8).map(d => (c * 337L + d * 91L) % 1000L - 500L))
    }
    val nat = graft.llm.Clustering.assign(q, centroids)
      .select("id", "cluster").orderBy("id").collect().toSeq
    val hof = graft.llm.Clustering.assignHof(q, centroids)
      .select("id", "cluster").orderBy("id").collect().toSeq
    assert(nat === hof)
  }

  test("long path: native assign == HOF witness on the broadcast-row transport") {
    // k × dim must exceed AssignLiteralMaxElems to force the broadcast row
    val dim = 64
    val k = (graft.llm.Clustering.AssignLiteralMaxElems / dim).toInt + 2
    val q = longVecs(50, dim, 69069L)
    val centroids: Seq[(Long, Seq[Long])] = (0 until k).map { c =>
      (c.toLong, (0 until dim).map(d => ((c * 7993L + d * 131L) % 1000L) - 500L))
    }
    assert(k.toLong * dim > graft.llm.Clustering.AssignLiteralMaxElems)
    val nat = graft.llm.Clustering.assign(q, centroids)
    assert(nat.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin") ||
      nat.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "over-gate transport must ride a broadcast row")
    val hof = graft.llm.Clustering.assignHof(q, centroids)
    assert(nat.select("id", "cluster").orderBy("id").collect().toSeq ===
      hof.select("id", "cluster").orderBy("id").collect().toSeq)
  }

  test("double path: native argmin == HOF witness on real float embeddings") {
    import spark.implicits._
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val dim = e.select(size(col("v"))).head.getInt(0)
    val cents: Seq[Seq[Double]] = (0 until 7).map { c =>
      (0 until dim).map(d => math.sin(c * 31 + d) * 0.5)
    }
    val centRow = Seq((cents.indices.map(_ + 100), cents))
      .toDF("__cells", "__cents")
    val distsHof = transform(col("__cents"),
      c => aggregate(zip_with(col("v"), c, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0d), (acc, x) => acc + x))
    val both = e.join(broadcast(centRow))
      .select(col("id"),
        element_at(col("__cells"), NearestCentroid(col("v"), col("__cents"))).as("nat"),
        element_at(col("__cells"),
          array_position(distsHof, array_min(distsHof)).cast("int")).as("hof"))
    assert(both.where(col("nat") =!= col("hof")).count() === 0)
    assert(both.where(col("nat").isNull).count() === 0)
  }

  test("codegen and interpreted eval agree; ties break to the first minimum") {
    import spark.implicits._
    // centroid 0 and 1 are equidistant from v → first minimum wins
    val df = Seq((Seq(0L, 0L), Seq(Seq(1L, 0L), Seq(0L, 1L), Seq(5L, 5L))))
      .toDF("v", "cents")
    val viaCodegen = df.select(NearestCentroid(col("v"), col("cents"))).head.getInt(0)
    assert(viaCodegen === 1, "tie must break to the first centroid (1-based)")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(NearestCentroid(col("v"), col("cents"))).head.getInt(0)
      assert(interp === viaCodegen)
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("undefined centroids (null / length mismatch / empty list) are skipped or null out") {
    import spark.implicits._
    val df = Seq(
      // null centroid row and a length-mismatched one are skipped
      (Seq(0L, 0L), Seq(null, Seq(9L), Seq(2L, 2L), Seq(1L, 1L))),
      // no valid centroid at all → null
      (Seq(0L, 0L), Seq(Seq(1L, 2L, 3L)))).toDF("v", "cents")
      .select(col("v"), col("cents").cast("array<array<bigint>>").as("cents"))
    val rows = df.select(NearestCentroid(col("v"), col("cents")).as("p")).collect()
    assert(rows(0).getInt(0) === 4, "nearest VALID centroid (1-based original position)")
    assert(rows(1).isNullAt(0), "all-undefined centroid list must yield null")
  }

  test("NaN distances are skipped like array_min would (r8 advice), both eval paths") {
    import spark.implicits._
    val df = Seq(
      // first centroid yields a NaN distance — array_min sorts NaN above
      // every finite value, so the FINITE minimum (centroid 3) must win
      (Seq(0.0d, 0.0d), Seq(Seq(Double.NaN, 0.0d), Seq(9.0d, 9.0d), Seq(1.0d, 1.0d))),
      // every distance NaN → null (declared out-of-contract edge)
      (Seq(Double.NaN, 0.0d), Seq(Seq(0.0d, 0.0d), Seq(1.0d, 1.0d)))).toDF("v", "cents")
    val viaCodegen = df.select(NearestCentroid(col("v"), col("cents")).as("p")).collect()
    assert(viaCodegen(0).getInt(0) === 3, "NaN distance must not win the argmin")
    assert(viaCodegen(1).isNullAt(0), "all-NaN distances must yield null")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(NearestCentroid(col("v"), col("cents")).as("p")).collect()
      assert(interp(0).getInt(0) === 3)
      assert(interp(1).isNullAt(0))
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }
}

/** K12's stratum-cardinality gate and the skew-safe per-source cap —
  * both paths must be row-identical to their small-scale twins, and the
  * plan switch must actually happen.
  */
class MixingScaleSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("temperatureResample: broadcast-threshold path == when-chain path, plan switches") {
    val d = core.Engine.table(spark, TestSpark.sf, "documents")
    val chain = graft.llm.Mixing.temperatureResample(d, "lang", "doc_id",
      targetTotal = 300L, alpha = 0.5)
    val joined = graft.llm.Mixing.temperatureResample(d, "lang", "doc_id",
      targetTotal = 300L, alpha = 0.5, maxWhenChainStrata = 1)
    // the when-chain path filters in place — no join anywhere; the
    // distributed path broadcast-joins the threshold table
    val pChain = chain.queryExecution.executedPlan.toString
    val pJoin = joined.queryExecution.executedPlan.toString
    assert(!pChain.contains("Join"), s"when-chain path must not join:\n$pChain")
    assert(pJoin.contains("BroadcastHashJoin"),
      s"over-gate path must broadcast-join the threshold table:\n$pJoin")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.select("doc_id").orderBy("doc_id").collect().toSeq
    assert(ids(chain) === ids(joined), "both regimes must draw the identical sample")
  }

  test("tokenBudgetSample: bucketed cutoff == naive global running sum; edges") {
    val d = core.Engine.table(spark, TestSpark.sf, "documents")
    def naive(budget: Long) = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("__prio"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      d.withColumn("__prio", md5(col("doc_id").cast("string")))
        .withColumn("__tok",
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
        .withColumn("__cum", sum(col("__tok")).over(w))
        .where(col("__cum") <= budget)
        .select("doc_id").orderBy("doc_id").collect().toSeq
    }
    def bucketed(budget: Long, h: Int) = graft.llm.Mixing
      .tokenBudgetSample(d, "text", "doc_id", budget, bucketHexChars = h)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    // mid-corpus cutoff at two bucket geometries — row parity with the
    // global-window form the oracle also checks cross-engine
    assert(bucketed(30000L, 1) === naive(30000L))
    assert(bucketed(30000L, 2) === naive(30000L))
    // budget 0 admits nothing; a budget past the corpus admits everything
    assert(bucketed(0L, 2).isEmpty)
    assert(bucketed(Long.MaxValue / 4, 2).size === d.count())
  }

  test("mixGateBatch: any id-monotone batch split equals the union windows; replay-safe") {
    val d = core.Engine.table(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    def freshDirs() = (
      java.nio.file.Files.createTempDirectory("graft-mixgate-st").toString,
      java.nio.file.Files.createTempDirectory("graft-mixgate-adm").toString + "/t")
    def run(cuts: Seq[Long]): Seq[(Long, Long)] = {
      val (st, adm) = freshDirs()
      val bounds = Long.MinValue +: cuts :+ Long.MaxValue
      bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        graft.llm.Mixing.mixGateBatch(spark, st,
          d.where(col("doc_id") >= lo && col("doc_id") < hi),
          "text", "doc_id", "source", i.toLong,
          tokenBudget = 15000L, sourceCap = 20L, admittedDir = adm)
      }
      spark.read.parquet(adm).select(col("doc_id"), col("n_tokens"))
        .orderBy(col("doc_id")).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    }
    val one = run(Nil)
    assert(one.nonEmpty && one.size < d.count(), "both constraints must bite")
    assert(run(Seq(200L)) === one, "two id-monotone batches == one batch")
    assert(run(Seq(150L, 350L)) === one, "three batches == one batch")
    // replay: re-running the LAST batch against its own state is a no-op
    val (st, adm) = freshDirs()
    graft.llm.Mixing.mixGateBatch(spark, st, d.where(col("doc_id") < 250L),
      "text", "doc_id", "source", 0L, 15000L, 20L, adm)
    graft.llm.Mixing.mixGateBatch(spark, st, d.where(col("doc_id") >= 250L),
      "text", "doc_id", "source", 1L, 15000L, 20L, adm)
    val before = spark.read.parquet(adm).select("doc_id")
      .orderBy("doc_id").collect().toSeq
    graft.llm.Mixing.mixGateBatch(spark, st, d.where(col("doc_id") >= 250L),
      "text", "doc_id", "source", 1L, 15000L, 20L, adm)
    assert(spark.read.parquet(adm).select("doc_id")
      .orderBy("doc_id").collect().toSeq === before)
  }

  test("targetMix keeps exactly floor(s*t) per stratum, binding stratum whole") {
    val d = core.Engine.table(spark, TestSpark.sf, "documents")
    val targets = Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.15, "zh" -> 0.05)
    val kept = graft.llm.Mixing.targetMix(d, "lang", "doc_id", targets)
      .groupBy(col("lang")).agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = d.groupBy(col("lang")).agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s = targets.map { case (l, t) => counts(l) / t }.min
    targets.foreach { case (l, t) =>
      assert(kept(l) === math.floor(s * t).toLong, s"stratum $l keep count")
    }
    // the binding stratum (least headroom) is kept whole up to flooring
    val binding = targets.minBy { case (l, t) => counts(l) / t }._1
    assert(kept(binding) >= counts(binding) - 1,
      "the binding stratum must survive (almost) entirely")
    // an untargeted stratum is dropped outright
    val some = graft.llm.Mixing.targetMix(d, "lang", "doc_id", Map("en" -> 1.0))
    assert(some.where(col("lang") =!= "en").count() === 0L)
    assert(some.count() === counts("en"))
    // a target naming a stratum ABSENT from the corpus is unsatisfiable
    // (s would be 0) — it must fail fast, never silently violate the mix
    val ex = intercept[IllegalArgumentException] {
      graft.llm.Mixing.targetMix(d, "lang", "doc_id",
        Map("en" -> 0.5, "klingon" -> 0.5))
    }
    assert(ex.getMessage.contains("klingon"))
  }

  test("perSourceCapSkewed == perSourceCap when every source is routed mega") {
    val d = core.Engine.table(spark, TestSpark.sf, "documents")
    val plain = graft.llm.Mixing.perSourceCap(d, "source", "doc_id", cap = 20)
    val salted = graft.llm.Mixing.perSourceCapSkewed(d, "source", "doc_id",
      cap = 20, saltBuckets = 4, megaFactor = 0L)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.select("doc_id").orderBy("doc_id").collect().toSeq
    assert(ids(plain) === ids(salted),
      "two-level salted top-k must be row-identical to the plain window")
    // mixed routing (only some sources mega) must also be exact
    val mixed = graft.llm.Mixing.perSourceCapSkewed(d, "source", "doc_id",
      cap = 20, saltBuckets = 4, megaFactor = 3L)
    assert(ids(plain) === ids(mixed))
  }
}

/** signBucket's literal+HOF form vs the unrolled expression-tree witness
  * — bit parity at the contract dim and at dim 512 (where the unrolled
  * tree is exactly what the rewrite exists to avoid).
  */
class SignBucketSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import graft.functions.VectorFunctions

  test("literal+HOF signBucket == unrolled witness on real embeddings") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val both = e.select(
      VectorFunctions.signBucket(col("embedding"), 4, dim).as("hof"),
      VectorFunctions.signBucketUnrolled(col("embedding"), 4, dim).as("un"))
    assert(both.where(col("hof") =!= col("un")).count() === 0)
    assert(both.where(col("hof").isNull).count() === 0)
  }

  test("dim-512 smoke: bucket computes and matches a driver-side recomputation") {
    // the unrolled witness CANNOT run here: at 512 dims × 8 planes its
    // 4096-node Column tree StackOverflows Spark's Column→Expression
    // converter before planning even starts — precisely the failure the
    // literal+HOF rewrite exists to avoid, so the expected buckets are
    // recomputed driver-side with the identical sequential double math
    import spark.implicits._
    val vecs = (0 until 8).map { r =>
      (0 until 512).map(d => math.sin(r * 997 + d).toFloat)
    }
    val expected = vecs.map { v =>
      (0 until 8).map { p =>
        val proj = (0 until 512).foldLeft(0.0d) { (acc, d) =>
          val h = scala.util.hashing.MurmurHash3.productHash((p, d, 42))
          acc + v(d).toDouble * (if ((h & 1) == 0) 1.0d else -1.0d)
        }
        if (proj >= 0.0d) 1 << p else 0
      }.sum
    }
    val got = vecs.map(Tuple1(_)).toDF("v")
      .select(VectorFunctions.signBucket(col("v"), 8, 512).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(got === expected)
    got.foreach(b => assert(b >= 0 && b < 256))
  }
}

/** LSH quality metrics (the bands/k tuning number): exact duplicates can
  * never be missed by banding, and the reported precision/recall must be
  * internally consistent with the pipeline's own pair output.
  */
class LshQualitySpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import graft.functions.TextFunctions.shingles

  test("retractFromIndex: tombstones at read == rebuild-on-survivors; compact bakes them") {
    import spark.implicits._
    val docs = core.Engine.table(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") < 400L)
    val batch = docs.where(col("doc_id") >= 400L)
    val removed = corpus.where(col("doc_id") % 7 === 3).select(col("doc_id"))
    def pairsOf(path: String) =
      graft.llm.Dedup.minhashPairsAgainstIndex(spark, path, batch,
          "text", "doc_id", shingleN = 3, k = 8, bands = 4)
        .select("new_id", "corpus_id", "jaccard")
        .orderBy("new_id", "corpus_id").collect().toSeq
    // cap-free so retraction-at-read is EXACTLY rebuild-on-survivors
    val full = java.nio.file.Files.createTempDirectory("graft-lshret-full").toString
    graft.llm.Dedup.minhashIndexWrite(corpus, "text", "doc_id", full,
      shingleN = 3, k = 8, bands = 4, maxBucketSize = Int.MaxValue)
    val survivors = java.nio.file.Files.createTempDirectory("graft-lshret-surv").toString
    graft.llm.Dedup.minhashIndexWrite(
      corpus.join(removed, Seq("doc_id"), "left_anti"), "text", "doc_id",
      survivors, shingleN = 3, k = 8, bands = 4, maxBucketSize = Int.MaxValue)
    val before = pairsOf(full)
    graft.llm.Dedup.retractFromIndex(spark, full, removed, "doc_id", 0L)
    val tombstoned = pairsOf(full)
    assert(tombstoned === pairsOf(survivors),
      "tombstoned reads must equal an index the removed docs never entered")
    assert(tombstoned.size < before.size, "the retraction must actually bite")
    // a replayed retraction rewrites exactly itself
    graft.llm.Dedup.retractFromIndex(spark, full, removed, "doc_id", 0L)
    assert(pairsOf(full) === tombstoned)
    // compaction bakes the tombstones physically and clears them
    graft.llm.Dedup.compactIndex(spark, full, maxBucketSize = Int.MaxValue)
    assert(graft.ops.Tombstones.set(spark, full).isEmpty,
      "compaction must clear the applied tombstone set")
    assert(pairsOf(full) === tombstoned, "baked == tombstoned-at-read")
    val sigIds = spark.read.parquet(
        java.nio.file.Paths.get(full).toString + "/sigs_gen=1")
      .select("id").as[Long].collect().toSet
    assert(removed.as[Long].collect().forall(id => !sigIds.contains(id)),
      "retracted ids must be physically gone from the folded sigs")
    // retracted corpus docs no longer veto new arrivals at ingest
    val admitted = graft.llm.Dedup.dedupAgainstIndex(spark, full, batch,
      "text", "doc_id", shingleN = 3, k = 8, bands = 4, threshold = 0.8)
    val admittedSurv = graft.llm.Dedup.dedupAgainstIndex(spark, survivors, batch,
      "text", "doc_id", shingleN = 3, k = 8, bands = 4, threshold = 0.8)
    assert(admitted.select("doc_id").orderBy("doc_id").collect().toSeq ===
      admittedSurv.select("doc_id").orderBy("doc_id").collect().toSeq)
  }

  test("seeded exact dups are fully recalled; metrics agree with the pair output") {
    val base = core.Engine.table(spark, TestSpark.sf, "documents")
      .where(col("doc_id") < 40L)
      .select(col("doc_id"), col("text"))
      .where(size(shingles(col("text"), 3)) > 0) // shingle-less docs never pair
    val nBase = base.count()
    assert(nBase > 10, "need a non-trivial seeded corpus")
    val corpus = base.unionByName(
      base.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
    val m = graft.llm.Dedup.lshQualityMetrics(corpus, "text", "doc_id",
      shingleN = 3, k = 8, bands = 4, threshold = 0.9).head
    val (nTrue, nCand, nHit) = (m.getLong(0), m.getLong(1), m.getLong(2))
    // an exact dup has an IDENTICAL signature, hence identical band keys —
    // banding cannot miss it, so every seeded pair is a candidate AND true
    assert(nTrue >= nBase, s"expected >= $nBase true pairs, got $nTrue")
    assert(nHit >= nBase, s"banding must surface every exact-dup pair: $nHit")
    assert(nHit <= nCand && nHit <= nTrue)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(m.getDouble(3) === r6(nHit.toDouble / nCand))
    assert(m.getDouble(4) === r6(nHit.toDouble / nTrue))
    // cross-check against the pipeline's own pair output: the seeded
    // (id, id+10000) pairs must all be present at jaccard 1.0
    val seeded = graft.llm.Dedup.minhashCandidatePairs(corpus, "text", "doc_id",
        shingleN = 3, k = 8, bands = 4, jaccardThreshold = 0.9)
      .where(col("id_b") === col("id_a") + 10000L && col("jaccard") === 1.0d)
      .count()
    assert(seeded === nBase, s"every seeded dup pair must be surfaced: $seeded/$nBase")
  }
}

/** IVF-index-backed SemDeDup: the within-cell pair set must be a strict
  * subset of the global brute-force pair set (same rounded-cosine
  * threshold), with recall bounded below — the tuning story for nCells.
  */
class IvfSemDeDupSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import graft.functions.VectorFunctions

  test("ivf pairs are a subset of brute-force pairs; recall bounded; no cartesian") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfsd-spec").toString
    graft.llm.Similarity.ivfWriteIndex(e, "v", "id", nCells = 4, lloydRounds = 1,
      path = path)
    val ivf = graft.llm.Similarity.ivfSemanticNearDupPairs(spark, path, 0.35)
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"within-cell pairs must be an equi-join on the cell key:\n$plan")
    val a = e.select(col("id").as("id_a"), col("v").as("__va"))
    val b = e.select(col("id").as("id_b"), col("v").as("__vb"))
    val global = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", round(VectorFunctions.cosine(col("__va"), col("__vb")), 6))
      .where(col("cosine") >= 0.35)
      .select("id_a", "id_b")
    val nIvf = ivf.count()
    val nGlobal = global.count()
    assert(nIvf > 0, "expected some within-cell near-dup pairs")
    // subset: every ivf pair is a global pair (exact — same cosine, same
    // rounding, same threshold; the cell split can only REMOVE pairs)
    val extra = ivf.select("id_a", "id_b").exceptAll(global).count()
    assert(extra === 0, s"$extra ivf pairs missing from the brute-force set")
    // loose recall floor — 4 cells over the sf0.001 embeddings; the real
    // knob is nCells and this pins that the split is not degenerate
    assert(nIvf.toDouble / nGlobal >= 0.2,
      s"recall ${nIvf.toDouble / nGlobal} collapsed — cell split degenerate")
  }

  test("hot-cell triangle-block decomposition is row-identical to the plain join") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfsd-hot").toString
    graft.llm.Similarity.ivfWriteIndex(e, "v", "id", nCells = 4, lloydRounds = 1,
      path = path)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val plain = graft.llm.Similarity.ivfSemanticNearDupPairs(spark, path, 0.35)
      .collect().map(key).toSet
    // maxCellRows = 8 forces every non-trivial cell through the salted
    // triangle-block path (pigeonhole: some cell holds > 8 of the corpus)
    val salted = graft.llm.Similarity
      .ivfSemanticNearDupPairs(spark, path, 0.35, maxCellRows = 8L)
    assert(salted.queryExecution.analyzed.toString.contains("Union"),
      "hot-cell path must have engaged (plain ∪ triangle-block)")
    val saltedPlan = salted.queryExecution.executedPlan.toString
    assert(!saltedPlan.contains("CartesianProduct") &&
      !saltedPlan.contains("BroadcastNestedLoopJoin"),
      s"triangle-block pairs must stay equi-joins on (cell, sa, sb):\n$saltedPlan")
    val saltedSet = salted.collect().map(key).toSet
    assert(saltedSet === plain,
      s"triangle-block pairs must be EXACTLY the plain within-cell pairs " +
        s"(${(saltedSet diff plain).size} extra, ${(plain diff saltedSet).size} missing)")
    assert(plain.nonEmpty, "vacuous fixture — no pairs at this threshold")
  }
}

/** The shared bounded within-group pair generator, through its two other
  * callers (the IVF caller is pinned in IvfSemDeDupSpec): the triangle-
  * block decomposition must be row-identical to the plain within-group
  * join for k-means clusters and sign-hash buckets alike.
  */
class BoundedGroupPairsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private def keys(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("k-means SemDeDup: bounded hot-cluster path == plain path") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
    val plain = graft.llm.Clustering.semanticNearDupPairs(
      e, "embedding", "vec_id", k = 4, iters = 2, threshold = 0.35)
    val bounded = graft.llm.Clustering.semanticNearDupPairs(
      e, "embedding", "vec_id", k = 4, iters = 2, threshold = 0.35,
      maxClusterRows = 8L)
    assert(bounded.queryExecution.analyzed.toString.contains("Union"),
      "hot-cluster path must have engaged at maxClusterRows=8")
    val (p, b) = (keys(plain), keys(bounded))
    assert(p.nonEmpty, "vacuous fixture")
    assert(b === p, s"${(b diff p).size} extra, ${(p diff b).size} missing")
  }

  test("sign-bucket near-dup: bounded hot-bucket path == plain path") {
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
    val plain = graft.llm.Dedup.embeddingNearDupPairs(
      e, "embedding", "vec_id", dim = 64, threshold = 0.3, planes = 2)
    val bounded = graft.llm.Dedup.embeddingNearDupPairs(
      e, "embedding", "vec_id", dim = 64, threshold = 0.3, planes = 2,
      maxBucketRows = 8L)
    assert(bounded.queryExecution.analyzed.toString.contains("Union"),
      "hot-bucket path must have engaged at maxBucketRows=8")
    val (p, b) = (keys(plain), keys(bounded))
    assert(p.nonEmpty, "vacuous fixture")
    assert(b === p, s"${(b diff p).size} extra, ${(p diff b).size} missing")
  }

  test("ngram-Jaccard inverted-index plan == blocked quadratic reference") {
    // the r10 plan rewrite (explode + (block, gram) equi-join + count)
    // must emit row-for-row what the old plan computed: every same-block
    // pair with exact gram-set Jaccard >= threshold, 6dp-rounded
    import graft.functions.TextFunctions.{jaccard, normalizeText, shingles, tokens}
    val d = core.Engine.table(spark, TestSpark.sf, "documents")
    val inv = graft.llm.Dedup.ngramJaccardPairs(d, "text", "doc_id",
      n = 2, threshold = 0.3)
    val g = d.select(
        element_at(tokens(normalizeText(col("text"))), 1).as("block"),
        col("doc_id").as("id"), shingles(col("text"), 2).as("v"))
      .where(size(col("v")) > 0)
    val ref = g.as("a").join(g.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        jaccard(col("a.v"), col("b.v")).as("raw"))
      .where(col("raw") >= 0.3)
      .select(col("id_a"), col("id_b"), round(col("raw"), 6).as("jaccard"))
    val (p, b) = (keys(ref), keys(inv))
    assert(p.nonEmpty, "vacuous fixture")
    assert(b === p, s"${(b diff p).size} extra, ${(p diff b).size} missing")
  }

  test("bucketedSimJoinSkewed == bucketedSimJoin, batch AND as a real stream") {
    import spark.implicits._
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
    val mid = (e.agg(max(col("vec_id"))).head().getLong(0) + 1L) / 2L
    val static = e.where(col("vec_id") < mid)
      .select(col("vec_id").as("corpus_id"), col("embedding").as("cv"))
    val probes = e.where(col("vec_id") >= mid).select(col("vec_id"), col("embedding"))
    def pairKeys(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("corpus_id"), round(col("cosine"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = graft.streaming.Streams.bucketedSimJoin(
      probes, static, "embedding", "cv", dim = 64, nPlanes = 2, threshold = 0.3)
    // max=8 forces every non-trivial static bucket through the salt split
    val salted = graft.streaming.Streams.bucketedSimJoinSkewed(
      probes, static, "embedding", "cv", dim = 64, nPlanes = 2, threshold = 0.3,
      maxStaticBucketRows = 8L)
    assert(salted.queryExecution.analyzed.toString.contains("Union"),
      "hot-bucket path must have engaged at maxStaticBucketRows=8")
    val (p, b) = (pairKeys(plain), pairKeys(salted))
    assert(p.nonEmpty, "vacuous fixture")
    assert(b === p, s"${(b diff p).size} extra, ${(p diff b).size} missing")
    // the hot plan must also run as a REAL stream (union of two
    // stream-static joins + static filters — streamability is the risk)
    val streamRows = probes.orderBy(col("vec_id")).as[(Long, Seq[Float])].collect().toSeq
    val streamed = graft.streaming.Replay.run(spark, streamRows,
        chunkSize = streamRows.size / 3 + 1,
        name = s"graft_skewsim_${System.nanoTime() % 100000}") { ds =>
      graft.streaming.Streams.bucketedSimJoinSkewed(
        ds.toDF("vec_id", "embedding"), static, "embedding", "cv",
        dim = 64, nPlanes = 2, threshold = 0.3, maxStaticBucketRows = 8L)
    }
    assert(pairKeys(streamed) === p, "streamed hot plan diverged from batch")
  }
}

/** Incremental farthest-point seeding: bit-parity with the naive
  * O(nCells²·sample·dim) witness it replaced (r8 verdict #2), plus a
  * nCells=512 smoke that the naive form could not finish in test time.
  */
class IvfSeedingSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** The pre-r9 driver loop, verbatim semantics: rescan ALL current
    * seeds per candidate per iteration. Fixed-point (r15) like the
    * production traversal.
    */
  private def naiveSeeds(sample: Array[Seq[Long]], nCells: Int): Seq[Array[Long]] = {
    val first = sample.head.toArray
    val seeds = scala.collection.mutable.ArrayBuffer(first)
    def d2(a: Array[Long], b: Seq[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    while (seeds.size < nCells) {
      val far = sample.maxBy(v => seeds.map(s => d2(s, v)).min)
      seeds += far.toArray
    }
    seeds.toSeq
  }

  test("incremental seeding is bit-identical to the naive witness") {
    // deterministic fixture with duplicates and clusters (the % 97 fold
    // makes repeated points, exercising zero min-distances and ties);
    // values at the quantized magnitude (±5·10⁵) the production path sees
    val sample = Array.tabulate(300)(i =>
      Seq.tabulate(16)(d => ((i * 31L + d * 17L) % 97L) * 10309L - 500000L))
    val fast = graft.llm.Similarity.farthestPointSeeds(sample, 24)
    val naive = naiveSeeds(sample, 24)
    assert(fast.length === naive.length)
    fast.zip(naive).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.sameElements(b), s"seed $i diverged from the naive witness")
    }
  }

  test("nCells=512 seeding completes in seconds (the naive loop could not)") {
    val sample = Array.tabulate(512 * 64)(i =>
      Seq.tabulate(32)(d => (i * 2654435761L + d * 40503L) % 1000000L))
    val t0 = System.nanoTime()
    val seeds = graft.llm.Similarity.farthestPointSeeds(sample, 512)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(seeds.size === 512)
    // incremental = nCells·sample·dim ≈ 5·10⁸ ops (~1 s); the naive
    // form at this size is ~10¹¹ — minutes, not seconds
    assert(sec < 30.0, f"seeding took $sec%.1f s — incremental form regressed?")
  }
}

/** Incremental IVF append: replay idempotence, assignment parity against
  * the persisted centroids, and cell_stats consistency.
  */
class IvfAppendSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("append is replay-idempotent, argmin-consistent, stats-consistent") {
    import spark.implicits._
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfapp-spec").toString
    val split = e.agg((max(col("id")) * lit(0.8)).cast("long")).head().getLong(0)
    graft.llm.Similarity.ivfWriteIndex(e.where(col("id") < split), "v", "id",
      nCells = 4, lloydRounds = 1, path = path)
    val batch = e.where(col("id") >= split)
    graft.llm.Similarity.ivfAppendBatch(spark, path, batch, "v", "id", batchId = 1L)
    // partition-dir discovery infers __batch as int — normalize to long
    def snapshot() = spark.read.parquet(s"$path/vectors")
      .select(col("id"), col("cell"), col("__batch").cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    val after1 = snapshot()
    // replay the SAME batch id → dynamic overwrite must leave the index
    // row-identical (the Ingest.scala replay rule, now for IVF)
    graft.llm.Similarity.ivfAppendBatch(spark, path, batch, "v", "id", batchId = 1L)
    assert(snapshot() === after1, "replayed append must be idempotent")
    // every id exactly once across base ∪ batch
    assert(after1.map(_._1).distinct.length === after1.length)
    assert(after1.length === e.count())
    // appended cells equal the native argmin against the PERSISTED
    // centroids (the assignCells transport, recomputed independently —
    // fixed-point since r15: quantized batch vs integer centroids)
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy(col("cell")).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
    val centRow = Seq((cents.map(_._1).toSeq, cents.map(_._2).toSeq))
      .toDF("__cells", "__cents")
    val expected = batch.join(broadcast(centRow))
      .select(col("id"), org.apache.spark.sql.functions.element_at(col("__cells"),
        graft.functions.NearestCentroid(
          graft.llm.Similarity.quantizeVec(col("v")), col("__cents"))).as("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val appended = after1.filter(_._3 == 1L)
    assert(appended.nonEmpty, "split produced an empty append batch")
    appended.foreach { case (id, cell, _) =>
      assert(expected(id) === cell, s"id $id landed in cell $cell, argmin says ${expected(id)}")
    }
    // cell_stats (per-batch, summed) must agree with the data
    val statsSizes = graft.llm.Similarity.cellSizes(spark, path)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val dataSizes = spark.read.parquet(s"$path/vectors").groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(statsSizes === dataSizes, "cell_stats diverged from the vectors layout")
  }

  test("streaming wrapper drains batches into the index; flat layouts are refused") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = core.Engine.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val split = e.agg((max(col("id")) * lit(0.8)).cast("long")).head().getLong(0)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfstr-spec").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivfstr-ckpt").toString
    graft.llm.Similarity.ivfWriteIndex(e.where(col("id") < split), "v", "id",
      nCells = 4, lloydRounds = 1, path = path)
    val rest = e.where(col("id") >= split).as[(Long, Seq[Float])].collect()
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    def drain(): Unit = {
      val q = graft.streaming.Ingest.foreachBatchIvfAppend(
        src.toDS().toDF("id", "v"), path, ckpt, "v", "id")
      q.awaitTermination()
    }
    src.addData(b1.toSeq); drain()
    src.addData(b2.toSeq); drain()
    val vecs = spark.read.parquet(s"$path/vectors")
    // every id exactly once; the two drains landed as __batch 1 and 2
    assert(vecs.select("id").distinct().count() === e.count())
    assert(vecs.count() === e.count())
    assert(vecs.select(col("__batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    // the merged index serves pruned ANN reads
    val knn = graft.llm.Similarity.ivfKnnPruned(spark, path,
      e.where(col("id") < 5), "v", "id", k = 3, nProbe = 2)
    assert(knn.count() > 0)
    // compaction folds every batch into __batch=0 without changing the
    // index contents (ids, cells) or breaking stats/reads. Post-compact
    // reads go through the generation-resolved accessor — the raw
    // `$path/vectors` dir is the RETAINED previous generation now (the
    // in-flight-reader grace period), not the current index.
    val preCompact = graft.llm.Similarity.ivfVectors(spark, path)
      .select(col("id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    graft.llm.Similarity.ivfCompact(spark, path)
    val postCompact = graft.llm.Similarity.ivfVectors(spark, path)
      .select(col("id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(postCompact === preCompact, "compaction must not alter (id, cell)")
    assert(graft.llm.Similarity.ivfVectors(spark, path)
      .select(col("__batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(0L),
      "compaction must fold every batch into __batch=0")
    val statsAfter = graft.llm.Similarity.cellSizes(spark, path)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(statsAfter === preCompact.groupBy(_._2).map { case (c, s) => (c, s.size.toLong) },
      "cell_stats must match the compacted layout")
    assert(graft.llm.Similarity.ivfKnnPruned(spark, path,
      e.where(col("id") < 5), "v", "id", k = 3, nProbe = 2).count() > 0)

    // appending into a pre-batch-layout (cell-only) index must refuse
    val flat = java.nio.file.Files.createTempDirectory("graft-ivfflat-spec").toString
    val (indexed, cents) = graft.llm.Similarity.ivfIndex(
      e.where(col("id") < split), "v", "id", nCells = 4, lloydRounds = 1)
    indexed.write.mode("overwrite").partitionBy("cell").parquet(s"$flat/vectors")
    cents.write.mode("overwrite").parquet(s"$flat/centroids")
    val ex = intercept[IllegalArgumentException] {
      graft.llm.Similarity.ivfAppendBatch(spark, flat,
        e.where(col("id") >= split), "v", "id", batchId = 1L)
    }
    assert(ex.getMessage.contains("batch-partitioned layout"))
  }
}
