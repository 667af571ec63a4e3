package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline operators:
  * tokenization, n-grams/shingles, MinHash signatures, language ID,
  * quality scoring, fingerprints.
  *
  * Design constraints:
  *  - Pure built-in expressions / higher-order functions → whole-stage
  *    codegen, no UDF serialization, safe at 100 TB.
  *  - Deterministic and engine-portable: every hash is derived from `md5`
  *    (identical hex output in Spark and any SQL oracle), never from
  *    Spark-private hashes like `xxhash64`, so differential testing can
  *    reproduce signatures bit-for-bit.
  */
object TextFunctions {

  /** Lowercase, trim, collapse internal whitespace — the canonical form
    * used by exact dedup.
    */
  def normalizeText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** Whitespace tokenizer (empty tokens removed). */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  /** BPE-ish word/punct tokenizer: splits out word runs, digits runs, and
    * single punctuation marks — a cheap stand-in for subword tokenization
    * that still gives stable token counts for budget estimation.
    */
  def bpeishTokens(c: Column): Column =
    filter(
      split(regexp_replace(c, "([\\p{L}]+|[0-9]+|[^\\p{L}0-9\\s])", " $1 "), "\\s+"),
      t => length(t) > 0)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Word n-grams from a token array: contiguous windows of `n` joined by
    * a single space. `transform(sequence(...))` keeps it codegen-friendly.
    * Each gram is built from n O(1) `element_at` lookups — NOT a
    * `slice` per position, which copies the array and makes the whole
    * thing O(tokens²) per document (measured: 10× of the LSH pipeline on
    * long documents).
    */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (1 to n).map(j => element_at(toks, i + j)): _*)))

  /** Distinct word shingles (n-grams) — the MinHash input set.
    *
    * GUARD (SCALING.md round-6 rule): the result of `shingles`/`ngrams`
    * must NOT be consumed uncached by `explode`/any fan-out — a Generate
    * fused over the inline HOF pipeline is 5-8× slower than exploding a
    * cached column (and every extra consumer re-runs the whole
    * tokenize→ngram→hash pass). Project to (id, hashed grams), persist +
    * eager count, then explode from the cache — see
    * Dedup.shingleHashProjection, the canonical instance.
    */
  def shingles(text: Column, n: Int): Column =
    array_distinct(ngrams(tokens(normalizeText(text)), n))

  /** One MinHash component: the lexicographic minimum of
    * `md5(seed || ':' || shingle)` over the shingle set.
    *
    * Using the min *hex string* instead of a parsed integer keeps the hash
    * function identical in any engine with `md5` (DuckDB, Trino, ...) —
    * see SURVEY.md §7.4 on cross-engine minhash determinism.
    * `array_min` over a transformed array is a pure HOF — no shuffle, no
    * UDF; one pass per seed over each document's shingles.
    */
  def minhashComponent(shingleSet: Column, seed: Int): Column =
    array_min(transform(shingleSet, s => md5(concat(lit(seed.toString), lit(":"), s))))

  /** Modulus for the fast minhash family (2^31 - 1, prime). */
  val MinhashP: Long = 2147483647L

  /** Multiplier/offset for component i of the fast family — fixed affine
    * constants so any SQL engine reproduces them.
    */
  def minhashA(i: Int): Long = ((2L * i + 1L) * 1103515245L) % MinhashP
  def minhashB(i: Int): Long = (40503L * i + 12345L) % MinhashP

  /** ONE md5 per shingle, reduced mod P — the expensive step, done once. */
  def shingleHashes(shingleSet: Column): Column =
    transform(shingleSet, s =>
      pmod(conv(substring(md5(s), 1, 8), 16, 10).cast("long"), lit(MinhashP)))

  /** Fast k-component MinHash from pre-computed shingle hashes: component
    * i = min over shingles of (h·a_i + b_i) mod P. All arithmetic stays
    * below 2^62, so it is exact in any 64-bit engine — unlike re-hashing
    * with k salted md5 calls, this costs one md5 per shingle total
    * (k× cheaper; the dominant cost of MinHash/LSH at corpus scale).
    */
  def minhashSignatureFast(hashes: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(hashes, h =>
        pmod(h * lit(minhashA(i)) + lit(minhashB(i)), lit(MinhashP))))
    }: _*)

  /** LSH band keys: the signature split into `bands` groups of `rowsPerBand`
    * components, each group fused to one md5 key. Two documents collide on
    * a band iff all components in that band match — the classic
    * (bands × rows) S-curve. Returns `array<struct<band:int, key:string>>`
    * ready to explode into a groupBy — the band-bucket join is an equi
    * shuffle, never an all-pairs comparison.
    */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        md5(array_join(slice(signature, b * rowsPerBand + 1, rowsPerBand), "|")).as("key"))
    }: _*)

  /** Exact Jaccard similarity of two pre-deduplicated shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0d, lit(null).cast("double")).otherwise(inter / uni)
  }

  /** SimHash over `bits` bits (≤ 32): per token take bit j of the md5-derived
    * integer, vote +1/-1, sign of the vote is output bit j.
    * Bit j of a token = (hexdigit(md5) >> ...) — derived purely from the
    * first 8 hex chars parsed via conv(), so it is reproducible in SQL.
    */
  def simhash(toks: Column, bits: Int): Column =
    simhashFromHashes(tokenHashes(toks), bits)

  /** The md5-derived 32-bit token hashes the simhash votes read — split
    * out so corpus-scale pipelines can materialize it ONCE in its own
    * projection before [[simhashFromHashes]]: the per-bit aggregates
    * reference the hash array `bits` times, and interpreted HOFs get no
    * common-subexpression elimination, so the single-expression
    * [[simhash]] form recomputes the md5 of every token per BIT — fine
    * at contract scale, 32× the dominant cost on a corpus (the round-1
    * shingle-projection rule, measured again in round 10:
    * `k2_simhash_idx_build` 9.1 s → see SCALING.md). Catalyst keeps the
    * split projection intact because the alias is non-cheap and
    * multiply-referenced (CollapseProject's rule).
    */
  def tokenHashes(toks: Column): Column =
    transform(toks, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))

  /** [[simhash]] over pre-computed [[tokenHashes]] — the identical
    * arithmetic (same votes, same tie rule), just reading the hash array
    * instead of recomputing it.
    */
  def simhashFromHashes(th: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 32, "simhash supports 1..32 bits")
    val bitCols = (0 until bits).map { j =>
      // vote_j = sum over tokens of (bit_j ? 1 : -1)
      val vote = aggregate(th, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(vote > 0L, lit(1L)).otherwise(lit(0L)) * lit(1L << j)
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two simhash values (population count of xor).
    * bit_count is a Spark built-in (and `bit_count` in DuckDB).
    */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Content fingerprint: md5 over the sorted distinct token set — an
    * order-insensitive "bag of words" identity used for fuzzy exact-dup
    * detection (word-order permutations collapse).
    */
  def contentFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(normalizeText(text)))), " "))

  /** Rolling polynomial hash of the token sequence (order-sensitive
    * fingerprint): h = (h*31 + first8(md5(token))) mod (2^31 - 1).
    * The modulus keeps intermediates < 2^36, so the same arithmetic is
    * exact in any engine with 64-bit integers — no wrap-around semantics
    * to agree on (engines differ: Spark wraps, DuckDB raises).
    */
  def rollingHash(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => pmod(acc * 31L + conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
        lit(2147483647L)))

  /** Tiny deterministic language-ID heuristic: scores each candidate
    * language by counting its marker stopwords in the token set; returns
    * the argmax language code or 'und'. Marker lists are fixed so the
    * same CASE logic can be written in oracle SQL.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langScores(toks: Column): Map[String, Column] =
    langMarkers.map { case (lang, markers) =>
      lang -> markers.map(m => size(filter(toks, t => t === m))).reduce(_ + _)
    }

  /** Argmax language with deterministic tie-break (alphabetical lang code,
    * 'und' when every score is zero).
    */
  def langId(toks: Column): Column = {
    val scores = langScores(toks)
    val ordered = scores.toSeq.sortBy(_._1) // alphabetical tie-break
    val best = ordered.foldLeft((lit("und"), lit(0))) { case ((bl, bs), (lang, s)) =>
      (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    best._1
  }

  /** Quality score in [0,1]: blend of length signal, alpha ratio and
    * stopword presence — the standard cheap pre-filter for LLM corpora.
    * All components are rational arithmetic over counts → portable.
    */
  /** PII redaction: emails, IPv4 addresses and NANP-style phone numbers
    * replaced by typed tokens — the standard scrub pass before training-
    * data release. Patterns are RE2-safe (no lookaround), so the exact
    * same regexes run in any engine; order matters (emails first, or the
    * IP pass would eat dotted hostnames inside addresses) and is part of
    * the contract. A narrow projection: fuses into the scan, zero
    * shuffles.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b", "<PHONE>")
  }

  def qualityScore(text: Column): Column = {
    val t = normalizeText(text)
    val toks = tokens(t)
    val nTok = size(toks).cast("double")
    val lenSignal = least(nTok / lit(20.0d), lit(1.0d)) // saturates at 20 tokens
    val alphaChars = length(regexp_replace(t, "[^\\p{L}]", "")).cast("double")
    val alphaRatio = when(length(t) === 0, 0.0d).otherwise(alphaChars / length(t).cast("double"))
    val allMarkers = langMarkers.values.flatten.toSeq.distinct
    val stopHits = size(filter(toks, tk => tk.isin(allMarkers.map(lit(_)): _*))).cast("double")
    val stopSignal = least(stopHits / lit(3.0d), lit(1.0d))
    round(lenSignal * 0.4d + alphaRatio * 0.4d + stopSignal * 0.2d, 6)
  }
}
