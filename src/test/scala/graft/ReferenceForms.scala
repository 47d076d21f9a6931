package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Transparent reference forms of the native kernels in
  * [[graft.functions]]: regex / built-in / higher-order-function
  * compositions the parity fuzz in `FunctionsSpec` compares each native
  * expression against. Test-only — no query path calls them.
  */
object ReferenceForms {

  /** Regex-composed normalization (interpreted-parity reference only). */
  def norm_text_builtin(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Built-in-composed tokenizer (parity reference only). Empty input →
    * empty array (split of "" yields [""], which array_remove drops).
    */
  def tokens_builtin(c: Column): Column =
    array_remove(split(norm_text_builtin(c), " "), "")

  /** HOF-composed n-gram generator (transparent reference implementation;
    * unit tests cross-check the native expression against it).
    */
  def ngrams_up_to_hof(toks: Column, maxN: Int): Column =
    // guard: sequence(1, 0) would count *down* ([1,0]), so empty input
    // must short-circuit to an empty array
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(flatten(
        transform(sequence(lit(1), least(lit(maxN), size(toks))), n =>
          transform(sequence(lit(1), size(toks) - n + 1), i =>
            array_join(slice(toks, i, n), " ")))))

  /** HOF-composed shingle generator (interpreted — test reference only). */
  def word_shingles_hof(toks: Column, k: Int): Column =
    when(size(toks) < k, array(array_join(toks, " ")))
      .otherwise(
        transform(sequence(lit(1), size(toks) - k + 1), i =>
          array_join(slice(toks, i, lit(k)), " ")))

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum xxhash64 over the element set. Null-safe for empty arrays
    * (yields nulls which callers must filter). All built-in exprs.
    */
  def minhash_signature(elems: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), h =>
      array_min(transform(elems, e => xxhash64(e, h))))

  /** LSH band keys from a MinHash signature: `bands` keys, each hashing
    * `rowsPerBand` consecutive signature slots together with the band index
    * (so keys from different bands never collide).
    */
  def band_keys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** Regex-composed alpha count (parity reference only). */
  def ascii_alnum_space_count_builtin(c: Column): Column =
    length(regexp_replace(c, "[^A-Za-z0-9 ]", ""))

  /** Regex-composed subword count (parity reference only). */
  def bpe_count_builtin(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))

  /** Built-in-composed Jaccard (interpreted-parity reference: unit tests
    * cross-check the native kernel against this shape).
    */
  def token_jaccard_hof(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_distinct(concat(a, b))).cast("double")
    when(uni === 0d, 0d).otherwise(inter / uni)
  }

  /** Built-in-levenshtein variant (interpreted-parity reference only). */
  def levenshtein_sim_builtin(a: Column, b: Column, maxDist: Int): Column = {
    val longest = greatest(length(a), length(b)).cast("double")
    val d = levenshtein(a, b, maxDist).cast("double")
    when(longest === 0d, 1d)
      .otherwise(when(d < 0d || d > lit(maxDist.toDouble), 0d)
        .otherwise(lit(1d) - d / longest))
  }

  /** HOF-composed cosine (interpreted — test reference only). */
  def cosine_sim_hof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0d), (acc, v) => acc + v)
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom === 0d, 0d).otherwise(dot(a, b) / denom)
  }

  /** HOF-composed SimHash (kept as the slow-but-transparent reference
    * implementation; unit tests cross-check the native expression's
    * bit-vote semantics against this shape).
    */
  def simhash64_hof(toks: Column): Column = {
    val hashes = transform(toks, t => xxhash64(t))
    // single pass over tokens: 64 running bit-votes carried as an array
    val counts = aggregate(hashes, array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (c, b) =>
        c + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1).otherwise(-1)))
    val bits = zip_with(counts, sequence(lit(0), lit(63)), (c, b) =>
      when(c > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (acc, v) => acc.bitwiseOR(v))
  }
}
