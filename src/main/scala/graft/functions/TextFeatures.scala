package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-mining column builders for the training-data-pipeline operators
  * (SURVEY §7.6). Everything here compiles to built-in higher-order
  * Catalyst expressions (transform/aggregate/filter) — codegen'd, no
  * UDFs — and every hash is a deterministic polynomial fold over code
  * points, chosen so a DuckDB oracle can reproduce values bit-for-bit
  * (same left-to-right fold, same 64-bit modular arithmetic).
  */
object TextFeatures {

  /** Modulus for all polynomial hashes: < 2^30, so `acc*31 + cp` and
    * `(2j+3)*h + c` stay far from Long overflow. */
  val HashMod = 1000000007L

  /** Whitespace tokenization, empty tokens dropped (split on runs). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Polynomial code-point hash of a string: fold(acc*31 + codepoint) mod
    * HashMod. Cross-engine primitive — DuckDB: list_reduce over
    * list_transform(split(s,''), ascii). Compiled as the native
    * [[PolyHashExpr]] (registered by [[GraftSparkExtensions]], which every
    * session running graft ops installs) — the interpreted-HOF spelling
    * walks an expression tree per character, which dominates the
    * dedup/fingerprint operators' runtime. */
  def charHash(s: Column): Column = call_function("graft_polyhash", s)

  /** Word n-gram shingles joined by single spaces; fewer than n tokens →
    * empty array (guarded: Spark's sequence(1,0) would count DOWN). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Shingle hashes as a concrete array column. Kept SEPARATE from the
    * signature computation on purpose: inlined into the k-way signature
    * lambda, the per-shingle string hashing would be re-evaluated once
    * per hash function (k×). Callers materialize this column (checkpoint
    * or shuffle boundary) before fanning out. */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => charHash(s))

  /** k-function MinHash signature over pre-computed shingle hashes.
    * h_j(x) = ((2j+3)*x + (5j+7)) mod HashMod — fixed, engine-neutral
    * coefficients. Min over a multiset equals min over the set, so no
    * distinct pass is needed. Native [[MinHashExpr]]: one compiled pass
    * carrying all k running minima (the HOF spelling re-walks the hash
    * array k times, interpreted). Only k=16 is registered. */
  def minhashSignature(hashesCol: Column, k: Int): Column = {
    require(k == 16, "only the registered 16-hash variant is exposed")
    call_function("graft_minhash16", hashesCol)
  }

  /** LSH band values: fold each of `bands` contiguous rows-of-`rowsPerBand`
    * signature slices into one bucket hash. */
  def bandValues(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      aggregate(slice(sig, j * rowsPerBand + 1, lit(rowsPerBand)),
        lit(0L), (acc, x) => (acc * 1000003L + x) % HashMod))

  /** `bits`-bit tf-weighted SimHash: every token OCCURRENCE contributes
    * ±1 to each bit counter (counter_b += (tokenHash >> b) & 1 ? +1 : -1);
    * bit b of the result is set iff counter_b > 0. Term-frequency
    * weighting (vs a distinct-token fold) keeps the fingerprint
    * discriminative even when documents share a small vocabulary. */
  def simhash(toks: Column, bits: Int): Column = {
    // Native codegen'd SimHashExpr (flat compiled loop) — the HOF
    // spelling allocated a bits-wide array per token and walked an
    // interpreted expression tree per element. Only the 30-bit variant
    // is registered (the width every graft operator uses).
    require(bits == 30, "only the registered 30-bit variant is exposed")
    call_function("graft_simhash30", toks)
  }

  /** Tiny fixed stopword lists per language for the n-gram/stopword
    * language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une"))

  /** Count of tokens contained in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
}
