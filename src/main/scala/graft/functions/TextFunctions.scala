package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic text/hash column builders shared by the dedup /
  * fingerprint / similarity operators.
  *
  * All hashes are plain 64-bit modular arithmetic (not murmur/xxhash) so
  * the DuckDB oracle can reproduce them bit-for-bit with the same integer
  * expressions. Everything here is built-in `functions._` composition →
  * whole-stage codegen, no UDF boundary, distributes trivially.
  */
object TextFunctions {

  /** Large prime modulus keeping every intermediate well inside Long. */
  val P: Long = 1000000007L

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct whitespace tokens (set semantics for dedup/Jaccard). */
  def tokenSet(text: Column): Column = array_distinct(split(text, " "))

  /** Polynomial rolling hash of a string: fold over its characters of
    * (acc * 31 + codepoint) mod P, starting at 0. DuckDB mirror:
    * `list_reduce(list_prepend(CAST(0 AS BIGINT),
    *    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
    *    (a, c) -> (a * 31 + c) % 1000000007)`.
    */
  def charHash(str: Column): Column =
    aggregate(split(str, ""), lit(0L), (acc, c) => (acc * 31 + ascii(c)) % P)

  /** Hashes of the distinct tokens of `text` — basis for MinHash/SimHash. */
  def tokenHashes(text: Column): Column =
    transform(tokenSet(text), charHash _)

  /** Distinct n-token shingles of `text` (space-joined token windows) —
    * the larger key space token-set MinHash needs when the unigram
    * vocabulary is small enough to saturate (see q_dedup_14_lsh_sweep).
    * Documents with fewer than `n` tokens yield an empty list (guarded:
    * Spark's `sequence` would otherwise run DESCENDING for a negative
    * stop and fabricate windows).
    */
  def shingles(text: Column, n: Int): Column = shinglesOf(split(text, " "), n)

  /** Deletion neighborhood of a string: itself plus every
    * single-character deletion (L+1 signatures). Any pair of strings
    * at Levenshtein ≤ 1 provably shares a signature (equal → the full
    * key; one substitution at i → both i-deletions coincide; one
    * indel → the shorter string IS a deletion of the longer), so
    * exploding this column gives a SUPERSET-exact candidate generator
    * for dist ≤ 1 matching — the linear, bucketed replacement for
    * fixed-cardinality blocking keys (r10; q_dedup_9_entity's plan,
    * block sizes profiled by q_dedup_32_deletion_blocks). Shared by
    * both so the operator pair cannot drift.
    */
  def deletionNeighborhood(name: Column): Column =
    transform(sequence(lit(0), length(name)), i =>
      when(i === 0, name).otherwise(
        concat(name.substr(lit(1), i - 1),
          name.substr(i + 1, length(name)))))

  /** [[shingles]] over an ALREADY-SPLIT token-array column — feed it a
    * materialized column when the caller scans many rows: the text form
    * re-evaluates the split per element access inside codegen, which
    * dominated q_text_41's scan until the array was projected first. */
  def shinglesOf(tk: Column, n: Int): Column =
    when(size(tk) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(tk) - n),
        i => concat_ws(" ", (1 to n).map(k => element_at(tk, i + k)): _*))))

  /** MinHash signature over distinct n-token shingle hashes — same
    * universal-hash family as [[minhashSignature]]; native expression
    * (see there), pinned against its declarative twin in the tests. */
  def shingleMinhashSignature(text: Column, n: Int, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.MinhashSig(ColumnBridge.expression(text), k, n))
  }

  /** MinHash signature of `text` with `k` universal-hash functions
    * h_i(x) = ((2i+3)·x + (5i+7)) mod P over the distinct-token hashes.
    *
    * Scale note: signature computation is per-row (no shuffle); the LSH
    * band join that follows groups O(n·bands) small keys instead of the
    * O(n²) pairwise comparison — the standard way near-dedup survives
    * 100 TB corpora.
    */
  def minhashSignature(text: Column, k: Int): Column = {
    // native single-pass expression (graft.expressions.MinhashSig) —
    // the r9 SimHash30 conversion applied to the minhash signature
    // (r14): the declarative chain is a per-character interpreted
    // fold per token plus k interpreted min-passes, and dominated every
    // MinHash corpus scan. Long mod-P arithmetic — exact equality with
    // the declarative twin, pinned by OperatorUnitSpec.
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.MinhashSig(ColumnBridge.expression(text), k))
  }

  /** 30-bit SimHash over the distinct-token hashes: bit j of the result is
    * set iff more token hashes have bit j set than clear. 30 bits because
    * token hashes are mod P < 2^30 — higher bits can never vote. Bit j is
    * read arithmetically ((h div 2^j) mod 2) — exact in double — so the
    * DuckDB oracle can mirror it without shift builtins.
    */
  def simhash32(text: Column): Column = {
    // native single-pass expression (graft.expressions.SimHash30) —
    // same function as the declarative nested-aggregate form, which was
    // fully interpreted (lambda expressions never codegen) and dominated
    // every corpus-scan simhash query (r9 measurement; the declarative
    // form is the test-source twin OperatorUnitSpec pins against)
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.SimHash30(ColumnBridge.expression(text)))
  }

  /** Token n-gram shingles (n consecutive tokens joined by one space).
    * Guarded: Spark's sequence(1, 0) would be DESCENDING, not empty, so
    * texts shorter than n tokens explicitly yield an empty shingle set.
    */
  def tokenShingles(text: Column, n: Int): Column = {
    // native single-pass expression (graft.expressions.TokenShingles) —
    // the declarative form paid an interpreted slice+concat_ws
    // lambda per shingle (r14; measured 1.92 s vs 0.28 s for a plain
    // exploded split over the sf0.1 corpus). Pure string mechanics —
    // exact equality with the declarative twin, pinned by
    // OperatorUnitSpec.
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.TokenShingles(ColumnBridge.expression(text), n))
  }
}
