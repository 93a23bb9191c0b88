package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic text primitives for the LLM-data-pipeline operators
  * (dedup, fingerprinting, MinHash). Beyond-reference surface — the
  * reference has no text processing; these are the operators a training-data
  * pipeline needs at 100 TB (brief north star).
  *
  * Everything here is **pure integer arithmetic over code points**, so the
  * DuckDB oracle can replicate results bit-for-bit with
  * `list_reduce`/`list_transform` left folds. The SQL twins are generated
  * from the same constants in [[graft.OracleTwins]].
  *
  * Each hash primitive exists twice: a declarative Catalyst
  * higher-order-function form (`*Fold` — the readable semantic spec, but
  * interpreted lambda-per-element) and the native codegen expression
  * ([[TextHashExprs]]) the public API routes through. TextHashSpec pins
  * them bit-identical; the hot paths (LSH dedup over every shingle of every
  * document) only ever run the codegen form.
  *
  * Scale notes: every function is a map-only projection (no shuffle); the
  * shuffling operators built on top (LSH band joins, hash-group dedup) live
  * in [[graft.engine.Dedup]].
  */
object TextFns {
  /** Modulus for all rolling hashes: largest 30-bit-ish prime, so
    * `a*h + b < 2^60` never overflows a long. */
  val P = 1000000007L

  /** MinHash family g_i(h) = (A(i)*h + B(i)) mod P — affine permutations of
    * the base shingle hash, constants derived from i so the oracle can
    * regenerate them. */
  def A(i: Int): Long = (i.toLong * 2654435761L + 1L) % P
  def B(i: Int): Long = (i.toLong * 40503L + 2654435769L) % P

  /** MinHash geometry: NH signature slots in BANDS bands of R rows.
    * Two docs with Jaccard j share a band with prob 1-(1-j^R)^BANDS:
    * j=0.9 → 99.5% caught; j=0.1 → ~0.4% false candidates. */
  val NH = 12
  val R = 3
  val BANDS = 4

  /** Whitespace tokenization (the cross-engine-safe baseline tokenizer). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Polynomial rolling hash over code points:
    * fold(acc=7; acc = (acc*31 + codepoint) mod P). Left fold == DuckDB's
    * `list_reduce`, so both engines run the identical op sequence.
    *
    * Evaluated by the codegen [[PolyHashE]] — the declarative fold
    * ([[polyHashFold]]) is its semantic spec; TextHashSpec asserts they are
    * bit-identical. Same split for the other three hash primitives below. */
  def polyHash(s: Column): Column = TextHashExprs.polyHash(s)

  /** Higher-order-function form of [[polyHash]] (interpreted; spec twin). */
  def polyHashFold(s: Column): Column =
    aggregate(
      filter(split(s, ""), c => length(c) > 0),
      lit(7L),
      (acc, c) => (acc * 31L + ascii(c).cast("long")) % P)

  /** Word k-gram shingles of a token array (>=1 shingle even for short docs;
    * trailing slices truncate identically in both engines). */
  def shingles(w: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(size(w) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(w, i, lit(k))))

  /** Distinct shingle hashes of a document — the set MinHash/Jaccard operate
    * on. Order is engine-dependent, but only mins/sizes/intersections of the
    * set are ever used. */
  def shingleHashes(text: Column, k: Int = 3): Column =
    TextHashExprs.shingleHashes(text, k)

  /** Higher-order-function form of [[shingleHashes]] (spec twin). */
  def shingleHashesFold(text: Column, k: Int = 3): Column =
    array_distinct(transform(shingles(tokens(text), k), polyHashFold(_)))

  /** Positioned (non-distinct) word-k-gram window hashes — one hash per
    * window in document order; the array index is the window position
    * ([[graft.engine.TextOps.repeatedSpans]] explodes it with
    * `posexplode`). Codegen'd ([[SpanHashesE]]); the Fold form is its
    * declarative spec twin. */
  def spanHashes(text: Column, k: Int): Column =
    TextHashExprs.spanHashes(text, k)

  /** Higher-order-function form of [[spanHashes]] (spec twin). */
  def spanHashesFold(text: Column, k: Int): Column =
    transform(shingles(tokens(text), k), polyHashFold(_))

  /** MinHash signature: NH mins over the affine-permuted shingle hashes. */
  def minhashSig(hashes: Column): Column = TextHashExprs.minhashSig(hashes)

  /** Higher-order-function form of [[minhashSig]] (spec twin). */
  def minhashSigFold(hashes: Column): Column =
    array((0 until NH).map(i =>
      array_min(transform(hashes, h => (lit(A(i)) * h + lit(B(i))) % P))): _*)

  /** LSH band keys: one string per band ("b:s1-s2-s3"); docs sharing any
    * band key become candidate pairs. The band join is the 100 TB path —
    * candidates are generated per bucket, never all-pairs. */
  def bandKeys(sig: Column): Column =
    array((0 until BANDS).map { b =>
      concat(lit(s"$b:"), concat_ws("-",
        (0 until R).map(r => element_at(sig, b * R + r + 1)): _*))
    }: _*)

  /** Character k-gram rolling-hash fingerprints (winnowing-style document
    * fingerprint = min over the gram hashes). */
  def charGramHashes(text: Column, k: Int = 8): Column =
    TextHashExprs.charGramHashes(text, k)

  /** Higher-order-function form of [[charGramHashes]] (spec twin). */
  def charGramHashesFold(text: Column, k: Int = 8): Column =
    transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => polyHashFold(substring(text, i, k)))

  private def substring(c: Column, pos: Column, len: Int): Column =
    c.substr(pos, lit(len))

  /** Winnowing fingerprint set: distinct sliding-window minima (window
    * `w`) over the char-`k`-gram hashes — MOSS's fingerprint selection.
    * Codegen'd ([[WinnowHashesE]], O(n) monotonic deque); the Fold form
    * is its declarative spec twin and the shape the DuckDB oracle
    * replicates. */
  def winnowHashes(text: Column, k: Int, w: Int): Column =
    TextHashExprs.winnowHashes(text, k, w)

  /** Higher-order-function form of [[winnowHashes]] (spec twin). The
    * gram array is bound once through a one-element `transform`: a
    * Column is an expression tree, so naming `g` inside the window
    * lambda would recompute every gram hash for every window (O(n²·k)). */
  def winnowHashesFold(text: Column, k: Int, w: Int): Column =
    element_at(transform(array(charGramHashesFold(text, k)), g =>
      array_distinct(transform(
        sequence(lit(1), greatest(size(g) - (w - 1), lit(1))),
        i => array_min(slice(g, i, lit(w)))))), 1)

  /** Exact Jaccard of two distinct-hash arrays (verify step for LSH
    * candidates): one integer ratio → one IEEE division, identical both
    * engines. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")
}
