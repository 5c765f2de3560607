package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing and tokenization primitives.
  *
  * Every primitive exists twice: as a Spark `Column` builder and as a
  * DuckDB SQL-fragment generator, built from the SAME constants, so the
  * harness queries and their oracles compute bit-identical values. Neither
  * engine's built-in hash (Spark murmur3 vs DuckDB xxhash) matches the
  * other, so content hashing is spelled out as integer arithmetic that
  * stays inside whole-stage codegen on the Spark side (higher-order
  * functions over arrays — no UDFs, no serialization boundary).
  *
  * All arithmetic is kept in non-negative BIGINT range (DuckDB errors on
  * 64-bit overflow; products here are bounded by 2^51).
  */
object Parity {

  /** Prime modulus for token codes (20 bits). */
  val TokP = 1000003L

  /** Secondary prime (20 bits) for the fingerprint second hash. */
  val TokP2 = 1048573L

  /** Modulus for permutation/band hashing (2^31 - 1, prime). */
  val BigP = 2147483647L

  /** LCG-derived permutation constants (classic glibc multiplier). */
  def permA(i: Int): Long = (1103515245L * (i + 1) + 12345L) % BigP
  def permB(i: Int): Long = (1234567891L * (i + 1) + 987654321L) % BigP

  // ---- tokenization --------------------------------------------------------

  /** The word separator of every text tokenizer: the class of RE2's
    * `\s`, which the oracles' `regexp_split_to_array(text, '\s+')`
    * splits on. Java's `\s` also matches U+000B (vertical tab), so
    * `split(text, "\\s+")` would cut a word that the oracle keeps whole.
    */
  val WordSep = "[\\t\\n\\f\\r ]+"

  /** `text` split on [[WordSep]], empties kept: the raw array the
    * split-array kernels ([[ShingleKernel]]) read. */
  def splitWords(text: Column): Column = split(text, WordSep)

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(splitWords(text), t => length(t) > lit(0))

  def tokensSql(text: String): String =
    s"list_filter(regexp_split_to_array($text, '\\s+'), t -> len(t) > 0)"

  // ---- polynomial character fold ------------------------------------------

  /** `fold(codepoints(s), 0, acc -> (acc*mult + cp) % p)` — the shared
    * content hash, backed by the codegen'd [[PolyHash]] expression.
    */
  def charFold(s: Column, mult: Long, p: Long): Column = PolyHash(s, mult, p)

  def charFoldSql(s: String, mult: Long, p: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_filter(string_split($s, ''), c -> c <> ''), " +
      s"c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * $mult + c) % $p)"

  /** 40-bit content fingerprint: two independent 20-bit character folds
    * concatenated (`fp_a * TokP2 + fp_b`) — the content-addressed
    * identity used by [[graft.operators.TextOps.fingerprints]] and exact
    * dedup.
    */
  def fp40(text: Column): Column =
    charFold(text, 31L, TokP) * TokP2 + charFold(text, 131L, TokP2)

  def fp40Sql(text: String): String =
    s"(${charFoldSql(text, 31L, TokP)} * $TokP2 + ${charFoldSql(text, 131L, TokP2)})"

  /** Array of per-token codes (20-bit polynomial hash of each token). */
  def tokenCodes(text: Column): Column =
    transform(tokens(text), t => charFold(t, 31L, TokP))

  def tokenCodesSql(text: String): String =
    s"list_transform(${tokensSql(text)}, tok -> ${charFoldSql("tok", 31L, TokP)})"

  /** Distinct word 3-gram shingles of a token array (empty below 3 tokens —
    * NB Spark's `sequence(1, 0)` counts DOWN, hence the explicit guard).
    */
  def shingles(toks: Column): Column = {
    // zip_with over three shifted slices, NOT transform+element_at: each
    // element_at reference would re-inline (and re-evaluate) the whole
    // token expression — Catalyst has no CSE across subexpressions in
    // interpreted higher-order functions. This form touches `toks` ~6
    // times per row instead of 3×(n-2).
    val n = size(toks)
    when(
      n >= 3,
      array_distinct(
        zip_with(
          slice(toks, lit(1), n - 2),
          zip_with(slice(toks, lit(2), n - 2), slice(toks, lit(3), n - 2), (y, z) =>
            concat_ws(" ", y, z)),
          (x, yz) => concat_ws(" ", x, yz))))
      .otherwise(array().cast("array<string>"))
  }

  def shinglesSql(toks: String): String =
    s"(CASE WHEN len($toks) >= 3 THEN list_distinct(" +
      s"[array_to_string(list_slice($toks, i, i + 2), ' ') FOR i IN range(1, len($toks) - 1)]) " +
      s"ELSE [] END)"

  /** ALL word 3-gram shingles in order (multiset — NOT deduplicated).
    * [[shingles]]' distinct form serves set-overlap operators (Jaccard,
    * decontamination); this form serves frequency analysis (repetition
    * detection), where how often a trigram recurs IS the signal.
    */
  def shinglesAll(toks: Column): Column = {
    val n = size(toks)
    when(
      n >= 3,
      zip_with(
        slice(toks, lit(1), n - 2),
        zip_with(slice(toks, lit(2), n - 2), slice(toks, lit(3), n - 2), (y, z) =>
          concat_ws(" ", y, z)),
        (x, yz) => concat_ws(" ", x, yz)))
      .otherwise(array().cast("array<string>"))
  }

  def shinglesAllSql(toks: String): String =
    s"(CASE WHEN len($toks) >= 3 THEN " +
      s"[array_to_string(list_slice($toks, i, i + 2), ' ') FOR i IN range(1, len($toks) - 1)] " +
      s"ELSE [] END)"

  // ---- MinHash -------------------------------------------------------------

  /** K-element MinHash signature over the token-code array:
    * `sig_i = min_t (a_i * code(t) + b_i) % BigP`, empty input → BigP.
    */
  def minhashSig(codes: Column, k: Int): Column =
    array((0 until k).map { i =>
      coalesce(
        array_min(transform(codes, c => (lit(permA(i)) * c + lit(permB(i))) % lit(BigP))),
        lit(BigP))
    }: _*)

  def minhashSigSql(codes: String, k: Int): String =
    (0 until k)
      .map { i =>
        s"coalesce(list_min(list_transform($codes, c -> (${permA(i)} * c + ${permB(i)}) % $BigP)), $BigP)"
      }
      .mkString("[", ", ", "]")

  /** Hash of one LSH band (rows [i*r+1, i*r+r] of the signature, 1-based). */
  def bandVal(sig: Column, band: Int, r: Int): Column =
    aggregate(
      slice(sig, band * r + 1, r),
      lit(0L),
      (acc, x) => (acc * lit(TokP) + x) % lit(BigP))

  def bandValSql(sig: String, band: Int, r: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_slice($sig, ${band * r + 1}, ${band * r + r})), " +
      s"(acc, x) -> (acc * $TokP + x) % $BigP)"

  // ---- SimHash (40-bit) ----------------------------------------------------

  /** 40-bit token hash: two independent 20-bit char folds concatenated. */
  def tokenH40(t: Column): Column =
    charFold(t, 31L, TokP) * lit(TokP2) + charFold(t, 131L, TokP2)

  def tokenH40Sql(t: String): String =
    s"(${charFoldSql(t, 31L, TokP)} * $TokP2 + ${charFoldSql(t, 131L, TokP2)})"

  val SimBits = 40

  /** 40-bit SimHash over the token multiset: bit j is set iff
    * `sum_t (2*((h40(t)>>j)&1) - 1) > 0`. Spelled out per bit (40 array
    * traversals); at true scale this is the spot for a custom
    * `Expression` with a single-pass doGenCode — semantics stay the same.
    */
  def simhash(hashes: Column): Column =
    (0 until SimBits)
      .map { j =>
        val vote = aggregate(
          hashes,
          lit(0L),
          (acc, h) => acc + shiftright(h, j).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        when(vote > 0, lit(1L << j)).otherwise(lit(0L))
      }
      .reduce(_ + _)

  def simhashSql(hashes: String): String =
    (0 until SimBits)
      .map { j =>
        val vote = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform($hashes, h -> ((h >> $j) & 1) * 2 - 1)), (a, x) -> a + x)"
        s"(CASE WHEN $vote > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
      }
      .mkString("(", " + ", ")")

  // ---- vector math (embeddings) --------------------------------------------

  /** Sequential-order dot product of two double arrays — both engines fold
    * left-to-right, so the IEEE result is bit-identical. Backed by the
    * codegen'd [[DotProduct]] expression (the equivalent
    * `aggregate(zip_with(...))` fold is interpreted and ~50× slower).
    */
  def dot(a: Column, b: Column): Column = DotProduct(a, b)

  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(list_zip($a, $b), s -> s[1] * s[2])), (acc, x) -> acc + x)"

  def norm(a: Column): Column = sqrt(DotProduct(a, a))

  def normSql(a: String): String =
    s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform($a, x -> x * x)), (acc, x) -> acc + x))"

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"

  /** Deterministic pseudo-random hyperplane component, range [-1000, 1000]:
    * `g(j,k) = ((1103515245*(j*dim+k) + 12345) % 2001) - 1000`.
    */
  def planeComponent(j: Int, k: Int, dim: Int): Long =
    (1103515245L * (j * dim + k) + 12345L) % 2001L - 1000L

  /** Hyperplane j as a literal double array (generated, not random — the
    * oracle embeds the identical literals).
    */
  def planeLit(j: Int, dim: Int): Column =
    array((0 until dim).map(k => lit(planeComponent(j, k, dim).toDouble)): _*)

  def planeLitSql(j: Int, dim: Int): String =
    (0 until dim).map(k => s"${planeComponent(j, k, dim)}.0").mkString("[", ", ", "]")

  /** Sign-of-projection LSH bucket id over `nPlanes` hyperplanes,
    * starting at global plane index `offset` (multi-table LSH gives each
    * table its own disjoint plane slice).
    */
  def rpBucket(vec: Column, nPlanes: Int, dim: Int, offset: Int = 0): Column =
    (0 until nPlanes)
      .map(j => when(dot(vec, planeLit(offset + j, dim)) > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  def rpBucketSql(vec: String, nPlanes: Int, dim: Int, offset: Int = 0): String =
    (0 until nPlanes)
      .map(j =>
        s"(CASE WHEN ${dotSql(vec, planeLitSql(offset + j, dim))} > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString("(", " + ", ")")
}
