package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass signature kernels for the dedup operators.
  *
  * Both replace an explode → wide-aggregate plan (40 bit-vote sums for
  * SimHash, K min-slots for MinHash) with ONE narrow map over the
  * per-document feature array: no explode, no shuffle, no K-wide
  * generated aggregate — per-document work happens where the document
  * already is. Semantics are EXACTLY the aggregate form they replace
  * (asserted by the unchanged unit tests and DuckDB oracles); only the
  * physical shape changes. At 100 TB this converts the signature stage
  * from a corpus-wide exchange into an embarrassingly parallel scan; it
  * also cuts the local cost — the 40-sum HashAggregate compiled ~9 s of
  * generated code per session.
  */
object SketchExprs

/** 40-bit SimHash from a document's feature-hash array: bit j is set iff
  * `Σ_h (2·((h≫j)&1) − 1) > 0`. Null elements vote 0 (matching the
  * explode_outer row the aggregate form produced for empty docs); an
  * empty array yields 0.
  */
case class SimHash40(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash40 expects array<bigint>, got ${t.simpleString}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash40"

  override def nullSafeEval(v: Any): Any = SimHash40.hash(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash40.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash40 {

  val Bits: Int = Parity.SimBits

  /** Shared by interpreted and generated paths (named `hash`, not `eval`
    * — see [[PolyHash.hash]]'s static-forwarder note). */
  def hash(a: ArrayData): Long = {
    val votes = new Array[Int](Bits)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val h = a.getLong(i)
        var j = 0
        while (j < Bits) {
          votes(j) += ((((h >> j) & 1L) << 1) - 1L).toInt
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < Bits) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }

  def apply(c: Column): Column =
    ColumnBridge.column(SimHash40(ColumnBridge.expression(c)))
}

/** K-element MinHash signature from a document's token-code array:
  * `sig_i = min_c (a_i·c + b_i) mod BigP`, empty (or all-null) input →
  * BigP — exactly the K-min-aggregate form it replaces
  * ([[Parity.minhashSig]] / [[Parity.minhashSigSql]]).
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects array<bigint>, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(v: Any): Any = MinHashSig.sig(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.sig($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {

  /** Shared by interpreted and generated paths. Permutation constants
    * come from the same [[Parity.permA]]/[[Parity.permB]] the oracle
    * embeds; products stay ≤ 2⁵¹ (31-bit constant × 20-bit code). */
  def sig(a: ArrayData, k: Int): ArrayData = {
    val out = Array.fill(k)(Parity.BigP)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val c = a.getLong(i)
        var j = 0
        while (j < k) {
          val v = (Parity.permA(j) * c + Parity.permB(j)) % Parity.BigP
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(c), k))
}

/** Shared single-pass tokenize → shingle loops for the kernels below.
  *
  * Input is the RAW [[Parity.splitWords]] array (split is codegen'd, so
  * tokenization semantics — including boundary empty strings — stay
  * byte-identical with the `filter(split(...), len > 0)` Column form the
  * oracles mirror); the kernel skips the empties itself. These exist
  * because Spark evaluates higher-order functions (transform / filter /
  * zip_with) INTERPRETED: beyond the ~50×-per-element cost, the shared
  * megamorphic `Expression.eval` call sites get JIT-profile-polluted by
  * every distinct query in a session, so a warm 1.4 s signature stage
  * decays to ~7 s after unrelated queries run. A static single-pass
  * loop called from generated code has its own monomorphic call site and
  * is immune.
  */
object ShingleKernel {

  /** Non-empty tokens of a split-array (null elements skipped). */
  def tokens(a: ArrayData): Array[String] = {
    val n = a.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[String](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val t = a.getUTF8String(i)
        if (t.numBytes() > 0) out += t.toString
      }
      i += 1
    }
    out.toArray
  }

  private def h40(g: String): Long =
    PolyHash.hash(g, 31L, Parity.TokP) * Parity.TokP2 + PolyHash.hash(g, 131L, Parity.TokP2)

  /** Word-trigram shingle strings in order; `distinct` keeps the first
    * occurrence of each shingle STRING (array_distinct semantics). Docs
    * under 3 tokens yield the empty array.
    */
  def shingleStrings(a: ArrayData, distinct: Boolean): ArrayData = {
    val t = tokens(a)
    if (t.length < 3) return new GenericArrayData(Array.empty[Any])
    val seen = if (distinct) new java.util.HashSet[String]() else null
    val out = new scala.collection.mutable.ArrayBuffer[Any](t.length - 2)
    var i = 0
    while (i + 2 < t.length) {
      val g = t(i) + " " + t(i + 1) + " " + t(i + 2)
      if (seen == null || seen.add(g)) out += UTF8String.fromString(g)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** 40-bit hashes ([[Parity.tokenH40]]) of the word-trigram shingles;
    * `distinct` dedupes by shingle STRING first (identical to hashing
    * [[shingleStrings]]' output — dedupe-by-hash would diverge from the
    * oracle if two distinct shingles in one doc ever collided).
    */
  def shingleH40s(a: ArrayData, distinct: Boolean): ArrayData = {
    val t = tokens(a)
    if (t.length < 3) return new GenericArrayData(Array.empty[Long])
    val seen = if (distinct) new java.util.HashSet[String]() else null
    val out = new scala.collection.mutable.ArrayBuffer[Long](t.length - 2)
    var i = 0
    while (i + 2 < t.length) {
      val g = t(i) + " " + t(i + 1) + " " + t(i + 2)
      if (seen == null || seen.add(g)) out += h40(g)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** 20-bit polynomial code per non-empty token ([[Parity.tokenCodes]]). */
  def tokenCodes(a: ArrayData): ArrayData = {
    val t = tokens(a)
    val out = new Array[Long](t.length)
    var i = 0
    while (i < t.length) {
      out(i) = PolyHash.hash(t(i), 31L, Parity.TokP)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Base for the split-array kernels: array<string> in, one static call out. */
abstract class SplitArrayKernel extends UnaryExpression {

  /** Fully-qualified static call, e.g. `"...shingleStrings(%s, true)"`. */
  protected def staticCall(c: String): String

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<string> (a split() result), got ${t.simpleString}")
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, staticCall)
}

/** `shingle_strings(split_arr, distinct)` — see [[ShingleKernel.shingleStrings]]. */
case class ShingleStrings(child: Expression, distinct: Boolean) extends SplitArrayKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"
  override def nullSafeEval(v: Any): Any =
    ShingleKernel.shingleStrings(v.asInstanceOf[ArrayData], distinct)
  override protected def staticCall(c: String): String =
    s"graft.functions.ShingleKernel.shingleStrings($c, $distinct)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleStrings {
  def apply(c: Column, distinct: Boolean): Column =
    ColumnBridge.column(ShingleStrings(ColumnBridge.expression(c), distinct))
}

/** `shingle_h40s(split_arr, distinct)` — see [[ShingleKernel.shingleH40s]]. */
case class ShingleH40s(child: Expression, distinct: Boolean) extends SplitArrayKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_h40s"
  override def nullSafeEval(v: Any): Any =
    ShingleKernel.shingleH40s(v.asInstanceOf[ArrayData], distinct)
  override protected def staticCall(c: String): String =
    s"graft.functions.ShingleKernel.shingleH40s($c, $distinct)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleH40s {
  def apply(c: Column, distinct: Boolean): Column =
    ColumnBridge.column(ShingleH40s(ColumnBridge.expression(c), distinct))
}

/** `token_codes(split_arr)` — see [[ShingleKernel.tokenCodes]]. */
case class TokenCodes(child: Expression) extends SplitArrayKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_codes"
  override def nullSafeEval(v: Any): Any =
    ShingleKernel.tokenCodes(v.asInstanceOf[ArrayData])
  override protected def staticCall(c: String): String =
    s"graft.functions.ShingleKernel.tokenCodes($c)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCodes {
  def apply(c: Column): Column =
    ColumnBridge.column(TokenCodes(ColumnBridge.expression(c)))
}
