package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Shared md5-sketch kernels for the fused signature expressions below —
  * static-forwarder methods so whole-stage codegen can call them directly.
  *
  * The module hashing policy (TextOps scaladoc) is md5 so every sketch is
  * replayable by the DuckDB oracle; these kernels compute the SAME hex-prefix
  * integers as the `CAST(conv(substring(md5(x), off, len), 16, 10) AS BIGINT)`
  * spelling, but straight off the digest bytes — no 32-char hex string, no
  * substring copy, no radix-parse per value.
  */
object HashKernels {

  /** The 16-permutation Broder MinHash of a shingle set in one pass:
    * per element h1 = md5 hex digits 1..7, h2 = digits 9..15, and
    * m[p] = MIN(h1 + p*h2) — bit-identical to the explode →
    * conv(substring(md5)) → 16×MIN-aggregate spelling. Null elements are
    * skipped exactly like MIN skips the null h's they hash to; an array
    * with no non-null element returns null (the doc the explode dropped).
    */
  def minhash(arr: ArrayData, nperm: Int): ArrayData = {
    val n = arr.numElements()
    val m = new Array[Long](nperm)
    java.util.Arrays.fill(m, Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val dg = Digest.instance.digest(arr.getUTF8String(i).getBytes)
        val h1 = Digest.nibbles(dg, 0, 7)
        val h2 = Digest.nibbles(dg, 8, 7)
        var p = 0
        var v = h1 // h1 + p*h2, accumulated
        while (p < nperm) {
          if (v < m(p)) m(p) = v
          v += h2
          p += 1
        }
      }
      i += 1
    }
    if (!seen) null else new GenericArrayData(m)
  }

  /** The nbits-bit SimHash of a token multiset in one pass: per token
    * h = md5 hex digits 1..8 (32 bits), vote +1 on set bits and -1 on
    * clear bits, signature bit b set iff its vote sum >= 0 — bit-identical
    * to the explode → conv(substring(md5)) → SUM(CASE (h div 2^b) % 2) →
    * fold spelling, including a null token voting -1 on every bit (the
    * `WHEN null THEN 1 ELSE -1` otherwise-branch). Callers null-gate empty
    * arrays (the doc the explode dropped).
    */
  def simhash(arr: ArrayData, nbits: Int): Long = {
    val n = arr.numElements()
    val votes = new Array[Long](nbits)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        var b = 0
        while (b < nbits) { votes(b) -= 1; b += 1 }
      } else {
        val h = Digest.nibbles(Digest.instance.digest(arr.getUTF8String(i).getBytes), 0, 8)
        var b = 0
        while (b < nbits) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < nbits) {
      if (votes(b) >= 0L) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** Foldable positive-int-literal check shared by the signature expressions. */
private[functions] object HashExprChecks {
  def posFoldableInt(e: Expression, name: String, max: Int): Option[String] =
    if (e.dataType != IntegerType || !e.foldable)
      Some(s"$name must be a foldable int literal")
    else if (e.eval() == null || e.eval().asInstanceOf[Int] <= 0 ||
      e.eval().asInstanceOf[Int] > max)
      Some(s"$name must be in [1, $max]")
    else None

  def stringArray(e: Expression, fn: String): Option[String] = e.dataType match {
    case ArrayType(StringType, _) => None
    case other => Some(s"$fn requires array<string>, got ${other.catalogString}")
  }
}

/** `graft_minhash(shingles array<string>, nperm int) -> array<bigint>` —
  * the fused MinHash signature kernel (guide §1.2 step 2 / §4, and §2.4:
  * the value is a pure function of the row, so fusing it removes the
  * signature aggregation's exchange outright).
  *
  * Replaces the q75/q79 spelling: explode(shingles) →
  * 2×`CAST(conv(substring(md5(x), {1,9}, 7), 16, 10) AS BIGINT)` →
  * groupBy(doc).agg(16 × MIN(h1 + i*h2)) — which re-shuffled one row per
  * document for a per-row-computable value and allocated a hex string +
  * two substrings per shingle. Bit-identical output (HashExprsSpec pins
  * it against the old spelling on the real corpus and on adversarial
  * inputs); a doc whose array is empty or all-null returns null where the
  * explode dropped the doc — callers filter `isNotNull` to match.
  */
case class MinHashSig(child: Expression, perms: Expression)
  extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = perms
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (HashExprChecks.stringArray(child, "graft_minhash").toSeq ++
      HashExprChecks.posFoldableInt(perms, "nperm", 64))
      .headOption.map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  private lazy val np: Int = perms.eval().asInstanceOf[Int]

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.minhash(a.asInstanceOf[ArrayData], np)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, _) => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.HashKernels.minhash($x, $np);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(child = newLeft, perms = newRight)
}

/** `graft_simhash(tokens array<string>, nbits int) -> bigint` — the fused
  * SimHash signature kernel (guide §1.2 step 2 / §4 / §2.4, same rationale
  * as [[MinHashSig]]).
  *
  * Replaces the q76 spelling: explode(tokens) →
  * `conv(substring(md5(tk), 1, 8), 16, 10)` → groupBy(doc).agg(32 ×
  * SUM(CASE (h div 2^b) % 2 WHEN 1 THEN 1 ELSE -1)) → sign fold.
  * Bit-identical including a null token voting -1 on every bit; an empty
  * or null array returns null where the explode dropped the doc.
  */
case class SimHashSig(child: Expression, bits: Expression)
  extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = bits
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (HashExprChecks.stringArray(child, "graft_simhash").toSeq ++
      HashExprChecks.posFoldableInt(bits, "nbits", 32))
      .headOption.map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  private lazy val nb: Int = bits.eval().asInstanceOf[Int]

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else HashKernels.simhash(arr, nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, _) => {
      s"""
         |if ($x.numElements() == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.HashKernels.simhash($x, $nb); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHashSig =
    copy(child = newLeft, bits = newRight)
}
