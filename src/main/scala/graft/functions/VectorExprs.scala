package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import scala.reflect.ClassTag

/** `graft_dot(array<bigint>, array<bigint>) -> bigint` — native Catalyst
  * expression with whole-stage codegen (SURVEY.md §2.10 escalation ladder:
  * built-ins first, native Expression before any UDF).
  *
  * The built-in spelling `aggregate(zip_with(a, b, (x,y) -> x*y), 0, +)`
  * allocates an intermediate array and drives a lambda interpreter per
  * element; this compiles to a bare fused loop over the two ArrayData
  * buffers — the inner-product kernel the similarity operators run once per
  * candidate pair, millions of times per partition at 100 TB.
  */
case class DotProductLong(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot"

  // Replicates the builtin `aggregate(zip_with(a,b,*),0,+)` null semantics:
  // unequal lengths (zip_with null-pads) or a null element null the whole
  // sum, so the result can be null even for non-null array inputs.
  override def nullable: Boolean = true

  private def anyElementNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      // element null-check only emitted when the input types can hold nulls,
      // so the common non-null hot loop stays branch-free
      val nullCheck =
        if (anyElementNullable)
          s"if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $s += $x.getLong($i) * $y.getLong($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** `graft_maxsim(array<bigint>, array<bigint>) -> bigint` — the fused
  * MaxSim kernel over the M=8 × 8-dim multi-vector layout:
  * Σ_m max_n ⟨a[8m..8m+8), b[8n..8n+8)⟩.
  *
  * Bit-identical to the HOF spelling it replaces
  * (`aggregate(sequence(0,7), 0L, (acc, m) -> acc +
  * array_max(transform(sequence(0,7), n -> graft_dot(slice(a, m*8+1, 8),
  * slice(b, n*8+1, 8)))))`) for EVERY input, including the degenerate
  * ones the slice semantics produce: a sub-vector pair whose slice
  * lengths differ dots to null (skipped by the max, like array_max), a
  * sub-vector index past both arrays dots two empty slices to 0, and a
  * row where some m has no non-null dot is null overall (null poisons
  * the aggregate's sum). MaxSimSpec pins the equivalence on adversarial
  * lengths and null elements.
  *
  * Why it exists (guide §1.2 step 2, §4 "prefer codegen expressions"):
  * Spark's higher-order functions are CodegenFallback — the composite
  * runs an interpreted lambda per element and allocates 128 slice
  * arrays + 8 dot arrays per CANDIDATE PAIR, on the hot path of every
  * late-interaction scorer (q412–q415, q417–q419). This compiles to one
  * allocation-free triple loop inside whole-stage codegen.
  */
case class MaxSimLong(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_maxsim"
  override def nullable: Boolean = true

  private def anyElementNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_maxsim requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xn = x.numElements()
    val yn = y.numElements()
    var acc = 0L
    var m = 0
    while (m < 8) {
      val qo = m * 8
      val ql = math.max(0, math.min(8, xn - qo))
      var best = 0L
      var bestSet = false
      var n = 0
      while (n < 8) {
        val dof = n * 8
        val dl = math.max(0, math.min(8, yn - dof))
        if (ql == dl) {
          var s = 0L
          var ok = true
          var i = 0
          while (ok && i < ql) {
            if (x.isNullAt(qo + i) || y.isNullAt(dof + i)) ok = false
            else { s += x.getLong(qo + i) * y.getLong(dof + i); i += 1 }
          }
          if (ok && (!bestSet || s > best)) { best = s; bestSet = true }
        }
        n += 1
      }
      if (!bestSet) return null
      acc += best
      m += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val xn = ctx.freshName("xn")
      val yn = ctx.freshName("yn")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val qo = ctx.freshName("qo")
      val dof = ctx.freshName("dof")
      val ql = ctx.freshName("ql")
      val dl = ctx.freshName("dl")
      val best = ctx.freshName("best")
      val bestSet = ctx.freshName("bestSet")
      val s = ctx.freshName("s")
      val ok = ctx.freshName("ok")
      val i = ctx.freshName("i")
      // element null-check only emitted when the input types can hold
      // nulls, so the common non-null hot loop stays branch-free
      val nullCheck =
        if (anyElementNullable)
          s"if ($x.isNullAt($qo + $i) || $y.isNullAt($dof + $i)) { $ok = false; break; }"
        else ""
      s"""
         |int $xn = $x.numElements();
         |int $yn = $y.numElements();
         |long $acc = 0L;
         |boolean $bad = false;
         |for (int $m = 0; $m < 8 && !$bad; $m++) {
         |  int $qo = $m * 8;
         |  int $ql = $xn - $qo; if ($ql < 0) $ql = 0; if ($ql > 8) $ql = 8;
         |  long $best = 0L;
         |  boolean $bestSet = false;
         |  for (int $n = 0; $n < 8; $n++) {
         |    int $dof = $n * 8;
         |    int $dl = $yn - $dof; if ($dl < 0) $dl = 0; if ($dl > 8) $dl = 8;
         |    if ($ql == $dl) {
         |      long $s = 0L;
         |      boolean $ok = true;
         |      for (int $i = 0; $i < $ql; $i++) {
         |        $nullCheck
         |        $s += $x.getLong($qo + $i) * $y.getLong($dof + $i);
         |      }
         |      if ($ok && (!$bestSet || $s > $best)) { $best = $s; $bestSet = true; }
         |    }
         |  }
         |  if (!$bestSet) { $bad = true; } else { $acc += $best; }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaxSimLong =
    copy(left = newLeft, right = newRight)
}

/** The graft native kernels as Spark FunctionDescriptions — the one
  * table [[graft.GraftExtensions]] injects into every session's function
  * registry. A kernel missing here is unresolvable by name everywhere.
  */
object GraftFunctions {
  type Description = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def kernel[E <: Expression](name: String, arity: Int)(
      build: Seq[Expression] => E)(implicit tag: ClassTag[E]): Description =
    (FunctionIdentifier(name), new ExpressionInfo(tag.runtimeClass.getName, name),
      (children: Seq[Expression]) => {
        require(children.size == arity,
          s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}")
        build(children)
      })

  val descriptions: Seq[Description] = Seq(
    kernel("graft_dot", 2)(c => DotProductLong(c(0), c(1))),
    kernel("graft_maxsim", 2)(c => MaxSimLong(c(0), c(1))),
    kernel("graft_chunks", 3)(c => SlidingChunks(c(0), c(1), c(2))),
    kernel("graft_minhash", 2)(c => MinHashSig(c(0), c(1))),
    kernel("graft_simhash", 2)(c => SimHashSig(c(0), c(1))),
    kernel("graft_bpe_pairs", 1)(c => BpePairs(c(0))),
    kernel("graft_bpe_merge", 2)(c => BpeMerge(c(0), c(1))),
    kernel("graft_bleu_clip", 2)(c => BleuClip(c(0), c(1))),
    kernel("graft_bootweights", 1)(c => BootWeights(c(0))),
    kernel("graft_winhash", 2)(c => WinHashes(c(0), c(1))),
    kernel("graft_cms", 1)(c => CmsBuckets(c(0))))
}
