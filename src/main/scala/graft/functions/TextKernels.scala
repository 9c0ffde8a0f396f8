package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused text/sketch kernels (guide §1.2 step 2 / §4: native codegen
  * expressions over interpreted HOF/explode pipelines) — static-forwarder
  * methods so whole-stage codegen calls them directly. Every kernel
  * reproduces a composite built-in spelling BIT-EXACTLY (the DuckDB oracle
  * replays the same identities), pinned by `TextKernelsSpec`.
  */
object TextKernelFns {

  // ---- BPE ----------------------------------------------------------

  /** Adjacent symbol pairs of a space-joined symbol string — the pair
    * stream `posexplode(split(s,' ')) → lead(sym) over (w, pos)` emits,
    * without the window: ["a b", "b c"] for "a b c". Symbols are
    * space-free by construction (they come from whitespace tokenization),
    * so splitting on ' ' is exact. Single-symbol words yield an empty
    * array (the lead-null row the old filter dropped).
    */
  def bpePairs(s: UTF8String): ArrayData = {
    val syms = s.toString.split(" ", -1)
    val n = syms.length
    if (n < 2) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = UTF8String.fromString(syms(i) + " " + syms(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Non-overlapping left-to-right application of one BPE merge to a
    * space-joined symbol string — bit-identical to the gaps-and-islands
    * window spelling (mark matching adjacent pairs, keep every other mark
    * per maximal run starting at the first, concat kept pairs): a greedy
    * scan IS that semantics. A pair that is not "<sym> <sym>" (no space)
    * can never match and returns s unchanged.
    */
  def bpeMerge(s: UTF8String, pair: UTF8String): UTF8String = {
    val p = pair.toString
    val sp = p.indexOf(' ')
    if (sp < 0) return s
    val p1 = p.substring(0, sp)
    val p2 = p.substring(sp + 1)
    val syms = s.toString.split(" ", -1)
    val n = syms.length
    val sb = new java.lang.StringBuilder(s.numBytes + 8)
    var i = 0
    var first = true
    while (i < n) {
      if (!first) sb.append(' ')
      first = false
      if (i + 1 < n && syms(i) == p1 && syms(i + 1) == p2) {
        sb.append(syms(i)).append(syms(i + 1))
        i += 2
      } else {
        sb.append(syms(i))
        i += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }

  // ---- BLEU ---------------------------------------------------------

  /** Per-document clipped n-gram matches for n = 1..4 in one pass:
    * out[n-1] = Σ_g min(count_c(g), count_r(g)) over the n-grams g of the
    * candidate/reference token arrays — exactly the
    * `explode(grams) → groupBy(doc,n,g).count ⋈ → Σ least(cc,cr)`
    * contribution of one document. Gram identity is the space-joined
    * token string (`concat_ws(' ', slice(t, i+1, n))`): tokens are
    * space-free, so the join is bijective per n; null tokens are skipped
    * with their separator exactly like concat_ws. A side shorter than n
    * contributes zero for that n (the size(src) >= n filter).
    */
  def bleuClip(c: ArrayData, r: ArrayData): ArrayData = {
    val out = new Array[Long](4)
    val cn = c.numElements()
    val rn = r.numElements()
    val ctoks = new Array[String](cn)
    val rtoks = new Array[String](rn)
    var i = 0
    while (i < cn) { ctoks(i) = if (c.isNullAt(i)) null else c.getUTF8String(i).toString; i += 1 }
    i = 0
    while (i < rn) { rtoks(i) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString; i += 1 }
    var n = 1
    while (n <= 4) {
      if (cn >= n && rn >= n) {
        val rm = new java.util.HashMap[String, Array[Long]]()
        var j = 0
        while (j <= rn - n) {
          val g = joinGram(rtoks, j, n)
          val cell = rm.get(g)
          if (cell == null) rm.put(g, Array(1L)) else cell(0) += 1L
          j += 1
        }
        val cm = new java.util.HashMap[String, Array[Long]]()
        j = 0
        while (j <= cn - n) {
          val g = joinGram(ctoks, j, n)
          val cell = cm.get(g)
          if (cell == null) cm.put(g, Array(1L)) else cell(0) += 1L
          j += 1
        }
        var clip = 0L
        val it = cm.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val rc = rm.get(e.getKey)
          if (rc != null) clip += math.min(e.getValue()(0), rc(0))
        }
        out(n - 1) = clip
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** concat_ws(' ', toks[j..j+n)) — null tokens skipped with their
    * separator, like concat_ws. */
  private def joinGram(toks: Array[String], j: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder()
    var k = 0
    var first = true
    while (k < n) {
      val t = toks(j + k)
      if (t != null) {
        if (!first) sb.append(' ')
        first = false
        sb.append(t)
      }
      k += 1
    }
    sb.toString
  }

  // ---- Poisson bootstrap --------------------------------------------

  private val bootPrefix: Array[Array[Byte]] =
    (0 until 32).map(b => s"boot|$b".getBytes("UTF-8")).toArray

  /** The 32 derived Poisson(1) replicate weights of one event id —
    * per replicate b: h = first two md5 hex digits of
    * `concat_ws('|', 'boot', b, id)` (= first digest byte, unsigned),
    * quantized at {94,188,235} to weights {0,1,2,3}. A null id reproduces
    * concat_ws skipping the null argument ("boot|b", no trailing
    * separator). Replaces the `explode(sequence(0,31)) →
    * conv(substring(md5(concat_ws(…)),1,2),16,10) → CASE` pipeline: no
    * 32× row expansion, no hex string, no substring, no radix parse.
    */
  def bootWeights(id: UTF8String): ArrayData = {
    val md = Digest.instance
    val idBytes = if (id == null) null else id.getBytes
    val out = new Array[Long](32)
    var b = 0
    while (b < 32) {
      md.update(bootPrefix(b))
      if (idBytes != null) {
        md.update('|'.toByte)
        md.update(idBytes)
      }
      val h = md.digest()(0) & 0xFF
      out(b) = if (h < 94) 0L else if (h < 188) 1L else if (h < 235) 2L else 3L
      b += 1
    }
    new GenericArrayData(out)
  }

  // ---- duplicate-span window hashes ----------------------------------

  /** xxhash64 (seed 42 — Spark's `xxhash64` default) of every k-token
    * window's space-joined text, at stride 1:
    * `transform(sequence(0, size(t)-k), i -> xxhash64(array_join(slice(t,
    * i+1, k), ' ')))` as one buffer-reusing pass. Null tokens are skipped
    * with their separator (array_join default). Returns null when
    * size(t) < k (callers filter size >= k first, like the old sequence
    * guard).
    */
  def winHashes(t: ArrayData, k: Int): ArrayData = {
    val n = t.numElements()
    if (n < k) return null
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      toks(i) = if (t.isNullAt(i)) null else t.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    var buf = new Array[Byte](256)
    i = 0
    while (i <= n - k) {
      var len = 0
      var j = 0
      while (j < k) {
        val tok = toks(i + j)
        if (tok != null) {
          val need = len + tok.length + 1
          if (need > buf.length) {
            val nb = new Array[Byte](math.max(need, buf.length * 2))
            System.arraycopy(buf, 0, nb, 0, len)
            buf = nb
          }
          if (len > 0) { buf(len) = ' '.toByte; len += 1 }
          System.arraycopy(tok, 0, buf, len, tok.length)
          len += tok.length
        }
        j += 1
      }
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  // ---- count-min buckets ---------------------------------------------

  private val cmsPrefix: Array[Array[Byte]] =
    (0 until 4).map(r => s"cms-$r-".getBytes("UTF-8")).toArray

  /** The 4 count-min row buckets of one token — per hash row r:
    * `conv(substring(md5(concat('cms-', r, '-', w)), 1, 7), 16, 10) % 512`
    * straight off the digest bytes.
    */
  def cmsBuckets(w: UTF8String): ArrayData = {
    val md = Digest.instance
    val wb = w.getBytes
    val out = new Array[Long](4)
    var r = 0
    while (r < 4) {
      md.update(cmsPrefix(r))
      md.update(wb)
      out(r) = Digest.nibbles(md.digest(), 0, 7) % 512L
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_bpe_pairs(s string) -> array<string>` — [[TextKernelFns.bpePairs]]. */
case class BpePairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_pairs"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_pairs requires string, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(s: Any): Any =
    TextKernelFns.bpePairs(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextKernelFns.bpePairs($s)")

  override protected def withNewChildInternal(newChild: Expression): BpePairs =
    copy(child = newChild)
}

/** `graft_bpe_merge(s string, pair string) -> string` — [[TextKernelFns.bpeMerge]]. */
case class BpeMerge(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_bpe_merge"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_merge requires (string, string), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override protected def nullSafeEval(s: Any, p: Any): Any =
    TextKernelFns.bpeMerge(s.asInstanceOf[UTF8String], p.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p) => s"graft.functions.TextKernelFns.bpeMerge($s, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeMerge =
    copy(left = newLeft, right = newRight)
}

/** `graft_bleu_clip(c array<string>, r array<string>) -> array<bigint>[4]`
  * — [[TextKernelFns.bleuClip]]. */
case class BleuClip(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bleu_clip"

  override def checkInputDataTypes(): TypeCheckResult =
    (HashExprChecks.stringArray(left, "graft_bleu_clip").toSeq ++
      HashExprChecks.stringArray(right, "graft_bleu_clip"))
      .headOption.map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  override protected def nullSafeEval(c: Any, r: Any): Any =
    TextKernelFns.bleuClip(c.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, r) => s"graft.functions.TextKernelFns.bleuClip($c, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BleuClip =
    copy(left = newLeft, right = newRight)
}

/** `graft_bootweights(id string) -> array<bigint>[32]` —
  * [[TextKernelFns.bootWeights]]. NOT null-gated: a null id hashes the
  * null-skipping concat_ws prefix, so the output is never null.
  */
case class BootWeights(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bootweights"
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bootweights requires string, got ${child.dataType.catalogString}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextKernelFns.bootWeights(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.TextKernelFns.bootWeights(
            ${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BootWeights =
    copy(child = newChild)
}

/** `graft_winhash(t array<string>, k int) -> array<bigint>` —
  * [[TextKernelFns.winHashes]]. */
case class WinHashes(child: Expression, width: Expression) extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = width
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winhash"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (HashExprChecks.stringArray(child, "graft_winhash").toSeq ++
      HashExprChecks.posFoldableInt(width, "k", 4096))
      .headOption.map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  private lazy val k: Int = width.eval().asInstanceOf[Int]

  override protected def nullSafeEval(t: Any, w: Any): Any =
    TextKernelFns.winHashes(t.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.TextKernelFns.winHashes($t, $k);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WinHashes =
    copy(child = newLeft, width = newRight)
}

/** `graft_cms(w string) -> array<bigint>[4]` — [[TextKernelFns.cmsBuckets]]. */
case class CmsBuckets(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_cms"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cms requires string, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(w: Any): Any =
    TextKernelFns.cmsBuckets(w.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w => s"graft.functions.TextKernelFns.cmsBuckets($w)")

  override protected def withNewChildInternal(newChild: Expression): CmsBuckets =
    copy(child = newChild)
}
