package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exact sorted char n-gram SETS and their intersection size — the
  * per-pair kernel of [[graft.dedup.Dedup.verifyCandidates]].
  *
  * A set is a struct of two sorted, duplicate-free arrays:
  *  - `packed`: every gram of at most 7 UTF-8 bytes as one long, its byte
  *    length in the top byte and its bytes below it, first byte highest.
  *    The length byte makes the encoding injective ("ab" and "ab\u0000"
  *    differ in it; without it they would pack alike), so equal longs are
  *    byte-equal grams. No hash: a hash collision would merge two grams.
  *  - `wide`: every longer gram as a UTF-8 string, in byte order.
  *
  * Gram positions are [[CharNgramsKernel]]'s (its code point offset walk
  * is shared): 1..max(len-n+1, 1), the whole text when it is shorter than
  * n, and the one gram "" (packed as 0) for an empty text. |A∩B| is the
  * sum of two linear merges, |A| the two array sizes.
  */
object GramSetKernel {

  val dataType: StructType = StructType(Seq(
    StructField("packed", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("wide", ArrayType(StringType, containsNull = false), nullable = false)))

  /** [[dataType]] up to nullability: a file scan reads every field back
    * nullable. */
  def isGramSet(t: DataType): Boolean = t match {
    case StructType(Array(StructField(_, ArrayType(LongType, _), _, _),
        StructField(_, ArrayType(_: StringType, _), _, _))) => true
    case _ => false
  }

  private val MaxPacked = 7

  def gramSet(s: UTF8String, n: Int): InternalRow = {
    val bytes = s.getBytes
    val offs = CharNgramsKernel.cpOffsets(bytes)
    val count = offs.length - 1
    val m = CharNgramsKernel.grams(offs, n)
    val packed = new Array[Long](m)
    var np = 0
    var wide: java.util.ArrayList[UTF8String] = null
    var p = 0
    while (p < m) {
      val from = offs(p)
      val len = offs(math.min(p + n, count)) - from
      if (len <= MaxPacked) {
        var v = len.toLong << 56
        var j = 0
        while (j < len) { v |= (bytes(from + j) & 0xffL) << (48 - 8 * j); j += 1 }
        packed(np) = v
        np += 1
      } else {
        if (wide == null) wide = new java.util.ArrayList[UTF8String]()
        wide.add(UTF8String.fromBytes(bytes, from, len))
      }
      p += 1
    }
    // the length byte is at most 7, so every value is non-negative and
    // signed order is a total order on the encoding
    java.util.Arrays.sort(packed, 0, np)
    var u = 0
    var i = 0
    while (i < np) {
      if (u == 0 || packed(u - 1) != packed(i)) { packed(u) = packed(i); u += 1 }
      i += 1
    }
    val wides: Array[Any] =
      if (wide == null) Array.empty[Any]
      else {
        val ws = wide.toArray(new Array[UTF8String](wide.size))
        java.util.Arrays.sort(ws, (x: UTF8String, y: UTF8String) => x.binaryCompare(y))
        val out = new java.util.ArrayList[Any](ws.length)
        for (w <- ws)
          if (out.isEmpty || out.get(out.size - 1) != w) out.add(w)
        out.toArray
      }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(packed, u)),
      new GenericArrayData(wides))
  }

  /** |A∩B| of two sets built by [[gramSet]]. */
  def overlap(a: InternalRow, b: InternalRow): Int = {
    val pa = a.getArray(0)
    val pb = b.getArray(0)
    val na = pa.numElements()
    val nb = pb.numElements()
    var inter = 0
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val x = pa.getLong(i)
      val y = pb.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    val wa = a.getArray(1)
    val wb = b.getArray(1)
    val ma = wa.numElements()
    val mb = wb.numElements()
    i = 0
    j = 0
    while (i < ma && j < mb) {
      val c = wa.getUTF8String(i).binaryCompare(wb.getUTF8String(j))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    inter
  }
}

/** Native gram set of a string — see [[GramSetKernel]]. */
case class GramSetExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"graft_gram_set: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_gram_set requires a string argument, got ${child.dataType}")

  override def dataType: DataType = GramSetKernel.dataType
  override def prettyName: String = "graft_gram_set"

  override protected def nullSafeEval(input: Any): Any =
    GramSetKernel.gramSet(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramSetKernel.gramSet($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): GramSetExpr =
    copy(child = newChild)
}

/** Native |A∩B| of two gram sets — see [[GramSetKernel]]. */
case class GramOverlapExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (GramSetKernel.isGramSet(left.dataType) && GramSetKernel.isGramSet(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_gram_overlap requires two gram sets, got ${left.dataType}, ${right.dataType}")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_gram_overlap"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GramSetKernel.overlap(a.asInstanceOf[InternalRow], b.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GramSetKernel.overlap($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): GramOverlapExpr =
    copy(left = newLeft, right = newRight)
}
