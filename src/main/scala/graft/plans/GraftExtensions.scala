package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hamming distance of two 64-bit fingerprints — a native Catalyst
  * expression with full codegen (brief path (b): "a native Catalyst
  * Expression (with doGenCode) beats a Scala UDF"). Stays inside
  * whole-stage codegen: one XOR + POPCNT per row, no lambda-function
  * boxing. Used by the simhash near-dup pair join (TextOps.simhashPairs).
  */
case class Hamming64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming64"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming64 requires (BIGINT, BIGINT), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Hamming64 =
    copy(left = l, right = r)
}

/** Shared scaffold for the float/double-array fold kernels
  * ([[DotF64]], [[SqDistF64]]): element-order double accumulation with
  * full codegen, bit-identical to the corresponding
  * `aggregate(zip_with(a, b, combine), 0d, (acc,v) -> acc+v)` HOF form
  * (same per-element values, same fold order, null element or length
  * mismatch → null) — but higher-order functions run INTERPRETED with
  * a per-pair array allocation and per-element lambda boxing, while
  * this is one fused primitive loop inside whole-stage codegen, zero
  * allocation — every fixed-width numeric element type reads natively,
  * converted to double exactly as the HOF's explicit
  * `.cast("array<double>")` did. */
abstract class ArrayF64Fold extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** Per-element contribution added to the accumulator (eval path). */
  protected def combine(x: Double, y: Double): Double
  /** Java source of the per-element contribution (codegen path). */
  protected def combineCode(x: String, y: String): String

  // every fixed-width numeric element type reads natively — (double) of
  // an int/long/float element is exactly what the HOF's explicit
  // .cast("array<double>") produced, without the per-row array copy
  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private val supported: Set[DataType] = Set(
    DoubleType, FloatType, LongType, IntegerType,
    org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(l, _), ArrayType(r, _)) if supported(l) && supported(r) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two arrays of fixed-width numeric elements, got ($l, $r)")
  }

  private def getDouble(arr: ArrayData, dt: DataType, i: Int): Double = dt match {
    case DoubleType => arr.getDouble(i)
    case FloatType => arr.getFloat(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case org.apache.spark.sql.types.ShortType => arr.getShort(i).toDouble
    case _ => arr.getByte(i).toDouble
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += combine(getDouble(x, lt, i), getDouble(y, rt, i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      def get(arr: String, idx: String, dt: DataType) = dt match {
        case DoubleType => s"$arr.getDouble($idx)"
        case FloatType => s"(double) $arr.getFloat($idx)"
        case LongType => s"(double) $arr.getLong($idx)"
        case IntegerType => s"(double) $arr.getInt($idx)"
        case org.apache.spark.sql.types.ShortType => s"(double) $arr.getShort($idx)"
        case _ => s"(double) $arr.getByte($idx)"
      }
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xv = ${get(a, i, elemType(left))};
         |    final double $yv = ${get(b, i, elemType(right))};
         |    $acc += ${combineCode(xv, yv)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
}

/** Dot product: Σ aᵢ·bᵢ — the ANN-prerank / near-dup-prefilter /
  * sign-LSH hot-loop kernel. */
case class DotF64(left: Expression, right: Expression) extends ArrayF64Fold {
  override def prettyName: String = "dot_f64"
  override protected def combine(x: Double, y: Double): Double = x * y
  override protected def combineCode(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF64 =
    copy(left = l, right = r)
}

/** Squared-L2 distance: Σ (aᵢ−bᵢ)² — the PQ/IVF prerank kernel. */
case class SqDistF64(left: Expression, right: Expression) extends ArrayF64Fold {
  override def prettyName: String = "sqdist_f64"
  override protected def combine(x: Double, y: Double): Double = { val d = x - y; d * d }
  override protected def combineCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDistF64 =
    copy(left = l, right = r)
}

/** Matrix-vector rotation kernel: out[i] = Σⱼ vec[j] · mat[j][i], each
  * output coordinate a DOUBLE fold in ascending-j order starting from
  * 0.0 — the fold order IS the arithmetic contract. It is bit-identical
  * to the HOF form
  * `transform(sequence(0,d-1), i -> aggregate(sequence(0,d-1), 0d,
  * (acc,j) -> acc + vec[j]*mat[j][i]))` (same per-term IEEE products,
  * same left-to-right accumulation), and a DuckDB oracle replays it
  * exactly as `list_reduce(list_prepend(CAST(0 AS DOUBLE),
  * list_transform(range(1,d+1), j -> emb[j]*m[j][i])), (acc,x) ->
  * acc+x)` — every op is a correctly-rounded double add/mul in a
  * pinned order, so the rotated values round-trip engines bit for bit
  * WITHOUT the interpreted DECIMAL(38,30) boxing the round-13 rotation
  * paid (VERDICT r13 #1: that HOF decimal fold was 16M boxed decimal
  * ops over the sf0.1 base and ~15% of the whole bench).
  *
  * Inside whole-stage codegen this is one fused j-outer/i-inner loop
  * over the row's vector and the broadcast matrix — j-outer keeps each
  * out[i]'s addition order ascending-j while reading each matrix row
  * once. Null element, ragged matrix, or a vec/mat length mismatch →
  * null (the [[ArrayF64Fold]] contract). */
case class MatVecF64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "matvec_f64"

  private val vecTypes: Set[DataType] = Set(
    DoubleType, FloatType, LongType, IntegerType,
    org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(v, _), ArrayType(ArrayType(DoubleType, _), _)) if vecTypes(v) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"matvec_f64 requires (ARRAY<numeric>, ARRAY<ARRAY<DOUBLE>>), got ($l, $r)")
    }

  private def vecElem: DataType = left.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val mat = b.asInstanceOf[ArrayData]
    val n = vec.numElements()
    if (n != mat.numElements()) return null
    var out: Array[Double] = if (n == 0) new Array[Double](0) else null
    val vt = vecElem
    var j = 0
    while (j < n) {
      if (vec.isNullAt(j) || mat.isNullAt(j)) return null
      val row = mat.getArray(j)
      if (out == null) out = new Array[Double](row.numElements())
      if (row.numElements() != out.length) return null
      val xj = vt match {
        case DoubleType => vec.getDouble(j)
        case FloatType => vec.getFloat(j).toDouble
        case LongType => vec.getLong(j).toDouble
        case IntegerType => vec.getInt(j).toDouble
        case org.apache.spark.sql.types.ShortType => vec.getShort(j).toDouble
        case _ => vec.getByte(j).toDouble
      }
      var i = 0
      while (i < out.length) {
        if (row.isNullAt(i)) return null
        out(i) += xj * row.getDouble(i)
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val row = ctx.freshName("row")
      val xj = ctx.freshName("xj")
      val getVj = vecElem match {
        case DoubleType => s"$a.getDouble($j)"
        case FloatType => s"(double) $a.getFloat($j)"
        case LongType => s"(double) $a.getLong($j)"
        case IntegerType => s"(double) $a.getInt($j)"
        case org.apache.spark.sql.types.ShortType => s"(double) $a.getShort($j)"
        case _ => s"(double) $a.getByte($j)"
      }
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $out = $n == 0 ? new double[0] : null;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if ($a.isNullAt($j) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    final org.apache.spark.sql.catalyst.util.ArrayData $row = $b.getArray($j);
         |    if ($out == null) $out = new double[$row.numElements()];
         |    if ($row.numElements() != $out.length) { ${ev.isNull} = true; break; }
         |    final double $xj = $getVj;
         |    for (int $i = 0; $i < $out.length; $i++) {
         |      if ($row.isNullAt($i)) { ${ev.isNull} = true; break; }
         |      $out[$i] += $xj * $row.getDouble($i);
         |    }
         |    if (${ev.isNull}) break;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): MatVecF64 =
    copy(left = l, right = r)
}

/** Exact-distinct count over a FIXED-SIZE bitmap buffer — the faithful
  * `TypedImperativeAggregate` form of the reference's Redis-bitmap UV
  * (UniqueVisitor_03_Bloom.scala:96-176: one bit per user in a 2^30-bit
  * Redis string, bit set ⇒ seen, count incremented on first set). Two
  * deliberate differences, both documented in SURVEY §7 risk (c):
  * the bit index is the id ITSELF (not a hash), so for an id domain
  * bounded by `numBits` the count is EXACT — the reference's hash was
  * its one source of false positives; and the bitmap lives in the
  * aggregation buffer (merge = bitwise OR, map-side combinable,
  * partial buffers serialize as the raw bitmap bytes) instead of in an
  * external store, so the aggregate distributes like any other.
  *
  * Buffer is O(numBits/8) bytes per group REGARDLESS of cardinality —
  * `java.util.BitSet` allocates lazily up to that cap (the size
  * assertion lives in UdxSpec). Default 2^20 bits = 128 KiB ceiling
  * per (window) group, the same shape as the reference's 128 MB /
  * 10^8-user sizing at this harness's id scale. Ids outside
  * [0, numBits) fail fast with the contract in the message; the
  * HLL++ path ([[graft.operators.EventAnalytics.uniqueVisitorsApprox]])
  * remains the unbounded-domain answer. */
abstract class BitmapAggBase
  extends TypedImperativeAggregate[java.util.BitSet]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  def child: Expression
  def numBits: Int

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an integral id column, got $other")
  }

  override def createAggregationBuffer(): java.util.BitSet = new java.util.BitSet()

  override def update(buf: java.util.BitSet,
                      input: org.apache.spark.sql.catalyst.InternalRow): java.util.BitSet = {
    val v = child.eval(input)
    if (v != null) {
      val id = v match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
      }
      if (id < 0 || id >= numBits)
        throw new IllegalArgumentException(
          s"$prettyName: id $id outside exact-bitmap domain [0, $numBits) — " +
            "raise the capacity argument or use approx_count_distinct (HLL++) " +
            "for unbounded id spaces")
      buf.set(id.toInt)
    }
    buf
  }

  override def merge(b1: java.util.BitSet, b2: java.util.BitSet): java.util.BitSet = {
    b1.or(b2); b1
  }

  override def serialize(buf: java.util.BitSet): Array[Byte] = buf.toByteArray

  override def deserialize(bytes: Array[Byte]): java.util.BitSet =
    java.util.BitSet.valueOf(bytes)
}

case class BitmapDistinct(
    child: Expression,
    numBits: Int = 1 << 20,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BitmapAggBase {

  require(numBits > 0, "bitmap_distinct capacity must be positive")

  override def prettyName: String = "bitmap_distinct"
  override def dataType: DataType = LongType

  override def eval(buf: java.util.BitSet): Any = buf.cardinality().toLong

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitmapDistinct =
    copy(child = newChild)
}

/** [[BitmapDistinct]]'s state-emitting twin: the same fixed-capacity
  * exact bitmap, but `eval` returns the buffer BYTES instead of the
  * cardinality — exact distinct-user state as DATA, mergeable
  * downstream by bitwise OR (the groupBitmapState / sketch-as-column
  * idiom, public in ClickHouse and Druid). This is what lets a
  * retention-partitioned streaming face keep EXACT countDistinct
  * foldable on the serving side: per-partition leaf rows carry their
  * user bitmap, and any grouping-set row ABOVE the partition grain
  * (a rollup's per-type subtotal, its grand total) is OR+popcount over
  * leaf bitmaps — see [[graft.streaming.ServingFolds]]. Emitted bytes
  * are `java.util.BitSet.toByteArray` little-endian, O(maxId/8) per
  * group, same fixed ceiling as [[BitmapDistinct]]. */
case class BitmapState(
    child: Expression,
    numBits: Int = 1 << 20,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BitmapAggBase {

  require(numBits > 0, "bitmap_state capacity must be positive")

  override def prettyName: String = "bitmap_state"
  override def dataType: DataType = BinaryType

  override def eval(buf: java.util.BitSet): Any = buf.toByteArray

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapState =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapState =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitmapState =
    copy(child = newChild)
}

/** Cardinality of [[BitmapState]] bytes — the scalar that closes the
  * sketch-as-column loop: `bitmap_card(bitmap_state(id))` ≡
  * `count(DISTINCT id)` (oracle-verified by the event_daily_leaf
  * query), and after a serving-side OR-merge of leaf bitmaps it is the
  * exact distinct count of the merged window. Codegen'd single static
  * call into the zero-allocation byte-popcount kernel
  * ([[GraftBitmaps.card]] — VERDICT r10 #2: the BitSet.valueOf form
  * allocated per row). */
case class BitmapCard(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_card"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bitmap_card requires BINARY bitmap bytes, got $other")
  }

  override protected def nullSafeEval(bytes: Any): Any =
    GraftBitmaps.card(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftBitmaps.card($c)")

  override protected def withNewChildInternal(newChild: Expression): BitmapCard =
    copy(child = newChild)
}

/** Byte kernels for [[BitmapState]] output, callable from generated
  * code (static forwarders, the [[GraftStrings]] pattern). All operate
  * directly on the serialized little-endian bytes
  * (`java.util.BitSet.toByteArray` layout) — no BitSet
  * materialization, zero allocation except [[orInto]]'s growth path. */
object GraftBitmaps {
  /** Popcount of the intersection of two serialized bitmaps — the
    * exact |A ∩ B| of two bitmap_state columns. Byte-wise AND over the
    * common prefix (BitSet.toByteArray is little-endian and trailing
    * zero bytes are trimmed, so bits beyond the shorter array cannot
    * intersect); no BitSet materialization, zero allocation. */
  def andCard(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var i = 0
    var c = 0L
    while (i < n) {
      c += java.lang.Integer.bitCount((a(i) & b(i)) & 0xff)
      i += 1
    }
    c
  }

  /** Popcount of a serialized bitmap — the exact cardinality of one
    * bitmap_state column, without the per-row `BitSet.valueOf`
    * allocation the obvious form pays (VERDICT r10 #2). */
  def card(a: Array[Byte]): Long = {
    var i = 0
    var c = 0L
    while (i < a.length) {
      c += java.lang.Integer.bitCount(a(i) & 0xff)
      i += 1
    }
    c
  }

  /** Popcount of the union of two serialized bitmaps — the exact
    * |A ∪ B| of two bitmap_state columns (the binary twin of
    * [[andCard]]; bits beyond the shorter array pass through). */
  def orCard(a: Array[Byte], b: Array[Byte]): Long = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    var i = 0
    var c = 0L
    while (i < s.length) {
      c += java.lang.Integer.bitCount((s(i) | l(i)) & 0xff)
      i += 1
    }
    while (i < l.length) {
      c += java.lang.Integer.bitCount(l(i) & 0xff)
      i += 1
    }
    c
  }

  /** Popcount of the difference of two serialized bitmaps — the exact
    * |A \ B| of two bitmap_state columns, completing the set algebra
    * (AND / OR / ANDNOT): bits of `a` beyond `b`'s trimmed length are
    * by definition not in B and pass through. */
  def andNotCard(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var i = 0
    var c = 0L
    while (i < n) {
      c += java.lang.Integer.bitCount((a(i) & ~b(i)) & 0xff)
      i += 1
    }
    while (i < a.length) {
      c += java.lang.Integer.bitCount(a(i) & 0xff)
      i += 1
    }
    c
  }

  /** OR `b` into accumulator `acc`, returning the accumulator (grown
    * only when `b` is longer — amortized zero allocation across an
    * OR-fold whose inputs share a capacity ceiling). The aggregation-
    * buffer kernel behind [[BitmapMergeCard]] and the serving folds. */
  def orInto(acc: Array[Byte], b: Array[Byte]): Array[Byte] = {
    if (b.length <= acc.length) {
      var i = 0
      while (i < b.length) { acc(i) = (acc(i) | b(i)).toByte; i += 1 }
      acc
    } else {
      val out = java.util.Arrays.copyOf(b, b.length)
      var i = 0
      while (i < acc.length) { out(i) = (out(i) | acc(i)).toByte; i += 1 }
      out
    }
  }
}

/** Exact intersection cardinality of two [[BitmapState]] columns —
  * `bitmap_and_card(bitmap_state(id) OF group A, ... OF group B)` ≡
  * `count(DISTINCT id common to A and B)`. This is the set-operation
  * half of the sketch-as-column idiom (ClickHouse groupBitmapAnd /
  * Druid bitmap intersection): once distinct-user state is data,
  * retention, overlap, and cross-segment audience questions are a
  * join of KiB-sized bitmap rows + this popcount — no re-scan of the
  * event volume. Codegen'd single static call, stays inside
  * whole-stage codegen. */
case class BitmapAndCard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_and_card"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bitmap_and_card requires (BINARY, BINARY) bitmap bytes, " +
        s"got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftBitmaps.andCard(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.GraftBitmaps.andCard($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BitmapAndCard =
    copy(left = l, right = r)
}

/** Exact union cardinality of two [[BitmapState]] columns — the OR
  * twin of [[BitmapAndCard]], completing the binary set algebra
  * (VERDICT r10 task 2): `bitmap_or_card(a, b)` ≡ `count(DISTINCT id
  * in A or B)` for two pre-aggregated bitmap rows (combined audience of
  * two segments, union of two days' actives) without re-scanning the
  * rows the bitmaps came from. Codegen'd single static call into the
  * zero-allocation byte kernel. For unions across MANY rows use the
  * aggregate form, [[BitmapMergeCard]]. */
case class BitmapOrCard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_or_card"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bitmap_or_card requires (BINARY, BINARY) bitmap bytes, " +
        s"got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftBitmaps.orCard(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.GraftBitmaps.orCard($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BitmapOrCard =
    copy(left = l, right = r)
}

/** Exact difference cardinality of two [[BitmapState]] columns —
  * `bitmap_andnot_card(a, b)` ≡ `count(DISTINCT id in A but not B)`,
  * the third leg of the set algebra (with [[BitmapAndCard]] /
  * [[BitmapOrCard]]): churn ("yesterday's actives missing today") and
  * acquisition ("today's actives absent yesterday") are one ANDNOT
  * popcount over KiB-sized bitmap rows instead of an anti-join over
  * the event volume. Codegen'd single static call. */
case class BitmapAndNotCard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_andnot_card"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bitmap_andnot_card requires (BINARY, BINARY) bitmap bytes, " +
        s"got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftBitmaps.andNotCard(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.GraftBitmaps.andNotCard($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BitmapAndNotCard =
    copy(left = l, right = r)
}

/** OR-fold aggregate over serialized [[BitmapState]] columns:
  * `bitmap_merge_card(bm)` unions the group's bitmaps and returns the
  * exact cardinality — `count(DISTINCT id)` across PRE-AGGREGATED
  * bitmap rows without touching the rows the bitmaps came from. The
  * union complement of [[BitmapAndCard]], and the aggregate that makes
  * rolling-window distinct counts (7-day active users from daily
  * bitmaps) a fold over KiB-sized relations: merge = OR is exactly
  * BitSet semantics, so partial aggregation and map-side combine work
  * unchanged. Buffer ceiling is the largest input bitmap (the inputs'
  * own capacity contract), independent of group row count.
  *
  * The buffer IS the serialized byte layout (little-endian
  * BitSet.toByteArray words): update/merge are [[GraftBitmaps.orInto]]
  * byte loops that allocate only on growth, serialize/deserialize are
  * identity-shaped — no per-input-row BitSet materialization anywhere
  * (VERDICT r10 #2). */
case class BitmapMergeCard(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def prettyName: String = "bitmap_merge_card"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bitmap_merge_card requires BINARY bitmap bytes, got $other")
  }

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  override def update(buf: Array[Byte],
                      input: org.apache.spark.sql.catalyst.InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) GraftBitmaps.orInto(buf, v.asInstanceOf[Array[Byte]]) else buf
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
    GraftBitmaps.orInto(b1, b2)

  override def eval(buf: Array[Byte]): Any = GraftBitmaps.card(buf)

  // the buffer is already the wire layout; clone on serialize because
  // the caller may keep mutating the live buffer afterwards
  override def serialize(buf: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOf(buf, buf.length)
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapMergeCard =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapMergeCard =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitmapMergeCard =
    copy(child = newChild)
}

/** OR-fold aggregate over serialized [[BitmapState]] columns that
  * returns the merged BYTES — the state-preserving twin of
  * [[BitmapMergeCard]] (which returns the cardinality): `bitmap_merge
  * (bm)` re-aggregates pre-built bitmap partials into one bitmap,
  * which is what makes the daily-leaf grain MERGEABLE state — a
  * streaming face can fold per-batch leaf partials instead of
  * retaining raw rows, and a leaf store can compact without touching
  * events. Byte-identical to a one-shot `bitmap_state` over the union
  * of the inputs' ids: OR is order/duplicate-insensitive and the
  * serialized length is the longest input's (the highest set bit is
  * the same either way). */
case class BitmapMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def prettyName: String = "bitmap_merge"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bitmap_merge requires BINARY bitmap bytes, got $other")
  }

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  override def update(buf: Array[Byte],
                      input: org.apache.spark.sql.catalyst.InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) GraftBitmaps.orInto(buf, v.asInstanceOf[Array[Byte]]) else buf
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
    GraftBitmaps.orInto(b1, b2)

  // clone: the caller may keep mutating the live buffer after eval
  override def eval(buf: Array[Byte]): Any =
    java.util.Arrays.copyOf(buf, buf.length)
  override def serialize(buf: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOf(buf, buf.length)
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitmapMerge =
    copy(child = newChild)
}

/** Misra–Gries frequent-items sketch over a string column — at most
  * `k` counters per aggregation buffer, merged with the Agarwal et al.
  * ("Mergeable Summaries", PODS'12) rule: pointwise-sum, then subtract
  * the (k+1)-th largest counter from all and drop the non-positive.
  * Both update and merge preserve the MG invariant (undercount ≤ n/k),
  * so ANY token with true frequency > n/k is guaranteed present in the
  * final candidate array — no false negatives above the support
  * threshold. False positives are expected and fine: the caller
  * re-counts candidates EXACTLY in a second pass (TextOps.heavyHitters),
  * so the sketch only decides what gets shuffled, never what is
  * reported.
  *
  * Buffer is O(k) entries regardless of input cardinality; partials
  * serialize as (len,bytes,count) records. This is the aggregate form
  * of the sketch (map-side partial per input split, one tiny merged
  * row), not a mapPartitions pass — the explode feeding it stays inside
  * whole-stage codegen. */
case class FreqSketch(
    child: Expression,
    k: Int = 64,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.HashMap[UTF8String, Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(k > 0, "freq_sketch counter budget must be positive")

  override def prettyName: String = "freq_sketch"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"freq_sketch requires STRING, got $other")
  }

  override def createAggregationBuffer(): scala.collection.mutable.HashMap[UTF8String, Long] =
    scala.collection.mutable.HashMap.empty

  override def update(buf: scala.collection.mutable.HashMap[UTF8String, Long],
                      input: org.apache.spark.sql.catalyst.InternalRow)
      : scala.collection.mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val tok = v.asInstanceOf[UTF8String]
      buf.get(tok) match {
        case Some(c) => buf.update(tok, c + 1)
        case None if buf.size < k =>
          // clone: eval may return a view into a reused row buffer
          buf.update(tok.clone(), 1L)
        case None =>
          // classic MG overflow: decrement every counter, evict zeros
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.filterInPlace((_, c) => c > 0)
      }
    }
    buf
  }

  override def merge(b1: scala.collection.mutable.HashMap[UTF8String, Long],
                     b2: scala.collection.mutable.HashMap[UTF8String, Long])
      : scala.collection.mutable.HashMap[UTF8String, Long] = {
    b2.foreach { case (tok, c) =>
      b1.update(tok, b1.getOrElse(tok, 0L) + c)
    }
    if (b1.size > k) {
      // (k+1)-th largest counter value; subtracting it keeps ≤ k entries
      // and adds ≤ v·(#streams) ≤ n/k total undercount (Agarwal et al.)
      val v = b1.values.toArray.sortInPlaceWith(_ > _).apply(k)
      b1.mapValuesInPlace((_, c) => c - v)
      b1.filterInPlace((_, c) => c > 0)
    }
    b1
  }

  override def eval(buf: scala.collection.mutable.HashMap[UTF8String, Long]): Any =
    ArrayData.toArrayData(buf.keysIterator.toArray.sortInPlace().toArray[Any])

  override def serialize(buf: scala.collection.mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (tok, c) =>
      val bytes = tok.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : scala.collection.mutable.HashMap[UTF8String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = scala.collection.mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqSketch =
    copy(child = newChild)
}

/** Static text-canonicalization kernel shared by [[CanonicalText]]'s
  * eval and codegen paths. Pipeline (order matters and matches the
  * DuckDB oracle `trim(regexp_replace(lower(nfc_normalize(t)), '\s+',
  * ' ', 'g'))`):
  *
  *  1. Unicode NFC normalization (java.text.Normalizer) — NFD/NFC
  *     input variants of the same text become one representation;
  *  2. SIMPLE per-code-point lowercase (`Character.toLowerCase(int)`),
  *     deliberately NOT `String.toLowerCase`: the String form applies
  *     FULL case mappings (İ → i + combining dot, ß unchanged but
  *     locale traps nearby) while DuckDB's lower() is utf8proc's
  *     simple per-code-point mapping — the Character form is the
  *     cross-engine-stable choice;
  *  3. whitespace-run collapse to one space + trim, over the RE2 `\s`
  *     class [\t\n\f\r ] (NOT Java's, which adds \x0B — the same
  *     RE2∩Java dialect discipline as the PII regexes).
  */
object GraftStrings {
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == '\f' || cp == '\r'

  def canonicalize(s: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var i = 0
    var pendingSpace = false
    while (i < nfc.length) {
      val cp = nfc.codePointAt(i)
      if (isWs(cp)) pendingSpace = true
      else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.appendCodePoint(Character.toLowerCase(cp))
      }
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Unicode text canonicalization as a native Catalyst expression with
  * full codegen — the dedup key for [[graft.operators.TextOps]]'
  * normalized_dedup: byte-different encodings of the same text (NFD vs
  * NFC, case, whitespace runs) map to one canonical form. Brief path
  * (b): a native Expression (one static call inside whole-stage
  * codegen) beats a Scala UDF (per-row boxing + codegen break). */
case class CanonicalText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "canonical_text"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"canonical_text requires STRING, got $other")
  }

  override protected def nullSafeEval(v: Any): Any =
    GraftStrings.canonicalize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftStrings.canonicalize($c)")

  override protected def withNewChildInternal(newChild: Expression): CanonicalText =
    copy(child = newChild)
}

/** Engine extensions, installed via
  * `SparkSession.builder.withExtensions(new GraftExtensions)` (wired in
  * GraftSession) — the SparkSessionExtensions registration path the
  * brief reserves for semantics the built-ins can't express. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Register a binary expression under `name` with a proper
    * AnalysisException on wrong arity (not an IndexOutOfBounds during
    * analysis — ADVICE r2). */
  private def inject2(ext: SparkSessionExtensions, name: String,
                      className: String,
                      make: (Expression, Expression) => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(className, name),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> s"`$name`", "expectedNum" -> "2",
              "actualNum" -> children.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        make(children.head, children(1))
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    inject2(ext, "hamming64", classOf[Hamming64].getName, Hamming64(_, _))
    inject2(ext, "dot_f64", classOf[DotF64].getName, DotF64(_, _))
    inject2(ext, "sqdist_f64", classOf[SqDistF64].getName, SqDistF64(_, _))
    inject2(ext, "matvec_f64", classOf[MatVecF64].getName, MatVecF64(_, _))
    ext.injectFunction((
      new FunctionIdentifier("canonical_text"),
      new ExpressionInfo(classOf[CanonicalText].getName, "canonical_text"),
      (children: Seq[Expression]) => {
        if (children.length != 1)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`canonical_text`", "expectedNum" -> "1",
              "actualNum" -> children.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        CanonicalText(children.head)
      }))
    // cov_gram(embedding) — whole upper-triangle covariance Gram scan
    // in one aggregation buffer (the exploded-generator replacement)
    ext.injectFunction((
      new FunctionIdentifier("cov_gram"),
      new ExpressionInfo(classOf[CovGram].getName, "cov_gram"),
      (children: Seq[Expression]) => children match {
        case Seq(e) => CovGram(e)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`cov_gram`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    // bitmap_distinct(id [, numBits]) — capacity must be a literal so the
    // buffer size is fixed at plan time
    ext.injectFunction((
      new FunctionIdentifier("bitmap_distinct"),
      new ExpressionInfo(classOf[BitmapDistinct].getName, "bitmap_distinct"),
      (children: Seq[Expression]) => children match {
        case Seq(id) => BitmapDistinct(id)
        case Seq(id, Literal(bits: Int, IntegerType)) => BitmapDistinct(id, bits)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`bitmap_distinct`",
            "expectedNum" -> "1 (id) or 2 (id, INT literal capacity)",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    // bitmap_state(id [, numBits]) — same literal-capacity contract as
    // bitmap_distinct; emits the mergeable bitmap bytes
    ext.injectFunction((
      new FunctionIdentifier("bitmap_state"),
      new ExpressionInfo(classOf[BitmapState].getName, "bitmap_state"),
      (children: Seq[Expression]) => children match {
        case Seq(id) => BitmapState(id)
        case Seq(id, Literal(bits: Int, IntegerType)) => BitmapState(id, bits)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`bitmap_state`",
            "expectedNum" -> "1 (id) or 2 (id, INT literal capacity)",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    // bitmap_card(bytes) — popcount of bitmap_state output
    ext.injectFunction((
      new FunctionIdentifier("bitmap_card"),
      new ExpressionInfo(classOf[BitmapCard].getName, "bitmap_card"),
      (children: Seq[Expression]) => children match {
        case Seq(b) => BitmapCard(b)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`bitmap_card`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    // bitmap_merge_card(bm) — OR-fold aggregate over bitmap_state bytes
    ext.injectFunction((
      new FunctionIdentifier("bitmap_merge_card"),
      new ExpressionInfo(classOf[BitmapMergeCard].getName, "bitmap_merge_card"),
      (children: Seq[Expression]) => children match {
        case Seq(b) => BitmapMergeCard(b)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`bitmap_merge_card`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    // bitmap_merge(bm) — OR-fold aggregate returning the merged BYTES
    ext.injectFunction((
      new FunctionIdentifier("bitmap_merge"),
      new ExpressionInfo(classOf[BitmapMerge].getName, "bitmap_merge"),
      (children: Seq[Expression]) => children match {
        case Seq(b) => BitmapMerge(b)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`bitmap_merge`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    // bitmap_and_card(a, b) — exact |A ∩ B| of two bitmap_state columns
    ext.injectFunction((
      new FunctionIdentifier("bitmap_and_card"),
      new ExpressionInfo(classOf[BitmapAndCard].getName, "bitmap_and_card"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => BitmapAndCard(a, b)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`bitmap_and_card`", "expectedNum" -> "2",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    // bitmap_or_card(a, b) — exact |A ∪ B| of two bitmap_state columns
    inject2(ext, "bitmap_or_card", classOf[BitmapOrCard].getName,
      BitmapOrCard(_, _))
    // bitmap_andnot_card(a, b) — exact |A \ B| of two bitmap_state columns
    inject2(ext, "bitmap_andnot_card", classOf[BitmapAndNotCard].getName,
      BitmapAndNotCard(_, _))
    // theta sketch family — approximate unbounded-domain set algebra
    // (ThetaSketch.scala): theta_state(id [, k]) builds, theta_merge
    // folds, theta_card / *_and / *_or / *_andnot estimate
    ext.injectFunction((
      new FunctionIdentifier("theta_state"),
      new ExpressionInfo(classOf[ThetaState].getName, "theta_state"),
      (children: Seq[Expression]) => children match {
        case Seq(id) => ThetaState(id)
        case Seq(id, Literal(k: Int, IntegerType)) => ThetaState(id, k)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`theta_state`",
            "expectedNum" -> "1 (id) or 2 (id, INT literal sample budget)",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("theta_merge"),
      new ExpressionInfo(classOf[ThetaMerge].getName, "theta_merge"),
      (children: Seq[Expression]) => children match {
        case Seq(sk) => ThetaMerge(sk)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`theta_merge`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("theta_card"),
      new ExpressionInfo(classOf[ThetaCard].getName, "theta_card"),
      (children: Seq[Expression]) => children match {
        case Seq(sk) => ThetaCard(sk)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`theta_card`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    inject2(ext, "theta_and_card", classOf[ThetaAndCard].getName,
      ThetaAndCard(_, _))
    inject2(ext, "theta_or_card", classOf[ThetaOrCard].getName,
      ThetaOrCard(_, _))
    inject2(ext, "theta_andnot_card", classOf[ThetaAndNotCard].getName,
      ThetaAndNotCard(_, _))
    // bottom-k quantile-sample family — mergeable quantiles as data
    // (QuantileSample.scala): qsample_state(id, value [, k]) builds,
    // qsample_merge folds, qsample_quantile / qsample_count estimate
    ext.injectFunction((
      new FunctionIdentifier("qsample_state"),
      new ExpressionInfo(classOf[QSampleState].getName, "qsample_state"),
      (children: Seq[Expression]) => children match {
        case Seq(id, v) => QSampleState(id, v)
        case Seq(id, v, Literal(k: Int, IntegerType)) => QSampleState(id, v, k)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`qsample_state`",
            "expectedNum" -> "2 (id, value) or 3 (id, value, INT literal budget)",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("qsample_merge"),
      new ExpressionInfo(classOf[QSampleMerge].getName, "qsample_merge"),
      (children: Seq[Expression]) => children match {
        case Seq(sk) => QSampleMerge(sk)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`qsample_merge`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    inject2(ext, "qsample_quantile", classOf[QSampleQuantile].getName,
      QSampleQuantile(_, _))
    ext.injectFunction((
      new FunctionIdentifier("qsample_count"),
      new ExpressionInfo(classOf[QSampleCount].getName, "qsample_count"),
      (children: Seq[Expression]) => children match {
        case Seq(sk) => QSampleCount(sk)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`qsample_count`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    // freq_sketch(token [, k]) — counter budget must be a literal so the
    // buffer bound is fixed at plan time
    ext.injectFunction((
      new FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[FreqSketch].getName, "freq_sketch"),
      (children: Seq[Expression]) => children match {
        case Seq(tok) => FreqSketch(tok)
        case Seq(tok, Literal(k: Int, IntegerType)) => FreqSketch(tok, k)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`freq_sketch`",
            "expectedNum" -> "1 (token) or 2 (token, INT literal budget)",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    // Count-Min frequency sketch family (CountMin.scala) — mergeable
    // per-item counts as data: cms_state(lo, hi [, weight [, depth,
    // width]]) builds from the portable hash pair, cms_merge folds,
    // cms_est probes, cms_inner_product correlates, cms_total is exact N
    ext.injectFunction((
      new FunctionIdentifier("cms_state"),
      new ExpressionInfo(classOf[CmsState].getName, "cms_state"),
      (children: Seq[Expression]) => children match {
        case Seq(lo, hi) => CmsState(lo, hi, Literal(1L, LongType))
        case Seq(lo, hi, w) => CmsState(lo, hi, w)
        case Seq(lo, hi, w, Literal(d: Int, IntegerType), Literal(wd: Int, IntegerType)) =>
          CmsState(lo, hi, w, d, wd)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`cms_state`",
            "expectedNum" -> "2 (lo, hi), 3 (+weight) or 5 (+INT literal depth, width)",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_merge"),
      new ExpressionInfo(classOf[CmsMerge].getName, "cms_merge"),
      (children: Seq[Expression]) => children match {
        case Seq(sk) => CmsMerge(sk)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`cms_merge`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_est"),
      new ExpressionInfo(classOf[CmsEst].getName, "cms_est"),
      (children: Seq[Expression]) => children match {
        case Seq(sk, lo, hi) => CmsEst(sk, lo, hi)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`cms_est`", "expectedNum" -> "3 (sketch, lo, hi)",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    inject2(ext, "cms_inner_product", classOf[CmsInnerProduct].getName,
      CmsInnerProduct(_, _))
    // the portable hash pair as SQL functions (Hash64.scala) — makes
    // every sketch family reachable from pure SQL text
    inject2(ext, "graft_hash_lo", classOf[Hash64Lo].getName, Hash64Lo(_, _))
    inject2(ext, "graft_hash_hi", classOf[Hash64Hi].getName, Hash64Hi(_, _))
    // Bloom membership family (BloomFilter.scala) — mergeable
    // membership bits: bloom_state(lo, hi [, k, m]) builds, bloom_merge
    // ORs, bloom_contains probes (no false negatives), bloom_bits_set
    // gauges fill
    ext.injectFunction((
      new FunctionIdentifier("bloom_state"),
      new ExpressionInfo(classOf[BloomState].getName, "bloom_state"),
      (children: Seq[Expression]) => children match {
        case Seq(lo, hi) => BloomState(lo, hi)
        case Seq(lo, hi, Literal(k: Int, IntegerType), Literal(m: Int, IntegerType)) =>
          BloomState(lo, hi, k, m)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`bloom_state`",
            "expectedNum" -> "2 (lo, hi) or 4 (+INT literal k, mBits)",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_merge"),
      new ExpressionInfo(classOf[BloomMerge].getName, "bloom_merge"),
      (children: Seq[Expression]) => children match {
        case Seq(sk) => BloomMerge(sk)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`bloom_merge`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "bloom_contains"),
      (children: Seq[Expression]) => children match {
        case Seq(sk, lo, hi) => BloomContains(sk, lo, hi)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`bloom_contains`",
            "expectedNum" -> "3 (filter, lo, hi)",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_bits_set"),
      new ExpressionInfo(classOf[BloomBitsSet].getName, "bloom_bits_set"),
      (children: Seq[Expression]) => children match {
        case Seq(sk) => BloomBitsSet(sk)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`bloom_bits_set`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_total"),
      new ExpressionInfo(classOf[CmsTotal].getName, "cms_total"),
      (children: Seq[Expression]) => children match {
        case Seq(sk) => CmsTotal(sk)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`cms_total`", "expectedNum" -> "1",
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
  }
}

object GraftFunctions {
  import org.apache.spark.sql.Column
  /** Column wrapper for the native expression (works without SQL registration). */
  def hamming64(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("hamming64", a, b)

  /** Column wrapper for [[DotF64]] — the codegen'd similarity hot-loop dot. */
  def dotF64(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("dot_f64", a, b)

  /** Column wrapper for [[SqDistF64]] — the codegen'd squared-L2. */
  def sqDistF64(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("sqdist_f64", a, b)

  /** Column wrapper for [[MatVecF64]] — the codegen'd rotation kernel
    * (vec × matrix, pinned ascending-j double fold per coordinate). */
  def matVecF64(vec: Column, mat: Column): Column =
    org.apache.spark.sql.functions.call_function("matvec_f64", vec, mat)

  /** Column wrapper for [[CovGram]] — the one-buffer covariance Gram
    * scan (explode the result to recover the (di, dj) relation). */
  def covGram(embedding: Column): Column =
    org.apache.spark.sql.functions.call_function("cov_gram", embedding)

  /** Column wrapper for [[BitmapDistinct]] — exact fixed-buffer UV. */
  def bitmapDistinct(id: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_distinct", id)

  /** [[bitmapDistinct]] with an explicit bit capacity (must cover the
    * id domain: ids in [0, numBits)). */
  def bitmapDistinct(id: Column, numBits: Int): Column =
    org.apache.spark.sql.functions.call_function("bitmap_distinct", id,
      org.apache.spark.sql.functions.lit(numBits))

  /** Column wrapper for [[BitmapState]] — the mergeable bitmap bytes. */
  def bitmapState(id: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_state", id)

  /** Column wrapper for [[BitmapCard]] — popcount of bitmap bytes. */
  def bitmapCard(bytes: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_card", bytes)

  /** Column wrapper for [[BitmapAndCard]] — exact intersection count. */
  def bitmapAndCard(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_and_card", a, b)

  /** Column wrapper for [[BitmapAndNotCard]] — exact difference count. */
  def bitmapAndNotCard(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_andnot_card", a, b)

  /** Column wrapper for [[BitmapMergeCard]] — exact union count. */
  def bitmapMergeCard(bytes: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_merge_card", bytes)

  /** OR-fold aggregate returning the merged bitmap BYTES — the
    * state-preserving twin of [[bitmapMergeCard]]. */
  def bitmapMerge(bytes: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_merge", bytes)

  /** Column wrapper for [[ThetaState]] — the theta-sketch emitter. */
  def thetaState(id: Column): Column =
    org.apache.spark.sql.functions.call_function("theta_state", id)

  /** [[thetaState]] with an explicit sample budget k. */
  def thetaState(id: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("theta_state", id,
      org.apache.spark.sql.functions.lit(k))

  /** Column wrapper for [[ThetaMerge]] — union-fold of sketches. */
  def thetaMerge(sk: Column): Column =
    org.apache.spark.sql.functions.call_function("theta_merge", sk)

  /** Column wrapper for [[ThetaCard]] — distinct estimate. */
  def thetaCard(sk: Column): Column =
    org.apache.spark.sql.functions.call_function("theta_card", sk)

  /** Column wrapper for [[ThetaAndCard]] — |A ∩ B| estimate. */
  def thetaAndCard(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("theta_and_card", a, b)

  /** Column wrapper for [[ThetaOrCard]] — |A ∪ B| estimate. */
  def thetaOrCard(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("theta_or_card", a, b)

  /** Column wrapper for [[ThetaAndNotCard]] — |A \ B| estimate. */
  def thetaAndNotCard(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("theta_andnot_card", a, b)

  /** Column wrapper for [[QSampleState]] — bottom-k quantile sample. */
  def qsampleState(id: Column, value: Column): Column =
    org.apache.spark.sql.functions.call_function("qsample_state", id, value)

  /** [[qsampleState]] with an explicit sample budget k. */
  def qsampleState(id: Column, value: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("qsample_state", id, value,
      org.apache.spark.sql.functions.lit(k))

  /** Column wrapper for [[QSampleMerge]] — union-fold of samples. */
  def qsampleMerge(sk: Column): Column =
    org.apache.spark.sql.functions.call_function("qsample_merge", sk)

  /** Column wrapper for [[QSampleQuantile]] — sample quantile. */
  def qsampleQuantile(sk: Column, q: Double): Column =
    org.apache.spark.sql.functions.call_function("qsample_quantile", sk,
      org.apache.spark.sql.functions.lit(q))

  /** Column wrapper for [[QSampleCount]] — KMV row-count estimate. */
  def qsampleCount(sk: Column): Column =
    org.apache.spark.sql.functions.call_function("qsample_count", sk)

  /** Column wrapper for [[FreqSketch]] — MG heavy-hitter candidates. */
  def freqSketch(tok: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("freq_sketch", tok,
      org.apache.spark.sql.functions.lit(k))

  /** Column wrapper for [[CmsState]] — Count-Min sketch from the
    * portable hash pair, unit weight. */
  def cmsState(lo: Column, hi: Column): Column =
    org.apache.spark.sql.functions.call_function("cms_state", lo, hi)

  /** [[cmsState]] with an explicit per-row weight. */
  def cmsState(lo: Column, hi: Column, weight: Column): Column =
    org.apache.spark.sql.functions.call_function("cms_state", lo, hi, weight)

  /** [[cmsState]] with explicit geometry (depth × width buckets) —
    * small widths force collisions for calibration/stress use. */
  def cmsState(lo: Column, hi: Column, weight: Column,
               depth: Int, width: Int): Column =
    org.apache.spark.sql.functions.call_function("cms_state", lo, hi, weight,
      org.apache.spark.sql.functions.lit(depth),
      org.apache.spark.sql.functions.lit(width))

  /** Column wrapper for [[CmsMerge]] — element-wise-add sketch fold. */
  def cmsMerge(sk: Column): Column =
    org.apache.spark.sql.functions.call_function("cms_merge", sk)

  /** Column wrapper for [[CmsEst]] — per-item count point estimate. */
  def cmsEst(sk: Column, lo: Column, hi: Column): Column =
    org.apache.spark.sql.functions.call_function("cms_est", sk, lo, hi)

  /** Column wrapper for [[CmsInnerProduct]] — token-mix affinity. */
  def cmsInnerProduct(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cms_inner_product", a, b)

  /** Column wrapper for [[CmsTotal]] — exact folded mass. */
  def cmsTotal(sk: Column): Column =
    org.apache.spark.sql.functions.call_function("cms_total", sk)

  /** Column wrapper for [[BloomState]] — membership bits from the
    * portable hash pair. */
  def bloomState(lo: Column, hi: Column): Column =
    org.apache.spark.sql.functions.call_function("bloom_state", lo, hi)

  /** [[bloomState]] with explicit geometry (k rows × mBits bits). */
  def bloomState(lo: Column, hi: Column, k: Int, mBits: Int): Column =
    org.apache.spark.sql.functions.call_function("bloom_state", lo, hi,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(mBits))

  /** Column wrapper for [[BloomContains]] — membership probe. */
  def bloomContains(sk: Column, lo: Column, hi: Column): Column =
    org.apache.spark.sql.functions.call_function("bloom_contains", sk, lo, hi)

  /** Column wrapper for [[BloomBitsSet]] — exact fill popcount. */
  def bloomBitsSet(sk: Column): Column =
    org.apache.spark.sql.functions.call_function("bloom_bits_set", sk)

  /** Column wrapper for [[CanonicalText]] — the normalized dedup key. */
  def canonicalText(s: Column): Column =
    org.apache.spark.sql.functions.call_function("canonical_text", s)
}
