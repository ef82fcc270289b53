package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Mutable (count, element-wise sums) buffer of [[VecMeanAgg]]. */
final class VecMeanBuf(var n: Long, var sums: Array[Double])

/** Per-group element-wise MEAN of a double-array column in ONE aggregate —
  * the centroid update of every k-means / IVF family pipeline. Replaces the
  * `posexplode → avg(x) GROUP BY (group, pos) → collect_list → reassemble`
  * chain, which paid one generic hash-agg row per ELEMENT (n·dim updates),
  * a SECOND shuffle for the reassembly aggregate, and an interpreted
  * array_sort+transform per group. This is one hash-agg row per VECTOR
  * with a primitive tight loop per update, one shuffle of (k · dim)-scale
  * partials, and the mean emitted directly.
  *
  * Arithmetic is the same class as the replaced `avg`: per-dimension sums
  * accumulate 0.0 + x in row order within each partition, partials merge in
  * fetch order, and the final division is the identical `sum / count`
  * double op — so values agree with the replaced chain to the same
  * partial-aggregation-order tolerance the suite's oracles already absorb
  * (float partial merges are run-nondeterministic either way; see the
  * verify-skill note on kmeans centroid avg()).
  *
  * Contract (the k-means corpora guarantee both; violations fail LOUDLY
  * instead of silently diverging from the replaced per-position averages):
  * all non-empty input arrays in a group share one width, and elements are
  * non-null. A null or zero-width ARRAY contributes nothing (posexplode
  * emitted no rows for it); a group with only such arrays evaluates to
  * null.
  */
case class VecMeanAgg(child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[VecMeanBuf] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_mean expects array<double>, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): VecMeanBuf = new VecMeanBuf(0L, null)

  override def update(b: VecMeanBuf, input: InternalRow): VecMeanBuf = {
    val v = child.eval(input)
    if (v == null) return b
    val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    if (n == 0) return b
    if (b.sums == null) b.sums = new Array[Double](n)
    require(b.sums.length == n,
      s"vec_mean: ragged vector widths in one group (${b.sums.length} vs $n)")
    var i = 0
    while (i < n) {
      require(!a.isNullAt(i), "vec_mean: null element in input vector")
      b.sums(i) += a.getDouble(i)
      i += 1
    }
    b.n += 1L
    b
  }

  override def merge(b: VecMeanBuf, o: VecMeanBuf): VecMeanBuf = {
    if (o.sums == null) return b
    if (b.sums == null) { b.sums = o.sums; b.n = o.n; return b }
    require(b.sums.length == o.sums.length,
      s"vec_mean: ragged vector widths across partials " +
        s"(${b.sums.length} vs ${o.sums.length})")
    var i = 0
    while (i < b.sums.length) { b.sums(i) += o.sums(i); i += 1 }
    b.n += o.n
    b
  }

  override def eval(b: VecMeanBuf): Any = {
    if (b.n == 0L || b.sums == null) return null
    val out = new Array[Double](b.sums.length)
    var i = 0
    // same final op as the replaced avg(): sum / count in double
    while (i < out.length) { out(i) = b.sums(i) / b.n; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(b: VecMeanBuf): Array[Byte] = {
    val dim = if (b.sums == null) -1 else b.sums.length
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + math.max(0, dim) * 8)
    bb.putLong(b.n).putInt(dim)
    if (dim > 0) { var i = 0; while (i < dim) { bb.putDouble(b.sums(i)); i += 1 } }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecMeanBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getLong()
    val dim = bb.getInt()
    if (dim < 0) new VecMeanBuf(n, null)
    else {
      val sums = new Array[Double](dim)
      var i = 0
      while (i < dim) { sums(i) = bb.getDouble(); i += 1 }
      new VecMeanBuf(n, sums)
    }
  }

  override def withNewMutableAggBufferOffset(offset: Int): VecMeanAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VecMeanAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VecMeanAgg {
  /** Column builder: `vecMean(v)` = per-group element-wise mean of `v`. */
  def vecMean(v: Column): Column =
    GraftBridge.column(VecMeanAgg(GraftBridge.expression(v))
      .toAggregateExpression())
}
