package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** MinHash signature as ONE imperative aggregate: per group, the
  * element-wise minimum of `numHashes` seeded hashes of each input —
  * the custom-aggregate form of the 32-parallel-`min()` plan in
  * [[graft.operators.Dedup.minhashLsh]] (SURVEY.md §7.4's designated
  * `TypedImperativeAggregate` upgrade path).
  *
  * Hash chain is IDENTICAL to SQL `xxhash64(h0, s)` — xxhash64 folds its
  * arguments left-to-right from seed 42 — so signatures are byte-equal
  * to the expression-composed version (pinned by CatalystAggSpec).
  *
  * The buffer is a primitive `Array[Long]`; update cost per row is one
  * long-hash plus `numHashes` cheap int-hash steps, merge is
  * element-wise min — associative and commutative, so partial
  * aggregation and any merge order give the same signature.
  */
case class MinHashAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects a bigint shingle hash, got ${child.dataType}")

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val base = XxHash64Function.hash(v, LongType, 42L)
      var s = 0
      while (s < numHashes) {
        val h = XxHash64Function.hash(s, IntegerType, base)
        if (h < buf(s)) buf(s) = h
        s += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): MinHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object MinHashAgg {
  /** `minhash_sig(shingleHash)` as a Column aggregate. */
  def minhashSig(c: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashAgg(GraftBridge.expression(c), numHashes)
      .toAggregateExpression())
}
