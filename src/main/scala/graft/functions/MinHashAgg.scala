package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Native MinHash-signature aggregate: over a group's stream of shingle
  * hashes, computes `sig[h] = min over shingles of XXH64(shingle, seed=h)`
  * for `numHashes` seeded hash functions — the signature arrives as ONE
  * `array<bigint>` column from ONE aggregate.
  *
  * This is the SQL `minhash_sig` aggregate, and the reference the in-row
  * [[MinHashSignature]] is pinned against (MinHashKernelProps): the
  * pipeline operators compute signatures in-row from each document's
  * shingle array, which needs no explode, no shuffle and no join back.
  * Both fold shingles through [[MinHashAgg.fold]].
  *
  * The typed buffer keeps one `long[k]` per group, updates it in a tight
  * loop, and merges distributively (elementwise min) — map-side partial
  * aggregation applies unchanged; k separate `min(xxhash64(sh, h))`
  * columns would plan k aggregate expressions instead.
  *
  * Determinism: pure function of the input VALUE SET (min is commutative/
  * associative/idempotent), so row order and partitioning never matter.
  * Empty groups yield Long.MaxValue sentinels.
  */
case class MinHashAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numHashes >= 1, "numHashes must be >= 1")

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) MinHashAgg.fold(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var h = 0
    while (h < numHashes) {
      if (b2(h) < b1(h)) b1(h) = b2(h)
      h += 1
    }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong())
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "minhash_sig"

  override def withNewMutableAggBufferOffset(offset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinHashAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashAgg =
    copy(child = newChildren.head)
}

object MinHashAgg {
  /** The one per-shingle step of every MinHash signature: lowers
    * `buf(h)` to `XXH64(sh, seed = h)` where that is smaller. */
  def fold(buf: Array[Long], sh: Long): Unit = {
    var h = 0
    while (h < buf.length) {
      val x = XXH64.hashLong(sh, h)
      if (x < buf(h)) buf(h) = x
      h += 1
    }
  }

  /** Aggregate column: MinHash signature (array of `numHashes` mins) of a
    * bigint shingle-hash column. */
  def minhashSig(shingleHash: Column, numHashes: Int): Column =
    Bridge.column(MinHashAgg(Bridge.expression(shingleHash), numHashes)
      .toAggregateExpression())
}

/** In-row MinHash signature of ONE shingle-hash array: the value
  * [[MinHashAgg]] computes over `explode_outer` of the same array (null
  * elements skipped; a null or empty array yields `numHashes`
  * Long.MaxValue sentinels), folded through the same [[MinHashAgg.fold]].
  *
  * The pipeline operators already hold each document's shingles as one
  * array, so the signature is a per-row projection: no explode, no
  * doc-id shuffle, no join back onto the shingle rows. CodegenFallback
  * like [[DistinctShingleHashes]] — one virtual call per row, amortized
  * over its shingles. Project it ONCE and read the attribute: an
  * expression referenced by several band slices must sit below them,
  * not inside them. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  require(numHashes >= 1, "numHashes must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_signature"

  override def eval(input: InternalRow): Any = {
    val buf = Array.fill(numHashes)(Long.MaxValue)
    val v = child.eval(input)
    if (v != null) {
      val shingles = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < shingles.numElements()) {
        if (!shingles.isNullAt(i)) MinHashAgg.fold(buf, shingles.getLong(i))
        i += 1
      }
    }
    new GenericArrayData(buf)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignature = copy(child = newChild)
}

object MinHashSignature {
  /** In-row MinHash signature of an `array<bigint>` shingle-hash column. */
  def of(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(shingles), numHashes))
}
