package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable KMV (k-minimum-values) distinct-count sketch buffer: the k
  * smallest DISTINCT portable-poly-hash values seen. Unlike HLL registers,
  * the kept set is a pure function of the input SET — insertion order,
  * partitioning and merge order cannot change it — so the estimate AND the
  * serialized sketch bytes are deterministic and oracle-checkable (q11's
  * HLL is the `no_oracle` hole this fills).
  *
  * Estimator: with the hash space [0, P) and h_(k) the k-th smallest
  * distinct hash, est = (k-1) · P / h_(k) (the classic KMV unbiased form);
  * when fewer than k distinct hashes exist the sketch is exact.
  *
  * Hash = poly-fold over the LOWERCASE MD5 HEX of the value (both engines:
  * Spark `md5()` / DuckDB `md5()` agree byte-for-byte). The estimator
  * assumes a uniform hash; the raw poly fold of a short string never wraps
  * mod P (range compression → observed 30× estimate bias on integer-string
  * populations), while md5 provides the avalanche and the fold portably
  * condenses its 128 bits into [0, P).
  */
final class KmvBuffer(val k: Int) {
  val set = new java.util.TreeSet[java.lang.Long]()

  def add(h: Long): Unit = {
    if (set.size < k) set.add(h)
    else if (h < set.last) { if (set.add(h)) set.pollLast() }
  }

  def addValue(s: UTF8String): Unit = add(KmvBuffer.md5PolyHash(s))

  def merge(other: KmvBuffer): Unit = {
    val it = other.set.iterator()
    while (it.hasNext) add(it.next())
  }

  def nKept: Int = set.size
  def kthMin: Long = if (set.size < k) -1L else set.last

  def estimate: Double =
    if (set.size < k) set.size.toDouble
    else (k - 1).toDouble * TextHash.P.toDouble / set.last.toDouble

  /** Big-endian 8-byte concatenation of the kept hashes in ascending order —
    * a canonical byte layout both engines can produce, so even the binary
    * column hash-compares against the DuckDB oracle.
    */
  def sketchBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * set.size)
    set.forEach(h => bb.putLong(h))
    bb.array()
  }
}

object KmvBuffer {
  private val HEX = "0123456789abcdef".toCharArray

  /** The sketch size `graft_kmv` keeps and `graft_kmv_union_est` assumes. */
  val DefaultK = 64

  /** [[unionEstimate]] at [[DefaultK]]: the `graft_kmv_union_est` kernel. */
  def unionEstimate(a: Array[Byte], b: Array[Byte]): Double =
    unionEstimate(a, b, DefaultK)

  /** KMV set-union estimate from two SERIALIZED sketches (the 8-byte
    * big-endian ascending layout of [[KmvBuffer.sketchBytes]]): merge the
    * kept sets, keep the k smallest, apply the standard estimator. This is
    * the sketch-algebra primitive — |A∪B| from two already-aggregated
    * sketches without touching the raw data (|A∩B| then follows by
    * inclusion-exclusion in plain SQL).
    */
  def unionEstimate(a: Array[Byte], b: Array[Byte], k: Int): Double = {
    val set = new java.util.TreeSet[java.lang.Long]()
    def addAll(bytes: Array[Byte]): Unit = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      while (bb.remaining() >= 8) set.add(bb.getLong())
    }
    addAll(a); addAll(b)
    var n = 0
    var kth = 0L
    val it = set.iterator()
    while (it.hasNext && n < k) { kth = it.next(); n += 1 }
    if (n < k) n.toDouble
    else (k - 1).toDouble * TextHash.P.toDouble / kth.toDouble
  }

  // One digest per thread, reset per row: getInstance() per row would pay
  // a JCA provider lookup + allocation on the aggregate's hot path.
  private val MD = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** poly-fold over the lowercase md5 hex of the value's UTF-8 bytes —
    * identical to Spark/DuckDB `md5()` composed with the portable poly fold.
    */
  def md5PolyHash(s: UTF8String): Long = {
    val md = MD.get()
    md.reset()
    val digest = md.digest(s.getBytes)
    var acc = 0L
    var i = 0
    while (i < digest.length) {
      val b = digest(i) & 0xff
      acc = (acc * 31 + HEX(b >>> 4)) % TextHash.P
      acc = (acc * 31 + HEX(b & 0xf)) % TextHash.P
      i += 1
    }
    acc
  }
}

/** `graft_kmv(strCol)` — TypedImperativeAggregate over [[KmvBuffer]] with a
  * binary serialized form (what flows through partial-aggregate shuffles),
  * returning struct(n_kept, kth_min, est_distinct, sketch).
  *
  * 100 TB posture: the buffer is a fixed k longs regardless of group size,
  * partial aggregation runs map-side, and the shuffle carries ≤ 8k+4 bytes
  * per (partition, group) — the same mergeability contract as Spark's own
  * HLL++ but with a portable, deterministic hash (TextHash.polyHash), which
  * is what makes cross-engine verification possible at all.
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer]
  with UnaryLike[Expression] {

  require(k > 1, "k must be > 1")

  // AbstractDataType (ExpectsInputTypes) is private[sql]; check directly.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_kmv requires a STRING argument, got ${child.dataType}")
    }
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_kept", IntegerType, nullable = false),
    StructField("kth_min", LongType, nullable = false),
    StructField("est_distinct", DoubleType, nullable = false),
    StructField("sketch", BinaryType, nullable = false)))
  override def prettyName: String = "graft_kmv"

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buffer: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.addValue(v.asInstanceOf[UTF8String])
    buffer
  }

  override def merge(buffer: KmvBuffer, other: KmvBuffer): KmvBuffer = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: KmvBuffer): Any =
    InternalRow(buffer.nKept, buffer.kthMin, buffer.estimate,
      buffer.sketchBytes)

  override def serialize(buffer: KmvBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.set.size)
    bb.putInt(buffer.set.size)
    buffer.set.forEach(h => bb.putLong(h))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new KmvBuffer(k)
    var i = 0
    while (i < n) { buf.set.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
