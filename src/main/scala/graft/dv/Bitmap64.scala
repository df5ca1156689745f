package graft.dv

import java.io.{DataInputStream, DataOutputStream}

import org.roaringbitmap.RoaringBitmap

/**
 * 64-bit row-index bitmap: one 32-bit RoaringBitmap per 2^32 index
 * bucket, keyed by the high word. Parquet files can exceed 2^31 rows
 * (wide row groups, concatenated files), and a 32-bit bitmap would
 * silently wrap negative indexes onto live rows — a wrong-answer class,
 * not a perf issue. Buckets materialize lazily; a DV over a normal-sized
 * file costs exactly one bucket (the 32-bit fast path stays one branch).
 * (Reference concept: deletionvectors/RoaringBitmapArray.scala:46 —
 * re-designed: bucket map + own sidecar framing instead of the
 * reference's portable serialization formats.)
 *
 * Sidecar framing: magic, bucket count, then per bucket the high word
 * and the standard RoaringBitmap serialization. Only this engine reads
 * its own `_dv/` sidecars, so the framing needs no cross-format compat.
 */
final class Bitmap64 private (
    private val buckets: java.util.TreeMap[Integer, RoaringBitmap])
    extends Serializable {

  def this() = this(new java.util.TreeMap[Integer, RoaringBitmap]())

  @inline private def high(i: Long): Integer = Integer.valueOf((i >>> 32).toInt)
  @inline private def low(i: Long): Int = i.toInt

  def add(i: Long): Unit = {
    require(i >= 0, s"negative row index $i")
    var bm = buckets.get(high(i))
    if (bm == null) { bm = new RoaringBitmap(); buckets.put(high(i), bm) }
    bm.add(low(i))
  }

  def contains(i: Long): Boolean = {
    if (i < 0) return false
    val bm = buckets.get(high(i))
    bm != null && bm.contains(low(i))
  }

  def or(other: Bitmap64): Unit = {
    val it = other.buckets.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val mine = buckets.get(e.getKey)
      if (mine == null) buckets.put(e.getKey, e.getValue.clone())
      else mine.or(e.getValue)
    }
  }

  def cardinality: Long = {
    var n = 0L
    val it = buckets.values().iterator()
    while (it.hasNext) n += it.next().getLongCardinality
    n
  }

  def runOptimize(): Unit = {
    val it = buckets.values().iterator()
    while (it.hasNext) it.next().runOptimize()
  }

  /** Exact byte length [[serialize]] will produce (valid for the current
    * optimization state — call [[runOptimize]] first, as serialize does). */
  def serializedSize: Long = {
    var size = 8L // magic + bucket count
    val it = buckets.values().iterator()
    while (it.hasNext) size += 4L + it.next().serializedSizeInBytes()
    size
  }

  /** Java serialization (a task's match-pass rollup returning to the
    * driver) goes through the portable bytes. */
  private def writeReplace(): AnyRef =
    new Bitmap64.Portable(Bitmap64.toDeltaPortable(this))

  def serialize(out: DataOutputStream): Unit = {
    out.writeInt(Bitmap64.MAGIC)
    out.writeInt(buckets.size())
    val it = buckets.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeInt(e.getKey.intValue())
      e.getValue.serialize(out)
    }
  }
}

object Bitmap64 {
  private[dv] val MAGIC = 0x47B6D001 // "graft bitmap64 v1"

  private class Portable(bytes: Array[Byte]) extends Serializable {
    private def readResolve(): AnyRef = fromDeltaPortable(bytes)
  }

  /** Magics of Delta's two 64-bit bitmap serializations (public spec:
    * PROTOCOL.md "Deletion Vector Format" documents the portable form;
    * the spec's own inline example and older writers use the "native"
    * form — magic, 32-bit count, then per DENSE bucket a 32-bit length +
    * a standard roaring bitmap, the bucket key being the array index). */
  private[dv] val DELTA_MAGIC_PORTABLE = 1681511377
  private[dv] val DELTA_MAGIC_NATIVE = 1681511376

  /** Parse Delta 64-bit bitmap bytes, either serialization. The framing
    * fields (magic, counts, sizes, keys) appear little-endian from
    * current writers but big-endian in the spec's own worked example —
    * the magic's byte order discriminates, and the roaring payload is
    * always the standard (LE) format either way. Our bucket structure IS
    * the portable structure, so this is a streaming parse, not a
    * conversion. */
  def fromDeltaPortable(bytes: Array[Byte]): Bitmap64 = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var magic = buf.getInt
    if (magic != DELTA_MAGIC_PORTABLE && magic != DELTA_MAGIC_NATIVE) {
      val beMagic = Integer.reverseBytes(magic)
      if (beMagic == DELTA_MAGIC_PORTABLE || beMagic == DELTA_MAGIC_NATIVE) {
        buf.order(java.nio.ByteOrder.BIG_ENDIAN)
        magic = beMagic
      }
    }
    val bm = new Bitmap64()
    magic match {
      case DELTA_MAGIC_PORTABLE =>
        val n = buf.getLong
        var k = 0L
        while (k < n) {
          val key = buf.getInt
          require(key >= 0, s"negative delta DV bucket key $key")
          val rb = new RoaringBitmap()
          rb.deserialize(buf)
          buf.position(buf.position() + rb.serializedSizeInBytes())
          bm.buckets.put(Integer.valueOf(key), rb)
          k += 1
        }
      case DELTA_MAGIC_NATIVE =>
        val n = buf.getInt
        var key = 0
        while (key < n) {
          val size = buf.getInt
          val rb = new RoaringBitmap()
          rb.deserialize(buf)
          buf.position(buf.position() + size)
          if (!rb.isEmpty) bm.buckets.put(Integer.valueOf(key), rb)
          key += 1
        }
      case other =>
        throw new IllegalArgumentException(s"bad delta DV magic $other")
    }
    bm
  }

  /** Serialize to Delta's portable 64-bit format (inverse of
    * [[fromDeltaPortable]]). */
  def toDeltaPortable(bm: Bitmap64): Array[Byte] = {
    bm.runOptimize()
    var size = 4 + 8
    val it0 = bm.buckets.values().iterator()
    while (it0.hasNext) size += 4 + it0.next().serializedSizeInBytes()
    val buf = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(DELTA_MAGIC_PORTABLE)
    buf.putLong(bm.buckets.size().toLong)
    val it = bm.buckets.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      buf.putInt(e.getKey.intValue())
      e.getValue.serialize(buf)
    }
    buf.array()
  }

  def deserialize(in: DataInputStream): Bitmap64 = {
    val magic = in.readInt()
    require(magic == MAGIC, f"bad DV sidecar magic 0x$magic%08x")
    val n = in.readInt()
    val bm = new Bitmap64()
    var k = 0
    while (k < n) {
      val hi = in.readInt()
      val b = new RoaringBitmap()
      b.deserialize(in)
      bm.buckets.put(Integer.valueOf(hi), b)
      k += 1
    }
    bm
  }
}
