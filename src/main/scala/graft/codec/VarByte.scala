package graft.codec

/** Growable byte buffer + LEB128-style variable-byte integer codec.
  *
  * Role analogue of groonga's GRN_B_ENC varbyte stream
  * (/root/reference/lib/grn_io.h:519-596) — ours is standard unsigned
  * LEB128 (7 data bits per byte, high bit = continuation), not the
  * reference's byte layout.
  */
final class ByteWriter(initial: Int = 64) {
  private var buf = new Array[Byte](initial)
  private var len = 0

  private def ensure(extra: Int): Unit = {
    if (len + extra > buf.length) {
      var cap = buf.length * 2
      while (cap < len + extra) cap *= 2
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  }

  def writeByte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }

  def writeVarLong(value: Long): Unit = {
    require(value >= 0, s"varbyte encodes non-negative values, got $value")
    var v = value
    ensure(10)
    while ((v & ~0x7fL) != 0L) {
      buf(len) = ((v & 0x7f) | 0x80).toByte; len += 1
      v >>>= 7
    }
    buf(len) = v.toByte; len += 1
  }

  def writeVarInt(value: Int): Unit = writeVarLong(value.toLong)

  def writeRaw(bytes: Array[Byte], off: Int, n: Int): Unit = {
    ensure(n); System.arraycopy(bytes, off, buf, len, n); len += n
  }

  def size: Int = len
  def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
}

/** growable primitive long array (no boxing on the build hot path) */
final class LongVec(initial: Int = 8) {
  private var a = new Array[Long](initial)
  var length: Int = 0
  def +=(v: Long): Unit = {
    if (length == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    a(length) = v; length += 1
  }
  def apply(i: Int): Long = a(i)
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, length)
  def clear(): Unit = { length = 0 }
}

/** growable primitive int array (no boxing on the build hot path) */
final class IntVec(initial: Int = 8) {
  private var a = new Array[Int](initial)
  var length: Int = 0
  def +=(v: Int): Unit = {
    if (length == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    a(length) = v; length += 1
  }
  def apply(i: Int): Int = a(i)
  def toArray: Array[Int] = java.util.Arrays.copyOf(a, length)
  def clear(): Unit = { length = 0 }
}

final class ByteReader(val bytes: Array[Byte]) {
  private var p = 0
  def pos: Int = p
  def readByte(): Int = { val b = bytes(p) & 0xff; p += 1; b }
  def readVarLong(): Long = {
    var shift = 0
    var v = 0L
    var b = 0
    do {
      b = bytes(p) & 0xff; p += 1
      v |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    v
  }
  def readVarInt(): Int = readVarLong().toInt
  def remaining: Int = bytes.length - p
}

/** Fixed-width bit packing of int frames — the PFor-style dense path.
  * Semantic counterpart of groonga's 128-int pack/unpack frames
  * (/root/reference/lib/ii.cpp:1286-2384, Zukowski et al. 2006); ours is a
  * simple width-per-frame binary packing without exception patching.
  */
object BitPack {
  def bitsNeeded(maxValue: Long): Int =
    if (maxValue == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(maxValue)

  /** Pack `n` longs at width `bits` (0..64) into the writer. width 0 writes nothing. */
  def pack(values: Array[Long], off: Int, n: Int, bits: Int, w: ByteWriter): Unit = {
    if (bits == 0) return
    var acc = 0L
    var accBits = 0
    var i = 0
    while (i < n) {
      val v = values(off + i)
      var vBits = bits
      var vv = v
      while (vBits > 0) {
        val take = math.min(8 - accBits, vBits)
        acc |= ((vv & ((1L << take) - 1)) << accBits)
        vv >>>= take
        vBits -= take
        accBits += take
        if (accBits == 8) { w.writeByte(acc.toInt); acc = 0L; accBits = 0 }
      }
      i += 1
    }
    if (accBits > 0) w.writeByte(acc.toInt)
  }

  def unpack(r: ByteReader, n: Int, bits: Int, out: Array[Long], off: Int): Unit = {
    if (bits == 0) { java.util.Arrays.fill(out, off, off + n, 0L); return }
    var acc = 0L
    var accBits = 0
    var i = 0
    while (i < n) {
      var v = 0L
      var got = 0
      while (got < bits) {
        if (accBits == 0) { acc = r.readByte().toLong; accBits = 8 }
        val take = math.min(accBits, bits - got)
        v |= (acc & ((1L << take) - 1)) << got
        acc >>>= take
        accBits -= take
        got += take
      }
      out(off + i) = v
      i += 1
    }
  }
}
