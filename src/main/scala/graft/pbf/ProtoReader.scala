package graft.pbf

import scala.collection.mutable.ArrayBuilder

/** Minimal protobuf wire-format reader over a byte array slice.
  *
  * protobuf-java is not on the offline classpath and the OSM PBF wire
  * schema is tiny and frozen (fileformat.proto / osmformat.proto inside
  * /root/reference/lib/osmpbf-1.3.3.jar), so the codec is hand-rolled —
  * see SURVEY.md §2.1 #5. Supports varint (wire type 0), fixed64 (1),
  * length-delimited (2) and fixed32 (5), packed repeated scalars, and
  * unknown-field skipping so future format extensions don't crash the
  * reader.
  *
  * Every length-delimited read validates its declared length against the
  * slice bounds BEFORE moving the cursor: a negative or overrunning
  * length (truncated write, bit-flipped length byte) throws instead of
  * zero-padding, walking the cursor backwards (a guaranteed infinite
  * loop in the parse loops above), or silently misparsing the bytes of
  * the following field. Packed readers additionally verify they consumed
  * EXACTLY their span — a packed field whose last varint has the
  * continuation bit set must fail, not bleed into the next field —
  * keeping the row scan's rejection behavior aligned with the pushdown
  * walkers' (countVarintsInSpan).
  */
final class ProtoReader(val buf: Array[Byte], var pos: Int, val end: Int) {

  /** Declared length of a length-delimited field, bounds-checked. */
  private def readLen(): Int = {
    val len = readVarint().toInt
    if (len < 0 || pos + len > end)
      throw new IllegalArgumentException(
        s"length-delimited field of $len bytes overruns the slice at $pos (end $end)")
    len
  }

  /** Raw unsigned varint (up to 10 bytes). */
  def readVarint(): Long = {
    var shift = 0
    var result = 0L
    while (shift < 64) {
      if (pos >= end)
        throw new IllegalArgumentException(s"varint truncated at $pos")
      val b = buf(pos)
      pos += 1
      result |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return result
      shift += 7
    }
    throw new IllegalArgumentException(s"malformed varint at $pos")
  }

  /** ZigZag-decoded sint32/sint64. */
  def readSVarint(): Long = {
    val n = readVarint()
    (n >>> 1) ^ -(n & 1)
  }

  /** Field key: (fieldNumber << 3) | wireType. Returns -1 at end. */
  def readTag(): Int =
    if (pos >= end) -1 else readVarint().toInt

  /** Length-delimited payload as a sub-reader (zero-copy). */
  def readMessage(): ProtoReader = {
    val len = readLen()
    val r = new ProtoReader(buf, pos, pos + len)
    pos += len
    r
  }

  /** Length-delimited payload as a copied byte array. */
  def readBytes(): Array[Byte] = {
    val len = readLen()
    val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
    pos += len
    out
  }

  def readString(): String = {
    val len = readLen()
    val s = new String(buf, pos, len, java.nio.charset.StandardCharsets.UTF_8)
    pos += len
    s
  }

  /** Packed repeated varints; `zigzag` decodes sint fields. */
  def readPackedLongs(zigzag: Boolean): Array[Long] = {
    val len = readLen()
    val limit = pos + len
    val b = new ArrayBuilder.ofLong
    b.sizeHint(len / 2 + 1)
    while (pos < limit) b += (if (zigzag) readSVarint() else readVarint())
    if (pos != limit)
      throw new IllegalArgumentException(s"packed field ends mid-varint at $limit")
    b.result()
  }

  def readPackedInts(zigzag: Boolean): Array[Int] = {
    val len = readLen()
    val limit = pos + len
    val b = new ArrayBuilder.ofInt
    b.sizeHint(len / 2 + 1)
    while (pos < limit)
      b += (if (zigzag) readSVarint().toInt else readVarint().toInt)
    if (pos != limit)
      throw new IllegalArgumentException(s"packed field ends mid-varint at $limit")
    b.result()
  }

  /** Packed repeated varints appended to `into`: repeated chunks of one
    * field concatenate, and a reused buffer allocates nothing per message.
    */
  def readPackedLongs(zigzag: Boolean, into: LongBuf): Unit = {
    val len = readLen()
    val limit = pos + len
    into.reserve(len / 2 + 1)
    while (pos < limit) into += (if (zigzag) readSVarint() else readVarint())
    if (pos != limit)
      throw new IllegalArgumentException(s"packed field ends mid-varint at $limit")
  }

  def readPackedInts(zigzag: Boolean, into: IntBuf): Unit = {
    val len = readLen()
    val limit = pos + len
    into.reserve(len / 2 + 1)
    while (pos < limit)
      into += (if (zigzag) readSVarint().toInt else readVarint().toInt)
    if (pos != limit)
      throw new IllegalArgumentException(s"packed field ends mid-varint at $limit")
  }

  /** Skip a field of the given wire type (unknown-field tolerance). */
  def skip(wireType: Int): Unit = wireType match {
    case 0 => readVarint()
    case 1 =>
      if (pos + 8 > end)
        throw new IllegalArgumentException(s"fixed64 truncated at $pos")
      pos += 8
    case 2 => val len = readLen(); pos += len
    case 5 =>
      if (pos + 4 > end)
        throw new IllegalArgumentException(s"fixed32 truncated at $pos")
      pos += 4
    case other =>
      throw new IllegalArgumentException(s"unsupported wire type $other")
  }
}

/** Growable `Long` array, reused across messages; valid entries are
  * `0 until size`.
  */
final class LongBuf {
  private var data = new Array[Long](64)
  var size = 0
  def clear(): Unit = size = 0
  def apply(i: Int): Long = data(i)
  def update(i: Int, v: Long): Unit = data(i) = v
  /** Room for `extra` more entries. */
  def reserve(extra: Int): Unit =
    if (size + extra > data.length)
      data = java.util.Arrays.copyOf(data, math.max(size + extra, data.length * 2))
  def +=(v: Long): Unit = {
    if (size == data.length) data = java.util.Arrays.copyOf(data, size * 2)
    data(size) = v
    size += 1
  }
}

/** Growable `Int` array, reused across messages; valid entries are
  * `0 until size`.
  */
final class IntBuf {
  private var data = new Array[Int](64)
  var size = 0
  def clear(): Unit = size = 0
  def apply(i: Int): Int = data(i)
  def update(i: Int, v: Int): Unit = data(i) = v
  /** Room for `extra` more entries. */
  def reserve(extra: Int): Unit =
    if (size + extra > data.length)
      data = java.util.Arrays.copyOf(data, math.max(size + extra, data.length * 2))
  def +=(v: Int): Unit = {
    if (size == data.length) data = java.util.Arrays.copyOf(data, size * 2)
    data(size) = v
    size += 1
  }
  def toArray: Array[Int] = java.util.Arrays.copyOf(data, size)
}
