package perfbench

import java.io.{DataOutputStream, OutputStream}
import java.util.zip.Deflater

/** A minimal protobuf wire writer: varints, zigzag, length-delimited
  * fields and packed repeated fields. Written for the OSM extract
  * generator, so that the benchmark's input does not come from the
  * encoder it measures.
  */
final class Pb(initial: Int = 1 << 12) {
  private var buf = new Array[Byte](initial)
  private var n = 0

  def size: Int = n
  def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  def reset(): Unit = n = 0

  private def ensure(extra: Int): Unit =
    if (n + extra > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + extra))

  def byte(b: Int): Unit = { ensure(1); buf(n) = b.toByte; n += 1 }

  def varint(v0: Long): Unit = {
    ensure(10)
    var v = v0
    while ((v & ~0x7fL) != 0) {
      buf(n) = ((v & 0x7f) | 0x80).toByte; n += 1
      v >>>= 7
    }
    buf(n) = v.toByte; n += 1
  }

  def tag(field: Int, wire: Int): Unit = varint((field << 3 | wire).toLong)

  def uint(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
  def sint(field: Int, v: Long): Unit = { tag(field, 0); varint(Pb.zigzag(v)) }

  def bytes(field: Int, b: Array[Byte], off: Int, len: Int): Unit = {
    tag(field, 2); varint(len.toLong)
    ensure(len); System.arraycopy(b, off, buf, n, len); n += len
  }
  def bytes(field: Int, b: Array[Byte]): Unit = bytes(field, b, 0, b.length)
  def message(field: Int, m: Pb): Unit = bytes(field, m.buf, 0, m.n)
  def string(field: Int, s: String): Unit =
    bytes(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Packed repeated field of `len` values; `zigzag` selects sint
    * encoding, `delta` stores each value minus its predecessor.
    */
  def packed(field: Int, vs: Array[Long], len: Int, zigzag: Boolean,
      delta: Boolean, scratch: Pb): Unit = {
    scratch.reset()
    var prev = 0L
    var i = 0
    while (i < len) {
      val v = if (delta) vs(i) - prev else vs(i)
      prev = vs(i)
      scratch.varint(if (zigzag) Pb.zigzag(v) else v)
      i += 1
    }
    message(field, scratch)
  }

  def writeTo(out: OutputStream): Unit = out.write(buf, 0, n)
}

object Pb {
  def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  /** One file block: 4-byte big-endian BlobHeader length, the
    * BlobHeader (type, datasize), then a zlib Blob with its raw_size.
    */
  def frame(blockType: String, raw: Array[Byte], deflater: Deflater): Array[Byte] = {
    deflater.reset()
    deflater.setInput(raw)
    deflater.finish()
    val chunk = new Array[Byte](1 << 16)
    val zbuf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    while (!deflater.finished()) {
      val k = deflater.deflate(chunk)
      zbuf.write(chunk, 0, k)
    }
    val blob = new Pb(zbuf.size + 16)
    blob.uint(2, raw.length.toLong)
    blob.bytes(3, zbuf.toByteArray)
    val header = new Pb(32)
    header.string(1, blockType)
    header.uint(3, blob.size.toLong)
    val out = new java.io.ByteArrayOutputStream(4 + header.size + blob.size)
    new DataOutputStream(out).writeInt(header.size)
    header.writeTo(out)
    blob.writeTo(out)
    out.toByteArray
  }
}
