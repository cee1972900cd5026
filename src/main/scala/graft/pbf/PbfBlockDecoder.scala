package graft.pbf

import java.nio.charset.StandardCharsets
import java.util.zip.Inflater
import scala.collection.mutable.ArrayBuffer

/** File-block structures (fileformat.proto inside the reference's bundled
  * jar) and the PrimitiveBlock → entity decode (osmformat.proto).
  *
  * Decoding follows the format spec, not the reference's code: raw
  * (uncompressed) blobs are accepted (reference defect D6 rejects them,
  * OsmPbfRecordReader.java:180-182), dense-tag state is reset per node
  * (defect D3), and way/relation iteration is bounds-checked (defect D2).
  */
object PbfBlockDecoder {

  final case class BlobHeader(blockType: String, datasize: Int)

  def parseBlobHeader(buf: Array[Byte], off: Int, len: Int): BlobHeader = {
    val r = new ProtoReader(buf, off, off + len)
    var tpe: String = null
    var datasize = -1
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => tpe = r.readString()
        case 3 => datasize = r.readVarint().toInt
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    require(tpe != null && datasize >= 0, "malformed BlobHeader")
    BlobHeader(tpe, datasize)
  }

  /** Blob → raw payload bytes. Handles `raw`, `zlib_data`, plus the
    * upstream format's newer `lz4_data` (field 6) and `zstd_data`
    * (field 7) via aircompressor; lzma/bzip2 are format-legal but
    * obsolete and rejected with a clear error (same stance as the
    * reference for lzma, OsmPbfRecordReader.java:176-178).
    */
  def inflateBlob(buf: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val r = new ProtoReader(buf, off, off + len)
    var raw: Array[Byte] = null
    var rawSize = -1
    var zlib: Array[Byte] = null
    var lz4: Array[Byte] = null
    var zstd: Array[Byte] = null
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => raw = r.readBytes()
        case 2 => rawSize = r.readVarint().toInt
        case 3 => zlib = r.readBytes()
        case n if n == 4 || n == 5 =>
          throw new UnsupportedOperationException(
            s"unsupported blob compression (field $n): lzma/bzip2 are obsolete")
        case 6 => lz4 = r.readBytes()
        case 7 => zstd = r.readBytes()
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    if (raw != null) raw
    else if (zlib != null) {
      // loop until the stream reports finished, growing the buffer when
      // raw_size is absent or wrong — a single guessed-size inflate would
      // silently truncate oversized payloads into corrupt entities
      val inf = new Inflater()
      inf.setInput(zlib)
      var out = new Array[Byte](if (rawSize > 0) rawSize else math.max(zlib.length * 4, 4096))
      var total = 0
      try {
        while (!inf.finished()) {
          if (total == out.length)
            out = java.util.Arrays.copyOf(out, out.length * 2)
          val n = inf.inflate(out, total, out.length - total)
          if (n == 0 && !inf.finished()) {
            require(!inf.needsInput() && !inf.needsDictionary(),
              "truncated or dictionary-requiring zlib blob")
          }
          total += n
        }
      } finally inf.end()
      if (total == out.length) out else java.util.Arrays.copyOf(out, total)
    } else if (lz4 != null) {
      require(rawSize >= 0, "lz4 blob requires raw_size")
      val out = new Array[Byte](rawSize)
      new io.airlift.compress.lz4.Lz4Decompressor()
        .decompress(lz4, 0, lz4.length, out, 0, rawSize)
      out
    } else if (zstd != null) {
      require(rawSize >= 0, "zstd blob requires raw_size")
      val out = new Array[Byte](rawSize)
      new io.airlift.compress.zstd.ZstdDecompressor()
        .decompress(zstd, 0, zstd.length, out, 0, rawSize)
      out
    } else throw new IllegalArgumentException("empty Blob")
  }

  // ---- HeaderBlock -------------------------------------------------------

  /** OSMHeader contents (osmformat.proto:57-90 in the reference's bundled
    * jar): bounding box in degrees (left, bottom, right, top) plus the
    * feature lists a conforming reader must honor. The reference skips
    * the header entirely; here `required_features` gates the scan (a
    * file demanding an unsupported feature fails loudly instead of
    * decoding garbage) and the bbox is exposed as metadata.
    */
  final case class OsmHeader(
      bbox: Option[(Double, Double, Double, Double)],
      requiredFeatures: Seq[String],
      optionalFeatures: Seq[String],
      writingProgram: Option[String],
      source: Option[String])

  def parseHeaderBlock(payload: Array[Byte]): OsmHeader = {
    val r = new ProtoReader(payload, 0, payload.length)
    var bbox: Option[(Double, Double, Double, Double)] = None
    val required = ArrayBuffer.empty[String]
    val optional = ArrayBuffer.empty[String]
    var program: Option[String] = None
    var source: Option[String] = None
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 =>
          val b = r.readMessage()
          var left, right, top, bottom = 0L
          var bt = b.readTag()
          while (bt != -1) {
            bt >> 3 match {
              case 1 => left = b.readSVarint()
              case 2 => right = b.readSVarint()
              case 3 => top = b.readSVarint()
              case 4 => bottom = b.readSVarint()
              case _ => b.skip(bt & 7)
            }
            bt = b.readTag()
          }
          // nanodegrees -> degrees; exposed as (left, bottom, right, top)
          bbox = Some((left * 1e-9, bottom * 1e-9, right * 1e-9, top * 1e-9))
        case 4 => required += r.readString()
        case 5 => optional += r.readString()
        case 16 => program = Some(r.readString())
        case 17 => source = Some(r.readString())
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    OsmHeader(bbox, required.toSeq, optional.toSeq, program, source)
  }

  // ---- PrimitiveBlock ----------------------------------------------------

  /** Per-block string dictionary (osmformat.proto:131-133); index 0 is the
    * reserved empty string. Entries are byte spans of the inflated
    * payload `buf`; `entries` decodes them to Strings on first use, so a
    * reader that copies UTF-8 bytes straight into rows never pays for
    * String objects.
    */
  final class StringTable(val buf: Array[Byte], offsets: Array[Int], lengths: Array[Int]) {
    def size: Int = offsets.length
    def offset(i: Int): Int = offsets(i)
    def length(i: Int): Int = lengths(i)
    lazy val entries: Array[String] = {
      val out = new Array[String](size)
      var i = 0
      while (i < size) {
        out(i) = new String(buf, offsets(i), lengths(i), StandardCharsets.UTF_8)
        i += 1
      }
      out
    }
    def apply(i: Int): String = entries(i)
    /** Entries `a` and `b` hold the same bytes (duplicate entries are
      * legal).
      */
    def sameString(a: Int, b: Int): Boolean = a == b || {
      val n = lengths(a)
      val oa = offsets(a)
      val ob = offsets(b)
      n == lengths(b) && (n == 0 || buf(oa) == buf(ob)) &&
        java.util.Arrays.equals(buf, oa, oa + n, buf, ob, ob + n)
    }
  }

  final case class RawGroup(
      nodes: Seq[ProtoReader],
      dense: Option[ProtoReader],
      ways: Seq[ProtoReader],
      relations: Seq[ProtoReader],
      changesets: Seq[ProtoReader])

  final class PrimitiveBlock(
      val strings: StringTable,
      val groups: Seq[RawGroup],
      val granularity: Int,
      val latOffset: Long,
      val lonOffset: Long,
      val dateGranularity: Int) {
    /** deg = 1e-9 * (offset + granularity * raw) — osmformat.proto:46-47. */
    @inline def toLat(raw: Long): Double = 1e-9 * (latOffset + granularity * raw)
    @inline def toLon(raw: Long): Double = 1e-9 * (lonOffset + granularity * raw)
  }

  def parsePrimitiveBlock(payload: Array[Byte]): PrimitiveBlock = {
    val r = new ProtoReader(payload, 0, payload.length)
    var strings: StringTable = null
    val groups = ArrayBuffer.empty[RawGroup]
    var granularity = 100
    var latOffset = 0L
    var lonOffset = 0L
    var dateGranularity = 1000
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => strings = parseStringTable(r.readMessage())
        case 2 => groups += parseGroup(r.readMessage())
        case 17 => granularity = r.readVarint().toInt
        case 18 => dateGranularity = r.readVarint().toInt
        case 19 => latOffset = r.readVarint()
        case 20 => lonOffset = r.readVarint()
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    require(strings != null, "PrimitiveBlock missing stringtable")
    new PrimitiveBlock(strings, groups.toSeq, granularity, latOffset,
      lonOffset, dateGranularity)
  }

  private def parseStringTable(r: ProtoReader): StringTable = {
    val offsets = new IntBuf
    val lengths = new IntBuf
    var tag = r.readTag()
    while (tag != -1) {
      if ((tag >> 3) == 1) {
        val len = r.readVarint().toInt
        // the span check String decoding makes
        if (len < 0 || r.pos + len > r.buf.length)
          throw new StringIndexOutOfBoundsException(
            s"string of $len bytes at ${r.pos} overruns the block")
        offsets += r.pos
        lengths += len
        r.pos += len
      } else r.skip(tag & 7)
      tag = r.readTag()
    }
    new StringTable(r.buf, offsets.toArray, lengths.toArray)
  }

  private def parseGroup(r: ProtoReader): RawGroup = {
    val nodes = ArrayBuffer.empty[ProtoReader]
    var dense: Option[ProtoReader] = None
    val ways = ArrayBuffer.empty[ProtoReader]
    val rels = ArrayBuffer.empty[ProtoReader]
    val changesets = ArrayBuffer.empty[ProtoReader]
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => nodes += r.readMessage()
        case 2 => dense = Some(r.readMessage())
        case 3 => ways += r.readMessage()
        case 4 => rels += r.readMessage()
        case 5 => changesets += r.readMessage()
        case _ => r.skip(tag & 7) // future kinds
      }
      tag = r.readTag()
    }
    RawGroup(nodes.toSeq, dense, ways.toSeq, rels.toSeq, changesets.toSeq)
  }

  // ---- entity decode -----------------------------------------------------

  /** Decode every requested entity in the block, in file order.
    * `withInfo`/`withTags` skip metadata and tag assembly when the
    * corresponding columns are pruned — a genuine CPU saving the reference
    * could not make (SURVEY §4 "column pruning": always decodes everything).
    */
  def decodeEntities(
      block: PrimitiveBlock,
      kinds: Set[EntityKind.Value],
      withInfo: Boolean,
      withTags: Boolean = true): Iterator[OsmEntity] =
    block.groups.iterator.flatMap { g =>
      val ns: Iterator[OsmEntity] =
        if (!kinds(EntityKind.Node)) Iterator.empty
        else g.dense.iterator.flatMap(d => decodeDense(block, d, withInfo, withTags)) ++
          g.nodes.iterator.map(n => decodeNode(block, n, withInfo, withTags))
      val ws: Iterator[OsmEntity] =
        if (!kinds(EntityKind.Way)) Iterator.empty
        else g.ways.iterator.map(w => decodeWay(block, w, withInfo, withTags))
      val rs: Iterator[OsmEntity] =
        if (!kinds(EntityKind.Relation)) Iterator.empty
        else g.relations.iterator.map(rel => decodeRelation(block, rel, withInfo, withTags))
      val cs: Iterator[OsmEntity] =
        if (!kinds(EntityKind.ChangeSet)) Iterator.empty
        else g.changesets.iterator.map(decodeChangeSet)
      ns ++ ws ++ rs ++ cs
    }

  /** Count entities of the requested kinds WITHOUT materializing
    * anything: the string table is never decoded, non-dense entities are
    * counted as message occurrences, and DenseNodes are counted by
    * walking the packed `id` field's varint terminations in place — the
    * decode-free fast path behind COUNT(*) aggregate pushdown. Wire
    * layout per osmformat.proto: PrimitiveBlock.primitivegroup = field
    * 2; group fields nodes=1, dense=2, ways=3, relations=4,
    * changesets=5; DenseNodes.id = packed sint64 field 1.
    *
    * Validation contract (the same stance as parquet's row-group-count
    * pushdown, which does not decode data pages): the FRAME structure
    * is validated — protobuf framing, string table presence, DenseNodes
    * packed-field termination and id/lat/lon cardinality — so counting
    * fails on the structural corruption a row scan fails on. Corruption
    * INSIDE undecoded message bodies (a broken tag string, a malformed
    * Way body) is not detectable without decoding and is the documented
    * difference between a count and a scan.
    */
  def countEntities(payload: Array[Byte], kinds: Set[EntityKind.Value]): Long = {
    val r = new ProtoReader(payload, 0, payload.length)
    var n = 0L
    var sawStrings = false
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 =>
          sawStrings = true
          r.skip(tag & 7)
        case 2 if (tag & 7) == 2 =>
          n += countGroup(r.readMessage(), kinds)
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    // parsePrimitiveBlock requires a stringtable; the count must too
    require(sawStrings, "PrimitiveBlock missing stringtable")
    n
  }

  private def countGroup(r: ProtoReader, kinds: Set[EntityKind.Value]): Long = {
    var n = 0L
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 =>
          if (kinds(EntityKind.Node)) n += 1
          r.skip(tag & 7)
        case 2 =>
          val d = r.readMessage()
          if (kinds(EntityKind.Node)) n += countDense(d)
          // kinds without Node: the message is skipped unvalidated, the
          // same work a kind-pruned row scan does
        case 3 =>
          if (kinds(EntityKind.Way)) n += 1
          r.skip(tag & 7)
        case 4 =>
          if (kinds(EntityKind.Relation)) n += 1
          r.skip(tag & 7)
        case 5 =>
          if (kinds(EntityKind.ChangeSet)) n += 1
          r.skip(tag & 7)
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    n
  }

  /** (count, min id, max id) for the requested kinds in one pass — the
    * MIN/MAX/COUNT aggregate-pushdown walker. Ids ARE decoded (dense
    * sint64 delta chains, per-message id fields for the other kinds),
    * but lat/lon/strings/tags never are. Returns min/max = Long.Max/
    * Long.Min sentinels when no entity matched (caller maps to NULL).
    * Same frame-validation stance as [[countEntities]].
    */
  def statsEntities(
      payload: Array[Byte],
      kinds: Set[EntityKind.Value]): (Long, Long, Long) = {
    val r = new ProtoReader(payload, 0, payload.length)
    var n = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var sawStrings = false
    def seen(id: Long): Unit = {
      n += 1
      if (id < mn) mn = id
      if (id > mx) mx = id
    }
    // id field of a non-dense entity message: Node.id is sint64
    // (zigzag), Way/Relation/ChangeSet ids are plain int64. Protobuf
    // scalar semantics apply exactly as in the row decoders: an omitted
    // field 1 means id = 0 (default-value elision), and a REPEATED
    // field 1 means the LAST occurrence wins (the row decoders
    // overwrite on each occurrence) — the pushdown must agree with the
    // scan on both edges, not just the happy path.
    def msgId(m: ProtoReader, zigzag: Boolean): Long = {
      var id = 0L
      var tag = m.readTag()
      while (tag != -1) {
        if ((tag >> 3) == 1 && (tag & 7) == 0) {
          id = if (zigzag) m.readSVarint() else m.readVarint()
        } else m.skip(tag & 7)
        tag = m.readTag()
      }
      id
    }
    // Decodes the packed id delta chain AND counts lat/lon varints (the
    // same cheap termination walk countDense does) so this pushdown path
    // rejects exactly the corruption the row scan rejects: decodeDense
    // indexes lat/lon by id position, so short arrays must fail here too.
    def denseIds(d: ProtoReader): Unit = {
      var acc = 0L
      var idCount = 0L
      var lats = 0L
      var lons = 0L
      var tag = d.readTag()
      while (tag != -1) {
        val field = tag >> 3
        if (field == 1 && (tag & 7) == 2) {
          // repeated packed chunks concatenate (same semantics as the
          // appendL row decoders): the delta chain continues across them
          val len = d.readVarint().toInt
          val end = d.pos + len
          require(end <= d.end, "DenseNodes.id overruns the group")
          while (d.pos < end) { acc += d.readSVarint(); seen(acc); idCount += 1 }
        } else if ((field == 8 || field == 9) && (tag & 7) == 2) {
          val n = countVarintsInSpan(d)
          if (field == 8) lats += n else lons += n
        } else d.skip(tag & 7)
        tag = d.readTag()
      }
      require(idCount == 0 || (lats >= idCount && lons >= idCount),
        s"DenseNodes lat/lon shorter than ids: $idCount/$lats/$lons")
    }
    def group(g: ProtoReader): Unit = {
      var tag = g.readTag()
      while (tag != -1) {
        tag >> 3 match {
          case 1 if kinds(EntityKind.Node) => seen(msgId(g.readMessage(), zigzag = true))
          case 2 if kinds(EntityKind.Node) => denseIds(g.readMessage())
          case 3 if kinds(EntityKind.Way) => seen(msgId(g.readMessage(), zigzag = false))
          case 4 if kinds(EntityKind.Relation) => seen(msgId(g.readMessage(), zigzag = false))
          case 5 if kinds(EntityKind.ChangeSet) => seen(msgId(g.readMessage(), zigzag = false))
          case _ => g.skip(tag & 7)
        }
        tag = g.readTag()
      }
    }
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 =>
          sawStrings = true
          r.skip(tag & 7)
        case 2 if (tag & 7) == 2 => group(r.readMessage())
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    require(sawStrings, "PrimitiveBlock missing stringtable")
    (n, mn, mx)
  }

  /** Count DenseNodes entities by walking the packed `id` varints (one
    * entity per varint — a varint ends at the first byte without the
    * continuation bit), validating what a row decode would reject:
    * truncated varint spans throw, and lat/lon must cover the id
    * cardinality (decodeDense indexes lat/lon by id position — SHORT
    * arrays fail the row scan, surplus entries are ignored by both).
    */
  private def countDense(r: ProtoReader): Long = {
    var ids = 0L
    var lats = 0L
    var lons = 0L
    var tag = r.readTag()
    while (tag != -1) {
      val field = tag >> 3
      if ((field == 1 || field == 8 || field == 9) && (tag & 7) == 2) {
        val n = countVarintsInSpan(r) // repeated packed spans concatenate
        field match {
          case 1 => ids += n
          case 8 => lats += n
          case 9 => lons += n
        }
      } else r.skip(tag & 7)
      tag = r.readTag()
    }
    require(ids == 0 || (lats >= ids && lons >= ids),
      s"DenseNodes lat/lon shorter than ids: $ids/$lats/$lons")
    ids
  }

  /** Count the varints in one packed span (length-delimited payload at
    * the reader's position), validating what a row decode would reject:
    * an overrunning span or one that ends mid-varint throws. Shared by
    * the COUNT and MIN/MAX pushdown walkers so their validation cannot
    * drift.
    */
  private[pbf] def countVarintsInSpan(r: ProtoReader): Long = {
    val len = r.readVarint().toInt
    val end = r.pos + len
    require(end <= r.end, "DenseNodes packed field overruns the group")
    var n = 0L
    var p = r.pos
    while (p < end) {
      if ((r.buf(p) & 0x80) == 0) n += 1
      p += 1
    }
    require(len == 0 || (r.buf(end - 1) & 0x80) == 0,
      "DenseNodes packed field ends mid-varint")
    r.pos = end
    n
  }

  /** ChangeSet is id-only by spec (osmformat.proto:174-189). */
  private def decodeChangeSet(r: ProtoReader): OsmChangeSet = {
    var id = 0L
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => id = r.readVarint()
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    OsmChangeSet(id)
  }

  /** Columnar decode of one block's dense-node groups: (ids, lats, lons)
    * primitive arrays per group, delta-resolved and scaled. This is the
    * zero-object fast path for pruned scans — the wire layout is already
    * columnar (SURVEY §1.1), so the arrays feed ColumnVectors directly.
    */
  def decodeDenseColumns(block: PrimitiveBlock)
      : Iterator[(Array[Long], Array[Double], Array[Double])] =
    block.groups.iterator.flatMap { g =>
      val dense = g.dense.map { r0 =>
        // re-read the raw group message (ProtoReader is stateful)
        val r = new ProtoReader(r0.buf, r0.pos, r0.end)
        var ids: Array[Long] = Array.emptyLongArray
        var lats: Array[Long] = Array.emptyLongArray
        var lons: Array[Long] = Array.emptyLongArray
        var tag = r.readTag()
        while (tag != -1) {
          tag >> 3 match {
            case 1 => ids = appendL(ids, r.readPackedLongs(zigzag = true))
            case 8 => lats = appendL(lats, r.readPackedLongs(zigzag = true))
            case 9 => lons = appendL(lons, r.readPackedLongs(zigzag = true))
            case _ => r.skip(tag & 7)
          }
          tag = r.readTag()
        }
        val n = ids.length
        val outLat = new Array[Double](n)
        val outLon = new Array[Double](n)
        var id = 0L; var la = 0L; var lo = 0L
        var i = 0
        while (i < n) {
          id += ids(i); la += lats(i); lo += lons(i)
          ids(i) = id
          outLat(i) = block.toLat(la)
          outLon(i) = block.toLon(lo)
          i += 1
        }
        (ids, outLat, outLon)
      }
      // non-dense Node groups are format-legal too — emit them as a batch
      val plain = if (g.nodes.isEmpty) None else {
        val ns = g.nodes.map { r0 =>
          decodeNode(block, new ProtoReader(r0.buf, r0.pos, r0.end),
            withInfo = false, withTags = false)
        }
        Some((ns.map(_.id).toArray, ns.map(_.lat).toArray, ns.map(_.lon).toArray))
      }
      dense.iterator ++ plain.iterator
    }

  /** Repeated packed fields may legally arrive as MULTIPLE chunks of the
    * same field number, and protobuf semantics say they concatenate —
    * every packed read site appends rather than overwrites, so the row
    * decoders, the columnar path, and the pushdown walkers (which count
    * across chunks) all agree on multi-chunk input. The common case
    * (one chunk) stays allocation-free.
    */
  private def appendL(cur: Array[Long], next: Array[Long]): Array[Long] =
    if (cur.isEmpty) next else cur ++ next

  private def appendI(cur: Array[Int], next: Array[Int]): Array[Int] =
    if (cur.isEmpty) next else cur ++ next

  /** DenseNodes: parallel packed arrays, all DELTA coded; tags flattened as
    * ((keyId valId)* 0)* — osmformat.proto:216-227. State (running id/lat/
    * lon, keys_vals cursor) is scoped to this group: fixes reference defect
    * D3 (stale-tag carryover across nodes/blocks).
    */
  private def decodeDense(
      block: PrimitiveBlock,
      r: ProtoReader,
      withInfo: Boolean,
      withTags: Boolean): Iterator[OsmNode] = {
    var ids: Array[Long] = Array.emptyLongArray
    var lats: Array[Long] = Array.emptyLongArray
    var lons: Array[Long] = Array.emptyLongArray
    var keysVals: Array[Int] = Array.emptyIntArray
    var denseInfo: ProtoReader = null
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => ids = appendL(ids, r.readPackedLongs(zigzag = true))
        case 5 => denseInfo = r.readMessage()
        case 8 => lats = appendL(lats, r.readPackedLongs(zigzag = true))
        case 9 => lons = appendL(lons, r.readPackedLongs(zigzag = true))
        case 10 => keysVals = appendI(keysVals, r.readPackedInts(zigzag = false))
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    val infos: Array[OsmInfo] =
      if (withInfo && denseInfo != null)
        decodeDenseInfo(block, denseInfo, ids.length)
      else null
    val st = block.strings.entries
    val n = ids.length
    val out = new Array[OsmNode](n)
    var id = 0L; var lat = 0L; var lon = 0L; var kv = 0
    var i = 0
    while (i < n) {
      id += ids(i); lat += lats(i); lon += lons(i)
      var tags = Map.empty[String, String]
      if (withTags) {
        while (kv < keysVals.length && keysVals(kv) != 0) {
          tags = tags.updated(st(keysVals(kv)), st(keysVals(kv + 1)))
          kv += 2
        }
        kv += 1 // consume the 0 delimiter (absent entirely when no node has tags)
      }
      out(i) = OsmNode(id, block.toLat(lat), block.toLon(lon), tags,
        if (infos == null) None else Option(infos(i)))
      i += 1
    }
    out.iterator
  }

  private def decodeDenseInfo(
      block: PrimitiveBlock,
      r: ProtoReader,
      n: Int): Array[OsmInfo] = {
    var versions: Array[Int] = Array.emptyIntArray
    var timestamps: Array[Long] = Array.emptyLongArray
    var changesets: Array[Long] = Array.emptyLongArray
    var uids: Array[Int] = Array.emptyIntArray
    var userSids: Array[Int] = Array.emptyIntArray
    var visibles: Array[Long] = Array.emptyLongArray
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => versions = appendI(versions, r.readPackedInts(zigzag = false))
        case 2 => timestamps = appendL(timestamps, r.readPackedLongs(zigzag = true))
        case 3 => changesets = appendL(changesets, r.readPackedLongs(zigzag = true))
        case 4 => uids = appendI(uids, r.readPackedInts(zigzag = true))
        case 5 => userSids = appendI(userSids, r.readPackedInts(zigzag = true))
        case 6 => visibles = appendL(visibles, r.readPackedLongs(zigzag = false))
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    val out = new Array[OsmInfo](n)
    var ts = 0L; var cs = 0L; var uid = 0; var sid = 0
    var i = 0
    while (i < n) {
      if (i < timestamps.length) ts += timestamps(i)
      if (i < changesets.length) cs += changesets(i)
      if (i < uids.length) uid += uids(i)
      if (i < userSids.length) sid += userSids(i)
      out(i) = OsmInfo(
        if (i < versions.length) versions(i) else -1,
        ts * block.dateGranularity,
        cs, uid,
        if (sid > 0 && sid < block.strings.size) block.strings(sid) else "",
        if (i < visibles.length) visibles(i) != 0 else true)
      i += 1
    }
    out
  }

  /** Non-dense Node (osmformat.proto:192-202) — format-legal but never read
    * by the reference (SURVEY §1.1); we support it for completeness.
    */
  private def decodeNode(
      block: PrimitiveBlock,
      r: ProtoReader,
      withInfo: Boolean,
      withTags: Boolean): OsmNode = {
    var id = 0L; var lat = 0L; var lon = 0L
    var keys: Array[Int] = Array.emptyIntArray
    var vals: Array[Int] = Array.emptyIntArray
    var info: Option[OsmInfo] = None
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => id = r.readSVarint()
        case 2 => keys = appendI(keys, r.readPackedInts(zigzag = false))
        case 3 => vals = appendI(vals, r.readPackedInts(zigzag = false))
        case 4 =>
          val m = r.readMessage()
          if (withInfo) info = Some(decodeInfo(block, m))
        case 8 => lat = r.readSVarint()
        case 9 => lon = r.readSVarint()
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    OsmNode(id, block.toLat(lat), block.toLon(lon),
      if (withTags) zipTags(block, keys, vals) else Map.empty, info)
  }

  private def decodeWay(
      block: PrimitiveBlock,
      r: ProtoReader,
      withInfo: Boolean,
      withTags: Boolean): OsmWay = {
    var id = 0L
    var keys: Array[Int] = Array.emptyIntArray
    var vals: Array[Int] = Array.emptyIntArray
    var refs: Array[Long] = Array.emptyLongArray
    var info: Option[OsmInfo] = None
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => id = r.readVarint()
        case 2 => keys = appendI(keys, r.readPackedInts(zigzag = false))
        case 3 => vals = appendI(vals, r.readPackedInts(zigzag = false))
        case 4 =>
          val m = r.readMessage()
          if (withInfo) info = Some(decodeInfo(block, m))
        case 8 => refs = appendL(refs, r.readPackedLongs(zigzag = true))
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    // refs are DELTA coded in geometry order (osmformat.proto:238)
    var i = 1
    while (i < refs.length) { refs(i) += refs(i - 1); i += 1 }
    OsmWay(id, refs, if (withTags) zipTags(block, keys, vals) else Map.empty, info)
  }

  private val memberTypeNames = Array("node", "way", "relation")

  private def decodeRelation(
      block: PrimitiveBlock,
      r: ProtoReader,
      withInfo: Boolean,
      withTags: Boolean): OsmRelation = {
    var id = 0L
    var keys: Array[Int] = Array.emptyIntArray
    var vals: Array[Int] = Array.emptyIntArray
    var roles: Array[Int] = Array.emptyIntArray
    var memids: Array[Long] = Array.emptyLongArray
    var types: Array[Int] = Array.emptyIntArray
    var info: Option[OsmInfo] = None
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => id = r.readVarint()
        case 2 => keys = appendI(keys, r.readPackedInts(zigzag = false))
        case 3 => vals = appendI(vals, r.readPackedInts(zigzag = false))
        case 4 =>
          val m = r.readMessage()
          if (withInfo) info = Some(decodeInfo(block, m))
        case 8 => roles = appendI(roles, r.readPackedInts(zigzag = false))
        case 9 => memids = appendL(memids, r.readPackedLongs(zigzag = true))
        case 10 => types = appendI(types, r.readPackedInts(zigzag = false))
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    val n = memids.length
    val members = new Array[OsmMember](n)
    var mid = 0L
    var i = 0
    while (i < n) {
      mid += memids(i)
      members(i) = OsmMember(
        if (i < roles.length) block.strings(roles(i)) else "",
        mid,
        if (i < types.length && types(i) < 3) memberTypeNames(types(i)) else "")
      i += 1
    }
    OsmRelation(id, members,
      if (withTags) zipTags(block, keys, vals) else Map.empty, info)
  }

  private def decodeInfo(block: PrimitiveBlock, r: ProtoReader): OsmInfo = {
    var version = -1; var ts = 0L; var cs = 0L; var uid = 0; var sid = 0
    var visible = true
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => version = r.readVarint().toInt
        case 2 => ts = r.readVarint()
        case 3 => cs = r.readVarint()
        case 4 => uid = r.readVarint().toInt
        case 5 => sid = r.readVarint().toInt
        case 6 => visible = r.readVarint() != 0
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    OsmInfo(version, ts * block.dateGranularity, cs, uid,
      if (sid > 0 && sid < block.strings.size) block.strings(sid) else "",
      visible)
  }

  private def zipTags(
      block: PrimitiveBlock,
      keys: Array[Int],
      vals: Array[Int]): Map[String, String] = {
    var m = Map.empty[String, String]
    val n = math.min(keys.length, vals.length)
    var i = 0
    while (i < n) {
      m = m.updated(block.strings(keys(i)), block.strings(vals(i)))
      i += 1
    }
    m
  }
}
