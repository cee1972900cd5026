package graft.pbf

import graft.pbf.PbfBlockDecoder.{PrimitiveBlock, RawGroup}

/** Entity-at-a-time decode of one byte range, with no object per entity:
  * `next()` decodes the next entity into this cursor's fields and reused
  * buffers, which stay valid until the following call. The row reader
  * copies them into a reused Spark row; the PERMISSIVE count and min/max
  * pushdowns read `id`, so both agree with the row scan on what a
  * damaged block contributes.
  *
  * Entities come in [[PbfBlockDecoder.decodeEntities]] order (per group:
  * dense nodes, nodes, ways, relations, changesets) with the same values
  * and the same failures: a dense group is validated whole before its
  * first node, other entities one message at a time. Dense coordinates,
  * tags and info are decoded only when asked for (without coordinates,
  * dense lat/lon are still counted against the ids, as the count
  * pushdown does). A repeated tag key keeps its first
  * position and its last value, as a map built by successive updates
  * does.
  *
  * PERMISSIVE: a block that fails to inflate or parse is skipped
  * (`skippedBlock`); an entity that fails to decode drops the rest of its
  * block (`truncatedBlock`). FAILFAST throws.
  */
final class EntityCursor(
    in: RangeReader,
    start: Long,
    end: Long,
    kinds: Set[EntityKind.Value],
    withCoords: Boolean,
    withTags: Boolean,
    withInfo: Boolean,
    permissive: Boolean = false,
    skips: SkipListener = SkipListener.Logging) {

  import EntityCursor._

  // ---- the current entity ------------------------------------------------

  /** [[EntityCursor.Node]], [[EntityCursor.Way]], [[EntityCursor.Relation]]
    * or [[EntityCursor.ChangeSet]].
    */
  var kind: Int = -1
  var id: Long = 0L
  var lat: Double = 0.0
  var lon: Double = 0.0
  /** Way node ids, delta-resolved, in geometry order. */
  val refs = new LongBuf
  /** Relation members: ids, role string index (-1 = ""), type 0/1/2
    * for node/way/relation (-1 = "").
    */
  val memberIds = new LongBuf
  val memberRoles = new IntBuf
  val memberTypes = new IntBuf
  /** Tags as string-table indices, one entry per distinct key. */
  val tagKeys = new IntBuf
  val tagVals = new IntBuf
  var hasInfo = false
  var version = 0
  var timestampMs = 0L
  var changeset = 0L
  var uid = 0
  /** String-table index of the user name; -1 = "". */
  var userSid = -1
  var visible = true
  /** Frame start of the entity's block, and its ordinal in that block. */
  var blockStart = -1L
  var recordIndex = -1L
  /** The string table the indices above refer to. */
  var strings: PbfBlockDecoder.StringTable = _

  // ---- walk state --------------------------------------------------------

  private val wantNodes = kinds(EntityKind.Node)
  private val wantWays = kinds(EntityKind.Way)
  private val wantRelations = kinds(EntityKind.Relation)
  private val wantChangeSets = kinds(EntityKind.ChangeSet)

  private val blocks = PbfScanner.parsedBlocks(in, start, end, permissive, skips)
  private var block: PrimitiveBlock = _
  private var groups: Iterator[RawGroup] = Iterator.empty
  private var group: RawGroup = _
  private var phase = NextGroup
  private var messages: Iterator[ProtoReader] = Iterator.empty

  private val rawKeys = new IntBuf
  private val rawVals = new IntBuf
  private val rawRoles = new IntBuf
  private val rawTypes = new IntBuf

  // the current dense group: packed columns, running deltas, tag cursor
  private val dIds = new LongBuf
  private val dLats = new LongBuf
  private val dLons = new LongBuf
  private val dKeysVals = new IntBuf
  private val dVersions = new IntBuf
  private val dTimestamps = new LongBuf
  private val dChangesets = new LongBuf
  private val dUids = new IntBuf
  private val dUserSids = new IntBuf
  private val dVisibles = new LongBuf
  private var dInfo = false
  private var dIndex = 0
  private var dId, dLat, dLon, dTs, dCs = 0L
  private var dUid, dSid, dKv = 0

  def next(): Boolean = {
    while (true) {
      if (block != null) {
        val more =
          try advance()
          catch {
            case e: Exception if permissive =>
              skips.truncatedBlock(blockStart, String.valueOf(e.getMessage))
              false
          }
        if (more) {
          recordIndex += 1
          return true
        }
        block = null
      }
      if (!blocks.hasNext) return false
      val (ref, b) = blocks.next()
      block = b
      strings = b.strings
      blockStart = ref.start
      recordIndex = -1L
      groups = b.groups.iterator
      phase = NextGroup
    }
    false
  }

  /** Decode the next entity of the current block; false at its end. */
  private def advance(): Boolean = {
    while (true) {
      phase match {
        case Dense =>
          if (dIndex < dIds.size) {
            nextDense()
            return true
          }
          phase = Nodes
          messages = if (wantNodes) group.nodes.iterator else Iterator.empty
        case Nodes =>
          if (messages.hasNext) {
            decodeNode(messages.next())
            return true
          }
          phase = Ways
          messages = if (wantWays) group.ways.iterator else Iterator.empty
        case Ways =>
          if (messages.hasNext) {
            decodeWay(messages.next())
            return true
          }
          phase = Relations
          messages = if (wantRelations) group.relations.iterator else Iterator.empty
        case Relations =>
          if (messages.hasNext) {
            decodeRelation(messages.next())
            return true
          }
          phase = ChangeSets
          messages = if (wantChangeSets) group.changesets.iterator else Iterator.empty
        case ChangeSets =>
          if (messages.hasNext) {
            decodeChangeSet(messages.next())
            return true
          }
          phase = NextGroup
        case _ =>
          if (!groups.hasNext) return false
          group = groups.next()
          dIds.clear()
          dIndex = 0
          if (wantNodes) group.dense.foreach(startDense)
          phase = Dense
      }
    }
    false
  }

  // ---- DenseNodes (osmformat.proto:216-227) --------------------------------

  private def startDense(r: ProtoReader): Unit = {
    dIds.clear(); dLats.clear(); dLons.clear(); dKeysVals.clear()
    var lats, lons = 0L
    var info: ProtoReader = null
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => r.readPackedLongs(zigzag = true, dIds)
        case 5 => info = r.readMessage()
        case 8 =>
          if (withCoords) r.readPackedLongs(zigzag = true, dLats)
          else lats += PbfBlockDecoder.countVarintsInSpan(r)
        case 9 =>
          if (withCoords) r.readPackedLongs(zigzag = true, dLons)
          else lons += PbfBlockDecoder.countVarintsInSpan(r)
        case 10 => r.readPackedInts(zigzag = false, dKeysVals)
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    val n = dIds.size
    if (withCoords) { lats = dLats.size; lons = dLons.size }
    require(lats >= n && lons >= n, s"DenseNodes lat/lon shorter than ids: $n/$lats/$lons")
    if (withTags) {
      // ((key value)* 0)* for every node, each index inside the table
      var kv = 0
      var i = 0
      while (i < n) {
        while (kv < dKeysVals.size && dKeysVals(kv) != 0) {
          require(kv + 1 < dKeysVals.size, "DenseNodes keys_vals ends inside a pair")
          checkString(dKeysVals(kv))
          checkString(dKeysVals(kv + 1))
          kv += 2
        }
        kv += 1
        i += 1
      }
    }
    dInfo = withInfo && info != null
    if (dInfo) {
      dVersions.clear(); dTimestamps.clear(); dChangesets.clear()
      dUids.clear(); dUserSids.clear(); dVisibles.clear()
      var t = info.readTag()
      while (t != -1) {
        t >> 3 match {
          case 1 => info.readPackedInts(zigzag = false, dVersions)
          case 2 => info.readPackedLongs(zigzag = true, dTimestamps)
          case 3 => info.readPackedLongs(zigzag = true, dChangesets)
          case 4 => info.readPackedInts(zigzag = true, dUids)
          case 5 => info.readPackedInts(zigzag = true, dUserSids)
          case 6 => info.readPackedLongs(zigzag = false, dVisibles)
          case _ => info.skip(t & 7)
        }
        t = info.readTag()
      }
    }
    dId = 0L; dLat = 0L; dLon = 0L; dTs = 0L; dCs = 0L
    dUid = 0; dSid = 0; dKv = 0
  }

  private def nextDense(): Unit = {
    val i = dIndex
    kind = Node
    dId += dIds(i)
    id = dId
    if (withCoords) {
      dLat += dLats(i); dLon += dLons(i)
      lat = block.toLat(dLat)
      lon = block.toLon(dLon)
    }
    if (withTags) {
      tagKeys.clear(); tagVals.clear()
      while (dKv < dKeysVals.size && dKeysVals(dKv) != 0) {
        addTag(dKeysVals(dKv), dKeysVals(dKv + 1))
        dKv += 2
      }
      dKv += 1
    }
    hasInfo = dInfo
    if (dInfo) {
      if (i < dTimestamps.size) dTs += dTimestamps(i)
      if (i < dChangesets.size) dCs += dChangesets(i)
      if (i < dUids.size) dUid += dUids(i)
      if (i < dUserSids.size) dSid += dUserSids(i)
      version = if (i < dVersions.size) dVersions(i) else -1
      timestampMs = dTs * block.dateGranularity
      changeset = dCs
      uid = dUid
      userSid = userIndex(dSid)
      visible = if (i < dVisibles.size) dVisibles(i) != 0 else true
    }
    dIndex += 1
  }

  // ---- Node, Way, Relation, ChangeSet messages ----------------------------

  private def decodeNode(r: ProtoReader): Unit = {
    kind = Node
    hasInfo = false
    rawKeys.clear(); rawVals.clear()
    var nid = 0L; var la = 0L; var lo = 0L
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => nid = r.readSVarint()
        case 2 => r.readPackedInts(zigzag = false, rawKeys)
        case 3 => r.readPackedInts(zigzag = false, rawVals)
        case 4 => info(r.readMessage())
        case 8 => la = r.readSVarint()
        case 9 => lo = r.readSVarint()
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    id = nid
    lat = block.toLat(la)
    lon = block.toLon(lo)
    zipTags()
  }

  private def decodeWay(r: ProtoReader): Unit = {
    kind = Way
    hasInfo = false
    rawKeys.clear(); rawVals.clear(); refs.clear()
    var wid = 0L
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => wid = r.readVarint()
        case 2 => r.readPackedInts(zigzag = false, rawKeys)
        case 3 => r.readPackedInts(zigzag = false, rawVals)
        case 4 => info(r.readMessage())
        case 8 => r.readPackedLongs(zigzag = true, refs)
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    // refs are DELTA coded in geometry order (osmformat.proto:238)
    var i = 1
    while (i < refs.size) { refs(i) = refs(i) + refs(i - 1); i += 1 }
    id = wid
    zipTags()
  }

  private def decodeRelation(r: ProtoReader): Unit = {
    kind = Relation
    hasInfo = false
    rawKeys.clear(); rawVals.clear(); rawRoles.clear(); rawTypes.clear()
    memberIds.clear(); memberRoles.clear(); memberTypes.clear()
    var rid = 0L
    var tag = r.readTag()
    while (tag != -1) {
      tag >> 3 match {
        case 1 => rid = r.readVarint()
        case 2 => r.readPackedInts(zigzag = false, rawKeys)
        case 3 => r.readPackedInts(zigzag = false, rawVals)
        case 4 => info(r.readMessage())
        case 8 => r.readPackedInts(zigzag = false, rawRoles)
        case 9 => r.readPackedLongs(zigzag = true, memberIds)
        case 10 => r.readPackedInts(zigzag = false, rawTypes)
        case _ => r.skip(tag & 7)
      }
      tag = r.readTag()
    }
    var i = 0
    while (i < memberIds.size) {
      if (i > 0) memberIds(i) = memberIds(i) + memberIds(i - 1)
      memberRoles += (if (i < rawRoles.size) checkString(rawRoles(i)) else -1)
      memberTypes += (
        if (i < rawTypes.size && rawTypes(i) < 3) {
          require(rawTypes(i) >= 0, s"negative member type ${rawTypes(i)}")
          rawTypes(i)
        } else -1)
      i += 1
    }
    id = rid
    zipTags()
  }

  /** ChangeSet is id-only by spec (osmformat.proto:174-189). */
  private def decodeChangeSet(r: ProtoReader): Unit = {
    kind = ChangeSet
    hasInfo = false
    var cid = 0L
    var tag = r.readTag()
    while (tag != -1) {
      if ((tag >> 3) == 1) cid = r.readVarint() else r.skip(tag & 7)
      tag = r.readTag()
    }
    id = cid
    tagKeys.clear(); tagVals.clear()
  }

  /** Info (osmformat.proto:136-171); a repeated message replaces the last. */
  private def info(r: ProtoReader): Unit =
    if (withInfo) {
      hasInfo = true
      version = -1; changeset = 0L; uid = 0; visible = true
      var ts = 0L
      var sid = 0
      var tag = r.readTag()
      while (tag != -1) {
        tag >> 3 match {
          case 1 => version = r.readVarint().toInt
          case 2 => ts = r.readVarint()
          case 3 => changeset = r.readVarint()
          case 4 => uid = r.readVarint().toInt
          case 5 => sid = r.readVarint().toInt
          case 6 => visible = r.readVarint() != 0
          case _ => r.skip(tag & 7)
        }
        tag = r.readTag()
      }
      timestampMs = ts * block.dateGranularity
      userSid = userIndex(sid)
    }

  // ---- tags and strings ---------------------------------------------------

  private def zipTags(): Unit =
    if (withTags) {
      tagKeys.clear(); tagVals.clear()
      val n = math.min(rawKeys.size, rawVals.size)
      var i = 0
      while (i < n) {
        addTag(checkString(rawKeys(i)), checkString(rawVals(i)))
        i += 1
      }
    }

  private def addTag(k: Int, v: Int): Unit = {
    var j = 0
    while (j < tagKeys.size) {
      if (strings.sameString(tagKeys(j), k)) {
        tagVals(j) = v
        return
      }
      j += 1
    }
    tagKeys += k
    tagVals += v
  }

  private def checkString(i: Int): Int = {
    if (i < 0 || i >= strings.size)
      throw new ArrayIndexOutOfBoundsException(
        s"string index $i outside the block's table of ${strings.size}")
    i
  }

  private def userIndex(sid: Int): Int =
    if (sid > 0 && sid < strings.size) sid else -1
}

object EntityCursor {
  final val Node = 0
  final val Way = 1
  final val Relation = 2
  final val ChangeSet = 3

  // walk phases inside one primitive group
  private final val Dense = 0
  private final val Nodes = 1
  private final val Ways = 2
  private final val Relations = 3
  private final val ChangeSets = 4
  private final val NextGroup = 5
}
