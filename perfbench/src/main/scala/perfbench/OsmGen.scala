package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.util.SplittableRandom
import java.util.zip.Deflater

import scala.collection.mutable

/** A lat/lon rectangle, inclusive on every side (Spark's `between`). */
final case class Bbox(minLat: Double, maxLat: Double, minLon: Double, maxLon: Double) {
  def contains(lat: Double, lon: Double): Boolean =
    lat >= minLat && lat <= maxLat && lon >= minLon && lon <= maxLon
}

/** Per-kind totals of an entity set. */
final case class KindStats(count: Long, idSum: Long, minId: Long, maxId: Long)

/** Totals of the bbox cut, as written and read back. */
final case class CutStats(count: Long, idSum: Long, latSum: Long, lonSum: Long, tags: Long)

/** Everything the `osm_extract` checks compare against, computed from
  * the generator's own entity stream (never from a decode of the file).
  */
final case class OsmExpected(
    kinds: Map[String, KindStats],
    tiles: Map[Long, Long],
    bbox: Bbox,
    bboxCount: Long,
    bboxIdSum: Long,
    wayIds: Array[Long],
    wayPoints: Array[Int],
    wayMinLat: Array[Double],
    wayMaxLat: Array[Double],
    tagKeys: Map[(String, String), Long],
    cut: Bbox,
    cutStats: CutStats,
    fileBytes: Long,
    blocks: Int) {
  def entities: Long = kinds.values.map(_.count).sum
}

/** Seeded generator of one single-file OSM extract.
  *
  * The file is written with the benchmark's own protobuf writer ([[Pb]])
  * and `java.util.zip.Deflater`: an OSMHeader block, then zlib
  * PrimitiveBlocks of 8000 dense nodes (with DenseInfo and tags), ways
  * and relations, in that order. Node coordinates are a random walk with
  * occasional jumps, so the delta-coded lat/lon columns carry realistic
  * entropy and the nodes spread over a few hundred 2048x2048 tiles.
  *
  * Run: `OsmGen <seed> <out.pbf> <expected.bin>`.
  */
object OsmGen {
  val Nodes = 600000
  val WaysPerNode = 16
  val RelationsPerWay = 50
  val PerBlock = 8000
  /** Region in raw units of 1e-7 degree (granularity 100, offset 0). */
  val LatLo = 450000000L; val LatHi = 480000000L
  val LonLo = 50000000L; val LonHi = 110000000L

  /** Degrees exactly as the decoder computes them from a raw value. */
  def deg(raw: Long): Double = 1e-9 * (0L + 100 * raw)

  /** The README tile id, in the same double arithmetic as
    * `OsmFunctions.tileId`.
    */
  def tileId(lat: Double, lon: Double, s: Int = 2048): Long =
    math.floor((lat + 90) * s / 180).toLong * s + math.floor((lon + 180) * s / 360).toLong

  private val NodeKeys = Array("amenity", "name", "shop", "highway", "natural",
    "tourism", "barrier", "power", "entrance", "addr:housenumber")
  private val WayKeys = Array("highway", "name", "building", "surface",
    "maxspeed", "oneway", "lanes", "landuse")
  private val RelKeys = Array("type", "name", "route", "boundary", "network")
  private val Roles = Array("outer", "inner", "", "stop", "platform")

  private def distinctKeys(rnd: SplittableRandom, keys: Array[String], k: Int): Array[String] = {
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < k) picked += keys(rnd.nextInt(keys.length))
    picked.toArray
  }

  private def randomBox(rnd: SplittableRandom, frac: Double): Bbox = {
    val latSpan = ((LatHi - LatLo) * frac).toLong
    val lonSpan = ((LonHi - LonLo) * frac).toLong
    val la = LatLo + rnd.nextLong(LatHi - LatLo - latSpan)
    val lo = LonLo + rnd.nextLong(LonHi - LonLo - lonSpan)
    Bbox(deg(la), deg(la + latSpan), deg(lo), deg(lo + lonSpan))
  }

  /** Per-block string table; index 0 is the reserved empty string. */
  private final class Strings {
    private val idx = mutable.LinkedHashMap[String, Int]("" -> 0)
    def apply(s: String): Int = idx.getOrElseUpdate(s, idx.size)
    def write(block: Pb): Unit = {
      val st = new Pb(1 << 12)
      idx.keysIterator.foreach(s => st.string(1, s))
      block.message(1, st)
    }
  }

  def generate(seed: Long, path: String): OsmExpected = {
    val rnd = new SplittableRandom(seed)
    val bbox = randomBox(rnd, 0.3)
    val cut = randomBox(rnd, 0.2)
    val nWays = Nodes / WaysPerNode
    val nRels = nWays / RelationsPerWay

    val nodeIds = new Array[Long](Nodes)
    val nodeLat = new Array[Long](Nodes)
    val nodeLon = new Array[Long](Nodes)
    val tiles = mutable.HashMap.empty[Long, Long]
    val tagKeys = mutable.HashMap.empty[(String, String), Long]
    var bboxCount = 0L; var bboxIdSum = 0L
    var cutCount, cutIdSum, cutLatSum, cutLonSum, cutTags = 0L
    def countKey(kind: String, k: String): Unit =
      tagKeys((kind, k)) = tagKeys.getOrElse((kind, k), 0L) + 1

    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    // blocks compress on a small pool and are written in order
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(4, Runtime.getRuntime.availableProcessors)))
    val deflaters = ThreadLocal.withInitial(() => new Deflater(Deflater.DEFAULT_COMPRESSION))
    val pending = mutable.Queue.empty[java.util.concurrent.Future[Array[Byte]]]
    def emit(blockType: String, payload: Pb): Unit = {
      val raw = payload.toArray
      pending += pool.submit(() => Pb.frame(blockType, raw, deflaters.get))
      while (pending.size > 16) out.write(pending.dequeue().get())
    }
    var blocks = 0
    try {
      locally { // OSMHeader
        val h = new Pb(256)
        val bb = new Pb(64)
        bb.sint(1, LonLo * 100); bb.sint(2, LonHi * 100)
        bb.sint(3, LatHi * 100); bb.sint(4, LatLo * 100)
        h.message(1, bb)
        h.string(4, "OsmSchema-V0.6"); h.string(4, "DenseNodes")
        h.string(16, "graft-perfbench")
        emit("OSMHeader", h)
      }
      val scratch = new Pb(1 << 16)
      val block = new Pb(1 << 20)
      val group = new Pb(1 << 20)

      // ---- dense nodes ------------------------------------------------
      var id = 10000000L + rnd.nextInt(1000)
      var lat = LatLo + rnd.nextLong(LatHi - LatLo)
      var lon = LonLo + rnd.nextLong(LonHi - LonLo)
      var ts = 1500000000L; var cs = 40000000L
      val ver = new Array[Long](PerBlock); val tss = new Array[Long](PerBlock)
      val css = new Array[Long](PerBlock); val uids = new Array[Long](PerBlock)
      val sids = new Array[Long](PerBlock); val kv = mutable.ArrayBuilder.make[Long]
      var b0 = 0
      while (b0 < Nodes) {
        val n = math.min(PerBlock, Nodes - b0)
        val strings = new Strings
        kv.clear()
        var anyTags = false
        var i = 0
        while (i < n) {
          val j = b0 + i
          id += 1 + rnd.nextInt(3)
          if (rnd.nextInt(500) == 0) {
            lat = LatLo + rnd.nextLong(LatHi - LatLo)
            lon = LonLo + rnd.nextLong(LonHi - LonLo)
          } else {
            lat = math.min(LatHi, math.max(LatLo, lat + rnd.nextInt(-300, 301)))
            lon = math.min(LonHi, math.max(LonLo, lon + rnd.nextInt(-300, 301)))
          }
          nodeIds(j) = id; nodeLat(j) = lat; nodeLon(j) = lon
          val la = deg(lat); val lo = deg(lon)
          val t = tileId(la, lo)
          tiles(t) = tiles.getOrElse(t, 0L) + 1
          if (bbox.contains(la, lo)) { bboxCount += 1; bboxIdSum += id }
          ts += rnd.nextInt(-100000, 100001); cs += rnd.nextInt(-5000, 5001)
          val uid = rnd.nextInt(2000)
          ver(i) = 1 + rnd.nextInt(5); tss(i) = ts; css(i) = cs; uids(i) = uid
          sids(i) = strings(s"user_$uid")
          var nTags = 0
          if (rnd.nextInt(25) == 0) {
            anyTags = true
            val keys = distinctKeys(rnd, NodeKeys, 1 + rnd.nextInt(3))
            nTags = keys.length
            keys.foreach { k =>
              kv += strings(k).toLong
              kv += strings(s"$k-${rnd.nextInt(40)}").toLong
              countKey("node", k)
            }
          }
          kv += 0L
          if (cut.contains(la, lo)) {
            cutCount += 1; cutIdSum += id; cutLatSum += lat; cutLonSum += lon
            cutTags += nTags
          }
          i += 1
        }
        val dense = new Pb(1 << 18)
        dense.packed(1, java.util.Arrays.copyOfRange(nodeIds, b0, b0 + n), n, zigzag = true, delta = true, scratch)
        val info = new Pb(1 << 16)
        info.packed(1, ver, n, zigzag = false, delta = false, scratch)
        info.packed(2, tss, n, zigzag = true, delta = true, scratch)
        info.packed(3, css, n, zigzag = true, delta = true, scratch)
        info.packed(4, uids, n, zigzag = true, delta = true, scratch)
        info.packed(5, sids, n, zigzag = true, delta = true, scratch)
        dense.message(5, info)
        dense.packed(8, java.util.Arrays.copyOfRange(nodeLat, b0, b0 + n), n, zigzag = true, delta = true, scratch)
        dense.packed(9, java.util.Arrays.copyOfRange(nodeLon, b0, b0 + n), n, zigzag = true, delta = true, scratch)
        if (anyTags) {
          val kvs = kv.result()
          dense.packed(10, kvs, kvs.length, zigzag = false, delta = false, scratch)
        }
        group.reset(); group.message(2, dense)
        block.reset(); strings.write(block); block.message(2, group)
        emit("OSMData", block)
        blocks += 1
        b0 += n
      }

      // ---- ways ---------------------------------------------------------
      val wayIds = new Array[Long](nWays)
      val wayPoints = new Array[Int](nWays)
      val wayMinLat = new Array[Double](nWays)
      val wayMaxLat = new Array[Double](nWays)
      var wid = 100000000L
      val refs = new Array[Long](32)
      def info(m: Pb, strings: Strings): Unit = {
        val uid = rnd.nextInt(2000)
        val inf = new Pb(32)
        inf.uint(1, 1 + rnd.nextInt(5)); inf.uint(2, 1500000000L + rnd.nextInt(100000000))
        inf.uint(3, 40000000L + rnd.nextInt(1000000)); inf.uint(4, uid)
        inf.uint(5, strings(s"user_$uid"))
        m.message(4, inf)
      }
      def tagFields(m: Pb, strings: Strings, kind: String, keys: Array[String]): Unit = {
        val ks = keys.map(k => strings(k).toLong)
        val vs = keys.map(k => strings(s"$k-${rnd.nextInt(40)}").toLong)
        keys.foreach(countKey(kind, _))
        m.packed(2, ks, ks.length, zigzag = false, delta = false, scratch)
        m.packed(3, vs, vs.length, zigzag = false, delta = false, scratch)
      }
      b0 = 0
      while (b0 < nWays) {
        val n = math.min(PerBlock, nWays - b0)
        val strings = new Strings
        group.reset()
        var i = 0
        while (i < n) {
          val j = b0 + i
          wid += 1 + rnd.nextInt(4)
          val len = 2 + rnd.nextInt(15)
          val s = rnd.nextInt(Nodes - 32)
          var k = 0
          var mn = Double.MaxValue; var mx = -Double.MaxValue
          while (k < len) {
            refs(k) = nodeIds(s + k)
            val la = deg(nodeLat(s + k))
            if (la < mn) mn = la
            if (la > mx) mx = la
            k += 1
          }
          val closed = rnd.nextInt(7) == 0
          if (closed) refs(len) = refs(0)
          val total = if (closed) len + 1 else len
          wayIds(j) = wid; wayPoints(j) = total; wayMinLat(j) = mn; wayMaxLat(j) = mx
          val w = new Pb(256)
          w.uint(1, wid)
          tagFields(w, strings, "way", distinctKeys(rnd, WayKeys, 1 + rnd.nextInt(3)))
          info(w, strings)
          w.packed(8, refs, total, zigzag = true, delta = true, scratch)
          group.message(3, w)
          i += 1
        }
        block.reset(); strings.write(block); block.message(2, group)
        emit("OSMData", block)
        blocks += 1
        b0 += n
      }

      // ---- relations ----------------------------------------------------
      val relIds = new Array[Long](nRels)
      var rid = 5000000L
      val memIds = new Array[Long](16); val roles = new Array[Long](16)
      val types = new Array[Long](16)
      b0 = 0
      while (b0 < nRels) {
        val n = math.min(PerBlock, nRels - b0)
        val strings = new Strings
        group.reset()
        var i = 0
        while (i < n) {
          rid += 1 + rnd.nextInt(4)
          relIds(b0 + i) = rid
          val m = 2 + rnd.nextInt(9)
          var k = 0
          while (k < m) {
            val r = rnd.nextInt(20)
            if (r < 16) { types(k) = 1; memIds(k) = wayIds(rnd.nextInt(nWays)) }
            else if (r < 19) { types(k) = 0; memIds(k) = nodeIds(rnd.nextInt(Nodes)) }
            else { types(k) = 2; memIds(k) = if (b0 + i > 0) relIds(rnd.nextInt(b0 + i)) else rid }
            roles(k) = strings(Roles(rnd.nextInt(Roles.length)))
            k += 1
          }
          val rel = new Pb(256)
          rel.uint(1, rid)
          tagFields(rel, strings, "relation", distinctKeys(rnd, RelKeys, 1 + rnd.nextInt(3)))
          info(rel, strings)
          rel.packed(8, roles, m, zigzag = false, delta = false, scratch)
          rel.packed(9, memIds, m, zigzag = true, delta = true, scratch)
          rel.packed(10, types, m, zigzag = false, delta = false, scratch)
          group.message(4, rel)
          i += 1
        }
        block.reset(); strings.write(block); block.message(2, group)
        emit("OSMData", block)
        blocks += 1
        b0 += n
      }

      def stats(ids: Array[Long]) = KindStats(ids.length.toLong, ids.sum, ids.min, ids.max)
      while (pending.nonEmpty) out.write(pending.dequeue().get())
      out.flush()
      OsmExpected(
        kinds = Map("node" -> stats(nodeIds), "way" -> stats(wayIds),
          "relation" -> stats(relIds)),
        tiles = tiles.toMap, bbox = bbox, bboxCount = bboxCount, bboxIdSum = bboxIdSum,
        wayIds = wayIds, wayPoints = wayPoints, wayMinLat = wayMinLat,
        wayMaxLat = wayMaxLat, tagKeys = tagKeys.toMap, cut = cut,
        cutStats = CutStats(cutCount, cutIdSum, cutLatSum, cutLonSum, cutTags),
        fileBytes = new java.io.File(path).length, blocks = blocks)
    } finally {
      out.close()
      pool.shutdownNow()
    }
  }

  def save(e: OsmExpected, path: String): Unit = {
    val o = new java.io.ObjectOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try o.writeObject(e) finally o.close()
  }

  def load(path: String): OsmExpected = {
    val in = new java.io.ObjectInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(path)))
    try in.readObject().asInstanceOf[OsmExpected] finally in.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(seed, pbf, expected) = args
    val t0 = System.nanoTime()
    val tmp = pbf + ".tmp"
    val e = generate(seed.toLong, tmp)
    save(e, expected)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(pbf),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(f"osm_extract seed=$seed: ${e.entities} entities, ${e.blocks} blocks, " +
      f"${e.fileBytes / 1e6}%.1f MB in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
