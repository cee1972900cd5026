package perfbench

/** The `osm_extract` checks. Each compares one operation's result with
  * the generator's own figures and returns the differences it finds
  * (at most [[MaxReported]] per check); an empty result means correct.
  */
object OsmChecks {
  val MaxReported = 5

  private def diffMaps[K, V](what: String, want: Map[K, V], got: Map[K, V]): Seq[String] = {
    val missing = want.keysIterator.filterNot(got.contains).map(k => s"$what: missing $k")
    val extra = got.keysIterator.filterNot(want.contains).map(k => s"$what: unexpected $k")
    val wrong = want.iterator.collect {
      case (k, v) if got.get(k).exists(_ != v) => s"$what: $k is ${got(k)}, expected $v"
    }
    (missing ++ extra ++ wrong).take(MaxReported).toSeq
  }

  private def same(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")

  def check(e: OsmExpected, op: String, result: Any): Seq[String] = (op, result) match {
    case ("tiles", got: Map[Long, Long] @unchecked) =>
      diffMaps("tiles", e.tiles, got) ++
        same("tiles: sum of tile counts", got.values.sum, e.kinds("node").count)
    case ("bbox", got) =>
      same("bbox (count, id sum)", got, (e.bboxCount, e.bboxIdSum))
    case ("way_geometry", got: Map[Long, (Long, Double, Double)] @unchecked) =>
      val want = e.wayIds.indices.iterator.map { i =>
        e.wayIds(i) -> ((e.wayPoints(i).toLong, e.wayMinLat(i), e.wayMaxLat(i)))
      }.toMap
      diffMaps("way_geometry (points, min lat, max lat)", want, got)
    case ("tag_keys", got: Map[(String, String), Long] @unchecked) =>
      diffMaps("tag_keys", e.tagKeys, got)
    case ("kind_stats", got: Map[String, KindStats] @unchecked) =>
      diffMaps("kind_stats", e.kinds, got)
    case ("id_pushdown", got) =>
      val k = e.kinds.values
      same("id_pushdown (count, min id, max id)", got,
        (e.entities, k.map(_.minId).min, k.map(_.maxId).max))
    case ("cut_roundtrip", got) =>
      same("cut_roundtrip", got, e.cutStats)
    case _ => Seq(s"$op: unexpected result ${String.valueOf(result).take(80)}")
  }

  /** Properties reached by independent paths within one round: the
    * pushed COUNT/MIN/MAX equals the same figures over the decoded rows,
    * and the tile counts sum to the decoded node count.
    */
  def cross(results: Map[String, Any]): Seq[String] = {
    val kinds = results.get("kind_stats").collect { case m: Map[String, KindStats] @unchecked => m }
    val pushed = results.get("id_pushdown").collect { case t: (Long, Long, Long) @unchecked => t }
    val tiles = results.get("tiles").collect { case m: Map[Long, Long] @unchecked => m }
    val a = for (k <- kinds.toSeq; p <- pushed.toSeq; if k.nonEmpty) yield
      same("pushed (count, min, max) vs decoded rows", p,
        (k.values.map(_.count).sum, k.values.map(_.minId).min, k.values.map(_.maxId).max))
    val b = for (k <- kinds.toSeq; t <- tiles.toSeq) yield
      same("tile counts vs decoded node count", t.values.sum, k.get("node").map(_.count).getOrElse(0L))
    (a ++ b).flatten
  }
}
