package graft.sources.osmpbf

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.pbf.EntityKind

/** Scan planning: column pruning + `type` filter pushdown + byte-range
  * partitioning.
  *
  * Pruning maps directly to decode-work savings in the reader (skip tag
  * assembly / info decode / member resolution), the Spark-native analogue
  * of what the reference could never do (SURVEY §4: always decodes
  * everything, OsmPbfRecordReader.java:242-262).
  */
class OsmPbfScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private val parseType = options.getOrDefault("parseType", "all").toLowerCase
  private var requiredSchema: StructType = fullSchema
  private var pushedKinds: Set[EntityKind.Value] = kindsFor(parseType)
  private var pushed: Array[Filter] = Array.empty
  private var queryBounds: QueryBounds = QueryBounds()
  private var pushedAggs: Seq[String] = Nil

  /** Ungrouped COUNT(*) / MIN(id) / MAX(id) (any combination) are
    * answered by the scan in one ids-only pass: counts never decode ids
    * at all (varint terminations), min/max walk the delta chains but
    * skip lat/lon/strings/tags. Per-partition partials; Spark runs the
    * final merge. Spark only attempts this when every filter was
    * pushed, so the result covers exactly the rows the scan would
    * produce.
    */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def isId(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case nr: NamedReference => nr.fieldNames.toSeq == Seq("id")
        case _ => false
      }
    if (aggregation.groupByExpressions.nonEmpty) return false
    val parsed = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some("count")
      case m: Min if isId(m.column) => Some("min")
      case m: Max if isId(m.column) => Some("max")
      case _ => None
    }
    if (parsed.isEmpty || parsed.exists(_.isEmpty)) false
    else {
      pushedAggs = parsed.flatten
      true
    }
  }

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false // per-partition partial counts; Spark runs the final sum

  private var pushedLimit = -1

  /** Per-partition row cap: a LIMIT n exploration query stops decoding
    * after n records in each byte range instead of scanning it fully.
    * Partial pushdown (the default `isPartiallyPushed`) — Spark keeps
    * the global limit on top.
    */
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = limit
    true
  }

  private def kindsFor(tpe: String): Set[EntityKind.Value] = tpe match {
    case "node" => Set(EntityKind.Node)
    case "way" => Set(EntityKind.Way)
    case "relation" => Set(EntityKind.Relation)
    case "changeset" => Set(EntityKind.ChangeSet)
    case _ => Set(EntityKind.Node, EntityKind.Way, EntityKind.Relation)
  }

  override def pruneColumns(required: StructType): Unit = {
    // preserve scan-side field order regardless of projection order;
    // requested metadata columns (SupportsMetadataColumns) ride at the end
    val names = required.fieldNames.toSet
    requiredSchema = StructType(
      fullSchema.fields.filter(f => names(f.name)) ++
        OsmPbfMetadataColumns.fields.fields.filter(f => names(f.name)))
  }

  /** In `all` mode, `type = 'way'` / `type IN (...)` prunes whole primitive
    * groups before any decode — the scan-time entity selection of SURVEY
    * §2.1 #10, expressed through the standard DSv2 pushdown interface.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // lat/lon bounds are harvested for HEADER-BBOX FILE PRUNING but
    // intentionally NOT accepted (Spark keeps applying them row-wise):
    // the bbox only tells us which whole files cannot contribute —
    // the osmpbf analogue of parquet min/max pruning
    queryBounds = QueryBounds.fromFilters(filters)
    if (parseType != "all") { pushed = Array.empty; return filters }
    val (accepted, rejected) = filters.partition {
      case EqualTo("type", v: String) => kindOf(v).isDefined
      case In("type", vs) => vs.forall(v => kindOf(String.valueOf(v)).isDefined)
      case IsNotNull("type") => true
      case _ => false
    }
    val kindFilters = accepted.collect {
      case EqualTo("type", v: String) => Set(kindOf(v).get)
      case In("type", vs) => vs.map(v => kindOf(String.valueOf(v)).get).toSet
    }
    if (kindFilters.nonEmpty)
      pushedKinds = kindFilters.reduce(_ intersect _)
    pushed = accepted
    rejected
  }

  private def kindOf(v: String): Option[EntityKind.Value] = v match {
    case "node" => Some(EntityKind.Node)
    case "way" => Some(EntityKind.Way)
    case "relation" => Some(EntityKind.Relation)
    case _ => None
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new OsmPbfScan(
      if (pushedAggs.nonEmpty) OsmPbfScan.aggSchema(pushedAggs) else requiredSchema,
      parseType, pushedKinds, options, queryBounds, pushedAggs,
      if (pushedAggs.nonEmpty) -1 else pushedLimit)
}

/** Conjunctive lat/lon bounds extracted from top-level query filters.
  * None = unbounded on that side. Used ONLY to prune whole files via
  * their OSMHeader bbox — never trusted for row-level filtering.
  */
final case class QueryBounds(
    latMin: Option[Double] = None, latMax: Option[Double] = None,
    lonMin: Option[Double] = None, lonMax: Option[Double] = None) {

  def isUnbounded: Boolean =
    latMin.isEmpty && latMax.isEmpty && lonMin.isEmpty && lonMax.isEmpty

  /** Can a file with header bbox (left, bottom, right, top) contain any
    * row satisfying the bounds? Conservative: unknown sides pass, and a
    * wraparound bbox (left > right, an extract crossing the
    * antimeridian) is never used to prune.
    */
  def intersects(bbox: (Double, Double, Double, Double)): Boolean = {
    val (left, bottom, right, top) = bbox
    val latOk = latMin.forall(_ <= top) && latMax.forall(_ >= bottom)
    val lonOk = left > right || // antimeridian wrap: keep
      (lonMin.forall(_ <= right) && lonMax.forall(_ >= left))
    latOk && lonOk
  }

  override def toString: String =
    s"lat[${latMin.getOrElse("-inf")},${latMax.getOrElse("inf")}] " +
      s"lon[${lonMin.getOrElse("-inf")},${lonMax.getOrElse("inf")}]"
}

object QueryBounds {
  def fromFilters(filters: Array[Filter]): QueryBounds = {
    var b = QueryBounds()
    def num(v: Any): Option[Double] = v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble)
      case l: Long => Some(l.toDouble)
      case d: java.math.BigDecimal => Some(d.doubleValue())
      case _ => None
    }
    def tightenMin(cur: Option[Double], v: Double): Option[Double] =
      Some(cur.fold(v)(math.max(_, v)))
    def tightenMax(cur: Option[Double], v: Double): Option[Double] =
      Some(cur.fold(v)(math.min(_, v)))
    filters.foreach {
      case GreaterThan("lat", v) => num(v).foreach(d => b = b.copy(latMin = tightenMin(b.latMin, d)))
      case GreaterThanOrEqual("lat", v) => num(v).foreach(d => b = b.copy(latMin = tightenMin(b.latMin, d)))
      case LessThan("lat", v) => num(v).foreach(d => b = b.copy(latMax = tightenMax(b.latMax, d)))
      case LessThanOrEqual("lat", v) => num(v).foreach(d => b = b.copy(latMax = tightenMax(b.latMax, d)))
      case EqualTo("lat", v) => num(v).foreach(d => b = b.copy(
        latMin = tightenMin(b.latMin, d), latMax = tightenMax(b.latMax, d)))
      case GreaterThan("lon", v) => num(v).foreach(d => b = b.copy(lonMin = tightenMin(b.lonMin, d)))
      case GreaterThanOrEqual("lon", v) => num(v).foreach(d => b = b.copy(lonMin = tightenMin(b.lonMin, d)))
      case LessThan("lon", v) => num(v).foreach(d => b = b.copy(lonMax = tightenMax(b.lonMax, d)))
      case LessThanOrEqual("lon", v) => num(v).foreach(d => b = b.copy(lonMax = tightenMax(b.lonMax, d)))
      case EqualTo("lon", v) => num(v).foreach(d => b = b.copy(
        lonMin = tightenMin(b.lonMin, d), lonMax = tightenMax(b.lonMax, d)))
      case _ => ()
    }
    b
  }
}

final case class OsmPbfInputPartition(
    filePath: String,
    start: Long,
    end: Long) extends InputPartition

object OsmPbfScan {
  /** Output schema of a pushed aggregation: one partial row per
    * partition (counts non-null, min/max nullable for empty ranges),
    * merged by Spark's final aggregate.
    */
  def aggSchema(aggs: Seq[String]): StructType = StructType(aggs.map {
    case "count" => org.apache.spark.sql.types.StructField(
      "count(*)", org.apache.spark.sql.types.LongType, nullable = false)
    case "min" => org.apache.spark.sql.types.StructField(
      "min(id)", org.apache.spark.sql.types.LongType, nullable = true)
    case "max" => org.apache.spark.sql.types.StructField(
      "max(id)", org.apache.spark.sql.types.LongType, nullable = true)
  })

  /** Byte ranges of `files` ((path, length) pairs), sized by Spark's own
    * bytes-per-core rule for file sources:
    *
    * `splitBytes = min(maxPartitionBytes, max(openCostInBytes,
    *   Σ(length + openCostInBytes) / minPartitionNum))`
    *
    * from `spark.sql.files.maxPartitionBytes` (default 128 MB),
    * `spark.sql.files.openCostInBytes` (default 4 MB) and
    * `spark.sql.files.minPartitionNum` (default: the session's default
    * parallelism), so a file smaller than 128 MB is still read on every
    * task slot. Each file is cut into `ceil(length / splitBytes)` ranges
    * of equal length (within one byte), not full ranges plus a
    * remainder: the slowest range sets the scan's time. Block
    * realignment inside each range keeps any boundary correct. Files
    * never share a range, and (unless `maxPartitionBytes` is set below
    * it) a file no larger than `openCostInBytes` stays one range.
    * Setting `minPartitionNum` to 1 with a `maxPartitionBytes` above the
    * file's length reads it as one range.
    */
  def splitFiles(spark: SparkSession, files: Seq[(String, Long)]): Seq[OsmPbfInputPartition] = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPartitions = conf.filesMinPartitionNum.getOrElse(
      spark.conf.getOption("spark.sql.leafNodeDefaultParallelism").map(_.toInt)
        .getOrElse(spark.sparkContext.defaultParallelism))
    val totalBytes = files.map(_._2 + openCost).sum
    val splitBytes = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, totalBytes / math.max(1, minPartitions)))
    files.flatMap { case (path, len) =>
      val n = math.max(1L, (len + splitBytes - 1) / splitBytes)
      val base = len / n
      val extra = len % n // the first `extra` ranges are one byte longer
      (0L until n).map { i =>
        val start = i * base + math.min(i, extra)
        OsmPbfInputPartition(path, start, start + base + (if (i < extra) 1 else 0))
      }
    }
  }

  /** Corrupt-block policy, same contract as Spark's json/csv sources:
    * PERMISSIVE skips undecodable blocks (with a stderr note), FAILFAST
    * (default) fails the task.
    */
  def isPermissive(options: CaseInsensitiveStringMap): Boolean =
    options.getOrDefault("mode", "FAILFAST").toUpperCase match {
      case "PERMISSIVE" => true
      case "FAILFAST" => false
      case other => throw new IllegalArgumentException(
        s"osmpbf mode must be PERMISSIVE|FAILFAST, got '$other'")
    }
}

class OsmPbfScan(
    requiredSchema: StructType,
    parseType: String,
    kinds: Set[EntityKind.Value],
    options: CaseInsensitiveStringMap,
    bounds: QueryBounds = QueryBounds(),
    pushedAggs: Seq[String] = Nil,
    limit: Int = -1) extends Scan with Batch {

  private def aggOnly: Boolean = pushedAggs.nonEmpty

  override def readSchema(): StructType = requiredSchema

  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new OsmPbfMicroBatchStream(requiredSchema, kinds, options,
      checkpointLocation)

  override def description(): String = {
    val pruning = options.getBoolean("bboxPruning", false) && !bounds.isUnbounded
    s"OsmPbfScan(parseType=$parseType, kinds=${kinds.mkString("+")}, " +
      s"columns=${requiredSchema.fieldNames.mkString(",")}" +
      (if (aggOnly) s", pushedAggregation=${requiredSchema.fieldNames.mkString(",")}" else "") +
      (if (limit >= 0) s", pushedLimit=$limit" else "") +
      (if (pruning) s", bboxPrune=$bounds)" else ")")
  }

  /** Driver-side split planning: byte ranges per file, sized by
    * [[OsmPbfScan.splitFiles]] — the Spark-native equivalent of
    * FileInputFormat.getSplits (SURVEY §3 stage 2).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val hadoopConf = spark.sessionState.newHadoopConf()
    val paths = resolvePaths(options, hadoopConf)
    // one ~KB header read per file on the driver, serving two jobs:
    //  - fail at planning time (not per-task) on files whose OSMHeader
    //    requires a feature this reader does not implement
    //  - HEADER-BBOX FILE PRUNING (OPT-IN, `bboxPruning=true`): skip
    //    whole files whose declared bbox cannot intersect the query's
    //    lat/lon bounds. Opt-in because the header bbox is ADVISORY —
    //    unlike parquet min/max stats it is not computed from the data,
    //    and real extracts (complete-ways cuts; even the upstream
    //    sample.pbf) legitimately carry entities outside it. Enable it
    //    for directories of extracts whose bboxes are known-true
    //    envelopes. Files without a header/bbox, with a wraparound
    //    bbox, or with an unreadable header are conservatively kept.
    val validate = options.getBoolean("validateHeader", true)
    val prune = options.getBoolean("bboxPruning", false) && !bounds.isUnbounded
    def keep(path: String): Boolean = {
      val in = new HadoopRangeReader(new Path(path), hadoopConf)
      val header =
        try {
          if (validate) graft.pbf.PbfScanner.validateHeader(in, path)
          else // opt-out of validation: a bad header must not break
               // planning just because bbox pruning wants a peek
            scala.util.Try(graft.pbf.PbfScanner.readHeader(in))
              .toOption.flatten
        } finally in.close()
      !prune || header.flatMap(_.bbox).forall(bounds.intersects)
    }
    val pruned =
      if (!validate && !prune) paths
      else if (paths.sizeIs <= 1) paths.filter(p => keep(p._1))
      else {
        // each header peek is an independent open+read round-trip; on a
        // directory of thousands of object-store files a sequential loop
        // stalls planning for minutes, so fan out on a bounded pool (the
        // same move Spark's InMemoryFileIndex makes for listing) —
        // validation failures still propagate and fail planning
        import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
        import scala.concurrent.duration._
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, paths.size))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          val decided = paths.map { case p @ (path, _) =>
            Future { (p, keep(path)) }
          }
          // bounded wait: one wedged object-store read must FAIL planning
          // with a clear message, not hang the driver forever holding up
          // to 16 open readers (Duration.Inf would)
          try Await.result(Future.sequence(decided), 300.seconds)
            .collect { case (p, true) => p }
          catch {
            case _: TimeoutException => throw new java.io.IOException(
              s"osmpbf header peek over ${paths.size} files did not " +
                "complete within 300s - a reader is likely wedged; retry, " +
                "or disable the peek (validate=false and no bbox filter) " +
                "to plan without reading headers")
          }
        } finally pool.shutdown()
      }
    val parts = ArrayBuffer.empty[InputPartition]
    parts ++= OsmPbfScan.splitFiles(spark, pruned)
    // pushed partial COUNT(*): Spark's final aggregate is a Sum over the
    // partition counts, and a sum over ZERO rows is NULL — an empty
    // directory must still produce one zero-count row to keep count()=0
    // (min/max stay NULL on that placeholder, which IS their semantics)
    if (aggOnly && parts.isEmpty)
      parts += OsmPbfInputPartition("", 0, 0)
    parts.toArray
  }

  private def resolvePaths(
      options: CaseInsensitiveStringMap,
      conf: Configuration): Seq[(String, Long)] = {
    val raw = Option(options.get("paths"))
      .map(parseJsonStringArray)
      .getOrElse(Option(options.get("path")).toSeq)
    require(raw.nonEmpty, "osmpbf: no path specified")
    raw.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      val expanded =
        if (matched.isEmpty) Seq(fs.getFileStatus(hp))
        else matched.flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      // skip hidden files (`.`/`_` prefixes — Spark's own file-index
      // convention): the write side's in-flight `.<name>.inprogress`
      // temps and checkpoint metadata must never reach the decoder
      expanded.filter(st => st.isFile && st.getLen > 0 &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
        .map(st => (st.getPath.toString, st.getLen))
    }
  }

  /** DataFrameReader encodes multiple paths as a JSON string array — a
    * real JSON parse (jackson, already on Spark's classpath), so paths
    * containing commas or quotes survive.
    */
  private def parseJsonStringArray(s: String): Seq[String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    require(node.isArray, s"osmpbf: 'paths' must be a JSON array, got: $s")
    val b = scala.collection.mutable.ArrayBuffer.empty[String]
    node.elements().forEachRemaining(e => b += e.asText())
    b.toSeq
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val permissive = OsmPbfScan.isPermissive(options)
    // permissive data loss must be queryable, not just logged: bind the
    // session's skipped/truncated-block accumulators (Spark UI: named
    // accumulators graft.osmpbf.*)
    val skips =
      if (permissive) OsmPbfSkipMetrics.registered(spark)
      else graft.pbf.SkipListener.Logging
    if (aggOnly)
      new OsmPbfAggReaderFactory(pushedAggs, kinds, conf, permissive, skips)
    else
      new OsmPbfPartitionReaderFactory(requiredSchema, kinds, conf,
        permissive, skips, limit)
  }
}
