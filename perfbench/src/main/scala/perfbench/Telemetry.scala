package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: name, start and end (epoch microseconds) and the
  * span that caused it (0 for a root).
  */
final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)

/** In-memory span store, written out once when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  def record(id: Int, parent: Int, name: String, startUs: Long, endUs: Long): Unit =
    if (enabled) synchronized { spans += Span(id, parent, name, startUs, endUs) }

  /** Run `body` inside a new span; `body` gets the span's id. */
  def span[T](parent: Int, name: String)(body: Int => T): T = {
    val id = newId()
    val t0 = nowUs
    try body(id) finally record(id, parent, name, t0, nowUs)
  }

  def all: Seq[Span] = synchronized(spans.sortBy(_.id).toSeq)

  def writeJson(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    sb ++= "\n]\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Spark-side figures of one operation (or of a whole round, summed). */
final class OpStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var planMs = 0.0
  var schedulerDelayMs = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  /** task [launch, finish] intervals, epoch ms */
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [startMs, endMs] in which no task of this op ran. */
  def idleMs(startMs: Long, endMs: Long): Long = {
    var busy = 0L
    var cursor = startMs
    taskIntervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { busy += b - math.max(a, cursor); cursor = b }
      }
    math.max(0L, (endMs - startMs) - busy)
  }
}

/** A SparkListener plus a QueryExecutionListener that attribute every
  * job, stage, task and planned query to the operation that caused it.
  * The harness tags its thread with the local property [[OpKey]] before
  * each operation; jobs inherit it, and stages and tasks follow their
  * job. Planning time comes from `QueryExecution.tracker`, attributed by
  * the time the query's analysis started.
  */
final class Telemetry(spark: SparkSession, tracer: Tracer) extends SparkListener {
  import Telemetry._

  private val byOp = mutable.HashMap.empty[String, OpStats]
  private val stageOp = mutable.HashMap.empty[Int, String]
  /** job id -> (span id, parent span id, start us) */
  private val jobs = mutable.HashMap.empty[Int, (Int, Int, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  /** (start ms, planning ms) of each executed query, attributed later */
  private val plans = ArrayBuffer.empty[(Long, Double)]

  private def stats(op: String): OpStats = byOp.getOrElseUpdate(op, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse(Unattributed)
    val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(0)
    val span = tracer.newId()
    jobs(e.jobId) = (span, parent, e.time * 1000L)
    stats(op).jobs += 1
    e.stageInfos.foreach { s =>
      stageOp.getOrElseUpdate(s.stageId, op)
      stageSpan.getOrElseUpdate(s.stageId, span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (span, parent, startUs) =>
      tracer.record(span, parent, s"job ${e.jobId}", startUs, e.time * 1000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageOp.get(s.stageId).foreach(op => stats(op).stages += 1)
    for (a <- s.submissionTime; b <- s.completionTime)
      tracer.record(tracer.newId(), stageSpan.getOrElse(s.stageId, 0), s"stage ${s.stageId}",
        a * 1000L, b * 1000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stats(stageOp.getOrElse(e.stageId, Unattributed))
    st.tasks += 1
    val info = e.taskInfo
    st.taskIntervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      st.taskRunMs += m.executorRunTime
      st.taskCpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleReadB += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      st.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      st.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      // the Spark UI's definition: task time not spent running,
      // deserializing, serializing the result or fetching it
      val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      st.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch)
    }
  }

  private object QueryListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Telemetry.this.synchronized {
        plans += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum.toDouble))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(QueryListener)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Run `body` as operation `op`: its jobs, stages and tasks are
    * attributed to `op`, and their spans are children of `spanId`.
    */
  def tagged[T](op: String, spanId: Int)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(SpanKey, spanId.toString)
    try body finally {
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(SpanKey, null)
    }
  }

  /** Attribute queued planning times to the operation windows given as
    * (op, start ms, end ms), then return and forget the figures of
    * every op whose key starts with `prefix`.
    */
  def take(prefix: String, windows: Seq[(String, Long, Long)]): Map[String, OpStats] = synchronized {
    val keep = ArrayBuffer.empty[(Long, Double)]
    plans.foreach { case p @ (start, ms) =>
      windows.find { case (_, a, b) => start >= a && start <= b } match {
        case Some((op, _, _)) => stats(op).planMs += ms
        case None => keep += p
      }
    }
    plans.clear(); plans ++= keep
    val out = byOp.filter(_._1.startsWith(prefix)).toMap
    out.keys.foreach(byOp.remove)
    out
  }
}

object Telemetry {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val Unattributed = "(unattributed)"
}

/** Just enough JSON writing for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}
