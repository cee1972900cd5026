package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The benchmark's measuring process: one local Spark session with a
  * fixed number of task slots, one client running operations one after
  * another (a closed loop). A run is a set-up phase ending with one
  * untimed cold round at full scale, [[WarmRounds]] - 1 further untimed
  * rounds, then a fixed number of timed rounds of the same operations:
  * `--seconds` / [[NominalRoundS]], at least [[MinRounds]]. The rounds
  * keep getting faster for several rounds after the cold one (JIT of
  * Catalyst and of graft's kernels), so the timed rounds start past the
  * steepest part of that curve, and every run times the same rounds,
  * whatever their duration on the host at hand, rather than as many as
  * fit in a time.
  *
  * With `--trace 0` it writes the end-to-end metrics (medians over the
  * timed rounds); with `--trace 1` it records spans, runs the PBF decode
  * ladder and one traced round of the other workloads, and writes the
  * per-layer metrics. Inputs are generated beforehand (run.py).
  */
object Harness {
  val MinRounds = 3
  /** untimed rounds before the timed ones, the cold round included */
  val WarmRounds = 2
  /** `--seconds` buys one timed round per this many seconds */
  val NominalRoundS = 4
  /** no new timed round starts once this much of the run has passed */
  val BudgetS = 90.0

  /** task slots of the local session: two, so that on a 4-vCPU host the
    * driver thread, the JIT compiler and GC threads do not contend with
    * the tasks (with four slots, `entries` rounds ran slower and spread
    * wider between runs) */
  val Slots: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  final case class Args(workload: String, seconds: Int, trace: Boolean,
      work: String, out: String, osm: Option[String], osmExpected: Option[String],
      tables: Option[String])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seconds").toInt, kv("trace") == "1", kv("work"), kv("out"),
      kv.get("osm"), kv.get("osm-expected"), kv.get("tables"))
  }

  /** One round's figures. */
  final case class Round(index: Int, seconds: Double, endMs: Long, opSeconds: Map[String, Double],
      ops: Map[String, OpStats], idleMs: Long, memoBuilds: Seq[String],
      foreignHits: Seq[String]) {
    def total(f: OpStats => Double): Double = ops.values.map(f).sum
    def cpuS: Double = total(_.taskCpuNs / 1e9)
    def shuffleMb: Double = total(_.shuffleWriteB / 1e6)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer(a.trace)
    val spark = session(a)
    val sessionReadyMs = System.currentTimeMillis()
    val tel = new Telemetry(spark, tracer)
    tel.install()
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    val made = ArrayBuffer.empty[Workload]
    def make(name: String): Workload = {
      val w = name match {
        case "osm_extract" =>
          new OsmWorkload(spark, a.osm.get, OsmGen.load(a.osmExpected.get), s"${a.work}/osm")
        case other => new EntryWorkload(spark, other, a.tables.get, s"${a.work}/$other")
      }
      made += w
      w
    }

    val allRounds = ArrayBuffer.empty[(String, Round)]
    def runRound(w: Workload, k: Int, parent: Int): Round = {
      w.prepare(k)
      val key = s"${w.name}/r$k/"
      val results = mutable.LinkedHashMap.empty[String, Any]
      val windows = ArrayBuffer.empty[(String, Long, Long)]
      val opSeconds = mutable.LinkedHashMap.empty[String, Double]
      val seconds = tracer.span(parent, s"round $k") { rs =>
        val t0 = System.nanoTime()
        for (op <- w.ops) {
          attempted += 1
          val startMs = System.currentTimeMillis()
          val s0 = System.nanoTime()
          val r = tracer.span(rs, op)(os => tel.tagged(key + op, os)(Try(w.run(op, k))))
          opSeconds(op) = (System.nanoTime() - s0) / 1e9
          windows += ((key + op, startMs, System.currentTimeMillis()))
          spark.catalog.clearCache()
          r match {
            case Success(v) => results(op) = v
            case Failure(e) =>
              failed += 1
              System.err.println(s"[perfbench] ${w.name} round $k $op failed: $e")
          }
        }
        (System.nanoTime() - t0) / 1e9
      }
      val endMs = System.currentTimeMillis()
      tel.drain()
      val stats = tel.take(key, windows.toSeq).map { case (op, s) => op.stripPrefix(key) -> s } ++
        tel.take(Telemetry.Unattributed, Nil)
      val idle = windows.map { case (op, s, e) =>
        stats.get(op.stripPrefix(key)).map(_.idleMs(s, e)).getOrElse(e - s)
      }.sum
      val builds = MemoProbe.builds()
      val hits = graft.MemoLedger.drainForeignHits()
      if (hits.nonEmpty)
        errors += s"${w.name} round $k consumed memos it did not build: ${hits.mkString(",")}"
      for ((op, v) <- results) errors ++= w.check(op, v).map(e => s"${w.name} round $k: $e")
      errors ++= w.crossCheck(results.toMap).map(e => s"${w.name} round $k: $e")
      System.gc()
      val round = Round(k, seconds, endMs, opSeconds.toMap, stats, idle, builds, hits)
      allRounds += w.name -> round
      round
    }

    /** The cold round, the other `warmRounds` - 1 untimed rounds, then
      * `rounds` timed rounds; returns (cold, timed). */
    def protocol(w: Workload, parent: Int, warmRounds: Int, rounds: Int): (Round, Seq[Round]) = {
      graft.MemoLedger.drainForeignHits()
      val cold = runRound(w, 0, parent)
      (1 until warmRounds).foreach(k => runRound(w, k, parent))
      val timed = ArrayBuffer.empty[Round]
      def sinceStart = (System.currentTimeMillis() - processStartMs) / 1e3
      while (timed.isEmpty || timed.size < rounds && sinceStart < BudgetS)
        timed += runRound(w, warmRounds + timed.size, parent)
      timed.foreach { r =>
        if (r.memoBuilds.sorted != cold.memoBuilds.sorted)
          errors += s"${w.name} round ${r.index} built memos ${r.memoBuilds.mkString(",")} " +
            s"but the cold round built ${cold.memoBuilds.mkString(",")}"
      }
      (cold, timed.toSeq)
    }

    val main = make(a.workload)
    val rootSpan = tracer.newId()
    val rootStartUs = tracer.nowUs
    val (cold, timed) =
      protocol(main, rootSpan, WarmRounds, math.max(MinRounds, a.seconds / NominalRoundS))
    val setupS = (cold.endMs - processStartMs) / 1e3
    tracer.record(rootSpan, 0, s"workload ${a.workload}", rootStartUs, tracer.nowUs)
    def med(f: Round => Double): Double = DecodeLadder.median(timed.map(f))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("round_s", med(_.seconds), "s"),
        ("cpu_s", med(_.cpuS), "s"),
        ("shuffle_mb", med(_.shuffleMb), "MB"))
      else {
        val layers = ArrayBuffer.empty[(String, Double, String)]
        def opMetrics(rounds: Seq[Round], ops: Seq[String]): Unit = ops.foreach { op =>
          layers += ((s"op.$op.s", DecodeLadder.median(rounds.map(_.opSeconds.getOrElse(op, 0.0))), "s"))
          layers += ((s"op.$op.cpu_s",
            DecodeLadder.median(rounds.map(_.ops.get(op).map(_.taskCpuNs / 1e9).getOrElse(0.0))), "s"))
        }
        opMetrics(timed, main.ops)
        val perRound = Seq[(String, Round => Double, String)](
          ("spark.plan_ms", _.total(_.planMs), "ms"),
          ("spark.jobs", _.total(_.jobs.toDouble), "count"),
          ("spark.stages", _.total(_.stages.toDouble), "count"),
          ("spark.tasks", _.total(_.tasks.toDouble), "count"),
          ("spark.idle_ms", _.idleMs.toDouble, "ms"),
          ("spark.scheduler_delay_ms", _.total(_.schedulerDelayMs.toDouble), "ms"),
          ("spark.task_run_ms", _.total(_.taskRunMs.toDouble), "ms"),
          ("spark.task_cpu_ms", _.total(_.taskCpuNs / 1e6), "ms"),
          ("spark.gc_ms", _.total(_.gcMs.toDouble), "ms"),
          ("spark.shuffle_read_mb", _.total(_.shuffleReadB / 1e6), "MB"),
          ("spark.spill_mb", _.total(_.spillB / 1e6), "MB"),
          ("memo.builds", _.memoBuilds.size.toDouble, "count"),
          ("memo.foreign_hits", _.foreignHits.size.toDouble, "count"))
        perRound.foreach { case (n, f, u) => layers += ((n, med(f), u)) }
        // every other workload: one cold and one traced round, so that
        // each traced run measures every operation's per-layer figures
        Workload.names.filterNot(_ == a.workload).foreach { other =>
          val span = tracer.newId()
          val s0 = tracer.nowUs
          val (_, rounds) = protocol(make(other), span, 1, 1)
          tracer.record(span, 0, s"workload $other", s0, tracer.nowUs)
          opMetrics(rounds, Workload.opsOf(other))
        }
        val pbf = a.osm.get
        val cut = OsmGen.load(a.osmExpected.get)
        val pbfLayer = tracer.span(0, "decode ladder")(sp => DecodeLadder.pbf(pbf, tracer, sp))
        if (pbfLayer("pbf.entities") != cut.entities.toDouble)
          errors += s"decode ladder decoded ${pbfLayer("pbf.entities")} entities, " +
            s"the generator wrote ${cut.entities}"
        val dsv2 = tracer.span(0, "osmpbf scans")(sp =>
          DecodeLadder.osmpbf(spark, pbf, cut.cut, a.work, tracer, sp))
        val units = Map("blocks" -> "count", "entities" -> "count", "partitions" -> "count")
        (pbfLayer ++ dsv2).toSeq.sortBy(_._1).foreach { case (n, v) =>
          val suffix = n.split('.').last
          layers += ((n, v, units.getOrElse(suffix,
            if (suffix.endsWith("_mb")) "MB" else "ms")))
        }
        tracer.writeJson(s"${a.work}/trace.json")
        layers.toSeq
      }

    val outputs = made.toSeq.flatMap(_.outputs).map(o => Json.obj(Seq("op" -> Json.str(o.op),
      "entry" -> Json.str(o.entry), "path" -> Json.str(o.path), "oracle" -> Json.str(o.oracle))))
    val result = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> Json.arr(errors.toSeq.map(Json.str)),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "session_s" -> Json.num((sessionReadyMs - processStartMs) / 1e3),
      "rounds" -> Json.arr(allRounds.toSeq.map { case (wn, r) => Json.obj(Seq(
        "workload" -> Json.str(wn), "round" -> r.index.toString,
        "round_s" -> Json.num(r.seconds), "cpu_s" -> Json.num(r.cpuS),
        "shuffle_mb" -> Json.num(r.shuffleMb),
        "ops" -> Json.obj(r.opSeconds.toSeq.map { case (k, v) => k -> Json.num(v) }))) }),
      "outputs" -> Json.arr(outputs)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), result)
    spark.stop()
  }

}
