package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --fixture <dir>`. Prints, as its last stdout line, the
  * JSON result `{"correct", "attempted", "failed", "metrics"}`. */
object Main {
  val Cores = 4
  /** Times each run repeats its workload's `setup`; `setup_s` takes the median. */
  val SetupReps = 3

  case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                  work: File, fixture: File)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1",
      new File(need("work")), new File(need("fixture")))
  }

  /** The one session of a run: `local[4]`, four shuffle partitions, and
    * every scratch path inside the work dir. */
  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "ckpt").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.install(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val t0 = System.nanoTime()
    val spark = session(opts.work)
    val tracer = new Tracer(spark)
    tracer.install()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ops = new Ops
    val w: Workload = opts.workload match {
      case "cdc_replay" => new CdcWorkload(spark, tracer, ops, opts)
      case "curate_daily" => new CurateWorkload(spark, tracer, ops, opts)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupTimes = (1 to SetupReps).map { r =>
      val s0 = System.nanoTime(); w.setup(r); (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(setupTimes) + warmS
    Console.err.println(f"perfbench: session $sessionS%.2f s, set-up reps ${setupTimes.map(x => f"$x%.2f").mkString(" ")}, warm-up $warmS%.2f s")

    Heap.install()
    System.gc()
    Heap.reset()
    val calib = mutable.ArrayBuffer(Calib.run(spark))
    val outs = mutable.ArrayBuffer.empty[OpOut]
    var tracedOut: Option[OpOut] = None
    var tracedWallS = 0.0
    if (!opts.trace) {
      val deadline = System.nanoTime() + opts.seconds * 1000000000L
      do {
        outs += w.op()
        calib += Calib.run(spark)
      } while (System.nanoTime() < deadline)
    } else {
      // the first op in a JVM runs slow; the traced op comes second
      outs += w.op()
      calib += Calib.run(spark)
      tracer.on = true
      val a = System.nanoTime()
      tracedOut = Some(tracer.span(opts.workload, "workload")(w.op()))
      tracedWallS = (System.nanoTime() - a) / 1e9
      tracer.drain()
      tracer.on = false
      calib += Calib.run(spark)
    }
    val peakHeapMb = Heap.peakMb

    val lat = Stats.summarize(outs.flatMap(_.latencyMs).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) Seq(
        ("setup_s", setupS, "s"),
        ("peak_heap_mb", peakHeapMb, "MB"),
        ("op_p50_ms", lat.p50, "ms"),
        ("op_p90_ms", lat.p90, "ms"),
        ("pass_s", Stats.median(outs.map(_.passS).filterNot(_.isNaN).toSeq), "s"),
        ("rerun_s", Stats.median(outs.map(_.rerunS).filterNot(_.isNaN).toSeq), "s"))
      else {
        val t = tracedOut.get
        val base = outs.head
        Layers.complete(Layers.common(tracer, tracedWallS, Cores) ++ w.layerMetrics(t) ++ Seq(
          ("host.calib_ms", Stats.median(calib.toSeq), "ms"),
          // re-runs of both ops run in a warm JVM, so they compare fairly
          ("trace.overhead_share", t.rerunS / base.rerunS - 1, "share")))
      }
    val spans = new File(opts.work, "spans.jsonl")
    if (opts.trace) tracer.writeSpans(spans.toPath)

    // details for a human reader; the result is the last line
    val detail = Seq(
      s""""workload":"${opts.workload}"""", s""""seed":${opts.seed}""",
      s""""ops":${outs.size}""", s""""latency_samples":${lat.n}""",
      s""""p90_flagged":${lat.p90Flagged}""",
      s""""calib_ms":[${calib.map(Json.num).mkString(",")}]""",
      s""""heap_pool_peak_mb":${Json.num(Heap.poolPeakMb)}""",
      s""""errors":[${ops.errors.map(Json.str).mkString(",")}]""") ++ w.detail
    println(s"""PERFBENCH_DETAIL {${detail.mkString(",")}}""")
    ops.errors.foreach(e => Console.err.println(s"perfbench: FAILED $e"))
    spark.stop()
    val m = metrics.map { case (k, v, u) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${ops.failed == 0},"attempted":${ops.attempted},"failed":${ops.failed},"metrics":{${m.mkString(",")}}}""")
  }
}

/** What one measured op of a workload produced. `passS` and `rerunS` are
  * the workload's two pass times; `latencyMs` its per-op samples. */
case class OpOut(passS: Double, rerunS: Double, latencyMs: Seq[Double])

/** A workload's set-up is `setup`, repeated [[Main.SetupReps]] times (the
  * last repetition's state is what the measurement uses), then `warmUp`
  * once: the part too costly to repeat in a run, such as a store build. */
trait Workload {
  def setup(rep: Int): Unit
  def warmUp(): Unit = ()
  def op(): OpOut
  /** Workload-specific per-layer metrics of the traced op. */
  def layerMetrics(traced: OpOut): Seq[(String, Double, String)]
  /** Extra JSON fields for the detail line. */
  def detail: Seq[String] = Nil
}

/** Heap in use over the measurement, sampled right after every garbage
  * collection, which follows what the program keeps alive. The reported
  * peak is the 0.9 quantile of those samples: the single highest one
  * depends on which collection happened to run just before a large
  * release. The pools' own peak (`poolPeakMb`, in the detail line)
  * mostly follows when the collector chose to run. */
object Heap {
  import java.lang.management.ManagementFactory
  import com.sun.management.GarbageCollectionNotificationInfo
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private val poolNames = pools.map(_.getName).toSet
  private val afterGc = mutable.ArrayBuffer.empty[Double]
  private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (p, u) if poolNames(p) => u.getUsed }.sum
              Heap.synchronized(afterGc += used / 1e6)
            }, null, null)
        case _ =>
      }
    }
  }

  def reset(): Unit = synchronized { afterGc.clear(); pools.foreach(_.resetPeakUsage()) }
  def peakMb: Double = synchronized {
    if (afterGc.isEmpty) Double.NaN else Stats.quantile(afterGc.toSeq, 0.9)
  }
  def poolPeakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1e6
}

/** The drift control: a fixed CPU-bound JVM loop plus a fixed tiny
  * Spark job, timed together. It runs before and after each measured
  * op, so a co-tenant spike shows beside the numbers it inflated. */
object Calib {
  @volatile private var sink = 0L
  def run(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    spark.sparkContext.parallelize(1 to 4000, Main.Cores).map(_ * 2L).sum()
    (System.nanoTime() - t0) / 1e6
  }
}

/** Per-layer metrics every workload reports from the tracer's sums. A
  * layer a workload does not touch reads 0. */
object Layers {
  def common(t: Tracer, wallS: Double, cores: Int): Seq[(String, Double, String)] = {
    val sp = t.allSpans
    val ts = t.tasks
    val prog = t.progress.toSeq
    def avgD(k: String) =
      if (prog.isEmpty) 0.0 else prog.map(_.durations.getOrElse(k, 0L)).sum.toDouble / prog.size
    def avg(f: BatchProgress => Double) = if (prog.isEmpty) 0.0 else prog.map(f).sum / prog.size
    val sinkSpans = sp.filter(_.layer == "sink")
    Seq(
      ("ops.build_s", sp.filter(_.layer == "build").map(_.durMs).sum / 1000, "s"),
      ("ops.build_jobs", t.jobsByLayer("build").toDouble, "count"),
      ("catalyst.analysis_ms", t.catalystMs("analysis"), "ms"),
      ("catalyst.optimization_ms", t.catalystMs("optimization"), "ms"),
      ("catalyst.planning_ms", t.catalystMs("planning"), "ms"),
      ("exec.jobs", t.jobs.toDouble, "count"),
      ("exec.stages", t.stages.toDouble, "count"),
      ("exec.tasks", ts.tasks.toDouble, "count"),
      ("exec.core_idle_share", 1 - ts.runMs / 1000.0 / (wallS * cores), "share"),
      ("exec.task_run_s", ts.runMs / 1000.0, "s"),
      ("exec.task_cpu_s", ts.cpuNs / 1e9, "s"),
      ("exec.input_mb", ts.inputB / 1e6, "MB"),
      ("exec.gc_s", ts.gcMs / 1000.0, "s"),
      ("exec.deser_s", ts.deserMs / 1000.0, "s"),
      ("exec.shuffle_fetch_wait_s", ts.fetchWaitMs / 1000.0, "s"),
      ("exec.shuffle_read_mb", ts.shReadB / 1e6, "MB"),
      ("exec.shuffle_write_mb", ts.shWriteB / 1e6, "MB"),
      ("exec.spill_mb", ts.spillB / 1e6, "MB"),
      ("exec.task_failures", ts.failures.toDouble, "count"),
      ("stream.latest_offset_ms", avgD("latestOffset"), "ms"),
      ("stream.get_batch_ms", avgD("getBatch"), "ms"),
      ("stream.query_planning_ms", avgD("queryPlanning"), "ms"),
      ("stream.wal_commit_ms", avgD("walCommit"), "ms"),
      ("stream.commit_offsets_ms", avgD("commitOffsets"), "ms"),
      ("stream.add_batch_ms", avgD("addBatch"), "ms"),
      ("stream.state_update_ms", avg(_.stateUpdateMs.toDouble), "ms"),
      ("stream.state_commit_ms", avg(_.stateCommitMs.toDouble), "ms"),
      ("stream.state_rows", avg(_.stateRows.toDouble), "count"),
      ("stream.state_mb", avg(_.stateBytes / 1e6), "MB"),
      ("stream.rows_per_batch", avg(_.inputRows.toDouble), "count"),
      ("stream.backlog_files", avg(_.backlogFiles.toDouble), "count"),
      ("sink.write_ms", if (sinkSpans.isEmpty) 0.0 else sinkSpans.map(_.durMs).sum / sinkSpans.size, "ms"))
  }

  /** Metrics only some workloads produce; the others report 0. */
  val WorkloadSpecific: Seq[(String, String)] = Seq(
    "sink.mb_written" -> "MB", "store.dirs_built" -> "count", "store.mb_written" -> "MB",
    "store.build_s" -> "s", "cdc.ops_per_event" -> "share", "cdc.violations" -> "count",
    "cdc.rows_per_s" -> "1/s", "curate.keep_ratio" -> "share",
    "dedup.verified_per_candidate" -> "share")

  def complete(ms: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val have = ms.map(_._1).toSet
    ms ++ WorkloadSpecific.collect { case (k, u) if !have(k) => (k, 0.0, u) }
  }
}
