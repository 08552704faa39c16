package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch milliseconds; `parent` is the
  * span that caused this one (-1 for a root). */
case class Span(id: Long, parent: Long, name: String, layer: String,
                startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Span {

  /** Self time of `s`: its duration minus the part of its interval that
    * its children cover. Children may overlap each other (parallel
    * jobs) and may stick out of the parent; covered time is the length
    * of the union of the children's intervals clipped to the parent. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val clipped = children
      .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    s.durMs - covered
  }
}

/** Sums of task metrics over the tasks the tracer saw. */
final class TaskSums {
  var tasks = 0L; var failures = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
  var fetchWaitMs = 0L; var inputB = 0L; var shReadB = 0L; var shWriteB = 0L
  var spillB = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    runMs += m.executorRunTime; cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime; deserMs += m.executorDeserializeTime
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    shReadB += m.shuffleReadMetrics.totalBytesRead
    shWriteB += m.shuffleWriteMetrics.bytesWritten
    inputB += m.inputMetrics.bytesRead
    spillB += m.memoryBytesSpilled + m.diskBytesSpilled
  }
}

/** Per-batch streaming progress, as the StreamingQueryListener reports it. */
case class BatchProgress(batchId: Long, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateBytes: Long,
    stateUpdateMs: Long, stateCommitMs: Long, backlogFiles: Long)

/** The benchmark's tracer. It observes the program from outside only:
  * a SparkListener for jobs, stages and tasks, a QueryExecutionListener
  * for Catalyst phase times, and a StreamingQueryListener for
  * micro-batch progress. Jobs are linked to the benchmark span that was
  * open when they started through the SparkContext local property
  * [[SpanProp]], which [[span]] sets around every call it wraps. While
  * [[on]] is false every callback returns at once, so an untraced run
  * pays only the listener-bus dispatch. Spans stay in memory until
  * [[writeSpans]]. */
final class Tracer(spark: SparkSession) {
  val SpanProp = "perfbench.span"
  @volatile var on = false

  private val ids = new AtomicLong(0)
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobStart = mutable.Map.empty[Int, (Double, Long, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  val tasks = new TaskSums
  var jobs = 0L; var stages = 0L
  val jobsByLayer = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val catalystMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val progress = mutable.ArrayBuffer.empty[BatchProgress]

  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = -1L
  }

  /** Runs `f` inside a span named `name` of layer `layer`, a child of
    * `parent` (by default the span open on this thread). Jobs that
    * start while it is open become its children. */
  def span[A](name: String, layer: String, parent: Long = current.get)(f: => A): A = {
    if (!on) return f
    val sid = ids.incrementAndGet()
    val prev = current.get
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    current.set(sid)
    sc.setLocalProperty(SpanProp, s"$sid/$layer")
    val t0 = nowMs
    try f finally {
      val t1 = nowMs
      synchronized { spans += Span(sid, parent, name, layer, t0, t1) }
      current.set(prev)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  /** Id of the span open on this thread. */
  def currentSpan: Long = current.get

  /** Waits until every listener event posted so far was handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Runs the benchmark's own work (an output check) without counting
    * it: callbacks test [[on]] when they handle an event, so the bus is
    * drained on both sides of the switch. */
  def untraced[A](f: => A): A =
    if (!on) f
    else {
      drain(); on = false
      try f finally { drain(); on = true }
    }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      val (parent, layer) = prop match {
        case Some(p) => val Array(i, l) = p.split("/", 2); (i.toLong, l)
        case None => (-1L, "untracked")
      }
      Tracer.this.synchronized {
        jobs += 1; jobsByLayer(layer) += 1
        jobStart(e.jobId) = (e.time.toDouble, parent, layer)
        e.stageIds.foreach(st => stageJob(st) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      Tracer.this.synchronized {
        jobStart.remove(e.jobId).foreach { case (t0, parent, _) =>
          spans += Span(-(e.jobId + 1L), parent, s"job ${e.jobId}", "job",
            t0, e.time.toDouble)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      Tracer.this.synchronized {
        stages += 1
        for (a <- i.submissionTime; b <- i.completionTime) {
          val parent = stageJob.remove(i.stageId).map(j => -(j + 1L)).getOrElse(-1L)
          spans += Span(-1000000000L - i.stageId, parent,
            s"stage ${i.stageId}", "stage", a.toDouble, b.toDouble)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      Tracer.this.synchronized {
        tasks.tasks += 1
        if (!e.taskInfo.successful) tasks.failures += 1
        Option(e.taskMetrics).foreach(tasks.add)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val phases = qe.tracker.phases
        Tracer.this.synchronized {
          Seq("analysis", "optimization", "planning").foreach { p =>
            phases.get(p).foreach(s => catalystMs(p) += s.durationMs)
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val st = p.stateOperators.toSeq
        val backlog = p.sources.toSeq.map(s => Tracer.backlogFiles(s.description, s.endOffset)).sum
        Tracer.this.synchronized {
          progress += BatchProgress(p.batchId, d, p.numInputRows,
            st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
            st.map(_.allUpdatesTimeMs).sum, st.map(_.commitTimeMs).sum, backlog)
        }
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Writes the spans as JSON lines, each with its self time. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    val lines = all.sortBy(_.startMs).map { s =>
      val self = Span.selfMs(s, kids.getOrElse(s.id, Nil))
      f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":"${s.layer}","start_ms":${s.startMs}%.3f,"dur_ms":${s.durMs}%.3f,"self_ms":$self%.3f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  private val SourceDir = """FileStreamSource\[(.*)\]""".r
  private val LogOffset = """"logOffset":(\d+)""".r

  /** Files a file source has not read yet: the files in its directory
    * minus those its offset log covers (one file per batch, as the
    * replay reads with `maxFilesPerTrigger=1`). 0 for other sources. */
  def backlogFiles(description: String, endOffset: String): Long =
    (SourceDir.findFirstMatchIn(description), LogOffset.findFirstMatchIn(Option(endOffset).getOrElse(""))) match {
      case (Some(d), Some(o)) =>
        val files = Option(new java.io.File(new java.net.URI(d.group(1))).listFiles()).toSeq.flatten
          .count(_.getName.endsWith(".parquet"))
        math.max(0L, files - (o.group(1).toLong + 1))
      case _ => 0L
    }
}
