package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** `cdc_replay`: what pgshovel is for. Each op replays the seeded backlog
  * from an empty checkpoint into an empty target (the catch-up, `pass_s`),
  * then replays it again from a fresh checkpoint onto the populated
  * target (a redelivery after a lost checkpoint, `rerun_s`), which must
  * leave the target unchanged. Both replays are checked against the
  * batch twins and the injected fault counts. Per-op latency is the time
  * of each micro-batch, from one batch's completion to the next. */
final class CdcWorkload(spark: SparkSession, tracer: Tracer, ops: Ops,
                        opts: Main.Opts) extends Workload {
  val FeedFiles = 15
  val MutationsPerFile = 1000
  val WarmFiles = 2

  private val replay = new CdcReplay(spark, tracer, opts.work)
  private var feed: CdcFeed.Feed = _
  private var feedDir = ""
  private var expected: Option[CdcReplay.Expected] = None
  private var n = 0
  private var lastOps = 0L
  private var lastViolations = 0
  private var lastSinkBytes = 0L

  /** Generates and writes the feed. */
  def setup(rep: Int): Unit = {
    feed = CdcFeed.generate(opts.seed, FeedFiles, MutationsPerFile)
    feedDir = new File(opts.work, s"feed-$rep").getPath
    CdcFeed.write(spark, feed, feedDir)
  }

  /** Replays the feed's first files once: the first replay in a JVM runs
    * far slower than the rest. */
  override def warmUp(): Unit = {
    val warm = new File(opts.work, "warm/messages")
    warm.mkdirs()
    new File(feedDir, "messages").listFiles().sortBy(_.getName).take(WarmFiles).foreach { f =>
      java.nio.file.Files.createLink(new File(warm, f.getName).toPath, f.toPath)
    }
    replay.replay(warm.getPath, new File(opts.work, "warm/target"), "warm")
  }

  private def check(name: String, r: CdcReplay.Result): Unit = tracer.untraced {
    val e = expected.getOrElse {
      val x = replay.expected(feedDir); expected = Some(x); x
    }
    val bad = replay.mismatches(r, e, feed)
    ops.check(name)(bad.isEmpty, bad.mkString("; "))
  }

  def op(): OpOut = {
    n += 1
    val target = new File(opts.work, s"target-$n")
    val msgs = s"$feedDir/messages"
    val first = ops.run("cdc catch-up")(tracer.span("catch-up", "op")(
      replay.replay(msgs, target, s"catchup$n")))
    first.foreach { case (r, _) => check("cdc catch-up check", r) }
    val second = ops.run("cdc redelivery")(tracer.span("redelivery", "op")(
      replay.replay(msgs, target, s"redeliver$n")))
    second.foreach { case (r, _) => check("cdc redelivery check", r) }
    first.foreach { case (r, _) => lastOps = r.ops; lastViolations = r.violations.size }
    lastSinkBytes = (first.toSeq ++ second.toSeq).map(_._1.sinkBytes).sum
    Files.rmTree(target)
    OpOut(first.map(_._2).getOrElse(Double.NaN), second.map(_._2).getOrElse(Double.NaN),
      (first.toSeq ++ second.toSeq).flatMap(_._1.batchMs))
  }

  def layerMetrics(t: OpOut): Seq[(String, Double, String)] = Seq(
    ("cdc.ops_per_event", lastOps.toDouble / feed.mutations, "share"),
    ("cdc.violations", lastViolations.toDouble, "count"),
    ("cdc.rows_per_s", feed.mutations / t.passS, "1/s"),
    ("sink.mb_written", lastSinkBytes / 1e6, "MB"))

  override def detail: Seq[String] = Seq(
    s""""feed_digest":"${feed.digest}"""", s""""mutations":${feed.mutations}""",
    s""""faults":"${feed.faults}"""")
}
