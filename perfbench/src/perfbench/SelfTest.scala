package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** Self-tests of the harness: the reporting rules, the op accounting,
  * the span arithmetic and the seeded feed. `perfbench.SelfTest <work dir>`
  * prints one line per test and exits non-zero if any failed. */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") } catch {
      case e: Throwable => failures += name; println(s"FAIL $name: $e")
    }

  private def eq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("p90 rests on at least 100 samples, otherwise flagged") {
      eq(Stats.summarize((1 to 99).map(_.toDouble)).p90Flagged, true)
      val s = Stats.summarize((0 to 100).map(_.toDouble))
      eq(s.p90Flagged, false)
      eq(s.n, 101)
      eq(s.p50, 50.0)
      eq(s.p90, 90.0)
      eq(Stats.quantile(Seq(1.0, 2.0), 0.5), 1.5)
      eq(Stats.median(Nil).isNaN, true)
    }

    test("a thrown op counts as failed and is not timed") {
      val ops = new Ops
      val r = ops.run("boom")(throw new IllegalStateException("boom"))
      eq(r, None)
      eq((ops.attempted, ops.failed), (1, 1))
      val ok = ops.run("fine")(42)
      eq(ok.map(_._1), Some(42))
      eq((ops.attempted, ops.failed), (2, 1))
      ops.check("bad output")(ok = false, why = "mismatch")
      eq((ops.attempted, ops.failed), (3, 2))
      ops.check("check throws")(ok = sys.error("x"), why = "")
      eq((ops.attempted, ops.failed), (4, 3))
    }

    test("span self time is duration minus the union of child coverage") {
      val p = Span(1, -1, "p", "op", 0, 100)
      def c(a: Double, b: Double) = Span(2, 1, "c", "job", a, b)
      eq(Span.selfMs(p, Nil), 100.0)
      eq(Span.selfMs(p, Seq(c(10, 30))), 80.0)
      // overlapping children count once; a child sticking out is clipped
      eq(Span.selfMs(p, Seq(c(10, 30), c(20, 40), c(90, 120))), 60.0)
      eq(Span.selfMs(p, Seq(c(-20, -10), c(0, 100))), 0.0)
    }

    test("the same seed gives the same feed, another seed another feed") {
      val a = CdcFeed.generate(7, 5, 200)
      eq(CdcFeed.generate(7, 5, 200).digest, a.digest)
      if (CdcFeed.generate(8, 5, 200).digest == a.digest)
        throw new AssertionError("seeds 7 and 8 gave the same feed")
      eq(a.files.size, 5)
      if (Seq(a.faults.duplicates, a.faults.gaps, a.faults.deadTombstones,
          a.faults.abortedTxns).exists(_ == 0)) throw new AssertionError(s"a fault class is empty: ${a.faults}")
    }

    val work = new File(args.headOption.getOrElse("selftest-work"))
    work.mkdirs()
    val spark = Main.session(work)
    try test("the replay check finds exactly the injected faults") {
      val feed = CdcFeed.generate(3, 4, 300)
      val dir = new File(work, "feed").getPath
      CdcFeed.write(spark, feed, dir)
      val replay = new CdcReplay(spark, new Tracer(spark), work)
      val r = replay.replay(s"$dir/messages", new File(work, "target"), "selftest")
      eq(r.batchMs.size, 3)
      eq(replay.mismatches(r, replay.expected(dir), feed), Nil)
      // and the check notices a fault count that is off by one
      val wrong = feed.copy(faults = feed.faults.copy(gaps = feed.faults.gaps + 1))
      eq(replay.mismatches(r, replay.expected(dir), wrong).size, 1)
    }
    try test("a duplicate split from its original by a file boundary is applied once") {
      val feed = CdcFeed.generate(5, 3, 300)
      val msgs = feed.messages
      // the repeat of a mutation that made its key live derives an `update`
      val i = msgs.indices.find(j => j + 1 < msgs.size && msgs(j) == msgs(j + 1) &&
        msgs(j).op == "mutation" && msgs(j).eventType != "error")
        .getOrElse(throw new AssertionError("the feed has no duplicated upsert"))
      val split = feed.copy(files = Seq(msgs.take(i + 1), msgs.drop(i + 1)))
      val dir = new File(work, "feed-split").getPath
      CdcFeed.write(spark, split, dir)
      val replay = new CdcReplay(spark, new Tracer(spark), work)
      val r = replay.replay(s"$dir/messages", new File(work, "target-split"), "split")
      eq(replay.mismatches(r, replay.expected(dir), split), Nil)
    } finally spark.stop()

    println(if (failures.isEmpty) "all self-tests passed" else s"FAILED: ${failures.mkString(", ")}")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
