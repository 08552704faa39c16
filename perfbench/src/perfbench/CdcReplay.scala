package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkEntry
import graft.io.Sinks
import graft.streaming.{Apply, Validate}

/** The CDC catch-up replay: a consumer that was down reads a backlog of
  * feed files, one file per micro-batch, through the streaming path:
  * `Validate.validateStream` on the message projection, `Apply.deriveStream`
  * on the mutations, and an idempotent `foreachBatch` upsert of the
  * derived ops into a keyed target table through `Sinks.applyUpsert`.
  * The loop is closed: `Trigger.AvailableNow` starts a micro-batch only
  * after the previous one committed. */
object CdcReplay {
  case class Result(seconds: Double, batchMs: Seq[Double], violations: Seq[Validate.Violation],
                    rollbacks: Long, ops: Long, target: String, sinkBytes: Long)

  /** What a correct replay of a feed must produce, from the batch twins. */
  case class Expected(applyOps: Set[Row], latestLive: Set[Row],
                      violations: Map[Validate.Violation, Int], ops: Long)
}

final class CdcReplay(spark: SparkSession, tracer: Tracer, work: File) {
  import spark.implicits._
  import CdcReplay._

  private def pipeline(msgDir: String): DataFrame = {
    val msgs = spark.readStream.schema(CdcFeed.MessageSchema)
      .option("maxFilesPerTrigger", 1).parquet(msgDir)
    val violations = Validate.validateStream(
        msgs.select("publisher", "seq", "op").as[Validate.Msg])
      .select(lit("violation").as("kind"), col("publisher"), col("seq"),
        col("op"), col("kind").as("detail"))
    val ops = Apply.deriveStream(msgs.filter(col("op") === "mutation")
        .select("user_id", "event_id", "event_type", "value").as[Apply.Mutation])
      .select(lit("op").as("kind"), col("op"), col("user_id"), col("event_id"),
        col("new_type"), col("new_value"))
    val rollbacks = msgs.filter(col("op") === "rollback")
      .select(lit("rollback").as("kind"), col("publisher"), col("seq"), col("op"))
    violations.unionByName(ops, allowMissingColumns = true)
      .unionByName(rollbacks, allowMissingColumns = true)
  }

  /** Target row: per key the last applied op and cumulative op counts.
    * Deleted keys stay with `live = false` so their counts carry over a
    * later re-insert. */
  private val TargetSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "user_id bigint, last_event_id bigint, event_type string, value double, " +
      "n_inserts bigint, n_updates bigint, n_deletes bigint, live boolean")
  private val emptyTarget: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], TargetSchema)

  private var version = 0

  /** Upserts one batch of derived ops into the target at `base`,
    * writing the next version through `Sinks.applyUpsert`. Ops at or
    * below a key's last applied event id are skipped, so a redelivered
    * batch changes nothing. */
  private def upsert(base: Option[String], ops: Seq[Row], out: String): Unit = {
    val baseDf = base.map(spark.read.schema(TargetSchema).parquet(_)).getOrElse(emptyTarget)
    val keys = ops.map(_.getLong(0)).distinct
    val prior = if (base.isEmpty || keys.isEmpty) Map.empty[Long, Row]
      else baseDf.filter(col("user_id").isin(keys: _*)).collect()
        .map(r => r.getLong(0) -> r).toMap
    val deltas = ops.groupBy(_.getLong(0)).toSeq.flatMap { case (k, kops) =>
      val b = prior.get(k)
      val fresh = kops.filter(o => b.forall(o.getLong(1) > _.getLong(1)))
      if (fresh.isEmpty) None
      else {
        val last = fresh.maxBy(_.getLong(1))
        def n(op: String, i: Int) = b.map(_.getLong(i)).getOrElse(0L) + fresh.count(_.getString(2) == op)
        Some(Row(k, last.getLong(1), last.get(3), last.get(4),
          n("insert", 4), n("update", 5), n("delete", 6), last.getString(2) != "delete"))
      }
    }
    val deltasDf = spark.createDataFrame(spark.sparkContext.parallelize(deltas, 1), TargetSchema)
    Sinks.applyUpsert(baseDf, deltasDf, "user_id", out)
  }

  /** Replays every file under `msgDir` from an empty checkpoint into the
    * target rooted at `targetRoot`, continuing from its latest version
    * when one exists. */
  def replay(msgDir: String, targetRoot: File, tag: String): Result = {
    val ckpt = new File(work, s"ckpt-$tag-${System.nanoTime()}")
    targetRoot.mkdirs()
    def latest: Option[String] = Option(targetRoot.listFiles()).toSeq.flatten
      .filter(f => new File(f, "_SUCCESS").exists()).map(_.getPath).sorted.lastOption
    val ends = ArrayBuffer.empty[Long]
    val violations = ArrayBuffer.empty[Validate.Violation]
    val rollbacks = scala.collection.mutable.Set.empty[(String, Long)]
    val applied = scala.collection.mutable.Set.empty[(Long, Long)]
    var nOps = 0L
    var sinkBytes = 0L
    val replaySpan = tracer.currentSpan
    val t0 = System.nanoTime()
    val q = pipeline(msgDir).writeStream
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        tracer.span(s"micro-batch $batchId", "op", parent = replaySpan) {
          val rows = tracer.span("validate+apply", "exec")(batch.collect())
          rows.foreach { r =>
            r.getString(0) match {
              case "violation" => violations += Validate.Violation(
                r.getAs[String]("publisher"), r.getAs[Long]("seq"),
                r.getAs[String]("op"), r.getAs[String]("detail"))
              // a redelivered rollback aborts nothing new
              case "rollback" => rollbacks += ((r.getAs[String]("publisher"), r.getAs[Long]("seq")))
              case _ =>
            }
          }
          val ops = rows.filter(_.getString(0) == "op")
            .map(r => Row(r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
              r.getAs[String]("op"), r.getAs[String]("new_type"),
              r.getAs[Any]("new_value")))
            // a redelivered mutation derives an op again (an `update` when
            // its original made the key live), in this batch or a later
            // one; only the first op of each (user_id, event_id) is applied
            .filter(r => applied.add((r.getLong(0), r.getLong(1)))).toSeq
          nOps += ops.size
          version += 1
          val out = new File(targetRoot, f"v$version%06d")
          tracer.span("upsert", "sink")(upsert(latest, ops, out.getPath))
          sinkBytes += Files.du(out)
          // keep two versions: the one just written and its base
          Option(targetRoot.listFiles()).toSeq.flatten.map(_.getPath).sorted
            .dropRight(2).foreach(p => Files.rmTree(new File(p)))
        }
        ends += System.nanoTime()
        ()
      }
      .start()
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    val secs = (System.nanoTime() - t0) / 1e9
    Files.rmTree(ckpt)
    // batch 0 also pays the query start, so per-batch samples begin at batch 1
    val lat = ends.toSeq.sliding(2).collect { case Seq(a, b) => (b - a) / 1e6 }.toSeq
    Result(secs, lat, violations.toSeq, rollbacks.size.toLong, nOps, latest.getOrElse(""), sinkBytes)
  }

  def expected(feedDir: String): Expected = {
    val q = SparkEntry.queries
    val applyOps = q("q_cdc_apply_ops")(spark, feedDir)
      .select("user_id", "last_event_id", "event_type", "value",
        "n_inserts", "n_updates", "n_deletes").collect().toSet
    val latestLive = q("q_cdc_latest_state")(spark, feedDir)
      .filter(col("event_type") =!= "error")
      .select("user_id", "event_id", "event_type", "value").collect().toSet
    val msgs = spark.read.schema(CdcFeed.MessageSchema).parquet(s"$feedDir/messages")
    val viol = Validate.validateBatch(msgs.select("publisher", "seq", "op").as[Validate.Msg])
      .collect().groupBy(identity).map { case (k, v) => k -> v.length }
    val events = graft.io.Tables.events(spark, feedDir)
      .select("user_id", "event_id", "event_type", "value").as[Apply.Mutation]
    Expected(applyOps, latestLive, viol, Apply.deriveBatch(events).count())
  }

  /** Every way `r` disagrees with the batch twins and the injected faults. */
  def mismatches(r: Result, e: Expected, feed: CdcFeed.Feed): Seq[String] = {
    val faults = feed.faults
    val target = spark.read.schema(TargetSchema).parquet(r.target).filter(col("live"))
    val got = target.select("user_id", "last_event_id", "event_type", "value",
      "n_inserts", "n_updates", "n_deletes").collect().toSet
    val gotLatest = target.select("user_id", "last_event_id", "event_type", "value")
      .collect().toSet
    val viol = r.violations.groupBy(identity).map { case (k, v) => k -> v.length }
    val kinds = r.violations.groupBy(_.kind).map { case (k, v) => k -> v.size }
    val mutations = feed.mutations.toLong
    Seq(
      (got == e.applyOps) -> s"target != q_cdc_apply_ops (${(got diff e.applyOps).size} extra, ${(e.applyOps diff got).size} missing)",
      (gotLatest == e.latestLive) -> "live target != q_cdc_latest_state",
      (viol == e.violations) -> s"violations != Validate.validateBatch (${viol.size} vs ${e.violations.size})",
      (kinds == Map("duplicate" -> faults.duplicates, "sequence_gap" -> faults.gaps)
        .filter(_._2 > 0)) -> s"violation kinds $kinds != injected $faults",
      (r.rollbacks == faults.abortedTxns) -> s"rollbacks ${r.rollbacks} != injected ${faults.abortedTxns}",
      (r.ops == e.ops) -> s"ops ${r.ops} != Apply.deriveBatch ${e.ops}",
      (mutations - r.ops == faults.deadTombstones) ->
        s"no-op tombstones ${mutations - r.ops} != injected ${faults.deadTombstones}"
    ).collect { case (false, why) => why }
  }
}
