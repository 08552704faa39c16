package perfbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded pgshovel-style change feed.
  *
  * Several publishers, each with a sequence space of its own, interleave
  * their messages in one arrival order, bracketed
  * `begin → mutation* → commit|rollback`. Keys and event types follow the
  * repository's `events` fixtures: users scale as 1,500 per 0.1 of scale
  * factor, so the feed spans the 15,000 users of sf1 (`GenSf` builds sf1
  * from ten offset copies of sf0.1); 25% of mutations go to one hot user
  * and the rest spread evenly, as in `GenSf`'s `skewjoin` fixture; and
  * the five event types are equally likely, `error` (the tombstone)
  * among them, as in the generated fixtures. The publisher count, the
  * transaction size and the fault rates have no source in the repository
  * and are assumptions. Four fault classes are counted as they are made:
  *
  *  - redelivered duplicates: a message repeated right after itself;
  *  - sequence gaps: a publisher's sequence skips one number;
  *  - tombstones (`error` events) on keys that are not live;
  *  - aborted transactions: `begin → rollback` with no mutations (a
  *    rolled-back transaction's mutations are never published).
  *
  * Mutation event ids are global and their timestamps rise with them,
  * so per-key order by (ts, event_id) equals arrival order. */
object CdcFeed {

  case class Msg(publisher: String, seq: Long, op: String, eventId: Long,
                 ts: Long, userId: Long, eventType: String, value: Double)

  case class Faults(duplicates: Int, gaps: Int, deadTombstones: Int,
                    abortedTxns: Int)

  case class Feed(files: Seq[Seq[Msg]], faults: Faults, mutations: Int) {
    def messages: Seq[Msg] = files.flatten

    /** Identity of the generated feed: messages in arrival order, with
      * the file boundaries. */
    lazy val digest: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      files.zipWithIndex.foreach { case (f, i) =>
        md.update(s"#file $i\n".getBytes("UTF-8"))
        f.foreach(m => md.update((m.toString + "\n").getBytes("UTF-8")))
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  // from the fixtures (see above)
  val Keys = 15000
  val HotShare = 0.25
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  // assumptions
  val Publishers = 4
  val MaxTxnMutations = 8
  val DuplicateRate = 0.005
  val GapRate = 0.002
  val AbortRate = 0.03
  private val Ts0 = 1735689600000000L // 2025-01-01T00:00:00Z in micros

  /** Generates `nFiles` files of about `mutationsPerFile` mutations each. */
  def generate(seed: Long, nFiles: Int, mutationsPerFile: Int): Feed = {
    val rnd = new scala.util.Random(seed)
    def drawKey(): Long = if (rnd.nextDouble() < HotShare) 0L else rnd.nextInt(Keys).toLong
    val live = new java.util.BitSet(Keys)

    val seqs = Array.fill(Publishers)(0L)
    val remaining = Array.fill(Publishers)(-1) // -1: no open transaction
    val aborting = Array.fill(Publishers)(false)
    var eventId = 0L
    var dups, gaps, dead, aborted, mutations = 0
    val out = ArrayBuffer.empty[Msg]
    val target = nFiles * mutationsPerFile

    def emit(p: Int, op: String, eid: Long = -1L, key: Long = -1L,
             etype: String = null, value: Double = 0.0): Unit = {
      if (seqs(p) > 0 && rnd.nextDouble() < GapRate) { seqs(p) += 1; gaps += 1 }
      val m = Msg(s"pub$p", seqs(p), op, eid,
        if (eid >= 0) Ts0 + eid * 37000L else -1L, key, etype, value)
      seqs(p) += 1
      out += m
      if (rnd.nextDouble() < DuplicateRate) { out += m; dups += 1 }
    }

    while (mutations < target || remaining.exists(_ >= 0)) {
      val p = rnd.nextInt(Publishers)
      if (remaining(p) < 0) {
        if (mutations < target) {
          aborting(p) = rnd.nextDouble() < AbortRate
          remaining(p) = if (aborting(p)) 0 else 1 + rnd.nextInt(MaxTxnMutations)
          emit(p, "begin")
        }
      } else if (remaining(p) == 0) {
        if (aborting(p)) { emit(p, "rollback"); aborted += 1 }
        else emit(p, "commit")
        remaining(p) = -1
      } else {
        val key = drawKey()
        val etype = EventTypes(rnd.nextInt(EventTypes.length))
        if (etype == "error" && !live.get(key.toInt)) dead += 1
        live.set(key.toInt, etype != "error")
        emit(p, "mutation", eventId, key, etype,
          math.round(rnd.nextDouble() * 100000) / 100.0)
        eventId += 1; mutations += 1
        remaining(p) -= 1
      }
    }
    val per = math.ceil(out.size.toDouble / nFiles).toInt
    Feed(out.grouped(per).map(_.toSeq).toSeq, Faults(dups, gaps, dead, aborted), mutations)
  }

  val MessageSchema: StructType = StructType(Seq(
    StructField("publisher", StringType), StructField("seq", LongType),
    StructField("op", StringType), StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  private def row(m: Msg): Row = {
    val mut = m.op == "mutation"
    def n[A](a: A): Any = if (mut) a else null
    Row(m.publisher, m.seq, m.op, n(m.eventId),
      if (mut) new Timestamp(m.ts / 1000) else null, n(m.userId), n(m.eventType),
      n(m.value), n(s"""{"k": ${m.eventId % 100}}"""))
  }

  /** Writes the feed under `dir`: `messages/` holds one parquet file per
    * feed file, with rising modification times so a file source reads
    * them in order; `events.parquet/` holds each committed mutation once
    * in the `events` fixture schema (the batch twins read it). */
  def write(spark: SparkSession, feed: Feed, dir: String): Unit = {
    val msgDir = new java.io.File(dir, "messages")
    val tmp = new java.io.File(dir, "messages.tmp")
    val chunks = feed.files.map(_.map(row))
    spark.createDataFrame(
        spark.sparkContext.parallelize(chunks, chunks.size).flatMap(identity),
        MessageSchema)
      .write.mode("overwrite").parquet(tmp.getPath)
    msgDir.mkdirs()
    val parts = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet"))
    require(parts.length == chunks.size, s"expected ${chunks.size} feed files, got ${parts.length}")
    val t0 = System.currentTimeMillis() - 1000L * chunks.size
    parts.sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
      val dst = new java.io.File(msgDir, f"batch-$i%05d.parquet")
      require(f.renameTo(dst), s"rename $f")
      dst.setLastModified(t0 + 1000L * i)
    }
    Files.rmTree(tmp)
    val events = feed.messages.filter(_.op == "mutation").distinct
      .map(m => Row(m.eventId, new Timestamp(m.ts / 1000), m.userId, m.eventType,
        m.value, s"""{"k": ${m.eventId % 100}}"""))
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(events, 1), evSchema)
      .write.mode("overwrite").parquet(new java.io.File(dir, "events.parquet").getPath)
  }
}
