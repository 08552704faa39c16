package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Order-insensitive digest of a query's full output: row count plus two
  * 32-bit sums of each row's xxhash64 over its JSON form. Computing it
  * materializes every output column, so it doubles as the workload's
  * materialized pass. */
object Digest {
  def of(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${l(0)}:${l(1)}:${l(2)}"
  }

  /** Reference digests kept beside the fixture: key -> (digest, source),
    * where source names what vouched for the digest (`oracle`: the DuckDB
    * oracle reproduced the output it was taken from). */
  def load(fixture: File): Map[String, (String, String)] = {
    val f = new File(fixture, "digests.tsv")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, d, s) = l.split("\t"); k -> (d, s)
    }.toMap finally src.close()
  }
}

/** `curate_daily`: the LLM-pipeline batch job on a new corpus. Each op is
  * one day: the chain runs cold on a fresh copy of the fixture (every
  * store is built and published), then its store-backed keys run again,
  * three times, warm on the stores just published. Each key's output is
  * materialized into its digest, which must match the reference and be
  * identical cold and warm. */
final class CurateWorkload(spark: SparkSession, tracer: Tracer, ops: Ops,
                           opts: Main.Opts) extends Workload {
  /** Pipeline order: near-dup keepers by rank, the exact-dup chain, the
    * ANN index build. The inputs are the fixed fixture whatever the seed. */
  val Chain = Seq("q_pipeline_curate_rank", "q_pipeline_curate", "q_sim_ann_ivfpq_stored")
  val StoreBacked = Seq("q_pipeline_curate_rank", "q_sim_ann_ivfpq_stored")
  val WarmRuns = 3

  private val queries = SparkEntry.queries
  private val digests = Digest.load(opts.fixture)
  private val storeRoots = Seq("sig", "pq", "cdc").map(n => new File(opts.work, s"stores/$n"))

  /** A fresh copy of the fixture under a path no store has seen: store
    * paths embed the fixture path, so every store it needs is cold. */
  private def placeFixture(tag: String): String = {
    val dst = new File(opts.work, s"fx-$tag")
    dst.mkdirs()
    Option(opts.fixture.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath, new File(dst, f.getName).toPath))
    dst.getPath
  }

  private def stores: Set[String] = storeRoots.flatMap(Files.publishedStores).toSet

  /** Builds key `k` over `d` and runs `action` on it as one traced op,
    * counted in `ops`. Returns the action's value and the op's seconds. */
  private def timedKey[A](k: String, d: String, what: String)(action: DataFrame => A)
      : Option[(A, Double)] =
    ops.run(s"$k $what") {
      tracer.span(s"$k $what", "op") {
        val df = tracer.span("build", "build")(queries(k)(spark, d))
        tracer.span(what, "exec")(action(df))
      }
    }

  /** Checks a digest against the reference; a mismatch fails the op. */
  private def checkDigest(k: String, got: String): Unit =
    digests.get(k) match {
      case Some((want, _)) if want == got =>
      case Some((want, src)) => ops.checkFailed(k, s"digest $got != $src digest $want")
      case None => ops.checkFailed(k, "no reference digest")
    }

  private var day = 0
  private var lastBuilt = Set.empty[String]
  private var lastCold = Map.empty[String, Double]
  private var lastWarm = Map.empty[String, Double]
  private var lastDir = ""
  private var setupDir = ""

  def setup(rep: Int): Unit = setupDir = placeFixture(s"setup-$rep")

  /** Runs the chain's store-free key once, so the cold chain measures
    * store builds on an empty store root, not the JVM's first Spark work. */
  override def warmUp(): Unit = Digest.of(queries("q_pipeline_curate")(spark, setupDir))

  def op(): OpOut = {
    day += 1
    val d = placeFixture(s"day$day")
    lastDir = d
    val before = stores
    val cold = Chain.flatMap(k => timedKey(k, d, "cold")(Digest.of).map { case (g, s) =>
      checkDigest(k, g); k -> (g, s) }).toMap
    val mid = stores
    val warmRuns = (1 to WarmRuns).map(_ =>
      StoreBacked.flatMap(k => timedKey(k, d, "warm")(Digest.of).map { case (g, s) =>
        cold.get(k).foreach { case (cg, _) =>
          if (cg != g) ops.checkFailed(k, s"warm digest $g != cold digest $cg") }
        k -> s }).toMap)
    lastBuilt = mid -- before
    val warmBuilt = stores -- mid
    if (warmBuilt.nonEmpty) ops.checkFailed("curate warm", s"warm runs built stores $warmBuilt")
    lastCold = cold.map { case (k, (_, s)) => k -> s }
    lastWarm = warmRuns.last
    val coldS = if (cold.size == Chain.size) cold.values.map(_._2).sum else Double.NaN
    val warmS = warmRuns.filter(_.size == StoreBacked.size).map(_.values.sum)
    OpOut(coldS, Stats.median(warmS),
      (cold.values.map(_._2) ++ warmRuns.flatMap(_.values)).map(_ * 1000).toSeq)
  }

  def layerMetrics(t: OpOut): Seq[(String, Double, String)] = {
    val buildS = lastCold.collect { case (k, c) if lastWarm.contains(k) => c - lastWarm(k) }.sum
    val curated = queries("q_pipeline_curate_rank")(spark, lastDir)
      .agg(sum("n_docs")).head().getLong(0)
    val docs = spark.read.parquet(s"$lastDir/documents.parquet").count()
    val cand = queries("q_dedup_minhash_lsh")(spark, lastDir).count()
    val verified = queries("q_dedup_minhash_verify")(spark, lastDir).count()
    Seq(("store.dirs_built", lastBuilt.size.toDouble, "count"),
      ("store.mb_written", lastBuilt.toSeq.map(p => Files.du(new File(p))).sum / 1e6, "MB"),
      ("store.build_s", buildS, "s"),
      ("curate.keep_ratio", curated.toDouble / docs, "share"),
      ("dedup.verified_per_candidate", verified.toDouble / cand, "share"))
  }

  override def detail: Seq[String] = Seq(
    s""""cold_s":{${lastCold.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}""",
    s""""warm_s":{${lastWarm.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}""",
    s""""stores_built":${lastBuilt.size}""")
}
