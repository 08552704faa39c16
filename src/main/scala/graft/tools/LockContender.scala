package graft.tools

import org.apache.spark.sql.SparkSession

/** One contender in the cross-PROCESS store-publish race
  * (StoreLockSpec spawns two of these as separate JVMs): builds the
  * stored corpus-signature table for the given fixture — a full
  * [[graft.io.Store.table]] build → locked atomic Store.publish →
  * read-back; the build is multi-stage, so the two JVMs' builds
  * overlap — and prints the row count it read. The store root comes from
  * SPARK_GRAFT_SIG_STORE (set per-race by the spec), which is the
  * reason this is a separate JVM at all: the env var cannot be set
  * for an in-process SparkSession, and an in-JVM race only exercises
  * the interned-path monitor, never the [[java.nio.channels.FileLock]]
  * path the publish contract actually relies on across processes. */
object LockContender {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = graft.ops.Dedup.storedCorpusSigs(spark, sf).count()
    println(s"CONTENDER rows=$n")
    spark.stop()
  }
}
