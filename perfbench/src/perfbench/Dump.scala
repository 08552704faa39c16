package perfbench

import java.io.File

/** Writes, for each key, the program's output over the fixture as
  * parquet (`<out>/<key>/`), the key's oracle SQL (`<out>/oracle_sql.json`)
  * and its digest (`<out>/digests.tsv`), so `make_digests.py` can compare
  * the outputs with the DuckDB oracle and keep the digests that agree.
  * Usage: `perfbench.Dump <fixture> <out> <key>...` */
object Dump {
  def main(args: Array[String]): Unit = {
    val Array(fixture, out) = args.take(2)
    val keys = args.drop(2).toSeq
    val spark = Main.session(new File(out))
    val q = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val lines = keys.map { k =>
      val df = q(k)(spark, fixture)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
      s"$k\t${Digest.of(q(k)(spark, fixture))}"
    }
    Files.write(new File(out, "digests.tsv"), lines.mkString("", "\n", "\n"))
    Files.write(new File(out, "oracle_sql.json"), keys.filter(oracle.contains)
      .map(k => s"${Json.str(k)}:${Json.str(oracle(k))}").mkString("{", ",\n", "}"))
    spark.stop()
  }
}
