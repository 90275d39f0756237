package perfbench

import graft.LocalSession

/** Prints `name<TAB>digest` for each query's result as dumped by `graft.Verify`
  * (one parquet directory per query), in the harness's digest form. The
  * pinning script runs it on a dump that `tools/check.py` has passed against
  * the DuckDB oracle. `gold_load` (the CTAS of the CSV branch) must equal the
  * `gold_csv` dump.
  *
  * Usage: Pin <verify-dump-dir> <query>...
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.create("4")
    args.drop(1).foreach { q =>
      val df = spark.read.parquet(s"${args(0)}/${if (q == "gold_load") "gold_csv" else q}")
      println(s"$q\t${Digest.of(df.schema, df.collect())}")
    }
    spark.stop()
  }
}
