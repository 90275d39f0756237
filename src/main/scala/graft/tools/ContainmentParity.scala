package graft.tools

/** Cross-engine parity check for the WIDE branch of the auto-sized
  * containment band width ([[graft.ops.DedupQueries.autoBandBits]]).
  * `dedup_containment` filters `doc_id % 10 = 0`, so even sf0.1 stays at
  * or under 1024 docs and takes the 10-bit branch, and no spec covers the
  * 15-bit branch: this main is its only route to DuckDB parity. It dumps
  * containmentPairs over the full documents table (5000 docs at sf0.1 →
  * 15-bit) for a compare against the same dynamic-width oracle SQL with the
  * doc filter removed (BASELINE.md, "Scale evidence (r6): auto-sized
  * containment + the streaming axis": 73 685 pairs bit-identical).
  *
  * Usage: runMain graft.tools.ContainmentParity <sfDir> <outDir>
  */
object ContainmentParity {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = graft.LocalSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val n = docs.count()
    val bits = graft.ops.DedupQueries.autoBandBits(n)
    println(s"[parity] nDocs=$n bits=$bits")
    graft.ops.DedupQueries.containmentPairs(docs, bits)
      .coalesce(1).write.mode("overwrite").parquet(outDir)
    spark.stop()
  }
}
