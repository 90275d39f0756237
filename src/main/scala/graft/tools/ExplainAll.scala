package graft.tools

/** Plan auditor: dumps the formatted physical plan of each registry query so
  * scan pruning (ReadSchema/PushedFilters), join strategies, and
  * whole-stage-codegen spans can be reviewed per round.
  * Usage: runMain graft.tools.ExplainAll <sfDir> [queryName ...]
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = graft.LocalSession.create("4")
    for (q <- graft.SparkEntry.registry if only.isEmpty || only(q.name)) {
      println(s"\n===================== ${q.name} =====================")
      try q.fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
