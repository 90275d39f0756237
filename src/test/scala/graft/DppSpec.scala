package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gate for `layout_dpp`: dynamic partition pruning must actually fire —
  * the day-partitioned fact scan carries a `dynamicpruning` expression in
  * its PartitionFilters, fed by the broadcast day dimension. If a refactor
  * joins on a derived expression instead of the raw partition column, DPP
  * silently disappears and this spec is what catches it.
  */
class DppSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("layout_dpp plans a dynamicpruning partition filter") {
    val df = SparkEntry.queries("layout_dpp")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(4000))
  }

  test("layout_dpp writes exactly one parquet file per day directory") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val df = SparkEntry.queries("layout_dpp")(spark, sfDir)
    // the fact table is the plan's one file relation in the layout's tmp dir
    val roots = df.queryExecution.analyzed.collect { case l: LogicalRelation =>
      l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
        case _                   => Nil
      }
    }.flatten.filter(_.contains("graft-dpp")).distinct
    assert(roots.size === 1, roots)
    val days = new java.io.File(roots.head).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
    assert(days.length === 30)
    days.foreach { d =>
      val parts = d.list().filter(_.endsWith(".parquet"))
      assert(parts.length === 1, s"${d.getName}: ${parts.mkString(", ")}")
    }
  }
}
