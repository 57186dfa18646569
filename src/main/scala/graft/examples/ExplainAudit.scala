package graft.examples

import graft.Runner

/** Plan audit: print the formatted physical plan of selected queries so the
  * scan pushdown (`PushedFilters`/`ReadSchema`), join strategies, and
  * codegen spans can be inspected. `sbt "runMain graft.examples.ExplainAudit q06_revenue_delta ..."`.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val queries = Runner.resolveOrExit(args.toSeq)
    val spark = Runner.session()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    queries.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
