package graft

/** Dev utility: print the formatted physical plan of selected queries
  * (all bench queries when no names given) — the SURVEY.md §7 plan-review
  * loop (`PushedFilters`, broadcast vs shuffle joins, codegen spans). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local("4", "4", logLevel = "ERROR")
    val names = if (args.nonEmpty) args.toSet else SparkEntry.benchQueries.map(_.name).toSet
    SparkEntry.all.filter(q => names.contains(q.name)).foreach { q =>
      println(s"\n========== ${q.name} ==========")
      println(q.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
