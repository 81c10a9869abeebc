package graft

/** Plan-audit tool: print the formatted physical plan of named oracle
  * queries (all of them when none are named) without executing — the
  * dev loop behind the per-round "read the plan, not just the timing"
  * audits. Usage:
  *
  *   sbt "runMain graft.Explain <sfDir> [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"== $name: NO SUCH QUERY ==")
        case Some(fn) =>
          println(s"\n==== $name ====")
          try println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable =>
            println(s"(failed to plan: ${e.getClass.getSimpleName}: ${e.getMessage})")
          }
      }
    }
    spark.stop()
  }
}
