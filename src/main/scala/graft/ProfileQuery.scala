package graft

/** Dev harness: run one named SparkEntry query against an SF dir and
  * print wall time + row count (+ formatted plan with -v).
  * Run: `sbt "runMain graft.ProfileQuery <name> <sfDir> [-v]"`.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val verbose = args.contains("-v")
    val spark = Tables.session()
    val fn = SparkEntry.queries(name)
    // job counter: queries with eager interior actions (iterative graph
    // ops, checkpoints) schedule more jobs than their final plan shows;
    // the count is the evidence when an optimization removes actions
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    for (pass <- 1 to 2) {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[profileq] $name pass $pass: $n rows in $dt%.2f s, ${jobs.get() - j0} jobs")
      if (verbose && pass == 1) df.explain("formatted")
    }
    spark.stop()
  }
}
