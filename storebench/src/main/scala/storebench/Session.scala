package storebench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: `local[<cores>]`, everything it writes
  * under the run directory. The heap is the launching JVM's (`-Xmx`). */
object Session {
  def start(runDir: java.io.File, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .appName("storebench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(runDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(runDir, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new java.io.File(runDir, "checkpoints").getAbsolutePath)
    graft.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
