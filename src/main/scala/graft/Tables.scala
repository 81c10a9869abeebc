package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session configs every graft SparkSession needs. Some testdata
    * generations write `events.ts` as TIMESTAMP(NANOS), which Spark
    * only reads as long via the legacy flag; [[t]] converts either
    * encoding to a microsecond TimestampType, matching DuckDB's
    * ns→us truncation.
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** The session every graft main runs on: `local[n]`, with n from
    * `SPARK_GRAFT_CPUS`, else the machine's cores; n shuffle
    * partitions; no UI; [[sessionConfigs]]. `extra` holds the caller's
    * own configs, such as Bench's warehouse dir.
    */
  def session(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    (sessionConfigs ++ extra).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Two generations of events.parquet exist: epoch-nanos as long
    // (needs `ts div 1000` — integer division, since double division
    // of ~1.7e18 loses ±1us) and native timestamp[us] (read as NTZ;
    // cast to TimestampType under the UTC session so downstream
    // operators and the DuckDB oracle see identical instants).
    val typed = if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => df.withColumn("ts", col("ts").cast("timestamp"))
      }
    else df
    // The corpus tables at test SFs are single-digit-MB parquet files
    // that bin-pack into ONE scan task, serializing every downstream
    // operator (the interpreted shingle/minhash pipelines most of all).
    // A real deployment's scan has one task per split; spreading the
    // small local file to the session's parallelism restores the
    // execution shape the operators are designed for. (A ~3MB shuffle
    // — negligible, and irrelevant at real scale where splits abound.)
    if (name == "documents" || name == "embeddings")
      typed.repartition(spark.sparkContext.defaultParallelism)
    else typed
  }
}
