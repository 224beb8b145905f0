package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of every runner main (Bench, Verify, Plans,
  * StreamBench, ScaleRehearsal): `local[cpus]` with as many shuffle
  * partitions, `cpus` from `$SPARK_GRAFT_CPUS` else `defaultCpus`, UTC
  * session time, nanosecond parquet timestamps read as longs, no UI, WARN
  * logging, and the graft SQL functions registered.
  * `rewriteTrailingWindow` turns on the scale-safe global trailing-window
  * rewrite (q13 plans as a banded join): the plan the bench times and the
  * oracle gate checks.
  */
object LocalSession {
  def apply(defaultCpus: Int = 32, rewriteTrailingWindow: Boolean = true): SparkSession = {
    System.setProperty("derby.stream.error.file", "target/derby.log")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (rewriteTrailingWindow)
      builder.config("spark.graft.rewriteGlobalTrailingWindow", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
