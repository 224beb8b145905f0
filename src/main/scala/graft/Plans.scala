package graft

/** Plan-dump tool for the optimization rounds: writes the
  * `.explain("formatted")` output of each named declared query (or every
  * benchable query when no names are given) to `<outDir>/<name>.txt`.
  *
  * Usage: runMain graft.Plans <outDir> [name ...]
  *
  * The session is Bench's ([[LocalSession]]: same master, shuffle
  * partitions, rewrite flags), so the dumped plan is the plan the bench
  * times. Composed lifecycle entries (index build + probe) explain the
  * FINAL returned frame only — their intermediate writes are side effects
  * the textual plan cannot carry; the bench numbers and OPTIMIZATION notes
  * cover those.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Plans <outDir> [queryName ...]")
    val outDir = java.nio.file.Paths.get(args.head)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()

    val excluded = (graft.streaming.StreamQueries.declared ++
      graft.etl.PipelineQueries.declared).map(_._1).toSet
    val names =
      if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.filterNot(excluded).toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")

    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        outDir.resolve(s"$name.txt"), plan.getBytes("UTF-8"))
      System.err.println(s"[plans] $name -> ${outDir.resolve(s"$name.txt")}")
    }
    spark.stop()
  }
}
