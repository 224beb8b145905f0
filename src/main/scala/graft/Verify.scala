package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the optional tail is a
    // local-iteration filter only; the driver always passes exactly two.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // A typo'd name would silently match nothing and exit green having
    // written no parquet (ADVICE r4) — fail loudly instead.
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s) in filter: ${unknown.toSeq.sorted.mkString(", ")}")
    // the trailing-window rewrite runs through the oracle gate: q13 plans
    // as the banded join yet must stay hash-identical
    val spark = LocalSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // A crashed entry must never vanish from the round's record (VERDICT r9:
    // 36 entries silently dropped out of CORRECTNESS when loadEvents threw) —
    // collect failures and persist them as errors.json alongside the results.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    // Exit 0 even on partial failure: the driver's gate must still compare
    // the entries that DID run; errors.json is the loud record.
  }
}
