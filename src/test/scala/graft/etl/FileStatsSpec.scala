package graft.etl

import java.nio.file.{Files, Path => JPath, Paths}

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `_filestats.tsv` sidecar is part of every base generation's
  * stored bytes and of the on-disk format later readers parse: its
  * rendering is locked byte for byte here.
  */
class FileStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(name: String): String = {
    val p = Paths.get(s"target/filestats_spec/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    p.toString
  }

  test("the staged sidecar of a fixture generation is byte-stable") {
    val genDir = freshDir("golden")
    val long1 = "a" * 65
    val long2 = "b" * 70
    val df = Seq(
      (5L, -2.5, "12.34", "2024-01-01", "2024-01-01 10:00:00.123",
        "alpha", long1),
      (9L, 1.5, "99.99", "2024-02-01", "2024-01-02 11:30:00.456",
        "beta", long2),
      (7L, 0.25, "-3.50", "2023-12-31", "2024-01-01 00:00:00",
        "alpha", "short"))
      .toDF("l", "d", "c", "dt", "t", "s", "ls")
      .select(col("l"), col("d"), col("c").cast("decimal(10,2)").as("c"),
        col("dt").cast("date").as("dt"), col("t").cast("timestamp").as("t"),
        col("s"), col("ls"), lit(null).cast("string").as("n"))
      .coalesce(1)
    val conf = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "TIMESTAMP_MILLIS")
    try df.write.parquet(s"$genDir/day=2024-01-01")
    finally spark.conf.set(conf, prev)
    FileStats.stage(spark, genDir)
    val text = new String(Files.readAllBytes(
      Paths.get(s"$genDir/_filestats.tsv")), "UTF-8")
      .replaceAll("part-[^\t]*", "part-X")
    assert(text === Golden)
  }

  // one line, TAB-separated, columns in name order; the > 64-byte
  // string column renders as unusable (`x`), the all-null one as `n`
  private val Golden = Seq("day=2024-01-01/part-X", "3",
    "c:c:2:-350:9999:0", "d:d:-2.5:1.5:0", "dt:l:19722:19754:0",
    "l:l:5:9:0", "ls:x:0", "n:n:3", "s:s:YWxwaGE=:YmV0YQ==:0",
    "t:l:1704067200000000:1704195000456000:0").mkString("", "\t", "\n")
}
