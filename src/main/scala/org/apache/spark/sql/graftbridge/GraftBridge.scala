package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Spark internals.
  *
  * Lives under `org.apache.spark.sql` solely to convert between the public
  * `Column` API and Catalyst `Expression`s, and to reach the session's
  * `FunctionRegistry` — the standard technique for libraries that ship
  * custom codegen'd expressions without forking Spark.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** Wrap an analyzed logical plan as a DataFrame (Dataset.ofRows is
    * private[sql]) — used by [[graft.plans]] rewrite rules that BUILD their
    * replacement subtree with the public DataFrame API instead of
    * hand-assembling Catalyst nodes.
    */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** A full SessionState clone (conf, temp views, registered functions) —
    * unlike the public `newSession()`, which resets runtime conf to the
    * SparkConf defaults. Used to pin per-write conf (parquet timestamp
    * type) without a mutate-restore window on the SHARED session conf,
    * which raced concurrent same-session writers (VERDICT r18 #8).
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()

  /** A Hadoop Configuration populated EXACTLY the way Spark's parquet
    * write path populates a write task's conf — schema, logical-type and
    * rebase settings, field ids, compression — by running the same
    * `ParquetUtils.prepareWrite` a real write job runs. Used by
    * [[graft.ModelParquet]]'s driver-side writer so its files carry the
    * byte-identical write-support surface of a Spark write job, across
    * Spark versions, without hand-listing the conf keys `ParquetWriteSupport`
    * happens to read.
    */
  def parquetWriteConf(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      base: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.conf.Configuration = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // Job.getInstance copies `base` — the shared conf is never mutated
    val job = org.apache.hadoop.mapreduce.Job.getInstance(base)
    val opts = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetOptions(Map.empty[String, String], session.sessionState.conf)
    org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
      .prepareWrite(session.sessionState.conf, job, schema, opts)
    job.getConfiguration
  }

  /** One parquet file's Spark schema as schema inference reads its footer
    * (row groups skipped), nullable throughout as a relation surfaces it.
    */
  def parquetFileSchema(
      spark: SparkSession, file: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val footer = new org.apache.parquet.hadoop.Footer(file.getPath,
      ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.asInstanceOf[
        org.apache.spark.sql.classic.SparkSession].sessionState.conf))
      .asNullable
  }
}
