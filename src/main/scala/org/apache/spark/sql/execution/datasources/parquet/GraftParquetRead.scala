package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.io.api.RecordMaterializer
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[parquet]` record materializer of Spark's
  * row-based parquet read path. [[graft.sources]]' lake readers drive
  * parquet-mr's record reader themselves (row-group skipping, row
  * positions for deletion vectors) and decode every record with this
  * materializer, so a lake file decodes exactly as a Spark parquet scan
  * decodes it.
  */
object GraftParquetRead {
  /** The materializer of `requested` (a footer schema clipped by
    * `ParquetReadSupport.getRequestedSchema`) into rows of `catalyst`,
    * under the datetime and INT96 rebase specs Spark's parquet scan
    * derives from the footer's key-value metadata.
    */
  def materializer(
      requested: MessageType, catalyst: StructType,
      footerMeta: java.util.Map[String, String])
      : RecordMaterializer[InternalRow] = {
    val conf = SQLConf.get
    val opts = new ParquetOptions(Map.empty[String, String], conf)
    val meta = (k: String) => footerMeta.get(k)
    new ParquetRecordMaterializer(requested, catalyst,
      new ParquetToSparkSchemaConverter(conf), None,
      DataSourceUtils.datetimeRebaseSpec(meta, opts.datetimeRebaseModeInRead),
      DataSourceUtils.int96RebaseSpec(meta, opts.int96RebaseModeInRead))
  }
}
