package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.functions.ReferencedConstant

/** Parsed feed split into loadable rows and dead-lettered bad rows (A9).
  * Bad rows are never dropped: they carry the raw line plus the reasons.
  */
case class ParseResult(good: DataFrame, bad: DataFrame)

object ParseResult {

  /** `body` applied to the value of `bound`, computed once per row.
    *
    * Catalyst pushes the good/bad filter below the projection that defines
    * `bound` and inlines its defining expression at EVERY reference, so a
    * check that names `bound` k times would re-split (or re-parse) the line
    * k times. A lambda argument is evaluated once and cannot be inlined.
    */
  private[etl] def bindOnce(bound: Column)(body: Column => Column): Column =
    transform(array(bound), body)(0)

  /** Route `typed` on its `_errors` array: rows with no errors project
    * `goodCols`; the rest become (line, errors, failure_tstamp). The
    * pass's one instant is referenced, not inlined, so repeated passes
    * reuse one compiled class.
    */
  private[etl] def route(typed: DataFrame, goodCols: Seq[Column]): ParseResult =
    ParseResult(
      typed.filter(size(col("_errors")) === 0).select(goodCols: _*),
      typed.filter(size(col("_errors")) > 0).select(
        col("value").as("line"),
        col("_errors").as("errors"),
        GraftBridge.column(ReferencedConstant(
          GraftBridge.expression(current_timestamp()))).as("failure_tstamp")))
}
