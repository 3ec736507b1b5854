package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch ETL/cleaning ops (SURVEY §2.3).
  *
  * Reference: data_cleaner.py:82-97 (dropDuplicates, sentinel-date
  * nullification via `when`, regex row filter) and
  * adjust_camera_info.py:17 / adjust_comments.py:16 (default-value
  * imputation). All expressed as `when`/`coalesce` Column transforms —
  * one codegen'd projection pass, no UDFs, filter still pushes down.
  */
object Cleaning {

  /** Null out sentinel values (e.g. "Jan 1, 0001" dates). */
  def nullifySentinels(df: DataFrame, colName: String, sentinels: Seq[String]): DataFrame =
    df.withColumn(colName,
      when(col(colName).isin(sentinels.map(lit): _*), lit(null)).otherwise(col(colName)))

  /** Keep rows whose column matches the regex (data_cleaner.py:96). */
  def filterByPattern(df: DataFrame, c: Column, pattern: String): DataFrame =
    df.where(c.rlike(pattern))

  /** Impute a default for null values (adjust_comments.py:16). */
  def imputeDefault(df: DataFrame, colName: String, default: Column): DataFrame =
    df.withColumn(colName, coalesce(col(colName), default))
}
