package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Null/empty standardization, sentinel fills and safe casts —
  * reference dags/etl_grammy_spotify.py:91,138,272-292 and
  * dags/cargar_grammy.py:8-10.
  *
  * All operations are column expressions (codegen'd); `DataFrame` in,
  * `DataFrame` out, so they compose inside a single stage with the
  * surrounding scan/filter.
  */
object Cleaning {

  /** Column-level: empty-or-null → sentinel. */
  def standardize(c: Column, sentinel: String = "N/A"): Column =
    coalesce(nullif(c, lit("")), lit(sentinel))

  /** Best-effort cast (`pd.to_datetime(errors="coerce")` analog):
    * unparseable values become NULL instead of failing the job. */
  def safeCast(c: Column, to: DataType): Column = c.try_cast(to)

  /** String → boolean mapping (the reference's `winner` column,
    * dags/etl_grammy_spotify.py:275-276). */
  def parseBool(c: Column): Column = {
    val l = lower(trim(c))
    when(l === "true", lit(true)).when(l === "false", lit(false)).otherwise(lit(null))
  }

  /** Drop columns if present (`drop(columns=..., errors='ignore')`). */
  def dropColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    df.drop(cols: _*)
}
