package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column mode (most frequent non-null value) imputation — the
  * reference's `_fill_nulls_with_mode`
  * (/root/reference/airflow/include/loan_spark_etl.py:48-68).
  *
  * Two implementations:
  *
  *   - [[faithful]]: one aggregation job per column, exactly the reference's
  *     loop shape. O(C) full scans — kept as the reference the specs
  *     check against, not for scale.
  *   - [[singlePass]]: ONE job for every column — melt all columns
  *     into (colName, valueString) pairs, count, rank per column. At 100 TB
  *     this is the difference between C scans of the table and one. It is
  *     [[modes]] followed by [[fillWith]]; a caller that already knows which
  *     columns hold nulls (see [[Pipeline]]) runs the two halves itself and
  *     passes [[modes]] only those columns.
  *
  * Deviations from the reference, both deliberate (SURVEY.md §7.4):
  *   - tie-break is deterministic: count desc, then value asc (the reference
  *     orders by count only — arbitrary winner among ties);
  *   - like PySpark's dict-`fillna`, only string/numeric/boolean columns are
  *     filled; other types (timestamp, date, ...) are left untouched.
  */
object Impute {

  private[etl] def fillable(dt: DataType): Boolean = dt match {
    case StringType | BooleanType => true
    case _: NumericType => true
    case _ => false
  }

  /** Cast-through-string round-trip used by singlePass: group values as
    * strings, restore the column's type when filling.
    */
  private def castBack(value: String, dt: DataType): Column =
    lit(value).cast(dt)

  /** Reference-shaped per-column loop: one count+sort+limit(1) job per
    * column (loan_spark_etl.py:55-67), with the deterministic tie-break.
    * No pipeline path runs it; it is the reference implementation the
    * specs cross-check [[singlePass]] against.
    */
  def faithful(df: DataFrame): DataFrame = {
    var out = df
    for (f <- df.schema.fields if fillable(f.dataType)) {
      val c = f.name
      val modeRow = out
        .groupBy(col(c))
        .agg(count(lit(1)).as("count"))
        .orderBy(col("count").desc, col(c).asc)
        .filter(col(c).isNotNull)
        .limit(1)
        .collect()
      if (modeRow.nonEmpty) {
        val mode = modeRow(0).get(0)
        out = out.withColumn(
          c, coalesce(col(c), lit(mode).cast(f.dataType)))
      }
    }
    out
  }

  /** All column modes in one aggregation pass.
    *
    * Plan shape: Project(explode) → partial hash agg → exchange on
    * (col_name, val) → final agg → window rank per col_name → tiny collect
    * (≤ C rows). One shuffle of the distinct values, not C table scans.
    *
    * The melt is built with the typed API (explode over an array of
    * structs), not interpolated `stack(...)` SQL, so arbitrary CSV headers
    * (quotes, backticks) cannot produce a malformed expression.
    *
    * Tie-break parity with [[faithful]]: ties are ranked on the value in
    * its NATIVE type order, not the melted string — for numeric columns the
    * string is cast back to double for the comparison (counts tied between
    * 9.0 and 10.0 must impute 9.0, not "10.0" < "9.0" lexicographically).
    */
  def modes(df: DataFrame): Map[String, String] = {
    val fields = df.schema.fields.filter(f => fillable(f.dataType))
    if (fields.isEmpty) return Map.empty
    val kvs = fields.map { f =>
      struct(
        lit(f.name).as("col_name"),
        col(f.name).cast(StringType).as("val"),
        lit(f.dataType.isInstanceOf[NumericType]).as("is_num"))
    }
    val melted = df
      .select(explode(array(kvs.toIndexedSeq: _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.val").as("val"),
        col("kv.is_num").as("is_num"))
    // is_num is constant per col_name, so grouping on it adds no groups;
    // the numeric-or-null sort key is null for every non-numeric row,
    // falling through to the string key.
    val w = Window.partitionBy(col("col_name"))
      .orderBy(
        col("cnt").desc,
        when(col("is_num"), col("val").cast("double")).asc_nulls_first,
        col("val").asc)
    melted
      .filter(col("val").isNotNull)
      .groupBy(col("col_name"), col("val"), col("is_num"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("col_name"), col("val"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
  }

  /** Fills each fillable column's nulls with its mode from `m`; columns
    * without an entry (all-null, or left out of [[modes]]) pass through.
    */
  def fillWith(df: DataFrame, m: Map[String, String]): DataFrame = {
    val filled = df.schema.fields.map { f =>
      m.get(f.name) match {
        case Some(v) if fillable(f.dataType) =>
          coalesce(col(f.name), castBack(v, f.dataType)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(filled.toIndexedSeq: _*)
  }

  def singlePass(df: DataFrame): DataFrame = fillWith(df, modes(df))
}
