package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Order-independent digest of a result: its row count and the sum of a
  * per-row hash over every output column.  The hash is plain integer
  * arithmetic so that DuckDB computes the same number from the same inputs
  * (`perfbench/check.py` holds the SQL twin; the two must change together):
  * columns in name order, a string column contributes its length, a null
  * contributes 7, and column i is weighted by `1000003 + 1000 i`. */
object Digest {
  val Mod = 1000000007L
  def weight(i: Int): Long = 1000003L + 1000L * i

  def rowHash(df: DataFrame): Column = {
    val terms = df.schema.fields.sortBy(_.name).zipWithIndex.map { case (f, i) =>
      val x = if (f.dataType == StringType) length(col(f.name)) else col(f.name)
      (coalesce(x.cast("long"), lit(7L)) % Mod) * lit(weight(i))
    }
    terms.reduce(_ + _) % Mod
  }

  /** One aggregate that forces every output column to be computed. */
  def of(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), coalesce(sum(rowHash(df)), lit(0L)).as("h"))
}
