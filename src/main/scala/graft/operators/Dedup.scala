package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W1 (SURVEY.md §2.5): keep the newest row per business key — the
  * reference's `ROW_NUMBER() OVER (PARTITION BY SaleInvoiceID ORDER BY
  * TradeInDate DESC) ... WHERE rn = 1` CTE (rqtradein_etl.py:166-171).
  *
  * Scale notes: one hash-partition shuffle on the key, then a per-partition
  * sort; Spark ≥3.5 rewrites the rn=1 filter into a window-group-limit
  * (`InferWindowGroupLimit`) so each partition keeps only the top row per
  * key during the sort — no full materialization of the window. At 100 TB
  * this is the canonical scalable top-1-per-group plan.
  *
  * The reference's ordering is nondeterministic on ties (SURVEY.md
  * §2.10(d)); callers pass explicit tie-breaking `orderBy` columns.
  */
object Dedup {

  def latestPerKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact-duplicate removal by value equality on `cols` (or all columns
    * when `cols` is empty), keeping the min value of every other column as
    * the deterministic representative. Hash-aggregate, one shuffle — the
    * map-side partial aggregation makes this cheap even when the duplicate
    * rate is low (unlike a window sort, nothing is ever sorted). */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame = {
    val keys = if (cols.nonEmpty) cols else df.columns.toSeq
    val rest = df.columns.filterNot(keys.contains)
    if (rest.isEmpty) df.select(keys.map(col): _*).distinct()
    else df.groupBy(keys.map(col): _*)
      .agg(min(col(rest.head)).as(rest.head),
        rest.tail.map(c => min(col(c)).as(c)): _*)
      .select(df.columns.map(col): _*)
  }
}
