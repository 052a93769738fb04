package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed dataset diff — the regression check between two versions of
  * the same table (yesterday's snapshot vs today's rebuild, pipeline
  * output before vs after a code change): per key, did the row appear,
  * vanish, change, or hold?
  *
  * One full-outer join on the key; the compared columns ride as ONE
  * struct per side so the change test is a single null-safe struct
  * comparison (`<=>`), not N per-column predicates. At 100 TB this is
  * the natural shuffle-on-key shape, and with both versions bucketed
  * on the key ([[graft.sources.Bucketing]]) the join is exchange-free.
  */
object Diff {

  /** Row-level verdicts: (key, status ∈ added|removed|changed|
    * unchanged). `compareCols` defaults to every shared non-key
    * column; column order inside the struct follows the OLD side's
    * schema so the comparison is deterministic. */
  def diff(oldDf: DataFrame, newDf: DataFrame, key: String,
      compareCols: Seq[String] = Nil): DataFrame = {
    val cols =
      if (compareCols.nonEmpty) compareCols
      else oldDf.columns.filter(c =>
        c != key && newDf.columns.contains(c)).toSeq
    require(cols.nonEmpty, "no shared non-key columns to compare")
    val o = oldDf.select(col(key),
      struct(cols.map(col): _*).as("__o"))
    val n = newDf.select(col(key),
      struct(cols.map(col): _*).as("__n"))
    o.join(n, Seq(key), "full_outer")
      .select(col(key),
        when(col("__o").isNull, lit("added"))
          .when(col("__n").isNull, lit("removed"))
          .when(!(col("__o") <=> col("__n")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }
}
