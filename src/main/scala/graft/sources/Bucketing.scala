package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed tables for shuffle-free co-located joins (SURVEY.md scale
  * notes): writing both sides of a repeated join bucketed (and
  * bucket-sorted) by the join key lets Spark's bucketed scan satisfy
  * the join's distribution requirement directly — the per-query
  * Exchange disappears, which is THE lever for a fact-to-fact join
  * that runs every batch at 100 TB (pay the partitioning once at write
  * time, never again at read time).
  *
  * Bucket counts must match across join sides (or divide evenly with
  * `spark.sql.bucketing.coalesceBucketsInJoin.enabled`); keep them a
  * multiple of cluster parallelism.
  */
object Bucketing {

  /** Write `df` as a bucketed, bucket-sorted parquet table registered
    * as `name` (external at `path`). */
  def writeBucketed(df: DataFrame, name: String, path: String,
      key: String, buckets: Int): Unit =
    df.write
      .format("parquet")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(name)

  /** The bucketed table as a DataFrame (bucket metadata attached — a
    * join on `key` against an equally-bucketed table plans with no
    * Exchange on either side). */
  def read(spark: SparkSession, name: String): DataFrame =
    spark.table(name)

}
