package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sharded corpus export — the "write the training set"
  * step: every document lands in a content-addressed shard
  * (md5-keyed, so the assignment is stable across runs, engines, and
  * cluster sizes — never `spark_partition_id` or round-robin), and a
  * manifest row per shard records counts/token totals/id bounds for
  * downstream loaders to verify against.
  *
  * Reference analog: the nightly full-table export
  * (`knightshift/pipelines/`), which writes one opaque dump; sharding
  * + manifest is what that becomes when the output must feed a
  * 1000-reader training job instead of one Postgres COPY.
  *
  * Scale shape (100 TB): the shard key is a projection; the write is
  * one hash repartition on `shard` (each writer task owns whole
  * shards, so no two tasks write one directory) + `partitionBy` for
  * directory layout. The manifest is one partial-aggregating groupBy
  * over nShards keys — metadata-sized output at any corpus size.
  */
object Export {

  /** Stable shard id in [0, nShards): the shared
    * [[graft.functions.Md5Bucket]] of 'shard:' ‖ id. */
  def shardId(id: Column, nShards: Int): Column =
    graft.functions.Md5Bucket.bucket("shard:", id.cast("string"), nShards)

  /** SQL for the same shard id (DuckDB oracle derives from here). */
  def shardIdSql(inner: String, nShards: Int): String =
    graft.functions.Md5Bucket.bucketSql("shard:",
      s"CAST($inner AS VARCHAR)", nShards)

  /** The corpus with its shard assignment materialized. */
  private def withShard(df: DataFrame, idCol: String, nShards: Int): DataFrame =
    df.withColumn("shard", shardId(col(idCol), nShards))

  /** Manifest: (shard, n_docs, n_tokens, n_chars, min_doc_id,
    * max_doc_id) — one row per non-empty shard. Token rule is the
    * corpus-wide whitespace tokenization. */
  def manifest(df: DataFrame, idCol: String, textCol: String,
      nShards: Int): DataFrame =
    withShard(df, idCol, nShards)
      .select(col("shard"), col(idCol).as("__id"),
        size(graft.text.Tokens.ws(textCol)).as("__nt"),
        length(col(textCol)).as("__nc"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt").cast("long")).as("n_tokens"),
        sum(col("__nc").cast("long")).as("n_chars"),
        min("__id").as("min_doc_id"),
        max("__id").as("max_doc_id"))

  /** Write the sharded corpus: `path/shard=<s>/part-*.parquet`. One
    * repartition on the shard key so each output directory is written
    * by exactly one task wave.
    *
    * `shuffled = true` additionally fixes a deterministic WITHIN-shard
    * order — rows sorted by md5('order:' ‖ id) — so a training job
    * that streams shards sequentially reads a reproducible global
    * shuffle of the corpus without any engine ever paying a global
    * sort: the order is (shard assignment, within-file order), both
    * content-addressed, both task-local (`sortWithinPartitions`
    * spills, never exchanges). */
  def writeShards(df: DataFrame, idCol: String, nShards: Int,
      path: String, shuffled: Boolean = false): Unit = {
    val sharded = withShard(df, idCol, nShards)
      .repartition(nShards, col("shard"))
    val ordered =
      if (shuffled) sharded.sortWithinPartitions(col("shard"),
        md5(concat(lit("order:"), col(idCol).cast("string"))), col(idCol))
      else sharded
    ordered.write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** Globally-ORDERED export without a global sort: range-partition on
    * the sort key (`repartitionByRange` samples split points in one
    * lightweight pass), sort within each partition (task-local,
    * spills, never exchanges twice), write one file per range. Files
    * in part-number order ARE the corpus in total order — a reader
    * that streams part files sequentially (an epoch over a
    * time-ordered training set) sees the global sort, yet no task
    * ever held more than its own range. Range files also align
    * pruning: a key-range scan touches only the files whose [min,max]
    * intersect (row-group stats do this for free on the sorted
    * files). The split points are engine-sampled — boundary PLACEMENT
    * is not part of the contract (content, per-file sortedness, and
    * cross-file disjointness are; LayoutSpec pins all three). */
  def writeRangeSorted(df: DataFrame, sortCols: Seq[String],
      nShards: Int, path: String): Unit =
    df.repartitionByRange(nShards, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
}
