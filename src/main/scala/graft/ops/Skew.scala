package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling utilities (docs/SCALE.md): salted joins for hot keys.
  *
  * AQE's skew-join split handles most cases at runtime
  * (`spark.sql.adaptive.skewJoin` is default-on); explicit salting is
  * the deterministic fallback when one side must pre-aggregate on a
  * pathological key (e.g. a celebrity user id in the J2 flag update,
  * or a viral game id in the upsert merge).
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key`, salting the big side into
    * `buckets` sub-keys and replicating the small side across every
    * bucket. Result is identical to `big.join(small, key)`; the shuffle
    * spreads each hot key over `buckets` reducers.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      buckets: Int): DataFrame = {
    require(buckets > 0)
    // salt = hash(row content, row position): the position term spreads
    // IDENTICAL rows (the archetypal hot key) across buckets too; the
    // join OUTPUT is salt-independent, so partition-dependent ids are
    // safe here, unlike in anything result-bearing
    val salted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col) :+
        monotonically_increasing_id(): _*)), lit(buckets)))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0), lit(buckets - 1))))
      .withColumn("__salt", col("__salt").cast("bigint"))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Exact `count(DISTINCT value)` per key with the hot key's distinct
    * SET split across reducers. Plain count-distinct is the aggregation
    * map-side partials cannot fix: every distinct value of a hot key
    * must meet on one reducer to be deduplicated, so a key with 10⁹
    * distinct values is a single-task straggler at any cluster size.
    * Salting by a hash OF THE VALUE (not the row) keeps per-salt
    * distinct sets disjoint — each (key, salt) group deduplicates its
    * own value range, and the exact total is the SUM of the partial
    * distinct counts. Both phases are ordinary hash aggregations;
    * the result is salt-count-independent and deterministic. */
  def saltedCountDistinct(df: DataFrame, key: String, value: String,
      buckets: Int): DataFrame = {
    require(buckets > 0)
    df.withColumn("__salt", pmod(xxhash64(col(value)), lit(buckets)))
      .groupBy(col(key), col("__salt"))
      .agg(count_distinct(col(value)).as("__partial"))
      .groupBy(col(key))
      .agg(sum("__partial").as("n_distinct"))
  }
}
