package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed merge semantics — the two upsert flavors the reference
  * implements with per-row SELECT-then-INSERT/UPDATE round trips,
  * re-expressed as set-oriented merges (SURVEY.md §2.4 J1/J3, §2.5 A1).
  *
  * Scale: one shuffle on the key per merge; the incoming side is
  * deduped map-side first (row_number over key). This is the same
  * idempotent-merge property the reference relies on for crash safety
  * (docs/failure_simulation.md) — re-running a batch converges.
  */
object Upsert {

  /** Last-write-wins (games, game_upsert.py:84-110): incoming rows
    * replace existing rows with the same key; within incoming, the
    * FIRST row under `orderCols` wins. Pass a TOTAL order (e.g.
    * `Seq(desc("tm_ingested"), desc("__seq"))` with a per-row delivery
    * sequence) — ordering by a batch-constant timestamp alone leaves
    * the winner to partition order. */
  def lastWriteWins(existing: DataFrame, incoming: DataFrame,
      key: String, orderCols: Seq[Column]): DataFrame =
    replaceByKey(existing, firstPerKey(incoming, key, orderCols), key)

  /** The FIRST row per `key` under `orderCols` (pass a total order). */
  def firstPerKey(rows: DataFrame, key: String,
      orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    rows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** `incoming` (already unique per key) replaces existing rows with
    * the same key: the merge step of [[lastWriteWins]]. */
  def replaceByKey(existing: DataFrame, incoming: DataFrame,
      key: String): DataFrame =
    existing.join(incoming, Seq(key), "left_anti").unionByName(incoming)

  /** First-write-wins (users, backfill_user_profiles.py:169-220):
    * incoming rows whose key already exists are DISCARDED — existing
    * rows are never updated (docs/assumptions.md:36).
    */
  def firstWriteWins(existing: DataFrame, incoming: DataFrame,
      key: String, orderCols: Seq[Column]): DataFrame = {
    val dedup = firstPerKey(incoming, key, orderCols)
    existing.unionByName(dedup.join(existing, Seq(key), "left_anti"))
  }

  /** Incremental SCD-2 maintenance — fold a NEW changelog slice into
    * an existing history without re-deriving from the full log (the
    * foreachBatch / daily-CDC production shape). `history` must carry
    * (key, tieBreak, attr, valid_from, valid_to, is_current) — i.e.
    * [[scd2FromChangelog]]'s output with the tie-break column kept, so
    * equal-timestamp changes inside history replay in their original
    * order.
    *
    * Correctness: derivation = "drop rows whose attr equals the
    * previous row's" is prefix-stable — applying it to (already-
    * collapsed prefix ++ new suffix) equals applying it to the full
    * log, because every dropped raw row carries the same attr as its
    * surviving predecessor. The boundary interval close/extend falls
    * out of the same recomputation. So: merge(derive(prefix), suffix)
    * ≡ derive(prefix ++ suffix) — the j8_scd2_merge registry entry
    * hash-proves exactly that, sharing j8_scd2_history's oracle.
    *
    * Scale: untouched keys are anti-joined out and never reshuffled;
    * only keys PRESENT in the slice re-derive, over version-count-
    * sized history rows + the slice — per-batch work is
    * O(slice + affected history), independent of total key count.
    *
    * The append-only precondition (slice strictly after each affected
    * key's RAW prefix) is validated with one small aggregate join
    * (affected-keys-scale) — against the surviving change points,
    * which is all collapsed history can witness: a slice row landing
    * between a key's last change and a later same-attr continuation
    * that derivation dropped passes the guard undetected (the raw
    * rows are gone). Sources that can reorder beyond that window must
    * keep their own high-water mark; disable via `validate` only when
    * the CDC source guarantees monotone timestamps. */
  def scd2MergeSlice(history: DataFrame, slice: DataFrame, key: String,
      ts: String, attr: String, tieBreak: String,
      validate: Boolean = true): DataFrame = {
    val outCols = Seq(key, tieBreak, attr,
      "valid_from", "valid_to", "is_current").map(col)
    val affected = slice.select(col(key)).distinct()
    val histA = history.join(affected, Seq(key), "left_semi")
    val histU = history.join(affected, Seq(key), "left_anti")
    if (validate) {
      // lexicographic (ts, tieBreak) frontier: equal-timestamp rows
      // are legal when the slice's tie-break sorts after the
      // history's — the same total order the derivation itself uses
      val overlaps = histA.groupBy(col(key))
        .agg(max(struct(col("valid_from").as("t"),
          col(tieBreak).as("k"))).as("__mx"))
        .join(slice.groupBy(col(key))
          .agg(min(struct(col(ts).as("t"), col(tieBreak).as("k")))
            .as("__mn")),
          Seq(key))
        .filter(col("__mn") <= col("__mx")).count()
      require(overlaps == 0, s"scd2MergeSlice: slice overlaps existing " +
        s"history for $overlaps key(s) — the changelog must be " +
        "append-only per key in (ts, tieBreak) order")
    }
    val pseudo = histA.select(col(key), col("valid_from").as(ts),
        col(attr), col(tieBreak))
      .unionByName(slice.select(col(key), col(ts), col(attr),
        col(tieBreak)))
    val derived = scd2FromChangelog(pseudo, key, ts, attr, tieBreak)
      .select(outCols: _*)
    histU.select(outCols: _*).unionByName(derived)
  }

  /** Changelog → SCD-2 history (the third upsert flavor: keep EVERY
    * version with its validity interval, not just the winner).
    * Consecutive rows with an unchanged `attr` collapse into one
    * interval (null-safe change test); each surviving version gets
    * `valid_from` = its change timestamp, `valid_to` = the next
    * change's timestamp (null = still current).
    *
    * `tieBreak` must make (ts, tieBreak) a total order per key — same
    * contract as [[lastWriteWins]]'s orderCols.
    *
    * Scale: one shuffle on `key`; the change-detect and interval
    * windows use the SAME partitioning and sort, so Catalyst reuses
    * one exchange for both passes. Output is version-count-sized
    * (≤ changelog), never key-count × time. */
  def scd2FromChangelog(log: DataFrame, key: String, ts: String,
      attr: String, tieBreak: String): DataFrame = {
    // fail fast on reserved temp/output names (withColumn silently
    // replaces) — same discipline as Sampling's operators; a re-derived
    // SCD export often already carries valid_from/is_current columns
    graft.sampling.Sampling.requireFresh(log,
      "__prev", "__first", "valid_from", "valid_to", "is_current")
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieBreak))
    log
      .withColumn("__prev", lag(col(attr), 1).over(w))
      .withColumn("__first", row_number().over(w) === 1)
      // null-safe: a change is "not distinct-equal" to the previous
      // value; the first row per key always opens an interval
      .filter(col("__first") || !(col(attr) <=> col("__prev")))
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__prev", "__first")
  }
}
