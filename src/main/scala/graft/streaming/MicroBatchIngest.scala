package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Normalize, Upsert}
import graft.pgn.{ParsedGame, PgnParser}
import graft.sources.TableSwap

/** T1-T3 micro-batch ingestion (SURVEY.md §2.7): the reference's
  * poll→parse→upsert loop (get_games_from_tv.py:122-147) re-expressed
  * as batch merges into a Parquet table.
  *
  * Design decision (SURVEY §7.4.6): state lives in the TARGET TABLE,
  * not in streaming operator state — identical to the reference's
  * "dedup state is the Postgres table" model. Each batch is an
  * idempotent last-write-wins merge, so re-running a crashed batch
  * converges (the property docs/failure_simulation.md demonstrates).
  * A game re-seen in a later batch simply overwrites (T3: no watermark,
  * late data always accepted — reference semantics).
  *
  * The HTTP channel poll is a pluggable `fetch: Int => Seq[String]`
  * (batch index → PGN documents), matching how the reference's tests
  * mock `requests` (test_get_games_from_tv.py:64-69). Retry/backoff/
  * rate-limit (T5/T6) belong to that source wrapper, not the plan.
  */
object MicroBatchIngest {

  case class BatchStats(batch: Int, parsedGames: Long, tableRows: Long)

  /** Parse one micro-batch of PGN documents into normalized game rows.
    * `flatMap` over documents — per-partition, no shuffle (F1/F2 via
    * the imperative splitter shared with the batch parser). Each row
    * carries `__seq`, its delivery order within the batch (document
    * index × block index) — the tiebreaker that makes in-batch
    * re-delivery of a game deterministic (last block wins, like the
    * reference's sequential upsert loop). */
  def parseBatch(spark: SparkSession, docs: Seq[String],
      ingestedAt: java.sql.Timestamp): DataFrame = {
    import spark.implicits._
    val games: DataFrame = spark.createDataset(docs.zipWithIndex)
      .flatMap { case (doc, docIdx) =>
        PgnParser.splitBlocks(doc).zipWithIndex.map { case (g, blockIdx) =>
          (g.headers, g.moves, docIdx.toLong * 1000000L + blockIdx)
        }
      }
      .toDF("headers", "moves", "__seq")
    Normalize.buildGameData(games, ingestedAt = lit(ingestedAt),
      keepCols = Seq("__seq"))
  }

  /** Merge a batch into the Parquet target (create if absent):
    * last-write-wins on id_game ordered by tm_ingested. */
  def mergeIntoTable(spark: SparkSession, batch: DataFrame,
      tablePath: String): Long = {
    // in-batch dedup first (total order: batch ts, then delivery seq),
    // then the merge proper — the stored table carries no __seq.
    val deduped = Upsert.firstPerKey(batch, "id_game",
      Seq(desc("tm_ingested"), desc("__seq"))).drop("__seq")
    mergeParquet(spark, deduped, tablePath, "id_game")
  }

  /** Generalized idempotent parquet merge (also the `foreachBatch` body
    * of [[StreamMerge]]): `incoming`, already unique per key (callers
    * dedup with [[Upsert.firstPerKey]]), replaces the existing table's
    * rows with the same key, committed through
    * [[graft.sources.TableSwap]]. Returns the merged row count, observed
    * on the write itself (no re-read).
    *
    * Crash safety (what makes StreamMerge's replay convergence hold):
    * the swap never deletes the old table before the new one is in
    * place, and the read rolls a half-finished swap forward — so a
    * crash at ANY point leaves either the old or the new table
    * reachable, and the replayed batch re-merges against it. */
  def mergeParquet(spark: SparkSession, incoming: DataFrame,
      tablePath: String, key: String): Long =
    TableSwap.commit(TableSwap.read(spark, tablePath)
      .fold(incoming)(Upsert.replaceByKey(_, incoming, key)), tablePath)

  /** The micro-batch loop: `numBatches` polls of `fetch`, each merged
    * into the table; per-batch stats mirror the reference's
    * added/updated tallies (A3). Batch timestamps are deterministic
    * (epoch + batch index) so tests and oracles are stable. */
  def run(spark: SparkSession, fetch: Int => Seq[String],
      tablePath: String, numBatches: Int): Seq[BatchStats] =
    (0 until numBatches).map { b =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.ofEpochSecond(1700000000L + b * 60, 0,
          java.time.ZoneOffset.UTC))
      val batch = parseBatch(spark, fetch(b), ts)
      val n = mergeIntoTable(spark, batch, tablePath)
      BatchStats(b, batch.count(), n)
    }

}

