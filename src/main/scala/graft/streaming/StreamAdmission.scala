package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Dedup
import graft.ops.BloomPrune
import graft.sources.TableSwap

/** Streaming incremental-dedup ADMISSION — the daily-ingest production
  * shape: a `readStream` of candidate documents is checked per
  * micro-batch against the persisted corpus state (exact text match +
  * near-dup shingle Jaccard), and only novel documents are admitted
  * and folded into that state. The batch-mode ancestor is the
  * `dedup_incremental` registry entry; this operator runs the same
  * exact+near decision inside `foreachBatch` with checkpointed
  * delivery, composing [[StreamMerge]]'s merge discipline with
  * [[graft.ops.BloomPrune]]'s sketch prefilter.
  *
  * State layout under `statePath` (all parquet, all swap-replaced
  * atomically):
  *   - `docs/` (id, text, n_sh): the admitted corpus. Written LAST —
  *     presence of an id here is the COMMIT marker; every admission
  *     decision keys off this table, so a crash between state writes
  *     can never produce a half-visible document.
  *   - `shingles/` (id, shingle, __k): posting lists of admitted docs
  *     (per-doc-distinct 3-gram shingles), keyed for idempotent merge.
  *   - `shdf/` (shingle, df): document frequencies of admitted docs'
  *     shingles, maintained incrementally so no batch ever rescans the
  *     corpus to apply the df cap.
  *
  * Decision semantics for a batch B against state S (mirrored by the
  * `dedup_stream_admit` DuckDB oracle):
  *   - redelivered ids (already in S.docs) are skipped — replay of a
  *     processed batch is a no-op, so lost checkpoints converge;
  *   - exact: B's text equals any S.docs text (exact semi join, with a
  *     batch-text Bloom sketch pruning the state side first), or
  *     duplicates an earlier text within B (min id wins);
  *   - near: Jaccard over df-capped shingles > tau against some
  *     committed doc, where df = S.shdf + B's own shingle counts
  *     (i.e. the cap sees S ∪ B, matching a batch run over the union)
  *     and sizes are RAW per-doc distinct-shingle counts (stored at
  *     admission — no recount of S);
  *   - admitted = neither. Near-dups WITHIN one batch are admitted
  *     together, exactly like the batch operator applied to that
  *     increment — streaming at finer granularity tightens, never
  *     loosens, the check.
  *
  * Scale shape (100 TB corpus, GB-scale daily batches): per batch, S
  * is touched only through (a) the docs id/text anti+semi joins —
  * key-partitioned equi joins, with a sketch of the BATCH texts
  * prefiltering the state side of the exact probe; (b) posting lists
  * for the BATCH's shingles only (the state
  * shingle table is shingle-keyed, so the broadcast of B's kept
  * shingle set prunes the read); (c) shdf rows for B's shingles. No
  * full-state scan, no all-pairs work. The one honest seam: the three
  * state tables are not one transaction — a crash INSIDE commit() can
  * leave shdf one batch behind or ahead (bounded drift in a pruning
  * heuristic, self-limited because decisions key off docs/), the
  * price of parquet-directory state; a table format with multi-table
  * transactions would close it. Similarly, the keyed merges rewrite
  * each state table whole per batch — at 100 TB, state partitioned by
  * id/shingle range (or a merge-on-read table format) confines each
  * batch's rewrite to touched partitions; the decision logic above is
  * unchanged by that layout swap.
  */
object StreamAdmission {

  /** Loaded state handles (None until first commit/seed). */
  final case class State(docs: Option[DataFrame],
      shingles: Option[DataFrame], shdf: Option[DataFrame])

  /** TableSwap's read rolls a half-finished swap forward first: a
    * crash between the two moves leaves only `<path>.bak`, and deciding
    * a batch against a missing docs/shdf table would re-admit
    * duplicates / clobber the accumulated df counts. */
  def loadState(spark: SparkSession, statePath: String): State = State(
    TableSwap.read(spark, s"$statePath/docs"),
    TableSwap.read(spark, s"$statePath/shingles"),
    TableSwap.read(spark, s"$statePath/shdf"))

  /** Pure per-batch decision: one row per DISTINCT incoming id not yet
    * committed, with (id, text, n_sh, exact_dup, near_dup, admitted).
    * Does not touch state on disk beyond reads. */
  def flagBatch(batch: DataFrame, state: State, idCol: String,
      textCol: String, tau: Double, maxShingleDf: Long,
      expectedBatch: Long): DataFrame = {
    val b0 = batch.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
      .dropDuplicates("id")
    // redelivery skip: committed ids are settled, replay must no-op
    val fresh = state.docs match {
      case Some(d) => b0.join(d.select("id"), Seq("id"), "left_anti")
      case None => b0
    }
    // within-batch exact copies: first id wins, the rest are dups
    val wb = Window.partitionBy("text").orderBy("id")
    val b1 = fresh.withColumn("__within", row_number().over(wb) > 1)
    // exact vs committed corpus: the sketch is built from the BATCH
    // texts (batch-scale — the cheap side) and prunes the STATE scan
    // before the semi join, so the big side never feeds an exchange
    // with rows that cannot match; the exact join then removes the
    // ≤fpp false-positive remnant. (Sketching the state instead would
    // add a full state scan per batch to prune the already-small side.)
    val exactIds = state.docs match {
      case Some(d) =>
        val sketch = BloomPrune.buildKeySketch(b1, "text", expectedBatch)
        b1.join(
            d.select("text")
              .filter(BloomPrune.mightContain(sketch, col("text"))),
            Seq("text"), "left_semi")
          .select(col("id")).withColumn("__exact_state", lit(true))
      case None =>
        b1.limit(0).select(col("id")).withColumn("__exact_state", lit(true))
    }
    val bSh = Dedup.shingles(b1, "id", "text")
    val bSizes = bSh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    // near vs committed corpus over df-capped postings
    val nearIds = (state.shingles, state.docs) match {
      case (Some(sSh), Some(sDocs)) =>
        val bDf = bSh.groupBy("shingle").agg(count(lit(1)).as("__bdf"))
        val dfAll = state.shdf match {
          case Some(sdf) => sdf.join(bDf, Seq("shingle"), "full_outer")
            .select(col("shingle"),
              (coalesce(col("df"), lit(0L)) +
                coalesce(col("__bdf"), lit(0L))).as("__df"))
          case None => bDf.select(col("shingle"), col("__bdf").as("__df"))
        }
        val keptShingles = dfAll.filter(col("__df") <= maxShingleDf)
          .select("shingle")
        val bKept = bSh.join(keptShingles, Seq("shingle"))
        // batch shingle set is batch-scale: broadcast it to prune the
        // (shingle-keyed) state posting read to matching lists only
        val sPost = sSh.select(col("shingle"), col("id").as("__sid"))
          .join(broadcast(bKept.select("shingle").distinct()),
            Seq("shingle"))
          // committed docs only: an uncommitted posting (crash inside
          // a previous commit) must not influence decisions
          .join(sDocs.select(col("id").as("__sid"),
            col("n_sh").as("__n2")), Seq("__sid"))
        bKept.join(sPost, Seq("shingle"))
          .filter(col("id") =!= col("__sid"))
          .groupBy("id", "__sid", "__n2")
          .agg(count(lit(1)).as("__common"))
          .join(bSizes, Seq("id"))
          .filter(col("__common").cast("double") /
            (col("n_sh") + col("__n2") - col("__common")) > tau)
          .select("id").distinct()
          .withColumn("__near_state", lit(true))
      case _ =>
        b1.limit(0).select(col("id")).withColumn("__near_state", lit(true))
    }
    b1.join(exactIds, Seq("id"), "left")
      .join(nearIds, Seq("id"), "left")
      .join(bSizes, Seq("id"), "left")
      .select(col("id"), col("text"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        (col("__within") ||
          coalesce(col("__exact_state"), lit(false))).as("exact_dup"),
        coalesce(col("__near_state"), lit(false)).as("near_dup"))
      .withColumn("admitted", !(col("exact_dup") || col("near_dup")))
  }

  /** Fold admitted rows (id, text, n_sh) into state: postings first,
    * then df counts, docs LAST (the commit marker — see scaladoc). The
    * caller must pass a MATERIALIZED frame (no lineage into the state
    * paths being replaced). */
  private def commitAdmitted(spark: SparkSession, admitted: DataFrame,
      statePath: String): Unit = {
    // injective key: id is all digits, so the first ':' ends it — no
    // (id, shingle) pair collides with another pair's concatenation.
    // (Re-shingling the ADMITTED rows — a subset of the batch flagBatch
    // already shingled — is a deliberate batch-scale recompute: passing
    // the flag-stage postings through would couple the two stages'
    // lifecycles for a scan bounded by the admitted slice of one batch.)
    val aSh = graft.CacheScope.trackLocalCheckpoint(
      Dedup.shingles(admitted, "id", "text").withColumn("__k",
        concat(col("id").cast("string"), lit(":"), col("shingle"))))
    MicroBatchIngest.mergeParquet(spark, aSh, s"$statePath/shingles", "__k")
    val aDf = aSh.groupBy("shingle").agg(count(lit(1)).as("__d"))
    val newDf = graft.CacheScope.trackLocalCheckpoint(
      TableSwap.read(spark, s"$statePath/shdf") match {
        case Some(sdf) => sdf.join(aDf, Seq("shingle"), "full_outer")
          .select(col("shingle"), (coalesce(col("df"), lit(0L)) +
            coalesce(col("__d"), lit(0L))).as("df"))
        case None => aDf.select(col("shingle"), col("__d").as("df"))
      })
    TableSwap.commit(newDf, s"$statePath/shdf")
    MicroBatchIngest.mergeParquet(spark, admitted, s"$statePath/docs", "id")
    // both checkpoints are fully consumed by the writes above — free
    // their blocks now instead of leaving them to GC (r22 lifecycle)
    graft.CacheScope.release(aSh)
    graft.CacheScope.release(newDf)
  }

  /** Initialize state from an already-curated corpus (no admission
    * checks — the seed IS the corpus). Refuses to overwrite. */
  def seed(spark: SparkSession, docs: DataFrame, statePath: String,
      idCol: String, textCol: String): Unit = {
    require(!TableSwap.exists(s"$statePath/docs"),
      s"seed: state already exists at $statePath")
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text")).dropDuplicates("id")
    val sh = Dedup.shingles(base, "id", "text")
    val sized = graft.CacheScope.trackLocalCheckpoint(base.join(
        sh.groupBy("id").agg(count(lit(1)).as("n_sh")), Seq("id"), "left")
      .select(col("id"), col("text"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh")))
    commitAdmitted(spark, sized, statePath)
    graft.CacheScope.release(sized)   // consumed by the commit
  }

  /** One micro-batch: flag, then commit admitted rows. Returns the
    * materialized flags (for stats/tests). */
  private[graft] def admitAndCommit(spark: SparkSession, batch: DataFrame,
      statePath: String, idCol: String, textCol: String, tau: Double,
      maxShingleDf: Long, expectedBatch: Long): DataFrame = {
    // tracked, not bare: the flags frame is RETURNED (stats/tests), so
    // the caller frees it with CacheScope.release ([[start]] does, per
    // batch) or leaves it to session release
    val flags = graft.CacheScope.trackLocalCheckpoint(
      flagBatch(batch, loadState(spark, statePath), idCol,
        textCol, tau, maxShingleDf, expectedBatch))
    val admitted = flags.filter(col("admitted"))
      .select("id", "text", "n_sh")
    if (!admitted.isEmpty) commitAdmitted(spark, admitted, statePath)
    flags
  }

  /** Start the checkpointed admission stream. Each micro-batch is one
    * distributed flag+commit; streaming operator state stays empty
    * (dedup state lives in the parquet tables), so restarts replay
    * only the unfinished batch and [[flagBatch]]'s id skip makes the
    * replay converge. */
  def start(stream: DataFrame, statePath: String, checkpoint: String,
      idCol: String, textCol: String, tau: Double = 0.3,
      maxShingleDf: Long = 1000L,
      expectedBatch: Long = 1L << 20): StreamingQuery =
    ForeachBatch.start(stream, checkpoint) { (batch, _) =>
      // nothing reads a batch's flags once its commit has landed
      graft.CacheScope.release(admitAndCommit(batch.sparkSession, batch,
        statePath, idCol, textCol, tau, maxShingleDf, expectedBatch))
    }

}
