package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A named set of conformance queries plus their DuckDB oracle SQL.
  *
  * Contract (driver-enforced, see /root/repo/SURVEY.md §5):
  *   - every query must be deterministic: total ORDER BY, ties broken by a
  *     unique key, no wall-clock, no partition-order dependence;
  *   - column names must match the oracle exactly (driver sorts columns by
  *     name, then hashes values);
  *   - floating aggregates go through exact decimal arithmetic and are cast
  *     to double only at the end, so Spark and DuckDB agree bit-for-bit
  *     regardless of summation order (decimal addition is associative).
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]

  /** One-time shared state builds (seeded streaming state, memoized
    * gated corpora, written tables) that several registry queries
    * reuse via [[graft.CacheScope.memo]]. Bench runs these FIRST,
    * timed as their own `*_build` entries, so a single-shot benchmark
    * charges the build to an explicit line instead of booking 5–20 s of
    * setup against whichever consumer happens to run first — the per-query
    * numbers then reflect steady state (build-once/query-many is the
    * production shape). Verify ignores these: correctness queries
    * force the same memos on demand. */
  def benchBuilds: Map[String, (SparkSession, String) => Unit] = Map.empty
}

/** Scoped session-conf override — the r20 t2_watermark_dedup
  * state-store fix generalized (BASELINE.md r20: one HDFS-backed state
  * store per shuffle partition per micro-batch; 8 partitions cut the
  * fixed store count 4× and the build medians 2.6×). Streaming/seeded
  * builds wrap their delivery loop in this so micro-batch machinery,
  * state-store instances, and output file counts scale with the
  * fixture instead of the session's core count; the conf is restored
  * after completion (the stream pins its partition count at the first
  * batch, so the restore must wait for it). At 100 TB the same dial
  * sizes state stores to executors — a per-stream setting either way,
  * never a session constant. */
private[graft] object ScopedConf {
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  /** The stream-build partition count DERIVED instead of pinned: one
    * shuffle partition per advisory-sized chunk of the files `input`
    * reads, capped at the session's core count —
    * `clamp(⌈bytes / advisoryPartitionSize⌉, 1, cores)`. Bytes are the
    * lengths the scans' file indexes already hold (each distinct path
    * once, the files `input.inputFiles` names), so the driver stats no
    * file, and an input with no files (an RDD or local relation) gets
    * 1, never the planner's default-size estimate. Fixture-sized
    * inputs get the few-store/few-file behavior; at 100 TB the same
    * formula saturates the executors (bytes/advisory ≫ cores). The
    * advisory size rides `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * so cluster tuning flows through. */
  def streamPartitions(s: SparkSession,
      input: org.apache.spark.sql.DataFrame): Int = {
    val cores = math.max(1, s.sparkContext.defaultParallelism)
    val advisory = math.max(1L, s.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelationWithTable}
    val bytes = input.queryExecution.optimizedPlan.collect {
      case LogicalRelationWithTable(r: HadoopFsRelation, _) =>
        r.location.listFiles(Nil, Nil).flatMap(_.files)
    }.flatten.map(f => f.getPath.toUri.toString -> f.getLen).toMap
      .values.sum
    math.max(1L, ((bytes + advisory - 1) / advisory).min(cores)).toInt
  }

  def withStreamPartitions[T](s: SparkSession,
      input: org.apache.spark.sql.DataFrame)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions" ->
      streamPartitions(s, input).toString)(body)
}

/** Shared guard for conformance entries that plant duplicate rows
  * above a fixed id offset: fail fast (with a clear message, not an
  * NPE on an empty table) if the organic id space ever grows into the
  * planted range — there the Spark plan and the oracle could disagree
  * on the doubled id. A fixture bound, not an operator limit. */
object Planting {
  val Offset = 100000L

  def requireHeadroom(df: DataFrame, idCol: String, name: String): Unit = {
    // The max-id probe is an eager job per call, and most callers probe
    // the SAME immutable testdata scan (the r21 job profile counted one
    // ~0.1–0.3 s job per planted entry) — memoize the verdict per
    // (session, analyzed-plan, id column). Distinct inputs (filtered
    // slices, other tables) get their own entry; the check itself is
    // unchanged.
    val key = "headroom|" + idCol + "|" +
      df.queryExecution.analyzed.semanticHash()
    val ok = graft.CacheScope.memo(df.sparkSession, "", key) {
      val row = df.agg(max(idCol)).head()
      // empty table: max is NULL — trivially under the bound
      java.lang.Boolean.valueOf(row.isNullAt(0) || row.getLong(0) < Offset)
    }
    require(ok.booleanValue(), s"$name planting assumes $idCol < $Offset")
  }
}

/** Exact-arithmetic helpers shared by query modules. */
object Exact {
  /** Cast a 2-dp double column to exact decimal (lossless for testdata
    * lineitem/customer money columns, which are generated at 2 dp). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** For full-precision doubles (e.g. o_totalprice): fix a 4-dp grid before
    * aggregation so both engines sum identical decimals. */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-independent exact sum of a 2-dp double column, surfaced as
    * double (bit-identical in Spark and DuckDB). */
  def sumExact2(c: Column): Column = sum(dec2(c)).cast("double")

  def sumExact4(c: Column): Column = sum(dec4(c)).cast("double")

  /** avg = exact decimal sum (as double) / count — one IEEE division, same
    * result in both engines. */
  def avgExact2(c: Column): Column =
    sum(dec2(c)).cast("double") / count(lit(1))
}

/** Oracle SQL fragments shared across query modules (one definition —
  * the same no-copies rule as [[graft.text.Tokens]]: every module that
  * tokenizes in DuckDB references THIS rendering). */
private[queries] object OracleCtes {
  /** The corpus tokenization rule as a DuckDB CTE (mirrors
    * `graft.text.Tokens.ws` over lowered trimmed text). */
  def tokCteFor(src: String): String =
    s"""tok AS (
         SELECT doc_id,
                list_filter(string_split(lower(trim(text)), ' '),
                            t -> t <> '') AS ts,
                text
         FROM $src
       )"""

  val tokCte: String = tokCteFor("documents")

  // language-ID stop lists (text_langid / text_quality oracles)
  val enList = "['the','a','of','and','to','in']"
  val esList = "['el','la','de','y','que','los']"
  val deList = "['der','die','das','und','ist']"

  /** text_quality_gate's metric CTE (expects the `tok` CTE in scope) —
    * ONE rendering shared by the text_quality_gate oracle and the
    * curate-v8 caption gate, mirroring
    * [[graft.text.TextAnalysis.qualityGate]]'s default dials. */
  val qualityMetricsCte: String =
    """m AS (
         SELECT doc_id,
                CAST(len(ts) AS INT) AS n_words,
                CASE WHEN len(ts) > 0
                     THEN CAST(list_sum(list_transform(ts, w -> length(w))) AS DOUBLE) / len(ts)
                     ELSE 0.0 END AS mean_word_len,
                CASE WHEN length(text) > 0
                     THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / length(text)
                     ELSE 0.0 END AS symbol_ratio
         FROM tok)"""

  /** The keep predicate over [[qualityMetricsCte]]'s columns. */
  val qualityKeepSql: String =
    """(n_words BETWEEN 30 AND 10000)
         AND (mean_word_len BETWEEN 3.0 AND 10.0)
         AND (symbol_ratio <= 0.1)"""
}
