package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Cleaning, Normalize}
import graft.pgn.PgnParser

/** End-to-end conformance for the chess PGN pipeline (SURVEY.md §2.2,
  * §2.3, §3.3) under the DuckDB oracle: PGN text is synthesized
  * DETERMINISTICALLY from the customer table (key-modulo variations
  * cover every cleaning rule), then the REAL production path runs —
  * PgnParser.parseLines → Normalize.buildGameData →
  * Cleaning.validateAndClean — and the oracle recomputes the expected
  * output directly from the base table with portable SQL.
  *
  * This hash-checks: F1 block boundaries, F2 header parse, F3 defaults,
  * F4 id extraction, F5 elo casts, F6 date parse, F10 title, F11 eco,
  * F12 termination, F15 notes, P1 required fields, P2 result domain,
  * P3 delete-on-invalid routing.
  */
object ChessPipeline extends QueryModule {

  private def synthesizedLines(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    val result = when(k % 10 === 1, lit("*"))
      .otherwise(element_at(
        array(lit("1-0"), lit("0-1"), lit("1/2-1/2")), (k % 3).cast("int") + 1))
    val term = element_at(array(lit("Normal"), lit("Time forfeit"),
      lit("Unterminated"), lit("RESIGNED"), lit("abandoned ")),
      (k % 5).cast("int") + 1)
    val eco = when(k % 5 === 0, lit("?")).otherwise(lit("C20"))
    val elo = when(k % 6 === 0, lit("bad"))
      .otherwise((lit(1000) + k % 1500).cast("string"))
    val blackLine = when(k % 11 === 7, lit("[Event \"synthetic\"]"))
      .otherwise(concat(lit("[Black \"u"), k, lit("b\"]")))

    Tables.customer(s, d).select(k)
      .select(k, posexplode(array(
        concat(lit("[Site \"https://lichess.org/g"), k, lit("\"]")),
        concat(lit("[Date \"2025.05.0"), (k % 9).cast("int") + 1, lit("\"]")),
        concat(lit("[White \"u"), k, lit("w\"]")),
        blackLine,
        concat(lit("[Result \""), result, lit("\"]")),
        concat(lit("[WhiteElo \""), elo, lit("\"]")),
        concat(lit("[ECO \""), eco, lit("\"]")),
        concat(lit("[Termination \""), term, lit("\"]")),
        lit("1. e4 e5 2. Nf3 Nc6"))))
      // shard the synthetic corpus across 32 virtual files so the
      // parser's per-file sessionization window parallelizes (a game's
      // lines share one k → never split across shards)
      .select(concat(lit("synth"), k % 32).as("src_file"),
        (k * 100 + col("pos")).as("line_no"),
        col("col").as("line"))
  }

  // The parse+normalize stage (the expensive part: per-file
  // sessionization window + grouped header agg) feeds BOTH registry
  // entries, and a Verify/Bench run calls them back-to-back. Memoize
  // and persist it per (session, dir) so the reject split is a cached
  // filter instead of a second full parse. validateAndClean itself is
  // a pure projection+filter — cheap to re-derive.
  private def runPipeline(s: SparkSession, d: String): Cleaning.CleanResult = {
    val normalized = graft.CacheScope.memo(s, d, "pgn_normalized") {
      val parsed = PgnParser.parseLines(synthesizedLines(s, d))
      graft.CacheScope.track(Normalize.buildGameData(parsed,
        ingestedAt = lit("2025-05-02 00:00:00").cast("timestamp")))
    }
    Cleaning.validateAndClean(normalized,
      validatedAt = lit("2025-05-02 00:00:00").cast("timestamp"))
  }

  private val outCols: Seq[String] = Seq("id_game", "id_user_white",
    "id_user_black", "val_result", "val_termination", "val_elo_white",
    "val_opening_eco_code", "val_title_white", "val_moves_pgn",
    "dt_game", "val_validation_notes", "ind_validated")

  /** The cleaned-games table (stable output columns, incl. dt_game) —
    * shared with LayoutOps' partition-layout proof. */
  private[queries] def cleanedGames(s: SparkSession, d: String): DataFrame =
    runPipeline(s, d).cleaned.select(outCols.map(col): _*)

  private def pgnCleanE2e(s: SparkSession, d: String): DataFrame =
    cleanedGames(s, d)
      .orderBy("id_game")

  private def pgnRejectsE2e(s: SparkSession, d: String): DataFrame =
    runPipeline(s, d).rejected
      .select(col("id_game"), col("val_validation_notes"))
      .orderBy("id_game")

  /** The synthesized corpus as whole PGN DOCUMENTS (one per virtual
    * source file, lines joined in line order) — the delivery unit of
    * the streaming ingest path. */
  private def synthesizedDocs(s: SparkSession, d: String): DataFrame =
    synthesizedLines(s, d)
      .groupBy("src_file")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("line_no"), col("line")))),
        x => x.getField("line")), "\n").as("doc"))

  /** Run the STREAMING ingest end-to-end once per (session, dir):
    * documents → distributed PGN block split → normalized rows →
    * parquet file-source stream → StreamMerge (checkpointed
    * foreachBatch idempotent LWW merge). Two deliveries: the full
    * corpus, then a re-delivery of a quarter of the files with a later
    * ingest timestamp — the second run must process ONLY the new files
    * (checkpoint) and the merge must overwrite, not duplicate (LWW).
    * Returns the merged table path. */
  private def streamedTable(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "pgn_streamed") { base =>
      import s.implicits._
      val (src, cp, table) = (s"$base/src", s"$base/cp", s"$base/games")
      def normalized(docs: DataFrame, ts: String): DataFrame = {
        val parsed = docs.select("doc").as[String]
          .flatMap(doc => PgnParser.splitBlocks(doc).zipWithIndex.map {
            case (g, i) => (g.headers, g.moves, i.toLong)
          })
          .toDF("headers", "moves", "__seq")
        Normalize.buildGameData(parsed,
          ingestedAt = lit(ts).cast("timestamp"), keepCols = Seq("__seq"))
      }
      def runStream(schema: org.apache.spark.sql.types.StructType): Unit = {
        val stream = s.readStream.schema(schema).parquet(src)
        Fixture.await(graft.streaming.StreamMerge.start(stream, table, cp,
            "id_game", Seq(desc("tm_ingested"), desc("__seq"))),
          "pgn_stream_e2e")
      }
      val docs = synthesizedDocs(s, d)
      // The source WRITES stay at the session's partitioning — the
      // CPU-heavy block-split parse executes inside them and wants all
      // cores; only the stream MERGES are scoped to data-derived
      // shuffle partitions (ScopedConf.streamPartitions over the
      // just-written parquet source — real file bytes, not estimates;
      // r20 t2 precedent).
      def scoped(body: => Unit): Unit =
        graft.queries.ScopedConf.withStreamPartitions(
          s, s.read.parquet(src))(body)
      val first = normalized(docs, "2025-05-01 00:00:00")
      first.write.mode("append").parquet(src)
      scoped { runStream(first.schema) }
      // re-delivery of a quarter of the corpus, one minute later: same
      // games, later tm_ingested — LWW overwrite, zero duplicates
      normalized(docs.filter(col("src_file").isin(
          "synth0", "synth1", "synth2", "synth3", "synth4", "synth5",
          "synth6", "synth7")), "2025-05-01 00:01:00")
        .write.mode("append").parquet(src)
      scoped { runStream(first.schema) }
      table
    }

  /** T1/T2/T3 in the registry denominator: the streaming-ingested table
    * fed through the SAME cleaning stage must reproduce the batch
    * pipeline's output bit-for-bit — this entry shares pgn_clean_e2e's
    * DuckDB oracle, so the whole stream path (doc split, normalize,
    * checkpointed incremental merge, LWW re-delivery) is hash-proven,
    * not just rows-counted. */
  private def pgnStreamE2e(s: SparkSession, d: String): DataFrame = {
    val merged = s.read.parquet(streamedTable(s, d))
    Cleaning.validateAndClean(merged,
        validatedAt = lit("2025-05-02 00:00:00").cast("timestamp"))
      .cleaned.select(outCols.map(col): _*)
      .orderBy("id_game")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pgn_clean_e2e"   -> (pgnCleanE2e _),
    "pgn_rejects_e2e" -> (pgnRejectsE2e _),
    "pgn_stream_e2e"  -> (pgnStreamE2e _)
  )

  /** One-time shared builds benched as explicit entries: the parse+
    * normalize memo feeding both batch entries, and the checkpointed
    * two-delivery streaming ingest (r8: pgn_stream_e2e read 8× its
    * builder median because the stream run was booked in-query). */
  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map(
      "pgn_parse_build"  -> ((s, d) => {
        // force the cached normalize memo (caching alone is lazy)
        runPipeline(s, d).cleaned.queryExecution.toRdd.count(); ()
      }),
      "pgn_stream_build" -> ((s, d) => { streamedTable(s, d); () })
    )

  // The oracle recomputes expected outputs directly from `customer`,
  // mirroring the synthesis rules + the reference cleaning semantics.
  private val synthCte =
    """WITH synth AS (
         SELECT 'g' || c_custkey AS id_game,
                'u' || c_custkey || 'w' AS id_user_white,
                CASE WHEN c_custkey % 11 = 7 THEN ''
                     ELSE 'u' || c_custkey || 'b' END AS id_user_black,
                CASE WHEN c_custkey % 10 = 1 THEN '*'
                     WHEN c_custkey % 3 = 0 THEN '1-0'
                     WHEN c_custkey % 3 = 1 THEN '0-1'
                     ELSE '1/2-1/2' END AS val_result,
                CASE WHEN c_custkey % 5 = 0 THEN 'Normal'
                     WHEN c_custkey % 5 = 1 THEN 'Time forfeit'
                     WHEN c_custkey % 5 = 2 THEN 'Unterminated'
                     WHEN c_custkey % 5 = 3 THEN 'RESIGNED'
                     ELSE 'abandoned ' END AS raw_term,
                CASE WHEN c_custkey % 6 = 0 THEN NULL
                     ELSE CAST(1000 + c_custkey % 1500 AS INT) END AS val_elo_white,
                CASE WHEN c_custkey % 5 = 0 THEN NULL
                     ELSE 'C20' END AS val_opening_eco_code,
                CAST('2025-05-0' || CAST(c_custkey % 9 + 1 AS VARCHAR) AS DATE) AS dt_game
         FROM customer
       )"""

  private val baseOracles: Map[String, String] = Map(
    "pgn_clean_e2e" -> (synthCte +
      """
         SELECT id_game, id_user_white, id_user_black, val_result,
                CASE upper(trim(raw_term))
                  WHEN 'TIME FORFEIT' THEN 'TIME_FORFEIT'
                  WHEN 'UNTERMINATED' THEN 'NORMAL'
                  WHEN 'NORMAL' THEN 'NORMAL'
                  WHEN 'RESIGNED' THEN 'RESIGNED'
                  WHEN 'ABANDONED' THEN 'ABANDONED'
                  ELSE 'NORMAL' END AS val_termination,
                val_elo_white, val_opening_eco_code,
                'None' AS val_title_white,
                '1. e4 e5 2. Nf3 Nc6' AS val_moves_pgn,
                dt_game,
                CASE WHEN val_opening_eco_code IS NULL AND upper(trim(raw_term)) = 'TIME FORFEIT'
                       THEN 'Set val_opening_eco_code to NULL, Normalized termination: ' || raw_term || ' → TIME_FORFEIT'
                     WHEN val_opening_eco_code IS NULL AND upper(trim(raw_term)) = 'UNTERMINATED'
                       THEN 'Set val_opening_eco_code to NULL, Normalized termination: ' || raw_term || ' → NORMAL'
                     WHEN val_opening_eco_code IS NULL
                       THEN 'Set val_opening_eco_code to NULL'
                     WHEN upper(trim(raw_term)) = 'TIME FORFEIT'
                       THEN 'Normalized termination: ' || raw_term || ' → TIME_FORFEIT'
                     WHEN upper(trim(raw_term)) = 'UNTERMINATED'
                       THEN 'Normalized termination: ' || raw_term || ' → NORMAL'
                     ELSE 'Valid' END AS val_validation_notes,
                TRUE AS ind_validated
         FROM synth
         WHERE id_user_black <> '' AND val_result IN ('1-0','0-1','1/2-1/2')
         ORDER BY id_game"""),

    "pgn_rejects_e2e" -> (synthCte +
      """
         SELECT id_game,
                CASE WHEN id_user_black = '' THEN 'Missing field: id_user_black'
                     ELSE 'Invalid result: ' || val_result END AS val_validation_notes
         FROM synth
         WHERE id_user_black = '' OR val_result NOT IN ('1-0','0-1','1/2-1/2')
         ORDER BY id_game""")
  )

  // the streaming path must land EXACTLY where the batch path lands —
  // same cleaning stage, same oracle, hash-compared
  val oracles: Map[String, String] =
    baseOracles + ("pgn_stream_e2e" -> baseOracles("pgn_clean_e2e"))
}
