package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The cleaning pass (validate_tv_channel_games.py:102-190) as ONE
  * distributed projection+filter — where the reference did a full
  * `SELECT *` into driver memory then a per-row UPDATE or DELETE
  * round-trip (SURVEY.md §3.3), this is a single job with two outputs.
  *
  * Validations short-circuit in reference order (required fields, then
  * result domain — `_process_row` loop :109-114); failures DELETE the
  * row (here: route it to `rejected` with the first failure's note).
  * Survivors get the scalar rewrites F10-F12 + F5, the accumulated
  * notes F15, `ind_validated=true`, `tm_validated=now`.
  */
object Cleaning {

  case class CleanResult(cleaned: DataFrame, rejected: DataFrame)

  val requiredFields = Seq("id_user_white", "id_user_black",
    "val_moves_pgn", "val_result")                     // :48
  val validResults = Seq("1-0", "0-1", "1/2-1/2")      // :49
  val canonTerm = Seq("NORMAL", "TIME_FORFEIT", "RESIGNED", "ABANDONED") // :50

  private def falsy(c: Column): Column = c.isNull || c === ""

  /** `_clean_title` (:78-83): falsy or none/unranked → "None", else
    * TRIM+UPPER. */
  private def cleanTitle(c: Column): Column =
    when(falsy(c) || lower(trim(c)).isin("none", "unranked"), lit("None"))
      .otherwise(upper(trim(c)))

  /** Termination canonicalization (:134-141): upper-trimmed through
    * {TIME FORFEIT→TIME_FORFEIT, UNTERMINATED→NORMAL, identity on canon},
    * default NORMAL. */
  private def canonTermination(c: Column): Column = {
    val key = upper(trim(coalesce(c, lit(""))))
    coalesce(
      element_at(typedLit(
        Map("TIME FORFEIT" -> "TIME_FORFEIT", "UNTERMINATED" -> "NORMAL") ++
          canonTerm.map(t => t -> t).toMap), key),
      lit("NORMAL"))
  }

  /** P4 revalidation gate (`_needs_tv_fix` :86-95) — pushed down to the
    * scan instead of applied driver-side after a full fetch. */
  def needsFix(df: DataFrame, forceRevalidate: Boolean = true): DataFrame =
    if (forceRevalidate) df
    else df.filter(!col("ind_validated") ||
      col("val_opening_eco_code").contains("?") ||
      !col("val_termination").isin(canonTerm: _*))

  /** The full pass. `validatedAt` injectable for deterministic tests. */
  def validateAndClean(games: DataFrame,
      validatedAt: Column = current_timestamp()): CleanResult = {

    val missingRequired = requiredFields
      .map(f => when(falsy(col(f)), lit(s"Missing field: $f")))
      .reduce((a, b) => coalesce(a, b))                 // first failure wins
    val invalidResult =
      when(!col("val_result").isin(validResults: _*),
        concat(lit("Invalid result: "), coalesce(col("val_result"), lit(""))))
    // short-circuit order: required before result (:109-114)
    val deleteReason = coalesce(missingRequired, invalidResult)

    val rejected = games.withColumn("val_validation_notes", deleteReason)
      .filter(col("val_validation_notes").isNotNull)

    val survivors = games.filter(deleteReason.isNull)

    // F5 elo re-cast: values are already int post-Normalize, but the
    // reference's opening-backfill writes STRING elos through its
    // string-typed table view (backfill_opening_names.py:62-64), so the
    // cleaner re-casts defensively, noting failures (:117-122).
    val eloW = expr("try_cast(val_elo_white AS INT)")
    val eloB = expr("try_cast(val_elo_black AS INT)")
    val ecoClean = when(trim(coalesce(col("val_opening_eco_code"), lit("")))
        === "?", lit(null)).otherwise(col("val_opening_eco_code"))  // F11 :125-131
    val termKey = upper(trim(coalesce(col("val_termination"), lit(""))))
    val termClean = canonTermination(col("val_termination"))

    // F15 notes, in reference emission order (:117-141)
    val notes = concat_ws(", ",
      when(col("val_elo_white").isNotNull && eloW.isNull,
        lit("Invalid val_elo_white")),
      when(col("val_elo_black").isNotNull && eloB.isNull,
        lit("Invalid val_elo_black")),
      when(ecoClean.isNull, lit("Set val_opening_eco_code to NULL")),
      when(termKey =!= termClean,
        concat(lit("Normalized termination: "),
          coalesce(col("val_termination"), lit("")), lit(" → "), termClean)))

    // NOTE: the notes expression reads the ORIGINAL columns, so it must
    // be attached before the rewrites replace them (Column ASTs resolve
    // by name at the point of use).
    val cleaned = survivors
      .withColumn("val_validation_notes",
        when(length(notes) === 0, lit("Valid")).otherwise(notes))
      .withColumn("val_title_white", cleanTitle(col("val_title_white")))
      .withColumn("val_title_black", cleanTitle(col("val_title_black")))
      .withColumn("val_elo_white", eloW)
      .withColumn("val_elo_black", eloB)
      .withColumn("val_opening_eco_code", ecoClean)
      .withColumn("val_termination", termClean)
      .withColumn("ind_validated", lit(true))
      .withColumn("tm_validated", validatedAt)

    CleanResult(cleaned, rejected)
  }
}
