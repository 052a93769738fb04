package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic subword tokenization: byte-pair encoding against a
  * FROZEN, pinned merge table — the shape of a real tokenizer's shipped
  * `merges.txt`, small enough to audit and mirror.
  *
  * Apply rule (both engines, bit-identical): lowercase the text, strip
  * the separator sentinel, explode to characters, then apply each merge
  * in rank order as ONE global leftmost-non-overlapping string replace.
  * For a CONSISTENT merge table — each merge's operands are single
  * characters or products of strictly earlier merges, and products are
  * unique — this sequential pass is equivalent to the classic BPE apply
  * loop (repeatedly merge the minimum-rank adjacent pair): once rank k's
  * pass has run, no later merge can recreate either of rank k's operands
  * (every product is born at exactly one rank), so the min-rank-first
  * order and the rank-sequential order coincide. [[graft.BpeSpec]]
  * asserts both the consistency invariants and the equivalence against
  * a reference implementation of the classic loop.
  *
  * Mechanics: a token sequence is encoded as a separator-framed string —
  * `S t1 S S t2 S S … tn S S` (single S at the start, double S between
  * and after tokens). A merge (x, y) → xy is the literal replace of
  * `S x S S y S` with `S x y S`: the pattern can only match a complete
  * adjacent token pair (separators never occur inside tokens), the
  * replacement preserves the framing invariant, and a single global
  * pass merges all leftmost-non-overlapping occurrences — exactly the
  * classic within-pair order — while never re-creating its own pattern
  * (the product is one token; the pattern needs two). So one pass per
  * merge IS the fixpoint, and the whole tokenizer is a chain of
  * codegen'd `replace` calls: no UDF, no driver loop, whole-stage
  * codegen end to end.
  *
  * Space is deliberately NOT a mergeable character (no merge contains
  * one), so tokenizing whole text ≡ tokenizing per [[Tokens.ws]] word —
  * the space tokens are filtered at the end. Reference analog: token
  * accounting over ingested text (knightshift derives per-row length
  * stats at ingest; a training-data engine needs real subword budgets
  * for its mixture planner — [[graft.sampling.Sampling.mixturePlan]]).
  */
object Bpe {

  /** Separator sentinel framing tokens in the intermediate encoding;
    * stripped from input first so it can never occur inside a token. */
  val Sep = "\u0001"
  private val S = Sep

  /** The frozen merge table, in rank order (rank = index). Products of
    * common-English bigram/affix merges; every operand is a single
    * character or the product of a strictly earlier rank, and products
    * are unique — the consistency invariants the sequential-apply
    * equivalence proof needs (asserted in BpeSpec). */
  val Merges: Vector[(String, String)] = Vector(
    ("t", "h"),   // th
    ("th", "e"),  // the
    ("i", "n"),   // in
    ("a", "n"),   // an
    ("e", "r"),   // er
    ("o", "n"),   // on
    ("r", "e"),   // re
    ("e", "n"),   // en
    ("a", "t"),   // at
    ("o", "r"),   // or
    ("e", "s"),   // es
    ("t", "i"),   // ti
    ("a", "r"),   // ar
    ("o", "u"),   // ou
    ("i", "s"),   // is
    ("a", "l"),   // al
    ("s", "t"),   // st
    ("n", "g"),   // ng
    ("i", "ng"),  // ing
    ("e", "d"),   // ed
    ("i", "t"),   // it
    ("o", "f"),   // of
    ("an", "d"),  // and
    ("ti", "on"), // tion
    ("l", "e"),   // le
    ("m", "e"),   // me
    ("h", "e"),   // he
    ("s", "e"),   // se
    ("c", "e"),   // ce
    ("l", "y"),   // ly
    ("d", "e"),   // de
    ("r", "o"),   // ro
    ("r", "a"),   // ra
    ("u", "n"),   // un
    ("th", "at"), // that
    ("w", "h"),   // wh
    ("c", "o"),   // co
    ("co", "m"),  // com
    ("p", "e"),   // pe
    ("u", "s"),   // us
    ("m", "a"),   // ma
    ("d", "i"),   // di
    ("e", "a"),   // ea
    ("s", "i"),   // si
    ("o", "m"),   // om
    ("er", "s"),  // ers
    ("t", "o"),   // to
    ("f", "or")   // for
  )

  /** Subword tokens of `c` (array<string>), computed by the codegen'd
    * replace chain. Space tokens are dropped (space is un-mergeable, so
    * this equals per-word tokenization flattened in order). */
  def tokens(c: Column): Column = tokens(c, Merges)

  /** [[tokens]] against an arbitrary merge table in rank order (a
    * trained table instead of the frozen built-in). Same consistency
    * preconditions as the frozen table (BpeSpec's invariants). */
  def tokens(c: Column, merges: Seq[(String, String)]): Column =
    // the fused codegen kernel — one pass over (offset, length) token
    // spans instead of ~|merges| full-string rebuilds; bit parity with
    // the composable replace chain below is pinned in FunctionsSpec,
    // and BpeSpec's classic-loop equivalence suite runs over it
    graft.functions.BpeEncode.bpe_encode(c, merges)

  /** The original composable replace-chain rendering — the SPEC
    * reference the kernel is held to (FunctionsSpec parity), and the
    * template [[oracleTokensExpr]] mirrors in DuckDB. Not on the hot
    * path. */
  def tokensComposable(c: Column, merges: Seq[(String, String)]): Column = {
    val framed = concat(lit(S),
      regexp_replace(replace(lower(c), lit(S), lit("")),
        lit("(?s)(.)"), lit("$1" + S + S)))
    val merged = merges.foldLeft(framed) { case (acc, (x, y)) =>
      replace(acc, lit(S + x + S + S + y + S), lit(S + x + y + S))
    }
    filter(split(trim(merged, S), S + S), t => t =!= "" && t =!= " ")
  }

  def tokens(textCol: String): Column = tokens(col(textCol))

  /** Subword token count — the honest denominator for token-budget
    * planning (mixture plan, packing, export manifests). */
  def nTokens(c: Column): Column = size(tokens(c))

  // --- DuckDB mirror -------------------------------------------------
  // Generated from the SAME Merges vector, so the oracle cannot drift
  // from the engine (one frozen table, two renderings).

  /** The DuckDB list<varchar> expression computing [[tokens]] over the
    * SQL expression `inner`. */
  def oracleTokensExpr(inner: String): String = {
    val framed =
      s"'$S' || regexp_replace(replace(lower($inner), '$S', ''), " +
        s"'(?s)(.)', '\\1$S$S', 'g')"
    val merged = Merges.foldLeft(framed) { case (acc, (x, y)) =>
      s"replace($acc, '$S$x$S$S$y$S', '$S$x$y$S')"
    }
    s"list_filter(string_split(trim($merged, '$S'), '$S$S'), " +
      "t -> t <> '' AND t <> ' ')"
  }

  /** The DuckDB INT expression computing [[nTokens]] (Spark `size` is
    * 32-bit — the cast keeps the physical types aligned). */
  def oracleNTokensExpr(inner: String): String =
    s"CAST(len(${oracleTokensExpr(inner)}) AS INT)"
}
