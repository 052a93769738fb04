package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Zipf(s) sampler over ranks 0..n-1 (inverse CDF by binary search). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** One generated game, as the PGN headers that describe it. */
final case class Game(id: String, event: String, white: String,
    black: String, result: String, date: String, utcTime: String,
    whiteElo: Int, blackElo: Int, eco: String, opening: String,
    termination: String, timeControl: String, moves: String) {

  /** The PGN block: tag pairs, a blank line, one move line. A blank
    * `white` omits the tag (a game with a missing required field). */
  def pgn: String = {
    val sb = new StringBuilder
    def tag(k: String, v: String): Unit =
      sb.append('[').append(k).append(" \"").append(v).append("\"]\n")
    tag("Event", event)
    tag("Site", s"https://lichess.org/$id")
    tag("Date", date)
    if (white.nonEmpty) tag("White", white)
    tag("Black", black)
    tag("Result", result)
    tag("UTCDate", date)
    tag("UTCTime", utcTime)
    tag("WhiteElo", whiteElo.toString)
    tag("BlackElo", blackElo.toString)
    tag("Variant", "Standard")
    tag("TimeControl", timeControl)
    tag("ECO", eco)
    tag("Opening", opening)
    tag("Termination", termination)
    sb.append('\n').append(moves).append("\n\n").toString
  }
}

/** Seeded chess inputs. Player popularity is Zipf-skewed, so a few
  * players appear in many games (the read mix and the profile lookups
  * both see that skew). Game ids are a bijection of the game index, so
  * ids never collide and a re-delivery names an existing game exactly. */
final class ChessGen(seed: Long, nPlayers: Int) {
  private val players = new Zipf(nPlayers, 1.1)
  private val openingPick = new Zipf(ChessGen.Openings.size, 1.0)
  private val idOffset = Math.floorMod(seed * 7919L, ChessGen.IdSpace)

  def player(rank: Int): String = s"player$rank"
  def samplePlayer(r: SplittableRandom): String = player(players.sample(r))

  def gameId(i: Long): String = {
    val v = Math.floorMod(i * 2654435761L + idOffset, ChessGen.IdSpace)
    val s = java.lang.Long.toString(v, 36)
    "0" * (8 - s.length) + s
  }

  /** Game `i`. `invalid` plants one of the two faults the cleaning pass
    * rejects: a missing White tag or an unfinished result ("*"). */
  def game(i: Long, r: SplittableRandom, invalid: Boolean): Game = {
    val w = players.sample(r)
    var b = players.sample(r)
    if (b == w) b = (w + 1) % nPlayers
    val (eco, opening) = ChessGen.Openings(openingPick.sample(r))
    val missingWhite = invalid && r.nextBoolean()
    val result =
      if (invalid && !missingWhite) "*"
      else ChessGen.Results(r.nextInt(ChessGen.Results.size))
    val day = r.nextInt(365)
    val date = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy.MM.dd"))
    val nMoves = 20 + r.nextInt(40)
    val mv = new StringBuilder
    var m = 1
    while (m <= nMoves) {
      mv.append(m).append(". ")
        .append(ChessGen.Sans(r.nextInt(ChessGen.Sans.size))).append(' ')
        .append(ChessGen.Sans(r.nextInt(ChessGen.Sans.size))).append(' ')
      m += 1
    }
    mv.append(if (result == "*") "*" else result)
    Game(gameId(i), "Rated Blitz game",
      if (missingWhite) "" else player(w), player(b), result, date,
      f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d",
      1200 + r.nextInt(1600), 1200 + r.nextInt(1600), eco, opening,
      ChessGen.Terminations(r.nextInt(ChessGen.Terminations.size)),
      ChessGen.TimeControls(r.nextInt(ChessGen.TimeControls.size)),
      mv.toString)
  }

  /** The same game delivered again with new values, as a source does
    * when it corrects a game it already sent. */
  def resent(g: Game): Game =
    g.copy(event = "Rated Blitz game (re-sent)",
      whiteElo = g.whiteElo + 7, blackElo = g.blackElo + 7)
}

object ChessGen {
  val IdSpace: Long = 2821109907456L // 36^8
  val Results = Vector("1-0", "0-1", "1/2-1/2")
  val Terminations = Vector("Normal", "Time forfeit", "Normal", "Normal",
    "Abandoned", "Unterminated")
  val TimeControls = Vector("180+0", "180+2", "300+0", "60+0", "600+5")
  val Sans = Vector("e4", "e5", "d4", "d5", "Nf3", "Nc6", "Bb5", "a6", "Ba4",
    "Nf6", "O-O", "Be7", "Re1", "b5", "Bb3", "d6", "c3", "O-O", "h3", "Nb8",
    "c4", "e6", "Nc3", "Bb4", "Qc2", "c5", "dxc5", "Qxd8+", "Kxd8", "g3")
  val Openings = Vector(
    ("B20", "Sicilian Defense"), ("C20", "King's Pawn Game"),
    ("A40", "Queen's Pawn Game"), ("C50", "Italian Game"),
    ("B01", "Scandinavian Defense"), ("C00", "French Defense"),
    ("B10", "Caro-Kann Defense"), ("D02", "London System"),
    ("A00", "Van't Kruijs Opening"), ("C60", "Ruy Lopez"),
    ("D06", "Queen's Gambit"), ("E60", "King's Indian Defense"),
    ("A10", "English Opening"), ("C41", "Philidor Defense"),
    ("B07", "Pirc Defense"), ("C44", "Scotch Game"),
    ("A45", "Indian Defense"), ("B00", "Owen Defense"),
    ("C42", "Petrov's Defense"), ("?", "?"))
}

/** Seeded text corpus with planted duplicates. The vocabulary is
  * Zipf-skewed (frequent words make shingles shared across unrelated
  * documents, which is what produces false LSH candidates). */
final class CorpusGen(seed: Long, vocab: Int) {
  private val words: Vector[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val syl = Vector("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "de",
      "po", "an", "el", "or", "us", "ti", "be", "ga", "fu", "ho", "ze")
    val seen = mutable.LinkedHashSet.empty[String]
    // the Gopher stop set and other function words take the head ranks
    Seq("the", "of", "and", "to", "a", "in", "that", "is", "be", "with",
      "have", "for", "it", "on", "as").foreach(seen += _)
    while (seen.size < vocab)
      seen += (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString
    seen.toVector
  }
  private val pick = new Zipf(vocab, 1.0)

  def word(r: SplittableRandom): String = words(pick.sample(r))

  /** A document of 4..7 sentence lines, 10..18 words each. Each line
    * opens with a stop word, "the" and "of" first, so every document
    * passes the line rules' two-distinct-stopwords test by construction. */
  def doc(r: SplittableRandom): Vector[Vector[String]] =
    Vector.tabulate(4 + r.nextInt(4)) { i =>
      val head = if (i < CorpusGen.Openers.size) CorpusGen.Openers(i)
        else CorpusGen.Openers(r.nextInt(CorpusGen.Openers.size))
      head +: Vector.fill(9 + r.nextInt(9))(word(r))
    }

  def render(lines: Vector[Vector[String]]): String =
    lines.map(_.mkString(" ") + ".").mkString("\n")

  /** `edits` word substitutions, each to a different word; the line
    * openers stay. */
  def nearCopy(lines: Vector[Vector[String]], edits: Int,
      r: SplittableRandom): Vector[Vector[String]] = {
    var out = lines
    (0 until edits).foreach { _ =>
      val li = r.nextInt(out.size)
      val wi = 1 + r.nextInt(out(li).size - 1)
      var w = word(r)
      while (w == out(li)(wi)) w = word(r)
      out = out.updated(li, out(li).updated(wi, w))
    }
    out
  }

  /** A document the line rules reject: all bullet lines, or a brace. */
  def junk(r: SplittableRandom): String =
    if (r.nextBoolean())
      Vector.fill(5)("- " + Vector.fill(6)(word(r)).mkString(" ")).mkString("\n")
    else render(doc(r)) + "\n{ \"k\": 1 }"
}

object CorpusGen {
  val Openers = Vector("the", "of", "and", "to", "with", "that")
}
