package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.ops.{Cleaning, Enrich, Normalize, Upsert}
import graft.pgn.PgnParser

/** The knightshift DAG as a bulk load: PGN dump → parse → normalize →
  * write → last-write-wins upsert of a second delivery → clean →
  * enrich (profile lookups through a local fetch seam) → write.
  *
  * The dump arrives as fewer files than cores (like a monthly Lichess
  * dump), so the per-file sessionization window of the batch parser is
  * on the blocking path. About 10% of the games are invalid and about
  * 25% are delivered a second time with new values. */
final class ChessBatch(ctx: Ctx) extends Workload {
  import ChessBatch._

  val name = "chess_batch"
  private val nGames = ctx.size(4000, 300)
  private val nPlayers = ctx.size(2000, 60)
  private val nFiles = math.max(1, ctx.nproc / 2)
  private val gen = new ChessGen(ctx.seed, nPlayers)
  private val spark = ctx.spark
  private val lookups: LongAccumulator =
    spark.sparkContext.longAccumulator("perfbench.profile_lookups")

  private var dir: Path = _
  private var out: Path = _
  private var passNo = 0
  private var invalidIds = Set.empty[String]
  private var resentValid = Set.empty[String]
  private var validPlayers = Set.empty[String]
  private var lookupsInPass = 0L

  def itemsPerPass: Long = nGames
  def opsPerPass: Int = 1
  // a pass here runs twice the planner work of the other workloads' passes
  override def warmups: Int = 2
  def sizes: Seq[(String, Long)] = Seq("games" -> nGames.toLong,
    "pgn_files" -> nFiles.toLong, "players" -> nPlayers.toLong,
    "resent_games" -> resentValid.size.toLong)

  def prepare(d: Path): Unit = {
    dir = d
    val r = new SplittableRandom(ctx.seed)
    val games = (0 until nGames).map(i => gen.game(i, r, r.nextDouble() < 0.10))
    val resent = games.filter(_ => r.nextDouble() < 0.25).map(gen.resent)
    val perFile = (nGames + nFiles - 1) / nFiles
    Files.createDirectories(d.resolve("dump1"))
    Files.createDirectories(d.resolve("dump2"))
    games.grouped(perFile).zipWithIndex.foreach { case (gs, k) =>
      Files.writeString(d.resolve(s"dump1/part-$k.pgn"), gs.map(_.pgn).mkString)
    }
    Files.writeString(d.resolve("dump2/part-0.pgn"), resent.map(_.pgn).mkString)
    def invalid(g: Game) = g.white.isEmpty || g.result == "*"
    invalidIds = games.filter(invalid).map(_.id).toSet
    resentValid = resent.filterNot(invalid).map(_.id).toSet
    validPlayers = games.filterNot(invalid).flatMap(g => Seq(g.white, g.black)).toSet
  }

  def spanNames: Seq[String] = Seq("pgn.parse", "ops.normalize", "io.write",
    "ops.upsert", "ops.clean", "ops.enrich")

  def pass(t: Tracer): Unit = {
    passNo += 1
    out = dir.resolve(s"out-$passNo")
    val staged = out.resolve("staged").toString
    val lookups0 = lookups.value
    def load(dump: String, delivery: Int) = {
      val parsed = t.span("pgn.parse")(
        t.force(PgnParser.readAndParse(spark, dir.resolve(dump).toString)))
      t.span("ops.normalize")(t.force(
        Normalize.buildGameData(parsed, lit(deliveryTs(delivery)))))
    }
    t.span("pass") {
      val first = load("dump1", 0)
      t.span("io.write")(first.write.parquet(staged))
      val second = load("dump2", 1)
      // merged and cleaned each feed two consumers: persisted in the
      // untraced run too, as any client of these functions would
      val merged = t.span("ops.upsert")(t.force(Upsert.lastWriteWins(
        spark.read.parquet(staged), second, "id_game",
        Seq(desc("tm_ingested")))).persist())
      val cr = t.span("ops.clean") {
        val c = Cleaning.validateAndClean(merged, lit(deliveryTs(2)))
        Cleaning.CleanResult(t.force(c.cleaned).persist(), t.force(c.rejected))
      }
      t.span("io.write")(cr.rejected.write.parquet(out.resolve("rejected").toString))
      val profiles = t.span("ops.enrich")(t.force(Enrich.flattenProfiles(
        Enrich.lookupPartitioned(Enrich.distinctUsers(cr.cleaned),
          fetchSeam(lookups)))))
      t.span("io.write")(profiles.write.parquet(out.resolve("users").toString))
      val done = t.span("ops.enrich")(t.force(Enrich.markProfileDone(
        cr.cleaned, spark.read.parquet(out.resolve("users").toString))))
      t.span("io.write")(done.write.parquet(out.resolve("games").toString))
      merged.unpersist()
      cr.cleaned.unpersist()
    }
    t.release()
    lookupsInPass = lookups.value - lookups0
  }

  def check(): (Int, Seq[String]) = {
    val games = spark.read.parquet(out.resolve("games").toString)
    val rejected = spark.read.parquet(out.resolve("rejected").toString)
    val users = spark.read.parquet(out.resolve("users").toString)
    val nOut = games.count()
    val rejIds = rejected.select("id_game").collect().map(_.getString(0))
    val nDistinct = games.select("id_game").distinct().count()
    val resentSeen = games.filter(col("id_game").isin(resentValid.toSeq: _*))
      .select("val_event_name").collect().map(_.getString(0))
    val unflagged = games.filter(!col("ind_profile_updated")).count()
    val nUsers = users.count()
    val failures = Seq(
      (nOut + rejIds.length != nGames) ->
        s"cleaned $nOut + rejected ${rejIds.length} != generated $nGames",
      (rejIds.toSet != invalidIds || rejIds.length != invalidIds.size) ->
        s"rejected ${rejIds.length} rows, planted ${invalidIds.size} invalid games",
      (nDistinct != nOut) -> s"id_game not unique: $nDistinct ids in $nOut rows",
      (resentSeen.length != resentValid.size ||
        resentSeen.exists(_ != "Rated Blitz game (re-sent)")) ->
        "re-delivered games do not all carry the second delivery's values",
      (nUsers != validPlayers.size) ->
        s"$nUsers profiles for ${validPlayers.size} distinct players",
      (unflagged != 0) -> s"$unflagged games not flagged as profiled"
    ).collect { case (true, msg) => msg }
    Fs.rm(out)
    (if (failures.isEmpty) 0 else 1, failures)
  }

  def layerMetrics(t: Tracer, root: Span): Map[String, Double] = {
    val kids = t.spans.filter(_.parent == root.id)
    def rows(n: String) = kids.filter(_.name == n).flatMap(_.rows)
    val norm = rows("ops.normalize")
    val merged = rows("ops.upsert").sum.toDouble
    val Seq(_, nRejected) = rows("ops.clean").toSeq
    val nProfiles = rows("ops.enrich").head
    Map(
      "ops.clean_rejected_frac" -> nRejected / merged,
      "ops.upsert_kept_frac" -> merged / norm.sum,
      "ops.enrich_lookups_per_user" -> lookupsInPass.toDouble / nProfiles)
  }
}

object ChessBatch {
  def deliveryTs(k: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 6, 1, 0, 0)
      .plusMinutes(k.toLong))

  /** The profile fetch seam: a deterministic local stand-in for the
    * Lichess user API, counting every call. */
  def fetchSeam(calls: LongAccumulator): () => String => Option[String] =
    () => { user =>
      calls.add(1)
      val h = math.abs(user.hashCode.toLong)
      Some(s"""{"id":"$user","username":"${user.capitalize}",""" +
        s""""patron":"${h % 7 == 0}","streaming":"none",""" +
        s""""createdAt":${1500000000000L + h % 100000000L},""" +
        s""""seenAt":${1700000000000L + h % 100000000L},""" +
        s""""profile":{"title":"none","bio":"plays $user",""" +
        s""""fideRating":"${1400 + h % 1200}","flag":"NO"},""" +
        s""""perfs":{"blitz":{"rating":"${1300 + h % 1400}"},""" +
        s""""bullet":{"rating":"${1250 + h % 1500}"}},""" +
        s""""playTime":{"total":"${h % 90000}","tv":"${h % 900}"},""" +
        s""""count":{"all":"${h % 5000}","rated":"${h % 4000}",""" +
        s""""win":"${h % 2000}","loss":"${h % 1900}","draw":"${h % 300}"}}""")
    }
}
