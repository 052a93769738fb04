package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.ops.{Cleaning, ReadApi}
import graft.streaming.MicroBatchIngest

/** The TV poll loop beside the read API. Setup seeds a large games table
  * (bulk-loaded and cleaned). Each pass merges one PGN delivery through
  * the stream parser and the table merge (about a quarter of the
  * delivery re-sends games already in the table), then serves a fixed
  * read mix against the table just written. Merge cost follows table
  * size, not delivery size, and reads and merges share the one table.
  *
  * After each pass is checked the table is put back to its seeded state,
  * outside the timed window, so every pass merges into a table of the
  * same size however many passes a run fits into its seconds.
  *
  * The read mix (six reads per delivery) is an assumption: neither the
  * paper nor its reference fixes a read rate next to the poll loop. The
  * traced run reports the reads' share of the pass (`ops.read_share`)
  * and the untraced report prints `read_share`, so the split is on
  * record. */
final class ChessLive(ctx: Ctx) extends Workload {
  import ChessLive._

  val name = "chess_live"
  private val nSeed = ctx.size(30000, 400)
  private val perDelivery = ctx.size(1600, 40)
  private val docsPerDelivery = ctx.size(8, 2)
  private val nPlayers = ctx.size(3000, 40)
  private val gen = new ChessGen(ctx.seed + 1, nPlayers)
  private val spark = ctx.spark

  private var table: String = _
  private var seeded: java.nio.file.Path = _
  private var delivery = 0
  private var next: Delivery = _
  private var expectedRows = 0L
  private var lastRows = 0L
  private var lastReads = Seq.empty[ReadOut]
  private val mergeSec = mutable.ArrayBuffer.empty[Double]
  private val readMs = mutable.ArrayBuffer.empty[Double]
  private var tableBytes = 0L
  // traced-pass measurements
  private var scanned = 0L

  def itemsPerPass: Long = perDelivery
  def opsPerPass: Int = 1 + ReadsPerPass
  def sizes: Seq[(String, Long)] = Seq("seed_games" -> nSeed.toLong,
    "games_per_delivery" -> perDelivery.toLong,
    "docs_per_delivery" -> docsPerDelivery.toLong,
    "players" -> nPlayers.toLong, "reads_per_delivery" -> ReadsPerPass.toLong)

  private def mkDelivery(b: Int): Delivery = {
    val r = new SplittableRandom(ctx.seed * 1000003L + b)
    val nResent = perDelivery / 4
    val resentIdx = mutable.LinkedHashSet.empty[Long]
    while (resentIdx.size < nResent) resentIdx += r.nextInt(nSeed).toLong
    val fresh = (0 until perDelivery - nResent)
      .map(j => nSeed.toLong + b.toLong * perDelivery + j)
    val games = (resentIdx.toSeq ++ fresh).map(i => gen.game(i, r, invalid = false))
    val per = (games.size + docsPerDelivery - 1) / docsPerDelivery
    Delivery(games.grouped(per).map(_.map(_.pgn).mkString).toSeq, fresh.size,
      Seq.fill(4)(gen.samplePlayer(r)))
  }

  def prepare(d: Path): Unit = {
    seeded = d.resolve("seeded")
    table = d.resolve("games").toString
    val r = new SplittableRandom(ctx.seed + 11)
    val docs = (0 until nSeed).map(i => gen.game(i, r, invalid = false))
      .grouped(500).map(_.map(_.pgn).mkString).toSeq
    val ts = ChessBatch.deliveryTs(0)
    Cleaning.validateAndClean(
      MicroBatchIngest.parseBatch(spark, docs, ts).drop("__seq"), lit(ts))
      .cleaned.write.parquet(seeded.toString)
    Fs.copy(seeded, java.nio.file.Paths.get(table))
    delivery = 0
    expectedRows = nSeed
    next = mkDelivery(1)
  }

  def spanNames: Seq[String] =
    Seq("streaming.parse_batch", "streaming.merge", "ops.read")

  private def readMix(games: DataFrame, users: Seq[String],
      cursor: => Option[(java.sql.Date, String)]): Seq[(String, () => DataFrame)] =
    Seq(
      s"history:${users(0)}:0" -> (() => ReadApi.gameHistory(games, users(0), 0, PageSize)),
      s"history:${users(1)}:2" -> (() => ReadApi.gameHistory(games, users(1), 2, PageSize)),
      s"after:${users(2)}:first" -> (() => ReadApi.gameHistoryAfter(games, users(2), None, PageSize)),
      s"after:${users(2)}:next" -> (() => ReadApi.gameHistoryAfter(games, users(2), cursor, PageSize)),
      "top_openings" -> (() => ReadApi.topOpenings(games, 10)),
      s"stats:${users(3)}" -> (() =>
        ReadApi.playerStats(games).filter(col("id_user") === users(3))))

  def pass(t: Tracer): Unit = {
    delivery += 1
    val dl = next
    val ts = ChessBatch.deliveryTs(delivery)
    t.span("pass") {
      val m0 = System.nanoTime()
      val batch = t.span("streaming.parse_batch")(
        t.force(MicroBatchIngest.parseBatch(spark, dl.docs, ts)))
      lastRows = t.span("streaming.merge")(
        MicroBatchIngest.mergeIntoTable(spark, batch, table))
      mergeSec += (System.nanoTime() - m0) / 1e9
      t.release()
      expectedRows = nSeed + dl.newIds

      val games = spark.read.parquet(table)
      var cursor: Option[(java.sql.Date, String)] = None
      scanned = 0L
      lastReads = readMix(games, dl.users, cursor).map { case (kind, mk) =>
        t.span("ops.read") {
          val df = mk()
          val p0 = System.nanoTime()
          df.queryExecution.executedPlan
          val p1 = System.nanoTime()
          val rows = df.collect().toSeq
          val p2 = System.nanoTime()
          readMs += (p2 - p0) / 1e6
          if (t.enabled) scanned += scanRows(df.queryExecution.executedPlan)
          if (kind.endsWith(":first") && rows.nonEmpty)
            cursor = Some((rows.last.getAs[java.sql.Date]("dt_game"),
              rows.last.getAs[String]("id_game")))
          ReadOut(kind, rows, (p1 - p0) / 1e6, (p2 - p1) / 1e6)
        }
      }
    }
  }

  def check(): (Int, Seq[String]) = {
    val games = spark.read.parquet(table)
    val distinct = games.select("id_game").distinct().count()
    val mergeFail = Seq(
      (lastRows != expectedRows) ->
        s"delivery $delivery: $lastRows rows, expected $expectedRows",
      (distinct != lastRows) ->
        s"delivery $delivery: $distinct distinct ids in $lastRows rows"
    ).collect { case (true, m) => m }
    // reads are checked on a sample of deliveries: the first, then every third
    val readFail =
      if (delivery % 3 != 1) Nil
      else lastReads.flatMap(r => verify(games, r).map(m => s"${r.kind}: $m"))
    tableBytes = Fs.dataBytes(java.nio.file.Paths.get(table))
    // back to the seeded table: the next pass merges into the same size
    Fs.rm(java.nio.file.Paths.get(table))
    Fs.copy(seeded, java.nio.file.Paths.get(table))
    next = mkDelivery(delivery + 1)
    (mergeFail.size.min(1) + readFail.size, mergeFail ++ readFail)
  }

  /** The read's result against a plain filter and sort of the same table,
    * computed on the driver from the rows the read could touch. */
  private def verify(games: DataFrame, r: ReadOut): Option[String] = {
    val parts = r.kind.split(":")
    def userGames(u: String): Seq[Row] = games.filter(
      col("id_user_white") === u || col("id_user_black") === u)
      .select("id_game", "dt_game", "id_user_white", "id_user_black",
        "val_result", "val_elo_white", "val_elo_black").collect().toSeq
    def ordered(u: String): Seq[Row] = userGames(u).sortBy(g =>
      (-g.getAs[java.sql.Date]("dt_game").toLocalDate.toEpochDay,
        g.getAs[String]("id_game")))
    def ids(rows: Seq[Row]) = rows.map(_.getAs[String]("id_game"))
    val (got, want): (Seq[Any], Seq[Any]) = parts(0) match {
      case "history" =>
        val page = parts(2).toInt
        (ids(r.rows), ids(ordered(parts(1)).slice(page * PageSize, (page + 1) * PageSize)))
      case "after" if parts(2) == "first" =>
        (ids(r.rows), ids(ordered(parts(1)).take(PageSize)))
      case "after" =>
        (ids(r.rows), ids(ordered(parts(1)).slice(PageSize, 2 * PageSize)))
      case "top_openings" =>
        val names = games.filter(col("ind_validated"))
          .select("val_opening_name").collect().toSeq
          .map(_.getString(0)).filter(n => n != null && n.nonEmpty)
        (r.rows.map(x => (x.getString(0), x.getLong(1))),
          names.groupBy(identity).map { case (n, v) => (n, v.size.toLong) }
            .toSeq.sortBy { case (n, c) => (-c, n) }.take(10))
      case "stats" =>
        val u = parts(1)
        val mine = userGames(u).map { g =>
          val white = g.getAs[String]("id_user_white") == u
          val res = g.getAs[String]("val_result")
          val opp = g.getAs[Any](if (white) "val_elo_black" else "val_elo_white")
          (res == (if (white) "1-0" else "0-1"), res == (if (white) "0-1" else "1-0"),
            res == "1/2-1/2", Option(opp).map(_.asInstanceOf[Int].toDouble))
        }
        val elos = mine.flatMap(_._4)
        val want = if (mine.isEmpty) Nil else Seq((mine.size.toLong,
          mine.count(_._1).toLong, mine.count(_._2).toLong, mine.count(_._3).toLong,
          if (elos.isEmpty) None else Some(elos.sum / elos.size)))
        (r.rows.map(x => (x.getAs[Long]("n_games"), x.getAs[Long]("n_wins"),
          x.getAs[Long]("n_losses"), x.getAs[Long]("n_draws"),
          Option(x.getAs[Any]("avg_opponent_elo")).map(_.asInstanceOf[Double]))),
          want)
    }
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case ((a1, a2, a3, a4, Some(x: Double)), (b1, b2, b3, b4, Some(y: Double))) =>
        (a1, a2, a3, a4) == (b1, b2, b3, b4) && math.abs(x - y) <= 1e-9 * math.abs(y)
      case _ => a == b
    }
    if (got.size == want.size && got.zip(want).forall { case (a, b) => same(a, b) }) None
    else Some(s"got ${got.take(3)}… (${got.size}), want ${want.take(3)}… (${want.size})")
  }

  def layerMetrics(t: Tracer, root: Span): Map[String, Double] = {
    val merge = t.spans.find(s => s.parent == root.id && s.name == "streaming.merge").get
    val returned = lastReads.map(_.rows.size).sum
    def spanS(n: String) =
      t.spans.filter(s => s.parent == root.id && s.name == n).map(_.seconds).sum
    val readS = spanS("ops.read")
    Map(
      "ops.read_share" ->
        readS / (readS + spanS("streaming.parse_batch") + spanS("streaming.merge")),
      "streaming.write_amp" ->
        merge.counters.outputBytes / (tableBytes.toDouble * perDelivery / lastRows),
      "streaming.stored_bytes_per_game" -> tableBytes.toDouble / lastRows,
      "ops.read_plan_ms" -> lastReads.map(_.planMs).sum / lastReads.size,
      "ops.read_exec_ms" -> lastReads.map(_.execMs).sum / lastReads.size,
      "ops.read_rows_scanned_per_returned" -> scanned.toDouble / math.max(returned, 1))
  }

  override def report(): Seq[(String, Double, String)] = {
    // the first merges and read mixes belong to the warm-up passes
    val m = mergeSec.drop(warmups).toSeq
    val rd = readMs.drop(warmups * ReadsPerPass).toSeq
    Seq(
      ("merge_p50_s", Stats.median(m), "s"),
      ("merge_p75_s", Stats.quantile(m, 0.75), "s"),
      ("read_p50_ms", Stats.median(rd), "ms"),
      ("read_p95_ms", Stats.quantile(rd, 0.95), "ms"),
      // share of merge plus read time that the reads take
      ("read_share", rd.sum / (rd.sum + m.sum * 1e3), "ratio"),
      ("stored_bytes_per_game", tableBytes.toDouble / lastRows, "B"))
  }
}

object ChessLive {
  val PageSize = 20
  val ReadsPerPass = 6

  final case class Delivery(docs: Seq[String], newIds: Int, users: Seq[String])

  final case class ReadOut(kind: String, rows: Seq[Row], planMs: Double,
      execMs: Double)

  /** Rows the file scans of an executed plan produced (SQL metric). */
  def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case _: ReusedExchangeExec => 0L
    case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scanRows).sum
  }
}
