package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The read-side query surface (SURVEY.md: the reference's Flask API —
  * "player statistics, game history, and ratings", "pagination and
  * filtering", "most popular game openings", docs/CHANGELOG.md:50-55)
  * as library functions over the canonical tables.
  *
  * Every function returns a lazy DataFrame — callers compose further
  * (the API layer is a thin serializer on top, exactly what Flask was).
  */
object ReadApi {

  /** J4: one player's games joined with both players' profiles.
    * Dimension side broadcasts (users ≪ games at any scale). */
  def gamesWithProfiles(games: DataFrame, users: DataFrame): DataFrame = {
    val w = users.toDF(users.columns.map(c => s"w_$c"): _*)
    val b = users.toDF(users.columns.map(c => s"b_$c"): _*)
    games
      .join(broadcast(w), games("id_user_white") === w("w_id_user"), "left")
      .join(broadcast(b), games("id_user_black") === b("b_id_user"), "left")
  }

  /** Player statistics: games / wins / losses / draws / mean opponent
    * elo, from the player's perspective on either color. */
  def playerStats(games: DataFrame): DataFrame = {
    val asWhite = games.select(
      col("id_user_white").as("id_user"),
      col("val_result").as("res"),
      lit("white").as("color"),
      col("val_elo_black").as("opp_elo"))
    val asBlack = games.select(
      col("id_user_black").as("id_user"),
      col("val_result").as("res"),
      lit("black").as("color"),
      col("val_elo_white").as("opp_elo"))
    asWhite.unionByName(asBlack)
      .filter(col("id_user").isNotNull && col("id_user") =!= "")
      .withColumn("won",
        (col("color") === "white" && col("res") === "1-0") ||
        (col("color") === "black" && col("res") === "0-1"))
      .withColumn("lost",
        (col("color") === "white" && col("res") === "0-1") ||
        (col("color") === "black" && col("res") === "1-0"))
      .groupBy("id_user")
      .agg(
        count(lit(1)).as("n_games"),
        count(when(col("won"), 1)).as("n_wins"),
        count(when(col("lost"), 1)).as("n_losses"),
        count(when(col("res") === "1/2-1/2", 1)).as("n_draws"),
        avg(col("opp_elo")).as("avg_opponent_elo"))
  }

  /** Paged game history for one player (O2 pagination; J2-style
    * disjunctive match on either color, decomposed to a union).
    * OFFSET-style: `limit(k).offset(page·pageSize)` over the ordered
    * rows plans as one `TakeOrderedAndProject(limit = k, offset)` — a
    * distributed top-k (per-partition limit, then a k-row merge) that
    * drops the first page·pageSize rows of the merge, with no
    * numbering window. The order is total (unique id_game tiebreak),
    * so pages tile. Deep paging at corpus scale should still use
    * [[gameHistoryAfter]] (keyset) — offset depth k is the price of
    * the offset contract itself. */
  def gameHistory(games: DataFrame, user: String,
      page: Int, pageSize: Int): DataFrame = {
    val mine = games.filter(
      col("id_user_white") === user || col("id_user_black") === user)
    mine.orderBy(desc("dt_game"), asc("id_game"))
      .limit((page + 1) * pageSize).offset(page * pageSize)
  }

  /** Keyset (cursor) pagination — the scale-correct form of O2. OFFSET
    * pagination merges (page+1)·pageSize rows to return pageSize;
    * keyset passes the last row of the previous page as a cursor, so
    * the predicate bounds the scan and the sort becomes a distributed
    * top-k (`TakeOrderedAndProject`: per-partition limit, then a
    * pageSize-row merge — no global sort at any corpus size).
    *
    * Page order is (dt_game DESC NULLS LAST, id_game ASC); `cursor` =
    * (dt_game, id_game) of the previous page's last row, None for page
    * one. Null dates (unparseable PGN dates survive as null) sort last,
    * so a non-null cursor keeps them in scope for later pages and a
    * null-date cursor pages within the null tail. */
  def gameHistoryAfter(games: DataFrame, user: String,
      cursor: Option[(java.sql.Date, String)], pageSize: Int): DataFrame = {
    val mine = games.filter(
      col("id_user_white") === user || col("id_user_black") === user)
    val after = cursor match {
      case Some((null, g)) =>
        mine.filter(col("dt_game").isNull && col("id_game") > g)
      case Some((d, g)) => mine.filter(
        col("dt_game") < lit(d) ||
        (col("dt_game") === lit(d) && col("id_game") > g) ||
        col("dt_game").isNull)
      case None => mine
    }
    after.orderBy(desc_nulls_last("dt_game"), asc("id_game"))
      .limit(pageSize)
  }

  /** A5: most popular openings among validated games. */
  def topOpenings(games: DataFrame, k: Int): DataFrame =
    games
      .filter(col("ind_validated") &&
        col("val_opening_name").isNotNull && col("val_opening_name") =!= "")
      .groupBy("val_opening_name")
      .agg(count(lit(1)).as("n_games"))
      .orderBy(desc("n_games"), asc("val_opening_name"))
      .limit(k)
}
