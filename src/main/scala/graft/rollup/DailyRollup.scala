package graft.rollup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Season-to-date dense-calendar team rollup (SURVEY §2.4 A4/A5 + §2.5
  * W3; semantics per
  * /root/reference/scripts/build_pbp_team_daily_rollup.py:179-396): one
  * output row per team per CALENDAR day from the season's first to last
  * game date — not just game days — carrying running totals and derived
  * per-game / per-possession ratios.
  *
  * Spark shape: daily partial aggregates (map-side combinable sums) →
  * `sequence(min,max)` calendar × team spine (the calendar is a few
  * hundred rows — broadcast) → left join → cumulative window
  * `rowsBetween(unboundedPreceding, currentRow)` partitioned by team.
  * The window state is O(1) per row (running sums), so the operator
  * scales with rows-per-team, never materializing the season in memory.
  */
object DailyRollup {

  /** Shooting-stat columns summed when present in the input (reference
    * Totals fields); absent columns roll up as 0 so their derived
    * ratios null out under the div guards. */
  private val ShotCols = Seq(
    "team_fga", "team_fgm", "team_fg3m", "team_fta", "team_ftm",
    "team_tov", "team_oreb", "team_dreb",
    "opp_fga", "opp_fgm", "opp_fg3m", "opp_fta", "opp_ftm",
    "opp_tov", "opp_oreb", "opp_dreb")

  private def safeDiv(n: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
    when(d > 0, n / d)

  /** Adapter: graft.pbp.GameTeamStats.build output + a (gameId,
    * startDate) frame → the flat per-game shape `build` consumes, with
    * the opponent's full shooting line mirrored in via the same-game
    * self-join (the reference's flat table carries the opp_* mirror,
    * build_pbp_game_teams_flat.py:172-314). Chains the whole reference
    * pipeline: plays → box stats → dense rollup → gold. */
  def fromGameTeamStats(stats: DataFrame, gameDates: DataFrame): DataFrame = {
    val own = stats.select(col("gameId"), col("teamId"),
      col("pts").as("team_points"),
      col("possessions_formula").as("team_poss"),
      col("game_minutes"),
      col("fga").as("team_fga"), col("fgm").as("team_fgm"),
      col("fg3m").as("team_fg3m"), col("fta").as("team_fta"),
      col("ftm").as("team_ftm"), col("tov").as("team_tov"),
      col("oreb").as("team_oreb"), col("dreb").as("team_dreb"))
    val opp = own.toDF("__opp_gid", "__opp", "opp_points", "opp_poss", "__gm2",
      "opp_fga", "opp_fgm", "opp_fg3m", "opp_fta", "opp_ftm", "opp_tov",
      "opp_oreb", "opp_dreb")
    own.join(opp,
        col("gameId") === col("__opp_gid") && col("teamId") =!= col("__opp"))
      .drop("__opp_gid", "__opp", "__gm2")
      .join(gameDates.select(col("gameId"),
        col("startDate").cast("string").as("startdate")), Seq("gameId"))
      .withColumnRenamed("teamId", "teamid")
  }

  /** Per-game team stats in → dense-calendar cumulative rollup out.
    * Expects columns: teamid, startdate (ISO string or date),
    * team_points, opp_points, team_poss, opp_poss, game_minutes;
    * optionally the ShotCols for Four Factors / TS%. */
  def build(gameTeams: DataFrame): DataFrame = {
    def in(n: String) =
      if (gameTeams.columns.contains(n)) col(n).cast("double") else lit(0.0)
    val aggCols = Seq(
      sum(col("team_points")).as("tp"),
      sum(col("opp_points")).as("op"),
      sum(col("team_poss")).as("tposs"),
      sum(col("opp_poss")).as("oposs"),
      sum(col("game_minutes")).as("mins")) ++
      ShotCols.map(n => sum(in(n)).as(s"${n}_d"))
    val daily = gameTeams
      .withColumn("date", to_date(substring(col("startdate"), 1, 10)))
      .groupBy(col("teamid"), col("date"))
      .agg(count(lit(1)).as("g"), aggCols: _*)

    val bounds = daily.agg(min(col("date")).as("d0"), max(col("date")).as("d1"))
    val days = bounds.select(explode(sequence(col("d0"), col("d1"))).as("date"))
    val teams = daily.select(col("teamid")).distinct()

    val w = Window.partitionBy(col("teamid")).orderBy(col("date").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    teams.crossJoin(broadcast(days))
      .join(daily, Seq("teamid", "date"), "left")
      .na.fill(0L, Seq("g"))
      .na.fill(0.0, Seq("tp", "op", "tposs", "oposs", "mins") ++
        ShotCols.map(n => s"${n}_d"))
      .withColumn("games_played", sum(col("g")).over(w))
      .withColumn("team_points_total", sum(col("tp")).over(w))
      .withColumn("opp_points_total", sum(col("op")).over(w))
      .withColumn("team_possessions", sum(col("tposs")).over(w))
      .withColumn("opp_possessions", sum(col("oposs")).over(w))
      .withColumn("game_minutes_total", sum(col("mins")).over(w))
      .withColumn("team_points_per_game",
        when(col("games_played") > 0, col("team_points_total") / col("games_played")))
      .withColumn("opp_points_per_game",
        when(col("games_played") > 0, col("opp_points_total") / col("games_played")))
      .withColumn("off_eff",
        when(col("team_possessions") > 0,
          col("team_points_total") / col("team_possessions") * 100.0))
      .withColumn("def_eff",
        when(col("opp_possessions") > 0,
          col("opp_points_total") / col("opp_possessions") * 100.0))
      // per-game possessions normalized to a 40-minute game; the games
      // factor cancels: ((tposs+oposs)/2g)·(40g/mins) = ((tposs+oposs)/2)
      // ·(40/mins) (reference build_pbp_team_daily_rollup.py:281)
      .withColumn("pace",
        when(col("game_minutes_total") > 0,
          (col("team_possessions") + col("opp_possessions")) / 2.0
            * (lit(40.0) / col("game_minutes_total"))))
      // Four Factors + TS% + per-possession scoring over the running
      // shooting sums (reference :266-289)
      .transform { df =>
        ShotCols.foldLeft(df)((acc, n) =>
          acc.withColumn(s"__$n", sum(col(s"${n}_d")).over(w)))
      }
      .withColumn("team_efg_pct",
        safeDiv(col("__team_fgm") + lit(0.5) * col("__team_fg3m"), col("__team_fga")))
      .withColumn("team_ts_pct", safeDiv(col("team_points_total"),
        lit(2.0) * (col("__team_fga") + lit(0.44) * col("__team_fta"))))
      .withColumn("team_ft_rate", safeDiv(col("__team_fta"), col("__team_fga")))
      .withColumn("team_tov_ratio", safeDiv(col("__team_tov"), col("team_possessions")))
      .withColumn("team_oreb_pct",
        safeDiv(col("__team_oreb"), col("__team_oreb") + col("__opp_dreb")))
      .withColumn("opp_efg_pct",
        safeDiv(col("__opp_fgm") + lit(0.5) * col("__opp_fg3m"), col("__opp_fga")))
      .withColumn("opp_ts_pct", safeDiv(col("opp_points_total"),
        lit(2.0) * (col("__opp_fga") + lit(0.44) * col("__opp_fta"))))
      .withColumn("opp_ft_rate", safeDiv(col("__opp_fta"), col("__opp_fga")))
      .withColumn("opp_tov_ratio", safeDiv(col("__opp_tov"), col("opp_possessions")))
      .withColumn("opp_oreb_pct",
        safeDiv(col("__opp_oreb"), col("__opp_oreb") + col("__team_dreb")))
      .withColumn("team_points_per_poss",
        safeDiv(col("team_points_total"), col("team_possessions")))
      .withColumn("opp_points_per_poss",
        safeDiv(col("opp_points_total"), col("opp_possessions")))
      .drop("g" +: "tp" +: "op" +: "tposs" +: "oposs" +: "mins" +:
        (ShotCols.map(n => s"${n}_d") ++ ShotCols.map(n => s"__$n")): _*)
  }
}
