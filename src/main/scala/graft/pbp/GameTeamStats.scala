package graft.pbp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Enriched plays → per-(game, team) box stats with opponent context
  * (SURVEY §2.4 A1/A2 + §2.3 J8; semantics per
  * /root/reference/scripts/build_pbp_game_teams_flat.py:172-314 and
  * build_pbp_game_team_stats.py:155-283).
  *
  * Spark shape: classification is codegen'd column expressions from the
  * same pattern config as the possession engine; stats are one hash agg
  * (`sum(when)`); event-possession counts credit `offense_team_id` and
  * join back; opponent stats come from the self-join on (gameId, other
  * team). Two shuffles total (agg + self-join), both on gameId keys.
  */
object GameTeamStats {

  def build(enriched: DataFrame,
      classifier: PlayClassifier = new PlayClassifier(),
      excludeGarbage: Boolean = false): DataFrame = {
    val base0 = if (excludeGarbage) enriched.filter(!col("garbage_time")) else enriched
    val text = classifier.textCol(col("playType"), lit(""))
    val isFt = classifier.isFtCol(text, col("scoreValue"))
    val isShot = classifier.isShotCol(text, lit(null).cast("boolean"), col("scoreValue"))
    val base = base0
      .withColumn("__is_ft", isFt)
      .withColumn("__is_shot", isShot)
      .withColumn("__is_tov", classifier.isTurnoverCol(text))
      .withColumn("__is_dreb", classifier.isDefReboundCol(text))
      .withColumn("__is_oreb", classifier.isOffReboundCol(text))

    val stats = base.filter(col("teamId").isNotNull)
      .groupBy(col("gameId"), col("teamId"))
      .agg(
        sum(when(col("__is_shot"), 1L).otherwise(0L)).as("fga"),
        sum(when(col("__is_shot") && col("scoringPlay"), 1L).otherwise(0L)).as("fgm"),
        sum(when(col("__is_shot") && col("scoringPlay") &&
          col("scoreValue") === 3.0, 1L).otherwise(0L)).as("fg3m"),
        sum(when(col("__is_ft"), 1L).otherwise(0L)).as("fta"),
        sum(when(col("__is_ft") && col("scoringPlay"), 1L).otherwise(0L)).as("ftm"),
        sum(when(col("__is_tov"), 1L).otherwise(0L)).as("tov"),
        sum(when(col("__is_dreb"), 1L).otherwise(0L)).as("dreb"),
        sum(when(col("__is_oreb"), 1L).otherwise(0L)).as("oreb"),
        sum(when(col("scoringPlay"), col("scoreValue")).otherwise(0.0)).as("pts"),
        max(coalesce(col("period"), lit(1))).as("max_period"),
        max(col("isHomeTeam").cast("int")).as("__is_home"))

    // event-counted possessions credit the offense team
    val poss = base.filter(col("possession_end") && col("offense_team_id").isNotNull)
      .groupBy(col("gameId"), col("offense_team_id").as("teamId"))
      .agg(count(lit(1)).as("possessions_event"))

    val t = stats.join(poss, Seq("gameId", "teamId"), "left")
      .withColumn("possessions_event",
        coalesce(col("possessions_event"), lit(0L)))
      .withColumn("possessions_formula",
        col("fga") - col("oreb") + col("tov") + lit(0.44) * col("fta"))

    // opponent self-join (J8): the other team's row in the same game,
    // keyed on a renamed game id so the condition cannot resolve to the
    // same attribute on both sides
    val o = t.select(col("gameId").as("__opp_gid"),
      col("teamId").as("__opp_tid"), col("pts").as("opp_pts"),
      col("possessions_formula").as("opp_poss_formula"),
      col("dreb").as("opp_dreb"), col("fga").as("opp_fga"))
    val joined = t.join(o,
      col("gameId") === col("__opp_gid") && col("teamId") =!= col("__opp_tid"))
      .drop("__opp_gid")

    joined
      .withColumn("opponentId", col("__opp_tid"))
      .withColumn("game_minutes",
        lit(40.0) + lit(5.0) * greatest(col("max_period") - 2, lit(0)))
      .withColumn("efg_pct",
        when(col("fga") > 0, (col("fgm") + lit(0.5) * col("fg3m")) / col("fga")))
      .withColumn("ts_pct",
        when(col("fga") + lit(0.44) * col("fta") > 0,
          col("pts") / (lit(2.0) * (col("fga") + lit(0.44) * col("fta")))))
      .withColumn("ft_rate", when(col("fga") > 0, col("fta") / col("fga")))
      .withColumn("tov_ratio",
        when(col("possessions_formula") > 0,
          col("tov") / col("possessions_formula")))
      .withColumn("oreb_pct",
        when(col("oreb") + col("opp_dreb") > 0,
          col("oreb") / (col("oreb") + col("opp_dreb"))))
      .withColumn("pace",
        when(col("game_minutes") > 0,
          (col("possessions_formula") + col("opp_poss_formula")) / 2.0
            * (lit(40.0) / col("game_minutes"))))
      .withColumn("is_home_team", col("__is_home") === 1)
      .drop("__opp_tid", "__is_home")
  }

  /** Per-game garbage-time minutes (SURVEY W7; semantics per
    * /root/reference/scripts/build_pbp_game_teams_flat.py:301-314):
    * collapse plays to distinct (game, period, secondsRemaining) clock
    * instants with an OR over the garbage flag, then integrate the
    * clock — each flagged instant contributes `sec - next_sec` seconds,
    * where next_sec is the next smaller distinct sec in that period
    * (0 after the last instant).
    *
    * Spark shape: one hash agg to the clock grid (distinct instants per
    * game — bounded by clock resolution, never play-count-sized), a
    * per-(game, period) lag window over it, one more agg to game grain.
    * Both shuffles are on game keys; the window partition is a single
    * game-period — no global window, safe at any game count.
    */
  def garbageMinutes(enriched: DataFrame): DataFrame = {
    val clock = enriched
      .filter(col("period").isNotNull && col("secondsRemaining").isNotNull)
      .groupBy(col("gameId"), col("period"),
        col("secondsRemaining").as("sec"))
      .agg(max(col("garbage_time").cast("int")).as("g"))
    val w = Window.partitionBy(col("gameId"), col("period"))
      .orderBy(col("sec").desc)
    clock
      .withColumn("next_sec", coalesce(lead(col("sec"), 1).over(w), lit(0L)))
      .groupBy(col("gameId"))
      .agg((sum(when(col("g") === 1,
          greatest(col("sec") - col("next_sec"), lit(0L))).otherwise(0L))
        / 60.0).as("garbage_time_minutes"))
  }
}
