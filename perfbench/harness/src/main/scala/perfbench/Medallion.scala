package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.GoldGate
import graft.sources.{LakeIO, Tables}

/** The daily raw → gold refresh as one pass: bronze, silver, PBP,
  * rollup, ratings, gold and quality, each layer reading the previous
  * layer's persisted output from a temp lake and writing its own.
  *
  * Inputs are reference-shaped raw NDJSON feeds (games, plays, lines)
  * and published reference tables (teams, game-team box scores,
  * ratings, polls, recruiting, player stats), all derived from the
  * generated TPC-H-ish tables. Plays are the
  * foul-enriched event stream the pbp03/pbp04/pbp06 gates read, so the
  * pass's PBP tables must equal those gates' outputs. The workload seed
  * only permutes record order inside every raw file. */
final class Medallion(spark: SparkSession, data: String, seed: Long) {
  import Medallion._

  private var raw = ""
  private var lake = ""
  def silverRoot: String = s"$lake/silver"

  /** Write the raw NDJSON feeds and the reference tables under `dir`;
    * later passes read them. */
  def stage(dir: String): Unit = {
    raw = s"$dir/raw"
    lake = s"$dir/lake"
    val (feeds, refs) = rawTables(spark, data)
    graft.Par.foreach(feeds) { case (name, df) =>
      val key = xxhash64(lit(seed) +: df.columns.toSeq.map(col): _*)
      LakeIO.writeRawNdjson(df.orderBy(key), s"$raw/$name")
    }
    graft.Par.foreach(refs) { case (name, df) => write(df, s"$silverRoot/$name") }
  }

  /** One refresh, as the ordered layer steps of a pass. */
  def steps: Seq[Step] = Seq(
    Step("bronze", "bronze", t => bronze(t)),
    Step("silver", "silver", t => silver(t)),
    Step("pbp", "pbp", t => pbp(t)),
    Step("rollup", "rollup", t => rollup(t)),
    Step("ratings", "ratings", t => ratings(t)),
    Step("gold", "gold", t => gold(t)),
    Step("quality", "quality", t => quality(t)))

  private def rd(path: String): DataFrame = spark.read.parquet(path)
  private def write(df: DataFrame, path: String): Unit =
    LakeIO.writePartitioned(df, path, Nil)

  private def bronze(t: Tap): Unit = RawNames.foreach { n =>
    t.call(s"LakeIO.$n") {
      write(LakeIO.readRawNdjson(spark, s"$raw/$n"), s"$lake/bronze/$n")
    }
  }

  private def silver(t: Tap): Unit = SilverSpecs.foreach { case (n, src, pk) =>
    val in = rd(s"$lake/bronze/$src")
    val out = t.call(s"Normalize.$n") {
      val df = n match {
        case "fct_plays" => graft.silver.Normalize.plays(in)
        case "fct_lines" => graft.silver.Normalize.lines(in)
        case "fct_games" => graft.silver.Normalize.flatTable(in,
          Map("homeScore" -> Seq("homeScore", "homePoints")), pk, pk.head)
        case _ => graft.silver.Normalize.flatTable(in, Map.empty, pk, pk.head)
      }
      write(df, s"$silverRoot/$n")
      rd(s"$silverRoot/$n")
    }
    t.call(s"Contracts.$n") {
      val ok = graft.quality.Contracts.conformance(out,
        graft.quality.TableSpec(n, pk, out.schema)).head().getAs[Boolean]("ok")
      graft.quality.Contracts.audit(out, pk).collect()
      if (!ok) throw new IllegalStateException(s"silver contract failed: $n")
    }
  }

  private def pbp(t: Tap): Unit = {
    import spark.implicits._
    val silverPlays = rd(s"$silverRoot/fct_plays")
    val plays = silverPlays.select(playCols(silverPlays): _*)
      .as[graft.pbp.PossessionEngine.Play]
    t.call("PossessionEngine.enrich") {
      write(graft.pbp.PossessionEngine.enrich(plays).toDF(),
        s"$silverRoot/fct_pbp_plays_enriched")
    }
    val enr = rd(s"$silverRoot/fct_pbp_plays_enriched")
    t.call("GameTeamStats.build") {
      write(graft.pbp.GameTeamStats.build(enr), s"$lake/pbp/game_team_stats")
    }
    t.call("GameTeamStats.garbage_removed") {
      val gm = graft.pbp.GameTeamStats.garbageMinutes(enr)
      write(graft.pbp.GameTeamStats.build(enr, excludeGarbage = true)
        .join(gm, Seq("gameId"), "left")
        .withColumn("garbage_time_minutes",
          coalesce(col("garbage_time_minutes"), lit(0.0))),
        s"$lake/pbp/game_team_stats_no_garbage")
    }
    val games = rd(s"$silverRoot/fct_games")
    t.call("flat") {
      write(flat(rd(s"$lake/pbp/game_team_stats"), games),
        s"$silverRoot/fct_pbp_game_teams_flat")
      write(flat(rd(s"$lake/pbp/game_team_stats_no_garbage"), games),
        s"$silverRoot/fct_pbp_game_teams_flat_garbage_removed")
    }
  }

  private def rollup(t: Tap): Unit = {
    t.call("DailyRollup.build") {
      write(graft.rollup.DailyRollup.build(
          graft.rollup.DailyRollup.fromGameTeamStats(
            rd(s"$lake/pbp/game_team_stats"), rd(s"$silverRoot/fct_games"))),
        s"$lake/rollup/daily")
      write(latest(rd(s"$lake/rollup/daily"), "date"),
        s"$silverRoot/fct_pbp_team_daily_rollup")
    }
    t.call("RollupAdj.build") {
      write(graft.rollup.RollupAdj.build(spark,
          rd(s"$silverRoot/fct_pbp_game_teams_flat")),
        s"$lake/rollup/adj_daily")
      write(latest(rd(s"$lake/rollup/adj_daily"), "rating_date"),
        s"$silverRoot/fct_pbp_team_daily_rollup_adj")
    }
  }

  /** The warm-started season solve in the full-season solver's shape:
    * a dense window of game dates over a wider team field. */
  private def ratings(t: Tap): Unit = t.call("AdjustedEfficiencies.build") {
    val g0 = GoldGate.games(spark, data, RatingTeams)
    val dates = g0.select(substring(col("startDate"), 1, 10).as("gd"))
      .distinct().orderBy(col("gd").asc).limit(RatingDates)
      .collect().map(_.getString(0)).toSeq
    val g = g0.filter(substring(col("startDate"), 1, 10).isin(dates: _*))
    val dim = spark.range(RatingTeams).select(col("id").as("teamId"),
      concat(lit("Team"), col("id")).as("school"),
      concat(lit("Conf"), col("id") % 8).as("conference"))
    write(graft.gold.AdjustedEfficiencies.build(
        spark, GoldGate.gameTeamsOf(g), g, dim, season = Season, warm = true),
      s"$lake/ratings/season_warm")
  }

  /** table -> Right(rows) | Left(error) from the last gold step. */
  @volatile var goldStatus: Map[String, Either[String, Long]] = Map.empty
  @volatile var validated = false

  private def gold(t: Tap): Unit = t.call("GoldRunner.run") {
    goldStatus = graft.gold.GoldRunner.run(spark, silverRoot, Season)
    val bad = goldStatus.collect { case (n, Left(e)) => s"$n: ${e.take(300)}" }
    if (goldStatus.size != 7 || bad.nonEmpty)
      throw new IllegalStateException(s"gold tables failed: ${bad.mkString("; ")}")
  }

  private def quality(t: Tap): Unit = t.call("ValidateRunner.validate") {
    validated = false
    val s = graft.quality.ValidateRunner.validate(spark, s"$silverRoot/gold",
      out = _ => ())
    if (!s.ok || s.checked != 7)
      throw new IllegalStateException(s"validation failed: ${s.results}")
    validated = true
  }

  /** Write the tables the output check digests, from the last pass. */
  def writeCheck(out: String): Seq[String] = {
    def put(name: String, df: DataFrame): String = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name"); name
    }
    Seq(
      put("pbp04_game_team_stats",
        rd(s"$lake/pbp/game_team_stats").select(Pbp04Cols.map(col): _*)),
      put("pbp06_garbage_removed",
        rd(s"$lake/pbp/game_team_stats_no_garbage")
          .select((Pbp04Cols :+ "garbage_time_minutes").map(col): _*)),
      put("rollup_daily", rd(s"$lake/rollup/daily")),
      put("rollup_adj", rd(s"$lake/rollup/adj_daily")),
      put("ratings_season_warm", rd(s"$lake/ratings/season_warm"))) ++
      graft.gold.GoldRunner.transforms.keys.toSeq.sorted.map(n =>
        put(s"gold_$n", rd(s"$silverRoot/gold/$n")))
  }
}

object Medallion {
  val Season = 2025
  /** Game dates in the refreshed season window. */
  val SeasonDates = 6
  val RatingTeams = 60
  val RatingDates = 10

  /** Raw feeds the refresh ingests through bronze and silver: one per
    * Normalize path (nested payloads, exploded arrays, flat + alias). */
  val RawNames = Seq("games", "plays", "lines")

  /** (silver table, bronze source, primary key) */
  val SilverSpecs: Seq[(String, String, Seq[String])] = Seq(
    ("fct_plays", "plays", Seq("id")),
    ("fct_games", "games", Seq("gameId")),
    ("fct_lines", "lines", Seq("gameId", "provider")))

  /** The season-to-date snapshot gold reads: each team's latest row. */
  def latest(daily: DataFrame, date: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("teamid"))
    daily.withColumn("__last", max(col(date)).over(w))
      .filter(col(date) === col("__last")).drop("__last")
  }

  val Pbp04Cols = Seq("gameId", "teamId", "opponentId", "is_home_team",
    "fga", "fgm", "fg3m", "fta", "ftm", "tov", "dreb", "oreb", "pts",
    "max_period", "possessions_event", "possessions_formula", "opp_pts",
    "opp_poss_formula", "opp_dreb", "opp_fga", "game_minutes", "efg_pct",
    "ts_pct", "ft_rate", "tov_ratio", "oreb_pct", "pace")

  /** The PossessionEngine.Play columns of silver plays; fields every raw
    * record left null were dropped by the JSON writer and read as null. */
  def playCols(df: DataFrame): Seq[org.apache.spark.sql.Column] = Seq(
      "id" -> "long", "gameId" -> "long", "teamId" -> "long",
      "opponentId" -> "long", "period" -> "int", "secondsRemaining" -> "long",
      "playType" -> "string", "playText" -> "string",
      "scoringPlay" -> "boolean", "shootingPlay" -> "boolean",
      "scoreValue" -> "double", "homeScore" -> "long", "awayScore" -> "long",
      "isHomeTeam" -> "boolean").map { case (n, t) =>
    (if (df.columns.contains(n)) col(n) else lit(null)).cast(t).as(n)
  }

  /** PBP game-team stats → the flat per-(game, team) table the rollup
    * and no-garbage efficiency builders read (reference column names). */
  def flat(stats: DataFrame, games: DataFrame): DataFrame =
    stats.join(games.select(col("gameId"), col("startDate")), Seq("gameId"))
      .select(col("gameId").as("gameid"), col("teamId").as("teamid"),
        col("opponentId").as("opponentid"), col("startDate").as("startdate"),
        col("is_home_team").as("ishometeam"),
        col("pts").as("team_points_total"), col("opp_pts").as("opp_points_total"),
        col("possessions_event").cast("double").as("team_possessions"),
        col("opp_poss_formula").as("opp_possessions"),
        col("possessions_formula").as("team_possessions_formula"),
        col("opp_poss_formula").as("opp_possessions_formula"),
        col("game_minutes"))

  /** Reference-shaped raw feeds, and the reference tables the refresh
    * reads as published, derived from the generated tables. */
  def rawTables(s: SparkSession, d: String)
      : (Seq[(String, DataFrame)], Seq[(String, DataFrame)]) = {
    val users = Tables.events(s, d).agg(max(col("user_id"))).head().getLong(0) + 1
    val dim = GoldGate.dimD1(s, d)
    val games = Tables.orders(s, d).filter(col("o_orderkey") < users).select(
        col("o_orderkey").as("gameId"), lit(Season).as("season"),
        concat(date_format(date_add(lit("2024-11-04").cast("date"),
          (col("o_orderkey") % SeasonDates).cast("int")), "yyyy-MM-dd"),
          lit("T19:00:00")).as("startDate"),
        (col("o_custkey") % 25).as("homeTeamId"),
        ((col("o_custkey") + col("o_orderkey") % 7 + 1) % 25).as("awayTeamId"),
        (lit(55L) + col("o_orderkey") % 50).as("score"),
        (lit(55L) + (col("o_orderkey") * 7 + col("o_custkey")) % 50).as("awayScore"),
        (col("o_orderkey") % 10 === 0).as("neutralSite"))
      .filter(col("homeTeamId") =!= col("awayTeamId"))
    // alias drift (FIXTURES §A5): every 10th record says homePoints
    val rawGames = games
      .withColumn("homeScore", when(col("gameId") % 10 =!= 3, col("score")))
      .withColumn("homePoints", when(col("gameId") % 10 === 3, col("score")))
      .drop("score")
    val g = games.withColumnRenamed("score", "homeScore")
    val lines = GoldGate.lines(s, d).join(g.select("gameId"), Seq("gameId"))
      .groupBy(col("gameId")).agg(to_json(collect_list(struct(
        col("provider"), col("spread"), col("overUnder"),
        col("homeMoneyline"), col("awayMoneyline")))).as("lines"))
      .withColumn("season", lit(Season))
    (Seq(
      "games" -> rawGames,
      "plays" -> plays(s, d),
      "lines" -> lines),
    Seq(
      "dim_teams" -> dim,
      "fct_game_teams" -> GoldGate.gameTeamsOf(g),
      "fct_ratings_adjusted" -> GoldGate.adj(s, d),
      "fct_ratings_srs" -> GoldGate.srs(s, d),
      "fct_rankings" -> GoldGate.polls(s, d),
      "fct_recruiting_players" -> GoldGate.recruiting(s, d),
      "fct_player_season_stats" -> GoldGate.playerStats(s, d)))
  }

  /** The pbp03/pbp04 foul-enriched play stream as raw API records, with
    * the nested on-floor and shot payloads as JSON text (Python-repr on
    * every 7th record, which the silver pass must heal). */
  def plays(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val isShot = col("event_type").isin("click", "purchase") && col("event_id") % 5 =!= 2
    val onFloor = to_json(transform(sequence(lit(1), lit(10)), k =>
      struct((col("user_id") * 100 + k).as("id"),
        concat(lit("P"), (col("user_id") * 100 + k).cast("string")).as("name"))))
    val shot = when(isShot, to_json(struct(
      struct((col("user_id") * 100 + col("event_id") % 10 + 1).as("id"),
        lit("shooter").as("name")).as("shooter"),
      (col("value") > 0.5).cast("string").as("made"),
      when(col("event_type") === "purchase", "three_pointer")
        .otherwise("jumper").as("range"),
      lit("false").as("assisted"),
      struct((col("event_id") % 47).cast("double").as("x"),
        (col("event_id") % 29).cast("double").as("y")).as("location"))))
    def repr(c: org.apache.spark.sql.Column) =
      when(col("event_id") % 7 === 4, regexp_replace(c, "\"", "'")).otherwise(c)
    e.select(
      col("event_id").as("id"),
      col("user_id").as("gameId"),
      (lit(1L) + col("event_id") % 2).as("teamId"),
      (lit(2L) - col("event_id") % 2).as("opponentId"),
      (lit(1) + (col("event_id") % 97 % 2)).cast("int").as("period"),
      (lit(1200L) - (col("event_id") % 149) * 8).as("secondsRemaining"),
      when(col("event_id") % 5 === 2, "Personal Foul")
        .when(col("event_type") === "click", "JumpShot")
        .when(col("event_type") === "view", "Defensive Rebound")
        .when(col("event_type") === "purchase", "Three Point Jump Shot")
        .when(col("event_type") === "signup", "Free Throw 1 of 1")
        .otherwise("Lost Ball Turnover").as("playType"),
      (col("value") > 0.5).as("scoringPlay"),
      when(col("event_id") % 5 === 2, lit(null).cast("double"))
        .when(col("event_type") === "signup", 1.0)
        .when(col("event_type") === "purchase", 3.0)
        .when(col("event_type") === "click", 2.0).as("scoreValue"),
      (col("event_id") % 40).as("homeScore"),
      (col("event_id") % 37).as("awayScore"),
      (col("event_id") % 2 === 0).as("isHomeTeam"),
      repr(onFloor).as("onFloor"),
      repr(shot).as("shotInfo"))
  }
}
