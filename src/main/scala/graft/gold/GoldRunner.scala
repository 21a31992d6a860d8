package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.LakeIO

/** Gold-layer registry + runner, mirroring the reference's
  * `gold/runner.py` surface (--season, --table, dry-run): each transform
  * reads its silver inputs from a lake root (Hive-layout parquet),
  * builds the gold DataFrame, and writes it partitioned by season.
  *
  * Silver inputs are read with `spark.read.parquet(root/<table>)` so
  * partition pruning applies; outputs go to
  * `<root>/gold/<table>/season=<n>/` via dynamic partition overwrite
  * (idempotent re-runs, reference runner.py:134-141).
  */
object GoldRunner {

  type Build = (SparkSession, String, Int) => DataFrame

  private def rd(s: SparkSession, root: String, t: String): DataFrame =
    s.read.parquet(s"$root/$t")

  val transforms: Map[String, Build] = Map(
    "market_lines_analysis" -> ((s, root, season) =>
      MarketLinesAnalysis.build(
        rd(s, root, "fct_lines"), rd(s, root, "fct_games"),
        rd(s, root, "dim_teams"), season)),
    "team_season_summary" -> ((s, root, season) =>
      TeamSeasonSummary.build(
        rd(s, root, "fct_games"), rd(s, root, "dim_teams"),
        rd(s, root, "fct_ratings_adjusted"), rd(s, root, "fct_ratings_srs"),
        rd(s, root, "fct_pbp_team_daily_rollup"),
        rd(s, root, "fct_recruiting_players"), season)),
    "team_power_rankings" -> ((s, root, season) =>
      TeamPowerRankings.build(
        rd(s, root, "fct_ratings_adjusted"), rd(s, root, "fct_ratings_srs"),
        rd(s, root, "fct_rankings"), rd(s, root, "fct_pbp_team_daily_rollup"),
        rd(s, root, "fct_pbp_team_daily_rollup_adj"),
        rd(s, root, "dim_teams"), season)),
    "game_predictions_features" -> ((s, root, season) =>
      GamePredictionsFeatures.build(
        rd(s, root, "fct_games"), rd(s, root, "fct_ratings_adjusted"),
        rd(s, root, "fct_ratings_srs"), rd(s, root, "fct_pbp_team_daily_rollup"),
        rd(s, root, "fct_lines"), rd(s, root, "dim_teams"), season)),
    "player_season_impact" -> ((s, root, season) =>
      PlayerSeasonImpact.build(
        rd(s, root, "fct_player_season_stats"),
        rd(s, root, "fct_recruiting_players"), season)),
    "team_adjusted_efficiencies" -> ((s, root, season) =>
      AdjustedEfficiencies.build(s,
        rd(s, root, "fct_game_teams"), rd(s, root, "fct_games"),
        rd(s, root, "dim_teams"), season)),
    "team_adjusted_efficiencies_no_garbage" -> ((s, root, season) =>
      AdjustedEfficiencies.buildNoGarbage(s,
        rd(s, root, "fct_pbp_game_teams_flat_garbage_removed"),
        rd(s, root, "fct_games"), rd(s, root, "dim_teams"), season)))

  /** Run one or all transforms; errors per table are caught and reported
    * so the run continues (reference runner.py:98-108). Returns
    * table -> Right(rowCount) | Left(error).
    *
    * Transforms run CONCURRENTLY (8-way, the `Par` pool): the registry is a flat DAG —
    * every transform reads only silver inputs, none reads another's
    * gold output — so the per-table result is independent of execution
    * order, and interleaving their many small jobs across the
    * scheduler hides the driver-loop latency that dominated a
    * sequential run (each builder is a chain of sub-second jobs; the
    * two adjusted-efficiency builders also run driver-side solver
    * loops between jobs). Error isolation stays per-table: a failed
    * build/write lands in its own Left without disturbing the rest. */
  def run(spark: SparkSession, root: String, season: Int,
      only: Option[String] = None, dryRun: Boolean = false): Map[String, Either[String, Long]] = {
    val selected = only.fold(transforms)(t => transforms.filter(_._1 == t))
    graft.Par.map(selected.toSeq) { case (name, build) =>
      name -> (try {
        // schema contract before the sink (reference runner applies
        // normalize_records inside each builder's return)
        val df = GoldSchemas.conform(
          build(spark, root, season).withColumn("season",
            org.apache.spark.sql.functions.lit(season)), name)
        if (dryRun) Right(df.count())
        else {
          LakeIO.writePartitioned(df, s"$root/gold/$name", Seq("season"))
          Right(spark.read.parquet(s"$root/gold/$name").count())
        }
      } catch { case e: Throwable => Left(describe(e)) })
    }.toMap
  }

  /** Full failure record for a transform's Left — ADVICE r15: the g08
    * gate suppresses Spark's task-failure loggers for its whole runner
    * window, so a REAL (non-poison) task failure during that window
    * would otherwise survive only as e.getMessage; the Left must carry
    * the complete cause chain + stack itself. */
  private def describe(e: Throwable): String = {
    val sw = new java.io.StringWriter()
    e.printStackTrace(new java.io.PrintWriter(sw)) // includes the cause chain
    sw.toString
  }

  /** CLI entry mirroring the reference runner (runner.py:31-79):
    * --root <lake> --season <year> [--table <name>] [--dry-run].
    * Exit 1 when any transform failed (reference: per-table errors are
    * reported and the run continues). */
  def main(args: Array[String]): Unit = {
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val root = opt("--root").getOrElse(
      sys.error("--root <silver lake dir> is required"))
    val season = opt("--season").map(_.toInt).getOrElse(
      sys.error("--season <year> is required"))
    val only = opt("--table")
    val dryRun = args.contains("--dry-run")

    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val results = run(spark, root, season, only, dryRun)
      results.toSeq.sortBy(_._1).foreach {
        case (t, Right(n)) => println(s"[ok]   $t rows=$n")
        case (t, Left(e)) => println(s"[fail] $t $e")
      }
      if (results.values.exists(_.isLeft)) sys.exit(1)
    } finally spark.stop()
  }
}
