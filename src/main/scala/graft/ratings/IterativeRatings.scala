package graft.ratings

/** Pomeroy-style iterative SOS-adjusted efficiency solver — a clean-room
  * Scala port of the reference's semantic core (semantics per
  * /root/reference/gold/iterative_ratings.py:80-353; constants per
  * config.yaml:206-214). Pure function, no I/O, no Spark: at reference
  * cardinality (≤ ~6k games × ~365 teams per season) the observation set
  * trivially fits on the driver, so the idiomatic Spark shape is
  * collect → solve → createDataFrame (SURVEY.md §2.9 I1). Determinism:
  * all iteration runs in sorted-team / pre-sorted-game order so float
  * accumulation order is fixed (SURVEY.md §7.4 hard-part 2).
  */
object IterativeRatings {

  /** One team-game observation: points and possessions for the team and
    * its opponent in a single game, plus a recency weight and venue. */
  final case class GameObs(
      team: Long,
      opp: Long,
      pts: Double,
      poss: Double,
      oppPts: Double,
      oppPoss: Double,
      weight: Double,
      isHome: Boolean,
      neutral: Boolean)

  final case class Config(
      maxIter: Int = 200,
      tol: Double = 0.01,
      damping: Double = 1.0,
      hca: Double = 4.0266, // home-court advantage, efficiency points
      clampLo: Double = 40.0,
      clampHi: Double = 200.0,
      barthagExp: Double = 11.5,
      sosExponent: Double = 0.85,
      // post-convergence shrink toward league average (reference
      // iterative_ratings.py:89,299-303; sos_sweep_solver.py variants)
      shrinkage: Double = 0.0)

  final case class Rating(
      team: Long,
      adjOe: Double,
      adjDe: Double,
      rawOe: Double,
      rawDe: Double,
      barthag: Double,
      games: Int,
      iterations: Int,
      // tempo + strength-of-schedule aggregates
      // (reference iterative_ratings.py:305-353)
      adjTempo: Double = 0.0,
      sosOe: Double = 0.0,
      sosDe: Double = 0.0)

  private def clamp(x: Double, lo: Double, hi: Double): Double =
    math.max(lo, math.min(hi, x))

  /** BARTHAG win-probability vs an average team: oe^k / (oe^k + de^k),
    * with overflow/degenerate guards (reference iterative_ratings.py:58-77). */
  def barthag(oe: Double, de: Double, exp: Double): Double = {
    if (oe <= 0 || de <= 0) return 0.5
    // compute in log space to dodge overflow for large exponents
    val lo = exp * math.log(oe)
    val ld = exp * math.log(de)
    val m = math.max(lo, ld)
    val eo = math.exp(lo - m)
    val ed = math.exp(ld - m)
    eo / (eo + ed)
  }

  /** Weighted league average efficiency: Σ(w·pts)/Σ(w·poss)·100 over all
    * observations (reference iterative_ratings.py:131-139). */
  def leagueAverage(games: Seq[GameObs]): Double = {
    var num = 0.0
    var den = 0.0
    games.foreach { g => num += g.weight * g.pts; den += g.weight * g.poss }
    if (den == 0) 100.0 else num / den * 100.0
  }

  /** Per-game HCA-adjusted offensive/defensive efficiency for the row's
    * team (reference iterative_ratings.py:141-177): eff = pts/poss*100,
    * home side gives back `hca` on offense and gains it on defense. */
  private def gameEff(g: GameObs, hca: Double): (Double, Double) = {
    val rawOe = if (g.poss > 0) g.pts / g.poss * 100.0 else 0.0
    val rawDe = if (g.oppPoss > 0) g.oppPts / g.oppPoss * 100.0 else 0.0
    if (g.neutral) (rawOe, rawDe)
    else if (g.isHome) (rawOe - hca, rawDe + hca)
    else (rawOe + hca, rawDe - hca)
  }

  /** Fixed-point solve. Each pass recomputes every team's adjusted OE/DE
    * as the weighted mean of its per-game efficiencies scaled by the
    * opponent's current rating relative to league average raised to
    * `sosExponent` (reference iterative_ratings.py:225-297), with
    * damping, clamping to [clampLo, clampHi], and max-|Δ| convergence. */
  def solve(
      gamesIn: Seq[GameObs],
      cfg: Config = Config(),
      warmStart: Map[Long, (Double, Double)] = Map.empty): Seq[Rating] = {
    // fixed traversal order => reproducible float accumulation
    val games = gamesIn.sortBy(g => (g.team, g.opp, g.pts, g.oppPts))
    val teams = games.map(_.team).distinct.sorted
    if (teams.isEmpty) return Seq.empty
    val league = leagueAverage(games)

    val byTeam: Map[Long, Seq[GameObs]] = games.groupBy(_.team)

    // init: warm start when available, else raw weighted efficiency
    var oe = scala.collection.mutable.LinkedHashMap[Long, Double]()
    var de = scala.collection.mutable.LinkedHashMap[Long, Double]()
    val rawOe = scala.collection.mutable.Map[Long, Double]()
    val rawDe = scala.collection.mutable.Map[Long, Double]()
    // raw tempo = weighted mean possessions per game over valid
    // (poss > 0) games (reference iterative_ratings.py:187-202)
    val rawTempo = scala.collection.mutable.Map[Long, Double]()
    teams.foreach { t =>
      var wo = 0.0; var wd = 0.0; var w = 0.0
      var tp = 0.0; var tw = 0.0
      byTeam(t).foreach { g =>
        val (go, gd) = gameEff(g, cfg.hca)
        wo += g.weight * go; wd += g.weight * gd; w += g.weight
        if (g.poss > 0) { tp += g.weight * g.poss; tw += g.weight }
      }
      val ro = if (w > 0) wo / w else league
      val rd = if (w > 0) wd / w else league
      rawOe(t) = ro; rawDe(t) = rd
      rawTempo(t) = if (tw > 0) tp / tw else 0.0
      val (o0, d0) = warmStart.getOrElse(t, (ro, rd))
      oe(t) = clamp(o0, cfg.clampLo, cfg.clampHi)
      de(t) = clamp(d0, cfg.clampLo, cfg.clampHi)
    }

    var iter = 0
    var maxDelta = Double.MaxValue
    while (iter < cfg.maxIter && maxDelta > cfg.tol) {
      maxDelta = 0.0
      val nextOe = scala.collection.mutable.LinkedHashMap[Long, Double]()
      val nextDe = scala.collection.mutable.LinkedHashMap[Long, Double]()
      teams.foreach { t =>
        var no = 0.0; var nd = 0.0; var w = 0.0
        byTeam(t).foreach { g =>
          val (go, gd) = gameEff(g, cfg.hca)
          // SOS multiplier: a strong opponent defense inflates your
          // offensive showing; (league/opp)^alpha, guarded
          val od = de.getOrElse(g.opp, league)
          val oo = oe.getOrElse(g.opp, league)
          val mo = if (od > 0) math.pow(league / od, cfg.sosExponent) else 1.0
          val md = if (oo > 0) math.pow(league / oo, cfg.sosExponent) else 1.0
          no += g.weight * go * mo
          nd += g.weight * gd * md
          w += g.weight
        }
        val to = if (w > 0) no / w else league
        val td = if (w > 0) nd / w else league
        val o1 = clamp(oe(t) + cfg.damping * (to - oe(t)), cfg.clampLo, cfg.clampHi)
        val d1 = clamp(de(t) + cfg.damping * (td - de(t)), cfg.clampLo, cfg.clampHi)
        maxDelta = math.max(maxDelta, math.max(math.abs(o1 - oe(t)), math.abs(d1 - de(t))))
        nextOe(t) = o1; nextDe(t) = d1
      }
      oe = nextOe; de = nextDe
      iter += 1
    }

    // post-convergence shrinkage toward the league average, BEFORE
    // barthag (reference order: shrink maps, then build results)
    if (cfg.shrinkage > 0) teams.foreach { t =>
      oe(t) = (1.0 - cfg.shrinkage) * oe(t) + cfg.shrinkage * league
      de(t) = (1.0 - cfg.shrinkage) * de(t) + cfg.shrinkage * league
    }

    // adjusted tempo: scale raw tempo by league-avg over opponent-avg
    // tempo; SOS = recency-weighted mean of opponents' adjusted ratings
    // (reference iterative_ratings.py:305-353)
    var leagueTempo = 0.0
    var tempoCount = 0
    teams.foreach { t =>
      if (byTeam(t).nonEmpty && rawTempo(t) > 0) {
        leagueTempo += rawTempo(t); tempoCount += 1
      }
    }
    if (tempoCount > 0) leagueTempo /= tempoCount

    teams.map { t =>
      var wOppDe = 0.0; var wOppOe = 0.0; var wOppTempo = 0.0; var w = 0.0
      byTeam(t).foreach { g =>
        if (g.poss > 0) {
          wOppDe += g.weight * de.getOrElse(g.opp, league)
          wOppOe += g.weight * oe.getOrElse(g.opp, league)
          wOppTempo += g.weight * rawTempo.getOrElse(g.opp, leagueTempo)
          w += g.weight
        }
      }
      val sosOe = if (w > 0) wOppDe / w else league
      val sosDe = if (w > 0) wOppOe / w else league
      val avgOppTempo = if (w > 0) wOppTempo / w else leagueTempo
      val adjTempo =
        if (leagueTempo > 0 && avgOppTempo > 0)
          rawTempo(t) * (leagueTempo / avgOppTempo)
        else rawTempo(t)
      Rating(t, oe(t), de(t), rawOe(t), rawDe(t),
        barthag(oe(t), de(t), cfg.barthagExp), byTeam(t).size, iter,
        adjTempo, sosOe, sosDe)
    }
  }

  /** Recency decay weight 0.5^(daysAgo/halfLife) (reference
    * iterative_ratings.py:48-55); halfLife <= 0 disables decay. */
  def decayWeight(daysAgo: Double, halfLife: Double): Double =
    if (halfLife <= 0) 1.0 else math.pow(0.5, daysAgo / halfLife)
}
