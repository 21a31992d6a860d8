package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ratings.IterativeRatings
import graft.ratings.IterativeRatings.{Config, GameObs}

/** Solver invariants mirroring the reference's test intent
  * (/root/reference/tests/test_iterative_ratings.py): decay weights at
  * exact half-lives, barthag edge cases, small-league convergence,
  * relative-ordering preservation, neutral-site HCA, warm start, and
  * the additive variant's league-mean invariance. */
class IterativeRatingsSpec extends AnyFunSuite {

  private def twoSided(h: Long, a: Long, hp: Double, ap: Double,
      poss: Double = 70.0, neutral: Boolean = false, w: Double = 1.0): Seq[GameObs] =
    Seq(
      GameObs(h, a, hp, poss, ap, poss, w, isHome = true, neutral = neutral),
      GameObs(a, h, ap, poss, hp, poss, w, isHome = false, neutral = neutral))

  test("decay weight is 1 at zero days and halves per half-life") {
    assert(IterativeRatings.decayWeight(0, 30) === 1.0)
    assert(math.abs(IterativeRatings.decayWeight(30, 30) - 0.5) < 1e-12)
    assert(math.abs(IterativeRatings.decayWeight(60, 30) - 0.25) < 1e-12)
    assert(IterativeRatings.decayWeight(999, 0) === 1.0) // disabled
  }

  test("barthag: equal ratings -> 0.5; dominant offense -> ~1; guards degenerate inputs") {
    assert(math.abs(IterativeRatings.barthag(100, 100, 11.5) - 0.5) < 1e-12)
    assert(IterativeRatings.barthag(150, 80, 11.5) > 0.99)
    assert(IterativeRatings.barthag(80, 150, 11.5) < 0.01)
    assert(IterativeRatings.barthag(0, 100, 11.5) === 0.5)
    assert(IterativeRatings.barthag(-5, 100, 11.5) === 0.5)
    // no overflow at extreme ratings
    assert(!IterativeRatings.barthag(200, 40, 50).isNaN)
  }

  test("league average is the possession-weighted global efficiency") {
    val g = twoSided(1, 2, 80, 60, poss = 80) // 140 pts / 160 poss * 100
    assert(math.abs(IterativeRatings.leagueAverage(g) - 87.5) < 1e-12)
  }

  test("two-team league converges and the better team rates higher") {
    // team 1 beats team 2 on neutral floor repeatedly
    val games = (1 to 4).flatMap(_ => twoSided(1, 2, 80, 60, neutral = true))
    val r = IterativeRatings.solve(games, Config(tol = 1e-6)).map(x => x.team -> x).toMap
    assert(r(1).adjOe > r(2).adjOe)
    assert(r(1).adjDe < r(2).adjDe)
    assert(r(1).barthag > 0.5 && r(2).barthag < 0.5)
    assert(r(1).iterations < 200)
  }

  test("relative ordering is preserved through SOS adjustment") {
    // 1 > 2 > 3 in a round-robin with consistent margins
    val games =
      twoSided(1, 2, 80, 70, neutral = true) ++
        twoSided(2, 3, 80, 70, neutral = true) ++
        twoSided(1, 3, 85, 65, neutral = true)
    val r = IterativeRatings.solve(games, Config(tol = 1e-6))
      .map(x => x.team -> (x.adjOe - x.adjDe)).toMap
    assert(r(1) > r(2) && r(2) > r(3))
  }

  test("neutral-site games apply no HCA; home games do") {
    val neutral = IterativeRatings.solve(
      twoSided(1, 2, 75, 75, neutral = true), Config(maxIter = 0))
    val home = IterativeRatings.solve(
      twoSided(1, 2, 75, 75, neutral = false), Config(maxIter = 0))
    val nr = neutral.map(x => x.team -> x).toMap
    val hr = home.map(x => x.team -> x).toMap
    // identical scores: neutral -> identical raw ratings; home team's
    // raw OE is discounted by the HCA it enjoyed
    assert(nr(1).rawOe === nr(2).rawOe)
    assert(hr(1).rawOe < nr(1).rawOe)
    assert(hr(2).rawOe > nr(2).rawOe)
  }

  test("warm start converges to the same fixed point") {
    val games = (1 to 3).flatMap(i =>
      twoSided(1, 2, 80 + i, 65, neutral = true) ++
        twoSided(2, 3, 72, 70 - i, neutral = true))
    val cold = IterativeRatings.solve(games, Config(tol = 1e-8))
    val warm = IterativeRatings.solve(games, Config(tol = 1e-8),
      warmStart = cold.map(r => r.team -> (r.adjOe, r.adjDe)).toMap)
    cold.zip(warm).foreach { case (c, w) =>
      assert(math.abs(c.adjOe - w.adjOe) < 1e-4)
      assert(math.abs(c.adjDe - w.adjDe) < 1e-4)
    }
    // warm start should converge at least as fast
    assert(warm.head.iterations <= cold.head.iterations)
  }

  test("solver is deterministic across runs and input order") {
    val games = (1 to 5).flatMap(i =>
      twoSided(i.toLong % 4, (i + 1).toLong % 4 + 4, 70 + i, 68, neutral = i % 2 == 0))
    val a = IterativeRatings.solve(games)
    val b = IterativeRatings.solve(scala.util.Random.shuffle(games.toList))
    assert(a === b)
  }

  test("ratings stay within the clamp bounds") {
    val blowout = twoSided(1, 2, 200, 2, poss = 50, neutral = true)
    val r = IterativeRatings.solve(blowout, Config(tol = 1e-6))
    r.foreach { x =>
      assert(x.adjOe >= 40.0 && x.adjOe <= 200.0)
      assert(x.adjDe >= 40.0 && x.adjDe <= 200.0)
    }
  }

  test("post-convergence shrinkage contracts toward the league average") {
    val games = twoSided(1, 2, 90, 60) ++ twoSided(2, 3, 80, 70) ++
      twoSided(1, 3, 95, 55)
    val base = IterativeRatings.solve(games).map(r => r.team -> r).toMap
    val league = IterativeRatings.leagueAverage(
      games.sortBy(g => (g.team, g.opp, g.pts, g.oppPts)))

    // shrinkage 1.0: every rating IS the league average (reference
    // iterative_ratings.py:299-303), barthag from shrunk values -> 0.5
    val full = IterativeRatings.solve(games, Config(shrinkage = 1.0))
    full.foreach { r =>
      assert(math.abs(r.adjOe - league) < 1e-9)
      assert(math.abs(r.adjDe - league) < 1e-9)
      assert(math.abs(r.barthag - 0.5) < 1e-9)
    }

    // shrinkage 0.5: exact affine blend of the unshrunk fixed point
    val half = IterativeRatings.solve(games, Config(shrinkage = 0.5))
    half.foreach { r =>
      val b = base(r.team)
      assert(math.abs(r.adjOe - (0.5 * b.adjOe + 0.5 * league)) < 1e-9)
      assert(math.abs(r.adjDe - (0.5 * b.adjDe + 0.5 * league)) < 1e-9)
    }

    // default shrinkage 0.0 is the identity
    val zero = IterativeRatings.solve(games, Config(shrinkage = 0.0))
    zero.foreach(r => assert(r.adjOe == base(r.team).adjOe))
  }

  test("tempo and SOS aggregates (reference iterative_ratings.py:305-353)") {
    // uniform tempo: adjTempo == rawTempo == poss for every team
    val uniform = (1 to 3).flatMap(_ => twoSided(1, 2, 80, 70, poss = 70,
      neutral = true)) ++ twoSided(2, 3, 75, 72, poss = 70, neutral = true)
    IterativeRatings.solve(uniform, Config(tol = 1e-8)).foreach { r =>
      assert(math.abs(r.adjTempo - 70.0) < 1e-9)
    }

    // team 1 plays only slow opponents (60 poss), league has a fast pair
    // (90 poss): 1's opponent-avg tempo < league avg -> adjTempo > rawTempo
    val mixed =
      twoSided(1, 2, 70, 65, poss = 60, neutral = true) ++
        twoSided(3, 4, 95, 90, poss = 90, neutral = true)
    val m = IterativeRatings.solve(mixed, Config(tol = 1e-8))
      .map(x => x.team -> x).toMap
    assert(m(1).adjTempo > 60.0 - 1e-9)
    assert(m(3).adjTempo < 90.0 + 1e-9)

    // SOS: a team's sosOe is the weighted mean of its opponents' adjDe
    // (and sosDe of their adjOe) — check directly on a 3-team league
    val games = twoSided(1, 2, 80, 70, neutral = true) ++
      twoSided(2, 3, 75, 72, neutral = true)
    val r = IterativeRatings.solve(games, Config(tol = 1e-8))
      .map(x => x.team -> x).toMap
    // team 1's only opponent is 2
    assert(math.abs(r(1).sosOe - r(2).adjDe) < 1e-9)
    assert(math.abs(r(1).sosDe - r(2).adjOe) < 1e-9)
    // team 2 played 1 and 3 once each, equal weight
    assert(math.abs(r(2).sosOe - (r(1).adjDe + r(3).adjDe) / 2) < 1e-9)
    assert(math.abs(r(2).sosDe - (r(1).adjOe + r(3).adjOe) / 2) < 1e-9)
  }
}
