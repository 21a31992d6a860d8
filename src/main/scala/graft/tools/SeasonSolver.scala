package graft.tools

import org.apache.spark.sql.functions._

/** Full-season warm-start solver measurement (VERDICT r11 #4): drives
  * the REAL AdjustedEfficiencies.build over a dense ~150-date,
  * ~360-team season derived from sf0.1 orders — the production shape
  * of reference gold/adjusted_efficiencies.py:525-637 — and prints
  * wall time, the per-date solver-iteration trajectory (the
  * reference logs exactly this at :592-597), total sweeps for the
  * warm-started run vs the cold comparison arm, and the driver-heap
  * high-water mark sampled through the run.
  *
  * Usage: SeasonSolver [sfDir] [nDates] [nTeams]
  */
object SeasonSolver {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val nDates = args.lift(1).map(_.toInt).getOrElse(150)
    val nTeams = args.lift(2).map(_.toInt).getOrElse(360)
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val g0 = graft.queries.GoldGate.games(spark, sfDir, nTeams)
    val dates = g0.select(substring(col("startDate"), 1, 10).as("gd"))
      .distinct().orderBy(col("gd").asc).limit(nDates)
      .collect().map(_.getString(0)).toSeq
    val g = g0.filter(substring(col("startDate"), 1, 10).isin(dates: _*))
      .localCheckpoint(true) // both arms replay the same frozen fixture
    val gt = graft.queries.GoldGate.gameTeamsOf(g)
    val dim = spark.range(nTeams).select(col("id").as("teamId"),
      concat(lit("Team"), col("id")).as("school"),
      concat(lit("Conf"), col("id") % 32).as("conference"))

    // driver-heap high-water sampler (200 ms cadence)
    @volatile var peak = 0L
    @volatile var stop = false
    val rt = Runtime.getRuntime
    val sampler = new Thread(() => {
      while (!stop) {
        peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
        Thread.sleep(200)
      }
    })
    sampler.setDaemon(true); sampler.start()

    def iterTrajectory(warm: Boolean): (Double, Seq[(String, Int)]) = {
      val t0 = System.nanoTime()
      val snap = graft.gold.AdjustedEfficiencies.build(
        spark, gt, g, dim, season = 2025, warm = warm)
      val traj = snap.select(col("rating_date"), col("iterations"))
        .distinct().orderBy(col("rating_date").asc)
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      ((System.nanoTime() - t0) / 1e9, traj)
    }

    val (warmSec, warmTraj) = iterTrajectory(warm = true)
    val (coldSec, coldTraj) = iterTrajectory(warm = false)
    stop = true

    def fmt(t: Seq[(String, Int)]): String = {
      val is = t.map(_._2)
      val med = is.sorted.apply(is.size / 2)
      s"dates=${is.size} first=${is.head} median=$med last=${is.last} " +
        s"total_sweeps=${is.sum}"
    }
    println(s"season: dates=${dates.size} teams=$nTeams " +
      s"games=${g.count()} sf=$sfDir")
    println(f"warm: $warmSec%.1f s  ${fmt(warmTraj)}")
    println(f"cold: $coldSec%.1f s  ${fmt(coldTraj)}")
    println(f"warm/cold sweep ratio: " +
      f"${warmTraj.map(_._2).sum.toDouble / coldTraj.map(_._2).sum}%.3f")
    println(f"driver-heap high-water: ${peak / 1024.0 / 1024.0}%.0f MiB")
    println("per-date iterations (warm): " +
      warmTraj.map(_._2).mkString(","))
    spark.stop()
  }
}
