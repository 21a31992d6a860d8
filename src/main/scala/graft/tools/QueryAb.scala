package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Same-JVM interleaved A/B of registered `SparkEntry` queries — the
  * only trustworthy comparison signal on a contended host (cross-JVM
  * wall times swing several-fold; see BENCH_SCALE.md). Runs one untimed
  * warm pass per query, then `passes` timed passes interleaved
  * A,B,A,B,... so a contention window hits both sides equally, and
  * prints per-query medians plus the ratio of each query to the first.
  *
  * A job listener splits each sample's wall into Spark job time and
  * driver gap (planning, analysis and driver-side work between jobs),
  * so each row also prints the median job count, job seconds and gap:
  * the numbers that say whether a row is data-bound or driver-bound.
  * Jobs are attributed to a sample by their start time; concurrent jobs
  * (a `Par` fan-out) sum, so job seconds can exceed wall.
  *
  * Results drain through the noop write (every output column evaluated,
  * nothing shipped) — `count()` would let Catalyst prune the compute.
  *
  * Usage: QueryAb <sfDir> <passes> <queryA> <queryB> [more...] [via
  * run_verify.sh's classpath + --add-opens set].
  */
object QueryAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = args(1).toInt
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "need at least one query name")

    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    // (start ms, end ms) per finished job, from the scheduler's own
    // event timestamps, so late listener delivery does not skew them
    val starts = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, (Long, Long)]
    @volatile var lastEvent = System.nanoTime()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts(js.jobId) = js.time; lastEvent = System.nanoTime()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        starts.remove(je.jobId).foreach(t0 => jobs(je.jobId) = (t0, je.time))
        lastEvent = System.nanoTime()
      }
    })

    // one timed run: wall seconds and its [start, end] ms window
    def once(name: String): (Double, Long, Long) = {
      val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      ((System.nanoTime() - t0) / 1e9, w0, System.currentTimeMillis())
    }

    names.foreach(once) // warm: JIT + codegen cache + page cache
    val samples = scala.collection.mutable.Map.empty[String, Vector[(Double, Long, Long)]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to passes; n <- names) samples(n) = samples(n) :+ once(n)
    // listener events arrive asynchronously: wait until every started
    // job has ended and the bus has been quiet for 300 ms (10 s cap)
    val deadline = System.nanoTime() + 10000000000L
    while ((starts.nonEmpty || System.nanoTime() - lastEvent < 300000000L) &&
        System.nanoTime() < deadline) Thread.sleep(50)

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // (jobs, job seconds) of the jobs that started inside one window
    def jobsIn(w0: Long, w1: Long): (Int, Double) = {
      val in = jobs.values.filter { case (s, _) => s >= w0 && s <= w1 }
      (in.size, in.map { case (s, e) => e - s }.sum / 1e3)
    }
    val meds = names.map(n => n -> median(samples(n).map(_._1)))
    val base = meds.head._2
    meds.foreach { case (n, m) =>
      val prof = samples(n).map { case (wall, w0, w1) =>
        val (k, js) = jobsIn(w0, w1); (k.toDouble, js, wall - js) }
      val (k, js, gap) = (median(prof.map(_._1)), median(prof.map(_._2)),
        median(prof.map(_._3)))
      println(f"$n%-28s median=$m%8.3f s  ratio_vs_${names.head}=${m / base}%6.3f  " +
        f"jobs=$k%.0f job_s=$js%.3f gap_s=$gap%.3f  " +
        s"samples=${samples(n).map(x => f"${x._1}%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
