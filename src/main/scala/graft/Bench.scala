package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: per-query seconds at SPARK_GRAFT_SF_DIR.
  *
  * - Warmup pass at sf0.001 (when present) so JIT + codegen + catalog
  *   init don't land on the first timed query.
  * - PASS-MAJOR run order: the whole suite runs `runs` (5) times and
  *   each query's MEDIAN across passes is
  *   reported. Query-major order (back-to-back runs) let a transient
  *   host-contention window pollute all samples of one query — r3's
  *   in-suite j08=11 s vs 1.9 s isolated; spreading samples across
  *   passes makes the median robust to that, and 5 passes survive two
  *   polluted passes (r7's g06 showed median-of-3 does not).
  * - INTERLEAVED contention reference (the tools/QueryAb protocol wired
  *   into the driver path, VERDICT r7 #3): a fixed simple agg is
  *   re-timed every `refEvery` queries inside every pass. Each query
  *   sample gets a ratio against the nearest-in-time reference sample;
  *   the per-query MEDIAN RATIO (detail file `ratios`) moves with host
  *   contention the same way the query does, so it is the
  *   cross-round-comparable number even when wall times aren't.
  * - ADAPTIVE RE-RUNS (VERDICT r9 #5): queries flagged contended after
  *   the main passes get up to 2 extra interleaved samples each before
  *   medians/flags are fixed; re-run queries are then judged on the
  *   worst-sample-trimmed spread (see flagSpread) so one polluted pass
  *   can be outvoted by clean evidence.
  * - MINIMUM SAMPLE COUNT (VERDICT r16 #2): after the main passes,
  *   every query tops up to `minSamples` (8) raw samples —
  *   the 2 s floor alone left queries ≥ floor/runs seconds with
  *   exactly `runs` samples, the very band every cross-round ratio
  *   dispute has lived in. Contention flags are judged on per-VISIT
  *   medians (wall AND ratio spread; ADVICE r16), and a throwing
  *   query fails fast into the `errors` map instead of recording
  *   failure latency as samples (VERDICT r16 #6).
  * - stdout stays ONE compact JSON line — the driver's contract, with a
  *   ~2000-char capture window. Per-query flat keys cost ~13 chars each
  *   (~1633 chars at 134 queries — r7's looming wall), so the encoding
  *   is STRUCTURAL (VERDICT r7 #4): `queries` groups by operator-family
  *   letters and packs each family's medians into an array of
  *   CENTISECOND INTEGERS, ordered by ascending full query name
  *   (`"qunit":"cs","qorder":"name-asc"`). ~4.5 chars per query — 200
  *   queries fit in ~1.2k chars with >800 spare. The id list per family
  *   (`qtags`), full names, ms-precision medians, spreads, ratios and
  *   every per-pass sample go to SPARK_GRAFT_BENCH_OUT (default
  *   bench_out.json) for post-hoc analysis.
  */
object Bench {

  // The sampling protocol. Constants, not options: every committed
  // bench_out_r17*/r18* file records these values, and the detail file
  // still carries each one so an archived run names its protocol.
  private val runs = 5            // main passes over the suite
  private val refEvery = 8        // queries between reference re-timings
  private val floorSec = 2.0      // per-query seconds of samples per suite
  private val repCap = 16         // repetitions cap per visit
  private val minSamples = 8      // raw samples every query tops up to
  private val contBound = 1.0     // wall spread / median contention flag
  private val rerunsMax = 2       // extra visits for a contended query
  private val rerunsHeavy = 4     // ... whose median exceeds 2 s
  private val ratioBound = 1.0    // ratio spread / median contention flag

  /** Query names whose cross-pass spread exceeds `bound × median` —
    * sampled through at least one host-contention window, so their
    * round-over-round comparison should go through the
    * contention-normalized `ratios`, not wall seconds. Pure so
    * BenchStatsSpec can pin the boundary semantics. */
  private[graft] def contendedFlags(
      results: Seq[(String, Double, Double)], bound: Double): Seq[String] =
    results.collect {
      case (name, median, spread) if median > 0 && spread / median > bound =>
        name
    }

  /** Extra-sample budget for a contended query (VERDICT r11 #2): r11
    * had 12 contended medians vs r10's 0, and the worst offenders were
    * all heavy (g06 spread 14.5 at a multi-second median) — 2 extra
    * samples cannot outvote two polluted passes of a long query, so
    * the budget scales with the median: heavy queries (> 2 s) get
    * `heavy` re-runs, light ones keep `base`. Pure so BenchStatsSpec
    * can pin the boundary. */
  private[graft] def rerunCap(median: Double, base: Int, heavy: Int): Int =
    if (median > 2.0) heavy else base

  /** The spread that feeds the contention flag. Plain max−min for a
    * query with exactly one VISIT per pass; once a query has MORE
    * visits than passes — adaptive re-runs or min-sample top-ups —
    * the worst (size − runs) entries are excluded — one per extra
    * visit, because each extra visit exists precisely to outvote one
    * suspected contention window, and max−min can only grow with more
    * evidence, so without the trim a polluted pass would flag a query
    * forever no matter how much clean evidence accumulates (r11's
    * single-worst trim survived ONE polluted pass but not r12's two —
    * gr01 sat at 9 samples with 2 polluted and stayed flagged on
    * clean evidence of 7). The flag is therefore judged on the spread
    * of the best `runs`-sized subset: if even the cleanest `runs`
    * entries spread past the bound, the query is genuinely noisy and
    * stays flagged.
    *
    * ADVICE r16: the input is per-VISIT medians, not raw samples — a
    * floor-repeated sub-second query carries up to repCap raw samples
    * per visit, and judging the flag on the best `runs` of ~80
    * near-minimum raw samples meant the flag could effectively never
    * fire for exactly the population whose contention noise motivated
    * it. Collapsing each visit's repetitions to one median first
    * restores the one-exclusion-per-earned-extra-visit rationale.
    * The reported MEDIAN is still taken over ALL raw samples, so the
    * trim never moves a reported number — only the flag. Pure so
    * BenchStatsSpec can pin both regimes. */
  private[graft] def flagSpread(ts: Seq[Double], runs: Int): Double = {
    val x = ts.sorted
    if (ts.size > runs && runs >= 1) x(runs - 1) - x.head
    else x.last - x.head
  }

  /** Median over samples; -1 when a query produced none (every
    * attempt threw — the `errors` map names the failure, and -1 can
    * never masquerade as a fast median). Pure for BenchStatsSpec. */
  private[graft] def med(ts: Seq[Double]): Double =
    if (ts.isEmpty) -1.0 else { val x = ts.sorted; x(x.size / 2) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    // optional name-prefix filter for local iteration (driver sets none)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val warmDir = "/root/testdata/sf0.001"
    // noop sink, NOT count(): count() lets Catalyst PRUNE unreferenced
    // output expressions — a query ending in an aggregate of expensive
    // per-row metrics (t16, t01, ...) would be timed on a plan that never
    // evaluates them (caught in round 6: t16's "0.33 s" at 100x was a
    // scan + empty group-by; the real cascade is ~85x that). The noop
    // write evaluates EVERY output column and ships nothing to the
    // driver.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      queries.foreach { case (_, fn) =>
        try run(fn(spark, warmDir)) catch { case _: Throwable => () }
      }
    }
    // the fixed contention reference: a simple hash agg over lineitem
    def refQuery(): Unit = run {
      val l = org.apache.spark.sql.functions
      graft.sources.Tables.lineitem(spark, sfDir)
        .groupBy(l.col("l_returnflag"), l.col("l_linestatus"))
        .agg(l.sum(l.col("l_quantity")).as("q"),
          l.sum(l.col("l_extendedprice")).as("p"),
          l.count(l.lit(1)).as("n"))
    }
    val refSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    // time one reference run; record the sample ONLY on success (a
    // broken reference must surface as ref_median:-1, not as a
    // near-zero sample polluting every ratio — ADVICE r7)
    def timeRef(): Double =
      try {
        val t0 = System.nanoTime(); refQuery()
        val dt = (System.nanoTime() - t0) / 1e9
        refSamples += dt; dt
      } catch { case _: Throwable => -1.0 }
    timeRef() // warm the reference; the sample is as valid as any other
    val samples = scala.collection.mutable.LinkedHashMap(
      queries.map { case (n, _) => n -> Vector.empty[Double] }: _*)
    val ratioSamples = scala.collection.mutable.LinkedHashMap(
      queries.map { case (n, _) => n -> Vector.empty[Double] }: _*)
    // per-VISIT medians (one entry per visit — floor repetitions
    // collapse into one number) and the visit's ratio vs the
    // nearest-in-time reference: the population the contention flags
    // are judged on since r17 (ADVICE r16 — see flagSpread)
    val visitMedians = scala.collection.mutable.LinkedHashMap(
      queries.map { case (n, _) => n -> Vector.empty[Double] }: _*)
    val visitRatios = scala.collection.mutable.LinkedHashMap(
      queries.map { case (n, _) => n -> Vector.empty[Double] }: _*)
    // per-query error count (VERDICT r16 #6): a query that throws must
    // surface as an error tag, never as a latency sample
    val errors = scala.collection.mutable.LinkedHashMap(
      queries.map { case (n, _) => n -> 0 }: _*)
    // PER-QUERY TIME FLOOR (VERDICT r15 #5): a sub-second query sampled
    // once per pass is under-sampled relative to host noise — 24/208
    // rows read ratio-of-ratios > 1.4 across r14→r15 in files nobody
    // touched. Each pass VISIT now repeats the query until ~floor/runs
    // seconds of samples accumulate (cap guards a degenerate ~0 s
    // query), so a cheap query collects tens of samples per suite run
    // while anything ≥ floor/runs still runs exactly once per pass.
    // Pass-major order and the interleaved reference are unchanged:
    // all of a visit's repetitions share that visit's nearest-in-time
    // reference sample. Sample counts land in the detail file
    // (`nsamples`) so the archive shows how much evidence backs each
    // median.
    val perVisit = floorSec / runs
    // One VISIT: repeat the query until ~perVisit seconds accumulate
    // (floor), recording each successful repetition as a raw sample
    // and the visit's MEDIAN as one flag-population entry. A throw
    // (ADVICE r16, medium): count it in `errors`, record NO sample,
    // and BREAK — a fail-fast query must not loop repCap times
    // accumulating near-zero "latencies" that read as a fast
    // well-sampled median. The correctness gate owns the failure; the
    // bench's job is to tag it, not to time it.
    def timedVisit(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        refNow: Double): Unit = {
      var spent = 0.0
      var reps = 0
      val visit = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = false
      while (!failed && (reps == 0 || (spent < perVisit && reps < repCap))) {
        val t0 = System.nanoTime()
        try {
          run(fn(spark, sfDir))
          val dt = (System.nanoTime() - t0) / 1e9
          samples(name) = samples(name) :+ dt
          if (refNow > 0) ratioSamples(name) = ratioSamples(name) :+ dt / refNow
          visit += dt
          spent += dt
        } catch { case _: Throwable =>
          errors(name) = errors(name) + 1
          failed = true
        }
        reps += 1
      }
      if (visit.nonEmpty) {
        val vm = med(visit.toSeq)
        visitMedians(name) = visitMedians(name) :+ vm
        if (refNow > 0) visitRatios(name) = visitRatios(name) :+ vm / refNow
      }
    }
    (1 to runs).foreach { _ =>
      var refNow = timeRef()
      queries.zipWithIndex.foreach { case ((name, fn), i) =>
        if (i > 0 && i % refEvery == 0) refNow = timeRef()
        timedVisit(name, fn, refNow)
      }
    }
    // ---- MINIMUM SAMPLE COUNT (VERDICT r16 #2): the time floor left
    // a blind spot by construction — any query ≥ floor/runs seconds
    // ran exactly `runs` times (5–6 samples), and that band is where
    // every cross-round ratio dispute has lived (g08 in r15, the
    // pbp01–04/v01/v17 cluster in r16). Every query now tops up to
    // `minSamples` (8) raw samples via extra
    // visits, spread pass-major across top-up rounds like the main
    // passes so they sample different host windows. Each top-up visit
    // is one more flag-population entry (one exclusion earned). A
    // permanently-failing query exits via the round cap — errors,
    // not samples, record its story.
    var topupRound = 0
    def deficient = queries.filter { case (n, _) =>
      samples(n).size < minSamples }
    while (topupRound < minSamples && deficient.nonEmpty) {
      var refNow = timeRef()
      deficient.zipWithIndex.foreach { case ((name, fn), i) =>
        if (i > 0 && i % refEvery == 0) refNow = timeRef()
        timedVisit(name, fn, refNow)
      }
      topupRound += 1
    }
    // ---- adaptive re-runs (VERDICT r9 #5): a query flagged contended
    // after the main passes gets up to `rerunsMax` (2; `rerunsHeavy`
    // past 2 s) extra visits, each preceded by a fresh interleaved
    // reference run, BEFORE its median and flag are fixed. The flag is
    // judged on flagSpread over per-visit medians (worst visit
    // excluded per earned re-run) — one polluted pass stops flagging a
    // query once clean evidence outweighs it; genuinely noisy queries
    // stay flagged.
    (1 to math.max(rerunsMax, rerunsHeavy)).foreach { round =>
      val flagged = contendedFlags(
        visitMedians.toSeq.map { case (n, vs) =>
          (n, med(samples(n)), flagSpread(vs, runs)) }, contBound).toSet
      queries.foreach { case (name, fn) =>
        if (flagged.contains(name) &&
            round <= rerunCap(med(samples(name)), rerunsMax, rerunsHeavy)) {
          timedVisit(name, fn, timeRef()) // re-runs honor the floor too
        }
      }
    }
    val refMedian = med(refSamples.toSeq)
    def ms(x: Double): Double = math.rint(x * 1000) / 1000
    val results = samples.toSeq.map { case (name, ts) =>
      (name, med(ts), flagSpread(visitMedians(name), runs), ts)
    }
    // stdout keying: operator-id prefix ("j01" for j01_broadcast_chain),
    // split into family letters + id ("j" + "01"); uniqueness required so
    // no query silently collapses into another's slot
    def tag(name: String): String = name.takeWhile(_ != '_')
    require(results.map(t => tag(t._1)).distinct.size == results.size,
      "duplicate operator-id prefixes would silently drop a query from the stdout JSON")
    def family(name: String): String = tag(name).takeWhile(!_.isDigit)
    def qid(name: String): String = tag(name).dropWhile(!_.isDigit)
    // grouped packed arrays: results are already in ascending full-name
    // order, which fixes the intra-family order the `qtags` list mirrors
    val grouped: Seq[(String, Seq[(String, Double)])] =
      results.map { case (k, m, _, _) => (family(k), qid(k), m) }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (fam, rows) => fam -> rows.map(r => (r._2, r._3)) }
    def csInt(x: Double): Long = math.rint(x * 100).toLong
    val qs = grouped.map { case (fam, rows) =>
      "\"" + fam + "\":" + rows.map(r => csInt(r._2)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = ms(results.map(_._2).sum)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"qunit":"cs","qorder":"name-asc","runs":$runs,"order":"pass-major","sf":"$sfDir"}"""
    // ---- detail file: everything, ms precision, full names ----
    val qtags = grouped.map { case (fam, rows) =>
      "\"" + fam + "\":" + rows.map(r => "\"" + r._1 + "\"").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val names = results.map { case (k, _, _, _) =>
      "\"" + tag(k) + "\":\"" + k + "\""
    }.mkString("{", ",", "}")
    val spreads = results.map { case (k, _, sp, _) => "\"" + k + "\":" + ms(sp) }
      .mkString("{", ",", "}")
    val perRun = results.map { case (k, _, _, ts) =>
      "\"" + k + "\":" + ts.map(ms).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val medians = results.map { case (k, m, _, _) => "\"" + k + "\":" + ms(m) }
      .mkString("{", ",", "}")
    // evidence count per median (VERDICT r15 #5: the archive must show
    // how many samples back each row — a floor-repeated sub-second
    // query carries tens, a heavy query exactly `runs` + re-runs)
    val nsamples = results.map { case (k, _, _, ts) =>
      "\"" + k + "\":" + ts.size
    }.mkString("{", ",", "}")
    // contention-normalized view: median over this query's per-sample
    // ratios against the nearest-in-time interleaved reference run
    val ratios = results.map { case (k, _, _, _) =>
      val rs = ratioSamples(k).sorted
      "\"" + k + "\":" + (if (rs.isEmpty) -1 else ms(rs(rs.size / 2)))
    }.mkString("{", ",", "}")
    val refJson = refSamples.map(ms).mkString("[", ",", "]")
    // self-annotating contention flags (VERDICT r8 #8): a query whose
    // cross-VISIT spread exceeds `bound × median` was sampled through
    // at least one host-contention window — its MEDIAN is still the
    // reported number, but round-over-round diffs should compare it via
    // `ratios` (the contention-normalized view), not wall seconds.
    // The spread feeding the flag (and the `spread` detail field) is
    // flagSpread over per-visit medians: trimmed one-per-extra-visit;
    // every raw sample is in `samples`.
    val wallFlagged =
      contendedFlags(results.map { case (k, m, sp, _) => (k, m, sp) }, contBound)
    // RATIO-SPREAD flag (VERDICT r16 #2): r16's pbp cluster
    // ratio-doubled while contended=[t24] — wall spread alone misses a
    // query whose per-visit RATIOS disperse (contention hitting the
    // query harder than the nearby reference). Same flagSpread/bound
    // machinery over per-visit ratios: a query whose cleanest `runs`
    // visit-ratios still spread past ratioBound × median-ratio was
    // differentially contended and its cross-round ratio is suspect.
    val ratioFlagged = contendedFlags(
      visitRatios.toSeq.map { case (n, vs) =>
        (n, med(vs), flagSpread(vs, runs)) }, ratioBound)
    val contended = (wallFlagged ++ ratioFlagged).distinct.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val contendedRatio = ratioFlagged.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-query error counts (VERDICT r16 #6): asserted zero at round
    // close — a mid-suite breakage surfaces here, not as a fast median
    val errJson = errors.toSeq.map { case (k, c) => "\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val vmJson = results.map { case (k, _, _, _) =>
      "\"" + k + "\":" + visitMedians(k).map(ms).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val vrJson = results.map { case (k, _, _, _) =>
      "\"" + k + "\":" + visitRatios(k).map(ms).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$medians,"spread":$spreads,"names":$names,"qtags":$qtags,"samples":$perRun,"nsamples":$nsamples,"errors":$errJson,"floor_sec":$floorSec,"rep_cap":$repCap,"min_samples":$minSamples,"ref_samples":$refJson,"ref_median":${ms(refMedian)},"ref_every":$refEvery,"ratios":$ratios,"visit_medians":$vmJson,"visit_ratios":$vrJson,"contended":$contended,"contended_ratio":$contendedRatio,"contention_bound":$contBound,"ratio_bound":$ratioBound,"runs":$runs,"order":"pass-major","sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      full.getBytes("UTF-8"))
    catch { case _: Throwable => () } // bench must still print if cwd is read-only
    println(line)
    spark.stop()
  }
}
