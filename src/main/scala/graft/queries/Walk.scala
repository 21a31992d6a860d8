package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.Tables

/** The graph-ANN beam walk behind every graph serving gate (v17–v22c,
  * st19b–d): ONE hop loop and ONE serve entry over an explicit
  * (edges, f0) pair — edges are the stored out-edge table (src, dst),
  * f0 the per-query entry candidates (qid, cid). The serving tiers are
  * the parameters, not separate kernels:
  *
  *  - SCORER: [[Walk.Exact]] ranks every beam cut on the exact cosine
  *    (v17), [[Walk.Adc]] on integer ADC scores from stored 32-bit PQ
  *    codes against the query's LUT (v19, DiskANN's memory economics:
  *    the walk reads codes, full vectors are touched only by one exact
  *    re-rank of the final candidates).
  *  - BUDGET: `maxHops`. Every walk stops at the first hop whose beam
  *    is a subset of the previous one. That hop is a fixed point: from
  *    `next ⊆ F` the next hop's candidates are a subset of this hop's
  *    and still contain `next`, and the (score desc, cid asc) beam cut
  *    is a total order, so every later beam equals `next`. A fixed-hop
  *    serve is therefore the same loop with `maxHops = hops`, bit-
  *    identical to running all `hops` hops, and the converged serve is
  *    `maxHops =` [[VectorOps.WalkMaxHops]] (a runaway cap, not the
  *    search budget). The oracle (VectorOps.walkSql) always unrolls
  *    all `maxHops` hops: past the stop every beam equals the fixed
  *    point, so the unroll ends on the engine's final beam.
  *  - TAIL: [[Walk.NoTail]] cuts the final beam to top-3;
  *    [[Walk.Refined]] (v17d/v21) unions the final beam with the
  *    query's `refine` nearest cells' members ([[Retrieve]]'s Cells
  *    route stage), scores the union with the walk's scorer, cuts it
  *    to `shortlist` and gives it the same
  *    top-3 — walk-supplied long-range candidates plus the dense local
  *    neighbourhood greedy descent walks past, at O(sqrt n) scored rows
  *    per query under the k~sqrt(n) cell rule.
  *
  * Every frame the loop carries is driver-materialized ([[Frontier]]):
  * one collect per hop funds the next hop's LocalRelation, its pushdown
  * ids and the stop test. The loop deliberately does not run on
  * operators/Fixpoint: a Fixpoint round is a lazy plan cut by an eager
  * localCheckpoint, which would add an action per hop on top of the
  * collect the frontier cut, the pushdown ids and the stop test
  * already share.
  */
final case class Walk(scorer: Walk.Scorer, beam: Int,
    maxHops: Int = VectorOps.WalkMaxHops, tail: Walk.Tail = Walk.NoTail) {
  import Walk._

  /** Serves the query set (vec_id < 20) off (edges, f0). */
  def serve(s: SparkSession, d: String, edges: DataFrame, f0: DataFrame)
      : Served = {
    val c = new Compass(s, d, scorer)
    var f = materialize(s, topPerQuery(c.score(f0), beam))
    var h = 0
    var fixed = false
    while (h < maxHops && !fixed) {
      val next = hop(s, c, edges, f)
      // `next \ f = {}` on driver-held sets — the oracle's anti-join
      // emptiness test without a per-hop probe plan
      fixed = next.pairs.subsetOf(f.pairs)
      f = next
      h += 1
    }
    val top3 = tail match {
      case NoTail => c.top3(f.df)
      case Refined(kCells, refine, shortlist) =>
        val cands = f.df.select(col("qid"), col("cid"))
          .union(Retrieve(Retrieve.Cells(refine, kCells)).candidates(s, d)
            .select(col("qid"), col("cid")))
          .distinct()
        c.top3(topPerQuery(c.score(cands), shortlist))
    }
    Served(top3, f.df, h)
  }

  /** One hop from an explicit (qid, cid, score) frontier — the loop's
    * own step, exposed so a spec can apply it past a reported stop. */
  private[graft] def step(s: SparkSession, d: String, edges: DataFrame,
      frontier: DataFrame): DataFrame =
    hop(s, new Compass(s, d, scorer), edges, materialize(s, frontier)).df

  private def hop(s: SparkSession, c: Compass, edges: DataFrame,
      f: Frontier): Frontier =
    materialize(s, topPerQuery(c.score(hopCands(s, edges, f)), beam))
}

object Walk {

  sealed trait Scorer
  /** Exact cosine over the embedding vectors. */
  case object Exact extends Scorer
  /** Integer ADC scores from `codes`, the stored (cid, c0..c<m-1>)
    * serving representation (normally TrainedIndex.codes), so the walk
    * reads the code artifact, never the vector column. */
  final case class Adc(codes: DataFrame) extends Scorer

  sealed trait Tail
  case object NoTail extends Tail
  /** Final beam ∪ the query's `refine` nearest cells (of the k=`kCells`
    * centroid artifact), cut to `shortlist` before the top-3. */
  final case class Refined(kCells: Int, refine: Int, shortlist: Int)
      extends Tail

  /** A serve's top-3 (qid, cid), its final beam (qid, cid, score) and
    * the hop it stopped at. */
  final case class Served(top3: DataFrame, frontier: DataFrame, stop: Int)

  /** Stored hub graph + entry frontier: the persisted (edges, medoids)
    * frames from the TrainedIndex artifact store (the first demand per
    * JVM builds and persists, every later call is a parquet scan) and
    * the query set's `entries` nearest cells' medoids. */
  def hubGraphAndEntry(s: SparkSession, d: String, degree: Int,
      kCells: Int = 8, entries: Int = 2): (DataFrame, DataFrame) = {
    val (edges, medoids) = TrainedIndex.graph(s, d, degree, kCells)
    val cent = TrainedIndex.centroids(s, d, k = kCells)
    (edges, VectorOps.graphEntries(s, d, cent, medoids, entries))
  }

  /** The same over the alpha-pruned (Vamana) graph artifact. */
  def vamanaGraphAndEntry(s: SparkSession, d: String, degree: Int,
      kCells: Int = 8, entries: Int = 2): (DataFrame, DataFrame) = {
    val (edges, medoids) = TrainedIndex.vamanaGraph(s, d, degree, kCells)
    val cent = TrainedIndex.centroids(s, d, k = kCells)
    (edges, VectorOps.graphEntries(s, d, cent, medoids, entries))
  }

  /** Frontier-id pushdown cap for [[hopEdgesOf]] (VERDICT r13 #2). Below
    * it the hop inlines the frontier ids as an isin literal; above it
    * the literal list itself becomes the cost — O(ids) analysis/codegen
    * work per hop plan, which at a fleet-sized serving batch (10^4
    * queries x beam 32 ~ 10^5 ids) bloats the plan long before the scan
    * ever wins — so the hop falls back to the PLAIN broadcast join, the
    * semantic base the pruned form is row-equal to (GraphAnnSpec pins
    * both regimes). 1024 bounds the literal list at ~2 orders of
    * magnitude under that case. */
  private[graft] val HopPushdownMaxIds = 1024

  /** Out-degree bound of every graph a walk reads: the registry's hub
    * graphs have out-degree <= degree + 1 = 17 (kNN lists plus one hub
    * escape), the Vamana build cuts pools of 64 to `degree`, and
    * tools.GraphAnnAb sweeps degree <= 32. A hop over `r` frontier rows
    * therefore expands to at most `r * MaxOutDegree` edges. */
  private[graft] val MaxOutDegree = 64

  /** A hop expanded past `frontier rows x` [[MaxOutDegree]] edges: the
    * edge table is not a graph this walk was built for, and collecting
    * the expansion could exhaust the driver. */
  final class HopOverflow(msg: String) extends IllegalStateException(msg)

  /** DRIVER-MATERIALIZED walk frame (r17): a beam is <= queries x beam
    * rows by construction (TopKPerKey k=beam per qid over the broadcast
    * query set), so ONE collect funds everything a hop needs from it:
    * the rows become a LocalRelation for the next hop's broadcast joins
    * (doubles/longs round-trip the driver bit-exactly, so every
    * downstream value is unchanged), the hop's pushdown ids derive from
    * the rows, and the stop test is a driver-side set comparison. Rows
    * sort by the unique (qid, cid) key, so the LocalRelation is
    * deterministic though collect order off a shuffle is not. There is
    * no distributed form; the hop expansion collected from it is
    * checked against [[MaxOutDegree]] instead. */
  private[graft] final case class Frontier(rows: Array[Row], df: DataFrame) {
    /** The (qid, cid) pair set — the stop test's subject. */
    lazy val pairs: Set[(Long, Long)] =
      rows.iterator.map(r => (r.getLong(0), r.getLong(1))).toSet
    /** Distinct candidate ids — [[hopEdgesOf]]' pushdown list. */
    lazy val ids: Seq[Long] = rows.iterator.map(_.getLong(1)).toSeq.distinct
  }

  /** Collects a (qid, cid, ...) frame into a [[Frontier]]. */
  private[graft] def materialize(s: SparkSession, df: DataFrame): Frontier = {
    val rows = df.collect().sortBy(r => (r.getLong(0), r.getLong(1)))
    Frontier(rows, s.createDataFrame(java.util.Arrays.asList(rows: _*),
      df.schema))
  }

  /** One hop's out-edge expansion (qid, cid = dst): the frontier's src
    * ids ride into the stored edge table's SCAN as a pushed predicate
    * before the broadcast join resolves (qid, dst) pairs. Semantically
    * a no-op (the join restricts to the same keys), but it makes a hop
    * a POINT LOOKUP instead of a full edge scan: the isin lands in the
    * parquet scan's PushedFilters (past parquet's inFilterThreshold=10
    * the reader prunes row groups by the id range, which the src-sorted
    * edge artifact keeps tight). Above `maxPushIds` the hop is the
    * plain broadcast join. */
  private[graft] def hopEdgesOf(edges: DataFrame, f: Frontier,
      maxPushIds: Int = HopPushdownMaxIds): DataFrame = {
    val scan =
      if (f.ids.size <= maxPushIds) edges.filter(col("src").isin(f.ids: _*))
      else edges // fleet-sized frontier: literal list would bloat the plan
    scan
      .join(broadcast(f.df.select(col("qid"), col("cid").as("src"))),
        Seq("src"))
      .select(col("qid"), col("dst").as("cid"))
  }

  /** One hop's candidate set assembled ON THE DRIVER (r18): the
    * expansion is collected through `limit(bound + 1)` with bound =
    * frontier rows x [[MaxOutDegree]], and a collect past the bound
    * throws [[HopOverflow]]. Frontier ∪ expansion, qid != cid, deduped
    * in a TreeSet — the (qid, cid) order makes the returned
    * LocalRelation deterministic, and it broadcasts into the scoring
    * join without an Exchange. */
  private[graft] def hopCands(s: SparkSession, edges: DataFrame,
      f: Frontier): DataFrame = {
    val bound = f.rows.length.toLong * MaxOutDegree
    val hop = hopEdgesOf(edges, f)
      .limit(math.min(bound + 1, Int.MaxValue.toLong).toInt).collect()
    if (hop.length > bound)
      throw new HopOverflow(s"a hop over ${f.rows.length} frontier rows " +
        s"expanded past $bound edges (max out-degree $MaxOutDegree)")
    val pairs = scala.collection.mutable.TreeSet.empty[(Long, Long)]
    (f.rows.iterator ++ hop.iterator).foreach { r =>
      if (r.getLong(0) != r.getLong(1)) pairs += ((r.getLong(0), r.getLong(1)))
    }
    val schema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("cid", LongType, nullable = false)))
    s.createDataFrame(java.util.Arrays.asList(
      pairs.toSeq.map(p => Row(p._1, p._2)): _*), schema)
  }

  private def topPerQuery(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerKey.topK(scored, Seq("qid"),
      Seq(col("score").desc, col("cid").asc), k)

  /** A 20-row per-query side frame (query vectors + norms, or ADC LUTs)
    * materialized ONCE per serve as a deterministic LocalRelation (r18):
    * re-broadcasting the distributed frame every hop was one Spark job
    * per hop; over a LocalTableScan the broadcast launches none. Rows
    * sort by the unique qid, and longs/doubles/float arrays round-trip
    * the driver bit-exactly. */
  private def localizedByQid(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect().sortBy(_.getLong(0))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** A scorer bound to one serve: (qid, cid) candidates -> (qid, cid,
    * score), candidates broadcast into the corpus-side scan (bucket
    * point lookups at scale) and the localized query side broadcast
    * job-free. */
  private final class Compass(s: SparkSession, d: String, scorer: Scorer) {
    private val e = Tables.embeddings(s, d)
    // norms ride the row (the v14 convention)
    private val qn = localizedByQid(s, e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(VectorOps.dot("embedding", "embedding")).as("nq")))
    private val cn = e.select(col("vec_id").as("cid"),
      col("embedding").as("ce"),
      sqrt(VectorOps.dot("embedding", "embedding")).as("nc"))

    private def exact(cands: DataFrame): DataFrame =
      cn.join(broadcast(cands), Seq("cid"))
        .join(broadcast(qn), Seq("qid"))
        .withColumn("score",
          VectorOps.dot("qe", "ce") / (col("nq") * col("nc")))
        .select(col("qid"), col("cid"), col("score"))

    val score: DataFrame => DataFrame = scorer match {
      case Exact => exact
      case Adc(codes) =>
        val qlut = localizedByQid(s,
          VectorOps.pqQueries(e, TrainedIndex.codebook(s, d)))
        cands => codes.join(broadcast(cands), Seq("cid"))
          .join(broadcast(qlut), Seq("qid"))
          .withColumn("score", VectorOps.pqScoreCol)
          .select(col("qid"), col("cid"), col("score"))
    }

    /** Top-3 (qid, cid) of scored candidates: exact scores are final;
      * ADC candidates get the one exact re-rank (the full-vector touch). */
    def top3(scored: DataFrame): DataFrame = {
      val exactScored = scorer match {
        case Exact => scored
        case Adc(_) => exact(scored.select(col("qid"), col("cid")))
      }
      topPerQuery(exactScored, 3).select(col("qid"), col("cid"))
    }
  }
}
