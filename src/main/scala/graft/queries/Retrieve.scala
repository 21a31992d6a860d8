package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.sources.Tables

/** The retrieval kernel behind every non-graph ANN gate (v01, v02–v02c,
  * v08/v08b, v09/v09b, v12–v13b, v15, v18–v18c, st17) and the recall
  * truth of every walk gate: the broadcast query set (vec_id < 20)
  * against a corpus, routed, optionally filtered, scored, ranked per
  * query on (score desc, cid asc) and cut to `k`. The serving tiers
  * are the parameters, not separate kernels:
  *
  *  - ROUTE: [[Retrieve.All]] scores every pair (the exact baseline);
  *    [[Retrieve.Label]] probes the `nprobe` label partitions whose
  *    mean vector has the max dot with the query (v02's coarse
  *    quantizer); [[Retrieve.Cells]] probes the `nprobe` nearest
  *    KMeans cells, assigned map-side against centroid literals on both
  *    sides so the corpus never shuffles (v09).
  *  - FILTER: [[Retrieve.Pre]] drops ineligible pairs before the rank,
  *    [[Retrieve.Post]] after the first cut (v18/v18b). A predicate
  *    sees `qid`, `cid`, `q_lab` and `c_lab`. On the All route a Pre
  *    equality becomes the broadcast join's hash keys: Catalyst pushes
  *    the filter into the join condition (v18c).
  *  - SCORER: [[Retrieve.Exact]] cosine with the norms riding the row
  *    (`dot(qe, ce) / (nq * nc)`, the same double as the three-dot
  *    form); [[Retrieve.Int8]] v06's symmetric int8 codes, scored
  *    `idot * q_scale * c_scale` with an exact integer dot (v08);
  *    [[Retrieve.Adc]] integer micro-unit PQ lookup scores (v12). Not
  *    [[Walk.Scorer]]: a walk reads the STORED code artifact
  *    (`TrainedIndex.codes`), while a retrieve encodes the corpus
  *    map-side from the codebook in the scan, or reads the codes a
  *    [[Retrieve.Lake]] index stored at ingest — and a walk has no
  *    int8 tier.
  *  - RERANK: `Some(r)` keeps the scorer's top `r` as a shortlist and
  *    re-ranks it by the exact cosine (IVFADC+R, v13): the shortlist
  *    is broadcast into the corpus scan, so only shortlisted vectors
  *    are read.
  *  - CORPUS: [[Retrieve.Embeddings]] the embeddings table;
  *    [[Retrieve.Lake]] a StreamingVectorIndex directory, read only in
  *    the probed `cell=` partitions (one collect of at most #cells
  *    rows), with the ADC shortlist scan reading the stored codes and
  *    never the vector column (st17).
  *
  * Artifacts travel inside the values and default to the TrainedIndex
  * cache, so one value configures a gate's engine and its oracle
  * (VectorOps.retrieveSql, which replays the artifacts upstream); v15
  * passes its loaded centroids and codebook.
  */
final case class Retrieve(route: Retrieve.Route = Retrieve.All,
    filter: Retrieve.Filter = Retrieve.NoFilter,
    scorer: Retrieve.Scorer = Retrieve.Exact, rerank: Option[Int] = None,
    k: Int = 3, corpus: Retrieve.Corpus = Retrieve.Embeddings) {
  import Retrieve._

  /** (qid, cid, rank, score) per query, plus — without a re-rank — the
    * `route` key (probed label or cell) of a routed serve and the
    * scorer's own column (Int8 `idot`, Adc `code_key`). */
  def serve(s: SparkSession, d: String): DataFrame = {
    val (pairs, src) = routed(s, d)
    val first = cut(scored(pairs), rerank.getOrElse(k))
    val kept = filter match {
      case Post(p) => first.filter(p.col)
      case _ => first
    }
    rerank match {
      case None =>
        val own = scorer match {
          case Exact => Nil
          case Int8 => Seq(col("idot"))
          case Adc(_) => Seq(VectorOps.pqCodeKeyCol.as("code_key"))
        }
        kept.select(Seq(col("qid"), col("cid"), col("rank"), col("score")) ++
          (if (route == All) Nil else Seq(col("route"))) ++ own: _*)
      case Some(_) =>
        val sl = kept.select(col("qid"), col("cid"), col("qe"), col("nq"))
        val vecs = src.select(col("vec_id").as("cid"),
          col("embedding").as("ce"),
          sqrt(VectorOps.dot("embedding", "embedding")).as("nc"))
        cut(exact(vecs.join(broadcast(sl), Seq("cid"))), k)
          .select(col("qid"), col("cid"), col("rank"), col("score"))
    }
  }

  /** The route stage: every routed (query, candidate) pair with both
    * sides' columns, Pre filter applied — what [[serve]] scores, and
    * Walk's Refined tail unions with its final beam. */
  private[graft] def candidates(s: SparkSession, d: String): DataFrame =
    routed(s, d)._1

  /** (pairs, the corpus rows the pairs came from). */
  private def routed(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
    val labels = filter != NoFilter
    val q0 = e.filter(col("vec_id") < 20)
      .select(Seq(col("vec_id").as("qid"), col("embedding")) ++
        (if (labels) Seq(col("label").as("q_lab")) else Nil): _*)
    val q1 = withExact(scorer match {
      case Exact => q0
      case Int8 => int8(q0, "q_scale", "qa")
      case a: Adc =>
        val cb = a.cb(s, d)
        q0.select(col("*") +: (0 until VectorOps.PqM).map(i =>
          VectorOps.pqLutCol(cb, i).as(s"l$i")): _*)
    }, "qe", "nq", scorer == Exact || rerank.isDefined)
    val q = (route match {
      case All => q1
      case Label(nprobe) => labelProbes(e, nprobe).join(q1, Seq("qid"))
      case c: Cells => q1.withColumn("pc", explode(VectorOps.nearestCells(
          c.centroids(s, d), "embedding", c.nprobe)))
        .withColumn("route", -col("pc.nc")).drop("pc")
    }).drop("embedding")
    val src = corpus match {
      case Embeddings => e
      case Lake(dir) =>
        val cells = q.select(col("route")).distinct()
          .collect().map(_.getLong(0)).toSeq // <= #cells rows: centroid-bounded
        graft.streaming.StreamingVectorIndex.readIndex(s, dir)
          .filter(col("cell").isin(cells: _*))
    }
    val cell = (route, corpus) match {
      case (c: Cells, Embeddings) => Seq(-element_at(VectorOps.nearestCells(
        c.centroids(s, d), "embedding", 1), 1).getField("nc"))
      case (_: Cells, Lake(_)) => Seq(col("cell").cast("long"))
      case _ => Nil
    }
    val codes = (scorer, corpus) match {
      case (a: Adc, Embeddings) =>
        val cb = a.cb(s, d)
        (0 until VectorOps.PqM).map(i => VectorOps.pqCodeCol(cb, i))
      case (_: Adc, Lake(_)) => // encoded at ingest
        (0 until VectorOps.PqM).map(i => col(s"c$i"))
      case _ => Nil
    }
    val c0 = src.select(Seq(col("vec_id").as("cid"), col("embedding")) ++
      (if (labels || route.isInstanceOf[Label]) Seq(col("label").as("c_lab"))
        else Nil) ++ cell.map(_.as("route")) ++
      codes.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
    val c = (scorer match {
      case Exact => withExact(c0, "ce", "nc", on = true)
      case Int8 => int8(c0, "c_scale", "qb")
      case _: Adc => c0
    }).drop("embedding")
    val pairs = route match {
      case All => c.join(broadcast(q), col("qid") =!= col("cid"))
      case _: Label =>
        c.join(broadcast(q), col("c_lab") === col("route") && col("cid") =!= col("qid"))
      case _: Cells => c.join(broadcast(q), Seq("route")).filter(col("cid") =!= col("qid"))
    }
    (filter match {
      case Pre(p) => pairs.filter(p.col)
      case _ => pairs
    }, src)
  }

  private def scored(pairs: DataFrame): DataFrame = scorer match {
    case Exact => exact(pairs)
    case Int8 => pairs
      .withColumn("idot",
        expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("score", col("idot") * col("q_scale") * col("c_scale"))
    // an exact integer (micro-unit LUT entries): no cross-engine tie can flip it
    case Adc(_) => pairs.withColumn("score", VectorOps.pqScoreCol)
  }
}

object Retrieve {

  sealed trait Route
  case object All extends Route
  /** The `nprobe` label partitions nearest the query (v02). */
  final case class Label(nprobe: Int) extends Route
  /** The `nprobe` nearest cells of `cent`, by default the k=`kCells`
    * TrainedIndex centroids. */
  final case class Cells(nprobe: Int, kCells: Int = 8,
      cent: Option[Array[Array[Double]]] = None) extends Route {
    def centroids(s: SparkSession, d: String): Array[Array[Double]] =
      cent.getOrElse(TrainedIndex.centroids(s, d, k = kCells))
  }

  /** A (query, candidate) predicate as an engine column and the same
    * test as oracle SQL, over `qid`, `cid`, `q_lab` and `c_lab`. */
  final case class Pred(col: Column, sql: String)
  sealed trait Filter
  case object NoFilter extends Filter
  final case class Pre(pred: Pred) extends Filter
  final case class Post(pred: Pred) extends Filter

  sealed trait Scorer
  case object Exact extends Scorer
  case object Int8 extends Scorer
  /** ADC over `codebook`, by default the TrainedIndex codebook. */
  final case class Adc(codebook: Option[Array[Array[Array[Double]]]] = None)
      extends Scorer {
    def cb(s: SparkSession, d: String): Array[Array[Array[Double]]] =
      codebook.getOrElse(TrainedIndex.codebook(s, d))
  }

  sealed trait Corpus
  case object Embeddings extends Corpus
  /** A StreamingVectorIndex directory, served on a Cells route (with
    * codes stored at ingest for an Adc serve). */
  final case class Lake(dir: String) extends Corpus

  /** Same label ("similar items in my category", v18). */
  val SameLabel: Pred = Pred(col("c_lab") === col("q_lab"), "c_lab = q_lab")

  /** The composite-key modulus of the rare-filter regime (label AND
    * vec_id % this — ~0.66% selectivity at the gate SF), one constant
    * shared by v18c and tools.FilteredAnnAb. */
  val RareResidueMod = 16

  /** Same label AND same id residue (v18c): far below 1/kCells. */
  val SameLabelResidue: Pred = Pred(
    col("c_lab") === col("q_lab") &&
      pmod(col("cid"), lit(RareResidueMod)) === pmod(col("qid"), lit(RareResidueMod)),
    s"c_lab = q_lab AND cid % $RareResidueMod = qid % $RareResidueMod")

  /** Adds `vec`/`norm` (the embedding and its norm) when `on`. */
  private def withExact(df: DataFrame, vec: String, norm: String,
      on: Boolean): DataFrame =
    if (!on) df
    else df.withColumn(vec, col("embedding"))
      .withColumn(norm, sqrt(VectorOps.dot("embedding", "embedding")))

  /** v06's symmetric int8 quantization of `embedding`: per-vector
    * absmax `scale`, `codes` in [-127, 127]. */
  private def int8(df: DataFrame, scale: String, codes: String): DataFrame =
    df.withColumn("__de", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn(scale,
        expr("greatest(array_max(transform(__de, x -> abs(x))), 1e-30d) / 127.0d"))
      .withColumn(codes, expr(s"transform(__de, x -> CAST(least(greatest(" +
        s"floor(x / $scale + 0.5d), -127.0d), 127.0d) AS BIGINT))"))
      .drop("__de")

  private def exact(pairs: DataFrame): DataFrame =
    pairs.withColumn("score",
      VectorOps.dot("qe", "ce") / (col("nq") * col("nc")))

  /** Per-query rank on (score desc, cid asc), cut to `n`. */
  private def cut(scored: DataFrame, n: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid").asc)))
      .filter(col("rank") <= n)

  /** v02's coarse probe: per-label mean vectors in long form, each
    * query's `nprobe` max-dot labels ((dot desc, label asc)) as
    * (qid, route). */
  private def labelProbes(e: DataFrame, nprobe: Int): DataFrame = {
    val long = e.select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos"),
        col("col").cast("double").as("v"))
    val cent = long.groupBy(col("label").as("c_label"), col("pos"))
      .agg(avg(col("v")).as("cv"))
    long.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("pos"), col("v").as("qv"))
      .join(cent, Seq("pos"))
      .groupBy(col("qid"), col("c_label"))
      .agg(sum(col("qv") * col("cv")).as("dot"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("dot").desc, col("c_label").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("c_label").as("route"))
  }
}
