package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.queries.VectorOps.{PqK, PqSubDim}

/** The composed higher-order-function forms of the native vector
  * expressions (VectorOps.dot, nearestCells, pqCodeCol, pqLutCol) —
  * kept as parity oracles for DotProductSpec, NearestCellsSpec and
  * PqSubspaceSpec (the d03/d03b convention: the declarative form
  * documents the semantics, the native form runs them). */
object ComposedTwins {

  def dotComposed(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")

  def nearestCellsComposed(cent: Array[Array[Double]],
      vec: Column, n: Int): Column = {
    val ranked = cent.indices.map { i =>
      val cv = array(cent(i).map(lit(_)): _*)
      val prod = zip_with(cv, vec, (x, y) => x * y.cast("double"))
      struct(
        aggregate(prod, lit(0.0), (acc, v) => acc + v).as("dot"),
        lit(-i.toLong).as("nc"))
    }
    // array_sort asc on (dot, nc), reversed → (dot desc, -cell desc)
    // = (dot desc, cell asc): v02's deterministic probe tiebreak
    slice(reverse(array_sort(array(ranked: _*))), 1, n)
  }

  private def pqSubcol(i: Int, vec: String): Column =
    expr(s"slice($vec, ${i * PqSubDim + 1}, $PqSubDim)")

  def pqCodeColComposed(cb: Array[Array[Array[Double]]],
      i: Int, vec: String = "embedding"): Column = {
    val ranked = cb(i).indices.map { c =>
      val cw = cb(i)(c)
      val cv = array(cw.map(lit(_)): _*)
      val prod = zip_with(cv, pqSubcol(i, vec), (x, y) => x * y.cast("double"))
      struct(
        (aggregate(prod, lit(0.0), (acc, v) => acc + v) -
          lit(cw.map(x => x * x).sum / 2)).as("key"),
        lit(-c.toLong).as("nc"))
    }
    (-element_at(slice(reverse(array_sort(array(ranked: _*))), 1, 1), 1)
      .getField("nc")).cast("int")
  }

  def pqLutColComposed(cb: Array[Array[Array[Double]]],
      i: Int, vec: String = "embedding"): Column =
    array((0 until PqK).map { c =>
      round(aggregate(
        zip_with(array(cb(i)(c).map(lit(_)): _*), pqSubcol(i, vec),
          (x, y) => x * y.cast("double")),
        lit(0.0), (acc, v) => acc + v) * 1e6).cast("long")
    }: _*)
}
