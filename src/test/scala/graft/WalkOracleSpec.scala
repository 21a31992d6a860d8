package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.VectorOps

/** String-level pins on the graph-ANN walk oracle (`VectorOps.walkSql`),
  * in the OracleLintSpec style: no DuckDB, only the generated text. The
  * oracle unrolls every hop to the cap (the walk's first subset beam is
  * a fixed point), keeps each scored set and beam cut MATERIALIZED
  * (DuckDB inlines a plain CTE per reference, and c<h> reads b<h-1>
  * twice, so an inlined chain grows exponentially with the hop count),
  * and carries no data-derived stop dispatch. */
class WalkOracleSpec extends AnyFunSuite {

  private val WalkGates = Seq(
    "v17_graph_ann_beam", "v17b_graph_ann_scaled",
    "v17c_graph_ann_multientry", "v17d_graph_ann_refined",
    "v19_diskann_serving", "v20_graph_artifacts",
    "v21_refined_adc_serving", "v21b_refined_adc_scaled",
    "v22_vamana_walk_serving", "v22b_vamana_adc_serving",
    "v22c_vamana_refined_serving", "st19b_maintained_ann_serving_scaled",
    "st19c_maintained_refined_serving", "st19d_maintained_vamana_serving")

  /** Every (scorer, tail) form of the generator at the runaway cap. */
  private val capped = for {
    adc <- Seq(false, true)
    refine <- Seq(None, Some((8, "64")))
  } yield (s"adc=$adc refine=$refine",
    VectorOps.walkSql(adc, beam = 64, maxHops = 16, refine = refine))

  /** Hop indices of the `<prefix><h> AS ...` CTEs, in emission order. */
  private def hops(sql: String, prefix: String): Seq[Int] =
    s"(?m)^\\s*$prefix(\\d+) AS ".r.findAllMatchIn(sql)
      .map(_.group(1).toInt).toSeq

  test("maxHops = 16 emits exactly 16 c/s/b hop triples after the entry cut") {
    capped.foreach { case (form, sql) =>
      assert(hops(sql, "c") == (1 to 16), form)
      assert(hops(sql, "s") == (0 to 16), form)
      assert(hops(sql, "b") == (0 to 16), form)
    }
  }

  test("every scored set s<h> and beam cut b<h> is MATERIALIZED") {
    capped.foreach { case (form, sql) =>
      val defs = "(?m)^\\s*([sb]\\d+) AS (MATERIALIZED )?\\(".r
        .findAllMatchIn(sql).toSeq
      assert(defs.size == 2 * 17, form) // s0..s16 and b0..b16
      val plain = defs.filter(_.group(2) == null).map(_.group(1))
      assert(plain.isEmpty, s"$form: not MATERIALIZED: ${plain.mkString(", ")}")
    }
  }

  test("no walk gate's oracle dispatches a data-derived stop") {
    val oracles = SparkEntry.oracleSql
    WalkGates.foreach { name =>
      val sql = oracles.getOrElse(name, fail(s"$name has no oracle"))
      assert(hops(sql, "c").nonEmpty, s"$name: no walk hops")
      assert(!sql.contains("wstop"), s"$name: stop dispatch (wstop)")
      assert("\\bdl\\d+\\b".r.findFirstIn(sql).isEmpty,
        s"$name: per-hop delta (dl<h>)")
    }
  }
}
