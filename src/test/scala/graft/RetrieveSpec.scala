package graft

import org.apache.spark.sql.functions._

import graft.queries.Retrieve
import graft.queries.Retrieve._

/** Metamorphic relations of the retrieval kernel ([[Retrieve]]) at the
  * gate fixture: a route that probes everything is the exact scan, a
  * post-filter keeps a subset of the pre-filter's rows, and an exact
  * re-rank over a shortlist that holds every candidate undoes any
  * scorer. Each compares (qid, cid, rank, score) rows exactly. */
class RetrieveSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(r: Retrieve): Set[(Long, Long, Int, Double)] =
    r.serve(spark, sf).select(col("qid"), col("cid"), col("rank"),
        col("score").cast("double"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getDouble(3)))
      .toSet

  test("probing every cell or every label is the exact scan (v02b's degenerate nprobe)") {
    val all = rows(Retrieve())
    assert(all.size == 60)
    assert(rows(Retrieve(Cells(8))) == all)
    val labels = graft.sources.Tables.embeddings(spark, sf)
      .select(col("label")).distinct().count().toInt
    assert(rows(Retrieve(Label(labels))) == all)
    // and a partial probe is not: the relation is not vacuous
    assert(rows(Retrieve(Cells(2))) != all)
  }

  test("a post-filter keeps a subset of the pre-filter's rows") {
    val route = Cells(2)
    def pairs(f: Filter) = rows(Retrieve(route, f)).map(r => (r._1, r._2, r._4))
    val pre = pairs(Pre(SameLabel))
    val post = pairs(Post(SameLabel))
    assert(post.nonEmpty && post.subsetOf(pre))
    assert(post.size < pre.size)
  }

  test("an exact re-rank of a shortlist holding every candidate equals the exact serve") {
    val route = Cells(2)
    val widest = Retrieve(route).candidates(spark, sf)
      .groupBy(col("qid")).count().agg(max(col("count"))).head().getLong(0).toInt
    val exact = rows(Retrieve(route))
    assert(rows(Retrieve(route, scorer = Adc(), rerank = Some(widest))) == exact)
    assert(rows(Retrieve(route, scorer = Int8, rerank = Some(widest))) == exact)
    // the ADC order alone is not the exact order here
    assert(rows(Retrieve(route, scorer = Adc(), rerank = Some(3))) != exact)
  }
}
