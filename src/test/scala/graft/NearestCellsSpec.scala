package graft

import org.apache.spark.sql.functions._

import graft.queries.{TrainedIndex, VectorOps}

/** Parity pins for the native IVF assignment (plans/NearestCellsExpr,
  * r17): the codegen'd top-n cell ranking must be BIT-IDENTICAL to
  * the composed struct-sort twin it replaced — every cell-routed hash
  * gate (v02b..v22, st15..st19, the maintained stores) rides these
  * assignments, so any drift is a cross-engine hash mismatch waiting
  * at the driver gate. */
class NearestCellsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("native nearestCells matches the composed struct-sort twin bit-for-bit at k=8 and k=25, n=1 and n=2") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    Seq(8, 25).foreach { k =>
      val cent = TrainedIndex.centroids(spark, sf, k = k)
      Seq(1, 2, k).foreach { n =>
        val both = e.select(
          VectorOps.nearestCells(cent, col("embedding"), n).as("nat"),
          ComposedTwins.nearestCellsComposed(cent, col("embedding"), n).as("cmp"))
        // struct-array equality covers both the dot doubles (bitwise,
        // via Spark's own ordering-equality) and the nc ranking
        val mismatches = both.filter(col("nat") =!= col("cmp")).count()
        assert(mismatches == 0, s"k=$k n=$n diverged")
      }
    }
  }

  test("malformed input (length mismatch / null element) yields NULL, null array yields NULL") {
    val s = spark
    import s.implicits._
    val cent = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq(
      (1L, Seq(Some(1.0f), Some(2.0f))),  // clean
      (2L, Seq(Some(1.0f))),              // too short
      (3L, Seq(Some(1.0f), None)),        // null element
      (4L, null.asInstanceOf[Seq[Option[Float]]]) // null array
    ).toDF("id", "v")
    val out = df.select(col("id"),
      VectorOps.nearestCells(cent, col("v"), 2).as("nc")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!out(1L)); assert(out(2L)); assert(out(3L)); assert(out(4L))
  }

  test("clean top-n ordering: (dot desc, cell asc) with exact-tie to the smaller cell") {
    val s = spark
    import s.implicits._
    // two identical centroids force an exact dot tie -> cell 0 first
    val cent = Array(Array(1.0, 1.0), Array(1.0, 1.0), Array(-1.0, 0.0))
    val df = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "v")
    val row = df.select(VectorOps.nearestCells(cent, col("v"), 3).as("nc"))
      .selectExpr("transform(nc, x -> -x.nc) AS cells").head()
    assert(row.getSeq[Long](0) == Seq(0L, 1L, 2L))
  }
}
