package graft

import org.apache.spark.sql.functions._

import graft.plans.DotProduct
import graft.queries.VectorOps

/** Parity pins for the native dot product (plans/DotProduct, r17):
  * the codegen'd loop must be BIT-IDENTICAL to the composed
  * zip_with/aggregate twin it replaced — every cos/dsq column in the
  * vector tier (knnGraph, vamana occlusion, walk scoring, st18's
  * streamed pairs) rides this expression, so any drift here is a
  * cross-engine hash mismatch waiting at the driver gate. */
class DotProductSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("native dot matches the composed zip_with/aggregate twin bit-for-bit on real embedding pairs") {
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = raw.limit(60).select(col("vec_id").as("aid"), col("embedding").as("ae"))
    val b = raw.limit(7).select(col("embedding").as("be"))
    val pairs = a.crossJoin(b)
    val diffs = pairs.select(
        (VectorOps.dot("ae", "be") - ComposedTwins.dotComposed("ae", "be")).as("d"),
        (VectorOps.dot("ae", "ae") - ComposedTwins.dotComposed("ae", "ae")).as("dn"))
      .agg(max(abs(col("d"))).as("md"), max(abs(col("dn"))).as("mdn"))
      .head()
    assert(diffs.getDouble(0) == 0.0) // identical accumulation order -> identical bits
    assert(diffs.getDouble(1) == 0.0)
  }

  test("null contract mirrors the composed form: null array, length mismatch, null element") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),            // clean -> 11.0
      (2L, Array(1.0f, 2.0f), null.asInstanceOf[Array[Float]]) // null array
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), VectorOps.dot("a", "b").as("d")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(11.0))
    assert(out(2L).isEmpty)
    // length mismatch and in-array nulls: both forms agree (null)
    val mixed = Seq(
      (3L, Seq(Some(1.0f), Some(2.0f)), Seq(Some(3.0f))),          // shorter b
      (4L, Seq(Some(1.0f), None), Seq(Some(3.0f), Some(4.0f))))    // null element
      .toDF("id", "a", "b")
    val both = mixed.select(col("id"),
        VectorOps.dot("a", "b").as("n"), ComposedTwins.dotComposed("a", "b").as("c"))
      .collect()
    both.foreach { r =>
      assert(r.isNullAt(1), s"native not null for id=${r.getLong(0)}")
      assert(r.isNullAt(2), s"composed not null for id=${r.getLong(0)}")
    }
  }

  test("interpreted eval (non-codegen path) agrees with codegen") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(32)
    val rows = e.select(col("embedding")).collect()
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(e.select(col("embedding")).schema)
    val toInternal = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder(enc).createSerializer()
    val ref = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, e.schema("embedding").dataType, nullable = true)
    val expr = DotProduct(ref, ref)
    val viaCodegen = e.select(VectorOps.dot("embedding", "embedding"))
      .collect().map(_.getDouble(0))
    rows.zip(viaCodegen).foreach { case (r, cg) =>
      val ir = toInternal(r)
      val interp = expr.eval(ir).asInstanceOf[Double]
      assert(interp == cg)
    }
  }
}
