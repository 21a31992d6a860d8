package graft

import org.apache.spark.sql.functions._

import graft.queries.{TrainedIndex, VectorOps}

/** Parity pins for the native PQ subspace expressions (plans/
  * PqSubspace): the codegen'd encode/LUT must be BIT-IDENTICAL to the
  * composed zip_with/aggregate twins they replaced — every PQ hash
  * gate (v06/v08/v12/v13/v15/v16/st15/st17) rides these columns, so
  * any drift here is a cross-engine hash mismatch waiting at the
  * driver gate. Both codegen and interpreted paths are exercised. */
class PqSubspaceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("native pqCodeCol matches the composed struct-sort twin on real embeddings") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val cb = TrainedIndex.codebook(spark, sf)
    val both = e.select(
      (0 until VectorOps.PqM).flatMap { i =>
        Seq(VectorOps.pqCodeCol(cb, i).as(s"n$i"),
          ComposedTwins.pqCodeColComposed(cb, i).as(s"c$i"))
      }: _*)
    val mismatches = both.filter(
      (0 until VectorOps.PqM)
        .map(i => col(s"n$i") =!= col(s"c$i")).reduce(_ || _)).count()
    assert(mismatches == 0)
  }

  test("native pqLutCol matches the composed round/cast twin element-for-element") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val cb = TrainedIndex.codebook(spark, sf)
    val both = e.select(
      (0 until VectorOps.PqM).flatMap { i =>
        Seq(VectorOps.pqLutCol(cb, i).as(s"n$i"),
          ComposedTwins.pqLutColComposed(cb, i).as(s"c$i"))
      }: _*)
    val mismatches = both.filter(
      (0 until VectorOps.PqM)
        .map(i => col(s"n$i") =!= col(s"c$i")).reduce(_ || _)).count()
    assert(mismatches == 0)
  }

  test("interpreted eval (non-codegen path) agrees with codegen") {
    // force the interpreted path the way Spark does on codegen
    // fallback: evaluate the expression directly row-by-row
    val e = graft.sources.Tables.embeddings(spark, sf).limit(64)
    val cb = TrainedIndex.codebook(spark, sf)
    val rows = e.select(col("embedding")).collect()
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(e.select(col("embedding")).schema)
    val toInternal = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder(enc).createSerializer()
    (0 until VectorOps.PqM).foreach { i =>
      val code = graft.plans.PqSubspaceCode(
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, e.schema("embedding").dataType, nullable = true),
        cb(i), i * VectorOps.PqSubDim)
      val lut = graft.plans.PqSubspaceLut(
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, e.schema("embedding").dataType, nullable = true),
        cb(i), i * VectorOps.PqSubDim)
      rows.foreach { r =>
        val ir = toInternal(r)
        val c = code.eval(ir).asInstanceOf[Int]
        assert(c >= 0 && c < VectorOps.PqK)
        val l = lut.eval(ir)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        assert(l.numElements() == VectorOps.PqK)
      }
    }
    // cross-check: the DataFrame (codegen) codes equal per-row eval codes
    val dfCodes = e.select(VectorOps.pqCodeCol(cb, 0).as("c")).collect()
      .map(_.getInt(0))
    val evalCodes = rows.map { r =>
      graft.plans.PqSubspaceCode(
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, e.schema("embedding").dataType, nullable = true),
        cb(0), 0).eval(toInternal(r)).asInstanceOf[Int]
    }
    assert(dfCodes.toSeq == evalCodes.toSeq)
  }

  test("null embedding yields null, matching the composed form's top-level null") {
    val s = spark
    import s.implicits._
    val cb = TrainedIndex.codebook(spark, sf)
    val df = Seq((1L, Option.empty[Array[Float]]),
        (2L, Some(Array.fill(64)(0.5f))))
      .toDF("id", "embedding")
    val out = df.select(col("id"), VectorOps.pqCodeCol(cb, 0).as("c"),
      VectorOps.pqLutCol(cb, 0).as("l")).collect()
      .map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(out(1L) == ((true, true)))
    assert(out(2L) == ((false, false)))
  }

  test("malformed embeddings (short array, null element) yield NULL, " +
      "never garbage — codegen and interpreted agree (ADVICE r12)") {
    val s = spark
    import s.implicits._
    val cb = TrainedIndex.codebook(spark, sf)
    // sub 7 reads offsets 56..63 — row 1 is too short for it but fine
    // for sub 0; row 2 has a null element inside sub 0's range; row 3
    // is well-formed
    val df = Seq(
        (1L, Array.fill(40)(0.5f).map(Option(_))),
        (2L, Array.tabulate(64)(j =>
          if (j == 3) Option.empty[Float] else Some(0.5f))),
        (3L, Array.fill(64)(0.5f).map(Option(_))))
      .toDF("id", "embedding")
    val out = df.select(col("id"),
        VectorOps.pqCodeCol(cb, 0).as("c0"),
        VectorOps.pqCodeCol(cb, 7).as("c7"),
        VectorOps.pqLutCol(cb, 0).as("l0"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.isNullAt(1), r.isNullAt(2), r.isNullAt(3))).toMap
    assert(out(1L) == ((false, true, false)), "short array: only the " +
      "out-of-range subspace is null")
    assert(out(2L) == ((true, false, true)), "null element nulls its " +
      "own subspace's code and LUT")
    assert(out(3L) == ((false, false, false)))
    // interpreted path agrees with codegen on the malformed rows
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(df.select(col("embedding")).schema)
    val toInternal = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder(enc).createSerializer()
    val bound = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, df.schema("embedding").dataType, nullable = true)
    val shortRow = toInternal(df.select(col("embedding"))
      .filter(size(col("embedding")) === 40).collect().head)
    assert(graft.plans.PqSubspaceCode(bound, cb(7), 56).eval(shortRow) == null)
    assert(graft.plans.PqSubspaceLut(bound, cb(7), 56).eval(shortRow) == null)
  }
}
