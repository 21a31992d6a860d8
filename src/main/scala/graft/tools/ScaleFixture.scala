package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench utility: materialize an N× scaled copy of a test-data SF dir so
  * the bench families can be spot-run at sf1-equivalent volume (VERDICT
  * r3 next-round #8 — catch plans that silently degrade between sf0.1
  * and real scale: a broadcast flipping to an unbroadcastable build, a
  * window collapsing to one partition, quadratic pair growth).
  *
  * Scaling rules (so query semantics scale LINEARLY, like a real SF
  * increase, instead of inflating join/dup cardinality quadratically):
  *  - every key column shifts by copy×1e9, consistently across tables
  *    (orders.o_orderkey and lineitem.l_orderkey shift together, etc.),
  *    so each copy is key-disjoint and intra-copy joins are preserved;
  *  - dimension leaves (nation, region) stay fixed, like TPC-H;
  *  - documents.text gets a per-copy token prefix on every word beyond
  *    copy 0, so shingle sets are copy-local and near-dup families do
  *    not explode across copies;
  *  - embeddings rotate by copy positions (norm-preserving circular
  *    shift), decorrelating cosine similarity across copies.
  *
  * Usage: graft.tools.ScaleFixture <inDir> <outDir> <copies>
  */
object ScaleFixture {

  private val Offset = 1000000000L

  private def copies(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).toDF("__c")
  }

  /** Cross-join the table with the copy index and shift key columns. */
  private def scaled(spark: SparkSession, df: DataFrame, n: Int,
      keyCols: Seq[String]): DataFrame = {
    val crossed = df.crossJoin(broadcast(copies(spark, n)))
    val shifted = keyCols.foldLeft(crossed) { (d, k) =>
      d.withColumn(k, col(k) + col("__c") * Offset)
    }
    shifted
  }

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val n = args(2).toInt
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.sources.Tables

    def write(name: String, df: DataFrame): Unit =
      df.drop("__c").write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // fixed dimension leaves
    write("region", Tables.region(spark, inDir))
    write("nation", Tables.nation(spark, inDir))

    write("customer", scaled(spark, Tables.customer(spark, inDir), n, Seq("c_custkey")))
    write("supplier", scaled(spark, Tables.supplier(spark, inDir), n, Seq("s_suppkey")))
    write("part", scaled(spark, Tables.part(spark, inDir), n, Seq("p_partkey")))
    write("orders", scaled(spark, Tables.orders(spark, inDir), n,
      Seq("o_orderkey", "o_custkey")))
    write("lineitem", scaled(spark, Tables.lineitem(spark, inDir), n,
      Seq("l_orderkey", "l_suppkey", "l_partkey")))
    // events: ts must stay a plain column; keys shift like the facts
    write("events", scaled(spark, Tables.events(spark, inDir), n,
      Seq("event_id", "user_id")))

    val docs = scaled(spark, Tables.documents(spark, inDir), n, Seq("doc_id"))
      .withColumn("text",
        when(col("__c") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit(" "),
            concat(lit(" c"), col("__c").cast("string"), lit("_")))))
    write("documents", docs)

    val dim = Tables.embeddings(spark, inDir)
      .select(size(col("embedding"))).head().getInt(0)
    val emb = scaled(spark, Tables.embeddings(spark, inDir), n, Seq("vec_id"))
      .withColumn("__k", pmod(col("__c"), lit(dim)).cast("int"))
      .withColumn("embedding",
        when(col("__k") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), col("__k") + 1, lit(dim) - col("__k")),
            slice(col("embedding"), lit(1), col("__k")))))
      .drop("__k")
    write("embeddings", emb)

    // the in-process write hook for the memoized fixture stamp: a JVM
    // that regenerates a fixture and then serves it must not key its
    // derived-state caches on the pre-regen stamp
    Tables.invalidateStamp(Some(outDir))
    println(s"wrote ${n}x $inDir -> $outDir")
    spark.stop()
  }
}
