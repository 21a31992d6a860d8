package graft.tools

import org.apache.spark.sql.functions._

/** One-off probe for the v05d convergence gate: prints the max per-
  * coordinate centroid movement after each Lloyd iteration at the given
  * SF dirs, so the pinned tol provably brackets "stop at exactly 2"
  * with margin on both sides (the dm10d recipe). */
object KmProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    dirs.foreach { d =>
      val emb = graft.sources.Tables.embeddings(spark, d)
      // replay fitConverged's loop, printing the per-iteration delta;
      // k from KM_K (default 8) so the k-scaled gates (v14b) can
      // bracket their own stop-at-2 claim
      val k = sys.env.getOrElse("KM_K", "8").toInt
      val long = emb.select(col("vec_id").as("__id"), posexplode(col("embedding")))
        .select(col("__id"), col("pos"), col("col").cast("double").as("v"))
      val seedIds = emb.select(col("vec_id").as("__id"),
        md5(col("vec_id").cast("string")).as("__h"))
        .orderBy(col("__h").asc).limit(k).select(col("__id"))
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      var centroids: Array[Array[Double]] =
        long.join(seedIds, Seq("__id"))
          .collect().groupBy(_.getAs[Any]("__id"))
          .toSeq.sortBy(_._1.toString)
          .map { case (_, rows) =>
            val a = new Array[Double](dim)
            rows.foreach(r => a(r.getAs[Int]("pos")) = r.getAs[Double]("v"))
            a
          }.toArray
      (1 to 6).foreach { it =>
        val centDf = spark.createDataFrame(
          centroids.zipWithIndex.flatMap { case (c, ci) =>
            c.zipWithIndex.map { case (v, pos) => (ci, pos, v) }
          }.toSeq).toDF("cluster", "pos", "cv")
        val dots = long.join(broadcast(centDf), Seq("pos"))
          .groupBy(col("__id"), col("cluster"))
          .agg(sum(col("v") * col("cv")).as("dot"))
        val assign = dots.groupBy(col("__id"))
          .agg(max_by(col("cluster"),
            struct(col("dot"), (-col("cluster")).as("nc"))).as("cluster"))
        val sums = long.join(assign, Seq("__id"))
          .groupBy(col("cluster"), col("pos"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = Array.fill(centroids.length)(new Array[Double](dim))
        val counts = new Array[Long](centroids.length)
        sums.foreach { r =>
          val ci = r.getAs[Int]("cluster")
          next(ci)(r.getAs[Int]("pos")) = r.getAs[Double]("s")
          counts(ci) = r.getAs[Long]("n")
        }
        val updated = next.zipWithIndex.map { case (c, ci) =>
          if (counts(ci) == 0) centroids(ci) else c.map(_ / counts(ci))
        }
        val delta = centroids.zip(updated).map { case (a, b) =>
          a.zip(b).map { case (x, y) => math.abs(x - y) }.max
        }.max
        println(f"$d iter=$it delta=$delta%.6f")
        centroids = updated
      }
    }
    spark.stop()
  }
}
