package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd's k-means over an embedding column — the IVF
  * index BUILD path (v02_ivf_ann probes label clusters; this constructs
  * data-driven coarse centroids instead). Beyond-reference ANN
  * infrastructure per the build brief's similarity-search requirement.
  *
  * Spark shape: centroids live on the driver (k × dim doubles — tiny);
  * each iteration is ONE distributed pass — broadcast the centroid
  * table, assign by max dot product, partial-aggregate per-dimension
  * sums. At 100 TB that is the textbook scalable k-means loop: the
  * shuffle carries k×dim partial sums per partition, never vectors.
  * Determinism: init picks the k vectors with the smallest
  * md5(vec_id) — pseudo-random but reproducible with no RNG state.
  */
object KMeans {

  /** @return (assignments DataFrame [vec_id, cluster], centroids) */
  def fit(spark: SparkSession, emb: DataFrame, k: Int, iterations: Int,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, Array[Array[Double]]) = {
    val (assign, centroids, _) =
      fitConverged(spark, emb, k, iterations, tol = -1.0, idCol, vecCol)
    (assign, centroids)
  }

  /** Lloyd's with an early-stop convergence test (the k-means analog of
    * IterativeRatings.solve's max-|Δ| stop): after each centroid update,
    * stop once the largest per-coordinate centroid movement is <= tol.
    * tol < 0 disables the test (exactly maxIter iterations — the fit()
    * path); maxIter = 0 returns the seed centroids and no assignments
    * (null). @return (assignments, centroids, iterations actually run) */
  def fitConverged(spark: SparkSession, emb: DataFrame, k: Int, maxIter: Int,
      tol: Double, idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, Array[Array[Double]], Int) = {

    val long = emb.select(col(idCol).as("__id"), posexplode(col(vecCol)))
      .select(col("__id"), col("pos"), col("col").cast("double").as("v"))

    // deterministic seed rows: k smallest md5(id)
    val seedIds = emb.select(col(idCol).as("__id"), md5(col(idCol).cast("string")).as("__h"))
      .orderBy(col("__h").asc).limit(k).select(col("__id"))
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    var centroids: Array[Array[Double]] =
      long.join(seedIds, Seq("__id"))
        .collect().groupBy(_.getAs[Any]("__id"))
        .toSeq.sortBy(_._1.toString)
        .map { case (_, rows) =>
          val a = new Array[Double](dim)
          rows.foreach(r => a(r.getAs[Int]("pos")) = r.getAs[Double]("v"))
          a
        }.toArray

    var assign: DataFrame = null
    var iters = 0
    var converged = false
    while (iters < maxIter && !converged) {
      val centDf = spark.createDataFrame(
        centroids.zipWithIndex.flatMap { case (c, ci) =>
          c.zipWithIndex.map { case (v, pos) => (ci, pos, v) }
        }.toSeq).toDF("cluster", "pos", "cv")
      // one distributed pass: dot with every centroid, argmax, then
      // per-(cluster, pos) partial sums
      val dots = long.join(broadcast(centDf), Seq("pos"))
        .groupBy(col("__id"), col("cluster"))
        .agg(sum(col("v") * col("cv")).as("dot"))
      // argmax via max_by — a hash aggregate, one less sort per
      // iteration than the row_number window it replaces; tiebreak
      // (dot desc, cluster asc) preserved via the (dot, -cluster) key
      assign = dots.groupBy(col("__id"))
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
        if (counts(ci) == 0) centroids(ci) // empty cluster keeps its centroid
        else c.map(_ / counts(ci))
      }
      iters += 1
      if (tol >= 0) {
        val delta = centroids.zip(updated).map { case (a, b) =>
          a.zip(b).map { case (x, y) => math.abs(x - y) }.max
        }.max
        converged = delta <= tol
      }
      centroids = updated
    }
    (Option(assign).map(_.withColumnRenamed("__id", idCol)).orNull,
      centroids, iters)
  }
}
