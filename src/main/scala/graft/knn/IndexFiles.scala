package graft.knn

import org.apache.spark.sql.SparkSession

/** The driver-side halves of the ANN checkpoints, one codec each: a
  * matrix (IVF and IVF-PQ centroids, the PCA basis, the OPQ rotation)
  * and a PQ codebook set (PQ, OPQ, IVF-PQ). Both write one small
  * single-file parquet; the distributed half of each index (codes,
  * inverted file, projected table) is written by its family.
  */
private[knn] object IndexFiles {

  /** `rows` as (r, vec) parquet rows. */
  def saveMatrix(spark: SparkSession, rows: Array[Array[Double]],
      path: String): Unit = {
    import spark.implicits._
    rows.zipWithIndex.map { case (row, r) => (r, row.toSeq) }.toSeq
      .toDF("r", "vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveMatrix]] file: the rows in r order, driver-side. */
  def loadMatrix(spark: SparkSession, path: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(path).as[(Int, Seq[Double])]
      .collect().sortBy(_._1).map(_._2.toArray)
  }

  /** Codebooks flattened to (j, c, dim, centroid) rows. */
  def saveCodebooks(spark: SparkSession, cb: PqKnn.PqCodebooks,
      path: String): Unit = {
    import spark.implicits._
    val rows = for (j <- 0 until cb.m; c <- cb.books(j).indices)
      yield (j, c, cb.dim, cb.books(j)(c).toSeq)
    rows.toDF("j", "c", "dim", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveCodebooks]] file (m x ksub rows, driver-side). */
  def loadCodebooks(spark: SparkSession, path: String): PqKnn.PqCodebooks = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .as[(Int, Int, Int, Seq[Double])].collect()
    val m = rows.map(_._1).max + 1
    val books = Array.tabulate(m) { j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._4.toArray)
    }
    PqKnn.PqCodebooks(m, rows.head._3, books)
  }
}
