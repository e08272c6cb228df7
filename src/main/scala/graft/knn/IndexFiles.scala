package graft.knn

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.IndexCache

/** The one checkpoint lifecycle of the non-graph indexes (IVF, IVF-PQ,
  * PQ, OPQ, PCA), each a driver model (centroids, codebooks, a rotation
  * or a basis) plus one distributed table (inverted file, codes,
  * projected base). A checkpoint directory holds the model as one
  * Java-serialized blob (`model`, the codec the graph families' shard
  * blobs use too) and the table as parquet (`table`), partitioned by
  * `cid` when the table has that column (IVF, IVF-PQ), so a probe of
  * the reloaded table is a partition-pruned scan.
  */
private[graft] object IndexFiles {

  /** Java serialization of one value: the one checkpoint blob codec. */
  def toBytes(v: AnyRef): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(v); oos.close()
    bos.toByteArray
  }

  /** Decode a [[toBytes]] blob. */
  def fromBytes[T](b: Array[Byte]): T = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
    try ois.readObject().asInstanceOf[T] finally ois.close()
  }

  /** Write `model` and `table` as a checkpoint under `path`. */
  def save(model: AnyRef, table: DataFrame, path: String): Unit = {
    val p = new Path(s"$path/model")
    val out = p.getFileSystem(table.sparkSession.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(toBytes(model)) finally out.close()
    // co-locate each cluster before the hive-partitioned write: one
    // file per cid instead of tasks x cids small files
    val w = if (table.columns.contains("cid"))
      table.repartition(col("cid")).write.partitionBy("cid")
    else table.write
    w.mode("overwrite").parquet(s"$path/table")
  }

  /** Reload a [[save]] checkpoint: the model driver-side, the table a
    * parquet scan (never cached, so every reader goes to the files and
    * a `cid` join prunes them).
    */
  def load[M](spark: SparkSession, path: String): (M, DataFrame) = {
    val p = new Path(s"$path/model")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val model = try fromBytes[M](in.readAllBytes()) finally in.close()
    (model, spark.read.parquet(s"$path/table"))
  }

  /** The lifecycle: [[save]] `built` once per (session, family, parts)
    * through [[IndexCache.checkpoint]], then [[load]] it once under
    * `<family>-reloaded`. The memo holds the model and the table
    * handle; the table is read through on every call.
    */
  def reloaded[M <: AnyRef](spark: SparkSession, family: String, parts: Any*)(
      built: => (M, DataFrame)): (M, DataFrame) = {
    val path = IndexCache.checkpoint(spark, family, parts: _*) { p =>
      val (model, table) = built
      save(model, table, p)
    }
    IndexCache.getOrBuild(spark, s"$family-reloaded", parts: _*)(
      load[M](spark, path))
  }
}
