package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.GraftOps

/** [[GraftOps.driverOr]], the one driver-or-distributed cutover: a
  * single bounded collect decides the leg against a registry bound, is
  * the driver leg's input, and leaves its decision in the audit log.
  */
class CutoverEnvelopeSpec extends SparkSpec {

  /** The Dataset actions `body` ran, in order. */
  private def actions(body: => Unit): Seq[String] = {
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(if (qe.analyzed.output.exists(_.name == "marker")) "marker"
          else f)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = seen.add(s"failed $f")
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener delivery is asynchronous but ordered: wait for a
      // marker action queued after the body's
      spark.range(1).toDF("marker").collect()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toList.takeWhile(_ != "marker")
  }

  test("driverOr takes the driver leg up to its registry bound and the " +
      "distributed leg past it, in one collect and no count") {
    import spark.implicits._
    val key = "dbscan-exact-rows"
    val bound = IndexCache.driverArtifactBounds(key)._2
    for ((n, leg) <- Seq(bound - 1 -> "driver", bound -> "driver",
        bound + 1 -> "distributed", 3 * bound -> "distributed")) {
      var took = ""
      val ran = actions {
        took = GraftOps.driverOr(spark.range(n).as[Long], key) { rows =>
          assert(rows.toSeq == (0L until n), "the probe rows feed the leg")
          "driver"
        }("distributed")
      }
      assert(took == leg, s"$n rows")
      assert(ran == Seq("collect"), s"$n rows ran $ran")
      // the probe stops at bound + 1 rows however large the input
      assert(IndexCache.auditLog.last ==
        ((s"driverOr:$key:$leg", key, math.min(n, bound + 1), bound)))
    }
  }

  test("driverOr divides the registry entry by the row width") {
    import spark.implicits._
    val key = "lsh-verify-flat"
    val entries = IndexCache.driverArtifactBounds(key)._2
    val leg = GraftOps.driverOr(spark.range(3).as[Long], key,
      rowWidth = entries / 2)(_ => "driver")("distributed")
    assert(leg == "distributed")
    assert(IndexCache.auditLog.last ==
      ((s"driverOr:$key:distributed", key, 3L, 2L)))
  }
}
