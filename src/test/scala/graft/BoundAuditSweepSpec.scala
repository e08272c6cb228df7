package graft

/** Executable version of the "bounded by construction" claims: every
  * artifact [[IndexCache]] memoizes — centroids, codebooks, capped df
  * maps, neighbor lists, trained weights, dataset handles — must fit
  * the bound registered for its key family in
  * `IndexCache.driverArtifactBounds`, enforced AT BUILD TIME (an
  * unregistered family or an over-bound build throws inside
  * `getOrBuild`, in specs, bench and verify alike). This sweep
  * constructs the declared surface plus the quantization-index
  * builders so the enforcement demonstrably FIRES across families,
  * then audits what was built.
  */
class BoundAuditSweepSpec extends SparkSpec {

  // streaming rows run the engine; the iterative trainers and ANN
  // graph builds below cover their cache families explicitly instead
  private val excludedPrefixes = Seq("knn_", "eval_", "sql_knn",
    "neardup_", "hybrid_")

  test("every cached driver artifact lands under its registered bound") {
    // construct the batch surface (builds fire eagerly inside the
    // query constructors; no result materialization needed)
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => excludedPrefixes.exists(n.startsWith))
      .filterNot(_.contains("_streamed"))
      .foreach(n => SparkEntry.queries(n)(spark, sf0001))
    // the quantization families hold the genuinely driver-side
    // artifacts (codebooks, rotations, bases, bounds) — build each
    Seq("knn_pq_batch", "knn_ivf_batch", "knn_ivfpq_batch",
      "knn_opq_batch", "knn_sq_batch", "knn_bq_batch", "knn_bq256_batch",
      "knn_rp_batch", "knn_pca_batch", "knn_mrl_batch")
      .foreach(n => SparkEntry.queries(n)(spark, sf0001))
    val log = IndexCache.auditLog
    assert(log.size > 40, s"audit unexpectedly small: ${log.size}")
    val families = log.map(_._2).distinct
    assert(families.size > 25,
      s"too few artifact families audited: ${families.sorted}")
    // enforcement already threw on violation at build time; re-assert
    // the recorded measurements for the audit trail (a driverOr
    // decision for the distributed leg measures bound + 1 probe rows
    // by design and keeps none of them)
    val over = log.filter { case (key, _, measured, bound) =>
      measured > bound && !key.endsWith(":distributed") }
    assert(over.isEmpty, s"over-bound artifacts: $over")
    // the genuinely driver-side families must be MEASURED as such
    // (leafCount > a handle's worth) — guards against the measurer
    // silently treating a driver map as a handle
    val driverish = Seq("gram-topfreq" -> 100L, "item-nbr-bc" -> 100L,
      "kmeans-cents" -> 64L, "pq" -> 64L, "sq" -> 64L, "pca-basis" -> 64L,
      "lr-weights" -> 3L)
    driverish.foreach { case (fam, atLeast) =>
      val rows = log.filter(_._2 == fam)
      assert(rows.nonEmpty, s"family $fam never built in the sweep")
      assert(rows.exists(_._3 >= atLeast),
        s"family $fam measured as a bare handle: $rows")
    }
    // handle families must stay handle-sized — a persist swapped for a
    // collect would show up here as a count explosion
    val handleFams = Seq("cust-part-pairs", "copurchase-itempairs",
      "item-nbr-df", "winnow-fp", "gram-sets", "layout-env", "rp", "bq",
      "bq-wide", "mrl", "pca")
    handleFams.foreach { fam =>
      val rows = log.filter(_._2 == fam)
      assert(rows.nonEmpty, s"handle family $fam never built")
      assert(rows.forall(_._3 <= 8L),
        s"handle family $fam holds driver data: $rows")
    }
  }

  test("an unregistered cache family fails loudly at build time") {
    val ex = intercept[IllegalStateException] {
      IndexCache.getOrBuild(spark, "rogue-family", "whatever") {
        Map(1L -> 2L)
      }
    }
    assert(ex.getMessage.contains("no registered driver-artifact bound"))
  }

  test("an over-bound build fails loudly at build time") {
    // ndjson-fixture is registered at 4 leaf elements; a map this size
    // can never pass
    val ex = intercept[IllegalStateException] {
      IndexCache.getOrBuild(spark, "ndjson-fixture", "rogue-oversize") {
        (1 to 64).map(i => i.toLong -> i.toLong).toMap
      }
    }
    assert(ex.getMessage.contains("over its registered bound"))
  }
}
