package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint closing the r12 verdict's bound-audit escape hatch FOR
  * GOOD: every `.collect()` / `collectFlat(` call site in `src/main`
  * must be on this allowlist, and every allowlist entry must name the
  * bound that keeps it driver-safe — either a registered
  * [[IndexCache.driverArtifactBounds]] family (validated against the
  * registry, so a renamed family breaks the lint) or the explicit
  * limit/cutover/O(partitions) bound in the surrounding code.
  *
  * BoundAuditSweepSpec enforces bounds on what IndexCache BUILDS; it
  * cannot see a raw collect that never rides the cache (the r11
  * sampled-estimator weak flag, and r12's `collectFlat(n)` caveat,
  * were exactly such sites). This lint makes the complement
  * executable: adding a driver materialization anywhere in `src/main`
  * fails the suite until it is either routed through IndexCache or
  * allowlisted here with its bound — "zero unaudited collects" instead
  * of "zero that we remembered". Stale entries fail too, so the list
  * can never drift above the code.
  */
class CollectSiteLintSpec extends AnyFunSuite {

  /** (source file basename, trimmed line) -> (multiplicity, bound).
    * A bound starting with "family:" must name a registered
    * IndexCache driver-artifact family.
    */
  private val allow: Map[(String, String), (Int, String)] = Map(
    // --- custom plans: per-partition offset scans -------------------
    ("GraftOps.scala", ".collect().sortBy(_._1).map(_._2)") ->
      (1, "O(|partitions|) subtotal rows (global-rank offsets)"),
    ("GraftOps.scala",
      "}, preservesPartitioning = true).collect().sortBy(_._1)") ->
      (1, "O(|partitions|) (count,sum) rows (rank+prefix offsets)"),
    ("GraftOps.scala",
      "}, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)") ->
      (1, "O(|partitions|) vector subtotal rows (multi-col offsets)"),
    // --- CDC: bucket routing ----------------------------------------
    ("CdcStream.scala", ".distinct().collect().map(_.getInt(0)).sorted") ->
      (1, "touched bucket ids, <= NStateBuckets"),
    // --- ANN builds/reloads: samples, centroids, codebooks ----------
    ("PqKnn.scala",
      ".as[(Long, Array[Double])].collect().map(r => l2normalize(r._2))") ->
      (1, "sampleRows-capped (10k) codebook training sample"),
    ("PqKnn.scala", ".as[(Int, Int, Int, Seq[Double])].collect()") ->
      (1, "m x ksub codebook rows (checkpoint reload; family:pq-reloaded " +
        "caps the memoized result)"),
    ("IvfKnn.scala",
      ".select(\"emb\").collect().map(_.getSeq[Double](0).toArray)") ->
      (1, "limit(k) seed centroids"),
    ("IvfKnn.scala", "}.collect()") ->
      (1, "O(|partitions| x k) k-means fold partials"),
    ("IvfKnn.scala",
      ".as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)") ->
      (1, "k centroid rows (checkpoint reload; family:ivf bound)"),
    ("IvfPqKnn.scala",
      ".as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)") ->
      (1, "coarse centroid rows (reload; family:ivfpq-reloaded)"),
    ("IvfPqKnn.scala", ".as[(Int, Int, Int, Seq[Double])].collect()") ->
      (1, "m x ksub codebook rows (reload; family:ivfpq-reloaded)"),
    ("OpqKnn.scala", ".collect().sortBy(_._1).map(_._2.toArray)") ->
      (1, "d x d rotation rows (reload; family:opq-reloaded)"),
    ("PcaKnn.scala", ".collect().sortBy(_._1).map(_._2.toArray)") ->
      (1, "outDim x d basis rows (reload; family:pca-reloaded)"),
    ("SqKnn.scala", "}.collect()") ->
      (1, "O(|partitions|) per-dim min/max fold partials"),
    ("ExactKnn.scala", "val side = rows.collect().sortBy(_._1)") ->
      (1, "transient flat yardstick kernel inside the ONE-TIME " +
        "family:self-topk build (scale path = ANN batch + LSH near-dup)"),
    ("EmbeddingStats.scala",
      "Dedup.unionFindReps(pairs.as[(Long, Long)].collect())") ->
      (1, "mutual-pair edges, panel-bounded (<= panel*k rows) and " +
        "cutover-gated at 10M edges (star-contraction leg above; " +
        "family:mutual-knn-clusters caps the memoized result)"),
    ("ShardedIndex.scala",
      ".mapPartitions(git => probeShard(git, queries.iterator, k, ef)).collect()") ->
      (1, "|q|·shards·k candidate triples, proportional to the " +
        "driver-held query batch"),
    // --- pipeline / retrieval ---------------------------------------
    ("Pipeline.scala",
      ".as[(Long, Double, Array[Double])].collect().headOption") ->
      (1, "limit(1) farthest-point coreset pick (vector rides the " +
        "argmax row so each greedy round is one job)"),
    ("Pipeline.scala",
      ".collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))") ->
      (1, "|bins| calibration rows (fixed bin count)"),
    ("HybridSearch.scala",
      ".collect().map(r => (r.getLong(0), r.getDouble(1),") ->
      (1, "depth-bounded (50) MMR candidate rows"),
    // --- text ---------------------------------------------------------
    ("TextOps.scala",
      ".as[(String, Array[Long])].collect() // |sources| rows of k longs") ->
      (1, "|sources| x k KMV sketch rows"),
    ("TextOps.scala", ".select(\"lang\", \"gram\").collect()") ->
      (1, "profileSize-capped grams per language (topKPerGroup; " +
        "family:langid-profiles caps the memoized profiles)"),
    ("TextOps.scala", ".select(col(\"term\")).as[String].collect().toSeq") ->
      (1, "limit(e) PRF expansion terms"),
    ("TextOps.scala", ".limit(vocabSize).as[(String, Long)].collect()") ->
      (1, "vocabSize-capped unigram seed pieces (family:unigram-vocab)"),
    ("TextOps.scala", ".as[(String, Long)].collect()") ->
      (1, "single-char seed pieces (<= alphabet size)"),
    ("TextOps.scala", ".as[(String, Long)].collect().toMap") ->
      (1, "EM usage counts over the FIXED seeded vocab (<= vocabSize)"),
    ("TextOps.scala", "wordCounts.as[(String, Long)].collect(), nMerges)") ->
      (1, "cutover-proven small side (bounded COUNT probe one line up; " +
        "distributed BPE trainer above the cutover)"),
    ("TextOps.scala", ".limit(1).collect()") ->
      (1, "limit(1) best merge pair per BPE round"),
    ("TextOps.scala",
      ".select(\"w1\", \"w2\").as[(String, String)].collect()") ->
      (1, "vocab-bounded ed-join pairs inside the family:fuzzy-labels build"),
    ("TextOps.scala", "bpeVocab(spark, dir, nMerges).collect()") ->
      (1, "nMerges rule rows inside the family:bpe-merges build"),
    // --- dedup ---------------------------------------------------------
    ("Dedup.scala",
      ".collect().map(r => r.getLong(0) -> r.getLong(1)).toMap") ->
      (1, "limit(TopFreqGrams) df map inside the family:gram-topfreq build"),
    ("Dedup.scala",
      "val labels = unionFindReps(pairs.collect()).toDF(\"doc_id\", \"rep0\")") ->
      (1, "<=10M-edge cutover-gated union-find leg (distributed " +
        "min-label propagation above)"),
    ("Dedup.scala",
      "collectFlat(n.filter(pmod(col(\"vec_id\"), lit(stride)) === 0))") ->
      (1, "~AnchorTarget-row panel inside the family:anchor-flat build"),
    ("Dedup.scala", "collectFlat(n)") ->
      (1, "the ONE corpus-proportional oracle-baseline exemption, " +
        "inside the family:neardup-oracle-corpus build (r12 verdict #2)"),
    ("Dedup.scala",
      ".as[(Long, Array[Double])].limit(limitN).collect()") ->
      (1, "limit(maxRows+1) decide-and-reuse envelope " +
        "(LshBroadcastMaxEntries cutover)"),
    ("Dedup.scala", ".as[(Long, Array[Double])].collect())") ->
      (1, "body of collectFlat — both callers ride registered " +
        "IndexCache families (anchor-flat, neardup-oracle-corpus)"),
    ("Dedup.scala",
      "val reps = unionFindReps(ccEdges.as[(Long, Long)].collect())") ->
      (1, "thresholded core-core edges, cutover-bounded like " +
        "nearDupClusters (DbscanExactMaxRows)"),
    ("Dedup.scala",
      "pairs.select(col(\"vec_a\"), col(\"vec_b\")).as[(Long, Long)].collect())") ->
      (1, "LSH-leg core-core edges, same cutover-bounded union-find"),
    // --- embedding stats ----------------------------------------------
    ("EmbeddingStats.scala", "}.collect()") ->
      (1, "O(|partitions|) Gram-matrix partials (d^2 each)"),
    ("EmbeddingStats.scala", ".collect().map(_._2)") ->
      (1, "limit(k) seeds inside the family:kmeans-cents build"),
    ("EmbeddingStats.scala", "}.collect().toMap") ->
      (1, "O(k) reduceByKey partials inside the family:kmeans-cents build"),
    ("EmbeddingStats.scala", "}.collect().sortBy(_._1)") ->
      (1, "O(|labels|) centroid partials (family:rocchio-cents bound)"),
    // --- graph ----------------------------------------------------------
    ("GraphOps.scala", ".as[(Long, Long, Long)].collect()") ->
      (1, "nbrCap-capped lists inside the family:item-nbr-lists build " +
        "(ItemNbrDriverMaxEntries; distributed CF leg above cutover)"),
    ("GraphOps.scala", ".as[(Long, Long)].collect()") ->
      (1, "k-core driver leg, cutover-gated (distributed peel above)"),
    // --- layout / ingest -------------------------------------------------
    ("ScaleTechniques.scala", ".collect().head") ->
      (1, "1-row max() aggregate (layout-width assertion)"),
    ("Ingest.scala",
      ".orderBy(\"vec_id\").select(\"vec_id\", \"embedding\", \"label\").collect()") ->
      (1, "fixture-scale export inside the family:ndjson-fixture build " +
        "(cluster-scale form is a plain export job)"))

  private def mainSources: Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    } finally s.close()
  }

  test("every collect()/collectFlat site in src/main is allowlisted with " +
      "its bound, and no allowlist entry is stale") {
    val found = scala.collection.mutable.Map
      .empty[(String, String), Int].withDefaultValue(0)
    mainSources.foreach { p =>
      val name = p.getFileName.toString
      java.nio.file.Files.readAllLines(p).forEach { raw =>
        val t = raw.trim
        val comment = t.startsWith("//") || t.startsWith("*")
        if (!comment && !t.contains("def collectFlat")
            && (t.contains(".collect()") || t.contains("collectFlat(")
              || t.contains("collectAsList(") || t.contains("toLocalIterator(")))
          found((name, t)) += 1
      }
    }
    val extras = found.keys.filterNot(allow.contains).toSeq.sorted
    assert(extras.isEmpty,
      "UNAUDITED driver materialization(s) — route through " +
        "IndexCache.getOrBuild or allowlist WITH A BOUND:\n  " +
        extras.mkString("\n  "))
    val stale = allow.keys.filterNot(found.contains).toSeq.sorted
    assert(stale.isEmpty, s"stale allowlist entries (code moved on — " +
      s"prune them):\n  ${stale.mkString("\n  ")}")
    allow.foreach { case (k, (n, bound)) =>
      assert(found(k) == n,
        s"$k: expected $n occurrence(s), found ${found(k)} — a NEW " +
          "collect reused an allowlisted line verbatim; audit it")
      assert(bound.nonEmpty)
    }
  }

  test("every family a bound cites is registered in " +
      "IndexCache.driverArtifactBounds") {
    val cited = allow.values.flatMap { case (_, bound) =>
      "family:([a-z0-9-]+)".r.findAllMatchIn(bound).map(_.group(1))
    }.toSet
    assert(cited.nonEmpty)
    val missing = cited.filterNot(IndexCache.driverArtifactBounds.contains)
    assert(missing.isEmpty,
      s"allowlist cites unregistered IndexCache families: $missing")
  }
}
