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
    // --- the one driver-or-distributed cutover ----------------------
    ("GraftOps.scala",
      "val rows = ds.limit(math.min(bound + 1, Int.MaxValue.toLong).toInt).collect()") ->
      (1, "the driverOr probe: bound + 1 rows of a registry entry, the " +
        "driver leg's input under it — family:driver-edges (k-core, " +
        "component labeler) family:item-nbr-bc (CF serving) " +
        "family:lsh-verify-flat family:dbscan-exact-rows " +
        "family:bpe-word-counts"),
    // --- custom plans: per-partition offset scans -------------------
    ("GraftOps.scala",
      "}, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)") ->
      (1, "O(|partitions|) (count, sums) subtotal rows (globalOrder offsets)"),
    // --- CDC: bucket routing ----------------------------------------
    ("CdcStream.scala", ".distinct().collect().map(_.getInt(0)).sorted") ->
      (1, "touched bucket ids, <= NStateBuckets"),
    // --- ANN builds/reloads: samples, centroids, codebooks ----------
    ("PqKnn.scala",
      ".as[(Long, Array[Double])].collect().map(r => l2normalize(r._2))") ->
      (1, "sampleRows-capped (10k) codebook training sample"),
    ("IvfKnn.scala",
      ".select(\"emb\").collect().map(_.getSeq[Double](0).toArray)") ->
      (1, "limit(k) seed centroids"),
    ("IvfKnn.scala", "}.collect()") ->
      (1, "O(|partitions| x k) k-means fold partials"),
    ("SqKnn.scala", "}.collect()") ->
      (1, "O(|partitions|) per-dim min/max fold partials"),
    ("ExactKnn.scala", "val side = rows.collect().sortBy(_._1)") ->
      (1, "transient flat yardstick kernel inside the ONE-TIME " +
        "family:self-topk build (scale path = ANN batch + LSH near-dup)"),
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
    ("TextOps.scala", ".limit(1).collect()") ->
      (1, "limit(1) best merge pair per BPE round"),
    ("TextOps.scala",
      ".select(\"w1\", \"w2\").as[(String, String)].collect())") ->
      (1, "vocab-bounded ed-join pairs of the String union-find " +
        "dictionary, inside the family:fuzzy-labels build"),
    ("TextOps.scala", "bpeVocab(spark, dir, nMerges).collect()") ->
      (1, "nMerges rule rows inside the family:bpe-merges build"),
    // --- dedup ---------------------------------------------------------
    ("Dedup.scala",
      ".collect().map(r => r.getLong(0) -> r.getLong(1)).toMap") ->
      (1, "limit(TopFreqGrams) df map inside the family:gram-topfreq build"),
    ("Dedup.scala",
      "collectFlat(n.filter(pmod(col(\"vec_id\"), lit(stride)) === 0))") ->
      (1, "~AnchorTarget-row panel inside the family:anchor-flat build"),
    ("Dedup.scala", "collectFlat(n)") ->
      (1, "the ONE corpus-proportional oracle-baseline exemption, " +
        "inside the family:neardup-oracle-corpus build (r12 verdict #2)"),
    ("Dedup.scala", ".as[(Long, Array[Double])].collect())") ->
      (1, "body of collectFlat — both callers ride registered " +
        "IndexCache families (anchor-flat, neardup-oracle-corpus)"),
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

  test("the only union-find root-chase loop in src/main is " +
      "GraphOps.unionFind, the component labeler's") {
    // `while (parent(r) != r)`: the find step of any union-find copy,
    // whatever its map is called
    val chase = """while\s*\(\s*(\w+)\((\w+)\)\s*!=\s*\2\s*\)""".r
    val hits = mainSources.flatMap { p =>
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala.map(_.trim)
        .filterNot(t => t.startsWith("//") || t.startsWith("*"))
        .filter(t => chase.findFirstIn(t).nonEmpty)
        .map(t => s"${p.getFileName}: $t")
    }
    assert(hits == Seq("GraphOps.scala: while (parent(r) != r) r = parent(r)"),
      "union-find copies outside GraphOps.unionFind — label components " +
        s"with GraphOps.componentLabels or call unionFind:\n  ${hits.mkString("\n  ")}")
  }

  /** (file, trimmed line) -> reason: the only `count()` compared with
    * a bound outside [[graft.plans.GraftOps.driverOr]]. The
    * single-partition window leg collects nothing, so there is no
    * probe whose rows it could reuse.
    */
  private val countCutovers: Map[(String, String), String] = Map(
    ("Relational.scala",
      "if (ltv.count() < graft.plans.GraftOps.smallOrderCutover) rfmWindow(ltv)") ->
      "smallOrderCutover: customer-LTV window vs range quartiles")

  test("leg choices go through GraftOps.driverOr: no count() compared " +
      "with a bound and no limit(n + 1) collect outside it") {
    // a comparison on the count's line or opening the next line
    val countCmp = """\.count\(\)\s*[<>]|[<>]=?\s*[\w.]*\.count\(\)""".r
    val limitPlusOne = """limit\([^)]*\+\s*1\b""".r
    val envelope = scala.collection.mutable.Buffer.empty[String]
    val hits = mainSources.flatMap { p =>
      import scala.jdk.CollectionConverters._
      val name = p.getFileName.toString
      val lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
      // a `val n = bound + 1` passed as `.limit(n)` a few lines on
      def plusOneVals(i: Int) = lines.slice(i - 5, i).flatMap(l =>
        """val (\w+) = .*\+\s*1\b""".r.findFirstMatchIn(l).map(_.group(1)))
      var inEnvelope = false
      lines.indices.flatMap { i =>
        val t = lines(i).trim
        if (name == "GraftOps.scala" && t.startsWith("def driverOr["))
          inEnvelope = true
        else if (inEnvelope && lines(i) == "  }") inEnvelope = false
        val next = if (i + 1 < lines.size) lines(i + 1).trim else ""
        val decides = countCmp.findFirstIn(t).nonEmpty ||
          limitPlusOne.findFirstIn(t).nonEmpty ||
          plusOneVals(i).exists(v => t.contains(s".limit($v)")) ||
          (t.endsWith(".count()") && countCmp.findFirstIn(".count()" + next)
            .nonEmpty)
        if (t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
            || !decides) None
        else if (inEnvelope) { envelope += t; None }
        else Some((name, t))
      }
    }
    val extras = hits.filterNot(countCutovers.contains)
    assert(extras.isEmpty, "hand-written leg choice(s) — route them " +
      s"through GraftOps.driverOr:\n  ${extras.mkString("\n  ")}")
    val stale = countCutovers.keySet -- hits
    assert(stale.isEmpty, s"stale count-cutover entries: $stale")
    assert(envelope.size == 1 && limitPlusOne.findFirstIn(envelope.head)
      .nonEmpty, s"driverOr must hold one limit(bound + 1) probe: $envelope")
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
