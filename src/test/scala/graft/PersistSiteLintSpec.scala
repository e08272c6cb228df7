package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint keeping relation memoization on ONE path: outside
  * `IndexCache.scala` (whose `persisted` helper owns persist +
  * materialize + re-persist-on-hit for every memoized relation), a
  * `StorageLevel.MEMORY_AND_DISK` or `.persist(` line in `src/main` must
  * be on this allowlist with the reason it is not a relation memo —
  * iterative-loop state, an index structure's own persistence, or an
  * RDD-valued memo. The hand-copied persist + count + return block
  * cannot grow back unnoticed, and stale entries fail so the list never
  * drifts above the code. Same shape as [[CollectSiteLintSpec]].
  */
class PersistSiteLintSpec extends AnyFunSuite {

  /** (source file basename, trimmed line) -> (multiplicity, reason). */
  private val allow: Map[(String, String), (Int, String)] = Map(
    // --- index structures: shard graphs + placed layouts ------------
    ("ShardedIndex.scala",
      "def persist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): ShardedIndex[G] =") ->
      (1, "index structure: ShardedIndex.persist default level (the " +
        "placed shard graphs of every graph family)"),
    ("ShardedIndex.scala",
      "if (graphs.getStorageLevel == StorageLevel.NONE) graphs.persist(level)") ->
      (1, "index structure: ShardedIndex.persist body, also re-persisting " +
        "placed after a release; a no-op while persisted"),
    ("ShardedIndex.scala", "val ix = build.persist()") ->
      (1, "index structure: the one shard-graph memo step (ShardedKnn.memo: " +
        "hnsw, hnsw-reloaded, vamana, vamana-reloaded, vamana-ins)"),
    ("IvfKnn.scala", "assigned.persist(StorageLevel.MEMORY_AND_DISK).count(); this") ->
      (1, "index structure: IvfIndex.persist (centroids + inverted file)"),
    ("IvfKnn.scala", "buildIndex(ExactKnn.split(spark, dir)._1, nC).persist())") ->
      (1, "index structure: the one ivf memo (memoIndex)"),
    ("IvfKnn.scala",
      "emb.filter(col(\"vec_id\") >= s90 && col(\"vec_id\") < s95)).persist()") ->
      (1, "index structure: the one ivf-ins memo (memoInsertedIndex)"),
    // --- iterative-loop state ---------------------------------------
    ("GraphOps.scala",
      "val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK") ->
      (1, "iterative-loop state: star-contraction rounds"),
    ("GraphOps.scala", ".persist(lvl)") ->
      (1, "iterative-loop state: star-contraction initial edges"),
    ("GraphOps.scala", "val ls = largeStarR(e).persist(lvl)") ->
      (1, "iterative-loop state: large-star round"),
    ("GraphOps.scala", "val next = smallStarR(ls).persist(lvl)") ->
      (1, "iterative-loop state: small-star round"),
    ("GraphOps.scala",
      ".persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)") ->
      (1, "iterative-loop state: LPA co-partitioned adjacency"),
    ("TextOps.scala",
      ".persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)") ->
      (3, "iterative-loop state: unigram EM word table and the " +
        "distributed BPE merge rounds (initial + per-round)"),
    ("GraftOps.scala",
      "rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)") ->
      (1, "plan-internal state: range-ordered RDD read by the subtotal " +
        "and stamp jobs, bounded queue"),
    // --- RDD-valued memo --------------------------------------------
    ("Pipeline.scala",
      ".persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)") ->
      (1, "RDD-valued memo (lr-rows): deserialized training rows for the " +
        "closure loop; persisted is Dataset-only"))

  private def mainSources: Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    } finally s.close()
  }

  test("every persist / MEMORY_AND_DISK site outside IndexCache is " +
      "allowlisted with its reason, and no allowlist entry is stale") {
    val found = scala.collection.mutable.Map
      .empty[(String, String), Int].withDefaultValue(0)
    mainSources.foreach { p =>
      val name = p.getFileName.toString
      if (name != "IndexCache.scala")
        java.nio.file.Files.readAllLines(p).forEach { raw =>
          val t = raw.trim
          val comment = t.startsWith("//") || t.startsWith("*")
          if (!comment && (t.contains("StorageLevel.MEMORY_AND_DISK")
              || t.contains(".persist(")))
            found((name, t)) += 1
        }
    }
    val extras = found.keys.filterNot(allow.contains).toSeq.sorted
    assert(extras.isEmpty,
      "hand-rolled persist site(s) — memoize the relation with " +
        "IndexCache.persisted or allowlist WITH A REASON:\n  " +
        extras.mkString("\n  "))
    val stale = allow.keys.filterNot(found.contains).toSeq.sorted
    assert(stale.isEmpty, s"stale allowlist entries (code moved on — " +
      s"prune them):\n  ${stale.mkString("\n  ")}")
    allow.foreach { case (k, (n, reason)) =>
      assert(found(k) == n,
        s"$k: expected $n occurrence(s), found ${found(k)} — a NEW " +
          "persist reused an allowlisted line verbatim; audit it")
      assert(reason.nonEmpty)
    }
  }
}
