package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint keeping filter-and-refine on ONE path: every
  * `topKPerGroup(` and `ExactKnn.rerank(` line under
  * `src/main/scala/graft/knn/` must be on this allowlist with its role,
  * and the two filter-and-refine roles — the coarse cut to
  * k·overfetch candidates and the exact re-rank of those candidates —
  * may appear only in `TwoStage.scala`. A compressed family that cuts
  * or re-ranks its own candidates again fails the suite, and stale
  * entries fail so the list never drifts above the code. Same shape as
  * [[PersistSiteLintSpec]]. `IndexCache.checkpoint(` lines ride the same
  * allowlist: a checkpoint is written only by the two lifecycles,
  * `IndexFiles.reloaded` and the shard harness, so a family that saves
  * and reloads on its own fails too.
  */
class TwoStageLintSpec extends AnyFunSuite {

  private val ExactScan = "exact scan"
  private val IvfProbe = "IVF probe"
  private val ShardMerge = "shard merge"
  private val CoarseCut = "coarse cut"
  private val Rerank = "re-rank"
  private val Checkpoint = "checkpoint"

  /** (source file basename, trimmed line) -> (multiplicity, role, reason). */
  private val allow: Map[(String, String), (Int, String, String)] = Map(
    ("ExactKnn.scala", "graft.plans.GraftOps.topKPerGroup(scored, Seq(\"qid\"),") ->
      (6, ExactScan, "top-k of a brute-force distance scan: filtered, " +
        "hard-negative, after-insert, after-delete, sampled and full batch"),
    ("ExactKnn.scala",
      "graft.plans.GraftOps.topKPerGroup(scored, Seq(\"qid\", \"label\"),") ->
      (1, ExactScan, "faceted per-(query, label) top-k"),
    ("ExactKnn.scala", "graft.plans.GraftOps.topKPerGroup(exact, Seq(\"qid\"),") ->
      (1, ExactScan, "ExactKnn.rerank's body: the exact top-k over a " +
        "candidate set; TwoStage.search is its one caller in knn"),
    ("IvfKnn.scala", "graft.plans.GraftOps.topKPerGroup(scored, Seq(\"qid\"),") ->
      (1, IvfProbe, "exact top-k over the probed clusters' rows"),
    ("HnswKnn.scala", "graft.plans.GraftOps.topKPerGroup(") ->
      (1, ShardMerge, "filtered HNSW: top-k of the merged shard " +
        "candidates that pass the label semi-join"),
    ("ShardedIndex.scala",
      ".transform(df => graft.plans.GraftOps.topKPerGroup(df, Seq(\"qid\"),") ->
      (1, ShardMerge, "scatter-gather merge of the per-shard top-k lists"),
    ("TwoStage.scala", "graft.plans.GraftOps.topKPerGroup(scored, Seq(\"qid\"),") ->
      (1, CoarseCut, "TwoStage.candidates: k·overfetch by (coarse, vec_id)"),
    ("TwoStage.scala",
      "ExactKnn.rerank(candidates(scored, k, overfetch).select(\"qid\", \"vec_id\"),") ->
      (1, Rerank, "TwoStage.search: exact re-rank of the candidates"),
    ("IndexFiles.scala",
      "val path = IndexCache.checkpoint(spark, family, parts: _*) { p =>") ->
      (1, Checkpoint, "IndexFiles.reloaded: the IVF, IVF-PQ, PQ, OPQ and " +
        "PCA lifecycle"),
    ("ShardedIndex.scala",
      "val path = graft.IndexCache.checkpoint(spark, family, dir, shards)(") ->
      (1, Checkpoint, "ShardedKnn.topKBatchLifecycle: the graph families' " +
        "lifecycle"))

  private def knnSources: Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft/knn")
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    } finally s.close()
  }

  test("every top-k / re-rank site under knn is allowlisted with its " +
      "role, the cut and the re-rank live only in TwoStage, and no " +
      "allowlist entry is stale") {
    val found = scala.collection.mutable.Map
      .empty[(String, String), Int].withDefaultValue(0)
    knnSources.foreach { p =>
      val name = p.getFileName.toString
      java.nio.file.Files.readAllLines(p).forEach { raw =>
        val t = raw.trim
        val comment = t.startsWith("//") || t.startsWith("*")
        if (!comment && (t.contains("topKPerGroup(")
            || t.contains("ExactKnn.rerank(")
            || t.contains("IndexCache.checkpoint(")))
          found((name, t)) += 1
      }
    }
    val extras = found.keys.filterNot(allow.contains).toSeq.sorted
    assert(extras.isEmpty,
      "unlisted top-k / re-rank / checkpoint site(s) — a compressed " +
        "family answers through TwoStage.search and checkpoints through " +
        "IndexFiles.reloaded; anything else needs an entry WITH ITS " +
        "ROLE:\n  " + extras.mkString("\n  "))
    val stale = allow.keys.filterNot(found.contains).toSeq.sorted
    assert(stale.isEmpty, s"stale allowlist entries (code moved on — " +
      s"prune them):\n  ${stale.mkString("\n  ")}")
    val roles = Set(ExactScan, IvfProbe, ShardMerge, CoarseCut, Rerank,
      Checkpoint)
    allow.foreach { case (k @ (file, _), (n, role, reason)) =>
      assert(found(k) == n,
        s"$k: expected $n occurrence(s), found ${found(k)} — a NEW " +
          "site reused an allowlisted line verbatim; audit it")
      assert(roles(role) && reason.nonEmpty)
      if (role == CoarseCut || role == Rerank)
        assert(file == "TwoStage.scala",
          s"$k: the $role belongs to TwoStage.scala only")
      if (role == Checkpoint)
        assert(Set("IndexFiles.scala", "ShardedIndex.scala")(file),
          s"$k: checkpoints are written by IndexFiles.reloaded and the " +
            "shard harness only")
    }
    assert(allow.values.count(_._2 == CoarseCut) == 1 &&
      allow.values.count(_._2 == Rerank) == 1,
      "exactly one coarse cut and one re-rank")
  }
}
