package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.function.{Function => JFunction}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Dataset-scoped build-once/search-many memoization — the vector-db
  * usage pattern (the reference builds each index once and then serves
  * any number of searches against it, `/root/reference/src/main.rs:70-87`;
  * our per-query entry points would otherwise rebuild the HNSW shard
  * graphs / re-train IVF centroids / re-derive the exact ground truth on
  * every call).
  *
  * Two entry points, one key scheme:
  *   - [[persisted]] memoizes a RELATION: the build's DataFrame is
  *     persisted (MEMORY_AND_DISK) and materialized once, and a hit whose
  *     handle was unpersisted (the bench's between-section cache release)
  *     is re-marked for caching, so later readers never silently rebuild.
  *   - [[getOrBuild]] memoizes DRIVER VALUES and INDEX STRUCTURES
  *     (centroids, codebooks, placed shard graphs, staging paths); the
  *     build owns whatever persistence its structure needs.
  *
  * Keys are typed: (owning applicationId, family, parts). The family is
  * the bound-registry name below and parts compare structurally, so a
  * part containing ':' or '+' can neither change the family nor collide
  * with a different split of the same characters. The applicationId
  * keeps a stopped session's dangling persisted datasets from ever being
  * handed to a new one (ScalaTest suites start/stop many sessions per
  * JVM).
  *
  * Scale notes: entries hold either driver-tiny values (centroid
  * matrices) or handles to persisted distributed datasets (shard
  * graphs, assigned tables, ground-truth top-k) — the cache itself never
  * holds row data on the driver. At 100 TB the same role is played by a
  * persisted index TABLE (bucketed parquet of signatures / assignments /
  * serialized shard graphs); this in-JVM map is the session-local
  * equivalent.
  */
object IndexCache {

  /** (applicationId, family, parts). */
  private type Key = (String, String, List[Any])

  private val cache = new ConcurrentHashMap[Key, AnyRef]()
  private val locks = new ConcurrentHashMap[Key, Object]()
  /** appIds that already carry an eviction listener. */
  private val watched = ConcurrentHashMap.newKeySet[String]()

  /** Drop every entry belonging to `appId` — called when its context
    * ends, so a long-lived JVM running many sessions never accumulates
    * dangling handles that pin dead sessions' plans in driver memory.
    */
  private def evict(appId: String): Unit = {
    cache.keySet.removeIf(_._1 == appId)
    locks.keySet.removeIf(_._1 == appId)
    watched.remove(appId)
  }

  /** Memoize `build` under (session, family, parts). The build runs at
    * most once per key; concurrent callers of the same key block until
    * it completes. Builds run OUTSIDE the map's compute function (under
    * a per-key lock) because builds re-enter the cache for other keys
    * (the jaccard-pairs build calls gramHashSets) — nesting inside
    * computeIfAbsent violates the CHM contract and throws "Recursive
    * update" whenever the two keys share a bin.
    */
  def getOrBuild[T <: AnyRef](spark: SparkSession, family: String,
      parts: Any*)(build: => T): T = {
    val appId = spark.sparkContext.applicationId
    if (watched.add(appId)) // evict this app's entries when its context ends
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = evict(appId)
      })
    val key: Key = (appId, family, parts.toList)
    val hit = cache.get(key)
    if (hit != null) return hit.asInstanceOf[T]
    val lock = locks.computeIfAbsent(key, new JFunction[Key, Object] {
      override def apply(k: Key): Object = new Object
    })
    lock.synchronized {
      val again = cache.get(key)
      if (again != null) again.asInstanceOf[T]
      else {
        val built = build
        enforceBound(family, parts, built)
        cache.put(key, built)
        built
      }
    }
  }

  /** Memoize a relation: on a miss, persist `build` MEMORY_AND_DISK and
    * materialize it; on a hit, run no job and re-mark the handle for
    * caching if a release unpersisted it (the re-cache then happens
    * lazily inside the next reader's job). Materializing scans every
    * partition once: fetching a partition's iterator builds and stores
    * its cached block, so a shuffle-free build costs exactly one job
    * (a `count()` adds an aggregation exchange — a second job under
    * AQE).
    */
  def persisted[T](spark: SparkSession, family: String, parts: Any*)(
      build: => Dataset[T]): Dataset[T] = {
    val ds = getOrBuild(spark, family, parts: _*) {
      val d = build.persist(StorageLevel.MEMORY_AND_DISK)
      d.foreachPartition((_: Iterator[T]) => ())
      d
    }
    if (ds.storageLevel == StorageLevel.NONE)
      ds.persist(StorageLevel.MEMORY_AND_DISK)
    ds
  }

  /** Write an index checkpoint once per (session, family, parts) and
    * return its path, a fresh `graft-<family>-lifecycle-*` directory
    * under `java.io.tmpdir` that is deleted at JVM exit. The path is
    * memoized under `<family>-ckpt`, so later callers only read it: the
    * save is index publication, never part of a search.
    */
  def checkpoint(spark: SparkSession, family: String, parts: Any*)(
      save: String => Unit): String =
    getOrBuild(spark, s"$family-ckpt", parts: _*) {
      val path = graft.streaming.OneShot.tempDir(s"graft-$family-lifecycle-")
      save(path)
      path
    }

  /** Drop all entries (tests). Persisted datasets are left to Spark's
    * ContextCleaner / session stop.
    */
  def clear(): Unit = { cache.clear(); locks.clear() }

  /** Destroy and evict this session's BROADCAST-valued entries (bare,
    * or a cutover memo's `Some`) — the bench's between-section release:
    * broadcast blocks survive `catalog.clearCache()` + RDD unpersists.
    * A later getOrBuild on the key rebuilds, but a persisted memo whose
    * lineage captured a memoized broadcast would fail on recompute, so
    * memos hold driver values and their readers broadcast per build.
    * Dataset handles / scalars / path memos / driver maps stay.
    */
  def releaseBroadcasts(spark: SparkSession): Unit = {
    val appId = spark.sparkContext.applicationId
    import scala.jdk.CollectionConverters._
    cache.asScala.foreach { case (k, v) =>
      if (k._1 == appId) v match {
        case b: org.apache.spark.broadcast.Broadcast[_] =>
          cache.remove(k); b.destroy()
        case Some(b: org.apache.spark.broadcast.Broadcast[_]) =>
          cache.remove(k); b.destroy()
        case _ => ()
      }
    }
  }

  // ---------------------------------------------------------------------
  // Driver-artifact bound enforcement
  //
  // Every entry this cache holds is either a handle to a DISTRIBUTED
  // dataset (counts 0 below) or a DRIVER-SIDE structure (centroids,
  // codebooks, capped df maps, neighbor lists, trained weights). The
  // registry names the bound each driver artifact is designed to —
  // enforced AT BUILD TIME, so "bounded by construction" is an
  // executable guarantee, not a comment: a build whose key has no
  // registered bound, or whose leaf-element count exceeds it, throws.
  // BoundAuditSweepSpec sweeps the whole declared surface against this.
  // ---------------------------------------------------------------------

  /** Max driver-held LEAF elements per key family, each with the
    * build-site origin of its bound. Bounds are deliberately ~10x the
    * sf0.1 measurement — headroom for bigger SFs of the artifact's own
    * O(1)/catalog-bounded growth, tight enough that corpus-proportional
    * growth (the failure mode this guards) trips immediately. The
    * cutover entries bound [[graft.plans.GraftOps.driverOr]] probes.
    */
  private[graft] val driverArtifactBounds: Map[String, (String, Long)] = Map(
    // --- handles to persisted distributed datasets (+ O(1) scalars) ---
    "hnsw" -> ("shards int + placed RDD[(Int, HnswIndex)] handle", 8L),
    "vamana" -> ("shards int + placed RDD[(Int, VamanaIndex)] handle", 8L),
    "vamana-ins" -> ("shards int + grown placed RDD handle", 8L),
    "split" -> ("persisted base split handle + queries handle + 2 longs", 8L),
    "exact-topk" -> ("persisted ground-truth DataFrame handle", 8L),
    "exact-topk-sampled" -> ("persisted sampled ground-truth handle", 8L),
    "self-topk" -> ("persisted self-top-k DataFrame handle", 8L),
    "gram-sets" -> ("persisted gram-set DataFrame handle", 8L),
    "gram-hash-sets" -> ("persisted hashed-gram DataFrame handle", 8L),
    "jaccard-pairs" -> ("persisted PPJoin pair DataFrame handle", 8L),
    "containment-pairs" -> ("persisted containment pair handle", 8L),
    "clusters" -> ("persisted dedup-cluster DataFrame handle", 8L),
    "mutual-knn-clusters" -> ("persisted mutual-kNN cluster handle", 8L),
    "hybrid-rrf" -> ("persisted <=2*depth-row fused ranking handle", 8L),
    "norm-emb" -> ("persisted normalized-embedding handle", 8L),
    "norm-emb-planted" -> ("persisted planted variant handle", 8L),
    "winnow-fp" -> ("persisted fingerprint DataFrame handle", 8L),
    "winnow-pairs" -> ("persisted winnowing pair handle", 8L),
    "minhash-pairs" -> ("persisted verified MinHash pair handle", 8L),
    "tokens" -> ("persisted token DataFrame handle", 8L),
    "bpe-table" -> ("persisted BPE-encode DataFrame handle", 8L),
    "cust-part-pairs" -> ("persisted incidence DataFrame handle", 8L),
    "copurchase-counts" -> ("persisted pair-count DataFrame handle", 8L),
    "copurchase-itempairs" -> ("persisted item-pair DataFrame handle", 8L),
    "copurchase" -> ("persisted edge DataFrame handle", 8L),
    "item-nbr-df" -> ("persisted capped neighbor-list DataFrame", 8L),
    "graph-bipartite-trans" -> ("persisted transition DataFrame handle", 8L),
    "graph-deg" -> ("persisted node-degree DataFrame handle", 8L),
    "graph-tri" -> ("persisted triangle DataFrame handle", 8L),
    "graph-oriented" -> ("persisted degree-oriented edge handle", 8L),
    "graph-labels" -> ("persisted LPA community DataFrame handle", 8L),
    "graph-sssp-adj" -> ("persisted weighted adjacency handle", 8L),
    "graph-ppr-seed" -> ("persisted seeded-walk DataFrame handle", 8L),
    "lr-feats" -> ("persisted feature DataFrame handle", 8L),
    "lr-rows" -> ("persisted training-row DataFrame handle", 8L),
    "e2e-manifest" -> ("persisted curation-manifest handle", 8L),
    "batch-result" -> ("persisted declared-query result handle", 8L),
    "layout-env" -> ("persisted |files|-row envelope handle", 8L),
    "copurchase-bidir" -> ("persisted bidirectional-edge handle", 8L),
    "fuzzy-keyed" -> ("persisted deletion-keyed vocab handle", 8L),
    "fuzzy-pairs" -> ("persisted verified ed-join pair handle", 8L),
    "fuzzy-labels" -> ("persisted vocab-bounded label-dictionary handle", 8L),
    "hnsw-reloaded" -> ("shards int + reloaded placed RDD handle", 8L),
    "vamana-reloaded" -> ("shards int + reloaded placed RDD handle", 8L),
    "ivf-del" -> ("persisted shrunken inverted-file handle", 8L),
    "pca" -> ("persisted projected-base handle", 8L),
    "mrl" -> ("persisted coarse-prefix handle", 8L),
    "bq" -> ("persisted packed-code handle", 8L),
    "bq-wide" -> ("persisted wide packed-code handle", 8L),
    // --- paths / names (O(1) strings) ---
    // IndexCache.checkpoint memoizes only the path it wrote
    "hnsw-ckpt" -> ("checkpoint path string", 4L),
    "vamana-ckpt" -> ("checkpoint path string", 4L),
    "ivf-ckpt" -> ("checkpoint path string", 4L),
    "ivfpq-ckpt" -> ("checkpoint path string", 4L),
    "pq-ckpt" -> ("checkpoint path string", 4L),
    "opq-ckpt" -> ("checkpoint path string", 4L),
    "pca-ckpt" -> ("checkpoint path string", 4L),
    "ndjson-fixture" -> ("tempfile path string", 4L),
    "documents-stream-dir" -> ("staging dir path string", 4L),
    "embeddings-stream-dir" -> ("staging dir path string", 4L),
    "events-stream-dir" -> ("staging dir path string", 4L),
    "events-stream-dup-dir" -> ("staging dir path string", 4L),
    "events-stream-outer-dir" -> ("staging dir path string", 4L),
    "events-stream-sessions-dir" -> ("staging dir path string", 4L),
    "buckets" -> ("two bucketed-table name strings", 4L),
    "dpp_orders" -> ("partitioned-layout path string", 4L),
    "layout-reader" -> ("resolved partitioned-layout DataFrame handle " +
      "(manifest-style file-index reuse; no row data)", 8L),
    "zorder-part" -> ("z-tile-partitioned layout path string", 4L),
    "hilbert-part" -> ("hilbert-tile-partitioned layout path string", 4L),
    "orders-cdc-dir" -> ("staged changelog dir path string", 4L),
    "orders-cdc-base" -> ("base state snapshot path string", 4L),
    "orders-cdc-applied" -> ("applied-state (root, base) path strings", 4L),
    "orders-cdc-ivm-base" -> ("initial view-state dir path string", 4L),
    "orders-cdc-chain" -> ("deterministic version-chain (root, base) path strings", 4L),
    "orders-cdc-mor" -> ("merge-on-read (base, deletes, inserts) path strings", 4L),
    "orders-mor-chain" -> ("MOR version-chain (base, root) path strings", 4L),
    "orders-cdc-expired" -> ("expired-chain (root, base) paths + count", 4L),
    "orders-mor-minor" -> ("minor-compacted layout paths + 2 dir counts", 8L),
    "orders-mor-compacted" -> ("major-compacted snapshot path string", 4L),
    "orders-evolved" -> ("two-generation schema-evolution dir path string", 4L),
    // --- genuinely driver-side artifacts, each with its design bound ---
    "ivf" -> ("nCentroids x dim doubles (KMEANS_CENTROIDS cap) + " +
      "inverted-file handle", 1000000L),
    "ivf-ins" -> ("nCentroids x dim doubles + grown inverted-file handle",
      1000000L),
    "ivfpq" -> ("coarse centroids + m x ksub x dsub codebooks", 2000000L),
    "pq" -> ("m x ksub x dsub codebook doubles", 1000000L),
    // IndexFiles.reloaded: the checkpoint's model plus its parquet
    // table handle, read through (never persisted)
    "ivf-reloaded" -> ("reloaded centroid doubles + parquet handle", 1000000L),
    "pq-reloaded" -> ("reloaded codebook doubles + parquet handle", 1000000L),
    "ivfpq-reloaded" -> ("reloaded centroids + codebooks + parquet handle",
      2000000L),
    "opq-reloaded" -> ("reloaded rotation + codebooks + parquet handle",
      2000000L),
    "pca-reloaded" -> ("reloaded basis doubles + parquet handle", 1000000L),
    "semdedup-cents" -> ("k x dim SemDeDup centroid doubles", 1000000L),
    "anchor-flat" -> ("~AnchorTarget x dim anchor-panel doubles " +
      "(count-derived stride, corpus-independent)", 1000000L),
    // ORACLE-BASELINE EXEMPTION — the ONE deliberately
    // corpus-proportional artifact: the exact near-dup yardstick's
    // whole-corpus flat matrix (n x dim doubles + n ids), envelope-
    // identical to the BroadcastExchange a broadcast-NLJ would stage.
    // Every scale consumer is cutover-gated to the LSH leg
    // (dbscan-exact-rows; the LSH twin rows); the bound is sized to
    // the sf10 audit tier (200k x 64 ≈ 13M leaves) so running the
    // O(n²) baseline past the measured tiers trips the audit instead
    // of silently ballooning the driver.
    "neardup-oracle-corpus" -> ("whole-corpus n x dim flat matrix " +
      "(oracle-baseline exemption, cutover-gated consumers)", 32000000L),
    "opq" -> ("rotation dim^2 + codebook doubles", 2000000L),
    "opq-rot" -> ("dim x dim rotation doubles", 1000000L),
    "pca-basis" -> ("dim x outDim basis + dim means", 1000000L),
    "rp" -> ("persisted projected-base handle (matrix is re-derived)", 8L),
    "sq" -> ("2 x dim quantile bounds", 100000L),
    "kmeans-cents" -> ("k x dim centroid doubles", 1000000L),
    "kmeans-quant" -> ("persisted quantized-vector handle", 8L),
    "rocchio-cents" -> ("|labels| x dim centroid doubles", 1000000L),
    "lr-weights" -> ("|features|+1 trained weights", 10000L),
    "langid-profiles" -> ("|langs| x top-gram profile entries", 100000L),
    "nb-model" -> ("two persisted model DataFrame handles", 8L),
    "unigram-vocab" -> ("capped unigram-LM vocab entries", 1000000L),
    "bpe-merges" -> ("nMerges merge-rule entries", 100000L),
    "gram-topfreq" -> ("TopFreqGrams (64k) df-map entries", 200000L),
    // --- driver-or-distributed cutovers (GraftOps.driverOr) ---
    "item-nbr-bc" -> ("4M capped CF (p, rec, n) rows x 3 leaves, a few " +
      "hundred MB of driver map; co-partitioned serving past it", 12000000L),
    "driver-edges" -> ("10M (Long, Long) edges = 160 MB for the driver " +
      "union-find / k-core peel; distributed legs past it", 10000000L),
    "lsh-verify-flat" -> ("rows x dim doubles = 256 MB of LSH verification " +
      "broadcast; distributed join leg past it", 32000000L),
    "dbscan-exact-rows" -> ("vectors the O(n^2) exact dbscan pairing scans " +
      "(sf0.01/0.1 panels); LSH banding leg past it", 4000L),
    "bpe-word-counts" -> ("distinct words the driver BPE trainer holds " +
      "(vocabulary-sized); distributed merge loop past it", 1000000L))

  /** Leaf-element count of a cached value: Dataset handles are
    * distributed (0), strings/scalars O(1), collections and case
    * classes recurse. Unknown leaf types count 1 — the registry bound
    * still has to exist for the family, which is the audit's point.
    */
  private[graft] def leafCount(v: Any): Long = v match {
    case null => 0L
    case _: org.apache.spark.sql.Dataset[_] => 0L
    case b: org.apache.spark.broadcast.Broadcast[_] => leafCount(b.value)
    case a: Array[_] =>
      if (a.getClass.getComponentType.isPrimitive) a.length.toLong
      else a.foldLeft(0L)((acc, e) => acc + leafCount(e))
    case m: scala.collection.Map[_, _] =>
      m.foldLeft(0L) { case (acc, (k, vv)) =>
        acc + leafCount(k) + leafCount(vv) }
    case it: Iterable[_] => it.foldLeft(0L)((acc, e) => acc + leafCount(e))
    case p: Product => p.productIterator.foldLeft(0L)(_ + leafCount(_))
    case _ => 1L
  }

  /** Audit log of enforced builds: (key, family, measured, bound). */
  private val audited =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String, Long, Long)]())

  private def enforceBound(family: String, parts: Seq[Any],
      built: AnyRef): Unit = {
    val key = (family +: parts).mkString(":")
    val (boundName, bound) = driverArtifactBounds.getOrElse(family,
      throw new IllegalStateException(
        s"IndexCache build '$key': family '$family' has no registered " +
          "driver-artifact bound — add it to " +
          "IndexCache.driverArtifactBounds with its design bound"))
    val measured = leafCount(built)
    if (measured > bound)
      throw new IllegalStateException(
        s"IndexCache build '$key' holds $measured driver-side leaf " +
          s"elements, over its registered bound $bound ($boundName) — " +
          "the artifact is growing with the corpus, not its design bound")
    audited.add((key, family, measured, bound))
  }

  /** Log a [[graft.plans.GraftOps.driverOr]] decision: its probe rows
    * and row bound, keyed `driverOr:<family>:<leg>`.
    */
  private[graft] def recordLeg(family: String, leg: String, rows: Long,
      bound: Long): Unit = audited.add((s"driverOr:$family:$leg", family, rows, bound))

  /** Snapshot of every bound-enforced build and cutover decision so
    * far (tests).
    */
  private[graft] def auditLog: Seq[(String, String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    audited.synchronized { audited.asScala.toList }
  }
}
