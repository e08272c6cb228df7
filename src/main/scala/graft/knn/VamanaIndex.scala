package graft.knn

import scala.collection.mutable.{ArrayBuffer, PriorityQueue}

import ShardGraph.{byDistAsc, dist, l2}

/** In-memory Vamana graph index — the DiskANN family's flat navigable
  * graph (Subramanya et al., "DiskANN: Fast Accurate Billion-point
  * Nearest Neighbor Search on a Single Node", NeurIPS 2019), built
  * fresh from the paper: GreedySearch (Alg 1), RobustPrune (Alg 2),
  * and the two-pass incremental build (Alg 3, first pass α = 1, second
  * pass α > 1). Where HNSW layers a hierarchy, Vamana keeps ONE flat
  * degree-bounded graph whose α-pruned long edges provide the highway;
  * that flatness is what makes the family the production disk-resident
  * choice (one adjacency array per node, no layer indirection).
  *
  * Determinism: points insert in caller order (sharded entry points
  * sort by vec_id), all orderings are (distance, node) with
  * `Double.TotalOrdering`, and the start node is the point closest to
  * the running mean (O(n), the scalable medoid stand-in; an exact
  * medoid is O(n²)). No RNG anywhere — identical builds bit-equal.
  *
  * The metric is the engine-wide clamped cosine distance in [0, 1],
  * matching [[HnswIndex]]. One instance indexes one Spark partition
  * (see [[VamanaKnn]]) and is built, extended and searched where it
  * lives; graphs are serialized only by [[ShardedKnn.saveIndex]] and by
  * the disk tier of the cache.
  */
@SerialVersionUID(1L) // pinned: saveIndex checkpoints java-serialized graphs
final class VamanaIndex(
    /** Max out-degree R. */
    val r: Int = 32,
    /** Build beam width L (candidate list size). */
    val lBuild: Int = 64,
    /** Diversity slack for the second build pass. */
    val alpha: Double = 1.2)
    extends ShardGraph[VamanaIndex] {

  private val ids = ArrayBuffer.empty[Long]
  private val vecs = ArrayBuffer.empty[Array[Double]]
  private val norms = ArrayBuffer.empty[Double]
  private val nbrs = ArrayBuffer.empty[ArrayBuffer[Int]]
  private var start: Int = -1

  def size: Int = ids.length

  /** (nodes, edges, start id) for the operational stats surface. */
  def stats: (Int, Long, Long) =
    (ids.length, nbrs.iterator.map(_.length.toLong).sum,
      if (start < 0) -1L else ids(start))

  private def distBetween(x: Int, y: Int): Double =
    dist(vecs(x), norms(x), vecs(y), norms(y))

  private def distTo(q: Array[Double], nq: Double, node: Int): Double =
    dist(q, nq, vecs(node), norms(node))

  /** Alg 1 GreedySearch from `start`: best-first with list size `l`.
    * Returns (beam ascending by (dist, node), visited nodes with their
    * distances) — the visited set feeds RobustPrune during build.
    */
  private def greedySearch(q: Array[Double], nq: Double, l: Int)
      : (ArrayBuffer[(Double, Int)], ArrayBuffer[(Double, Int)]) = {
    val visited = new java.util.BitSet(size)
    val visitedList = ArrayBuffer.empty[(Double, Int)]
    val cand = PriorityQueue.empty[(Double, Int)](byDistAsc.reverse)
    val beam = PriorityQueue.empty[(Double, Int)](byDistAsc)
    val d0 = distTo(q, nq, start)
    visited.set(start); visitedList += ((d0, start))
    cand.enqueue((d0, start)); beam.enqueue((d0, start))
    var done = false
    while (cand.nonEmpty && !done) {
      val (dc, c) = cand.dequeue()
      if (dc > beam.head._1 && beam.size >= l) done = true
      else {
        val ns = nbrs(c)
        var i = 0
        while (i < ns.length) {
          val e = ns(i)
          if (!visited.get(e)) {
            visited.set(e)
            val d = distTo(q, nq, e)
            visitedList += ((d, e))
            if (beam.size < l || d < beam.head._1) {
              cand.enqueue((d, e)); beam.enqueue((d, e))
              if (beam.size > l) beam.dequeue()
            }
          }
          i += 1
        }
      }
    }
    val out = ArrayBuffer.from(beam)
    out.sortInPlace()(byDistAsc)
    (out, visitedList)
  }

  /** Alg 2 RobustPrune: from candidate set `v` (distances to `p`),
    * keep at most `r` α-diverse out-neighbors of `p`: each kept p*
    * removes every remaining p' with α·d(p*, p') ≤ d(p, p') — the
    * occlusion rule whose α > 1 keeps long-range edges alive.
    */
  private def robustPrune(p: Int, v: ArrayBuffer[(Double, Int)],
      a: Double): ArrayBuffer[Int] = {
    val pool = v.filter(_._2 != p).distinctBy(_._2)
    pool.sortInPlace()(byDistAsc)
    val res = ArrayBuffer.empty[Int]
    val dead = new java.util.BitSet(size)
    var i = 0
    while (i < pool.length && res.length < r) {
      val (dp, pStar) = pool(i)
      if (!dead.get(pStar)) {
        res += pStar
        var j = i + 1
        while (j < pool.length) {
          val (dpj, pj) = pool(j)
          if (!dead.get(pj) && a * distBetween(pStar, pj) <= dpj)
            dead.set(pj)
          j += 1
        }
      }
      i += 1
    }
    res
  }

  /** Insert one point with the Alg 3 step: greedy-search its location,
    * α-prune the visited set into its out-list, back-link and prune
    * overfull neighbors. Usable both during [[build]] and for later
    * incremental inserts (same code path).
    */
  def insert(id: Long, v: Array[Double], a: Double): Unit = {
    val node = ids.length
    ids += id; vecs += v; norms += l2(v); nbrs += ArrayBuffer.empty[Int]
    if (start < 0) { start = node; return }
    val (_, visited) = greedySearch(v, norms(node), lBuild)
    nbrs(node) = robustPrune(node, visited, a)
    nbrs(node).foreach { y =>
      val yn = nbrs(y)
      if (!yn.contains(node)) {
        yn += node
        if (yn.length > r) {
          val scored = yn.map(x => (distBetween(y, x), x))
          nbrs(y) = robustPrune(y, scored, a)
        }
      }
    }
  }

  def insert(id: Long, v: Array[Double]): Unit = insert(id, v, alpha)

  def insertAll(points: Iterator[(Long, Array[Double])]): this.type = {
    points.foreach { case (id, v) => insert(id, v) }
    this
  }

  /** A deep copy of every adjacency list: inserting into the copy grows
    * the graph this instance would have grown, and leaves this instance
    * as it was. Vectors are shared; nothing mutates them.
    */
  def copy(): VamanaIndex = {
    val c = new VamanaIndex(r, lBuild, alpha)
    c.ids ++= ids; c.vecs ++= vecs; c.norms ++= norms
    c.nbrs ++= nbrs.map(_.clone())
    c.start = start
    c
  }

  /** Two-pass build (Alg 3): insert everything at α = 1 (pure nearest
    * pruning), then re-prune every node's neighborhood at α — the
    * paper's refinement pass that plants the long-range highway edges.
    * After both passes the start point is re-anchored to the point
    * closest to the dataset mean.
    */
  override def build(points: Iterator[(Long, Array[Double])]): this.type = {
    points.foreach { case (id, v) => insert(id, v, 1.0) }
    if (size == 0) return this
    // re-anchor the entry to the point nearest the mean (O(n))
    val dim = vecs(0).length
    val mean = new Array[Double](dim)
    vecs.foreach { v =>
      var i = 0; while (i < dim) { mean(i) += v(i); i += 1 }
    }
    var i = 0
    while (i < dim) { mean(i) /= size; i += 1 }
    val nm = l2(mean)
    var best = 0
    var bestD = Double.MaxValue
    i = 0
    while (i < size) {
      val d = distTo(mean, nm, i)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    start = best
    // refinement pass: re-search + α-prune each node in insert order
    var n = 0
    while (n < size) {
      val (_, visited) = greedySearch(vecs(n), norms(n), lBuild)
      visited ++= nbrs(n).map(x => (distBetween(n, x), x))
      nbrs(n) = robustPrune(n, visited, alpha)
      nbrs(n).foreach { y =>
        val yn = nbrs(y)
        if (!yn.contains(n)) {
          yn += n
          if (yn.length > r) {
            val scored = yn.map(x => (distBetween(y, x), x))
            nbrs(y) = robustPrune(y, scored, alpha)
          }
        }
      }
      n += 1
    }
    this
  }

  /** k-NN search: GreedySearch with list size max(ef, k), truncated to
    * k rows ascending by (distance, insertion order).
    */
  def search(q: Array[Double], k: Int, ef: Int = 100): Array[(Long, Double)] = {
    if (start < 0) return Array.empty
    val (beam, _) = greedySearch(q, l2(q), math.max(ef, k))
    beam.take(k).map { case (d, n) => (ids(n), d) }.toArray
  }
}
