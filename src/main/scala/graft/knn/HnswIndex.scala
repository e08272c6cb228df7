package graft.knn

import scala.collection.mutable.{ArrayBuffer, PriorityQueue}

import ShardGraph.{byDistAsc, dist, l2}

/** In-memory HNSW (Hierarchical Navigable Small World) approximate
  * nearest-neighbor index — a fresh Scala implementation of Algorithms 1,
  * 2, 3 and 5 of the HNSW paper (Malkov & Yashunin, arXiv:1603.09320),
  * matching the reference's capability (`/root/reference/src/hnsw.rs`)
  * with its hyperparameter defaults (`src/hnsw.rs:45-50`: M=16, M_max=32,
  * ef_construction=200, mL=1/ln 4, 4 layers).
  *
  * Deliberate departures from the reference (capability, not bug parity —
  * SURVEY.md §2.9 note):
  *   - the entry point is promoted when a node samples a higher layer
  *     (the paper's behavior; the reference pins node 0 forever,
  *     `src/hnsw.rs:17,121`);
  *   - layer-0 inserts still get connections (the reference's
  *     `(0..L.min(l))` loop leaves ~75% of nodes unconnected,
  *     `src/hnsw.rs:147`);
  *   - the RNG is seeded for reproducibility (the reference uses
  *     `thread_rng`, `src/hnsw.rs:92`);
  *   - beams are bounded heaps with (distance, node) ordering instead of
  *     repeated linear argmin scans (`src/hnsw.rs:65-105`), and distances
  *     to a node are computed once per visit, not per comparison.
  *
  * The metric is the engine-wide clamped cosine distance in [0, 1]
  * (`graft.functions.VectorFunctions.distance`). One instance indexes one
  * Spark partition (see [[HnswKnn]]) and is built, extended and searched
  * where it lives; graphs are serialized only by [[ShardedKnn.saveIndex]]
  * and by the disk tier of the cache.
  */
@SerialVersionUID(1L) // pinned: saveIndex checkpoints java-serialized graphs
final class HnswIndex(
    val m: Int = 16,
    val mMax: Int = 32,
    val efConstruction: Int = 200,
    val maxLevel: Int = 4,
    val mL: Double = 1.0 / math.log(4.0),
    seed: Long = 42L,
    /** Opt-in Algorithm 4 (heuristic neighbor selection). Default off =
      * the reference's live behavior (its Alg 4 is commented-out dead
      * code, `src/hnsw.rs:255-301`); on, inserts keep only candidates
      * closer to the new point than to any already-selected neighbor —
      * the paper's diversity pruning for clustered data.
      */
    val heuristic: Boolean = false)
    extends ShardGraph[HnswIndex] {

  private var rng = new java.util.Random(seed)
  private val ids = ArrayBuffer.empty[Long]
  private val vecs = ArrayBuffer.empty[Array[Double]]
  private val norms = ArrayBuffer.empty[Double]
  private val levels = ArrayBuffer.empty[Int]
  /** neighbors(node)(level) — adjacency up to the node's sampled level. */
  private val neighbors = ArrayBuffer.empty[Array[ArrayBuffer[Int]]]
  private var entry: Int = -1

  def size: Int = ids.length

  /** Introspection for the operational stats surface:
    * (nodes, highest assigned level, layer-0 edges, total edges).
    */
  def stats: (Int, Int, Long, Long) = {
    var maxLvl = 0
    var l0 = 0L
    var tot = 0L
    var i = 0
    while (i < neighbors.length) {
      if (levels(i) > maxLvl) maxLvl = levels(i)
      val layers = neighbors(i)
      if (layers.nonEmpty) l0 += layers(0).length
      var l = 0
      while (l < layers.length) { tot += layers(l).length; l += 1 }
      i += 1
    }
    (ids.length, maxLvl, l0, tot)
  }

  private def distTo(q: Array[Double], nq: Double, node: Int): Double =
    dist(q, nq, vecs(node), norms(node))

  /** Algorithm 2: best-first beam search within one layer. Returns up to
    * `ef` nearest nodes, ascending by (distance, node).
    */
  private def searchLayer(q: Array[Double], nq: Double, eps: Iterable[Int],
      ef: Int, level: Int): ArrayBuffer[(Double, Int)] = {
    val visited = new java.util.BitSet(size)
    val cand = PriorityQueue.empty[(Double, Int)](byDistAsc.reverse) // min-heap
    val beam = PriorityQueue.empty[(Double, Int)](byDistAsc)         // max-heap
    eps.foreach { ep =>
      if (!visited.get(ep)) {
        visited.set(ep)
        val d = distTo(q, nq, ep)
        cand.enqueue((d, ep)); beam.enqueue((d, ep))
      }
    }
    var done = false
    while (cand.nonEmpty && !done) {
      val (dc, c) = cand.dequeue()
      if (dc > beam.head._1 && beam.size >= ef) done = true // all beam members closer
      else {
        val nbrs = neighbors(c)(level)
        var i = 0
        while (i < nbrs.length) {
          val e = nbrs(i)
          if (!visited.get(e)) {
            visited.set(e)
            val d = distTo(q, nq, e)
            if (beam.size < ef || d < beam.head._1) {
              cand.enqueue((d, e)); beam.enqueue((d, e))
              if (beam.size > ef) beam.dequeue()
            }
          }
          i += 1
        }
      }
    }
    val out = ArrayBuffer.from(beam)
    out.sortInPlace()(byDistAsc)
    out
  }

  /** Algorithm 3 (simple selection): keep the M closest of a sorted
    * candidate list — candidates arrive ascending from [[searchLayer]].
    */
  private def selectNeighbors(w: ArrayBuffer[(Double, Int)], count: Int): ArrayBuffer[(Double, Int)] =
    w.take(count)

  /** Algorithm 4 (heuristic selection, paper §4): walk the candidates
    * ascending by distance to the query; keep `e` only if it is closer
    * to the query than to every neighbor already kept (so the selected
    * set spreads across directions instead of crowding one cluster),
    * then refill to `count` from the discarded list — the paper's
    * `keepPrunedConnections`, so degree never drops below Alg 3's.
    * The reference ships this commented out (`src/hnsw.rs:255-301`);
    * enabled here via the `heuristic` constructor flag.
    */
  private def selectNeighborsHeuristic(w: ArrayBuffer[(Double, Int)],
      count: Int): ArrayBuffer[(Double, Int)] = {
    val r = ArrayBuffer.empty[(Double, Int)]
    val discarded = ArrayBuffer.empty[(Double, Int)]
    var i = 0
    while (i < w.length && r.length < count) {
      val (dq, e) = w(i)
      val diverse = r.forall { case (_, s) =>
        dq < dist(vecs(e), norms(e), vecs(s), norms(s))
      }
      if (diverse) r += ((dq, e)) else discarded += ((dq, e))
      i += 1
    }
    var j = 0
    while (r.length < count && j < discarded.length) {
      r += discarded(j); j += 1 // discarded is already ascending by dist
    }
    r
  }

  private def select(w: ArrayBuffer[(Double, Int)], count: Int): ArrayBuffer[(Double, Int)] =
    if (heuristic) selectNeighborsHeuristic(w, count) else selectNeighbors(w, count)

  /** Algorithm 1: insert one point. */
  def insert(id: Long, v: Array[Double]): Unit = {
    val node = ids.length
    val u = math.max(rng.nextDouble(), Double.MinPositiveValue) // log(0) guard
    val level = math.min(maxLevel - 1, math.floor(-math.log(u) * mL).toInt)
    ids += id; vecs += v; norms += l2(v); levels += level
    neighbors += Array.fill(level + 1)(ArrayBuffer.empty[Int])
    if (entry < 0) { entry = node; return }

    val nq = norms(node)
    var ep = entry
    var lc = levels(entry)
    while (lc > level) { // greedy descent with beam 1 above the insert level
      ep = searchLayer(v, nq, Seq(ep), 1, lc).head._2
      lc -= 1
    }
    var eps: Iterable[Int] = Seq(ep)
    lc = math.min(levels(entry), level)
    while (lc >= 0) { // connect at each layer the node occupies
      val w = searchLayer(v, nq, eps, efConstruction, lc)
      select(w, m).foreach { case (_, e) =>
        neighbors(node)(lc) += e
        val en = neighbors(e)(lc)
        en += node
        if (en.length > mMax) { // degree prune back to the mMax closest
          val scored = en.map(x => (dist(vecs(e), norms(e), vecs(x), norms(x)), x))
          scored.sortInPlace()(byDistAsc)
          neighbors(e)(lc) = scored.take(mMax).map(_._2)
        }
      }
      eps = w.map(_._2)
      lc -= 1
    }
    if (level > levels(entry)) entry = node
  }

  def insertAll(points: Iterator[(Long, Array[Double])]): this.type = {
    points.foreach { case (id, v) => insert(id, v) }
    this
  }

  /** A deep copy of the adjacency and the RNG state: inserting into the
    * copy grows the graph this instance would have grown, and leaves
    * this instance as it was. Vectors are shared; nothing mutates them.
    */
  def copy(): HnswIndex = {
    val c = new HnswIndex(m, mMax, efConstruction, maxLevel, mL, 0L, heuristic)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(rng); oos.close()
    c.rng = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[java.util.Random]
    c.ids ++= ids; c.vecs ++= vecs; c.norms ++= norms; c.levels ++= levels
    c.neighbors ++= neighbors.map(_.map(_.clone()))
    c.entry = entry
    c
  }

  /** Algorithm 5: k-NN search. Returns (id, distance) ascending by
    * (distance, insertion order), at most k rows.
    */
  def search(q: Array[Double], k: Int, ef: Int = 100): Array[(Long, Double)] = {
    if (entry < 0) return Array.empty
    val nq = l2(q)
    var ep = entry
    var lc = levels(entry)
    while (lc > 0) { // greedy beam-1 descent to layer 1
      ep = searchLayer(q, nq, Seq(ep), 1, lc).head._2
      lc -= 1
    }
    searchLayer(q, nq, Seq(ep), math.max(ef, k), 0)
      .take(k).map { case (d, n) => (ids(n), d) }.toArray
  }
}
