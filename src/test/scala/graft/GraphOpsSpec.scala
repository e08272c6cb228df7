package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.GraphOps

class GraphOpsSpec extends SparkSpec {

  test("pagerank: positive, mass-conserving, deterministic, degree-monotone") {
    val r = GraphOps.pageRank(spark, sf0001).cache()
    val n = r.count()
    assert(n > 0)
    assert(r.filter(col("rank") <= 0.0).count() == 0)
    // bidirectional edges -> no dangling mass; total rank stays 1
    // (modulo the declared 9dp/6dp quantization)
    val total = r.agg(sum(col("rank"))).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-3, s"total=$total")
    // every event_type node aggregates ~150 users' mass; any user node
    // holds a tiny slice — the ranking must reflect that degree gap
    val tmin = r.filter(col("node").startsWith("t:"))
      .agg(min(col("rank"))).head().getDouble(0)
    val umax = r.filter(col("node").startsWith("u:"))
      .agg(max(col("rank"))).head().getDouble(0)
    assert(tmin > umax, s"tmin=$tmin umax=$umax")
    // fixed iteration count + quantized state -> bit-equal reruns
    val again = GraphOps.pageRank(spark, sf0001)
    assert(r.collect().toSet == again.collect().toSet)
  }

  test("pagerank matches a driver-side power iteration exactly") {
    val events = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (s"u:${r.getLong(0)}", s"t:${r.getString(1)}"))
    val w = events.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val edges = w.toSeq.flatMap { case ((u, t), c) => Seq((u, t, c), (t, u, c)) }
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = edges.map(_._1).distinct.sorted
    val nn = nodes.size.toDouble
    var rank = nodes.map(_ -> 1.0 / nn).toMap
    def q(x: Double, dp: Int): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    (1 to 3).foreach { _ =>
      val inflow = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _, c) => rank(s) * (c.toDouble / outW(s)) }.sum).toMap
      rank = nodes.map(v =>
        v -> q((1.0 - 0.85) / nn + 0.85 * inflow.getOrElse(v, 0.0), 9)).toMap
    }
    val expected = rank.view.mapValues(q(_, 6)).toMap
    val got = GraphOps.pageRank(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == expected.keySet)
    // 9dp quantization can land a boundary case 1 ulp apart between the
    // distributed and driver-side fold orders; 2e-8 absorbs that without
    // weakening the exact-arithmetic check
    val off = got.filter { case (k, v) => math.abs(v - expected(k)) > 2e-8 }
    assert(off.isEmpty, s"mismatches: ${off.take(5)}")
  }

  test("triangle census replays a driver-side enumeration") {
    val cp = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byPart = cp.groupBy(_._2).values
    val shared = scala.collection.mutable.Map[(Long, Long), Int]()
    byPart.foreach { g =>
      val cs = g.map(_._1).toSeq.sorted
      for (i <- cs.indices; j <- (i + 1) until cs.size)
        shared((cs(i), cs(j))) = shared.getOrElse((cs(i), cs(j)), 0) + 1
    }
    val edges = shared.filter(_._2 >= 2).keySet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nTri = edges.toSeq.map { case (x, y) =>
      adj.getOrElse(x, Set.empty).count(z =>
        adj.getOrElse(y, Set.empty).contains(z))
    }.sum.toLong
    val row = GraphOps.triangleCensus(spark, sf0001).head()
    assert(row.getLong(0) == edges.size.toLong,
      s"edges ${row.getLong(0)} vs ${edges.size}")
    assert(row.getLong(1) == nTri, s"triangles ${row.getLong(1)} vs $nTri")
  }

  test("shortest paths replay a driver-side BFS exactly") {
    // the declared minShared=4 signal cut (SparkEntry) — the >=2
    // hairball reaches everything in <=2 hops; this cut shows real
    // hop structure, so the spec pins the declared regime
    val edges = GraphOps.copurchaseEdges(spark, sf0001, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val src = edges.map(_._1).min
    val dist = scala.collection.mutable.Map(src -> 0L)
    var frontier = Set(src)
    (1 to 4).foreach { h =>
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(dist(_) = h.toLong)
    }
    val got = GraphOps.shortestPaths(spark, sf0001, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == dist.toMap,
      s"BFS mismatch: ${got.size} nodes vs driver ${dist.size}")
    assert(got(src) == 0L)
  }

  test("weighted SSSP replays driver-side Bellman-Ford and reaches a fixpoint") {
    val cp = graft.Tables.lineitem(spark, sf0001)
      .join(graft.Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val shared = scala.collection.mutable.Map.empty[(Long, Long), Long]
    cp.groupBy(_._2).values.foreach { buyers =>
      val cs = buyers.map(_._1).sorted
      for { i <- cs.indices; j <- i + 1 until cs.length }
        shared((cs(i), cs(j))) = shared.getOrElse((cs(i), cs(j)), 0L) + 1
    }
    val wedges = shared.toSeq.filter(_._2 >= 4).flatMap { case ((u, v), s) =>
      val w = 1000L / s
      Seq((u, v, w), (v, u, w))
    }
    assert(wedges.nonEmpty, "minShared=4 cut must keep edges at sf0.001")
    val adj = wedges.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3))).toMap
    val src = wedges.map(_._1).min
    def relax(d: Map[Long, Long]): Map[Long, Long] = {
      val cand = d.toSeq ++ d.toSeq.flatMap { case (u, du) =>
        adj.getOrElse(u, Seq.empty).map { case (v, w) => v -> (du + w) } }
      cand.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    var dist = Map(src -> 0L)
    (1 to 6).foreach(_ => dist = relax(dist))
    val got = GraphOps.weightedSssp(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == dist, s"SSSP mismatch: ${got.size} vs ${dist.size} nodes")
    assert(got(src) == 0L)
    // 6 rounds is past the fixpoint on the fixture cut: one more full
    // relaxation must change nothing (convergence pinned here, not by
    // the oracle)
    assert(relax(dist) == dist, "not converged at the declared rounds")
    // weights genuinely vary (not a disguised hop count)
    assert(wedges.map(_._3).distinct.length > 1, "degenerate weights")
  }

  test("k-core: synthetic pendant chain peels away over a cascade; fixture unroll is a fixpoint") {
    import spark.implicits._
    // triangle {1,2,3} + pendant chain 3-4-5-6: the 2-core is exactly
    // the triangle, and the chain peels one node per round (6, then 5,
    // then 4) — so the test exercises the CASCADE, not just one round
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val sym = (und ++ und.map(_.swap)).toDF("u", "v")
    val core = GraphOps.kCoreOf(sym, k = 2, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core must be the triangle with in-core degrees, got $core")
    // a too-short unroll must NOT reach the core (cascade is real)
    val short = GraphOps.kCoreOf(sym, k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(short.contains(5L) && !short.contains(6L),
      "one round peels only the chain tip")

    // declared fixture query: non-vacuous, degree invariant, and the
    // declared 10-round unroll is a FIXPOINT (one more round changes
    // nothing) — which is what makes the declared rows the true k-core
    val declared = GraphOps.kCore(spark, sf0001).cache()
    assert(declared.count() > 0)
    assert(declared.filter(col("deg") < 2).count() == 0)
    val oneMore = GraphOps.kCore(spark, sf0001, rounds = 11)
    assert(declared.exceptAll(oneMore).count() == 0 &&
      oneMore.exceptAll(declared).count() == 0,
      "declared unroll must already be a fixpoint")

    // the sub-cutover driver leg and the distributed loop must agree
    // exactly (same fixed unroll, same early exit) — the cutover is a
    // constant-factor dispatch, never a semantic fork
    val adj = GraphOps.bidirAdjacency(spark, sf0001, 3)
    val dist = GraphOps.kCoreDistributed(adj, 2, 10)
    val drv = GraphOps.kCoreDriver(spark, adj.select(col("u").cast("long"),
      col("v").cast("long")).as[(Long, Long)].collect(), 2, 10)
    assert(dist.exceptAll(drv).count() == 0 && drv.exceptAll(dist).count() == 0,
      "driver and distributed k-core legs diverged")
  }

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("star-contraction components equal a driver union-find on the fixture") {
    val edges = GraphOps.copurchaseEdges(spark, sf0001, minShared = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assume(edges.nonEmpty)
    val expect = unionFind(edges)
    val got = GraphOps.componentsStarContraction(spark, sf0001, minShared = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expect,
      s"components diverge: got ${got.size} labeled, expect ${expect.size}")
  }

  test("label propagation equals a driver-side synchronous replay") {
    val edges = GraphOps.copurchaseEdges(spark, sf0001, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assume(edges.nonEmpty)
    val sym = edges ++ edges.map(_.swap)
    val nbrs = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = nbrs.keys.map(n => n -> n).toMap
    (1 to 3).foreach { _ =>
      lbl = nbrs.map { case (n, ns) =>
        val counts = ns.groupBy(lbl).view.mapValues(_.size)
        // mode of neighbor labels, ties to the smallest label
        n -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    val got = GraphOps.labelPropagation(spark, sf0001, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == lbl, s"LPA diverges on ${got.count { case (k, v) => lbl(k) != v }} nodes")
    // sf0.001's slice is dense enough that 3 rounds can collapse to one
    // community — the non-degenerate mix is pinned by the sf0.01 oracle
    // (23 communities); here only labels-are-community-members matters
    assert(got.values.toSet.subsetOf(got.keySet))
  }

  test("modularity replays a driver-side Newman Q over the LPA labels") {
    val edges = GraphOps.copurchaseEdges(spark, sf0001, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assume(edges.nonEmpty)
    val labels = GraphOps.labelPropagation(spark, sf0001, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val m = edges.size.toLong
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = labels.groupBy(_._2).map { case (c, members) =>
      val nodes = members.keySet
      val eIn = edges.count(e => labels(e._1) == c && labels(e._2) == c).toLong
      val dSum = nodes.iterator.map(deg).sum
      val qMicro = BigDecimal( // HALF_UP like Spark's round(col, 0)
        (4L * m * eIn - dSum * dSum) * 1000000.0 / (4.0 * m * m))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      c -> (nodes.size.toLong, eIn, dSum, qMicro)
    }
    val got = GraphOps.modularity(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expect, s"modularity rows diverge")
    // structural identities: degrees sum to 2m across communities, and
    // every inner edge is counted in exactly one community
    assert(got.values.map(_._3).sum == 2 * m)
    assert(got.values.map(_._2).sum <= m)
    // total Q is a proper modularity (within per-community round slack)
    val q = got.values.map(_._4).sum / 1e6
    assert(q >= -0.5 && q <= 1.0, s"Q=$q out of range")
  }

  test("link prediction replays a driver-side Adamic-Adar exactly") {
    val edges = GraphOps.copurchaseEdges(spark, sf0001, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assume(edges.nonEmpty)
    val sym = edges ++ edges.map(_.swap)
    val nbrs = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val aa = nbrs.view.mapValues(ns =>
      math.round(1e9 / math.log(ns.size.toDouble))).toMap
    val edgeSet = edges.toSet
    val expect = (for {
      (z, ns) <- nbrs.toSeq
      u <- ns; w <- ns if u < w
    } yield ((u, w), z)).groupBy(_._1)
      .collect { case ((u, w), zs) if !edgeSet((u, w)) =>
        (u, w, zs.size.toLong, zs.map(t => aa(t._2)).sum)
      }.toSeq
      .sortBy { case (u, w, _, micro) => (-micro, u, w) }.take(20)
    val got = GraphOps.linkPrediction(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
    // predicted pairs are genuinely non-adjacent
    got.foreach { case (u, w, _, _) => assert(!edgeSet((u, w))) }
  }

  test("star contraction handles a path graph (the diameter-killer) " +
      "and disjoint shapes") {
    import spark.implicits._
    // 40-node path (diameter 39: min-label propagation would need 39
    // rounds; star contraction converges in O(log n)), a triangle, a
    // star, an isolated edge, a duplicate edge and a self-loop — run
    // through both legs of the component labeler
    val path = (1L until 40L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val star = Seq((200L, 201L), (200L, 202L), (200L, 203L))
    val iso = Seq((300L, 301L))
    val dupAndLoop = Seq((101L, 100L), (400L, 400L))
    val all = path ++ tri ++ star ++ iso ++ dupAndLoop
    val edges = all.toDF("u", "v")
    val expect = unionFind(all)
    def labels(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val driver = labels(GraphOps.componentsDriver(spark, all.toArray, None))
    val distributed = labels(GraphOps.componentsDistributed(edges, None))
    assert(driver == expect, "driver leg")
    assert(distributed == expect, "star-contraction leg")
    assert(expect(40L) == 1L && expect(102L) == 100L &&
      expect(203L) == 200L && expect(301L) == 300L && expect(400L) == 400L)
    // with a universe: every id labeled, an id with no edge by itself
    val universe = (all.flatMap(e => Seq(e._1, e._2)) :+ 500L).distinct
      .toDF("id")
    val withU = expect + (500L -> 500L)
    assert(labels(GraphOps.componentsDriver(spark, all.toArray, Some(universe)))
      == withU)
    assert(labels(GraphOps.componentsDistributed(edges, Some(universe))) == withU)
  }

  test("basket completion replays a driver-side item-item CF exactly") {
    val cp = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val baskets = cp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    baskets.values.foreach { b =>
      val s = b.toSeq.sorted
      for (i <- s.indices; j <- i + 1 until s.length)
        pairCnt((s(i), s(j))) += 1
    }
    val ip = pairCnt.filter(_._2 >= 2)
    val sym = ip.toSeq.flatMap { case ((a, b), n) => Seq((a, b, n), (b, a, n)) }
    // the truncated-neighbor-list cap: 20 strongest per item
    val nbr = sym.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, rec, n) => (-n, rec) }.take(20)).toMap
    val expect = baskets.flatMap { case (c, owned) =>
      val scores = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      owned.foreach(p => nbr.getOrElse(p, Seq.empty)
        .foreach { case (_, rec, n) => if (!owned(rec)) scores(rec) += n })
      scores.toSeq.sortBy { case (rec, s) => (-s, rec) }.take(5)
        .zipWithIndex.map { case ((rec, s), i) => (c, rec, s, i + 1) }
    }.toSet
    val got = GraphOps.basketCompletion(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == expect, s"got ${got.size} vs expect ${expect.size}")
    assert(got.nonEmpty)
  }

  test("basket completion: the past-cutover distributed leg equals the broadcast leg") {
    // the item-nbr-bc fallback must be semantically
    // invisible — same rows, same scores, same tie-broken ranks
    val bcLeg = GraphOps.basketCompletion(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val distLeg = GraphOps.basketCompletionDistributed(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(bcLeg == distLeg,
      s"legs diverge: bc=${bcLeg.size} dist=${distLeg.size}")
    assert(bcLeg.nonEmpty)
  }

  test("item similarity replays a driver-side cosine ranking exactly") {
    val cp = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pop = cp.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    cp.groupBy(_._1).values.foreach { rows =>
      val s = rows.map(_._2).distinct.sorted
      for (i <- s.indices; j <- i + 1 until s.length)
        pairCnt((s(i), s(j))) += 1
    }
    val sym = pairCnt.filter(_._2 >= 2).toSeq
      .flatMap { case ((a, b), n) => Seq((a, b, n), (b, a, n)) }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = sym.groupBy(_._1).flatMap { case (p, rows) =>
      rows.map { case (_, rec, n) =>
        (rec, n, r6(n / math.sqrt((pop(p) * pop(rec)).toDouble))) }
        .sortBy { case (rec, _, cos) => (-cos, rec) }.take(10)
        .zipWithIndex
        .map { case ((rec, n, cos), i) => (p, rec, n, cos, i + 1) }
    }.toSet
    val got = GraphOps.itemSimilarity(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    assert(got == expect, s"got ${got.size} vs expect ${expect.size}")
    assert(got.nonEmpty)
    got.foreach { case (_, _, _, cos, _) =>
      assert(cos > 0.0 && cos <= 1.0, s"cosine out of range: $cos") }
  }

  test("degree distribution: buckets cover all nodes, permille sums to ~1000") {
    val rows = graft.operators.GraphOps.degreeDistribution(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (d, n, _) => assert(d >= 1 && n >= 1) }
    val totalNodes = rows.map(_._2).sum
    val edges = graft.operators.GraphOps.copurchaseEdges(spark, sf0001)
    val nodes = edges.select(col("u")).unionAll(edges.select(col("v")))
      .distinct().count()
    assert(totalNodes == nodes, s"$totalNodes vs $nodes")
    val pm = rows.map(_._3).sum
    assert(math.abs(pm - 1000L) <= rows.length, s"permille sum $pm")
  }

  test("degree assortativity replays a driver-side stub correlation") {
    val edges = GraphOps.copurchaseEdges(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    edges.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }
    val stubs = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val n = BigInt(stubs.length)
    def s(f: ((Long, Long)) => BigInt) = stubs.map(f).sum
    val sx = s { case (u, _) => BigInt(deg(u)) }
    val sy = s { case (_, v) => BigInt(deg(v)) }
    val sxx = s { case (u, _) => BigInt(deg(u)) * deg(u) }
    val syy = s { case (_, v) => BigInt(deg(v)) * deg(v) }
    val sxy = s { case (u, v) => BigInt(deg(u)) * deg(v) }
    val r = (n * sxy - sx * sy).toDouble /
      math.sqrt((n * sxx - sx * sx).toDouble) /
      math.sqrt((n * syy - sy * sy).toDouble)
    val expect = BigDecimal(r)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = GraphOps.degreeAssortativity(spark, sf0001).head()
    assert(row.getLong(0) == stubs.length)
    assert(row.getDouble(1) == expect,
      s"${row.getDouble(1)} vs $expect")
  }

  test("clustering coefficient replays a driver-side neighborhood count") {
    val edges = GraphOps.copurchaseEdges(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    val expect = adj.toSeq.filter(_._2.size >= 2).map { case (n, nb) =>
      val tri = nb.toSeq.combinations(2)
        .count { case Seq(a, b) => adj(a)(b) }
      val coeff = BigDecimal(2.0 * tri /
        (nb.size.toLong * (nb.size - 1)).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (n, nb.size.toLong, tri.toLong, coeff)
    }.toSet
    val got = GraphOps.clusteringCoefficient(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got.nonEmpty)
    assert(got == expect)
    got.foreach { case (_, _, _, c) => assert(c >= 0.0 && c <= 1.0) }
  }

  test("personalized pagerank matches a driver-side restart walk exactly") {
    val events = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val seed = s"u:${events.map(_._1).min}"
    val w = events.map { case (u, t) => (s"u:$u", s"t:$t") }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val edges = w.toSeq.flatMap { case ((u, t), c) => Seq((u, t, c), (t, u, c)) }
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = edges.map(_._1).distinct.sorted
    def q(x: Double, dp: Int): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    var rank = nodes.map(v => v -> (if (v == seed) 1.0 else 0.0)).toMap
    (1 to 3).foreach { _ =>
      val inflow = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _, c) => rank(s) * (c.toDouble / outW(s)) }.sum).toMap
      rank = nodes.map(v =>
        v -> q((if (v == seed) 1.0 - 0.85 else 0.0) +
          0.85 * inflow.getOrElse(v, 0.0), 9)).toMap
    }
    val expected = rank.filter(_._2 > 0).view.mapValues(q(_, 6)).toMap
    val got = GraphOps.personalizedPageRank(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == expected.keySet)
    // seed keeps the restart mass: it must dominate every other USER
    // node (type hubs may aggregate more — they pool all users' mass)
    val userMax = got.filter(_._1.startsWith("u:")).values.max
    assert(got(seed) == userMax, "seed not top-ranked among users")
    val off = got.filter { case (k, v) => math.abs(v - expected(k)) > 2e-8 }
    assert(off.isEmpty, s"mismatches: ${off.take(5)}")
  }
}
