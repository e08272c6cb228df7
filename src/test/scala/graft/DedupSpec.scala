package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("exact dedup: keeper is the min doc_id; groups partition the table") {
    val d = Dedup.exactDuplicates(spark, sf0001).cache()
    assert(d.count() == 500)
    assert(d.filter(col("keeper_id") > col("doc_id")).count() == 0)
    // keeper rows are their own keepers
    assert(d.filter(col("doc_id") === col("keeper_id"))
      .filter(col("keeper_id") =!= col("doc_id")).count() == 0)
  }

  test("ngram jaccard: pairs are symmetric-free, thresholded, in [0,1]") {
    val p = Dedup.ngramJaccardPairs(spark, sf0001, 0.5).cache()
    assert(p.count() > 0, "fixture has planted near-dups")
    assert(p.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(p.filter(col("jaccard") < 0.5 || col("jaccard") > 1.0).count() == 0)
  }

  test("gram coverage equals the brute-force duplicated-shingle rollup") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), Dedup.gramsOf(r.getString(1)).toSet))
    val docFreq = docs.iterator.flatMap(_._2).toSeq
      .groupBy(identity).map { case (g, v) => (g, v.size) }
    val expected = docs.filter(_._2.nonEmpty).map { case (id, gs) =>
      val dup = gs.count(g => docFreq(g) > 1)
      (id, gs.size.toLong, dup.toLong,
        BigDecimal(dup.toDouble / gs.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = Dedup.gramCoverage(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected && got.nonEmpty)
  }

  test("prefix-filtered mining equals brute-force jaccard (0.5 and 0.8)") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), Dedup.gramsOf(r.getString(1)).toSet))
      .sortBy(_._1)
    for (t <- Seq(0.5, 0.8)) {
      val mined = Dedup.ngramJaccardPairs(spark, sf0001, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = (for {
        i <- docs.indices.iterator
        k <- (i + 1) until docs.length
        shared = (docs(i)._2 intersect docs(k)._2).size
        if shared > 0
        union = docs(i)._2.size + docs(k)._2.size - shared
        j = BigDecimal(shared.toDouble / union)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= t
      } yield (docs(i)._1, docs(k)._1, j)).toSet
      assert(brute.nonEmpty, s"fixture has pairs at j>=$t")
      assert(mined == brute,
        s"t=$t mined=${mined.size} brute=${brute.size} " +
          s"missing=${(brute -- mined).take(5)} extra=${(mined -- brute).take(5)}")
    }
  }

  test("minhash lsh finds exactly the brute-force pairs at j >= 0.8") {
    val lsh = Dedup.minhashLshPairs(spark, sf0001, 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.ngramJaccardPairs(spark, sf0001, 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(lsh == brute, s"lsh=${lsh.size} brute=${brute.size} missing=${brute -- lsh}")
  }

  test("simhash banding is complete: finds exactly the hamming<=3 pairs") {
    val p = Dedup.simhashPairs(spark, sf0001, maxHamming = 3)
    val banded = p.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth over all collected signatures
    val sigs = Dedup.simhashes(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val brute = (for {
      i <- sigs.indices.iterator
      k <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(k)._2) <= 3
    } yield (sigs(i)._1, sigs(k)._1)).toSet
    assert(brute.nonEmpty, "fixture should contain simhash near-dups")
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size} missing=${brute -- banded}")
  }

  test("clusters: reps are component minima; pairs share a rep") {
    val labels = Dedup.nearDupClusters(spark, sf0001, 0.8).cache()
    assert(labels.count() == 500)
    assert(labels.filter(col("rep_id") > col("doc_id")).count() == 0)
    // every near-dup pair must land in the same cluster
    val pairs = Dedup.ngramJaccardPairs(spark, sf0001, 0.8)
      .select("doc_a", "doc_b")
    val la = labels.withColumnRenamed("doc_id", "doc_a")
      .withColumnRenamed("rep_id", "rep_a")
    val lb = labels.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("rep_id", "rep_b")
    val split = pairs.join(la, "doc_a").join(lb, "doc_b")
      .filter(col("rep_a") =!= col("rep_b")).count()
    assert(split == 0)
    // docs in no pair are their own rep
    val inPairs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val singles = labels.join(inPairs, Seq("doc_id"), "left_anti")
    assert(singles.filter(col("rep_id") =!= col("doc_id")).count() == 0)
  }

  test("embedding near-dup exact: thresholded, ordered, clamp holds") {
    val p = Dedup.embeddingNearDupExact(spark, sf0001, 0.4).cache()
    assert(p.count() > 0)
    assert(p.filter(col("vec_a") >= col("vec_b")).count() == 0)
    assert(p.filter(col("sim") < 0.4 || col("sim") > 1.0).count() == 0)
  }

  test("epsilon-join kernel is bit-identical to the broadcast-NLJ expression twin") {
    // the mapPartitions kernel must reproduce the expression form's
    // pair set AND rounded sims exactly (same accumulation order, same
    // clamp-then-HALF_UP finish) — this is what keeps the DuckDB
    // oracle green after the plan swap
    val n = Dedup.normalizedEmbeddings(spark, sf0001)
    val kernel = Dedup.embeddingNearDupExactNormalized(n, 0.4)
    val nlj = Dedup.embeddingNearDupExactNlj(n, 0.4)
    assert(kernel.count() > 0)
    assert(kernel.exceptAll(nlj).count() == 0, "kernel emitted a non-NLJ row")
    assert(nlj.exceptAll(kernel).count() == 0, "kernel missed an NLJ row")
  }

  test("declared LSH near-dup equals the exact pair set on the planted table") {
    val planted = Dedup.plantedNormalizedEmbeddings(spark, sf0001)
    val exact = Dedup.embeddingNearDupExactNormalized(planted, 0.98)
    val lsh = Dedup.embeddingNearDupLshQuery(spark, sf0001)
    assert(lsh.count() > 0, "planted pairs must surface (not vacuous)")
    assert(lsh.exceptAll(exact).count() == 0, "LSH emitted a non-exact pair")
    assert(exact.exceptAll(lsh).count() == 0, "LSH missed an exact pair")
  }

  test("incremental miner's shuffle stays batch-sized, not corpus-pair-sized") {
    import spark.implicits._
    // warm the memoized corpus relations so the measurement captures
    // the per-batch probe work, which is the 100 TB recurring cost
    Dedup.bandedSignatures(spark, sf0001).count()
    val nDocs = Tables.documents(spark, sf0001).count()
    val m = QueryMetrics.measure(spark) {
      Dedup.incrementalMinhashPairs(spark, sf0001).count()
    }
    // all-pairs mining would shuffle O(n * perms) signature state or
    // O(n^2) candidates; the incremental probe moves band rows (32 per
    // doc, both sides) + verified candidates — linear in the corpus
    val bandRows = 32L * nDocs
    assert(m.shuffleRecordsWritten < 6L * bandRows,
      s"shuffled=${m.shuffleRecordsWritten} bandRows=$bandRows")
  }

  test("cross-source matrix conserves the pair relation and orders sources") {
    val pairs = Dedup.ngramJaccardPairs(spark, sf0001, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assume(pairs.nonEmpty)
    val src = Tables.documents(spark, sf0001).select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val expect = pairs.groupBy { case (a, b, _) =>
      val (sa, sb) = (src(a), src(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.map { case (k, g) =>
      val jsum = g.map(t => math.round(t._3 * 1e6)).sum
      (k._1, k._2, g.length.toLong,
        BigDecimal(jsum.toDouble / g.length / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = Dedup.crossSourceDupMatrix(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == expect)
    assert(got.toSeq.map(_._3).sum == pairs.length)
    got.foreach { case (a, b, _, _) => assert(a <= b) }
  }

  test("incremental minhash equals the brute-force batch x corpus join") {
    import spark.implicits._
    // brute force: exact Jaccard over every (batch, corpus) pair at the
    // declared threshold, from the same memoized gram-hash sets
    val gs = Dedup.gramHashSets(spark, sf0001)
      .as[(Long, Array[Long])].collect().toMap
    val (batch, corpus) = gs.keys.toSeq.partition(_ % 10 == 7)
    val expect = (for {
      a <- batch; b <- corpus
      sa = gs(a).toSet; sb = gs(b).toSet
      shared = (sa & sb).size
      j = BigDecimal(shared.toDouble / (sa.size + sb.size - shared))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.9
    } yield (a, b, j)).toSet
    val got = Dedup.incrementalMinhashPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect, s"got=${got.size} expect=${expect.size}")
    // direction contract: new-batch ids on the left, corpus on the right
    got.foreach { case (n, c, _) => assert(n % 10 == 7 && c % 10 != 7) }
  }

  test("embedding decontamination flags exactly the planted benchmark sources") {
    val got = Dedup.embeddingDecontaminate(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "planted contamination must surface (not vacuous)")
    // every flagged doc matches ITS planted twin at sim ~0.9968
    got.foreach { case (vecId, benchId, sim) =>
      assert(vecId % 50 == 0 && benchId == vecId + 100000L)
      assert(sim >= 0.99 && sim <= 1.0)
    }
    // and the flag set is complete: every %50 source is caught
    val n = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 50 === 0).count()
    assert(got.length == n)
  }

  test("LSH blocking inspects a small fraction of the pair space") {
    // the r5-verdict gate: candidate rows << n(n-1)/2 — measured, not
    // asserted. At the declared 16x16 geometry the banded equi-join
    // must yield under 2% of all pairs (analysis says <1%; the planted
    // pairs themselves are ~0.5% at sf0.001).
    val planted = Dedup.plantedNormalizedEmbeddings(spark, sf0001).cache()
    val rows = planted.count()
    val totalPairs = rows * (rows - 1) / 2
    val cand = Dedup.lshCandidatePairs(planted, 64, 16, 16).count()
    assert(cand > 0)
    assert(cand < totalPairs / 50, s"candidates=$cand totalPairs=$totalPairs")
    // and the whole declared query never shuffles a quadratic record
    // count: band keys (2 join sides x bands keys/vector) + candidates
    // dominate, all linear in n
    val m = QueryMetrics.measure(spark) {
      Dedup.embeddingNearDupLshQuery(spark, sf0001).count()
    }
    assert(m.shuffleRecordsWritten < totalPairs / 5,
      s"shuffled=${m.shuffleRecordsWritten} totalPairs=$totalPairs")
  }

  test("embedding LSH blocking recovers planted high-sim pairs") {
    import spark.implicits._
    // plant near-dups: tiny perturbations of 30 fixture vectors
    val base = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).limit(30)
      .as[(Long, Array[Float])].collect()
    val planted = base.map { case (id, v) =>
      (id + 100000L, v.map(x => x + 0.001f * math.signum(x + 0.1f)))
    }
    val all = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val found = Dedup.embeddingNearDupLsh(all, dim = 64, threshold = 0.9)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = base.map { case (id, _) => (id, id + 100000L) }.toSet
    val recall = (expected intersect found).size.toDouble / expected.size
    assert(recall >= 0.95, s"recall=$recall found=${found.size}")
  }

  test("LSH verification past the broadcast bound: the distributed join " +
      "leg is bit-identical to the fused broadcast kernel") {
    val n = Dedup.normalizedEmbeddings(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_a", "vec_b", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the distributed leg, called directly on the same inputs; outputs
    // must match pair-for-pair AND bit-for-bit on sim (identical
    // accumulation order + clamp + HALF_UP rounding)
    val broadcastLeg = rows(Dedup.embeddingNearDupLshNormalized(n, 64, 0.45))
    val distributedLeg = rows(Dedup.lshVerifyDistributed(n, 64, 0.45))
    assert(broadcastLeg.nonEmpty, "fixture must produce pairs at 0.45")
    assert(distributedLeg == broadcastLeg,
      s"legs diverge: ${distributedLeg.size} vs ${broadcastLeg.size} pairs")
  }

  test("semantic dedup prunes exactly the within-cluster similarity components") {
    val out = Dedup.semanticDedup(spark, sf0001, 0.4, 8).cache()
    val nVecs = Tables.embeddings(spark, sf0001).count()
    assert(out.count() == nVecs, "one row per vector")
    assert(out.filter(col("rep_id") > col("vec_id")).count() == 0,
      "rep is a component minimum")
    assert(out.filter(col("kept") =!= (col("rep_id") === col("vec_id"))).count() == 0)
    // brute force from the op's own cluster assignment + the norm cache:
    // within-cluster pairs at rounded sim >= 0.4, then union-find
    val cid = out.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nv = operators.Dedup.normalizedEmbeddings(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val ids = nv.keys.toArray.sorted
    def sim(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      BigDecimal(math.max(s, 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      r
    }
    for {
      i <- ids.indices; k <- (i + 1) until ids.length
      if cid(ids(i)) == cid(ids(k)) && sim(nv(ids(i)), nv(ids(k))) >= 0.4
    } {
      val (ra, rb) = (find(ids(i)), find(ids(k)))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expected = ids.map(v => v -> find(v)).toMap
    val got = out.select("vec_id", "rep_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"diff=${got.filter { case (k, v) => expected(k) != v }.take(5)}")
    // the clustering must actually split the space (else it's all-pairs)
    assert(cid.values.toSet.size > 1, "k-means produced a single cluster")
  }

  test("keep-best election maximizes (n_chars, -doc_id) within each cluster") {
    val clusters = Dedup.nearDupClusters(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val chars = Tables.documents(spark, sf0001).select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = clusters.groupBy(_._2).map { case (rep, members) =>
      val docs = members.map(_._1)
      val best = docs.maxBy(d => (chars(d), -d))
      rep -> (best, docs.length.toLong, docs.map(chars).max)
    }
    val got = Dedup.keepBestPerCluster(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected,
      s"diff=${got.filter { case (k, v) => expected.get(k) != Some(v) }.take(5)}")
  }

  test("cluster-size histogram conserves the corpus") {
    val rows = Dedup.clusterSizeHistogram(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val total = rows.map { case (size, n) => size * n }.sum
    assert(total == Tables.documents(spark, sf0001).count())
    // singleton clusters dominate a mostly-unique corpus
    assert(rows.toMap.getOrElse(1L, 0L) > 0)
  }

  test("containment pairs equal a brute-force set replay") {
    val sets = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Dedup.gramsOf(r.getString(1)).toSet)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val expect = (for {
      (a, ga) <- sets; (b, gb) <- sets if a < b
      shared = (ga & gb).size if shared > 0
      ca = r6(shared.toDouble / ga.size); cb = r6(shared.toDouble / gb.size)
      if math.max(ca, cb) >= 0.6
    } yield (a, b, ca, cb)).toSet
    val got = Dedup.containmentPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(got == expect && got.nonEmpty,
      s"missed=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    // containment dominates Jaccard on every pair (the reason it
    // catches doc-inside-doc cases Jaccard misses; the sf0.01 oracle
    // run covers pairs where that gap crosses the threshold)
    got.foreach { case (a, b, ca, cb) =>
      val (ga, gb) = (sets.toMap.apply(a), sets.toMap.apply(b))
      val j = (ga & gb).size.toDouble / (ga | gb).size
      assert(math.max(ca, cb) >= r6(j) - 1e-9)
    }
  }

  test("gram and winnowing containment agree on a planted quote pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 2 is a verbatim contiguous quote from doc 1; doc 3 disjoint.
    // The two asymmetric-containment detectors (full gram sets vs the
    // winnowed ~2/(w+1) selection) must agree: quote-side containment
    // near 1, big-side low, disjoint pair absent from both.
    val big = (1 to 80).map(i => s"w$i").mkString(" ")
    val quote = (30 to 55).map(i => s"w$i").mkString(" ")
    val other = (200 to 260).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, big), (2L, quote), (3L, other))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val dirTmp = graft.streaming.OneShot.tempDir("conttest")
    docs.write.mode("overwrite").parquet(s"$dirTmp/documents.parquet")
    val gram = graft.operators.Dedup.containmentPairs(spark, dirTmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val winn = graft.operators.TextOps.winnowingContainment(spark, dirTmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(gram.contains((1L, 2L)) && winn.contains((1L, 2L)),
      s"quote pair missed: gram=$gram winn=$winn")
    // containment of the QUOTE side (doc 2, the b side) reads near 1
    assert(gram((1L, 2L))._2 >= 0.9, gram.toString)
    assert(winn((1L, 2L))._2 >= 900L, winn.toString)
    // the big doc is NOT contained in the quote on either detector
    assert(gram((1L, 2L))._1 < 0.7 && winn((1L, 2L))._1 < 700L)
    // disjoint docs are flagged by neither
    assert(!gram.contains((1L, 3L)) && !gram.contains((2L, 3L)))
    assert(!winn.contains((1L, 3L)) && !winn.contains((2L, 3L)))
  }

  test("dbscan: DBSCAN invariants hold against the mined pair relation") {
    import org.apache.spark.sql.functions.col
    val simThreshold = 0.45
    val minPts = 3
    val rows = operators.Dedup.dbscanClusters(spark, sf0001,
        simThreshold, minPts)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = operators.Dedup.plantedNormalizedEmbeddings(spark, sf0001).count()
    assert(rows.length == n, "one row per (planted) vector")
    val pairs = operators.Dedup.embeddingNearDupExactNormalized(
        operators.Dedup.plantedNormalizedEmbeddings(spark, sf0001),
        simThreshold)
      .select(col("vec_a"), col("vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val role = rows.map(r => r._1 -> r._2).toMap
    val rep = rows.map(r => r._1 -> r._3).toMap
    rows.foreach { case (id, ro, rp) =>
      val deg = nbrs.getOrElse(id, Set.empty).size
      ro match {
        case "core" =>
          assert(deg + 1 >= minPts, s"core $id with deg $deg")
          assert(rp <= id, s"component label must be a min core id: $id -> $rp")
        case "border" =>
          assert(deg + 1 < minPts)
          val coreNbrReps = nbrs(id).filter(role(_) == "core").map(rep)
          assert(coreNbrReps.nonEmpty && rp == coreNbrReps.min,
            s"border $id must take the MIN core-neighbor label")
        case "noise" =>
          assert(rp == -1L)
          assert(nbrs.getOrElse(id, Set.empty).forall(role(_) != "core"),
            s"noise $id has a core neighbor")
        case other => fail(s"unknown role $other")
      }
    }
    // core-core edges never cross components
    pairs.foreach { case (a, b) =>
      if (role(a) == "core" && role(b) == "core")
        assert(rep(a) == rep(b), s"core edge ($a,$b) crosses components")
    }
    assert(rows.exists(_._2 == "core") && rows.exists(_._2 == "noise"))
  }

  test("dbscan pair source is cutover-gated: exact at/below the bound, " +
      "LSH above, and the LSH leg loses only recall, never precision") {
    import org.apache.spark.sql.functions.{array, col, lit}
    val n = operators.Dedup.plantedNormalizedEmbeddings(spark, sf0001)
    val bound = IndexCache.driverArtifactBounds("dbscan-exact-rows")._2
    // the envelope's audit record names the leg a call took; an m-row
    // corpus decides the leg without running either pairing
    def leg(m: Long): String = {
      val corpus = spark.range(m)
        .select(col("id").as("vec_id"), array(lit(1.0)).as("nv"))
      operators.Dedup.dbscanPairSource(corpus, 0.45)
      IndexCache.auditLog.filter(_._2 == "dbscan-exact-rows").last._1
    }
    assert(leg(bound) == "driverOr:dbscan-exact-rows:driver")
    assert(leg(bound + 1) == "driverOr:dbscan-exact-rows:distributed")
    val lshPairs = operators.Dedup.dbscanLshPairs(n, 0.45)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_a"), col("vec_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = toSet(operators.Dedup
      .embeddingNearDupExactNormalized(n, 0.45))
    val lsh = toSet(lshPairs)
    assert(lsh.subsetOf(exact), "LSH candidates are exactly verified — " +
      s"every mined pair must be a true epsilon-pair; extras: ${lsh -- exact}")
    // the high-similarity pairs (the planted-twin regime banding is FOR)
    // must all survive the 8-bit x 32-band blocking
    val twins = toSet(operators.Dedup
      .embeddingNearDupExactNormalized(n, 0.9))
    assert(twins.nonEmpty && twins.subsetOf(lsh),
      s"planted twins missed by banding: ${twins -- lsh}")
  }

  test("sampled estimator: anchor panel is COUNT-derived and rides the " +
      "registered anchor-flat bound (r11 weak #1)") {
    val out = Dedup.embeddingNearDupExactSampled(spark, sf0001).cache()
    assert(out.count() > 0, "fixture has planted near-dups")
    // at the 500-vector fixture the count-derived stride is 10 — every
    // pair's anchor side is a panel member
    assert(out.filter(pmod(col("vec_a"), lit(10)) =!= 0).count() == 0)
    // the panel collect is AUDITED: the anchor-flat family must appear
    // in IndexCache's bound log (the r11 escape hatch closed — a raw
    // collect would be invisible to BoundAuditSweepSpec)
    val entries = IndexCache.auditLog.filter(_._2 == "anchor-flat")
    assert(entries.nonEmpty, "anchor panel must ride IndexCache")
    entries.foreach { case (k, _, measured, bound) =>
      assert(measured <= bound, s"$k: $measured > $bound") }
    // fixed-COUNT discipline: shrinking the target shrinks the panel
    // (stride grows with n/target), independent of corpus size
    val small =
      Dedup.embeddingNearDupExactSampled(spark, sf0001, anchorTarget = 7L)
    val anchorsUsed = small.select("vec_a").distinct().count()
    assert(anchorsUsed <= 14, s"panel grew past ~2x target: $anchorsUsed")
  }

  test("threshold curve: non-increasing counts anchored to the pair relation") {
    val curve = graft.operators.Dedup.thresholdCurve(spark, sf0001)
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy(_._1)
    assert(curve.map(_._1).toSeq ==
      Seq(0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
    // monotone: raising the cut can only drop pairs
    curve.sliding(2).foreach {
      case Array(a, b) => assert(a._2 >= b._2, s"curve rose: $a -> $b")
      case _ => ()
    }
    // the 0.4 anchor IS the declared near-dup pair relation's size
    val pairs = graft.operators.Dedup
      .embeddingNearDupExact(spark, sf0001).count()
    assert(curve.head._2 == pairs, s"${curve.head._2} vs $pairs")
    // per-threshold counts replay against the sim column
    val sims = graft.operators.Dedup.embeddingNearDupExact(spark, sf0001)
      .select("sim").collect().map(_.getDouble(0))
    curve.foreach { case (t, n) =>
      assert(n == sims.count(_ >= t), s"t=$t")
    }
  }

  test("substring spans equal a brute-force token replay on the fixture") {
    val n = 8
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val gramDocs = scala.collection.mutable.Map[String, Set[Long]]()
    docs.foreach { case (id, w) =>
      (0 to w.length - n).foreach { i =>
        val g = w.slice(i, i + n).mkString(" ")
        gramDocs(g) = gramDocs.getOrElse(g, Set.empty) + id
      }
    }
    val expected = docs.map { case (id, w) =>
      val covered = (0 to w.length - n)
        .filter(i => gramDocs(w.slice(i, i + n).mkString(" ")).size >= 2)
        .flatMap(i => i until i + n).distinct.size.toLong
      (id, w.length.toLong, covered, covered * 1000 / w.length)
    }.toSet
    val got = graft.operators.Dedup.substringSpans(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
    assert(expected.exists(_._3 > 0), "fixture should bear repeated spans")
    assert(expected.exists(_._3 == 0), "and docs without them")
  }

  test("substring spans: planted shared run is recovered; short docs survive") {
    import spark.implicits._
    val shared = (1 to 9).map(i => s"s$i").mkString(" ") // a 9-token run
    val docs = Seq(
      (0L, s"alpha beta $shared gamma delta"),
      (1L, s"one two three four $shared"),
      (2L, "totally unrelated words that repeat nothing at all here okay"),
      (3L, "tiny doc")) // < 8 tokens: no grams, zero coverage, no crash
      .toDF("doc_id", "text")
    // the operator reads a dataset dir; stage the synthetic as one
    val dir = graft.streaming.OneShot.tempDir("substr-docs")
    docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Dedup.substringSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 0: tokens 3..11 (0-based 2..10) covered -> two 8-gram starts
    // merge to the 9-token run
    assert(out(0L) == ((13L, 9L)))
    assert(out(1L) == ((13L, 9L)))
    assert(out(2L)._2 == 0L)
    assert(out(3L) == ((2L, 0L)))
  }

  test("gram spectrum ties out against coverage: Σ df·n_grams equals " +
      "the total (doc, dup-gram) incidences") {
    val spectrum = graft.operators.Dedup.gramFrequencySpectrum(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(spectrum.nonEmpty && spectrum.forall(_._1 >= 2))
    val incidences = spectrum.map { case (df, n) => df * n }.sum
    val fromCoverage = graft.operators.Dedup.gramCoverage(spark, sf0001)
      .agg(org.apache.spark.sql.functions.sum("n_dup_grams")).head.getLong(0)
    assert(incidences == fromCoverage,
      s"spectrum incidences $incidences != coverage total $fromCoverage")
  }
}
