package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Documents-side scale proof (the text twin of [[ScaleSpec]]): generate
  * a deterministic synthetic corpus at 1x and 10x the sf0.1 document
  * count — same (doc_id, text, lang, source, n_chars) schema, so every
  * `dir`-keyed text/dedup entry point runs on it unchanged — with
  * near-duplicates PLANTED by construction (every 50th doc is a one-word
  * mutation of its predecessor, 3-gram Jaccard ≈ 0.94), and pin the
  * dedup properties that matter at 100 TB:
  *
  *   - MinHash+LSH surfaces every planted pair at 10x (no recall decay
  *     with corpus growth) and surfaces essentially ONLY them (the
  *     banded join does not flood with background candidates);
  *   - the duplicated-shingle coverage rollup separates planted dups
  *     from background cleanly at 10x, and stays one-row-per-doc
  *     (linear output, no pair stage).
  *
  * Wall-clock is deliberately not asserted (CI noise) — the asserts are
  * recall, precision-by-construction, and output cardinality.
  */
class DocumentsScaleSpec extends SparkSpec {

  /** Deterministic synthetic corpus. Per-doc RNG is seeded from the
    * doc id (not the partition), so content is identical under any
    * partitioning. Docs with `id % 50 == 49` rewrite one word of doc
    * id−1; everything else is an independent 60–119-word draw from an
    * 800-word vocabulary (background trigram collisions negligible).
    */
  private def generate(spark: SparkSession, n: Int, seed: Long = 11L): String = {
    import spark.implicits._
    val dir = graft.streaming.OneShot.tempDir(s"graft-docscale-$n")
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { id =>
        val base = if (id % 50 == 49) id - 1 else id
        val r = new java.util.Random(seed ^ (base * 0x9E3779B97F4A7CL))
        val len = 60 + r.nextInt(60)
        val words = Array.fill(len)("w" + r.nextInt(800))
        if (id % 50 == 49) {
          val rm = new java.util.Random(id)
          words(rm.nextInt(len)) = "m" + rm.nextInt(10)
        }
        val text = words.mkString(" ")
        (id, text, "en", "s" + (id % 7), text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val dir1x = generate(spark, 5000)   // sf0.1's doc count
  private lazy val dir10x = generate(spark, 50000) // 10x that

  private def plantedPairs(n: Int): Set[(Long, Long)] =
    (49L until n by 50L).map(id => (id - 1, id)).toSet

  test("minhash LSH finds every planted near-dup at 1x and 10x, no flood") {
    for ((dir, n) <- Seq((dir1x, 5000), (dir10x, 50000))) {
      val got = Dedup.minhashLshPairs(spark, dir, 0.8).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val planted = plantedPairs(n)
      assert((planted -- got).isEmpty,
        s"n=$n missed ${(planted -- got).size} of ${planted.size} planted pairs")
      // verified output may only exceed planted by accidental >=0.8
      // background pairs — with independent 60+-word draws there are none
      assert(got.size <= planted.size + 5,
        s"n=$n candidate flood: ${got.size} pairs vs ${planted.size} planted")
    }
  }

  test("incremental minhash at 100x sf0.001: O(batch) candidates, full recall") {
    // 50k docs = 100x the sf0.001 corpus (the r6 verdict's 100x tier —
    // the constant-factor regime where the r5 LSH bug class hides).
    // slot 9 makes every planted pair (id-1, id ≡ 49 mod 50) a
    // batch-vs-corpus pair: the new side (id mod 10 = 9) is in the
    // batch, the corpus side (mod 10 = 8) is not.
    val n = 50000
    val got = Dedup.incrementalMinhashPairs(spark, dir10x,
        mod = 10, slot = 9, threshold = 0.8).collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSet // (corpus, new)
    val planted = plantedPairs(n)
    assert((planted -- got).isEmpty,
      s"missed ${(planted -- got).size} of ${planted.size} planted pairs")
    assert(got.size <= planted.size + 5,
      s"candidate flood: ${got.size} pairs vs ${planted.size} planted")
    // the banded candidate stage is O(|batch|), never batch x corpus:
    // with independent draws, background band collisions are rare, so
    // candidates stay within a small constant of the batch size
    val banded = Dedup.bandedSignatures(spark, dir10x)
    val nb = banded.filter(col("doc_id") % 10 === 9)
    val cb = banded.filter(col("doc_id") % 10 =!= 9)
    val cand = nb.as("x").join(cb.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    val batchSize = n / 10L
    assert(cand <= 5L * batchSize,
      s"candidate stage not O(batch): $cand candidates for $batchSize new docs")
    assert(cand.toDouble / (batchSize.toDouble * (n - batchSize)) < 0.001,
      s"candidate fraction ${cand.toDouble / (batchSize.toDouble * (n - batchSize))}")
  }

  test("winnowing pairs at 10x: full planted recall, no background flood") {
    // the winnowing guarantee: any shared word run >= k+w-1 = 8 words
    // yields a shared SELECTED hash; a planted near-dup differs in one
    // word, so at least one intact side of the edit clears minShared=2
    val got = graft.operators.TextOps.winnowingPairs(spark, dir10x)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = plantedPairs(50000)
    assert((planted -- got).isEmpty,
      s"missed ${(planted -- got).size} of ${planted.size} planted pairs")
    // independent 800-word-vocab draws share no 5-gram shingles, so
    // the df-capped bucket join must not manufacture background pairs
    assert(got.size <= planted.size + 5,
      s"pair flood: ${got.size} vs ${planted.size} planted")
    // density: the selected fingerprint relation stays a sparse sample
    // of the shingle stream even at 10x (the storage bound that makes
    // winnowing an INDEX, not a copy)
    val nSel = graft.operators.TextOps
      .winnowingFingerprints(spark, dir10x).count()
    val nShingles = graft.Tables.documents(spark, dir10x)
      .select(org.apache.spark.sql.functions.greatest(
        org.apache.spark.sql.functions.size(org.apache.spark.sql.functions
          .split(org.apache.spark.sql.functions.col("text"), " ")) - 4,
        org.apache.spark.sql.functions.lit(0)).as("m"))
      .agg(org.apache.spark.sql.functions.sum("m")).collect()(0).getLong(0)
    assert(nSel * 2 < nShingles,
      s"selection not sparse at 10x: $nSel of $nShingles shingles")
  }

  test("gram coverage separates planted dups from background at 10x") {
    val n = 50000
    val cov = Dedup.gramCoverage(spark, dir10x).cache()
    assert(cov.count() == n, "one row per doc — output stays linear")
    val flagged = cov.filter(col("dup_coverage") > 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plantedDocs = plantedPairs(n).flatMap(p => Seq(p._1, p._2))
    assert((plantedDocs -- flagged).isEmpty,
      s"missed ${(plantedDocs -- flagged).size} planted-dup docs")
    // background docs share no trigrams by construction: nothing else flags
    assert((flagged -- plantedDocs).isEmpty,
      s"false flags: ${(flagged -- plantedDocs).size}")
    cov.unpersist()
  }

  test("substring spans at 10x: planted runs covered, background silent, linear output") {
    // a planted mutation pair differs in ONE word, so the shared
    // verbatim 8-gram runs must cover everything except the window
    // around the mutated position (<= 15 positions on a 60..119-word
    // doc => coverage_permille comfortably above 700); background
    // docs are independent draws from an 800-word vocabulary, where an
    // accidental verbatim 8-token match is ~(1/800)^8 — zero coverage.
    val n = 50000
    val spans = Dedup.substringSpans(spark, dir10x).cache()
    assert(spans.count() == n, "one row per doc — output stays linear")
    val plantedDocs = plantedPairs(n).flatMap(p => Seq(p._1, p._2))
    val covered = spans.filter(col("coverage_permille") >= 700)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((plantedDocs -- covered).isEmpty,
      s"missed ${(plantedDocs -- covered).size} planted docs")
    assert((covered -- plantedDocs).isEmpty,
      s"false coverage: ${(covered -- plantedDocs).size}")
    val background = spans.filter(col("covered_tokens") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet -- plantedDocs
    assert(background.isEmpty,
      s"background docs with covered spans: ${background.size}")
    spans.unpersist()
  }

  test("end-to-end curation pipeline at 50k docs: dedup collapse, " +
      "exact packing, balanced shards") {
    // the composed flagship at 10x sf0.1's corpus — every stage's
    // invariant checked on output the sf0.01 oracle can't reach:
    val n = 50000
    val manifest = graft.operators.Pipeline
      .endToEndCuration(spark, dir10x).cache()
    assert(manifest.rdd.getNumPartitions > 1,
      "manifest collapsed to a single partition")
    val m = manifest.count()
    // near-dup stage: no planted pair survives whole — at most one of
    // (a, a+1) may appear in the final manifest
    val ids = manifest.select("doc_id").collect().map(_.getLong(0)).toSet
    val bothSurvive = plantedPairs(n).filter(p =>
      ids.contains(p._1) && ids.contains(p._2))
    assert(bothSurvive.isEmpty,
      s"${bothSurvive.size} planted near-dup pairs survived dedup intact")
    // quality gate: the per-lang median keeps roughly half the deduped
    // corpus (49k docs after 1000 collapses)
    assert(m >= (n - 1000) * 2 / 5 && m <= (n - 1000) * 13 / 20,
      s"gate kept $m of ${n - 1000} — median gate should keep ~half")
    // curriculum rank is a 1..m permutation and the token prefix sums
    // pack exactly: start_tok(rank k+1) = start_tok(k) + n_tok(k)
    val packed = manifest.select("curriculum_rank", "start_tok", "n_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(packed.head._1 == 1L && packed.last._1 == m &&
      packed.map(_._1).distinct.length == m, "rank is not a permutation")
    assert(packed.head._2 == 0L, "first doc must start at token 0")
    packed.sliding(2).foreach { case Array((_, s1, t1), (rk2, s2, _)) =>
      assert(s2 == s1 + t1, s"packing gap at rank $rk2: $s2 != ${s1 + t1}")
    case _ => ()
    }
    // shard manifest: token totals tile the corpus exactly, rank spans
    // are contiguous and non-overlapping in shard order
    val shards = graft.operators.Pipeline.endToEndShards(spark, dir10x)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(shards.map(_._3).sum == packed.map(_._3).sum,
      "shard tokens do not tile the packed corpus")
    assert(shards.map(_._2).sum == m)
    shards.sliding(2).foreach {
      case Array((_, _, _, _, last1), (sh2, _, _, first2, _)) =>
        assert(first2 == last1 + 1,
          s"shard $sh2 rank span not contiguous: $first2 after $last1")
      case _ => ()
    }
    // balance: every full shard carries shardSeqs*budget = 16384 tokens
    // up to one straddling document's spill on each side
    val maxDoc = packed.map(_._3).max
    shards.dropRight(1).foreach { case (sh, _, tok, _, _) =>
      assert(math.abs(tok - 16384L) <= maxDoc,
        s"shard $sh imbalanced: $tok tokens vs 16384 ± $maxDoc")
    }
    manifest.unpersist()
    ()
  }
}
