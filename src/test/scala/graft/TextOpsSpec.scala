package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {

  test("token counts: all docs counted; bpe >= whitespace tokens") {
    val t = TextOps.tokenCounts(spark, sf0001).cache()
    assert(t.count() == 500)
    assert(t.filter(col("n_ws_tokens") <= 0).count() == 0)
    assert(t.filter(col("n_bpe_tokens") < col("n_ws_tokens")).count() == 0)
  }

  test("quality: ratios and score bounded in [0,1]") {
    val q = TextOps.qualityScores(spark, sf0001).cache()
    assert(q.count() == 500)
    Seq("stopword_ratio", "alpha_ratio", "quality").foreach { c =>
      assert(q.filter(col(c) < 0.0 || col(c) > 1.0).count() == 0, c)
    }
    assert(q.filter(col("mean_wlen") <= 0.0).count() == 0)
  }

  test("langid: deterministic prediction; docs with 'the' lean en") {
    val l = TextOps.languageId(spark, sf0001).cache()
    assert(l.count() == 500)
    assert(l.filter(!col("pred_lang").isin("en", "es", "de", "fr")).count() == 0)
    // any doc with a positive en score and zero others must predict en
    val mustEn = l.filter(col("s_en") > 0 && col("s_es") === 0 &&
      col("s_de") === 0 && col("s_fr") === 0)
    assert(mustEn.filter(col("pred_lang") =!= "en").count() == 0)
  }

  test("fingerprint matches a hand-computed polynomial hash") {
    // h("abc") = ((0*31+97)*31+98)*31+99 mod 1e9+7 = 96354
    val df = Seq((1L, "abc")).toDF_(spark)
    val got = df.select(TextOps.polyHash(col("text")).as("h"))
      .collect()(0).getLong(0)
    assert(got == 96354L)
    val fp = TextOps.fingerprints(spark, sf0001).cache()
    assert(fp.count() == 500)
    assert(fp.filter(col("fp_text").isNull).count() == 0)
    // all docs have >= 10 words, so shingle fingerprints always exist
    assert(fp.filter(col("fp_min_shingle").isNull).count() == 0)
  }

  private implicit class SeqOps(rows: Seq[(Long, String)]) {
    def toDF_(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      rows.toDF("doc_id", "text")
    }
  }

  test("char-ngram langid separates languages with distinct char stats") {
    import spark.implicits._
    // three synthetic "languages" with disjoint character inventories
    // (the parquet fixture's lang labels share one vocabulary, so they
    // carry no recoverable signal — see languageIdNgram scaladoc)
    val rng = new scala.util.Random(7)
    val alphabets = Map(
      "aa" -> "abcde", "oo" -> "opqrs", "zz" -> "vwxyz")
    val docs = (0 until 300).map { i =>
      val lang = Seq("aa", "oo", "zz")(i % 3)
      val ab = alphabets(lang)
      val words = Seq.fill(30)(
        (0 until 4).map(_ => ab(rng.nextInt(ab.length))).mkString)
      (i.toLong, lang, words.mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val pred = TextOps.languageIdNgram(docs)
    val hits = pred.join(docs.select("doc_id", "lang"), "doc_id")
      .filter(col("pred_lang") === col("lang")).count()
    assert(hits >= 295, s"only $hits/300 correct")
  }

  test("char-ngram langid on the fixture is deterministic across runs") {
    val a = TextOps.languageIdNgram(spark, sf0001).collect()
    val b = TextOps.languageIdNgram(spark, sf0001).collect()
    assert(a.sortBy(_.getLong(0)).sameElements(b.sortBy(_.getLong(0))))
  }

  test("bm25: top-k descending and equal to a driver-side recomputation") {
    val terms = Seq("join", "window", "scan")
    val got = TextOps.bm25TopK(spark, sf0001, terms, k = 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.nonEmpty && got.length <= 20)
    val scores = got.map(_._2)
    assert(scores.sameElements(scores.sortBy(-(_: Double))))
    // brute-force BM25 over the collected corpus
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val n = docs.length.toDouble
    // integer-ratio average, same arithmetic as the engine's sumdl/n
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / docs.length
    val dfs = terms.map(t => docs.count(_._2.contains(t)).toDouble)
    val expect = docs.map { case (id, w) =>
      val dl = w.length.toDouble
      val s = terms.zip(dfs).map { case (t, df) =>
        val tf = w.count(_ == t).toDouble
        math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
      (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }.take(20)
    assert(got.toSeq == expect.toSeq,
      s"mismatch: got ${got.take(3).toSeq} expect ${expect.take(3).toSeq}")
  }

  test("repetition: ratios bounded and consistent over the corpus") {
    val got = TextOps.repetitionScores(spark, sf0001).collect()
    assert(got.length == 500)
    got.foreach { r =>
      val (n, d) = (r.getAs[Int]("n_grams"), r.getAs[Int]("n_distinct"))
      assert(d <= n)
      val dup = r.getAs[Double]("dup_ratio")
      val share = r.getAs[Double]("top_gram_share")
      assert(dup >= 0.0 && dup <= 1.0 && share >= 0.0 && share <= 1.0)
      if (n > 0) assert(math.abs(dup - (1.0 - d.toDouble / n)) < 1e-6)
    }
  }

  test("decontaminate: flags exactly the docs sharing >= minShared grams") {
    val rows = TextOps.decontaminate(spark, sf0001, minShared = 5).collect()
    // corpus side only (doc_id % 97 != 0), one row per corpus doc
    assert(rows.nonEmpty && rows.forall(_.getLong(0) % 97 != 0))
    rows.foreach { r =>
      assert(r.getBoolean(2) == (r.getLong(1) >= 5))
    }
    // benchmark docs duplicated into the corpus must be flagged: the
    // fixture contains exact duplicates (dedup_exact finds groups), so
    // spot-check internal consistency instead: max_shared of flagged
    // docs is >= that of unflagged ones' minimum threshold
    val flagged = rows.filter(_.getBoolean(2)).map(_.getLong(1))
    flagged.foreach(s => assert(s >= 5))
  }

  test("bloom decontaminate: no false negatives, and fixture-exact " +
      "against the set-membership recompute") {
    import org.apache.spark.sql.functions._
    val bloom = TextOps.decontaminateBloom(spark, sf0001, minShared = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(bloom.nonEmpty && bloom.forall(_._1 % 97 != 0))
    // exact recompute of the SET semantics (count grams in the bench
    // gram set — the Bloom's ground truth, distinct from decontaminate's
    // per-bench-doc max): Bloom may only ever OVER-count (fp), never
    // under-count
    val w = split(col("text"), " ")
    val grams = array_distinct(transform(
      sequence(lit(1), greatest(size(w) - 2, lit(0))),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
        element_at(w, i + 2))))
    val g = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(grams).as("gram"))
    val bench = g.filter(col("doc_id") % 97 === 0)
      .select(col("gram")).distinct()
    val exact = g.filter(col("doc_id") % 97 =!= 0)
      .join(bench, Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    var fps = 0L
    bloom.foreach { case (id, n, flagged) =>
      val e = exact.getOrElse(id, 0L)
      assert(n >= e, s"doc $id: bloom under-counted $n < exact $e")
      assert(flagged == (n >= 5))
      fps += n - e
    }
    // the operator's CONTRACT is the flag set, which a >= minShared
    // threshold makes robust to per-probe false positives — pin it
    // equal to the exact recompute's. With LongBloom's 64-bit double
    // hashing the 1e-8 fpp is real (the stock 32-bit scheme measured
    // ~1e-4 here), so across the fixture's ~27k probes the expected FP
    // count is ~3e-4: pin ZERO (deterministic: frozen fixture,
    // order-independent OR-merged bits)
    val exactFlags = exact.collect { case (id, n) if n >= 5 => id }.toSet
    val bloomFlags = bloom.collect { case (id, _, true) => id }.toSet
    assert(bloomFlags == exactFlags,
      s"flag sets differ: +${bloomFlags -- exactFlags} -${exactFlags -- bloomFlags}")
    assert(fps == 0, s"$fps false-positive probes across the fixture")
  }

  test("hybrid rrf: fused score equals the rank identity on both legs") {
    val rows = graft.operators.HybridSearch.rrfTopK(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val bm = if (r.isNullAt(2)) None else Some(r.getInt(2))
      val vr = if (r.isNullAt(3)) None else Some(r.getInt(3))
      assert(bm.isDefined || vr.isDefined)
      val expect = bm.map(x => 1.0 / (x + 60)).getOrElse(0.0) +
        vr.map(x => 1.0 / (x + 60)).getOrElse(0.0)
      assert(math.abs(r.getDouble(1) - expect) < 1e-6)
    }
    // descending by fused score with doc_id tiebreak
    val scores = rows.map(r => (-r.getDouble(1), r.getLong(0))).toSeq
    assert(scores == scores.sorted)
  }

  test("redact: entity tokens scrubbed, counts match, PII patterns inert on fixture") {
    import org.apache.spark.sql.functions._
    val r = TextOps.redact(spark, sf0001).persist()
    val agg = r.agg(sum("n_emails"), sum("n_phones"), sum("n_entities"),
      sum(when(col("scrubbed").rlike("\\b(customer|supplier)\\b"), 1).otherwise(0)),
      sum(when(col("scrubbed").contains("<ENTITY>"), 1).otherwise(0))).head()
    assert(agg.getLong(0) == 0 && agg.getLong(1) == 0, "fixture has no emails/phones")
    assert(agg.getLong(2) > 0, "entity pattern must fire on the fixture")
    assert(agg.getLong(3) == 0, "no entity token may survive the scrub")
    assert(agg.getLong(4) > 0, "replacement marker must appear")
    // per-row consistency: #markers inserted == #hits counted
    val bad = r.filter(
      size(split(col("scrubbed"), "<ENTITY>", -1)) - 1 =!= col("n_entities")).count()
    assert(bad == 0, s"$bad rows where marker count != n_entities")
    r.unpersist()
  }

  test("bm25 exploded form is bit-identical to the column form") {
    // 3-term (the declared text_bm25_topk query) and 8-term (the
    // declared text_bm25_general query) shapes both fold identically
    for (terms <- Seq(Seq("join", "window", "scan"),
                      TextOps.bm25GeneralTerms)) {
      val cols = TextOps.bm25TopK(spark, sf0001, terms, k = 50).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val expl = TextOps.bm25TopKExploded(spark, sf0001, terms, k = 50)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(expl == cols, s"terms=$terms: exploded != column form")
      assert(cols.nonEmpty)
    }
  }

  test("unigram logprob equals a driver-side add-1 recomputation") {
    val got = TextOps.unigramLogProb(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val freq = docs.flatMap(_._2).groupBy(identity).map { case (w, g) => w -> g.length }
    val t = freq.values.map(_.toLong).sum
    val v = freq.size
    val expect = docs.map { case (id, w) =>
      val mean = w.map(x => -math.log((freq(x) + 1.0) / (t + v))).sum / w.length
      (id, w.length.toLong,
        BigDecimal(mean).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case ((gi, gn, gm), (ei, en, em)) =>
      assert(gi == ei && gn == en, s"doc $gi token count mismatch")
      assert(math.abs(gm - em) < 2e-6, s"doc $gi: nll $gm vs $em")
    }
    // rarer tokens must mean higher surprisal: the max-mean doc uses
    // strictly rarer-on-average vocabulary than the min-mean doc
    val byM = got.sortBy(_._3)
    assert(byM.last._3 > byM.head._3)
  }

  test("tfidf top terms: bounded-heap plan + driver-side recomputation") {
    graft.plans.GraftExtensions.install(spark)
    val q = TextOps.tfidfTopTerms(spark, sf0001)
    // window order is total (term tiebreak) -> auto rewrite must fire
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"tfidf not on the heap plan:\n$plan")
    val got = q.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sortBy(x => (x._1, x._4))
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val nd = docs.length.toDouble
    val dfm = docs.flatMap { case (_, w) => w.distinct }.groupBy(identity)
      .map { case (w, g) => w -> g.length }
    val expect = docs.flatMap { case (id, w) =>
      val dl = w.length.toDouble
      w.groupBy(identity).toSeq.map { case (term, g) =>
        val s = (g.length.toDouble / dl) * math.log(nd / dfm(term))
        (id, term,
          BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (_, term, s) => (-s, term) }.take(3).zipWithIndex
        .map { case ((i, term, s), rk) => (i, term, s, rk + 1) }
    }.sortBy(x => (x._1, x._4))
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._4 == e._4,
        s"rank row mismatch: $g vs $e")
      assert(math.abs(g._3 - e._3) < 2e-6, s"score mismatch: $g vs $e")
    }
  }

  test("span dedup keeps exactly each chunk's first occurrence and reconstructs") {
    val span = 4
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // brute force in (doc_id, idx) order
    val seen = scala.collection.mutable.HashSet.empty[String]
    val expected = docs.map { case (id, text) =>
      val chunks = text.split(" ", -1).grouped(span).map(_.mkString(" ")).toSeq
      val kept = chunks.filter(seen.add)
      id -> ((kept.mkString(" "), chunks.length.toLong, kept.length.toLong))
    }.toMap
    val got = operators.TextOps.spanDedup(spark, sf0001, span).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == expected.keySet)
    val off = got.filter { case (k, v) => expected(k) != v }
    assert(off.isEmpty, s"diff=${off.take(3)}")
    // the pass must actually drop something on the fixture
    assert(got.values.exists { case (_, n, k) => k < n },
      "no duplicate span dropped — fixture degenerate?")
  }

  test("inverted index: stats and capped postings match brute force") {
    val minDf = 20; val cap = 4
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ", -1).map(w => (w, id)) }
      .groupBy(identity).map { case ((w, id), xs) => (w, id, xs.length.toLong) }
    val byTerm = tf.groupBy(_._1)
    val expected = byTerm.collect {
      case (term, rows) if rows.size >= minDf =>
        val sorted = rows.toSeq.sortBy(_._2)
        term -> ((rows.size.toLong, rows.map(_._3).sum,
          sorted.take(cap).map(r => s"${r._2}:${r._3}").mkString(",")))
    }
    val got = operators.TextOps.invertedIndex(spark, sf0001, minDf, cap)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == expected.keySet)
    val off = got.filter { case (k, v) => expected(k) != v }
    assert(off.isEmpty, s"diff=${off.take(3)}")
    assert(got.nonEmpty)
    // every posting segment respects the cap even where df is larger
    assert(got.forall(_._2._3.count(_ == ',') < cap))
  }

  test("hll distinct users: relative error within the sketch bound") {
    val rows = operators.TextOps.hllDistinctUsers(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (t, est, exact) =>
      // rsd=0.02 one-sigma; gate at 5 sigma to stay flake-free
      assert(math.abs(est - exact).toDouble / exact <= 0.10,
        s"$t: hll=$est exact=$exact")
    }
  }

  test("inverted index plans through the bounded heap; phrase join is keyed") {
    val ix = operators.TextOps.invertedIndex(spark, sf0001)
    assert(ix.queryExecution.executedPlan.toString.contains("TopKPerGroup"),
      "posting-segment cap must use the bounded-heap operator, not a window sort")
    val ph = operators.TextOps.phraseSearch(spark, sf0001)
    val plan = ph.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"phrase legs must intersect by equi-join:\n$plan")
  }

  test("bpe vocab: merge table equals a reference driver-side trainer") {
    val nMerges = 10
    def merge(syms: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    val words = Tables.documents(spark, sf0001).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
    var cur: Seq[(Seq[String], Long)] = words.groupBy(identity).map {
      case (w, g) => (w.map(_.toString) :+ "</w>", g.length.toLong)
    }.toSeq
    val expect = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (step <- 1 to nMerges) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      cur.foreach { case (syms, c) =>
        syms.indices.dropRight(1).foreach { i =>
          val k = (syms(i), syms(i + 1)); pc(k) = pc.getOrElse(k, 0L) + c
        }
      }
      if (pc.nonEmpty) {
        val ((l, r), c) = pc.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        expect += ((step, l, r, c))
        cur = cur.map { case (syms, cc) => (merge(syms, l, r), cc) }
      }
    }
    val got = operators.TextOps.bpeVocab(spark, sf0001, nMerges).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.length == expect.length && got.sameElements(expect),
      s"got=${got.take(4).toSeq} expect=${expect.take(4).toSeq}")
    // merges must actually compose (some rule's left or right side is a
    // previously merged symbol) on a natural-language-like fixture
    assert(got.exists(r => r._2.length > 1 || r._3.length > 1))
  }

  test("phrase search matches brute force, incl. a 3-word phrase") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    for (phrase <- Seq(Seq("table", "hash"), Seq("the", "part", "data"))) {
      val expected = docs.map { case (id, ws) =>
        id -> ws.indices.dropRight(phrase.length - 1).count(i =>
          phrase.indices.forall(j => ws(i + j) == phrase(j)))
      }.filter(_._2 > 0).toMap
      val got = operators.TextOps.phraseSearch(spark, sf0001, phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(got == expected, s"phrase=$phrase")
    }
  }

  test("fuzzy word pairs: deletion-neighborhood blocking is lossless") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val part = Tables.part(spark, sf0001)
    val vocab = (part.select(explode(split(col("p_name"), " ")).as("w"))
      .unionByName(part.select(explode(split(col("p_type"), " ")).as("w")))
      .unionByName(Tables.nation(spark, sf0001).select(col("n_name").as("w")))
      .unionByName(Tables.region(spark, sf0001).select(col("r_name").as("w"))))
      .select(lower(col("w")).as("w")).filter(length(col("w")) > 0)
      .distinct().collect().map(_.getString(0))
    // brute force over the FULL vocab — no blocking at all
    val expect = (for {
      a <- vocab; b <- vocab if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong)).toSet
    val got = TextOps.fuzzyWordPairs(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expect && got.nonEmpty,
      s"missed=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("dup rate by source replays driver-side hash counts") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (s, g) =>
      val uniq = g.map(_._2).distinct.length
      s -> ((g.length.toLong, uniq.toLong,
        math.rint((g.length - uniq).toDouble / g.length * 1e6) / 1e6))
    }
    val got = TextOps.dupRateBySource(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("quality by source replays micro-unit means from per-doc scores") {
    val perDoc = TextOps.qualityScores(spark, sf0001)
      .join(Tables.documents(spark, sf0001).select("doc_id", "source"),
        "doc_id")
      .select(col("source"), col("quality")).collect()
      .map(r => r.getString(0) -> math.round(r.getDouble(1) * 1e6))
    val expect = perDoc.groupBy(_._1).map { case (s, g) =>
      s -> ((g.length.toLong,
        math.rint(g.map(_._2).sum.toDouble / g.length / 1e6 * 1e6) / 1e6))
    }
    val got = TextOps.qualityBySource(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (s, (n, avg)) =>
      assert(got(s)._1 == n)
      assert(math.abs(got(s)._2 - avg) < 1e-9, s"$s: ${got(s)._2} vs $avg")
    }
  }

  test("chunking: full coverage, exact overlap, reconstruction") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = TextOps.chunkDocuments(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    chunks.groupBy(_._1).foreach { case (id, g) =>
      val words = docs(id).split(" ")
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(1 to g.length))
      // stride reconstruction: first chunk + each later chunk minus its
      // 10-token overlap = the original document
      val rebuilt = sorted.head._4.split(" ") ++
        sorted.tail.flatMap(_._4.split(" ").drop(10))
      assert(rebuilt.sameElements(words), s"doc $id reconstruction")
      // consecutive chunks share exactly the overlap
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.split(" ").takeRight(10)
            .sameElements(b._4.split(" ").take(10)))
        case _ => ()
      }
      g.foreach(c => assert(c._3 == c._4.split(" ").length && c._3 <= 50))
    }
    assert(chunks.map(_._1).toSet == docs.keySet)
  }

  test("bpe encode replays a reference greedy encoder") {
    val merges = TextOps.bpeVocab(spark, sf0001, nMerges = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).map(t => (t._2, t._3)).toSeq
    val rank = merges.zipWithIndex.toMap
    def encodeWord(word: String): Int = {
      var syms: Seq[String] = word.map(_.toString) :+ "</w>"
      var done = false
      while (!done) {
        val best = syms.zip(syms.tail)
          .map(p => rank.getOrElse(p, Int.MaxValue)).min
        if (best == Int.MaxValue) done = true
        else {
          val (l, r) = merges(best)
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toSeq
        }
      }
      syms.length
    }
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.bpeEncode(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == docs.size)
    got.take(50).foreach { case (id, nw, nt) =>
      val words = docs(id).split(" ")
      assert(nw == words.length.toLong)
      assert(nt == words.map(encodeWord).map(_.toLong).sum, s"doc $id")
    }
  }

  test("typo clusters equal brute-force connected components") {
    val vocab = TextOps.tokenVocabulary(spark, sf0001).collect()
      .map(_.getString(0))
    val pairs = TextOps.fuzzyWordPairs(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // reference components by repeated label relaxation to fixpoint
    var lbl = vocab.map(w => w -> w).toMap
    var changed = true
    while (changed) {
      changed = false
      pairs.foreach { case (a, b) =>
        val m = if (lbl(a) < lbl(b)) lbl(a) else lbl(b)
        if (lbl(a) != m) { lbl += a -> m; changed = true }
        if (lbl(b) != m) { lbl += b -> m; changed = true }
      }
    }
    val got = TextOps.typoClusters(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == lbl && got.nonEmpty)
    // every representative is its component's lexicographic minimum
    got.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keys.min == rep)
    }
  }

  test("vocab coverage equals a driver-side OOV replay") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val freq = docs.flatMap(_._2).groupBy(identity)
      .map { case (t, v) => (t, v.size.toLong) }
    val vocab = freq.toSeq.sortBy { case (t, f) => (-f, t) }.take(1000)
      .map(_._1).toSet
    val expect = docs.map { case (id, ws) =>
      val oov = ws.count(!vocab(_)).toLong
      (id, ws.length.toLong, oov,
        BigDecimal(oov.toDouble / ws.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = TextOps.vocabCoverage(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == expect)
  }

  test("quality gate keeps exactly the docs at or above their language median") {
    val rows = TextOps.qualityGate(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, g) =>
      val q6 = g.map(t => math.round(t._3 * 1e6)).sorted
      val n = q6.length
      // exact interpolated median in doubled micro-units
      val med2 =
        if (n % 2 == 1) 2 * q6(n / 2) else q6(n / 2 - 1) + q6(n / 2)
      g.foreach { case (id, _, q, kept) =>
        assert(kept == (2 * math.round(q * 1e6) >= med2),
          s"doc $id lang $lang q=$q")
      }
      // a median gate keeps at least half of every language
      val keptN = g.count(_._4)
      assert(keptN * 2 >= n, s"$lang kept $keptN of $n")
    }
  }

  test("zipf fit equals a driver-side rank-frequency OLS") {
    val freq = Tables.documents(spark, sf0001).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).map { case (t, v) => (t, v.size.toLong) }
    val ranked = freq.toSeq.sortBy { case (t, f) => (-f, t) }.take(200)
      .zipWithIndex.map { case ((_, f), i) => (i + 1, f) }
    val n = ranked.size.toDouble
    val xs = ranked.map { case (rk, _) => math.log(rk.toDouble) }
    val ys = ranked.map { case (_, f) => math.log(f.toDouble) }
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    val r = TextOps.zipfFit(spark, sf0001).head()
    assert(r.getLong(0) == ranked.size.toLong)
    assert(math.abs(r.getDouble(1) - slope) < 1e-6, "slope")
    assert(math.abs(r.getDouble(2) - intercept) < 1e-6, "intercept")
  }

  test("word entropy equals a driver-side distribution recompute") {
    val texts = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val expected = texts.map { case (id, w) =>
      val counts = w.groupBy(identity).map { case (_, v) => v.size }
      val n = w.length.toDouble
      val h = -counts.map(c => c / n * math.log(c / n)).sum
      id -> (w.length.toLong, counts.size.toLong, counts.size / n, h)
    }.toMap
    val got = TextOps.wordEntropy(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    got.foreach { case (id, (nt, ty, ttr, h)) =>
      val (ent, ety, ettr, eh) = expected(id)
      assert(nt == ent && ty == ety, s"doc $id counts")
      assert(math.abs(ttr - ettr) < 1e-6 && math.abs(h - eh) < 1e-6,
        s"doc $id ttr/entropy")
    }
  }

  test("bigram surprisal matches a driver-side add-1 bigram LM") {
    val texts = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val pairs = texts.flatMap { case (id, w) =>
      (0 until w.length - 1).map(i => (id, (w(i), w(i + 1))))
    }
    val cb = pairs.groupBy(_._2).map { case (k, v) => (k, v.size) }
    val cw = cb.groupBy(_._1._1).map { case (k, v) => (k, v.values.sum) }
    val v = texts.iterator.flatMap(_._2).toSet.size
    val expected = pairs.groupBy(_._1).map { case (id, ps) =>
      val nlls = ps.map { case (_, bg) =>
        -math.log((cb(bg) + 1.0) / (cw(bg._1) + v))
      }
      id -> (nlls.size.toLong, nlls.sum / nlls.size)
    }
    val got = TextOps.bigramSurprisal(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    got.foreach { case (id, (n, mean, ppl)) =>
      val (en, emean) = expected(id)
      assert(n == en, s"doc $id bigram count")
      assert(math.abs(mean - emean) < 1e-6, s"doc $id mean_nll")
      assert(math.abs(ppl - math.exp(emean)) < 1e-3, s"doc $id ppl")
    }
  }

  test("Kneser-Ney surprisal matches a driver-side interpolated-KN LM " +
      "and the model normalizes to 1 per context") {
    val texts = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val pairs = texts.flatMap { case (id, w) =>
      (0 until w.length - 1).map(i => (id, (w(i), w(i + 1))))
    }
    val cb = pairs.groupBy(_._2).map { case (k, v) => (k, v.size.toLong) }
    val cw = cb.groupBy(_._1._1).map { case (k, v) => (k, v.values.sum) }
    val n1f = cb.groupBy(_._1._1).map { case (k, v) => (k, v.size.toLong) }
    val cont = cb.groupBy(_._1._2).map { case (k, v) => (k, v.size.toLong) }
    val b = cb.size.toLong
    val d = 0.75
    def p(bg: (String, String)): Double =
      ((cb(bg) - d) + d * n1f(bg._1) * cont(bg._2) / b) / cw(bg._1)
    val expected = pairs.groupBy(_._1).map { case (id, ps) =>
      val nlls = ps.map { case (_, bg) => -math.log(p(bg)) }
      id -> (nlls.size.toLong, nlls.sum / nlls.size)
    }
    val got = TextOps.kneserNeySurprisal(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    got.foreach { case (id, (n, mean, ppl)) =>
      val (en, emean) = expected(id)
      assert(n == en, s"doc $id bigram count")
      assert(math.abs(mean - emean) < 1e-6, s"doc $id kn_mean_nll")
      assert(math.abs(ppl - math.exp(emean)) < 1e-3, s"doc $id kn_ppl")
    }
    // the defining property of interpolated KN: for every context w1,
    // the seen-bigram mass (c-D)/cw plus lambda(w1) times the FULL
    // continuation distribution (which sums to 1 over the vocabulary)
    // is exactly 1 — the discount mass is redistributed, not lost.
    val vocabContSum = cont.values.sum.toDouble / b // == 1 by construction
    assert(math.abs(vocabContSum - 1.0) < 1e-12)
    cw.keys.take(50).foreach { w1 =>
      val seen = cb.keys.filter(_._1 == w1)
      val base = seen.iterator.map(bg => (cb(bg) - d) / cw(bg._1)).sum
      val lambda = d * n1f(w1) / cw(w1)
      assert(math.abs(base + lambda * vocabContSum - 1.0) < 1e-9,
        s"context '$w1' does not normalize")
    }
  }

  test("PMI collocations: a planted repeated pair tops a driver replay") {
    val rows = TextOps.pmiCollocations(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 20)
    // sorted by pmi desc then ngram asc, counts respect the floor
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
      case _ => ()
    }
    rows.foreach { case (_, c, _) => assert(c >= 5L) }
    // driver replay of the full statistic pins the cut exactly
    val texts = Tables.documents(spark, sf0001).select("text")
      .collect().map(_.getString(0))
    val uni = scala.collection.mutable.HashMap.empty[String, Long]
    val bi = scala.collection.mutable.HashMap.empty[(String, String), Long]
    texts.foreach { t =>
      val w = t.split(" ", -1)
      w.foreach(x => uni(x) = uni.getOrElse(x, 0L) + 1L)
      (0 until w.length - 1).foreach { i =>
        val k = (w(i), w(i + 1)); bi(k) = bi.getOrElse(k, 0L) + 1L
      }
    }
    val nb = bi.values.sum
    val expect = bi.toSeq.filter(_._2 >= 5L).map { case ((a, b), c) =>
      val pmi = math.round(
        math.log(c.toDouble * nb / (uni(a).toDouble * uni(b))) * 1e6)
      (a + " " + b, c, pmi)
    }.sortBy(e => (-e._3, e._1)).take(20)
    assert(rows.toSeq == expect)
  }

  test("bpe distributed trainer equals the sub-cutover driver leg") {
    val wordCounts = TextOps.tokenizedDocs(spark, sf0001)
      .select(explode(col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val dist = TextOps.trainBpeDistributed(spark, wordCounts, 10)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val wc = wordCounts.collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val drv = TextOps.trainBpeDriver(spark, wc, 10)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(drv.nonEmpty)
    assert(dist == drv)
  }

  test("unigram tokenizer: distributed EM equals a full driver replay") {
    val words = TextOps.tokenizedDocs(spark, sf0001)
      .select(explode(col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (vocabSize, iters, maxPiece, topOut) = (500, 2, 4, 100)
    // seed replay: substring counts weighted by word freq
    val seed = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, c) =>
      for (i <- w.indices; l <- 1 to math.min(maxPiece, w.length - i)) {
        val p = w.substring(i, i + l)
        seed(p) = seed.getOrElse(p, 0L) + c
      }
    }
    val top = seed.toSeq.sortBy { case (p, c) => (-c, p) }.take(vocabSize)
    val chars = seed.toSeq.filter(_._1.length == 1)
    var vocab = (top ++ chars.filterNot(c => top.exists(_._1 == c._1)))
      .sortBy(_._1).toArray
    for (_ <- 1 to iters) {
      val table = TextOps.quantizedLogProbs(vocab)
      val used = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, c) =>
        TextOps.viterbiPieces(w, table, maxPiece).foreach { p =>
          used(p) = used.getOrElse(p, 0L) + c
        }
      }
      vocab = vocab.map { case (p, _) => (p, used.getOrElse(p, 0L)) }
    }
    val qlps = TextOps.quantizedLogProbs(vocab)
    val expect = vocab.toSeq.sortBy { case (p, c) => (-c, p) }.take(topOut)
      .map { case (p, c) => (p, c, qlps(p)) }
    val got = TextOps.unigramVocab(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    // every surviving piece segments back to itself under the table
    got.take(10).foreach { case (p, _, _) =>
      val segs = TextOps.viterbiPieces(p, qlps, maxPiece)
      assert(segs.mkString("") == p)
    }
  }

  test("unigram encode: every word costs >= 1 piece, matches a driver replay on a sample") {
    val rows = TextOps.unigramEncode(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 500)
    rows.foreach { case (id, nw, nt) =>
      assert(nt >= nw, s"doc $id: $nt pieces for $nw words")
    }
    // replay one doc against the trained table through the public DP
    val table = TextOps.unigramVocab(spark, sf0001, topOut = Int.MaxValue)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val doc0 = Tables.documents(spark, sf0001)
      .filter(col("doc_id") === 0L).select("text").head().getString(0)
    val expect = doc0.split(" ", -1)
      .map(w => TextOps.viterbiPieces(w, table, 4).length.toLong).sum
    assert(rows.find(_._1 == 0L).get._3 == expect)
  }

  test("PRF expansion: every hit contains an expanded-query term; expansion is non-seed") {
    val seeds = Seq("join", "vector", "stream")
    val stop = Set("the", "a", "of", "and", "to", "in", "on")
    // replay the expansion selection driver-side
    val fb = TextOps.bm25TopKExploded(spark, sf0001, seeds, k = 5)
      .collect().map(_.getLong(0)).toSet
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    Tables.documents(spark, sf0001)
      .filter(col("doc_id").isin(fb.toSeq: _*))
      .select("text").collect().map(_.getString(0))
      .flatMap(_.split(" ", -1))
      .filterNot(t => seeds.contains(t) || stop(t))
      .foreach(t => counts(t) = counts.getOrElse(t, 0L) + 1L)
    val expansion = counts.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(3).map(_._1)
    assert(expansion.length == 3)
    assert(expansion.toSet.intersect(seeds.toSet ++ stop).isEmpty)
    val all = (seeds ++ expansion).toSet
    val hits = TextOps.bm25PrfTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.nonEmpty && hits.forall(_._2 > 0))
    val texts = Tables.documents(spark, sf0001)
      .filter(col("doc_id").isin(hits.map(_._1).toSeq: _*))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    hits.foreach { case (id, _) =>
      assert(texts(id).split(" ", -1).exists(all),
        s"doc $id scored without any expanded-query term")
    }
  }

  test("query-likelihood replays the driver-side Dirichlet scoring") {
    val terms = Seq("join", "window", "scan")
    val mu = 2000.0
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val ctot = docs.map(_._2.length.toLong).sum
    val cf = terms.map(t => docs.map(_._2.count(_ == t).toLong).sum)
    val scored = docs.map { case (id, w) =>
      val c6 = terms.zipWithIndex.map { case (t, i) =>
        val tf = w.count(_ == t).toDouble
        math.round(math.log((tf + mu * cf(i) / ctot) /
          (w.length + mu)) * 1e6)
      }.sum
      (id, BigDecimal(c6 / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expect = scored.sortBy { case (id, s) => (-s, id) }.take(20).toSeq
    val got = TextOps.queryLikelihoodTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect)
    // log-probabilities: every score is negative
    assert(got.forall(_._2 < 0))
  }

  test("langid confusion: conserves the corpus, permille rows sum per language") {
    val rows = TextOps.langIdConfusion(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val total = rows.map(_._3).sum
    assert(total == Tables.documents(spark, sf0001).count())
    // per true language the cells partition its docs; permille of a
    // single-cell row is exactly 1000
    rows.groupBy(_._1).foreach { case (lang, cells) =>
      if (cells.length == 1) assert(cells.head._4 == 1000L, s"$lang")
      assert(cells.map(_._4).sum <= 1000L, s"$lang permille overflow")
    }
    // the fixture's content is English-flavored for every label: the
    // detector must read it as such (the label/content mismatch the
    // matrix exists to expose; genuine-signal accuracy is gated on the
    // synthetic corpus elsewhere in this suite)
    assert(rows.forall(_._2 == "en"))
  }

  test("term burstiness: driver-side exact-moment replay; topical beats uniform") {
    val stop = Set("the", "a", "of", "and", "to", "in", "on")
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getString(1).split(" ", -1)
        .filter(t => !stop(t) && t.length >= 2))
    val nDocs = docs.length.toLong
    val perTerm = scala.collection.mutable.Map
      .empty[String, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    docs.foreach { ws =>
      ws.groupBy(identity).foreach { case (t, g) =>
        val (cf, s2, df) = perTerm(t)
        val f = g.length.toLong
        perTerm(t) = (cf + f, s2 + f * f, df + 1)
      }
    }
    val expect = perTerm.toSeq
      .sortBy { case (t, (cf, _, _)) => (-cf, t) }.take(30)
      .map { case (t, (cf, s2, df)) =>
        (t, cf, df, BigDecimal((nDocs * s2 - cf * cf).toDouble /
          (nDocs * cf).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    val got = TextOps.termBurstiness(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expect)
    got.foreach { case (_, _, _, v) => assert(v > 0.0) }
  }

  test("keywords per doc: driver-side TF-IDF replay, heap-ranked") {
    val stop = Set("the", "a", "of", "and", "to", "in", "on")
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).split(" ", -1).filter(t => !stop(t) && t.length >= 2)))
    val nDocs = docs.length.toLong
    val tf = docs.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (t, g) => ((id, t), g.length.toLong) }
    }.toMap
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2).toMap
    val expect = tf.toSeq.collect {
      case ((id, t), f) if df.contains(t) =>
        val s6 = BigDecimal(f.toDouble *
          math.log(nDocs.toDouble / df(t).toDouble) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (id, t, s6)
    }.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy { case (_, t, s) => (-s, t) }.take(3).zipWithIndex
        .map { case ((id, t, s6), i) =>
          (id, t, BigDecimal(s6 / 1e6)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            i + 1) }
    }.toSet
    val got = TextOps.keywordsPerDoc(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got.nonEmpty)
    assert(got == expect)
  }

  test("repeated spans: driver-side sliding-window replay, cross-doc only") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val occ = scala.collection.mutable.Map.empty[String, (Set[Long], Long)]
    docs.foreach { case (id, w) =>
      if (w.length >= 5) (0 to w.length - 5).foreach { i =>
        val s = w.slice(i, i + 5).mkString(" ")
        val (ds, c) = occ.getOrElse(s, (Set.empty[Long], 0L))
        occ(s) = (ds + id, c + 1)
      }
    }
    val expect = occ.toSeq.collect {
      case (s, (ds, c)) if ds.size >= 2 => (s, ds.size.toLong, c)
    }.sortBy { case (s, d, c) => (-d, -c, s) }.take(20)
    val got = TextOps.repeatedSpans(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    got.foreach { case (_, d, c) => assert(d >= 2 && c >= d) }
  }

  test("textrank: hand-computed walk on a path graph; fixture invariants") {
    import spark.implicits._
    // "a b c": edges a-b, b-c; deg a=1 b=2 c=1. One exact-integer
    // iteration: contrib a=1e6, b=5e5, c=1e6;
    //   s(a) = 150000 + 850*500000/1000  = 575000
    //   s(b) = 150000 + 850*2000000/1000 = 1850000
    //   s(c) = 575000
    // iter 2: contrib a=575000, b=925000, c=575000
    //   s(a) = 150000 + 850*925000/1000  = 936250
    //   s(b) = 150000 + 850*1150000/1000 = 1127500
    // iter 3: contrib a=936250, b=563750, c=936250
    //   s(a) = 150000 + 850*563750/1000  = 629187 (floor)
    //   s(b) = 150000 + 850*1872500/1000 = 1741625
    val dir = graft.streaming.OneShot.tempDir("textrank-docs")
    Seq((0L, "a b c"), (1L, "solo"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.textrankKeywords(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (0L, 1, "b", 1741625L), (0L, 2, "a", 629187L), (0L, 3, "c", 629187L),
      (1L, 1, "solo", 150000L)))
    // fixture: exactly top-3 per doc (or fewer for tiny docs), dense
    // ranks, deterministic across runs
    val rows = TextOps.textrankKeywords(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val perDoc = rows.groupBy(_._1)
    assert(perDoc.size == 500)
    perDoc.values.foreach { g =>
      assert(g.map(_._2).sorted.sameElements(1 to g.length))
      assert(g.length <= 3)
    }
    val again = TextOps.textrankKeywords(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(rows.toSet == again.toSet)
  }

  test("quantile norm: mid-rank identities hold exactly per source") {
    val rows = TextOps.qualityQuantileNorm(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (src, g) =>
      val n = g.length
      g.foreach { case (id, _, _, qn) =>
        assert(qn > 0.0 && qn <= 1.0, s"$src/$id qnorm $qn out of range") }
      // mid-ranks always sum to n(n+1)/2 whatever the ties, so the
      // qnorm mean is exactly (n+1)/(2n) up to per-row rounding
      val mean = g.map(_._4).sum / n
      val want = (n + 1).toDouble / (2.0 * n)
      assert(math.abs(mean - want) < 1e-5, s"$src mean $mean != $want")
      // monotone in quality; equal scores share one quantile
      g.sortBy(_._3).sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 <= b._4 + 1e-12, s"$src not monotone at ${b._1}")
          if (a._3 == b._3)
            assert(a._4 == b._4, s"$src tie split at ${b._1}")
        case _ => ()
      }
    }
  }

  test("gopher rules replay driver-side and each rule discriminates") {
    val rows = TextOps.gopherRules(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
      .toMap
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val stops = Set("the", "a", "of", "and", "to", "in", "on")
    docs.foreach { case (id, t) =>
      val w = t.split(" ", -1)
      val n = w.length
      val sumLen = t.length - (n - 1)
      val alphaW = w.count(_.exists(c => c >= 'a' && c <= 'z'))
      val nStops = w.distinct.count(stops)
      val wc = n >= 20 && n <= 1000
      val mwl = sumLen >= n * 3 && sumLen <= n * 10
      val al = alphaW * 1000 >= n * 800
      val st = nStops >= 2
      val (gn, gwc, gmwl, gal, gst, gp) = rows(id)
      assert(gn == n && gwc == wc && gmwl == mwl && gal == al && gst == st,
        s"doc $id rules diverge")
      assert(gp == (wc && mwl && al && st), s"doc $id pass")
    }
    // on a natural-text fixture most docs pass, but not vacuously all
    val passed = rows.values.count(_._6)
    assert(passed > 0, "no doc passes - thresholds wrong for fixture")
  }

  test("naive bayes langid replays driver-side; matrix covers the test split") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val train = docs.filter(_._1 % 5 != 4)
    val test = docs.filter(_._1 % 5 == 4)
    val trWords = train.flatMap { case (_, l, t) => t.split(" ").map(l -> _) }
    val tf = trWords.groupBy(identity).map { case (k, v) => k -> v.length }
    val tot = trWords.groupBy(_._1).map { case (l, v) => l -> v.length }
    val nd = train.groupBy(_._2).map { case (l, v) => l -> v.length }
    val vocab = trWords.map(_._2).distinct
    val v = vocab.size
    val langs = tot.keys.toSeq.sorted
    def q(x: Double) = math.round(x * 1e6)
    val prior = langs.map(l => l -> q(math.log(nd(l).toDouble / train.length))).toMap
    val unseen = langs.map(l => l -> q(math.log(1.0 / (tot(l) + v)))).toMap
    val qll = (for { w <- vocab; l <- langs } yield (w, l) ->
      q(math.log((tf.getOrElse((l, w), 0) + 1.0) / (tot(l) + v)))).toMap
    val expect = test.map { case (_, l, t) =>
      val cnt = t.split(" ").groupBy(identity).map { case (w, a) => w -> a.length }
      val best = langs.map { c =>
        val s = prior(c) + cnt.map { case (w, n) =>
          n * qll.getOrElse((w, c), unseen(c)) }.sum
        (c, s)
      }.minBy { case (c, s) => (-s, c) }._1
      (l, best)
    }.groupBy(identity).map { case (k, a) => k -> a.length.toLong }
    val got = TextOps.naiveBayesLangid(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expect, s"confusion diverges: $got vs $expect")
    assert(got.values.sum == test.length.toLong, "all test docs classified")
  }

  test("naive bayes recovers labels when the vocab carries real signal") {
    import spark.implicits._
    // 40 docs, 2 'languages' with disjoint vocabularies + shared noise
    val docs = (0L until 40L).map { i =>
      val l = if (i % 2 == 0) "aa" else "bb"
      val core = if (l == "aa") Seq("foo", "bar", "baz") else Seq("qux", "quux", "corge")
      (i, l, (core ++ Seq("shared")).mkString(" ") + " " + core((i % 3).toInt))
    }.toDF("doc_id", "lang", "text")
    // route through the same pipeline by writing a temp parquet layout
    val dirTmp = graft.streaming.OneShot.tempDir("nbtest")
    docs.write.mode("overwrite").parquet(s"$dirTmp/documents.parquet")
    val conf = TextOps.naiveBayesLangid(spark, dirTmp).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val correct = conf.collect { case ((a, b), n) if a == b => n }.sum
    val all = conf.values.sum
    assert(correct == all, s"disjoint-vocab corpus must classify perfectly: $conf")
  }

  test("winnowing selection replays driver-side on the fixture") {
    val p = 1000000007L
    // code-point fold, as the engine and the DuckDB oracle both hash
    def poly(s: String) = {
      var a = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        a = (a * 31 + cp) % p
        i += Character.charCount(cp)
      }
      a
    }
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.flatMap { case (id, t) =>
      val ws = t.split(" ")
      if (ws.length < 8) Seq.empty
      else {
        val wh = ws.map(poly)
        val sh = (0 to wh.length - 5).map(i =>
          wh.slice(i, i + 5).foldLeft(0L)((a, h) => (a * 131 + h) % p))
        (0 to sh.length - 4).map { j =>
          val mn = sh.slice(j, j + 4).min
          val rp = (j until j + 4).filter(kk => sh(kk) == mn).max
          (id, (rp + 1).toLong, mn)
        }.distinct
      }
    }.toSet
    val got = TextOps.winnowingFingerprints(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, s"selection diverges: ${got.size} vs ${expect.size}")
    assert(got.nonEmpty)
    // density: winnowing selects ~2/(w+1) of shingles, never all
    val shingleTotal = docs.map { case (_, t) =>
      math.max(t.split(" ").length - 4, 0) }.sum
    assert(got.size < shingleTotal / 2, "selection not sparse")
  }

  test("winnowing breaks ties to the RIGHTMOST window position") {
    import spark.implicits._
    // 12 identical words -> every shingle hash equal -> every window
    // tied; rightmost rule selects pos j+3 per window j=1..5 -> {4..8}
    val docs = Seq((1L, Seq.fill(12)("x").mkString(" "))).toDF("doc_id", "text")
    val got = TextOps.winnowingOf(docs, 5, 4).collect()
      .map(r => r.getLong(1)).sorted.toSeq
    assert(got == Seq(4L, 5L, 6L, 7L, 8L), s"got $got")
  }

  test("winnowing word hash folds CODE POINTS — non-BMP parity with the HOF form") {
    import spark.implicits._
    // supplementary-plane words (emoji, math alphanumerics) occupy two
    // UTF-16 units each; a charAt fold would hash the surrogate halves
    // and silently diverge from polyHash/unicode(c). Pin the typed
    // winnowing pass to the HOF fold on exactly such text.
    val words = Seq("😀ok", "𝕊𝕡", "plain",
      "mix🚀ed", "🍕", "ascii7", "😀ok",
      "tail𝕊")
    val text = (words ++ words).mkString(" ") // 16 words >= k+w-1
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val typed = TextOps.winnowingOf(docs, 5, 4).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // HOF-side word hashes (ascii over split folds code points), then
    // the same shingle/window/rightmost selection replayed driver-side
    val p = 1000000007L
    val wh = Seq(expr("transform(split(text, ' '), w -> " +
      "aggregate(filter(split(w, ''), ch -> ch != ''), 0L, " +
      s"(acc, ch) -> pmod(acc * 31 + ascii(ch), ${p}L)))").as("wh"))
    val hofWordHashes = docs.select(wh: _*).collect()(0)
      .getSeq[Long](0).toArray
    val sh = (0 to hofWordHashes.length - 5).map(i =>
      (i until i + 5).foldLeft(0L)((a, j) => (a * 131 + hofWordHashes(j)) % p))
    val expect = (0 to sh.length - 4).map { j =>
      val mn = sh.slice(j, j + 4).min
      val rp = (j until j + 4).filter(kk => sh(kk) == mn).max
      ((rp + 1).toLong, mn)
    }.toSet
    assert(typed == expect,
      s"non-BMP divergence: typed=$typed hof=$expect")
  }

  test("winnowing containment: a strict subset document reads near 1000") {
    import spark.implicits._
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (20 to 40).map(i => s"w$i").mkString(" ")  // subset run
    val docs = Seq((1L, big), (2L, quote)).toDF("doc_id", "text")
    val fp = TextOps.winnowingOf(docs, 5, 4)
      .select(col("doc_id"), col("h")).distinct()
    val sizes = fp.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shared = fp.as("a").join(fp.as("b"), "h")
      .filter(col("a.doc_id") < col("b.doc_id")).count()
    // the quote's fingerprints are (almost) all inside the big doc
    assert(shared * 1000 / sizes(2L) >= 900,
      s"subset containment too low: $shared of ${sizes(2L)}")
    // and the big doc is NOT contained in the quote
    assert(shared * 1000 / sizes(1L) < 700)
    // declared query runs end to end with coherent bounds
    val rows = TextOps.winnowingContainment(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getLong(3) > 0 && r.getLong(3) <= 1000)
      assert(r.getLong(4) > 0 && r.getLong(4) <= 1000)
    }
    assert(rows.nonEmpty)
  }

  test("winnowing containment broadcasts only the pair side, never the corpus") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val df = TextOps.winnowingContainment(spark, sf0001)
    val nPairs = df.count() // executes the plan, populating metrics
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
      case q: QueryStageExec        => p +: nodes(q.plan)
      case _                        => p +: p.children.flatMap(nodes)
    }
    val bx = nodes(df.queryExecution.executedPlan)
      .collect { case b: BroadcastExchangeExec => b }
    assert(bx.nonEmpty, "expected the pair side to broadcast-hash join")
    // the corpus-sized per-doc count relation must never be the build
    // side: every broadcast is bounded by the df-capped pair relation,
    // not the document count
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    bx.foreach { b =>
      val out = b.metrics("numOutputRows").value
      assert(out <= nPairs && out < nDocs / 2,
        s"corpus-sized broadcast: $out rows (pairs=$nPairs, docs=$nDocs)")
    }
  }

  test("winnowing pairs recover planted near-duplicates, bounded fanout") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 37) "zz" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, other))
      .toDF("doc_id", "text")
    val fp = TextOps.winnowingOf(docs, 5, 4)
      .select(col("doc_id"), col("h")).distinct()
    val shared = fp.as("a").join(fp.as("b"), "h")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id"), col("b.doc_id")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(shared.getOrElse((1L, 2L), 0L) >= 2L,
      "near-dup pair shares winnowed fingerprints")
    assert(!shared.contains((1L, 3L)) && !shared.contains((2L, 3L)),
      "disjoint docs share nothing")
    // declared pair query runs end to end on the fixture
    val pairs = TextOps.winnowingPairs(spark, sf0001).collect()
    pairs.foreach(r => assert(r.getLong(2) >= 2L))
  }
}
