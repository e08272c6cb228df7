package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text analysis over `documents` — the per-document measurements a
  * training-data pipeline runs at ingest (north-star extension; the
  * reference's only text op is the first-sentence projection P1).
  *
  * Every op is a narrow per-row projection built from codegen'd
  * higher-order functions — no shuffle at all until a downstream agg —
  * and every hash/fold is an explicit polynomial over code points so the
  * DuckDB oracle can reproduce it bit-for-bit (no engine-internal hash
  * functions in declared outputs; SURVEY.md §7.4).
  *
  * Scale note: at 100 TB these are map-only columns appended during the
  * ingest scan; they pipeline with dedup signatures in one pass.
  */
object TextOps {

  private val P = 1000000007L // fold modulus: keeps acc*131+code < 2^63

  /** Polynomial rolling hash over a string's code points:
    * h = fold(h*31 + code) mod P. Mirrors the DuckDB list_reduce fold.
    */
  def polyHash(s: Column): Column =
    aggregate(filter(split(s, ""), ch => ch =!= ""),
      lit(0L), (acc, ch) => pmod(acc * 31 + ascii(ch), lit(P)))

  /** Token counts: whitespace tokens vs BPE-ish regex tokens (runs of
    * alphanumerics, or single punctuation marks) plus raw char length.
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\\\s]', 0)"))
        .as("n_bpe_tokens"),
      length(col("text")).as("len_chars"))

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "on")

  /** Raw (unrounded) stopword ratio of a word-array column. */
  private[operators] def stopRatioOf(w: Column): Column =
    size(filter(w, t => t.isin(stopwords: _*))).cast("double") / size(w)

  /** Raw alphabetic-character ratio of a text column. */
  private[operators] def alphaRatioOf(text: Column): Column =
    length(regexp_replace(text, "[^a-z]", "")).cast("double") / length(text)

  /** Raw [0,1] quality score (combine RAW ratios, round once at the
    * consumer: pre-rounded 6dp inputs times 0.4/0.3 weights land exactly
    * on 7th-decimal .5 ties, which round differently across engines).
    */
  private[operators] def qualityOf(text: Column, w: Column): Column =
    least(stopRatioOf(w) * 2.0, lit(1.0)) * 0.4 +
      alphaRatioOf(text) * 0.3 +
      least(size(w) / 50.0, lit(1.0)) * 0.3

  /** Quality scoring: word stats + stopword/alpha ratios combined into a
    * bounded [0,1] score (higher = more natural-language-like).
    */
  def qualityScores(spark: SparkSession, dir: String): DataFrame =
    qualityScoresOf(Tables.documents(spark, dir))

  /** [[qualityScores]] over an arbitrary (doc_id, text, ...) frame —
    * a pure per-row projection, so the SAME Column expressions score
    * a batch table or a stream (CorpusStream.qualityScoresStreamed)
    * identically.
    */
  def qualityScoresOf(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    val nWords = size(w)
    val meanWlen = aggregate(transform(w, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x).cast("double") / nWords
    docs
      .select(col("doc_id"), nWords.as("n_words"),
        round(meanWlen, 6).as("mean_wlen"),
        round(stopRatioOf(w), 6).as("stopword_ratio"),
        round(alphaRatioOf(col("text")), 6).as("alpha_ratio"),
        round(qualityOf(col("text"), w), 6).as("quality"))
  }

  /** Per-LANGUAGE quality gating — the curation rule real pipelines
    * apply (a global threshold over-prunes whichever language scores
    * low on shared heuristics): keep each document iff its quality
    * reaches its OWN language's median. Two passes: per-language
    * medians over micro-unit longs (a |langs|-row relation, broadcast
    * back), then a map-only flag join. The `*2` trick keeps the even-
    * count interpolated median in exact integers (a+b), so the gate
    * comparison is pure long arithmetic under the hash gate. At 100 TB
    * the median pass swaps for [[graft.operators.EventOps
    * .valueQuantilesHistogram]]'s bounded-error histogram — the gate
    * join is unchanged. Output: (doc_id, lang, quality, kept).
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        round(qualityOf(col("text"), w) * 1e6, 0).cast("long").as("q6"))
    val med = scored.groupBy(col("lang"))
      .agg(round(percentile(col("q6"), lit(0.5)) * 2, 0).cast("long")
        .as("med2"))
    scored.join(broadcast(med), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        round(col("q6") / 1e6, 6).as("quality"),
        (col("q6") * 2 >= col("med2")).as("kept"))
  }

  /** Per-source exact-duplicate rate: docs vs distinct md5(text) per
    * source — the per-feed curation signal (which sources re-crawl the
    * same pages). 16-byte hashes aggregate, text never shuffles;
    * dup_rate is one division of exact counts, rounded 6dp.
    */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        round((col("n_docs") - col("n_unique")).cast("double")
          / col("n_docs"), 6).as("dup_rate"))

  /** Per-source quality rollup: document count and average quality
    * score by `source` — the corpus-curation view that decides which
    * feeds to keep. Exact across engines: each doc's 6dp-rounded score
    * converts to integer micro-units BEFORE summing (float sums are
    * fold-order-dependent; integer sums are not), one division at the
    * end. Map-only scoring + one partial-aggregatable groupBy.
    */
  def qualityBySource(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("source"),
        round(round(qualityOf(col("text"), w), 6) * 1e6)
          .cast("long").as("qmicro"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("qmicro")).cast("double") / count(lit(1)) / 1e6, 6)
          .as("avg_quality"))
  }

  /** Per-source QUANTILE NORMALIZATION of the quality score — the
    * score-calibration step a mixing pipeline runs before comparing or
    * thresholding scores ACROSS heterogeneous sources (each source's
    * raw score distribution differs; its empirical quantile is the
    * comparable unit). Every doc maps to its tie-averaged mid-rank
    * quantile within its source: qnorm = (2·prev + cnt + 1) / (2·n) —
    * the Mann-Whitney doubled-rank trick, so the numerator is an exact
    * integer and ONE division runs per row, rounded 6.
    *
    * Scale shape: ranks compute over the per-source DISTINCT quantized
    * score cells (grid-bounded, ≤1e6+1 rows per source regardless of
    * corpus size) under a source-PARTITIONED window — keyed, never a
    * global single-reducer order — then join back to the doc scan on
    * (source, q6) with the |sources|-row count relation broadcast.
    * Output: (doc_id, source, quality, qnorm).
    */
  def qualityQuantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        round(qualityOf(col("text"), w) * 1e6, 0).cast("long").as("q6"))
    val cells = base.groupBy(col("source"), col("q6"))
      .agg(count(lit(1)).as("cnt"))
    val win = Window.partitionBy(col("source")).orderBy(col("q6"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("prev", coalesce(sum(col("cnt")).over(win), lit(0L)))
    val ns = base.groupBy(col("source")).agg(count(lit(1)).as("n"))
    base.join(ranked, Seq("source", "q6"))
      .join(broadcast(ns), Seq("source"))
      .select(col("doc_id"), col("source"),
        round(col("q6") / 1e6, 6).as("quality"),
        round((lit(2L) * col("prev") + col("cnt") + 1L).cast("double")
          / (lit(2L) * col("n")).cast("double"), 6).as("qnorm"))
  }

  /** Stopword-profile language voting. Profiles are fixed tiny lists; the
    * prediction is the argmax with a deterministic CASE cascade (ties
    * resolve in en > es > de > fr order).
    */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "les"))

  /** Rounded per-language stopword-vote scores of a word-array column. */
  private[operators] def langScoresOf(w: Column): Seq[(String, Column)] =
    profiles.map { case (lang, words) =>
      lang -> round(
        size(filter(w, t => t.isin(words: _*))).cast("double") / size(w), 6)
    }

  /** Argmax CASE cascade over the scores (ties: en > es > de > fr). */
  private[operators] def predLangOf(s: Map[String, Column]): Column =
    when(s("en") >= s("es") && s("en") >= s("de") && s("en") >= s("fr"), "en")
      .when(s("es") >= s("de") && s("es") >= s("fr"), "es")
      .when(s("de") >= s("fr"), "de")
      .otherwise("fr")

  def languageId(spark: SparkSession, dir: String): DataFrame = {
    val scored = langScoresOf(col("w")).foldLeft(
      Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))) {
      case (df, (lang, c)) => df.withColumn(s"s_$lang", c)
    }
    scored.withColumn("pred_lang", predLangOf(
        profiles.map { case (lang, _) => lang -> col(s"s_$lang") }.toMap))
      .select("doc_id", "pred_lang", "s_en", "s_es", "s_de", "s_fr")
  }

  /** Confusion matrix of the stopword-profile language ID against the
    * fixture's `lang` labels: (true_lang, pred_lang, n, permille of
    * the true language's docs) — the eval TABLE the langid accuracy
    * gates summarize. On THIS fixture it documents two honest
    * failure modes at once: the fixture's labels sit on a SHARED
    * English-flavored vocabulary (no real language signal — see
    * [[languageIdNgram]]'s note), so the detector correctly reads the
    * TEXT as English for every label and the matrix collapses onto
    * the 'en' column — exactly the label/content mismatch a
    * detector-health dashboard exists to catch (TextOpsSpec's
    * accuracy gate runs the detectors on a synthetic corpus with
    * genuine per-language signal). Pure integers
    * (permille via integer div); one join + one rollup + one
    * per-true-language window on the |langs|²-row cells.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val pred = languageId(spark, dir).select(col("doc_id"), col("pred_lang"))
    val truth = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    truth.join(pred, "doc_id")
      .groupBy(col("lang").as("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_true", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("true_lang"))))
      .select(col("true_lang"), col("pred_lang"), col("n"),
        expr("n * 1000 div n_true").as("permille"))
  }

  /** Declared query: KMV-sketched vs exact distinct 3-gram count over
    * the corpus — a mergeable distinct sketch on portable hashes, so
    * the DuckDB oracle reproduces the estimate exactly (k smallest
    * distinct hashes -> same formula). Output: one row.
    */
  def sketchDistinctNgrams(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val kmv = udaf(graft.functions.KmvDistinct(k))
    Dedup.gramSets(spark, dir)
      .select(explode(col("grams")).as("gram"))
      .select(polyHash(col("gram")).as("h"))
      .agg(round(kmv(col("h")), 6).as("kmv_estimate"),
        countDistinct(col("h")).as("exact_distinct"))
  }

  /** Per-event-type sketched vs exact distinct users — the KMV sketch
    * as a GROUPED partial aggregate (one mergeable k-long buffer per
    * group crosses the shuffle, not the user set). Same portable-hash
    * contract as [[sketchDistinctNgrams]].
    */
  def sketchDistinctUsers(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val kmv = udaf(graft.functions.KmvDistinct(k))
    Tables.events(spark, dir)
      .select(col("event_type"), polyHash(col("user_id").cast("string")).as("h"))
      .groupBy(col("event_type"))
      .agg(round(kmv(col("h")), 6).as("kmv_estimate"),
        countDistinct(col("h")).as("exact_distinct"))
  }

  /** Pairwise cross-source VOCABULARY overlap estimated by KMV set
    * algebra (Beyer et al., SIGMOD 2007) — "how much do two corpus
    * slices share" WITHOUT joining them: each source reduces to one
    * k-long sketch of its distinct token hashes
    * ([[graft.functions.KmvSketch]]); any pair's Jaccard and
    * intersection size then read off the combined sketches driver-side:
    * L = the k smallest of K_a ∪ K_b, m = |L ∩ K_a ∩ K_b|,
    * ρ = m/|L|, |A∩B| ≈ ρ · est(A∪B).
    *
    * Why it matters at 100 TB: the overlap MATRIX of S sources costs
    * ONE corpus scan plus S·k longs — the S² alternative joins every
    * slice pair. The sketches are the same mergeable partial aggregates
    * as [[sketchDistinctUsers]]'s, so new data folds in without
    * re-scanning old. The exact yardstick column (a distinct-hash
    * self-equi-join) is the fixture-scale audit the estimator is
    * graded against — at scale only the sketch leg runs.
    *
    * Determinism: portable polyHash + a fixed estimator formula, so the
    * DuckDB oracle replays estimate AND exact bit-for-bit; estimator
    * accuracy at small k is pinned in KmvDistinctSpec. Output, one row
    * per unordered source pair: (source_a, source_b, kmv_jaccard r6,
    * kmv_overlap r6, exact_overlap).
    */
  def kmvSourceOverlap(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    import spark.implicits._
    val agg = graft.functions.KmvSketch(k)
    val sk = udaf(agg)
    val hashes = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .select(col("source"), polyHash(col("t")).as("h"))
    val sketches = hashes
      .groupBy(col("source")).agg(sk(col("h")).as("sk"))
      .as[(String, Array[Long])].collect() // |sources| rows of k longs
      .sortBy(_._1)
    val pairEst = for {
      (sa, ka) <- sketches; (sb, kb) <- sketches if sa < sb
    } yield {
      val l = agg.merge(ka, kb) // reduce copies; inputs stay intact
      val (inA, inB) = (ka.toSet, kb.toSet)
      val m = l.count(h => inA(h) && inB(h))
      val jac = m.toDouble / l.length
      (sa, sb, jac, jac * agg.estimate(l))
    }
    val sh = hashes.distinct()
    val exact = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("ex"))
    pairEst.toSeq.toDF("source_a", "source_b", "jac", "ov")
      .join(exact, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        round(col("jac"), 6).as("kmv_jaccard"),
        round(col("ov"), 6).as("kmv_overlap"),
        coalesce(col("ex"), lit(0L)).as("exact_overlap"))
  }

  /** Zipf-law fit of the corpus token distribution: OLS of ln(freq) on
    * ln(rank) over the top `topN` tokens — natural corpora slope to
    * ≈ −1; a slope far from it flags templated/synthetic text, making
    * this a one-number corpus-health diagnostic next to the per-doc
    * quality scores.
    *
    * Scale shape: one token-frequency shuffle (partial-aggregated),
    * a bounded top-N by (freq desc, token asc) — NOT a global sort of
    * the vocabulary — then the OLS moments reduce to ONE scalar row.
    * Output: one row (n_ranks, slope rounded 6, intercept rounded 6).
    */
  def zipfFit(spark: SparkSession, dir: String, topN: Int = 200): DataFrame = {
    val freq = tokenizedDocs(spark, dir)
      .select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
    val ranked = freq
      .orderBy(col("f").desc, col("t").asc).limit(topN)
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("f").desc, col("t").asc)))
    val x = log(col("rk").cast("double"))
    val y = log(col("f").cast("double"))
    ranked
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(x * y).as("sxy"))
      .select(col("n").as("n_ranks"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n"), 6).as("intercept"))
  }

  /** The KMV sketch invoked FROM SQL: [[graft.functions.KmvDistinct]]
    * registered as a session UDAF (`spark.udf.register` over
    * `functions.udaf`) and called in a plain `GROUP BY` statement —
    * together with the injected scalar Expressions, the
    * `graft_word_ngrams` Generator, and the DSv1/DSv2 kNN relations
    * this completes the SQL-facing extension triangle (scalar /
    * table-valued / aggregate). Same portable-hash contract and
    * output as [[sketchDistinctUsers]], so the same oracle applies;
    * the partial-aggregation property (one k-long buffer per group
    * crosses the shuffle) is identical because SQL resolves to the
    * very same Aggregator.
    */
  def sqlSketchUsers(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    spark.udf.register("graft_kmv_distinct", udaf(graft.functions.KmvDistinct(k)))
    Relational.sqlWithViews(spark,
      "events_h" -> Tables.events(spark, dir)
        .select(col("event_type"),
          polyHash(col("user_id").cast("string")).as("h")))("""
      SELECT event_type,
             round(graft_kmv_distinct(h), 6) AS kmv_estimate,
             count(DISTINCT h) AS exact_distinct
      FROM $events_h
      GROUP BY event_type""")
  }

  /** HyperLogLog++ distinct users per event type — the BUILT-IN
    * mergeable-sketch scale path beside the custom [[graft.functions
    * .KmvDistinct]] Aggregator: `approx_count_distinct` partial-
    * aggregates a fixed-size HLL register block map-side, so the
    * shuffle carries one sketch per (partition, type) at any row
    * count. Approximate (engine-internal hash) → rows-only; the
    * relative error is gated against the exact count in TextOpsSpec.
    */
  def hllDistinctUsers(spark: SparkSession, dir: String,
      rsd: Double = 0.02): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("hll_estimate"),
        countDistinct(col("user_id")).as("exact_distinct"))

  /** Heavy hitters via a Count-Min sketch ([[graft.functions.CountMin]]):
    * the most frequent `topK` users by SKETCHED event count, beside the
    * exact count — the frequency sketch completing the mergeable-sketch
    * trio (KMV distinct, HLL distinct, CMS frequency). Two passes:
    * (1) ONE partial-aggregated sketch reduction (a depth x width
    * counter grid per partition crosses the shuffle, never the keys),
    * (2) candidate keys probe the broadcast sketch map-side and a
    * bounded heap keeps the top `topK` (estimate desc, user asc).
    *
    * At the declared width the fixture's key cardinality makes an
    * all-rows collision vanishingly rare (P ~ (n/width)^depth per key),
    * so the estimates equal the exact counts and the row set sits under
    * the DuckDB hash gate; the approximation behavior itself (strict
    * overestimates, eps*N bound at forced collision widths) is pinned
    * in CountMinSpec. Output: (user_id, cms_estimate, exact_count).
    */
  def cmsHeavyHitters(spark: SparkSession, dir: String, depth: Int = 4,
      width: Int = 32768, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val cms = graft.functions.CountMin(depth, width)
    val keys = Tables.events(spark, dir)
      .select(col("user_id").cast("long").as("k")).as[Long]
    val sketch = keys.select(cms.toColumn.name("sk")).head()
    val bc = spark.sparkContext.broadcast(sketch)
    keys.groupBy(col("k")).agg(count(lit(1)).as("exact_count"))
      .as[(Long, Long)]
      .map { case (k, c) => (k, cms.estimate(bc.value, k), c) }
      .toDF("user_id", "cms_estimate", "exact_count")
      .orderBy(col("cms_estimate").desc, col("user_id"))
      .limit(topK)
  }

  /** Distinct character 3-grams of a text (JVM loop; includes spaces —
    * word-boundary trigrams carry strong language signal).
    */
  def charTrigramsOf(text: String): Array[String] = {
    if (text.length < 3) return Array.empty
    val out = new scala.collection.mutable.LinkedHashSet[String]
    var i = 0
    while (i <= text.length - 3) { out += text.substring(i, i + 3); i += 1 }
    out.toArray
  }

  /** Character-n-gram language ID: per-language profiles = the
    * `profileSize` most frequent doc-distinct char trigrams of a
    * LABELED corpus (ties: gram asc); a doc's prediction is the label
    * whose profile its trigram set overlaps most (ties: lang asc).
    *
    * Two passes: profile training is one shuffle on (lang, gram) +
    * bounded-heap top-k; classification is map-only against the
    * broadcast profiles (langs x profileSize strings — driver-tiny).
    * Output: (doc_id, pred_lang). Accuracy is gated in TextOpsSpec
    * against the fixture's ground-truth `lang`.
    */
  def languageIdNgram(spark: SparkSession, dir: String): DataFrame = {
    // profiles are a pure function of the corpus — train once per
    // dataset (build-once like the ANN indexes), classify many
    val profiles = graft.IndexCache.getOrBuild(spark, "langid-profiles", dir) {
      trainProfiles(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text")), 40)
    }
    classify(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      profiles)
  }

  /** Core form over any labeled (doc_id, lang, text) frame. Note the
    * parquet fixture's `lang` labels sit on a SHARED vocabulary (no
    * real language signal), so the fixture query is rows-only; the
    * accuracy gate in TextOpsSpec uses a synthetic corpus with
    * genuinely distinct character distributions.
    */
  def languageIdNgram(docs: DataFrame, profileSize: Int = 40): DataFrame =
    classify(docs.select("doc_id", "text"), trainProfiles(docs, profileSize))

  /** TRAINED multinomial Naive Bayes language classifier — the
    * supervised member of the langid trio (beside the stopword
    * heuristic and the n-gram profile ranking): add-one-smoothed word
    * likelihoods and class priors fit on the deterministic 80% split
    * (doc_id % 5 ≠ 4), argmax posterior on the held-out 20%, confusion
    * matrix out. This is the fastText-shaped supervised langid a real
    * curation pipeline trains when labels exist.
    *
    * Exactness: every model weight is an integer micro-nat —
    * `round(ln((tf+1)/(tot_c+V))·1e6)` per (word, class) on the DENSE
    * vocab×class grid (so in-vocab-unseen-in-class gets the same
    * smoothed mass both engines agree on), `round(ln(n_c/n)·1e6)`
    * priors, per-class unseen mass for out-of-vocab test words — so
    * per-doc scores are exact integer sums and the argmax (ties to the
    * lexicographically smaller lang) is engine-independent.
    *
    * Scale shape: training is one vocab-bounded rollup (|V|×|classes|
    * grid ≤ a few hundred rows here, ≤ vocab·langs anywhere) broadcast
    * to the scoring side; scoring is map-only per test word + one
    * (doc, class)-key rollup and a 5-row-per-doc partitioned argmax
    * window; the confusion fold is |classes|². The corpus shuffles
    * once, by (doc, class). Output: (lang, pred_lang, n).
    */
  def naiveBayesLangid(spark: SparkSession, dir: String): DataFrame = {
    val docs = nbDocs(spark, dir)
    val isTest = col("doc_id") % 5 === 4
    val (cls, grid) = nbModel(spark, dir)
    val testWords = docs.filter(isTest)
      .select(col("doc_id"), col("lang"), explode(col("w")).as("word"))
      .groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val scored = testWords
      .crossJoin(broadcast(cls.select(col("c"), col("prior_q"),
        col("unseen_q"))))
      .join(broadcast(grid),
        col("word") === col("mword") && col("c") === col("mlang"), "left")
      .groupBy(col("doc_id"), col("lang"), col("c"), col("prior_q"))
      .agg(sum(col("cnt") * coalesce(col("qll"), col("unseen_q")))
        .as("like_q"))
      .select(col("doc_id"), col("lang"), col("c"),
        (col("prior_q") + col("like_q")).as("score"))
    val pred = scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("c").asc)))
      .filter(col("rk") === 1)
    pred.groupBy(col("lang"), col("c").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  private def nbDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      // spread the explode/count work across cores even off one split
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))

  /** The trained NB model — (class table, dense vocab×class grid),
    * a pure function of the corpus: train once per dataset (the
    * build-once discipline), persist both relations; scoring reads
    * them broadcast. Charged to `bench_build_langid`.
    */
  private def nbModel(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    lazy val docs = nbDocs(spark, dir)
    val isTest = col("doc_id") % 5 === 4
    lazy val trainWords = docs.filter(!isTest)
      .select(col("lang"), explode(col("w")).as("word"))
    val cls = graft.IndexCache.persisted(spark, "nb-model", dir, "classes") {
      val classTot = trainWords.groupBy(col("lang"))
        .agg(count(lit(1)).as("tot"))
      val nDocs = docs.filter(!isTest).groupBy(col("lang"))
        .agg(count(lit(1)).as("nd"))
      val nTrain = docs.filter(!isTest).agg(count(lit(1)).as("n"))
      val vSize = trainWords.agg(countDistinct(col("word")).as("v"))
      classTot.join(nDocs, Seq("lang"))
        .crossJoin(nTrain).crossJoin(vSize)
        .select(col("lang").as("c"),
          round(log(col("nd").cast("double") / col("n")) * 1e6, 0)
            .cast("long").as("prior_q"),
          round(log(lit(1.0) / (col("tot") + col("v"))) * 1e6, 0)
            .cast("long").as("unseen_q"),
          col("tot"), col("v"))
    }
    val grid = graft.IndexCache.persisted(spark, "nb-model", dir, "grid") {
      val tf = trainWords.groupBy(col("word"), col("lang"))
        .agg(count(lit(1)).as("tf"))
      trainWords.select(col("word").as("mword")).distinct()
        .crossJoin(cls.select(col("c"), col("tot"), col("v")))
        .join(tf, col("mword") === tf("word") && col("c") === tf("lang"),
          "left")
        .select(col("mword"), col("c").as("mlang"),
          round(log((coalesce(tf("tf"), lit(0L)) + lit(1.0)) /
            (col("tot") + col("v"))) * 1e6, 0).cast("long").as("qll"))
    }
    (cls, grid)
  }

  /** Force the NB model build (bench charge hook). */
  private[graft] def prewarmNbModel(spark: SparkSession, dir: String): Long = {
    val (cls, grid) = nbModel(spark, dir)
    cls.count() + grid.count()
  }

  /** Profile training: one shuffle on (lang, gram) + bounded-heap top-k
    * per language, collected to a langs x profileSize map (driver-tiny).
    */
  def trainProfiles(docs: DataFrame, profileSize: Int)
      : Seq[(String, Set[String])] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // widen before the typed trigram fold: a single-split corpus scan
    // would serialize the per-char extraction on one core (§2.2)
    val grams = graft.plans.GraftOps.widen(docs).as[(Long, String, String)]
      .flatMap { case (_, lang, t) => charTrigramsOf(t).iterator.map((lang, _)) }
      .toDF("lang", "gram")
      .groupBy("lang", "gram").agg(count(lit(1)).as("n"))
    graft.plans.GraftOps.topKPerGroup(grams, Seq("lang"),
        Seq("n" -> false, "gram" -> true), profileSize)
      .select("lang", "gram").collect()
      .groupBy(_.getString(0)).map { case (l, rows) =>
        l -> rows.map(_.getString(1)).toSet
      }.toSeq.sortBy(_._1)
  }

  /** Map-only classification against broadcast profiles. */
  private def classify(docs: DataFrame,
      profiles: Seq[(String, Set[String])]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(profiles)
    // NOT widened (measured): the exchange cost exceeds what the
    // spread scoring map saves — text_langid_ngram 0.27 s unwidened vs
    // 0.29-0.35 s widened
    docs.as[(Long, String)]
      .map { case (id, t) =>
        val gs = charTrigramsOf(t)
        val best = bc.value.map { case (l, p) => (-gs.count(p.contains), l) }
          .min // most hits, then lang asc
        (id, best._2)
      }.toDF("doc_id", "pred_lang")
  }

  /** BM25 keyword retrieval (Robertson et al.; the lexical complement
    * to the vector-search paths): top-k documents for a bag of query
    * terms, scored
    *
    *   Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    *   idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    *
    * Corpus statistics (N, avgdl, per-term df) reduce to ONE scalar
    * aggregation row that broadcasts back over the per-doc term
    * frequencies — two passes over the corpus, no per-term shuffle, so
    * the shape holds at any corpus size (an inverted index would change
    * the constant, not the shape). avgdl is an integer-ratio average
    * and the score rounds to 6dp, keeping the DuckDB oracle hash-exact.
    * Output: (doc_id, score) — top `k` by (score desc, doc_id).
    */
  /** (doc_id, w): the whitespace-tokenized corpus, materialized ONCE
    * per dataset — the shared input of every BM25 scorer (three
    * declared queries re-tokenized the full corpus before this cache;
    * at 100 TB you persist the tokenized/postings table once, not per
    * query).
    */
  def tokenizedDocs(spark: SparkSession, dir: String): DataFrame =
    graft.IndexCache.persisted(spark, "tokens", dir) {
      // widen BEFORE persist: the single-split fixture scan would
      // otherwise pin every downstream text consumer to one cached
      // partition (one core) for the whole session — CAPPED at 8 (see
      // Dedup.gramHashSets: executor-width memos tax every cheap
      // multi-stage consumer with one task launch per cached partition)
      graft.plans.GraftOps.widenTo(
          Tables.documents(spark, dir)
            .select(col("doc_id"), split(col("text"), " ").as("w")),
          math.min(8, spark.sparkContext.defaultParallelism))
    }

  /** Vocabulary coverage / OOV rate — the tokenizer-health signal:
    * the reference vocabulary is the corpus's `vocabSize` most
    * frequent tokens (ties broken token-asc, so the cut is
    * deterministic); every document reports how many of its tokens
    * fall outside it. High OOV flags encoding damage, language
    * mismatch, or templated noise before tokens are wasted on them.
    *
    * Scale shape: one token-frequency shuffle (partial-aggregated) +
    * a bounded top-k — never a vocabulary sort; the vocab relation is
    * O(vocabSize) and broadcast, the per-doc pass is one explode +
    * map-side membership + one partial-aggregated rollup. Output:
    * (doc_id, n_tokens, n_oov, oov_rate).
    */
  def vocabCoverage(spark: SparkSession, dir: String,
      vocabSize: Int = 1000): DataFrame = {
    val toks = tokenizedDocs(spark, dir)
    val vocab = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("t").asc).limit(vocabSize)
      .select(col("t"), lit(1).as("inv"))
    toks.select(col("doc_id"), explode(col("w")).as("t"))
      .join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov") / col("n_tokens"), 6).as("oov_rate"))
  }

  def bm25TopK(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("join", "window", "scan"), k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val w = col("w")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(w, x => x === t)).cast("long").as(s"tf$i")
    }
    val perDoc = tokenizedDocs(spark, dir)
      .select(col("doc_id") +: size(w).cast("long").as("dl") +: tfCols: _*)
    val statAggs = sum(lit(1L)).as("n") +: sum(col("dl")).as("sumdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sumdl").cast("double") / col("n")
    val score = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
      val tf = col(s"tf$i").cast("double")
      idf * tf * (k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Dirichlet-smoothed query-likelihood retrieval (the language-model
    * IR family next to BM25's probabilistic one): score(d) =
    * Σ_t ln((tf_td + μ·cf_t/|C|)/(dl_d + μ)) for the query terms —
    * Zhai & Lafferty's standard smoothing, μ = 2000. Higher (less
    * negative) = more likely to generate the query.
    *
    * Determinism: each term's log-contribution is quantized to integer
    * micro-nats BEFORE the per-doc sum (the text_bm25_prf discipline —
    * order-free exact sum, one final division). Scale shape: one
    * corpus pass for (|C|, cf_t), a 1-row broadcast attach, map-only
    * scoring, TakeOrdered top-k — the text_bm25_topk plan with a
    * different formula.
    * Output: (doc_id, score rounded 6), top `k` by (score desc, doc_id).
    */
  def queryLikelihoodTopK(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("join", "window", "scan"), k: Int = 20,
      mu: Double = 2000.0): DataFrame = {
    val w = col("w")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(w, x => x === t)).cast("long").as(s"tf$i")
    }
    val perDoc = tokenizedDocs(spark, dir)
      .select(col("doc_id") +: size(w).cast("long").as("dl") +: tfCols: _*)
    val statAggs = sum(col("dl")).as("ctot") +:
      terms.indices.map(i => sum(col(s"tf$i")).as(s"cf$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val contrib = terms.indices.map { i =>
      val prior = lit(mu) * col(s"cf$i").cast("double") /
        col("ctot").cast("double")
      round(log((col(s"tf$i").cast("double") + prior) /
        (col("dl").cast("double") + lit(mu))) * 1e6, 0).cast("long")
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(contrib / 1e6, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Cross-document repeated spans: every SLIDING 5-word window that
    * occurs in at least `minDocs` distinct documents, ranked by reach —
    * the boilerplate/contamination detector below [[spanDedup]]'s
    * non-overlapping chunks (a repeated span at any alignment is
    * caught; Lee et al.'s exact-substring result motivates hunting
    * duplicates below document granularity). Top 20 by
    * (n_docs desc, n_occurrences desc, span asc) — a total order.
    *
    * Scale shape: one explode to the sliding windows (|tokens| rows —
    * linear, not quadratic), one groupBy keyed by span, TakeOrdered.
    * At 100 TB the span column would be its 64-bit hash with one
    * verify join back, same shape as the gram miners.
    */
  def repeatedSpans(spark: SparkSession, dir: String, span: Int = 5,
      minDocs: Int = 2, k: Int = 20): DataFrame = {
    val w = col("w")
    val spans = tokenizedDocs(spark, dir)
      .filter(size(w) >= span)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(w) - span),
          i => array_join(slice(w, i + 1, lit(span)), " "))).as("span"))
    spans.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc,
        col("span").asc)
      .limit(k)
  }

  /** Intra-document repetition scoring (the Gopher-style quality rule:
    * heavily repeated n-grams mark templated/spammy text). Per doc:
    * word-3-gram count, distinct count, the duplicate-gram ratio
    * 1 − distinct/total, and the share of the single most frequent
    * gram. Map-only at any scale; the per-row gram counting runs as a
    * typed tight loop (a nested HOF here would be interpreted
    * per-element — the measured Spark 4 trap). Docs under 3 words
    * carry zero grams (ratios 0).
    */
  def repetitionScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Tables.documents(spark, dir).select("doc_id", "text").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val w = text.split(" ", -1)
          val n = math.max(w.length - 2, 0)
          val counts = new java.util.HashMap[String, Int]()
          var i = 0
          while (i < n) {
            val g = w(i) + " " + w(i + 1) + " " + w(i + 2)
            counts.put(g, counts.getOrDefault(g, 0) + 1)
            i += 1
          }
          var top = 0
          counts.values.forEach(v => if (v > top) top = v)
          val dup = if (n > 0) r6(1.0 - counts.size.toDouble / n) else 0.0
          val share = if (n > 0) r6(top.toDouble / n) else 0.0
          (id, n, counts.size, dup, share)
        }
      }.toDF("doc_id", "n_grams", "n_distinct", "dup_ratio", "top_gram_share")
  }

  /** Lexical-diversity quality signals per document: token count,
    * type count, type-token ratio, and Shannon word entropy
    * H = −Σ p(w)·ln p(w) — the Gopher-family filter axis that
    * separates natural prose (high entropy, mid TTR) from keyword
    * stuffing and boilerplate (low entropy) without any trained
    * model. Complements [[repetitionScores]] (which looks at n-gram
    * repeats) with a unigram-distribution view.
    *
    * Map-only at any scale: per-row counting runs as a typed tight
    * loop (the Spark 4 HOF-interpretation trap again), no shuffle at
    * all. Output: (doc_id, n_tokens, n_types, ttr rounded 6, entropy
    * rounded 6).
    */
  def wordEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Tables.documents(spark, dir).select("doc_id", "text").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val w = text.split(" ", -1)
          val counts = new java.util.HashMap[String, Int]()
          w.foreach(t => counts.put(t, counts.getOrDefault(t, 0) + 1))
          val n = w.length.toDouble
          var h = 0.0
          counts.values.forEach { c => val p = c / n; h -= p * math.log(p) }
          (id, w.length.toLong, counts.size.toLong,
            r6(counts.size / n), r6(h))
        }
      }.toDF("doc_id", "n_tokens", "n_types", "ttr", "entropy")
  }

  /** Benchmark decontamination: flag corpus documents sharing >=
    * `minShared` distinct word-3-grams with ANY held-out benchmark
    * document (deterministic split: doc_id % 97 == 0 is "benchmark").
    * The overlap is an equi-join on grams — benchmark grams are the
    * SMALL side (the eval sets of a training run), so the join
    * broadcasts the benchmark gram set and the corpus explodes once,
    * map-side (at 100 TB, hash the gram strings to 64-bit keys to
    * shrink the broadcast). Output: every corpus doc with its max
    * per-benchmark shared-gram count and the contaminated flag.
    */
  def decontaminate(spark: SparkSession, dir: String,
      minShared: Int = 5): DataFrame = {
    val w = split(col("text"), " ")
    val grams = array_distinct(transform(
      sequence(lit(1), greatest(size(w) - 2, lit(0))),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
        element_at(w, i + 2))))
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), grams.as("grams"))
    val bench = g.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), explode(col("grams")).as("gram"))
    val corpus = g.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    val shared = corpus.join(broadcast(bench), "gram")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_shared")).as("max_shared"))
    g.filter(col("doc_id") % 97 =!= 0).select("doc_id")
      .join(shared, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"),
        (coalesce(col("max_shared"), lit(0L)) >= minShared)
          .as("contaminated"))
  }

  /** Benchmark decontamination, SCALE variant: instead of equi-joining
    * the corpus grams against the benchmark ([[decontaminate]] — two
    * shuffles of matching grams), build ONE Bloom filter over the
    * benchmark's 3-gram set (distributed bitwise-OR merge, MB-sized,
    * order-independent => deterministic), broadcast it, and flag each
    * corpus document in a single map-only pass counting its grams that
    * hit the filter. At 100 TB the corpus never shuffles and never
    * materializes its gram strings past the partition — the plan is a
    * scan. Differences from the exact form are the standard Bloom
    * trade: membership is against the benchmark SET (no per-bench-doc
    * attribution) and false positives occur at `fpp` per probe (no
    * false negatives — TextOpsSpec pins the flagged set against the
    * exact recompute on the fixture). Output: (doc_id,
    * n_bench_grams, contaminated).
    */
  def decontaminateBloom(spark: SparkSession, dir: String,
      minShared: Int = 5, fpp: Double = 1e-8): DataFrame = {
    import spark.implicits._
    // the memoized FNV-64 gram table (Dedup.gramHashSets, same word-
    // 3-gram derivation as the exact operator): the Bloom builds over
    // and probes with 8-byte hashes — no text is re-tokenized here,
    // and the membership side carries longs, not gram strings. The
    // filter is [[graft.functions.LongBloom]] (64-bit double hashing):
    // the stock stat.bloomFilter's 32-bit probe derivation floors at
    // ~1e-4 observed fpp on KB-scale filters, which would defeat the
    // assertable contract below.
    val g = Dedup.gramHashSets(spark, dir)
    val bench = g.filter(col("doc_id") % 97 === 0)
      .select(explode(col("ghashes")).as("gh")).distinct()
    val bloom = graft.functions.LongBloom.build(bench.as[Long],
      math.max(bench.count(), 1L), fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    g.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("ghashes")).as[(Long, Seq[Long])]
      .map { case (id, hs) =>
        val b = bc.value
        var n = 0L
        hs.foreach(h => if (b.mightContain(h)) n += 1)
        (id, n, n >= minShared)
      }.toDF("doc_id", "n_bench_grams", "contaminated")
  }

  /** BM25 over an ARBITRARY term list: the exploded (doc, term) ⨝
    * broadcast-query-terms formulation. [[bm25TopK]] synthesizes one
    * tf column per term — ideal for a literal handful, quadratic plan
    * text for long queries. Here the corpus explodes once to (doc_id,
    * token), joins the broadcast term table (any |terms|), and per-term
    * contributions fold back per doc IN TERM-INDEX ORDER
    * (`array_sort(collect_list(struct(tidx, c)))` + `aggregate`), so
    * the floating-point sum is bit-identical to [[bm25TopK]]'s fixed
    * `t0 + t1 + ...` fold — absent terms contribute an exact 0.0,
    * which IEEE addition drops losslessly (TextOpsSpec pins equality
    * on both the 3-term and 8-term queries).
    *
    * Scale shape: explode+join+groupBy is two shuffles of (doc_id,
    * tidx) pairs for MATCHING tokens only; df and corpus stats are
    * term-count-sized broadcasts. Nothing grows with |terms| except
    * the broadcast term table.
    */
  def bm25TopKExploded(spark: SparkSession, dir: String,
      terms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val termsDf = broadcast(terms.zipWithIndex.toDF("term", "tidx"))
    val docs = tokenizedDocs(spark, dir)
    val dl = docs.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val tf = docs.select(col("doc_id"), explode(col("w")).as("term"))
      .join(termsDf, "term")
      .groupBy(col("doc_id"), col("tidx")).agg(count(lit(1)).as("tf"))
    val dfPerTerm = tf.groupBy(col("tidx")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(sum(lit(1L)).as("n"), sum(col("dl")).as("sumdl"))
    val avgdl = col("sumdl").cast("double") / col("n")
    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val tfD = col("tf").cast("double")
    val contrib = idf * tfD * (k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val perDoc = tf.join(broadcast(dfPerTerm), "tidx")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tidx"), contrib.as("c"))
      .groupBy(col("doc_id"))
      .agg(aggregate(array_sort(collect_list(struct(col("tidx"), col("c")))),
        lit(0.0), (acc, x) => acc + x("c")).as("score"))
    perDoc.select(col("doc_id"), round(col("score"), 6).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio/RM-style PRF —
    * the classic second-pass retrieval trick): run the seed query,
    * take the top-`r` documents as implicit relevance feedback, add
    * the `e` most frequent non-seed non-stopword terms from them, and
    * re-score the corpus with the expanded query. Completes the
    * retrieval suite next to BM25 / TF-IDF / phrase / RRF / MMR.
    *
    * Determinism: expansion terms cut by (count desc, term asc) — a
    * total order — and the expanded-query score quantizes each term's
    * BM25 contribution to integer micro-units BEFORE the per-doc sum,
    * so the final score is an exact long in any accumulation order
    * (no fold-order coupling at all, unlike the fixed-chain fold the
    * plain BM25 rows pin). Fully SQL-replayable: the oracle derives
    * the SAME expansion terms from the same feedback CTE.
    *
    * Scale shape: pass 1 is the standard exploded BM25; the feedback
    * relation is r rows; term selection is one bounded TakeOrdered
    * over the feedback docs' token counts (collected: e terms, bounded
    * by construction); pass 2 is one more explode+join+rollup with
    * the expanded term table broadcast. Output: (doc_id, score_micro)
    * top-`k` by quantized score.
    */
  def bm25PrfTopK(spark: SparkSession, dir: String,
      seeds: Seq[String] = Seq("join", "vector", "stream"), r: Int = 5,
      e: Int = 3, k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val stop = Seq("the", "a", "of", "and", "to", "in", "on")
    val feedback = bm25TopKExploded(spark, dir, seeds, k = r)
      .select(col("doc_id"))
    val expansion = tokenizedDocs(spark, dir)
      .join(broadcast(feedback), "doc_id")
      .select(explode(col("w")).as("term"))
      .filter(!col("term").isin(seeds ++ stop: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term").asc)
      .limit(e)
      .select(col("term")).as[String].collect().toSeq
    val terms = broadcast((seeds ++ expansion).toDF("term"))
    val docs = tokenizedDocs(spark, dir)
    val dl = docs.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val tf = docs.select(col("doc_id"), explode(col("w")).as("term"))
      .join(terms, "term")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfPerTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(sum(lit(1L)).as("n"), sum(col("dl")).as("sumdl"))
    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val tfD = col("tf").cast("double")
    val contrib = idf * tfD * (k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") /
        (col("sumdl").cast("double") / col("n"))))
    tf.join(broadcast(dfPerTerm), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(contrib * 1000000.0, 0).cast("long").as("qc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("qc")).as("score_micro"))
      .filter(col("score_micro") > 0)
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The declared general-retrieval query: an 8-term request through
    * the arbitrary-|terms| plan (same oracle arithmetic as
    * [[bm25TopK]], generated per term list in [[graft.queries.TextQueries]]).
    */
  val bm25GeneralTerms: Seq[String] = Seq(
    "join", "window", "scan", "filter", "merge", "sort", "vector", "stream")

  def bm25TopKGeneral(spark: SparkSession, dir: String): DataFrame =
    bm25TopKExploded(spark, dir, bm25GeneralTerms)

  /** Redaction patterns for [[redact]]: (regex, replacement) applied in
    * order. Email/phone are the standard PII scrubs every training
    * pipeline runs pre-tokenization; the entity-token pattern stands in
    * for a dictionary-based NER scrub and — unlike the PII patterns —
    * actually fires on the synthetic fixture (which carries no digits or
    * @-signs), so the oracle check exercises a real rewrite. Patterns
    * stay in the portable regex subset (character classes, counted
    * repetition, word boundaries) shared by Java and RE2-style engines.
    */
  val redactionPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\+?[0-9][0-9()\\-. ]{7,}[0-9]" -> "<PHONE>",
    "\\b(customer|supplier)\\b" -> "<ENTITY>")

  /** PII / entity redaction — the scrub-before-training operator: count
    * then replace every pattern occurrence, emitting the scrubbed text
    * plus per-pattern hit counts. Map-only (no shuffle, no UDF — Spark's
    * codegen'd `regexp_replace`/`regexp_count`), so it runs at scan
    * speed and composes with any downstream pipeline stage. At 100 TB
    * the counts side doubles as the audit table (how much PII did we
    * remove, per source) with one extra aggregation.
    */
  def redact(spark: SparkSession, dir: String): DataFrame = {
    val scrubbed = redactionPatterns.zipWithIndex.foldLeft(col("text")) {
      case (c, ((pat, rep), _)) => regexp_replace(c, pat, rep)
    }
    val counts = redactionPatterns.map { case (pat, _) => regexp_count(col("text"), lit(pat)) }
    Tables.documents(spark, dir).select(
      col("doc_id"),
      scrubbed.as("scrubbed"),
      counts(0).as("n_emails"),
      counts(1).as("n_phones"),
      counts(2).as("n_entities"))
  }

  /** Unigram-LM quality scoring — the perplexity signal of a CCNet-style
    * pipeline in its honest public form: no external KenLM exists in
    * this container, so the language model IS the corpus unigram
    * distribution, add-1 smoothed. Per doc: token count and the mean
    * surprisal −ln p(w) over its tokens (natural-text docs score low,
    * rare-token spam scores high — same decision axis as LM filtering).
    *
    * Scale shape: the frequency table is vocab-sized and joined to the
    * exploded corpus by a plain equi-join on the token — AQE broadcasts
    * it while it is small and hash-joins it when it is not, so any
    * vocab size scales (at 100 TB you'd cap the head vocab and bucket
    * the tail as OOV); the totals reduce to ONE broadcast row. The
    * per-doc mean is one partial-aggregated shuffle on doc_id.
    * Output: (doc_id, n_tokens, mean_nll rounded 6).
    */
  def unigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokenizedDocs(spark, dir)
      .select(col("doc_id"), explode(col("w")).as("w"))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    tok.join(freq, "w")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (-log((col("c") + lit(1.0)) / (col("t") + col("v")))).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("nll")), 6).as("mean_nll"))
  }

  /** Bigram-LM surprisal + perplexity — the corpus-trained step up
    * from [[unigramLogProb]] toward the KenLM filter of a CCNet-style
    * pipeline: P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V), add-1 smoothed
    * over the corpus vocabulary V, scored as the mean −ln P over each
    * doc's bigrams plus its exp (perplexity). Fluent in-distribution
    * text scores low; shuffled/rare-token text scores high — the axis
    * a quality gate thresholds on.
    *
    * Scale shape: the bigram pair stream is emitted by ONE typed
    * per-partition pass over the raw text (a sliding-window HOF here
    * would re-evaluate the split per element — the measured Spark 4
    * trap); counts are two partial-aggregated shuffles (bigram, then
    * its w1 margin — the context count is derived from the bigram
    * table, not recounted from the corpus); V reduces to one broadcast
    * row; scoring is an equi-join back + one doc_id rollup. At 100 TB
    * you'd cap the head bigram table and bucket the tail as OOV —
    * plan shape unchanged. Output: (doc_id, n_bigrams, mean_nll
    * rounded 6, ppl rounded 4) for docs with >= 2 tokens.
    */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT widened (measured): the bigram pass feeds an immediate
    // pair-count shuffle, so the extra exchange bought nothing in
    // full-bench context (kneser 0.94 s unwidened vs 1.26-1.33 s
    // widened across three full runs)
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val w = t.split(" ", -1)
        (0 until w.length - 1).iterator.map(i => (id, w(i), w(i + 1)))
      })
      .toDF("doc_id", "w1", "w2")
    val cb = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cw = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cw"))
    val v = tokenizedDocs(spark, dir)
      .select(explode(col("w")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    pairs.join(cb, Seq("w1", "w2")).join(cw, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        (-log((col("cb") + lit(1.0)) / (col("cw") + col("v")))).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 6).as("mean_nll"),
        round(exp(avg(col("nll"))), 4).as("ppl"))
  }

  /** Gopher-style NAMED quality rules (Rae et al. 2021, §A1.1) — the
    * rule-report complement to the continuous [[qualityScores]] axis: a
    * production filter chain wants each named heuristic auditable on
    * its own (which rule kills how many docs), not one blended score.
    * Each rule is exact integer arithmetic:
    *
    *   - `wc_ok`: word count within [minWords, maxWords];
    *   - `mwl_ok`: mean word length within [3, 10] — the text is
    *     single-space joined, so Σ|word| = len − (n−1) exactly and the
    *     bound cross-multiplies to integers (no division);
    *   - `alpha_ok`: ≥ 80% of words contain an alphabetic character
    *     (permille cross-multiplied);
    *   - `stop_ok`: ≥ 2 DISTINCT stopwords present (the
    *     boilerplate/gibberish tell);
    *   - `pass`: conjunction.
    *
    * Scale shape: map-only projection — one scan, no shuffle, no UDF
    * (HOF filters + length arithmetic, all codegen). Output:
    * (doc_id, n_words, wc_ok, mwl_ok, alpha_ok, stop_ok, pass).
    */
  def gopherRules(spark: SparkSession, dir: String, minWords: Int = 20,
      maxWords: Int = 1000): DataFrame = {
    val w = split(col("text"), " ")
    val n = size(w)
    val sumLen = length(col("text")) - (n - lit(1))
    val alphaWords = size(filter(w, t => t.rlike("[a-z]")))
    val nStops = size(array_intersect(array_distinct(w),
      array(stopwords.map(lit): _*)))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      n.cast("long").as("n_words"),
      (n >= minWords && n <= maxWords).as("wc_ok"),
      (sumLen >= n * 3 && sumLen <= n * 10).as("mwl_ok"),
      (alphaWords * 1000 >= n * 800).as("alpha_ok"),
      (nStops >= 2).as("stop_ok"))
      .withColumn("pass",
        col("wc_ok") && col("mwl_ok") && col("alpha_ok") && col("stop_ok"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999 — the smoothing inside KenLM, i.e. the actual LM a
    * CCNet-style perplexity filter runs):
    *
    *   P(w2|w1) = (c(w1,w2) − D)/c(w1·) + λ(w1)·P_cont(w2)
    *   λ(w1)    = D·N1+(w1,·)/c(w1·)
    *   P_cont   = N1+(·,w2) / |distinct bigram types|
    *
    * with absolute discount D = 0.75 (exactly representable in binary,
    * so the arithmetic replays bit-for-bit cross-engine). The
    * continuation probability — "how many contexts does w2 complete" —
    * is the statistic add-k smoothing ([[bigramSurprisal]]) cannot
    * express: a word frequent only inside one collocation ("Francisco")
    * scores low even though its raw unigram count is high. Scored as
    * the mean −ln P over each doc's bigrams plus its exp (perplexity).
    * Every scored bigram is seen (the corpus trains on itself), so
    * c − D > 0 and no max(·,0) clip is needed.
    *
    * Scale shape: identical plan class to [[bigramSurprisal]] — one
    * typed per-partition pair pass, then EVERY margin (c(w1·),
    * N1+(w1,·), N1+(·,w2), |types|) derives from the bigram-type table
    * by partial-aggregated rollups, never recounted from the corpus;
    * the type total reduces to ONE broadcast row; scoring is equi-joins
    * back + one doc_id rollup. Output: (doc_id, n_bigrams, kn_mean_nll
    * rounded 6, kn_ppl rounded 4) for docs with >= 2 tokens.
    */
  def kneserNeySurprisal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT widened (measured): the bigram pass feeds an immediate
    // pair-count shuffle, so the extra exchange bought nothing in
    // full-bench context (kneser 0.94 s unwidened vs 1.26-1.33 s
    // widened across three full runs)
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val w = t.split(" ", -1)
        (0 until w.length - 1).iterator.map(i => (id, w(i), w(i + 1)))
      })
      .toDF("doc_id", "w1", "w2")
    val cb = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cw = cb.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cw"), count(lit(1)).as("n1f"))
    val ct = cb.groupBy(col("w2")).agg(count(lit(1)).as("cont"))
    val b = cb.agg(count(lit(1)).as("b"))
    pairs.join(cb, Seq("w1", "w2")).join(cw, Seq("w1")).join(ct, Seq("w2"))
      .crossJoin(broadcast(b))
      .select(col("doc_id"),
        (-log(((col("cb") - lit(0.75)) +
          lit(0.75) * col("n1f") * col("cont") / col("b")) / col("cw")))
          .as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 6).as("kn_mean_nll"),
        round(exp(avg(col("nll"))), 4).as("kn_ppl"))
  }

  /** PMI collocation mining — the corpus's strongest word
    * associations: adjacent word pairs ranked by pointwise mutual
    * information PMI = ln(c(w1,w2)·N / (c(w1)·c(w2))), the classic
    * collocation statistic. Surfaces multi-word entities and templated
    * phrases (tokenizer-merge candidates; boilerplate detectors key on
    * the same list), with a `minCount` floor to kill the
    * rare-pair-PMI explosion.
    *
    * Determinism: PMI is quantized to integer micro-nats (round 1e6)
    * so the top-k cut and the output column are exact; ties break on
    * the ngram string, so the cut is total.
    *
    * Scale shape: one typed per-partition bigram pass (the Spark 4
    * HOF trap again) into a partial-aggregated count shuffle; unigram
    * margins come from the memoized token cache; the totals reduce to
    * ONE broadcast row; final cut is TakeOrdered(k), never a global
    * sort. Output: (ngram, n_pair, pmi_micro) — top `topK` by PMI.
    */
  def pmiCollocations(spark: SparkSession, dir: String,
      minCount: Long = 5L, topK: Int = 20): DataFrame = {
    import spark.implicits._
    // NOT widened (measured): the bigram pass feeds an immediate
    // pair-count shuffle, so the extra exchange bought nothing in
    // full-bench context (kneser 0.94 s unwidened vs 1.26-1.33 s
    // widened across three full runs)
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (_, t) =>
        val w = t.split(" ", -1)
        (0 until w.length - 1).iterator.map(i => (w(i), w(i + 1)))
      })
      .toDF("w1", "w2")
    val cb = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
    val uni = tokenizedDocs(spark, dir)
      .select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val tot = cb.agg(sum(col("cab")).as("nb"))
    cb.filter(col("cab") >= minCount)
      .join(uni.select(col("t").as("w1"), col("c").as("ca")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("cb2")), "w2")
      .crossJoin(broadcast(tot))
      .select(concat_ws(" ", col("w1"), col("w2")).as("ngram"),
        col("cab").as("n_pair"),
        round(log((col("cab").cast("double") * col("nb")) /
          (col("ca").cast("double") * col("cb2"))) * 1e6, 0)
          .cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("ngram").asc)
      .limit(topK)
  }

  /** TF-IDF top terms per document — the sparse lexical feature a
    * retrieval/clustering pipeline materializes next to the dense
    * embedding: score(d,t) = (tf/dl) · ln(N/df), top `kTerms` per doc
    * by (rounded score desc, term asc). The rank tie-break is the term
    * itself (unique within a doc after the tf groupBy), so the window
    * ordering is total and [[graft.plans.RewriteWindowTopK]] fires in
    * its no-flag auto mode — the declared query plans to the bounded
    * heap, not a full per-doc sort.
    *
    * Scale shape: tf, dl, and df are partial-aggregated equi-shuffles
    * on (doc,term)/doc/term; N reduces to one broadcast row; no
    * all-pairs stage anywhere. Output: (doc_id, term, score, rk).
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, kTerms: Int = 3): DataFrame = {
    val tok = tokenizedDocs(spark, dir)
      .select(col("doc_id"), explode(col("w")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val dl = tf.groupBy("doc_id").agg(sum(col("c")).cast("double").as("dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).cast("double").as("nd"))
    val scored = tf.join(dl, "doc_id").join(dfT, "term")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"),
        round((col("c").cast("double") / col("dl")) * log(col("nd") / col("df")), 6)
          .as("score"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rk") <= kTerms)
  }

  /** C4-style span-level dedup: split every document into consecutive
    * `span`-word chunks, keep only each chunk's globally FIRST occurrence
    * (ordered by (doc_id, chunk index)), and reconstruct the cleaned
    * text from the surviving chunks — the "remove any duplicated span
    * from later documents" rule corpus pipelines apply below document
    * granularity. Output: (doc_id, clean_text, n_spans, n_kept).
    *
    * Scale shape: one shuffle keyed by chunk to elect the first
    * occurrence (min position key — partial-aggregatable), one join back
    * on (chunk, position), one per-doc reassembly aggregation. No
    * all-pairs stage; state per chunk is a single 64-bit position key.
    * At 100 TB the chunk column would be a 64-bit hash with the text
    * carried only on the survivor side — same plan shape.
    */
  def spanDedup(spark: SparkSession, dir: String, span: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = split(col("text"), " ")
    val nChunks = ceil(size(w).cast("double") / span).cast("int")
    // position key: doc_id * 1e6 + idx gives a single orderable long
    // (documented bound: < 1e6 chunks per document)
    val chunks = docs
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), greatest(nChunks, lit(1)) - 1),
          i => array_join(slice(w, i * span + 1, lit(span)), " "))))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "chunk")
      .withColumn("pk", col("doc_id") * 1000000L + col("idx"))
    val first = chunks.groupBy(col("chunk")).agg(min(col("pk")).as("mk"))
      .select(col("chunk").as("f_chunk"), col("mk"))
    val kept = chunks.join(first,
      col("chunk") === col("f_chunk") && col("pk") === col("mk"))
      .select(col("doc_id"), col("idx"), col("chunk"))
    val reassembled = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("clean_text"))
    val totals = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"))
      .join(totals, "doc_id")
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_spans"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Inverted-index construction — the retrieval structure BM25/phrase
    * queries read from, materialized as a table: per term, the document
    * frequency `df`, collection frequency `cf`, and a capped posting
    * segment `postings` ("doc:tf,doc:tf,…" ordered by doc_id).
    *
    * Scale shape: collection stats (df/cf) are plain partial-aggregatable
    * sums — never capped, one shuffle keyed by term. The materialized
    * posting list is capped at `maxPostings` entries per term via the
    * bounded-heap [[graft.plans.TopKPerGroup]] (lowest doc_ids — the
    * first segment, the way real engines cut postings into fixed-size
    * segment blocks), so no term ever concentrates an unbounded list in
    * one reducer row and there is no full per-term sort. At 100 TB the
    * segment cap is the page size and terms stay hash-distributed.
    */
  def invertedIndex(spark: SparkSession, dir: String, minDf: Int = 50,
      maxPostings: Int = 16): DataFrame = {
    val tf = tokenizedDocs(spark, dir)
      .select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val capped = graft.plans.GraftOps.topKPerGroup(tf, Seq("term"),
      Seq("doc_id" -> true), maxPostings)
    val postings = capped.groupBy(col("term"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("doc_id"), col("tf")))),
        s => concat(s.getField("doc_id").cast("string"), lit(":"),
          s.getField("tf").cast("string"))), ",").as("postings"))
    stats.filter(col("df") >= minDf).join(postings, "term")
      .select(col("term"), col("df"), col("cf"), col("postings"))
  }

  /** Positional phrase search: documents containing the words of
    * `phrase` at consecutive positions, with the occurrence count.
    * Each word is one leg over the positional token relation with its
    * position re-based to the phrase start (`pos - i`), and legs
    * equi-join on (doc_id, start) — the standard positional-postings
    * intersection, generalized to any phrase length by folding joins.
    *
    * Scale shape: the per-term filters are highly selective and sit
    * directly on the token scan (dictionary terms prune before any
    * join); the n-1 joins are all keyed (doc_id, start) equi-joins over
    * already-small legs — never a cartesian or positions-unaware join.
    */
  def phraseSearch(spark: SparkSession, dir: String,
      phrase: Seq[String] = Seq("table", "hash")): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    val tok = tokenizedDocs(spark, dir)
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "term")))
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      tok.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
  }

  /** BPE (byte-pair-encoding) vocabulary induction — the tokenizer
    * TRAINING loop, run over the corpus word-frequency table the way
    * the original algorithm specifies (Sennrich et al. 2016: merges are
    * learned from unique words weighted by frequency, not from running
    * text). Output: the learned merge table (step, left, right,
    * pair_count), deterministic via the (count desc, pair asc)
    * tie-break.
    *
    * Distributed shape: the word-frequency table stays a Dataset end to
    * end — each of the `nMerges` rounds is (a) one flatMap+reduce pair
    * count (partial-aggregatable shuffle), (b) a distributed
    * TakeOrdered(1) for the argmax pair, (c) a map applying the merge.
    * Only the single winning pair crosses the driver per round — the
    * corpus never does. At 100 TB the word-freq table is ~millions of
    * rows (vocabulary-sized, not corpus-sized) and the same plan holds.
    * The merge loop is inherently iterative (each round depends on the
    * last), so rounds-not-rows is the only axis that serializes.
    */
  /** One left-to-right pass merging every (l, r) occurrence — shared by
    * the trainer's vocabulary updates and the encoder's greedy loop.
    */
  private def mergePair(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Trained merge table, memoized per (dataset, nMerges) like every
    * other one-time build — the declared query and the encoder both
    * read the cached result (Bench charges the training run to
    * bench_build_bpe).
    */
  /** Unigram-LM tokenizer training (the SentencePiece/Kudo-2018 family
    * — the OTHER production tokenizer next to [[bpeVocab]]'s BPE): a
    * substring seed vocabulary is re-estimated by fixed-round EM, each
    * E-step Viterbi-segmenting every distinct word under the current
    * piece probabilities and each M-step re-counting piece usage.
    *
    * Determinism (the repo-wide discipline): piece log-probs quantize
    * to integer nano-nats (round(ln(p)·1e9), add-1 smoothed), so every
    * Viterbi comparison is exact Long arithmetic in any order; score
    * ties prefer the longer last piece (smaller start index), making
    * the segmentation a pure function of the data. The declared query
    * is pinned by a generated-literal oracle; the spec replays the
    * whole EM driver-side and checks bit-equality.
    *
    * Scale shape: training runs on the word-FREQUENCY table (bounded
    * by the language, not the corpus — the [[bpeVocab]] argument);
    * seeding is one substring-expansion shuffle with a bounded top-V
    * cut, and each EM round is ONE map-only pass with the (tiny) piece
    * table broadcast, reduced by a partial-aggregated piece-count
    * shuffle of at most V rows per partition. Driver state is O(V).
    * Output: (piece, cnt, qlp) — the `topOut` highest-count pieces
    * (count desc, piece asc), qlp the final quantized log-prob.
    */
  def unigramVocab(spark: SparkSession, dir: String, vocabSize: Int = 500,
      iters: Int = 2, maxPiece: Int = 4, topOut: Int = 100): DataFrame = {
    import spark.implicits._
    trainedUnigram(spark, dir, vocabSize, iters, maxPiece)
      .take(topOut).toSeq.toDF("piece", "cnt", "qlp")
  }

  /** The memoized EM training itself — ONE train per (dataset, params)
    * however many consumers cut it ([[unigramVocab]]'s report,
    * [[unigramEncode]]'s full table). Driver state is O(V).
    */
  private def trainedUnigram(spark: SparkSession, dir: String,
      vocabSize: Int, iters: Int, maxPiece: Int): Array[(String, Long, Long)] =
    graft.IndexCache.getOrBuild(spark,
        "unigram-vocab", dir, vocabSize, iters, maxPiece) {
      import spark.implicits._
      val words = tokenizedDocs(spark, dir)
        .select(explode(col("w")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .as[(String, Long)]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // seed: substring counts weighted by word frequency; vocab = the
      // top-V by (count desc, piece asc) UNION all single chars (so
      // every word stays segmentable), like SentencePiece's seeding
      val seedCounts = words.flatMap { case (w, c) =>
        for {
          i <- w.indices.iterator
          l <- 1 to math.min(maxPiece, w.length - i)
        } yield (w.substring(i, i + l), c)
      }.toDF("piece", "c").groupBy(col("piece")).agg(sum(col("c")).as("c"))
      val top = seedCounts.orderBy(col("c").desc, col("piece").asc)
        .limit(vocabSize).as[(String, Long)].collect()
      val chars = seedCounts.filter(length(col("piece")) === 1)
        .as[(String, Long)].collect()
      var vocab: Array[(String, Long)] =
        (top ++ chars.filterNot(c => top.exists(_._1 == c._1)))
          .sortBy(_._1)
      var iter = 0
      while (iter < iters) {
        val bc = spark.sparkContext.broadcast(quantizedLogProbs(vocab))
        val used = words.mapPartitions { it =>
          val table = bc.value
          val acc = new java.util.HashMap[String, Long]()
          it.foreach { case (w, c) =>
            viterbiPieces(w, table, maxPiece).foreach { p =>
              acc.put(p, acc.getOrDefault(p, 0L) + c)
            }
          }
          acc.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue))
        }.toDF("piece", "c").groupBy(col("piece")).agg(sum(col("c")).as("c"))
          .as[(String, Long)].collect().toMap
        // vocab membership is fixed after seeding; unused pieces keep
        // count 0 and survive only through the add-1 smoothing (chars
        // must stay segmentable)
        vocab = vocab.map { case (p, _) => (p, used.getOrElse(p, 0L)) }
        iter += 1
      }
      val qlps = quantizedLogProbs(vocab)
      val out = vocab
        .sortBy { case (p, c) => (-c, p) }
        .map { case (p, c) => (p, c, qlps(p)) }
      words.unpersist(blocking = false)
      out
    }

  /** Add-1-smoothed piece log-probs in integer nano-nats — the exact
    * arithmetic every Viterbi comparison runs on.
    */
  private[graft] def quantizedLogProbs(
      vocab: Array[(String, Long)]): Map[String, Long] = {
    val total = vocab.map(_._2).sum
    val v = vocab.length
    vocab.map { case (p, c) =>
      p -> math.round(math.log((c + 1.0) / (total + v.toDouble)) * 1e9)
    }.toMap
  }

  /** Deterministic Viterbi segmentation of one word: maximize the sum
    * of quantized piece log-probs; on a tie prefer the longer last
    * piece. Exact Long arithmetic, pure function of (word, table).
    */
  private[graft] def viterbiPieces(w: String, qlp: Map[String, Long],
      maxPiece: Int): Seq[String] = {
    val n = w.length
    if (n == 0) return Seq.empty
    val score = Array.fill(n + 1)(Long.MinValue)
    val back = new Array[Int](n + 1)
    score(0) = 0L
    var i = 1
    while (i <= n) {
      var l = math.min(maxPiece, i)
      // longest candidate first: on equal score the longer last piece
      // (smaller start) wins because strict > never replaces it
      while (l >= 1) {
        val start = i - l
        if (score(start) != Long.MinValue) {
          qlp.get(w.substring(start, i)) match {
            case Some(q) =>
              val s = score(start) + q
              if (s > score(i)) { score(i) = s; back(i) = start }
            case None => ()
          }
        }
        l -= 1
      }
      i += 1
    }
    if (score(n) == Long.MinValue) return Seq(w) // unsegmentable guard
    val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { pieces += w.substring(back(pos), pos); pos = back(pos) }
    pieces.reverse.toSeq
  }

  def bpeVocab(spark: SparkSession, dir: String, nMerges: Int = 10): DataFrame =
    graft.IndexCache.getOrBuild(spark, "bpe-table", dir, nMerges) {
      trainBpeVocab(spark, dir, nMerges)
    }

  /** BPE training always runs on the WORD-FREQUENCY table (vocabulary-
    * sized — ~1e7 rows even at 100 TB, orders of magnitude below the
    * corpus). Up to the `bpe-word-counts` registry bound the table is
    * BOUNDED BY CONSTRUCTION, and the 10-round merge loop pays ~10
    * sequential scheduler round-trips for milliseconds of actual work
    * (measured: bench_build_bpe ~15 s distributed, ~1 s driver-side at
    * sf0.1's 27k-word vocab) — so the [[graft.plans.GraftOps.driverOr]]
    * probe's rows train in a tight driver loop, bit-identical
    * tie-breaks included (a spec pins the two legs equal). Past the
    * bound the distributed loop runs unchanged.
    */
  private def trainBpeVocab(spark: SparkSession, dir: String,
      nMerges: Int): DataFrame = {
    import spark.implicits._
    val wordCounts = tokenizedDocs(spark, dir)
      .select(explode(col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    graft.plans.GraftOps.driverOr(wordCounts.as[(String, Long)],
        "bpe-word-counts")(trainBpeDriver(spark, _, nMerges))(
      trainBpeDistributed(spark, wordCounts, nMerges))
  }

  /** Under-bound driver-side BPE trainer: same argmax, same
    * (cnt desc, left asc, right asc) tie-break as the distributed leg —
    * string order compared on UTF-8 bytes to match Spark's binary
    * string ordering exactly.
    */
  private[graft] def trainBpeDriver(spark: SparkSession,
      wc: Array[(String, Long)], nMerges: Int): DataFrame = {
    import spark.implicits._
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }
    var cur: Array[(Seq[String], Long)] =
      wc.map { case (w, c) => (w.map(_.toString) :+ "</w>", c) }
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= nMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      cur.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.put(k, counts.getOrDefault(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var bl: String = null; var br: String = null; var bc = 0L
        counts.forEach { (k, v) =>
          if (bl == null || v > bc || (v == bc && (utf8Lt(k._1, bl) ||
              (k._1 == bl && utf8Lt(k._2, br))))) {
            bl = k._1; br = k._2; bc = v
          }
        }
        rules += ((step, bl, br, bc))
        cur = cur.map { case (syms, c) => (mergePair(syms, bl, br), c) }
        step += 1
      }
    }
    rules.toSeq.toDF("step", "left", "right", "pair_count")
  }

  private[graft] def trainBpeDistributed(spark: SparkSession,
      wordCounts: DataFrame, nMerges: Int): DataFrame = {
    import spark.implicits._
    // a handful of partitions beats shuffle-width task churn across
    // the merge rounds on the vocabulary-sized table
    var cur: Dataset[(Seq[String], Long)] = wordCounts
      .coalesce(8)
      .as[(String, Long)]
      .map { case (w, c) =>
        ((w.map(_.toString) :+ "</w>", c)): (Seq[String], Long) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var prev: Dataset[(Seq[String], Long)] = null
    var step = 1
    while (step <= nMerges) {
      // this argmax job also materializes `cur`'s cache (reading the
      // previous round's cache), so each round is ONE pass — no eager
      // count job per merge
      val top = cur.flatMap { case (syms, c) =>
        syms.indices.dropRight(1).map(i => (syms(i), syms(i + 1), c))
      }.groupBy(col("_1").as("l"), col("_2").as("r"))
        .agg(sum(col("_3")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      // `cur` is now cached, so the round BEFORE it can be dropped
      // (one-round deferral keeps every in-flight computation backed)
      if (prev != null) prev.unpersist(blocking = false)
      if (top.isEmpty) step = nMerges + 1
      else {
        val (bl, br, bc) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rules += ((step, bl, br, bc))
        val next = cur.map { case (syms, c) => (mergePair(syms, bl, br), c) }
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        prev = cur
        cur = next
        step += 1
      }
    }
    val out = rules.toSeq.toDF("step", "left", "right", "pair_count")
    cur.unpersist()
    out
  }

  /** Fuzzy (edit-distance) similarity self-join over the corpus-wide
    * token vocabulary — the entity-resolution / typo-clustering
    * primitive: ALL pairs of distinct tokens within Levenshtein
    * distance `maxDist`, mined across part names, part types, and
    * nation/region names (the engine's string-dimension vocabulary).
    *
    * Candidate generation is the FastSS/SymSpell deletion
    * neighborhood: each token emits every string reachable by deleting
    * up to `maxDist` characters; if lev(a,b) <= d then deleting the
    * edited positions from each side lands both on a common variant,
    * so a key-equality join is a LOSSLESS candidate generator (unlike
    * prefix/first-char blocking) and the exact DP afterwards removes
    * the false positives. The declared oracle is the UNBLOCKED
    * brute-force pair set — equality proves losslessness.
    *
    * Scale notes (100 TB thinking):
    *   - Vocabulary extraction is a partial-aggregatable DISTINCT — at
    *     any corpus size the vocab relation is bounded by the language,
    *     not the row count (a 100 TB text corpus still has ~1e7
    *     tokens), and key expansion is O(len^maxDist) per token over
    *     that bounded relation, map-only.
    *   - The candidate join is an EQUI-join on the variant key — never
    *     a cartesian product; pairs dedup BEFORE the DP so
    *     `levenshtein` (Spark's codegen'd built-in, same classic DP as
    *     the oracle's) runs once per candidate pair.
    */
  /** The engine's string-dimension vocabulary: distinct lowercase
    * tokens across part names/types and nation/region names (the
    * corpus [[fuzzyWordPairs]] and [[typoClusters]] mine).
    */
  def tokenVocabulary(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    part.select(explode(split(col("p_name"), " ")).as("w"))
      .unionByName(part.select(explode(split(col("p_type"), " ")).as("w")))
      .unionByName(Tables.nation(spark, dir).select(col("n_name").as("w")))
      .unionByName(Tables.region(spark, dir).select(col("r_name").as("w")))
      .select(lower(col("w")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
  }

  def fuzzyWordPairs(spark: SparkSession, dir: String,
      maxDist: Int = 2): DataFrame = {
    import spark.implicits._
    val vocab = tokenVocabulary(spark, dir)
    // the keyed variant table is SELF-joined below — materialize it once
    // (it is the ed-join's index; persisting it is the right call at any
    // vocabulary size, and skipping it would recompute the scan +
    // distinct + expansion for each join side)
    val keyed = graft.IndexCache.persisted(spark, "fuzzy-keyed", dir, maxDist) {
      vocab.as[String].flatMap { w =>
        val seen = scala.collection.mutable.LinkedHashSet(w)
        var frontier: Set[String] = Set(w)
        var d = 0
        while (d < maxDist) {
          frontier = frontier.flatMap(s =>
            (0 until s.length).map(i => s.substring(0, i) + s.substring(i + 1)))
          seen ++= frontier
          d += 1
        }
        seen.iterator.map(k => (k, w))
      }.toDF("key", "w")
    }
    // the verified PAIR relation is read by several declared rows (the
    // pair row itself, the typo dictionary, the cluster labeling) — r10
    // measured the join+levenshtein+distinct recomputing per consumer
    // as the heaviest declared row, so the pairs memoize like `keyed`,
    // charged to bench_build_fuzzy (vocab-bounded: |pairs| << |vocab|²
    // by the deletion-key blocking)
    graft.IndexCache.persisted(spark, "fuzzy-pairs", dir, maxDist) {
      keyed.toDF("key", "w1")
        .join(keyed.toDF("key", "w2"), Seq("key"))
        .filter(col("w1") < col("w2"))
        .select("w1", "w2").distinct()
        .withColumn("dist", levenshtein(col("w1"), col("w2")))
        .filter(col("dist") <= maxDist)
        .select(col("w1"), col("w2"), col("dist").cast("long").as("dist"))
    }
  }

  /** Prefix-blocked Jaro-Winkler similarity join over the same token
    * vocabulary — the record-linkage companion to [[fuzzyWordPairs]]:
    * edit distance treats all typos equally, Jaro-Winkler weights the
    * shared prefix, the signal name-matching pipelines key on.
    *
    * The similarity is the custom codegen'd Catalyst scalar
    * [[graft.functions.JaroWinkler]], exercised here through its
    * SQL-registered form (`graft_jaro_winkler`) so the declared query
    * covers the extension surface end to end. Candidates are blocked
    * on the first two characters plus a +/-2 length band (identical
    * blocking in the oracle — the comparison is over the same
    * candidate set by construction; pairs with no common 2-prefix are
    * out of scope of this query's linkage definition).
    *
    * Determinism: both engines implement the same standard
    * Jaro-Winkler (0.7 boost threshold, 4-char prefix cap, p=0.1);
    * the filter compares the ROUNDED similarity so a last-ulp
    * difference at the threshold cannot flip membership.
    *
    * Scale: the self-join is an equi-join on the block key — Σ b² over
    * 2-char buckets, the classic blocked-linkage shape; at 100 TB the
    * block key would widen (first 2 chars + length) to keep bucket
    * skew bounded, same plan.
    */
  def jaroWinklerPairs(spark: SparkSession, dir: String,
      minSim: Double = 0.92): DataFrame = {
    graft.plans.GraftExtensions.install(spark)
    val vocab = tokenVocabulary(spark, dir).filter(length(col("w")) >= 4)
    val a = vocab.select(col("w").as("w1"),
      substring(col("w"), 1, 2).as("blk"))
    val b = vocab.select(col("w").as("w2"),
      substring(col("w"), 1, 2).as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("w1") < col("w2") &&
        abs(length(col("w1")) - length(col("w2"))) <= 2)
      .withColumn("jw", round(expr("graft_jaro_winkler(w1, w2)"), 6))
      .filter(col("jw") >= minSim)
      .select(col("w1"), col("w2"), col("jw"))
  }

  /** Typo/variant clusters: connected components of the
    * [[fuzzyWordPairs]] similarity graph, each token labeled with its
    * component's lexicographic minimum — the canonicalization step that
    * turns pairwise fuzzy matches into an entity-resolution dictionary
    * (composes the ed-join with the one driver union-find,
    * [[GraphOps.unionFind]]).
    *
    * Scale shape: the vocabulary (and so the edge set) is bounded by
    * the language, not the corpus, so the dictionary is built on the
    * driver only, under the vocabulary bound registered for its
    * `fuzzy-labels` memo family.
    */
  def typoClusters(spark: SparkSession, dir: String,
      maxDist: Int = 2): DataFrame =
    tokenVocabulary(spark, dir)
      .join(broadcast(typoLabelDictionary(spark, dir, maxDist)),
        Seq("w"), "left")
      .select(col("w"), coalesce(col("rep0"), col("w")).as("rep_w"))

  /** The (w, rep0) entity-resolution dictionary behind [[typoClusters]]
    * — collect the (vocab-bounded) fuzzy edge list, union-find it
    * driver-side, publish the labels as a persisted DataFrame. Memoized
    * and charged to `bench_build_fuzzy` so the declared cluster row
    * measures the dictionary JOIN, not dictionary construction.
    */
  def typoLabelDictionary(spark: SparkSession, dir: String,
      maxDist: Int = 2): DataFrame =
    graft.IndexCache.persisted(spark, "fuzzy-labels", dir, maxDist) {
      import spark.implicits._
      GraphOps.unionFind(fuzzyWordPairs(spark, dir, maxDist)
          .select("w1", "w2").as[(String, String)].collect())
        .toDF("w", "rep0")
    }

  private val ngramViewSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Word bigrams of every document through the CUSTOM Catalyst
    * Generator [[graft.functions.WordNgrams]], invoked from pure SQL
    * (`LATERAL VIEW graft_word_ngrams(text, 2)`) — the UDTF leg of the
    * extensibility surface (SURVEY.md §2.12). Map-only: the generator
    * plans through the same `Generate` operator as `explode`, one pass
    * per document, no intermediate array-of-arrays.
    */
  def wordNgramsSql(spark: SparkSession, dir: String, n: Int = 2): DataFrame = {
    graft.plans.GraftExtensions.install(spark)
    val v = s"graft_docs_ngrams_${ngramViewSeq.incrementAndGet()}"
    Tables.documents(spark, dir).createOrReplaceTempView(v)
    try spark.sql(
      s"""SELECT doc_id, pos, ngram
          FROM $v LATERAL VIEW graft_word_ngrams(text, $n) g AS pos, ngram""")
    finally spark.catalog.dropTempView(v)
  }

  /** Apply the trained BPE merge table to ENCODE every document — the
    * other half of the tokenizer lifecycle ([[bpeVocab]] trains; this
    * tokenizes). Standard greedy encoding: per word, repeatedly merge
    * the pair with the LOWEST merge rank until no trained pair
    * remains. Output: (doc_id, n_words, n_bpe_tokens).
    *
    * Scale shape: the merge table is nMerges rows — driver-tiny,
    * broadcast; encoding is a map-only typed pass over the cached
    * token arrays (no shuffle at all). The trained table is memoized
    * per (dataset, nMerges) so encode does not re-train.
    */
  def bpeEncode(spark: SparkSession, dir: String,
      nMerges: Int = 10): DataFrame = {
    import spark.implicits._
    val merges = graft.IndexCache.getOrBuild(spark,
        "bpe-merges", dir, nMerges) {
      bpeVocab(spark, dir, nMerges).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).map(t => (t._2, t._3)).toSeq
    }
    val bc = spark.sparkContext.broadcast(
      (merges, merges.zipWithIndex.toMap))
    tokenizedDocs(spark, dir).select(col("doc_id"), col("w"))
      .as[(Long, Seq[String])]
      .map { case (id, words) =>
        val (table, rank) = bc.value
        var nTok = 0L
        words.foreach { word =>
          var syms: Seq[String] = word.map(_.toString) :+ "</w>"
          var done = false
          while (!done) {
            var best = Int.MaxValue
            var i = 0
            while (i < syms.length - 1) {
              val rk = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
              if (rk < best) best = rk
              i += 1
            }
            if (best == Int.MaxValue) done = true
            else syms = mergePair(syms, table(best)._1, table(best)._2)
          }
          nTok += syms.length
        }
        (id, words.length.toLong, nTok)
      }.toDF("doc_id", "n_words", "n_bpe_tokens")
  }

  /** Corpus encoding under the trained unigram-LM tokenizer — the
    * serving half of [[unigramVocab]] (the [[bpeEncode]] twin): each
    * document's words Viterbi-segment under the trained piece table
    * and the piece count is the document's token cost under that
    * tokenizer. Same exact integer log-prob arithmetic as training,
    * so the encoding is a pure function of (corpus, params) — pinned
    * by a generated-literal oracle; words the table cannot cover fall
    * back to one piece (the single-char seed makes that unreachable
    * on the training corpus itself).
    *
    * Scale shape: the piece table is O(V) and broadcast; encoding is
    * one map-only pass (a tight per-word DP loop — a HOF here would
    * interpret per element, the measured Spark 4 trap), no shuffle.
    * Output: (doc_id, n_words, n_unigram_tokens).
    */
  def unigramEncode(spark: SparkSession, dir: String, vocabSize: Int = 500,
      iters: Int = 2, maxPiece: Int = 4): DataFrame = {
    import spark.implicits._
    // the FULL trained table (not the top-100 report cut); same memo
    // as the trainer, so this never re-trains
    val table = trainedUnigram(spark, dir, vocabSize, iters, maxPiece)
      .map { case (p, _, q) => p -> q }.toMap
    val bc = spark.sparkContext.broadcast(table)
    tokenizedDocs(spark, dir).select(col("doc_id"), col("w"))
      .as[(Long, Seq[String])]
      .map { case (id, words) =>
        val t = bc.value
        var nTok = 0L
        words.foreach { word =>
          nTok += viterbiPieces(word, t, maxPiece).length
        }
        (id, words.length.toLong, nTok)
      }.toDF("doc_id", "n_words", "n_unigram_tokens")
  }

  /** Term burstiness (Church-Gale index of dispersion): for the top
    * 30 terms by collection frequency, the variance-to-mean ratio of
    * per-document counts over ALL documents (zeros included) — the
    * signal that separates topical terms (bursty: absent from most
    * docs, repeated where present, VMR ≫ 1) from function words
    * (spread evenly, VMR ≈ 1). The feature a stopword-list builder or
    * a keyword scorer reads before trusting raw frequency.
    *
    * Exactness: VMR = (N·Σtf² − cf²)/(N·cf) — both sides exact longs
    * from one (doc, term) rollup plus a 1-row doc count; ONE final
    * division. Output: (term, cf, df, vmr rounded 6), top 30 by
    * (cf desc, term asc).
    */
  def termBurstiness(spark: SparkSession, dir: String,
      k: Int = 30): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "on")
    val tf = tokenizedDocs(spark, dir)
      .select(col("doc_id"), explode(col("w")).as("term"))
      .filter(!col("term").isin(stop: _*) && length(col("term")) >= 2)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val byTerm = tf.groupBy(col("term"))
      .agg(sum(col("tf")).as("cf"),
        sum(col("tf") * col("tf")).as("s2"),
        count(lit(1)).as("df"))
    val n = tokenizedDocs(spark, dir).agg(count(lit(1)).as("n_docs"))
    byTerm.crossJoin(broadcast(n))
      .select(col("term"), col("cf"), col("df"),
        round((col("n_docs") * col("s2") - col("cf") * col("cf"))
          .cast("double") / (col("n_docs") * col("cf")).cast("double"), 6)
          .as("vmr"))
      .orderBy(col("cf").desc, col("term").asc)
      .limit(k)
  }

  /** Per-document keyword extraction: each doc's top-3 terms by
    * TF-IDF (stopwords excluded, min df 2 so hapaxes/typos don't win
    * by rarity alone) — the metadata tag a corpus browser or a
    * retrieval debugger shows next to every document.
    *
    * Determinism: each (doc, term) score quantizes to integer
    * micro-units (tf·ln(N/df) — one fixed-shape double expression)
    * BEFORE ranking; ties break on term asc. The per-doc top-3 runs
    * through the bounded-heap [[graft.plans.TopKPerGroup]] — no
    * global sort, no window. Scale shape: one (doc, term) rollup, one
    * df rollup, a 1-row N attach, one clustering shuffle for the heap.
    * Output: (doc_id, term, score rounded 6, rk).
    */
  def keywordsPerDoc(spark: SparkSession, dir: String, k: Int = 3,
      minDf: Int = 2): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "on")
    val terms = tokenizedDocs(spark, dir)
      .select(col("doc_id"), explode(col("w")).as("term"))
      .filter(!col("term").isin(stop: _*) && length(col("term")) >= 2)
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val n = tokenizedDocs(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")) *
          1e6, 0).cast("long").as("score6"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("doc_id"),
      Seq("score6" -> false, "term" -> true), k)
      .select(col("doc_id"), col("term"),
        round(col("score6") / 1e6, 6).as("score"), col("rk"))
  }

  /** Tokenizer fertility sheet: corpus-level token economics of the
    * three tokenizers this engine trains/serves — whitespace words,
    * the BPE encoder, the unigram-LM encoder — as (tokenizer,
    * total_tokens, tokens_per_100_words). Fertility (tokens emitted
    * per word) is THE number that prices a corpus in training compute
    * under a given tokenizer; comparing the two learned tokenizers at
    * equal vocab budget is how one gets picked.
    *
    * Exactness: integer token totals from the (memoized, literal-
    * pinned) encode relations; the ratio quantizes ×100 with one
    * division per row. Scale: three already-built map-only encodes,
    * one tiny aggregate each. Declared with a generated-literal
    * oracle — the encodes are pure functions of the frozen corpus.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    def rowOf(name: String, df: DataFrame, tokCol: String): DataFrame =
      df.agg(sum(col("n_words")).as("w"), sum(col(tokCol)).as("t"))
        .select(lit(name).as("tokenizer"),
          col("t").cast("long").as("total_tokens"),
          round(col("t").cast("double") * 100.0 /
            col("w").cast("double"), 6).as("tokens_per_100_words"))
    val bpe = bpeEncode(spark, dir)
    rowOf("whitespace",
        bpe.select(col("n_words"), col("n_words").as("n_ws_tokens")),
        "n_ws_tokens")
      .unionAll(rowOf("bpe", bpe, "n_bpe_tokens"))
      .unionAll(rowOf("unigram", unigramEncode(spark, dir),
        "n_unigram_tokens"))
  }

  /** Fixed-size overlapping document chunking — the RAG/window-prep
    * primitive: `chunkSize`-word windows advancing by
    * `chunkSize - overlap`, the final chunk allowed short. Map-only:
    * chunk starts come from `sequence` + `transform` over the token
    * array, one pass per document, no shuffle; chunk count is
    * ceil(max(n - overlap, 1) / stride) so every token lands in >= 1
    * chunk and consecutive chunks share exactly `overlap` tokens.
    */
  def chunkDocuments(spark: SparkSession, dir: String,
      chunkSize: Int = 50, overlap: Int = 10): DataFrame = {
    val stride = chunkSize - overlap
    require(stride > 0, "chunkSize must exceed overlap")
    val w = split(col("text"), " ")
    val n = size(w)
    val nChunks = ceil(greatest(n - overlap, lit(1)).cast("double") / stride)
      .cast("int")
    Tables.documents(spark, dir)
      .select(col("doc_id"), w.as("w"), nChunks.as("k"))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("k") - 1)).as("i"), col("w"))
      .select(col("doc_id"), (col("i") + 1).as("chunk_idx"),
        slice(col("w"), col("i") * stride + 1, lit(chunkSize)).as("c"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("c")).as("n_tokens"),
        concat_ws(" ", col("c")).as("chunk_text"))
  }

  /** Document fingerprinting: whole-text rolling hash plus the minimum
    * word-5-gram shingle hash (the winnowing-style near-dup fingerprint).
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val wordHashes = transform(w, t => polyHash(t))
    val shingles = transform(sequence(lit(1), size(w) - 4), i =>
      aggregate(slice(col("wh"), i, lit(5)),
        lit(0L), (acc, h) => pmod(acc * 131 + h, lit(P))))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), wordHashes.as("wh"))
      .select(col("doc_id"),
        polyHash(col("text")).as("fp_text"),
        when(size(col("wh")) >= 5, array_min(shingles))
          .otherwise(lit(null).cast("long")).as("fp_min_shingle"))
  }

  /** WINNOWING fingerprint selection (Schleimer, Wilkerson & Aiken
    * 2003, SIGMOD — the MOSS algorithm): over each document's word
    * `k`-gram shingle-hash sequence, slide a window of `window`
    * shingles and select the MINIMUM hash per window, breaking ties to
    * the RIGHTMOST position; the distinct selected (pos, hash) pairs
    * are the document's fingerprint set. The guarantee the global-min
    * fingerprint ([[fingerprints]]) lacks: any shared substring of
    * length ≥ k + window − 1 words produces at least one shared
    * SELECTED hash, while the selected set stays a ~2/(window+1)
    * density sample — position-robust local dedup evidence, bounded
    * storage. Reference behavioral anchor: the reference's dedup
    * surface hashes whole texts only; winnowing is the substring-robust
    * extension (Schleimer et al. 2003, §4).
    *
    * Scale shape: map-only per document (nested HOFs, no UDF) — the
    * shingle fold, window minima, and rightmost-tie scan are all
    * array expressions over each row; the corpus never shuffles.
    * Memoized + persisted per (dataset, k, window) like the gram sets
    * ([[Dedup.gramSets]]): [[winnowingPairs]] and
    * [[winnowingContainment]] both consume this relation, so the
    * per-doc HOF chain runs once per dataset, not once per consumer.
    * Output: (doc_id, pos, h), one row per selected fingerprint.
    */
  def winnowingFingerprints(spark: SparkSession, dir: String, k: Int = 5,
      window: Int = 4): DataFrame =
    graft.IndexCache.persisted(spark, "winnow-fp", dir, k, window) {
      winnowingOf(Tables.documents(spark, dir), k, window)
    }

  private[graft] def winnowingOf(docs: DataFrame, k: Int,
      window: Int): DataFrame = {
    // ONE typed pass per document (replaces a nested-HOF chain that
    // materialized the word-hash, shingle, per-window slice, and
    // selection arrays — measured 3.4x slower at sf0.1): rolling
    // shingle fold, window minima with the rightmost-tie scan, distinct
    // (pos, h) via a small LinkedHashSet. Bit-identical to the HOF
    // form — TextOpsSpec replays the selection driver-side.
    import docs.sparkSession.implicits._
    val mod = P
    docs
      .select(col("doc_id"), col("text"))
      // the per-doc scan is the cost: spread it across cores even when
      // the corpus arrives as one input split (tiny shuffle of the raw
      // two-column rows, then embarrassingly parallel)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val ws = text.split(" ", -1)
        if (ws.length < k + window - 1) Iterator.empty
        else {
          val wh = new Array[Long](ws.length)
          var i = 0
          while (i < ws.length) {
            var a = 0L
            val t = ws(i)
            // fold over Unicode CODE POINTS, not UTF-16 units — the HOF
            // form (ascii over split) and the DuckDB oracle (unicode(c))
            // both hash code points, and supplementary-plane characters
            // (emoji, rare CJK) occupy two UTF-16 units
            var c = 0
            while (c < t.length) {
              val cp = t.codePointAt(c)
              a = (a * 31 + cp) % mod
              c += Character.charCount(cp)
            }
            wh(i) = a
            i += 1
          }
          val m = wh.length - (k - 1)
          val sh = new Array[Long](m)
          i = 0
          while (i < m) {
            var a = 0L
            var j = 0
            while (j < k) { a = (a * 131 + wh(i + j)) % mod; j += 1 }
            sh(i) = a
            i += 1
          }
          val out = new java.util.LinkedHashSet[(Long, Long)]()
          var j = 0
          while (j <= m - window) {
            var mn = sh(j)
            var pos = j
            var t = j + 1
            while (t < j + window) { // rightmost tie: <= keeps the later
              if (sh(t) <= mn) { mn = sh(t); pos = t }
              t += 1
            }
            out.add(((pos + 1).toLong, mn)) // 1-based, as the oracle folds
            j += 1
          }
          val it = out.iterator()
          new Iterator[(Long, Long, Long)] {
            def hasNext = it.hasNext
            def next() = { val (p, h) = it.next(); (id, p, h) }
          }
        }
      })
      .toDF("doc_id", "pos", "h")
  }

  /** Cross-document WINNOWING match pairs — the plagiarism-detection /
    * near-dup join over [[winnowingFingerprints]]: documents sharing at
    * least `minShared` distinct selected hashes, after dropping hashes
    * selected in more than `maxDf` documents (the MOSS "too common to
    * be evidence" cut, which is also what bounds the join: every
    * surviving hash bucket fans out ≤ maxDf·(maxDf−1)/2 pairs, so the
    * pair relation is banded — never all-pairs — and hot boilerplate
    * shingles cannot skew a bucket at any corpus size).
    *
    * Plan shape: the selection computes ONCE — one groupBy-hash shuffle
    * folds each bucket to its `collect_set` of doc ids (bounded by the
    * df cap check downstream), and the pairs expand IN the bucket via
    * array HOFs — no self-join, so no second shuffle and no duplicate
    * evaluation of the per-doc fingerprint chain.
    * Output: (doc_a, doc_b, n_shared).
    */
  def winnowingPairs(spark: SparkSession, dir: String, k: Int = 5,
      window: Int = 4, maxDf: Int = 64, minShared: Int = 2): DataFrame =
    // memoized at the declared operating point — the pair relation is
    // consumed by the pair row, the containment row, and BOTH detector
    // cross-checks (the containment-pairs discipline)
    if (k == 5 && window == 4 && maxDf == 64 && minShared == 2)
      graft.IndexCache.persisted(spark, "winnow-pairs", dir) {
        minedWinnowingPairs(spark, dir, k, window, maxDf, minShared)
      }
    else minedWinnowingPairs(spark, dir, k, window, maxDf, minShared)

  private def minedWinnowingPairs(spark: SparkSession, dir: String, k: Int,
      window: Int, maxDf: Int, minShared: Int): DataFrame = {
    val buckets = winnowingFingerprints(spark, dir, k, window)
      .groupBy(col("h"))
      .agg(collect_set(col("doc_id")).as("docs"))
      .filter(size(col("docs")).between(2, maxDf))
      .select(array_sort(col("docs")).as("ds"))
    val pairs = flatten(transform(sequence(lit(1), size(col("ds")) - 1),
      i => transform(slice(col("ds"), i + 1, size(col("ds"))), b =>
        struct(element_at(col("ds"), i.cast("int")).as("doc_a"),
          b.as("doc_b")))))
    buckets.select(explode(pairs).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** ASYMMETRIC winnowing containment — quote/inclusion detection over
    * the selected-fingerprint sets: for each matching pair, what share
    * of EACH document's winnowed fingerprints the other side covers
    * (Broder's containment, on winnowing's position-robust selection
    * instead of full shingle sets). A near-100‰ one-sided containment
    * with a low symmetric overlap is the quotation/subset signature
    * Jaccard-style dedup misses. Integer permille off the same
    * df-capped bucket machinery as [[winnowingPairs]].
    *
    * Join orientation (the side that broadcasts): the per-document
    * fingerprint-count relation `sizes` is CORPUS-sized (one row per
    * document — multi-GB at 10⁹ docs), so it must never broadcast;
    * the df-capped PAIR relation is the designed small side and is the
    * broadcast build side for both lookups. `sizes` streams through
    * each BroadcastHashJoin exactly once, map-side — no corpus-sized
    * exchange anywhere in the plan (pinned by WinnowingSpec).
    * Output: (doc_a, doc_b, n_shared, cont_a_permille,
    * cont_b_permille).
    */
  def winnowingContainment(spark: SparkSession, dir: String, k: Int = 5,
      window: Int = 4, maxDf: Int = 64, minShared: Int = 2): DataFrame = {
    val fp = winnowingFingerprints(spark, dir, k, window)
      .select(col("doc_id"), col("h")).distinct()
    val sizes = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    val pairs = winnowingPairs(spark, dir, k, window, maxDf, minShared)
    val withA = sizes.select(col("doc_id").as("doc_a"), col("nfp").as("na"))
      .join(broadcast(pairs), Seq("doc_a"))
    sizes.select(col("doc_id").as("doc_b"), col("nfp").as("nb"))
      .join(broadcast(withA), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("n_shared * 1000 div na").as("cont_a_permille"),
        expr("n_shared * 1000 div nb").as("cont_b_permille"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): per
    * document, PageRank over the word co-occurrence graph (window 2 —
    * adjacent distinct words, undirected, self-loops excluded, DISTINCT
    * neighbor sets) and the top-3 words by final score — the unsupervised
    * keyword step a training pipeline runs for topic tagging and
    * dataset cards, and the graph×text composition of the suite: the
    * same random-walk recurrence as [[GraphOps.pageRank]], but over a
    * million tiny per-document graphs instead of one big one.
    *
    * Exactness: the walk runs in EXACT INTEGER micro-units — scores
    * start at 1e6 and each of the 3 fixed iterations applies
    * `s'(w) = 150000 + (850 · Σ_{v∈N(w)} (s(v) div deg(v))) div 1000`
    * (integer floor division at both points, the damping 0.85/0.15
    * split in thousandths), so every intermediate is a BIGINT and the
    * DuckDB oracle unrolls the identical recurrence relationally.
    * Ties in the final ranking break to the lexicographically smaller
    * word.
    *
    * Scale shape: each document's graph is bounded by its own length,
    * so the whole extraction is ONE map-only typed pass — zero
    * shuffle, zero state, embarrassingly parallel at any corpus size
    * (the per-doc twin of the cluster-wide PageRank, which shuffles
    * per iteration because its ONE graph spans the corpus).
    * Output: (doc_id, rk, keyword, score).
    */
  def textrankKeywords(spark: SparkSession, dir: String, iters: Int = 3,
      topK: Int = 3): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select("doc_id", "text").as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val w = text.split(" ", -1)
          val words = w.distinct.sorted
          val idx = words.zipWithIndex.toMap
          val nbrs = Array.fill(words.length)(
            scala.collection.mutable.SortedSet.empty[Int])
          var i = 0
          while (i < w.length - 1) {
            if (w(i) != w(i + 1)) {
              val a = idx(w(i)); val b = idx(w(i + 1))
              nbrs(a) += b; nbrs(b) += a
            }
            i += 1
          }
          val deg = nbrs.map(_.size.toLong)
          var s = Array.fill(words.length)(1000000L)
          var t = 0
          while (t < iters) {
            val contrib = Array.tabulate(words.length)(j =>
              if (deg(j) > 0) s(j) / deg(j) else 0L)
            val next = new Array[Long](words.length)
            var j = 0
            while (j < words.length) {
              var sum = 0L
              nbrs(j).foreach(v => sum += contrib(v))
              next(j) = 150000L + (850L * sum) / 1000L
              j += 1
            }
            s = next
            t += 1
          }
          words.indices
            .sortBy(j => (-s(j), words(j)))
            .take(topK)
            .zipWithIndex
            .map { case (j, r) => (id, r + 1, words(j), s(j)) }
        }
      }.toDF("doc_id", "rk", "keyword", "score")
  }
}
