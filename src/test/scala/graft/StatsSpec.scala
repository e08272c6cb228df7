package graft

import org.apache.spark.sql.functions._

import graft.operators.Stats

class StatsSpec extends SparkSpec {

  test("correlation matrix equals Spark's builtin corr per pair") {
    val got = Stats.correlationMatrix(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(got.size == 6)
    val li = Tables.lineitem(spark, sf0001)
    got.keys.foreach { case (a, b) =>
      val builtin = li.agg(corr(col(a), col(b))).head().getDouble(0)
      // builtin corr runs on raw doubles (merge-order co-moments); the
      // declared output is rounded to 6dp, so agreement is bounded by
      // that rounding granularity
      assert(math.abs(got((a, b)) - builtin) < 5e-7,
        s"corr($a, $b): ${got((a, b))} vs builtin $builtin")
    }
  }

  test("PSI by source: one row per source, near-zero for a self-similar corpus, shift detection") {
    import spark.implicits._
    val got = Stats.psiBySource(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    val nSources = Tables.documents(spark, sf0001)
      .select("source").distinct().count()
    assert(got.size == nSources, s"one PSI row per source, got ${got.size}")
    // fixture sources draw from the same generator — no true drift.
    // At 25 docs/source the sampling noise floor is E[PSI] ~ (B-1)/n
    // = 0.16, so the bound is noise-aware, not the production 0.1 band
    got.foreach { case (s, psi) =>
      assert(psi >= 0.0 && psi < 0.5, s"source $s unexpectedly drifted: $psi")
    }
    // sensitivity: recomputing with one source's docs biased to the
    // bottom quality bin must push that source's PSI above the corpus
    // sources' — build a synthetic frame through the same binning math
    val base = Tables.documents(spark, sf0001)
    val drifted = base.withColumn("text",
      when(col("source") === "src0", lit("x1 y2 z3")).otherwise(col("text")))
    val dir = graft.streaming.OneShot.tempDir("graft-psi")
    drifted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shifted = Stats.psiBySource(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    val others = shifted.filter(_._1 != "src0").values
    assert(shifted("src0") > 0.25 && others.forall(_ < shifted("src0")),
      s"planted drift must dominate: ${shifted.toSeq.sortBy(_._1)}")
  }

  test("gini coefficient matches a driver-side rank-formula replay") {
    val row = Stats.giniCoefficient(spark, sf0001).head()
    val (gini, n) = (row.getDouble(0), row.getLong(1))
    val per = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), round(col("o_totalprice") * 100, 0)
        .cast("long").as("c"))
      .groupBy("o_custkey").agg(sum(col("c")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = per.sortBy { case (k, c) => (c, k) }
    val sx = sorted.map(_._2).map(BigInt(_)).sum
    val srx = sorted.zipWithIndex
      .map { case ((_, c), i) => BigInt(i + 1) * c }.sum
    val want = ((2 * srx - (n + 1) * sx).toDouble / (n * sx).toDouble)
    assert(n == per.length)
    assert(gini >= 0.0 && gini < 1.0)
    assert(math.abs(gini - want) < 5e-7, s"$gini vs $want")
  }

  test("benford digit profile is a complete, normalized distribution") {
    val rows = Stats.benfordDigits(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).sorted.toSeq == (1 to 9))
    val nOrders = Tables.orders(spark, sf0001).count()
    assert(rows.map(_._2).sum == nOrders)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    rows.foreach { case (d, _, _, exp) =>
      assert(math.abs(exp - math.log10(1.0 + 1.0 / d)) < 5e-7)
    }
    // Benford's law itself: the expectations sum to 1 exactly
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
  }

  test("chi-square statistic matches a driver-side recomputation") {
    val out = Stats.chiSquareIndependence(spark, sf0001).head()
    val (chi2, dof, n) = (out.getDouble(0), out.getLong(1), out.getLong(2))

    val cells = Tables.orders(spark, sf0001)
      .join(Tables.customer(spark, sf0001),
        col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority", "c_mktsegment").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val rowT = cells.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val colT = cells.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    val total = cells.map(_._2).sum
    val micros = cells.map { case ((a, b), o) =>
      val e = rowT(a).toDouble * colT(b).toDouble / total.toDouble
      math.round(math.pow(o.toDouble - e, 2) / e * 1e6)
    }.sum
    assert(chi2 == micros / 1e6, s"$chi2 vs ${micros / 1e6}")
    assert(dof == (rowT.size - 1).toLong * (colT.size - 1))
    assert(n == total)
    assert(chi2 >= 0.0)
  }

  test("KS statistic replays a driver-side exact ECDF computation") {
    val row = graft.operators.Stats.ksQualityBySource(spark, sf0001).head()
    val (na, nb, d) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    assert(na > 0 && nb > 0 && d >= 0.0 && d <= 1.0)
    val docs = Tables.documents(spark, sf0001)
      .filter(col("source").isin("src0", "src1"))
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def q6(t: String): Long = {
      val w = t.split(" ", -1)
      val stop = Set("the", "a", "of", "and", "to", "in", "on")
      val stopR = w.count(stop) / w.length.toDouble
      val alphaR = t.count(c => c >= 'a' && c <= 'z') / t.length.toDouble
      val q = math.min(stopR * 2.0, 1.0) * 0.4 + alphaR * 0.3 +
        math.min(w.length / 50.0, 1.0) * 0.3
      math.round(q * 1e6)
    }
    val a = docs.filter(_._1 == "src0").map(d => q6(d._2)).sorted
    val b = docs.filter(_._1 == "src1").map(d => q6(d._2)).sorted
    val pooled = (a ++ b).distinct.sorted
    val dnum = pooled.map { x =>
      math.abs(a.count(_ <= x).toLong * b.length -
        b.count(_ <= x).toLong * a.length)
    }.max
    val expect = BigDecimal(dnum.toDouble / (a.length.toDouble * b.length))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(na == a.length && nb == b.length)
    assert(d == expect, s"$d vs $expect")
  }

  test("Mann-Whitney U replays driver-side tie-averaged rank sums") {
    val row = graft.operators.Stats.mannWhitneyQuality(spark, sf0001).head()
    val (na, nb, u2, eff) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
    assert(na > 0 && nb > 0 && eff >= 0.0 && eff <= 1.0)
    val docs = Tables.documents(spark, sf0001)
      .filter(col("source").isin("src0", "src1"))
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def q6(t: String): Long = {
      val w = t.split(" ", -1)
      val stop = Set("the", "a", "of", "and", "to", "in", "on")
      val q = math.min(w.count(stop) / w.length.toDouble * 2.0, 1.0) * 0.4 +
        t.count(c => c >= 'a' && c <= 'z') / t.length.toDouble * 0.3 +
        math.min(w.length / 50.0, 1.0) * 0.3
      math.round(q * 1e6)
    }
    val a = docs.filter(_._1 == "src0").map(d => q6(d._2))
    val b = docs.filter(_._1 == "src1").map(d => q6(d._2))
    // doubled tie-averaged rank sum for sample a over the pooled values
    val pooled = (a ++ b).sorted
    val r2a = a.map { x =>
      val below = pooled.count(_ < x)
      val tied = pooled.count(_ == x)
      2L * below + tied + 1L
    }.sum
    val expU2 = r2a - a.length.toLong * (a.length + 1L)
    assert(na == a.length && nb == b.length)
    assert(u2 == expU2, s"$u2 vs $expU2")
  }

  test("ANOVA F replays a driver-side quantized-mean scatter decomposition") {
    val docs = Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val stop = Set("the", "a", "of", "and", "to", "in", "on")
    def q6(t: String): Long = {
      val w = t.split(" ", -1)
      val q = math.min(w.count(stop) / w.length.toDouble * 2.0, 1.0) * 0.4 +
        t.count(c => c >= 'a' && c <= 'z') / t.length.toDouble * 0.3 +
        math.min(w.length / 50.0, 1.0) * 0.3
      math.round(q * 1e6)
    }
    def qr(x: Double) = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val byG = docs.groupBy(_._1).view.mapValues(_.map(d => q6(d._2))).toMap
    val n = docs.length.toLong
    val k = byG.size.toLong
    val g6 = qr(byG.values.flatten.sum.toDouble / n)
    var ssb = BigInt(0); var ssw = BigInt(0)
    byG.values.foreach { xs =>
      val ng = xs.length.toLong
      val s = xs.sum
      val m6 = qr(s.toDouble / ng)
      ssb += BigInt(ng) * (m6 - g6) * (m6 - g6)
      ssw += xs.map(x => BigInt(x) * x).sum -
        BigInt(2) * m6 * s + BigInt(ng) * m6 * m6
    }
    val expect = BigDecimal((ssb.toDouble / (k - 1)) /
      (ssw.toDouble / (n - k)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = graft.operators.Stats.anovaQualityBySource(spark, sf0001)
      .head()
    assert(row.getLong(0) == k && row.getLong(1) == n)
    assert(row.getLong(2) == ssb.toLong && row.getLong(3) == ssw.toLong)
    assert(row.getDouble(4) == expect)
    assert(row.getDouble(4) >= 0.0)
  }

  test("ANOVA contrasts replay driver-side; ordering and signs consistent") {
    val docs = Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val stop = Set("the", "a", "of", "and", "to", "in", "on")
    def q6(t: String): Long = {
      val w = t.split(" ", -1)
      val q = math.min(w.count(stop) / w.length.toDouble * 2.0, 1.0) * 0.4 +
        t.count(c => c >= 'a' && c <= 'z') / t.length.toDouble * 0.3 +
        math.min(w.length / 50.0, 1.0) * 0.3
      math.round(q * 1e6)
    }
    def qr(x: Double) = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val byG = docs.groupBy(_._1).view
      .mapValues(_.map(d => q6(d._2))).toMap
    val stats = byG.map { case (src, xs) =>
      val ng = xs.length.toLong
      val s = xs.sum
      (src, (ng, qr(s.toDouble / ng),
        xs.map(x => BigInt(x) * x).sum -
          BigInt(2) * qr(s.toDouble / ng) * s +
          BigInt(ng) * qr(s.toDouble / ng) * qr(s.toDouble / ng)))
    }
    val n = docs.length.toLong
    val k = byG.size.toLong
    val msw = stats.values.map(_._3).sum.toDouble / (n - k)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = (for {
      (a, (na, ma, _)) <- stats; (b, (nb, mb, _)) <- stats if a < b
    } yield {
      val z = r6((ma - mb).toDouble /
        math.sqrt(msw * (1.0 / na + 1.0 / nb)))
      (a, b, r6((ma - mb).toDouble / 1e6), z)
    }).toSeq.sortBy { case (a, b, _, z) => (-math.abs(z), a, b) }.take(10)
    val got = graft.operators.Stats.anovaContrasts(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got == expect)
    got.foreach { case (_, _, d, z) =>
      assert(math.signum(d) == math.signum(z))
    }
  }

  test("Cramér's V derives from the chi-square aggregate; bounded [0,1]") {
    val chi = graft.operators.Stats.chiSquareIndependence(spark, sf0001)
      .head()
    val (chi2, n) = (chi.getDouble(0), chi.getLong(2))
    val row = graft.operators.Stats.cramersV(spark, sf0001).head()
    assert(row.getDouble(0) == chi2)
    assert(row.getLong(1) == n)
    val v = row.getDouble(2)
    assert(v >= 0.0 && v <= 1.0, s"V out of range: $v")
    // priority x segment has 5 rows/5 cols -> min-1 = 4
    val expect = BigDecimal(math.sqrt(chi2 / (n.toDouble * 4.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(v == expect, s"$v vs $expect")
  }

  test("Spearman length-vs-quality replays driver-side tie-averaged rank correlation") {
    val got = graft.operators.Stats.spearmanLengthQuality(spark, sf0001)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got.nonEmpty)
    got.values.foreach { case (_, rho) =>
      assert(rho >= -1.0 && rho <= 1.0, s"rho out of range: $rho")
    }
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val stop = Set("the", "a", "of", "and", "to", "in", "on")
    def q6(t: String): Long = {
      val w = t.split(" ", -1)
      val q = math.min(w.count(stop) / w.length.toDouble * 2.0, 1.0) * 0.4 +
        t.count(c => c >= 'a' && c <= 'z') / t.length.toDouble * 0.3 +
        math.min(w.length / 50.0, 1.0) * 0.3
      math.round(q * 1e6)
    }
    docs.groupBy(_._1).foreach { case (source, ds) =>
      val xs = ds.map(d => d._2.split(" ", -1).length.toLong)
      val ys = ds.map(d => q6(d._2))
      // doubled tie-averaged rank of v within vs
      def r2(vs: Array[Long])(v: Long): Long =
        2L * vs.count(_ < v) + vs.count(_ == v) + 1L
      val rx = xs.map(r2(xs))
      val ry = ys.map(r2(ys))
      val n = BigInt(ds.length)
      def s(a: Array[Long]) = a.map(BigInt(_)).sum
      def sp(a: Array[Long], b: Array[Long]) =
        a.zip(b).map { case (u, v) => BigInt(u) * BigInt(v) }.sum
      val num = (n * sp(rx, ry) - s(rx) * s(ry)).toDouble
      val rho = num / math.sqrt((n * sp(rx, rx) - s(rx) * s(rx)).toDouble) /
        math.sqrt((n * sp(ry, ry) - s(ry) * s(ry)).toDouble)
      val expect = BigDecimal(rho)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (nGot, rhoGot) = got(source)
      assert(nGot == ds.length, s"$source: n $nGot vs ${ds.length}")
      assert(rhoGot == expect, s"$source: rho $rhoGot vs $expect")
    }
  }

  test("KS and Mann-Whitney plan window-free (range-partitioned CDFs)") {
    // the pooled distinct-score relation is grid-bounded (≤ 1e6+1 rows)
    // but its running CDFs now stamp via globalPrefixSum — no
    // unpartitioned Window operator may appear anywhere in either plan
    for ((name, df) <- Seq(
        "ks" -> graft.operators.Stats.ksQualityBySource(spark, sf0001),
        "mw" -> graft.operators.Stats.mannWhitneyQuality(spark, sf0001))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name still plans a window operator:\n$plan")
    }
  }

  test("JSD between sources: driver replay, symmetric pair coverage, " +
      "bounded by ln 2") {
    val bins = 8
    // driver replay of the binned histograms with the same quality expr
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def quality(t: String): Double = {
      val w = t.split(" ", -1)
      val stops = Set("the", "a", "of", "and", "to", "in", "on")
      val stopR = w.count(stops) / w.length.toDouble
      val alphaR = t.count(c => c >= 'a' && c <= 'z') / t.length.toDouble
      val q = math.min(stopR * 2.0, 1.0) * 0.4 + alphaR * 0.3 +
        math.min(w.length / 50.0, 1.0) * 0.3
      BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val binned = docs.map { case (s0, t) =>
      (s0, math.min(math.floor(quality(t) * bins).toInt, bins - 1))
    }
    val bySrc = binned.groupBy(_._1).view.mapValues { xs =>
      val h = new Array[Long](bins)
      xs.foreach { case (_, b) => h(b) += 1 }
      (h, xs.length.toLong)
    }.toMap
    val srcs = bySrc.keys.toSeq.sorted
    val expect = (for {
      sa <- srcs; sb <- srcs if sa < sb
    } yield {
      val (ha, na) = bySrc(sa); val (hb, nb) = bySrc(sb)
      val t12 = (0 until bins).map { b =>
        val pa = ha(b).toDouble / na.toDouble
        val pb = hb(b).toDouble / nb.toDouble
        val term = (if (ha(b) > 0) pa * math.log(2.0 * pa / (pa + pb)) else 0.0) +
          (if (hb(b) > 0) pb * math.log(2.0 * pb / (pa + pb)) else 0.0)
        BigDecimal(term * 1e12).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      (sa, sb) -> BigDecimal(t12.toDouble / 2e12)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }).toMap
    val got = graft.operators.Stats.jsdBySource(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == expect.keySet && got.nonEmpty)
    got.foreach { case (k, v) =>
      assert(v == expect(k), s"$k: got $v expect ${expect(k)}")
      // JSD in nats is bounded by ln 2 and never negative
      assert(v >= 0.0 && v <= math.log(2.0) + 1e-9, s"$k out of range: $v")
    }
  }

  test("bootstrap CI: driver replay of the deterministic Bayesian " +
      "bootstrap; interval brackets the mean") {
    def ph(str: String): Long =
      str.foldLeft(0L)((acc, c) =>
        math.floorMod(acc * 31 + c.toLong, 1000000007L))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def q0(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val orders = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), q0(r.getDouble(1) * 100)))
    val reps = (1 to 100).map { b =>
      var num = 0L; var den = 0L
      orders.foreach { case (k, x100) =>
        val h = ph(s"$k:bs$b")
        val h2 = math.floorMod(h * h + h, 1000000007L)
        val u = (h2.toDouble + 1.0) / 1000000008.0
        val w = -math.log(u)
        num += q0(w * x100.toDouble * 1000.0)
        den += q0(w * 1e9)
      }
      (b, num.toDouble * 1e6 / den.toDouble / 100.0)
    }.sortBy { case (b, m) => (m, b) }
    val expLo = r6(reps(2)._2)
    val expHi = r6(reps(97)._2)
    val expMean = r6(orders.map(_._2).sum / 100.0 / orders.length)
    val row = graft.operators.Stats.bootstrapCiOrderValue(spark, sf0001)
      .collect()(0)
    assert(row.getLong(0) == orders.length)
    assert(row.getDouble(1) == expMean, s"mean ${row.getDouble(1)} vs $expMean")
    assert(row.getDouble(2) == expLo, s"lo95 ${row.getDouble(2)} vs $expLo")
    assert(row.getDouble(3) == expHi, s"hi95 ${row.getDouble(3)} vs $expHi")
    // the interval is proper and brackets the point estimate
    assert(row.getDouble(2) < row.getDouble(1) &&
      row.getDouble(1) < row.getDouble(3),
      s"CI [${row.getDouble(2)}, ${row.getDouble(3)}] vs mean ${row.getDouble(1)}")
  }

  test("daily PSI drift: non-negative, near-zero on identical days, " +
      "large on a planted shift") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // day 0 and day 1 share one distribution; day 2 shifts all mass to
    // the high-value bins
    def day(d: Long, values: Seq[Double]) = values.zipWithIndex.map {
      case (v, i) => (d * 86400000000L + i * 1000L, "purchase", v)
    }
    val rows = day(0, Seq.fill(50)(10.0) ++ Seq.fill(50)(60.0)) ++
      day(1, Seq.fill(50)(10.0) ++ Seq.fill(50)(60.0)) ++
      day(2, Seq.fill(100)(310.0))
    val dirTmp = graft.streaming.OneShot.tempDir("psidrift")
    rows.toDF("us", "event_type", "value")
      .select(timestamp_micros(col("us")).as("ts"), col("event_type"),
        col("value"), lit(1L).as("user_id"), lit(1L).as("event_id"))
      .write.mode("overwrite").parquet(s"$dirTmp/events.parquet")
    val got = graft.operators.Stats.psiDriftDaily(spark, dirTmp)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.keySet == Set(1L, 2L), got.toString)
    got.values.foreach(psi => assert(psi >= -1e-6, s"negative PSI: $got"))
    assert(got(1L) < 0.01, s"identical days must read ~0: $got")
    assert(got(2L) > 1.0, s"planted shift must read large: $got")
    // fixture run: every day with a predecessor appears, psi >= 0
    val fx = graft.operators.Stats.psiDriftDaily(spark, sf0001).collect()
    assert(fx.nonEmpty)
    fx.foreach(r => assert(r.getDouble(3) >= -1e-6))
  }

  test("ks-fdr: BH q-values replay driver-side, monotone in rank") {
    val rows = Stats.ksFdrBySource(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getInt(5)))
    val m = rows.length
    val s = graft.Tables.documents(spark, sf0001)
      .select("source").distinct().count().toInt
    assert(m == s * (s - 1) / 2, s"$s sources -> C(s,2) pairs, got $m")
    // driver BH replay from the raw p values
    val sorted = rows.sortBy(t => (t._4, t._1, t._2))
    val qs = sorted.zipWithIndex.map { case (t, i) =>
      (i + 1, t._4 * m / (i + 1)) }
    val running = qs.reverse
      .scanLeft(Double.MaxValue) { case (acc, (_, v)) => math.min(acc, v) }
      .tail.reverse.map(v => math.min(1.0, v))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the replay derives q from the ROUNDED p_raw column, so allow the
    // propagated rounding slack (<= 0.5e-6 * m at each running-min arg)
    sorted.zip(running).foreach { case (t, qv) =>
      assert(math.abs(t._5 - r6(qv)) <= 0.5e-6 * m,
        s"q for (${t._1},${t._2}): ${t._5} vs $qv")
      assert((t._6 == 1) == (t._5 <= 0.05))
    }
    // q-values are monotone non-decreasing in the p ranking
    val qSeq = sorted.map(_._5)
    assert(qSeq.zip(qSeq.tail).forall { case (a, b) => a <= b })
    // p and d are coherent: p in [0,1], larger D within equal-n pairs
    // never gets a larger p
    rows.foreach(t => assert(t._4 >= 0.0 && t._4 <= 1.0))
  }

  test("delta-method ratio CI replays driver-side; bounds bracket the ratio") {
    val per = graft.Tables.orders(spark, sf0001)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("y"),
        count(lit(1)).as("k"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val custs = graft.Tables.customer(spark, sf0001)
      .select("c_custkey").collect().map(_.getLong(0))
    val rows = custs.map(c => per.getOrElse(c, (0L, 0L)))
    val n = rows.length.toDouble
    val sy = rows.map(_._1).sum; val sk = rows.map(_._2).sum
    // second moments exceed Long (y^2 ~ 2.5e17/row): BigInt, like the
    // operator's DECIMAL(38,0) sums
    val syk = rows.map(t => BigInt(t._1) * t._2).sum
    val syy = rows.map(t => BigInt(t._1) * t._1).sum
    val skk = rows.map(t => t._2 * t._2).sum
    val r = sy.toDouble / sk
    val vy = (syy.toDouble - sy.toDouble * sy / n) / n
    val vk = (skk.toDouble - sk.toDouble * sk / n) / n
    val cyk = (syk.toDouble - sy.toDouble * sk / n) / n
    val mk = sk.toDouble / n
    val se = math.sqrt((vy - 2.0 * r * cyk + r * r * vk) / (n * mk * mk))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Stats.ratioCiDelta(spark, sf0001).collect()(0)
    assert(got.getLong(0) == rows.length.toLong)
    assert(got.getDouble(1) == r6(r / 100.0), "ratio")
    assert(got.getDouble(2) == r6(se / 100.0), "se")
    assert(got.getDouble(3) == r6((r - 1.96 * se) / 100.0), "lo95")
    assert(got.getDouble(4) == r6((r + 1.96 * se) / 100.0), "hi95")
    assert(got.getDouble(3) < got.getDouble(1) &&
      got.getDouble(1) < got.getDouble(4), "CI brackets the estimate")
    assert(got.getDouble(2) > 0.0)
  }
}
