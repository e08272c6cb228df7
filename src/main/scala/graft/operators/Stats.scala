package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.ExactNum

/** Classical statistics over the fact tables — the validation half of
  * a training-data pipeline (feature sanity: which measures co-vary,
  * which categorical dimensions are independent). The reference has no
  * statistics surface (north-star extension, like the profiling and
  * embedding-stats suites it sits next to).
  *
  * Both operators follow the repo's exact-arithmetic discipline
  * (SURVEY.md §7.6.2): every SUM that crosses engines is over
  * integers (cent-quantized values or counts), so accumulation order
  * cannot shift a bit; doubles appear only in a fixed-shape final
  * formula both engines evaluate identically.
  */
object Stats {

  /** Pearson correlation matrix of the lineitem measures
    * (quantity, extendedprice, discount, tax), upper triangle as rows.
    *
    * ONE pass: a single aggregate computes n plus all first/second
    * moments (4 sums, 4 sums of squares, 6 cross sums) over
    * cent-quantized values — exact integers, summed as DECIMAL(38,0)
    * because cross-moments of cent-scaled prices pass Long range at
    * sf >= 0.1 (~1e19). corr is scale-invariant, so cent-space corr
    * equals dollar-space corr. The final formula
    * `(n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²) · √(n·Syy − Sy²))` runs in
    * exact decimal up to the two casts to double — deterministic in
    * both engines.
    *
    * Scale: one map-side-combined aggregate over the fact table, 15
    * running integers per partition — the same shape at 100 TB; the
    * row-form unpivot is driver-free (`stack` over the 1-row frame).
    */
  def correlationMatrix(spark: SparkSession, dir: String): DataFrame = {
    val measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- measures.indices; j <- (i + 1) until measures.size
    } yield (measures(i), measures(j))

    val dec = DecimalType(38, 0)
    val cents = Tables.lineitem(spark, dir)
      .select(measures.map(m => ExactNum.cents(col(m)).as(m)): _*)
    val sums: Seq[Column] =
      count(lit(1)).cast(dec).as("n") +:
      (measures.map(m => sum(col(m).cast(dec)).as(s"s_$m")) ++
        measures.map(m =>
          sum((col(m) * col(m)).cast(dec)).as(s"ss_$m")) ++
        pairs.map { case (a, b) =>
          sum((col(a) * col(b)).cast(dec)).as(s"sx_${a}_$b") })
    val mom = cents.agg(sums.head, sums.tail: _*)

    def corrCol(a: String, b: String): Column = {
      val n = col("n")
      val num = (n * col(s"sx_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
        .cast("double")
      val da = (n * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")).cast("double")
      val db = (n * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")).cast("double")
      round(num / sqrt(da) / sqrt(db), 6)
    }
    val cells = mom.select(pairs.map { case (a, b) =>
      corrCol(a, b).as(s"${a}__$b") }: _*)
    val stackArgs = pairs.map { case (a, b) =>
      s"'$a', '$b', `${a}__$b`" }.mkString(", ")
    cells.selectExpr(
      s"stack(${pairs.size}, $stackArgs) AS (col_x, col_y, corr)")
  }

  /** Gini coefficient of revenue concentration across customers — the
    * inequality statistic next to the Pareto cut
    * ([[Relational.revenuePareto]] reports WHO the top customers are;
    * this reports HOW concentrated the distribution is in one number).
    *
    * Exact rank formula over integer cents: with per-customer revenue
    * x sorted ascending (customer key tie-break) and 1-based rank i,
    * `G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)`. Ranks and cent sums are
    * exact integers (DECIMAL(38,0) here, HUGEINT in the oracle), so
    * the only floating-point op is the final division — deterministic
    * in both engines.
    *
    * Scale: the rank runs over the |customers|-sized rollup, never
    * the fact table, through [[graft.plans.GraftOps.globalOrder]]
    * (partition offset + local rank), so a billion-customer rollup
    * never funnels through one reducer (the window leg it replaced is
    * measured beside it at [[graft.plans.GraftOps.smallOrderCutover]]).
    */
  def giniCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val perCust = Tables.orders(spark, dir)
      .select(col("o_custkey").as("custkey"),
        ExactNum.cents(col("o_totalprice")).as("c"))
      .groupBy(col("custkey")).agg(sum(col("c")).as("c"))
    val ranked = graft.plans.GraftOps.globalOrder(perCust,
      Seq("c" -> true, "custkey" -> true), rank = Some("rk"))
    val m = ranked.agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("c").cast(dec)).as("sx"),
      sum((col("rk") * col("c")).cast(dec)).as("srx"))
    m.select(
      round((lit(2).cast(dec) * col("srx")
          - (col("n") + lit(1).cast(dec)) * col("sx")).cast("double")
        / (col("n") * col("sx")).cast("double"), 6).as("gini"),
      col("n").cast("long").as("n_customers"))
  }

  /** Benford first-digit profile of order totals: observed frequency
    * of each leading digit against the Benford expectation
    * log10(1 + 1/d) — the classic synthetic-data / fraud screen.
    *
    * The leading digit comes from the DECIMAL STRING of the exact
    * cent value (cents = value·100 shifts no leading digit), not from
    * floor(log10) float math — integer-to-string is identical in both
    * engines, log10 near a power of ten is not.
    *
    * Scale: map + 9-group aggregate, the cheapest possible shape.
    */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .select(substring(ExactNum.cents(col("o_totalprice"))
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    digits
      .withColumn("total", sum(col("n_orders")).over(Window.partitionBy()))
      .select(col("digit"), col("n_orders"),
        round(col("n_orders").cast("double") / col("total"), 6).as("freq"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("expected"))
  }

  /** Chi-square test of independence between order priority and
    * customer market segment (the canonical categorical-association
    * check before stratifying a corpus on either dimension).
    *
    * The 5x5 contingency table comes from one join + one aggregate;
    * row totals, column totals, and the grand total attach as WINDOW
    * sums over the 25-cell frame — no scalar joins, no second scan.
    * Each cell's (O−E)²/E is one fixed-shape double formula over
    * exact counts, quantized to millionths (deterministic per cell),
    * and the statistic is the exact integer sum of those millionths —
    * fold-order-proof. Output: one row (chi2, dof, n).
    *
    * Scale: the only data-sized work is the orders⨝customer join and
    * the 25-group count; everything after runs on 25 rows.
    */
  /** Population stability index of the per-source quality-score
    * distribution against the corpus baseline — the standard
    * data-drift monitor a corpus pipeline runs per ingest source
    * (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted). Output:
    * (source, psi).
    *
    * Shape: ONE documents scan bins every doc by its (rounded 6dp)
    * quality score into `bins` equal-width bins; the per-source and
    * corpus distributions both roll up from the same (source, bin)
    * counts (rollup-first, no second scan). Laplace smoothing
    * (+1/bin) keeps empty bins defined without an epsilon constant.
    * Exact-arithmetic discipline: counts are integers; each bin's
    * `(p−q)·ln(p/q)` term is a fixed-shape double formula quantized
    * to integer MILLIONTHS before the per-source sum (the Adamic-Adar
    * / pagerank discipline), so accumulation order cannot shift a
    * bit cross-engine. At 100 TB: one map-side-combined count shuffle
    * of |sources|·bins cells, everything after is cell-sized.
    */
  def psiBySource(spark: SparkSession, dir: String, bins: Int = 5): DataFrame = {
    val w = split(col("text"), " ")
    val q = round(TextOps.qualityOf(col("text"), w), 6)
    val binned = Tables.documents(spark, dir)
      .select(col("source"),
        least(floor(q * bins), lit(bins - 1)).cast("int").as("bin"))
    val g = binned.groupBy("source", "bin").agg(count(lit(1)).as("c"))
      // referenced by three rollups below; cell-count-sized
      .localCheckpoint(true)
    val srcTot = g.groupBy("source").agg(sum("c").as("ns"))
    val corpus = g.groupBy("bin").agg(sum("c").as("cb"))
    val nn = g.agg(sum("c").as("n"))
    // dense (source, bin) grid via explode — map-only, no cross join
    val grid = srcTot.select(col("source"), col("ns"),
      explode(sequence(lit(0), lit(bins - 1))).as("bin"))
    val p = (col("c") + 1).cast("double") / (col("ns") + bins).cast("double")
    val qq = (col("cb") + 1).cast("double") / (col("n") + bins).cast("double")
    grid.join(g, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("c"))
      .join(broadcast(corpus), Seq("bin"))
      .crossJoin(broadcast(nn))
      .select(col("source"),
        round((p - qq) * log(p / qq) * 1000000.0, 0).cast("long").as("m"))
      .groupBy("source")
      .agg(round(sum(col("m")).cast("double") / 1000000.0, 6).as("psi"))
  }

  /** DAY-OVER-DAY PSI drift monitor over purchase values — the
    * temporal twin of [[psiBySource]] and the ops staple behind "did
    * yesterday's deploy shift the money distribution": per calendar
    * day, the population-stability index between that day's and the
    * PREVIOUS day's binned purchase-value distributions (fixed
    * 50.00-wide cent bins, capped at `bins`; Laplace-smoothed like the
    * source-wise row so empty bins never divide by zero).
    *
    * Exactness: bins are exact integer cent arithmetic; each PSI term
    * quantizes to micro-unit longs BEFORE the sum (order-free), one
    * final round 6 — the [[psiBySource]] discipline.
    *
    * Scale shape: one partial-aggregatable (day, bin) rollup, a dense
    * |days|×bins grid via explode (calendar-bounded), and a self-join
    * shifted by one day on that grid — corpus size only enters the
    * first scan. Output: (epday, n_curr, n_prev, psi), one row per day
    * with a preceding calendar day.
    */
  def psiDriftDaily(spark: SparkSession, dir: String,
      bins: Int = 10): DataFrame =
    psiDriftChain(
      psiDailyCells(Tables.events(spark, dir), bins)
        .localCheckpoint(true), // referenced by totals + both join sides
      bins)

  /** The per-(day, bin) purchase-value cell counts feeding
    * [[psiDriftChain]] — a plain partial-aggregatable groupBy with no
    * ordering, which is what makes it STREAMABLE: the streamed twin
    * maintains exactly this relation as complete-mode aggregation
    * state (|days|×bins rows).
    */
  private[graft] def psiDailyCells(events: DataFrame,
      bins: Int = 10): DataFrame = {
    val epday = floor(unix_micros(col("ts")) / lit(86400000000L))
      .cast("long")
    val cents = round(col("value") * 100, 0).cast("long")
    events
      .filter(col("event_type") === "purchase")
      .select(epday.as("epday"),
        least(floor(cents / 5000.0), lit(bins - 1L)).cast("long").as("bin"))
      .groupBy(col("epday"), col("bin")).agg(count(lit(1)).as("c"))
  }

  /** The smoothed day-over-day PSI off the (≤|days|×bins) cell
    * relation: dense grid, shifted self-join, micro-quantized term
    * sum. Calendar-bounded input at any event volume.
    */
  private[graft] def psiDriftChain(g: DataFrame, bins: Int): DataFrame = {
    val tot = g.groupBy("epday").agg(sum("c").as("nd"))
    val grid = tot.select(col("epday"), col("nd"),
        explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
      .join(g, Seq("epday", "bin"), "left")
      .na.fill(0L, Seq("c"))
    val cur = grid.select(col("epday"), col("bin"), col("nd").as("n_curr"),
      col("c").as("cc"))
    val prv = grid.select((col("epday") + 1).as("epday"), col("bin"),
      col("nd").as("n_prev"), col("c").as("cp"))
    val p = (col("cc") + 1).cast("double") / (col("n_curr") + bins).cast("double")
    val q = (col("cp") + 1).cast("double") / (col("n_prev") + bins).cast("double")
    cur.join(prv, Seq("epday", "bin"))
      .select(col("epday"), col("n_curr"), col("n_prev"),
        round((p - q) * log(p / q) * 1000000.0, 0).cast("long").as("m"))
      .groupBy("epday")
      .agg(max(col("n_curr")).cast("long").as("n_curr"),
        max(col("n_prev")).cast("long").as("n_prev"),
        round(sum(col("m")).cast("double") / 1000000.0, 6).as("psi"))
  }

  /** Bayesian-bootstrap 95% confidence interval for the mean order
    * value (Rubin 1981) — the uncertainty-quantification layer the
    * point statistics lack: every release metric ("mean quality",
    * "mean order value") should ship with a CI, and the Bayesian
    * bootstrap is the form that distributes — per replicate b, each
    * row gets weight w = −ln(u) (Exp(1), a closed-form inverse
    * transform, no iterative sampling), and the replicate mean is the
    * weighted mean; the CI reads off the ranked replicate means. The
    * classical resample-count bootstrap needs Poisson draws (iterative
    * inverse CDF) — the exponential-weight form is the one expressible
    * as pure dataflow in BOTH engines.
    *
    * Determinism: u derives from the cross-engine polynomial hash of
    * (o_orderkey, b) passed through a squaring finisher
    * (h·(h+1) mod p): the bare polynomial hash has NO avalanche — a
    * replicate-suffix change only shifts the low digits, so every
    * replicate would draw nearly the same weights — while squaring
    * turns a delta δ into a 2hδ jump that wraps mod p thousands of
    * times (measured: without it the 100 replicate means collapse
    * onto one biased draw). Weighted numerator/denominator quantize to
    * integer milli-cent / nano-weight longs BEFORE the per-replicate
    * sums (order-free), one double division per replicate; the 2.5%
    * and 97.5% cut points are the rank-3 and rank-98 replicate means
    * of B = 100 (fixed ranks, no interpolation — documented choice).
    *
    * Scale shape: one map-only broadcast fan-out of the fact rows by B
    * (weights are computed, never stored), a partial-aggregated shuffle
    * to |B| rows, and a ranked pick over those 100 — corpus size only
    * enters the scan. The char-fold hash runs ONCE per fact row over
    * the "<key>:bs" prefix; each replicate extends it arithmetically
    * (h·31^len(b) + poly(digits(b)) mod p, the Horner suffix identity)
    * with the 31-power/digit-hash pair precomputed per replicate in a
    * broadcast B-row table — O(rows·(len+B)) integer ops instead of
    * O(rows·B·len) per-char string folds, same value bit-for-bit.
    * Output: one row (n_orders, mean, lo95, hi95).
    */
  def bootstrapCiOrderValue(spark: SparkSession, dir: String,
      b: Int = 100): DataFrame = {
    val p = 1000000007L
    val reps = (1 to b).map { i =>
      val s = i.toString
      val mult = s.foldLeft(1L)((m, _) => m * 31 % p)
      val add = s.foldLeft(0L)((acc, ch) => (acc * 31 + ch.toLong) % p)
      (i, mult, add)
    }
    val repDf = spark.createDataFrame(reps).toDF("b", "hmult", "hadd")
    val cents = ExactNum.cents(col("o_totalprice"))
    val hp = TextOps.polyHash(concat(col("o_orderkey").cast("string"),
      lit(":bs")))
    val h = pmod(col("hp") * col("hmult") + col("hadd"), lit(p))
    val h2 = pmod(h * h + h, lit(1000000007L))
    val u = (h2.cast("double") + 1.0) / 1000000008.0
    val w = -log(u)
    val rep = Tables.orders(spark, dir)
      // spread the B-fold fan-out across all cores: the skinny raw
      // relation (|orders| rows, 2 cols) round-robins once so a single
      // input split can't serialize the 15M-row map side (order-free
      // quantized-integer sums — layout can't change them). The cents
      // cast and the per-row char-fold hash evaluate AFTER the
      // exchange: computed before it they ran inside the one-split
      // scan task — a measured ~0.5 s serial stage (§2.2)
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("o_orderkey"), cents.as("x100"))
      .select(col("o_orderkey"), col("x100"), hp.as("hp"))
      .crossJoin(broadcast(repDf))
      .select(col("b"),
        round(w * col("x100") * lit(1000.0), 0).cast("long").as("qwx"),
        round(w * lit(1e9), 0).cast("long").as("qw"))
      .groupBy(col("b"))
      .agg(sum(col("qwx")).as("num"), sum(col("qw")).as("den"))
      .select(col("b"),
        (col("num").cast("double") * lit(1e6) / col("den").cast("double")
          / lit(100.0)).as("m"))
    val ranked = rep.withColumn("rk",
      row_number().over(Window.orderBy(col("m"), col("b"))))
    // widened: the one-split orders scan ran this rollup as a single
    // 0.4 s task beside 31 idle cores (no-op on multi-split tables)
    val tot = graft.plans.GraftOps.widen(
        Tables.orders(spark, dir).select(cents.as("c100")))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("c100")) / lit(100.0) / count(lit(1))).as("mean_raw"))
    // both rank cuts in ONE broadcast relation: two filtered branches
    // each materialized their own broadcast of the same ranked subtree
    // (one extra job + plan duplication, guide §7.2); a conditional
    // min per cut over the rk ∈ {3, 98} slice is the same two values
    val cuts = broadcast(ranked.filter(col("rk").isin(3, 98))
      .agg(min(when(col("rk") === 3, col("m"))).as("lo_raw"),
        min(when(col("rk") === 98, col("m"))).as("hi_raw")))
    tot.crossJoin(cuts)
      .select(col("n_orders"), round(col("mean_raw"), 6).as("mean"),
        round(col("lo_raw"), 6).as("lo95"), round(col("hi_raw"), 6).as("hi95"))
  }

  /** DELTA-METHOD confidence interval for a RATIO metric (revenue per
    * order, randomization unit = customer): the analytic member of the
    * uncertainty trio beside [[bootstrapCiOrderValue]] (nonparametric)
    * and [[graft.operators.EventOps.cupedLift]] (variance reduction).
    * A per-order mean is NOT iid when customers are the unit — the
    * correct estimator is R = ΣY_u / ΣN_u over the customer universe
    * with the linearized variance
    *
    *   var(R) ≈ (var(Y) − 2R·cov(Y,N) + R²·var(N)) / (n·mean(N)²),
    *
    * the standard production experimentation formula (Deng et al. 2018).
    * Customers with no orders stay in the universe (zero-filled) — they
    * are real members of the randomization population.
    *
    * Exactness: Y is integer cents, N integer counts; all five moments
    * (ΣY, ΣN, ΣYN, ΣY², ΣN²) are exact integer sums, so R, the SE and
    * the ±1.96 bounds are one fixed-order double chain both engines
    * evaluate identically (population variances, n divisor).
    *
    * Scale shape: one per-customer rollup of orders, a broadcast
    * zero-fill join against the customer dimension, one 1-row moment
    * fold. Output: (n_customers, ratio, se, lo95, hi95).
    */
  def ratioCiDelta(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(ExactNum.cents(col("o_totalprice"))).as("y"),
        count(lit(1)).as("k"))
    val perUser = Tables.customer(spark, dir)
      .select(col("c_custkey"))
      .join(per, col("c_custkey") === col("o_custkey"), "left")
      .na.fill(0L, Seq("y", "k"))
    // second moments overflow long at cent scale (y^2 ~ 2.5e17/row):
    // DECIMAL(38,0) sums stay exact, one double cast at the end
    val yd = col("y").cast("decimal(38,0)")
    val m = perUser.agg(count(lit(1)).as("n"),
      sum(col("y")).as("sy"), sum(col("k")).as("sk"),
      sum(yd * col("k")).as("syk"),
      sum(yd * col("y")).as("syy"),
      sum(col("k") * col("k")).as("skk"))
    val nD = col("n").cast("double")
    val r = col("sy").cast("double") / col("sk")
    val varY = (col("syy").cast("double") -
      col("sy").cast("double") * col("sy") / nD) / nD
    val varK = (col("skk").cast("double") -
      col("sk").cast("double") * col("sk") / nD) / nD
    val covYK = (col("syk").cast("double") -
      col("sy").cast("double") * col("sk") / nD) / nD
    val meanK = col("sk").cast("double") / nD
    val se = sqrt((varY - lit(2.0) * r * covYK + r * r * varK) /
      (nD * meanK * meanK))
    m.select(col("n").cast("long").as("n_customers"),
      round(r / 100.0, 6).as("ratio"),
      round(se / 100.0, 6).as("se"),
      round((r - lit(1.96) * se) / 100.0, 6).as("lo95"),
      round((r + lit(1.96) * se) / 100.0, 6).as("hi95"))
  }

  /** Pairwise Jensen–Shannon divergence between the ingest sources'
    * quality-score histograms — the SYMMETRIC, always-finite member of
    * the drift trio beside [[psiBySource]] (asymmetric, smoothed
    * against the corpus marginal) and [[ksQualityBySource]] (unbinned
    * two-sample): JSD(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2.
    * Zero-count bins contribute exactly 0 on their side (no smoothing
    * needed — M > 0 wherever either side is), and √JSD is a metric, so
    * the 10 pair values rank source similarity directly.
    *
    * Exactness: each per-bin term is ONE fixed-order double expression
    * quantized to picounit longs BEFORE the cross-bin sum (the brier
    * discipline), one final ÷2e12 rounded 6 — replayed bit-for-bit by
    * the oracle.
    *
    * Scale shape: corpus → |sources|×`bins` cell rollup (one
    * partial-aggregated shuffle), dense grid via explode (map-only, no
    * cross join), then the pair relation is a self equi-join ON BIN of
    * that tiny grid — the fact table is touched once.
    * Output: (source_a, source_b, jsd).
    */
  def jsdBySource(spark: SparkSession, dir: String, bins: Int = 8): DataFrame = {
    val w = split(col("text"), " ")
    val q = round(TextOps.qualityOf(col("text"), w), 6)
    val binned = Tables.documents(spark, dir)
      .select(col("source"),
        least(floor(q * bins), lit(bins - 1)).cast("int").as("bin"))
    val g = binned.groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val grid = g.groupBy("source").agg(sum("c").as("ns"))
      .select(col("source"), col("ns"),
        explode(sequence(lit(0), lit(bins - 1))).as("bin"))
      .join(g, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("c"))
    val a = grid.select(col("source").as("source_a"), col("bin"),
      col("c").as("ca"), col("ns").as("na"))
    val b = grid.select(col("source").as("source_b"), col("bin"),
      col("c").as("cb"), col("ns").as("nb"))
    val pa = col("ca").cast("double") / col("na").cast("double")
    val pb = col("cb").cast("double") / col("nb").cast("double")
    val term =
      when(col("ca") > 0, pa * log(lit(2.0) * pa / (pa + pb)))
        .otherwise(lit(0.0)) +
      when(col("cb") > 0, pb * log(lit(2.0) * pb / (pa + pb)))
        .otherwise(lit(0.0))
    a.join(b, Seq("bin")).filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        round(term * lit(1e12), 0).cast("long").as("t12"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(round(sum(col("t12")).cast("double") / lit(2e12), 6).as("jsd"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between two ingest
    * sources' quality-score distributions — the distribution-equality
    * gate next to [[psiBySource]]'s binned drift monitor: KS compares
    * the FULL empirical CDFs (no binning choice), so a shape change
    * PSI's 10 bins wash out still moves D. The classical-stats suite's
    * missing member beside chi-square.
    *
    * Exactness: quality quantizes to micro-unit longs (the engine-wide
    * discipline); the ECDF difference is kept in INTEGER numerator
    * form |cum_a·n_b − cum_b·n_a| over the pooled distinct values —
    * exact longs, any accumulation order — and divides by n_a·n_b once
    * at the end.
    *
    * Scale: the corpus collapses to pooled distinct quantized scores —
    * bounded at ≤ 1e6+1 rows by the micro-unit grid REGARDLESS of
    * corpus size (the designed cap) — and BOTH running CDFs stamp in
    * one fused [[graft.plans.GraftOps.globalOrder]] pass over
    * that relation: range-partitioned, one layout, no single-reducer
    * window anywhere in the plan (StatsSpec pins the window-free
    * shape).
    * Output: (n_a, n_b, ks_d rounded 6).
    */
  def ksQualityBySource(spark: SparkSession, dir: String,
      srcA: String = "src0", srcB: String = "src1"): DataFrame = {
    val w = split(col("text"), " ")
    val q = Tables.documents(spark, dir)
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"),
        round(graft.operators.TextOps.qualityOf(col("text"), w) * 1e6, 0)
          .cast("long").as("q6"))
    val cells = q.groupBy(col("q6"))
      .agg(sum(when(col("source") === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("cb"))
    val tot = cells.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    graft.plans.GraftOps.globalOrder(cells, Seq("q6" -> true),
        sums = Seq("ca" -> "cum_a", "cb" -> "cum_b"))
      .crossJoin(broadcast(tot))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
          .as("dnum"))
      .select(col("n_a"), col("n_b"),
        round(col("dnum").cast("double")
          / (col("n_a").cast("double") * col("n_b")), 6).as("ks_d"))
  }

  /** ALL-PAIRS KS tests with BENJAMINI–HOCHBERG false-discovery-rate
    * control — the multiple-testing layer the single-pair
    * [[ksQualityBySource]] row lacks: a drift monitor comparing every
    * source pair runs C(s,2) simultaneous tests, and raw p < 0.05
    * readings are exactly how drift dashboards cry wolf. Per pair:
    * the two-sample KS D over the quantized quality grid, the
    * asymptotic p (Numerical-Recipes effective-n form,
    * λ = (√n_e + 0.12 + 0.11/√n_e)·D, the 3-term alternating
    * exp(−2k²λ²) series — documented truncation), then BH:
    * q_i = min_{j≥i} p_j·m/j over the p-ascending ranking (ties to
    * pair name), significant at q ≤ α.
    *
    * Exactness: counts and cumulative counts are exact integers (the
    * per-source CDF window runs over the quantization-grid relation,
    * ≤1e6+1 rows per source — the documented KS cap); every double
    * (CDF gap, λ, the exp series, q) is a fixed-order chain over those
    * integers, and BH's running min runs over the C(s,2)-row pair
    * relation. Output: (source_a, source_b, d, p_raw, q_value,
    * significant).
    */
  def ksFdrBySource(spark: SparkSession, dir: String,
      alpha: Double = 0.05): DataFrame = {
    val w = split(col("text"), " ")
    val q = Tables.documents(spark, dir)
      .select(col("source"),
        round(graft.operators.TextOps.qualityOf(col("text"), w) * 1e6, 0)
          .cast("long").as("q6"))
    // materialize the per-(source, quality) histogram once: five plan
    // branches read it (grid axes x2, fill join, totals), and without
    // the checkpoint each re-ran the full per-doc qualityOf scan —
    // the guide §7.2 duplicated-subtree check (measured: 20 jobs,
    // 4.5 s of job time for one 1.9 s row). The relation is tiny
    // (|sources| x |distinct quality| rows).
    val cells = q.groupBy(col("source"), col("q6"))
      .agg(count(lit(1)).as("c")).localCheckpoint(true)
    val grid = cells.select(col("q6")).distinct()
      .crossJoin(cells.select(col("source")).distinct())
      .join(cells, Seq("source", "q6"), "left")
      .na.fill(0L, Seq("c"))
    val wcum = Window.partitionBy(col("source")).orderBy(col("q6"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = grid.select(col("source"), col("q6"),
      sum(col("c")).over(wcum).as("cum"))
    val tot = cells.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val aa = cdf.join(tot, Seq("source"))
      .select(col("source").as("sa"), col("q6"), col("cum").as("cua"),
        col("n").as("na"))
    val bb = cdf.join(tot, Seq("source"))
      .select(col("source").as("sb"), col("q6"), col("cum").as("cub"),
        col("n").as("nb"))
    // exact-integer sup-gap (the single-pair row's discipline):
    // max |cua·nb − cub·na| is an integer max, one division at the end
    val pairD = aa.join(bb, Seq("q6")).filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
      .agg(max(abs(col("cua") * col("nb") - col("cub") * col("na")))
        .as("dint"))
      .withColumn("d", col("dint").cast("double") /
        (col("na").cast("double") * col("nb")))
    val ne = col("na").cast("double") * col("nb") / (col("na") + col("nb"))
    val lam = (sqrt(ne) + lit(0.12) + lit(0.11) / sqrt(ne)) * col("d")
    val l2 = lam * lam
    val p = least(lit(1.0), greatest(lit(0.0),
      lit(2.0) * (exp(lit(-2.0) * l2) - exp(lit(-8.0) * l2) +
        exp(lit(-18.0) * l2))))
    val ranked = pairD.select(col("sa"), col("sb"), col("d"), p.as("p"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("p"), col("sa"), col("sb"))))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy()))
    val wdown = Window.orderBy(col("rk"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ranked
      .withColumn("qv", least(lit(1.0),
        min(col("p") * col("m") / col("rk")).over(wdown)))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        round(col("d"), 6).as("d"), round(col("p"), 6).as("p_raw"),
        round(col("qv"), 6).as("q_value"),
        when(col("qv") <= alpha, 1).otherwise(0).as("significant"))
  }

  /** Mann–Whitney U between the same two sources' quality scores —
    * the rank-based location test completing the nonparametric trio
    * (chi-square: independence; KS: distribution shape; U: stochastic
    * dominance). Tie-corrected via average ranks; the reported effect
    * size U/(n_a·n_b) is the probability a random src-A doc outscores
    * a random src-B doc (the common-language effect size — the AUC of
    * "source predicts quality").
    *
    * Exactness: on the pooled distinct quantized scores, a tie block
    * of `cnt` values after `prev` items has average rank
    * (2·prev + cnt + 1)/2 — so DOUBLED rank sums are exact longs and
    * U₂ = 2U = 2R_a − n_a(n_a+1) is exact; one final division.
    *
    * Scale: same pooled-distinct-value relation as
    * [[ksQualityBySource]] (≤ 1e6+1 rows by the quantization grid, at
    * any corpus size), with the running pooled count stamped by
    * [[graft.plans.GraftOps.globalOrder]] — window-free
    * (StatsSpec pins the plan shape).
    * Output: (n_a, n_b, u2, effect rounded 6).
    */
  def mannWhitneyQuality(spark: SparkSession, dir: String,
      srcA: String = "src0", srcB: String = "src1"): DataFrame = {
    val w = split(col("text"), " ")
    val q = Tables.documents(spark, dir)
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"),
        round(graft.operators.TextOps.qualityOf(col("text"), w) * 1e6, 0)
          .cast("long").as("q6"))
    val cells = q.groupBy(col("q6"))
      .agg(sum(when(col("source") === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("cb"))
      .withColumn("cnt", col("ca") + col("cb"))
    graft.plans.GraftOps.globalOrder(cells, Seq("q6" -> true),
        sums = Seq("cnt" -> "prev"), exclusive = true)
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(col("ca") * (lit(2L) * col("prev") + col("cnt") + 1L)).as("r2a"))
      .select(col("n_a"), col("n_b"),
        (col("r2a") - col("n_a") * (col("n_a") + 1L)).as("u2"),
        round((col("r2a") - col("n_a") * (col("n_a") + 1L)).cast("double")
          / (lit(2.0) * col("n_a").cast("double") * col("n_b")), 6)
          .as("effect"))
  }

  /** Spearman rank correlation between document length (words) and the
    * quality score, per source — the monotone-association twin of
    * [[correlationMatrix]]'s Pearson (rank ρ survives the nonlinear
    * saturation the quality formula applies to length, which Pearson
    * under-reads). The number a curation pipeline checks before using
    * length as a cheap quality proxy.
    *
    * Exactness: tie-averaged ranks via the [[mannWhitneyQuality]]
    * doubling trick — per (source, value) block after `prev` items the
    * average rank is (2·prev + cnt + 1)/2, so DOUBLED ranks are exact
    * longs; ρ is Pearson over the doubled ranks (rank scaling cancels)
    * with all moments summed as DECIMAL(38,0) and ONE final
    * double-precision formula `(n·Sxy − Sx·Sy)/(√dx·√dy)` evaluated in
    * the identical division order in both engines.
    *
    * Scale shape: two per-source distinct-value rollups (the rank
    * relations are |distinct values|-sized, not |docs|-sized), two
    * equi-joins back on (source, value), one map-side-combinable
    * moment aggregate. The per-source rank windows partition by
    * source — no global single-partition window.
    * Output: (source, n_docs, rho) rounded 6.
    */
  def spearmanLengthQuality(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val base = Tables.documents(spark, dir)
      .select(col("source"), size(w).cast("long").as("len"),
        round(graft.operators.TextOps.qualityOf(col("text"), w) * 1e6, 0)
          .cast("long").as("q6"))
    def ranks(value: String, out: String): DataFrame = {
      val cells = base.groupBy(col("source"), col(value).as("v"))
        .agg(count(lit(1)).as("cnt"))
      val win = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      cells.withColumn("prev", coalesce(sum(col("cnt")).over(win), lit(0L)))
        .select(col("source"), col("v").as(value),
          (lit(2L) * col("prev") + col("cnt") + 1L).as(out))
    }
    val dec = DecimalType(38, 0)
    base
      .join(ranks("len", "r2x"), Seq("source", "len"))
      .join(ranks("q6", "r2y"), Seq("source", "q6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("r2x").cast(dec)).as("sx"),
        sum(col("r2y").cast(dec)).as("sy"),
        sum((col("r2x") * col("r2x")).cast(dec)).as("sxx"),
        sum((col("r2y") * col("r2y")).cast(dec)).as("syy"),
        sum((col("r2x") * col("r2y")).cast(dec)).as("sxy"))
      .select(col("source"), col("n").cast("long").as("n_docs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          / sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
          6).as("rho"))
  }

  /** One-way ANOVA F-statistic of quality across ALL sources — the
    * parametric omnibus beside the nonparametric pairwise tests
    * (KS/Mann-Whitney compare two sources; ANOVA asks "does source
    * matter at all"). F = (SSB/(k−1)) / (SSW/(n−k)) with
    * SSB = Σ S_g²/n_g − S²/n and SSW = ΣΣx² − Σ S_g²/n_g.
    *
    * Exactness: scores quantize to integer micro-units; group and
    * grand means RE-quantize to integer micro (one fixed division +
    * round each — the [[graft.operators.EmbeddingStats]] Fisher
    * discipline), so both sums of squares are pure integer sums in
    * DECIMAL(38,0); ONE final division produces F.
    * Output: (k, n, ssb, ssw, f_stat rounded 6) — 1 row.
    */
  def anovaQualityBySource(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = split(col("text"), " ")
    val q = Tables.documents(spark, dir)
      .select(col("source"),
        round(graft.operators.TextOps.qualityOf(col("text"), w) * 1e6, 0)
          .cast("long").as("q6"))
    val byG = q.groupBy(col("source"))
      .agg(count(lit(1)).as("ng"), sum(col("q6")).as("s"),
        sum((col("q6") * col("q6")).cast(dec)).as("x2"))
      .withColumn("m6",
        round(col("s").cast("double") / col("ng"), 0).cast("long"))
    val tot = byG.agg(sum(col("s")).as("st"), sum(col("ng")).as("n"))
      .select(round(col("st").cast("double") / col("n"), 0).cast("long")
        .as("g6"))
    byG.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum((col("ng") * (col("m6") - col("g6")) *
          (col("m6") - col("g6"))).cast(dec)).as("ssb"),
        sum(col("x2") - (lit(2L) * col("m6") * col("s")).cast(dec) +
          (col("ng") * col("m6") * col("m6")).cast(dec)).as("ssw"))
      .select(col("k"), col("n"),
        col("ssb").cast("long").as("ssb"),
        col("ssw").cast("long").as("ssw"),
        round((col("ssb").cast("double") / (col("k") - 1))
          / (col("ssw").cast("double") / (col("n") - col("k"))), 6)
          .as("f_stat"))
  }

  /** Post-hoc standardized contrasts after [[anovaQualityBySource]]:
    * for every unordered source pair, the mean-quality difference in
    * units of its pooled standard error —
    * z = (m_a − m_b) / √(MSW·(1/n_a + 1/n_b)) — ranked by |z|, top
    * 10. The "WHICH pairs differ" answer the omnibus F cannot give
    * (a Tukey test would compare |z|·√2 to a studentized-range
    * quantile; the standardized contrast itself is the
    * engine-computable part and carries the full ordering).
    *
    * Exactness: the same quantized group means and integer MSW as the
    * ANOVA; per-pair one fixed-shape double formula, total-ordered
    * output (|z| desc, source_a asc, source_b asc). Scale: the pair
    * expansion runs on the |sources|-row aggregate, never the corpus.
    * Output: (source_a, source_b, mean_diff, z rounded 6), 10 rows.
    */
  def anovaContrasts(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = split(col("text"), " ")
    val q = Tables.documents(spark, dir)
      .select(col("source"),
        round(graft.operators.TextOps.qualityOf(col("text"), w) * 1e6, 0)
          .cast("long").as("q6"))
    val byG = q.groupBy(col("source"))
      .agg(count(lit(1)).as("ng"), sum(col("q6")).as("s"),
        sum((col("q6") * col("q6")).cast(dec)).as("x2"))
      .withColumn("m6",
        round(col("s").cast("double") / col("ng"), 0).cast("long"))
    val msw = byG
      .agg(sum(col("x2") - (lit(2L) * col("m6") * col("s")).cast(dec) +
          (col("ng") * col("m6") * col("m6")).cast(dec)).as("ssw"),
        sum(col("ng")).as("n"), count(lit(1)).as("kk"))
      .select((col("ssw").cast("double") /
        (col("n") - col("kk")).cast("double")).as("msw"))
    val a = byG.select(col("source").as("source_a"), col("ng").as("na"),
      col("m6").as("ma"))
    val b = byG.select(col("source").as("source_b"), col("ng").as("nb"),
      col("m6").as("mb"))
    a.join(b, col("source_a") < col("source_b"))
      .crossJoin(broadcast(msw))
      .select(col("source_a"), col("source_b"),
        round((col("ma") - col("mb")).cast("double") / 1e6, 6)
          .as("mean_diff"),
        round((col("ma") - col("mb")).cast("double") /
          sqrt(col("msw") * (lit(1.0) / col("na") + lit(1.0) / col("nb"))),
          6).as("z"))
      .orderBy(abs(col("z")).desc, col("source_a").asc,
        col("source_b").asc)
      .limit(k)
  }

  /** The 1-row (chi2_micros, n_a, n_b, n) aggregate shared by
    * [[chiSquareIndependence]] and [[cramersV]] — identical expressions
    * to the original chi-square so its pinned oracle is unaffected.
    */
  private def chiSquareWide(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority").as("a"),
        col("c_mktsegment").as("b"))
      .agg(count(lit(1)).as("o"))
    val all = Window.partitionBy()
    val withTotals = cells
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("a"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("b"))))
      .withColumn("n", sum(col("o")).over(all))
      .withColumn("n_a", size(collect_set(col("a")).over(all)))
      .withColumn("n_b", size(collect_set(col("b")).over(all)))
    val e = col("r").cast("double") * col("c").cast("double") /
      col("n").cast("double")
    val contribMicros = round(
      pow(col("o").cast("double") - e, 2) / e * 1e6, 0).cast("long")
    withTotals
      .withColumn("cm", contribMicros)
      .groupBy(col("n_a"), col("n_b"), col("n"))
      .agg(sum(col("cm")).as("chi2_micros"))
  }

  def chiSquareIndependence(spark: SparkSession, dir: String): DataFrame =
    chiSquareWide(spark, dir)
      .select(
        (col("chi2_micros") / 1e6).as("chi2"),
        ((col("n_a") - 1) * (col("n_b") - 1)).cast("long").as("dof"),
        col("n").cast("long").as("n"))

  /** Cramér's V effect size for the same priority × segment table —
    * the [0,1] strength number the chi-square statistic (which grows
    * with n) cannot give: V = √(χ²/(n·(min(r,c)−1))). Same single
    * aggregate as [[chiSquareIndependence]]; one final fixed-shape
    * formula. Output: (chi2, n, v rounded 6).
    */
  def cramersV(spark: SparkSession, dir: String): DataFrame =
    chiSquareWide(spark, dir)
      .select(
        (col("chi2_micros") / 1e6).as("chi2"),
        col("n").cast("long").as("n"),
        round(sqrt((col("chi2_micros") / 1e6) /
          (col("n").cast("double") *
            (least(col("n_a"), col("n_b")) - 1).cast("double"))), 6)
          .as("v"))
}
