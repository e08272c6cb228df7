package perfbench

/** Reference answers in plain Scala, independent of the engine's code. */
object Checks {

  /** Clamped cosine distance rounded half-up to 6 places: the metric the
    * engine's kNN layers report.
    */
  def dist(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); sa += a(i) * a(i); sb += b(i) * b(i); i += 1
    }
    val denom = math.sqrt(sa) * math.sqrt(sb)
    val c = if (denom == 0.0) 0.0 else math.max(dot / denom, 0.0)
    BigDecimal(1.0 - c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Brute-force top-k of one query: (id, dist) by ascending (dist, id). */
  def topK(q: Array[Double], base: Array[(Long, Array[Double])],
      k: Int): Seq[(Long, Double)] =
    base.iterator.map { case (id, v) => (id, dist(q, v)) }.toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** An engine top-k agrees with the brute-force one when every rank has
    * the same distance within `tol`, and every id that differs sits in a
    * tie: its true distance equals the reported one within `tol`.
    */
  def sameTopK(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
      truth: Long => Double, tol: Double = 1e-6): Boolean =
    got.length == want.length && got.zip(want).forall {
      case ((gi, gd), (wi, wd)) =>
        math.abs(gd - wd) <= tol && (gi == wi || math.abs(truth(gi) - gd) <= tol)
    }

  /** k rows per query, in ascending distance. */
  def wellFormed(rows: Seq[(Long, Long, Double)], queries: Seq[Long],
      k: Int): Boolean = {
    val byQuery = rows.groupBy(_._1)
    queries.forall { q =>
      val ds = byQuery.getOrElse(q, Seq.empty).map(_._3)
      ds.length == k && ds.zip(ds.drop(1)).forall { case (a, b) => a <= b }
    } && byQuery.keySet.subsetOf(queries.toSet)
  }
}
