package graft
package queries

/** DuckDB oracle fragments used by more than one query family. */
private[queries] object OracleSql {

  /** Clamped cosine distance between list columns `b.emb` and `q.emb`,
    * rounded to 6 — same fold + rounding as VectorFunctions (§7.4).
    */
  val cosDistSql: String =
    """round(1 - greatest(
         list_sum(list_transform(list_zip(b.emb, q.emb), z -> z[1]*z[2])) /
         (sqrt(list_sum(list_transform(b.emb, x -> x*x))) *
          sqrt(list_sum(list_transform(q.emb, x -> x*x)))), 0), 6)"""

  /** 2-decimal column -> exact integer cents (mirror of ExactNum.cents). */
  def c100(col: String): String =
    s"CAST(round($col*100) AS BIGINT)"

  /** Shared interpolated-Kneser-Ney chain: per-doc-bigram surprisal
    * rows `sc(doc_id, nll)` — every margin off the bigram-type table,
    * the identical left-assoc double arithmetic as the Spark side
    * (D = 0.75 is exact in binary).
    */
  val knChainSql: String = """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      pr AS (SELECT doc_id,
                    unnest([w[i] for i in range(1, len(w))]) AS w1,
                    unnest([w[i+1] for i in range(1, len(w))]) AS w2
             FROM d),
      cb AS (SELECT w1, w2, count(*) AS cb FROM pr GROUP BY 1, 2),
      cw AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw, count(*) AS n1f
             FROM cb GROUP BY 1),
      ct AS (SELECT w2, count(*) AS cont FROM cb GROUP BY 1),
      b AS (SELECT count(*) AS b FROM cb),
      sc AS (SELECT doc_id,
                    -ln(((cb - 0.75) + 0.75 * n1f * cont / b) / cw) AS nll
             FROM pr JOIN cb USING (w1, w2) JOIN cw USING (w1)
                     JOIN ct USING (w2) CROSS JOIN b)"""
}
