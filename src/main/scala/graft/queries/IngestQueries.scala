package graft
package queries

import OracleSql.cosDistSql

/** Ingest rows: the reference NDJSON pipeline and schema evolution
  * (`ingest_`).
  */
object IngestQueries {

  private val row = new Declared.Family(readsMemos = false)

  val rows: Seq[Declared] = Seq(
    // the reference's literal main() as ONE row (S1 lenient NDJSON
    // ingest + limit, S2 prefix split, J1/T1 exact top-k, P1
    // first-sentence projection); oracle replays each step on the
    // embeddings parquet (file order == vec_id by construction)
    // ingest-pipeline replay: the first 300 VALID ndjson records are
    // vec_id 0..299 (planted malformed/vectorless lines drop at parse
    // time), the split is round(0.95·n), the body's first sentence is
    // 'Doc <id> label <label>' by construction of the render
    row("ingest_ndjson_topk", (s, d) => sources.Ingest.ndjsonTopKPipeline(s, d), s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
                        'Doc ' || vec_id || ' label ' || label AS first_sentence
                 FROM embeddings WHERE vec_id < 300),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s, count(*) AS c FROM e)
      SELECT b.vec_id, $cosDistSql AS dist, b.first_sentence
      FROM e b, e q, p
      WHERE b.vec_id < p.s AND q.vec_id = p.s + (29 % (p.c - p.s))
      ORDER BY dist, b.vec_id LIMIT 10"""),

    // SCHEMA EVOLUTION: one mergeSchema read across two real file
    // generations (the priority column added mid-stream); planning-time
    // footer union, NULL back-fill at scan — generation 1 is never
    // rewritten, and the hash gate proves no row loss or misalignment
    // schema-evolution replay: generation 1 (even keys) landed before
    // the priority column existed, so those rows roll up under the
    // sentinel; generation 2 (odd keys) carries the real priority
    row("ingest_schema_evolution", (s, d) => sources.Ingest.schemaEvolutionRollup(s, d),
      """
      SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                  ELSE '(pre-evolution)' END AS o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM orders GROUP BY 1"""),
  )
}
