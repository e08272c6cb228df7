package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The query surface: [[entry]] plus every declared query and its DuckDB
  * oracle, keyed by name.
  *
  * A query is added as ONE [[Declared]] row in its family file under
  * `graft/queries/`: the Spark body, the oracle SQL (same tables, same
  * column names and aliases as the Spark output — the comparison
  * sorts columns by name and hash-compares values) and, through its
  * [[Declared.Family]], whether it reads memos. [[queries]] and [[oracleSql]]
  * are derived from those rows; a repeated name fails at load.
  *
  * Determinism rules (SURVEY.md §7.4): distances rounded to 6dp before
  * ranking; money/measure sums on exact integer cents (ExactNum);
  * timestamps emitted as epoch integers; every ranking has an id
  * tie-break.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's LITERAL end-to-end pipeline
    * (`/root/reference/src/main.rs:61-94`), through the real ingest
    * path: lenient NDJSON read with a head limit -> prefix split ->
    * exact top-10 neighbors of one held-out query by cosine distance
    * -> first-sentence projection of each hit's body (the same plan the
    * hash-gated `ingest_ndjson_topk` row verifies against DuckDB).
    */
  def entry(spark: SparkSession): DataFrame =
    sources.Ingest.ndjsonTopKPipeline(spark, "/root/testdata/sf0.001")

  /** Every declared row, family by family. */
  val declared: Seq[Declared] = Seq(VectorQueries.rows, TextQueries.rows,
    DedupQueries.rows, GraphQueries.rows, PipelineQueries.rows,
    EventQueries.rows, OrderQueries.rows, StatsQueries.rows,
    IngestQueries.rows, LayoutQueries.rows, RelationalQueries.rows).flatten

  private val byName = Declared.byName(declared)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, d) => n -> d.run }

  val oracleSql: Map[String, String] = byName.map { case (n, d) => n -> d.oracle }
}
