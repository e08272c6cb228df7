package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the Spark body, run over a dataset
  * directory, the DuckDB SQL that replays it over the same tables, and
  * whether Bench times it in the cached section (before the persisted
  * builds are released) because it reads a memo.
  */
final case class Declared(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    readsMemos: Boolean)

object Declared {

  /** Makes one family file's rows; the family states its Bench section once. */
  final class Family(readsMemos: Boolean) {
    def apply(name: String, run: (SparkSession, String) => DataFrame,
        oracle: String): Declared = Declared(name, run, oracle, readsMemos)
  }

  /** Rows by name. A repeated name is a declaration error, never a silent
    * override.
    */
  def byName(rows: Seq[Declared]): Map[String, Declared] = {
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate declared query name: ${dups.toSeq.sorted.mkString(", ")}")
    rows.map(r => r.name -> r).toMap
  }
}
