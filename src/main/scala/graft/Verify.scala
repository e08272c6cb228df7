package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (dev loop only): comma-separated query-name
    // filter — the driver always passes two args and dumps everything
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    // tier-aware overlay: generated-literal pins bind the tier they
    // were generated at — when the input is the 10x sf1 tier the sf1
    // pin set replaces the sf0.01 pins, so the same hash gate replays
    // those rows at 10x. The tier is named by the explicit _GRAFT_TIER
    // marker tools/make_sf1.py writes into every derived tier (r12
    // advice: the former exact-row-count trigger could fire on a
    // coincidental dataset and silently swap the oracle set, and its
    // catch-all read hid genuine errors). Driver-generated sf dirs
    // carry no marker and get the sf0.01-generation oracles unchanged.
    val tierMarker = Paths.get(s"$sfDir/_GRAFT_TIER")
    val tier =
      if (Files.exists(tierMarker)) Files.readString(tierMarker).trim
      else ""
    // Legacy-tier guard (r13 advice): an sf1 directory generated before
    // the marker existed would silently get the BASE oracle set —
    // confusing hash mismatches and quadratic base-oracle replays
    // instead of a clear signal. The legacy fingerprint is the derived
    // tier's embeddings cardinality (20,000 — driver-generated dirs
    // carry 50/500/2,000); fail fast, BEFORE any query runs, and name
    // the fix.
    if (tier.isEmpty &&
        spark.read.parquet(s"$sfDir/embeddings.parquet").count() == 20000L)
      throw new IllegalStateException(
        s"$sfDir looks like a derived 10x tier (20,000 embeddings) but has " +
          "no _GRAFT_TIER marker — regenerate it with the current " +
          "tools/make_sf1.py so the tier-aware oracle overlay applies")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles =
      if (tier == "sf1") SparkEntry.oracleSql ++ GeneratedOraclesSf1.sql
      else SparkEntry.oracleSql
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
