package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, PlanDump and the test
  * session all run on this config, so a plan measured by Bench is the
  * plan Verify checks and the specs exercise.
  */
object GraftSession {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC
    * timestamps, no UI, WARN logging and a temp warehouse, so managed
    * tables (the bucketed-layout rows) never land in the working
    * directory.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
