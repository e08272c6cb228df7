package graft

/** Dev-only measurement tool (optimization guide §1/§7.2): dump
  * `.explain("formatted")` for named declared queries to
  * `<outDir>/<query>_<suffix>.txt` — the committed plan evidence for
  * the optimization rounds (`plans/r14/...`). Not part of the driver
  * contract; the driver never invokes it. Session config mirrors
  * [[Bench]] (both use [[GraftSession]]), so the dumped plan is the
  * plan the bench measures.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val Array(outDir, suffix, namesCsv) = args.take(3)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- namesCsv.split(",").map(_.trim).filter(_.nonEmpty)) {
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
