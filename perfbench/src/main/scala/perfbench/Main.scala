package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness main: runs one workload against inputs the
  * generator wrote under `--data`, and writes raw samples, checks and
  * spans as JSON to `--out`. `run.py` builds, generates, launches this,
  * and turns the file into the benchmark's result line.
  *
  * Usage: Main --workload W --data DIR --out FILE --seconds S --seed N
  *             --trace 0|1 --cpus C
  */
object Main {
  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val cpus = opt("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("data") + "/spark-local")
      .config("spark.sql.warehouse.dir", opt("data") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, opt("data"), opt("seconds").toDouble,
      opt("seed").toLong, opt("trace") == "1", t0)
    try Workloads(opt("workload"))(run)
    catch { case e: Throwable => run.error("workload", e) }
    finally {
      java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
        run.json.getBytes("UTF-8"))
      spark.stop()
    }
  }
}

/** The state one run accumulates: timings, checks, values and spans. */
final class Run(val spark: SparkSession, val dir: String, val seconds: Double,
    val seed: Long, traced: Boolean, t0: Long) {
  val span = new Tracer(spark, traced)
  private val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var setupS = Double.NaN
  private var measureStart = 0L
  var attempted = 0L
  var failed = 0L

  /** Ends set-up: the next operation is the first timed one. */
  def startMeasuring(): Unit = {
    setupS = (System.nanoTime() - t0) / 1e9
    span.recording = true
    measureStart = System.nanoTime()
  }

  def measuring: Boolean = (System.nanoTime() - measureStart) / 1e9 < seconds

  def stopMeasuring(): Unit = span.recording = false

  /** Runs one operation, times it in seconds; a throw counts as failed. */
  def timed[T](body: => T): Option[(T, Double)] = {
    attempted += 1
    val t = System.nanoTime()
    try Some((body, (System.nanoTime() - t) / 1e9))
    catch { case e: Exception => error("operation", e); None }
  }

  def sample(name: String, v: Double): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def value(name: String, v: Double): Unit = values(name) = v

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
  }

  def error(where: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$where: ${e.getClass.getName}: ${e.getMessage}"
    e.printStackTrace()
  }

  /** Memory and disk the persisted relations hold, in MB. */
  def cacheMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Drops every memo and persisted relation: the next pass starts cold. */
  def clearCaches(): Unit = {
    graft.IndexCache.releaseBroadcasts(spark)
    graft.IndexCache.clear()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def json: String = {
    import Main.str
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    obj(Seq(
      "setup_s" -> num(setupS),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "series" -> obj(series.map { case (k, v) => k -> v.map(num).mkString("[", ",", "]") }),
      "values" -> obj(values.map { case (k, v) => k -> num(v) }),
      "checks" -> checks.map { case (n, ok, d) =>
        obj(Seq("name" -> str(n), "ok" -> ok.toString, "detail" -> str(d)))
      }.mkString("[", ",", "]"),
      "errors" -> errors.map(str).mkString("[", ",", "]"),
      "spans" -> span.report().map { case (n, stats) =>
        obj(Seq("name" -> str(n)) ++ stats.map { case (k, v) => k -> num(v) })
      }.mkString("[", ",", "]")))
  }
}
