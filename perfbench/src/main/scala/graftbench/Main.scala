package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run measured: timing samples per end-to-end metric, checked
  * operations, per-layer numbers (traced runs) and the span table. */
final class Report {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val failures = mutable.ArrayBuffer[String]()
  val table = mutable.ArrayBuffer[(String, Int, Double, Double)]()
  var attempted = 0L

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v

  /** Count one operation; a thrown error or a false result fails it. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val r = try ok catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        return false
    }
    if (!r) failures += what
    r
  }

  /** Run a timed operation that must not throw; -1 when it did. */
  def timed(what: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    val ok = check(what) { body; true }
    if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
  }

  def toJson: String = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.map(str).mkString("[", ",", "]"),
      "samples" -> obj(samples.map { case (k, v) =>
        k -> v.map(num).mkString("[", ",", "]") }),
      "layers" -> obj(layers.map { case (k, v) => k -> num(v) }),
      "table" -> table.map { case (n, c, tot, self) =>
        obj(Seq("name" -> str(n), "count" -> c.toString,
          "total_ms" -> num(tot), "self_ms" -> num(self)))
      }.mkString("[", ",", "]")))
  }
}

/** Benchmark entry point: one workload in one long-lived Spark driver.
  *
  * Usage: graftbench.Main <workload> <dataDir> <workDir> <trace 0|1> <seed>
  *   <resultFile>
  */
object Main {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Used heap after a forced collection, in MB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, traceArg, seedArg, resultFile) = args
    val traced = traceArg == "1"
    val seed = seedArg.toLong
    graft.LogProfiles.quietBench()
    // at most two task threads: the other cores stay free for the JIT
    // compiler, the collector and the driver thread, so that timings on a
    // small shared host do not measure the OS scheduler
    val threads = math.min(2, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = new Report
    val rec = new Recorder(spark.sparkContext, traced)
    try {
      workload match {
        case "refresh_cycle" =>
          new RefreshCycle(spark, rec, report, dataDir, workDir, seed).run()
        case "query_mix" =>
          new QueryMix(spark, rec, report, dataDir, workDir, seed).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (traced) Layers.fill(rec, report, s"$workDir/spans.jsonl")
      report.add("live_heap_mb", liveHeapMb())
      val beans = ManagementFactory.getGarbageCollectorMXBeans
      var gcMs = 0L
      beans.forEach(b => gcMs += math.max(0L, b.getCollectionTime))
      report.layers("jvm.gc_ms") = gcMs.toDouble
      report.layers("jvm.jit_ms") =
        ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
    } catch {
      case scala.util.control.NonFatal(e) =>
        report.attempted += 1
        report.failures += s"workload aborted: $e"
        e.printStackTrace()
    } finally {
      val out = new java.io.PrintWriter(resultFile, "UTF-8")
      try out.write(report.toJson) finally out.close()
      spark.stop()
    }
  }
}
