package graftbench

import org.apache.spark.sql.SparkSession

/** The `query_mix` workload: the frozen 20-query headline over generated
  * tables. A first pass in the fresh JVM writes every result to parquet
  * (the files the oracle check reads); then two steady passes run every
  * query through the no-op sink, each in its own seeded order. */
final class QueryMix(spark: SparkSession, rec: Recorder, report: Report,
    dataDir: String, workDir: String, seed: Long) {

  private val SteadyPasses = 2

  /** The engine bench's frozen headline set (graft.Bench), in its order. */
  val headline: Seq[String] = Seq(
    "q_rel_pricing_summary", "q_rel_revenue_by_nation", "q_rel_top_customers",
    "q_cdc_process_list", "q_cdc_counts", "q_upsert_master",
    "q_group_ordered_concat", "q_group_renumber",
    "q_window_neighbor_fill", "q_window_proportional",
    "q_validate_coverage", "q_master_merge",
    "q_dedup_minhash_pairs", "q_dedup_simhash", "q_knn_brute",
    "q_text_stats", "q_text_quality",
    "q_events_windowed", "q_events_sessions",
    "q_pipe_chunks")

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(headline)

  def run(): Unit = {
    val queries = graft.SparkEntry.queries
    val out = s"$workDir/results"
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => headline.contains(k) }
    val w = new java.io.PrintWriter(s"$workDir/oracle_sql.json", "UTF-8")
    try w.write(oracle.map { case (k, v) =>
      "\"" + k + "\":" + com.fasterxml.jackson.databind.node.TextNode.valueOf(v).toString
    }.mkString("{", ",", "}")) finally w.close()

    report.add("setup_jvm_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
    rec.newTrace()
    val cold = rec.span("pass.cold") {
      order(0).map { name =>
        report.timed(s"$name (first pass)") {
          queries(name)(spark, dataDir).write.mode("overwrite").parquet(s"$out/$name")
        }
      }
    }
    report.add("build_cold_s", if (cold.exists(_ < 0)) -1.0 else cold.sum)

    (1 to SteadyPasses).foreach { pass =>
      rec.newTrace()
      val t0 = System.nanoTime()
      val times = rec.span("pass.steady") {
        order(pass).map(name =>
          Queries.noop(rec, report, name)(queries(name)(spark, dataDir)))
      }
      if (times.forall(_ >= 0)) {
        report.add("cycle_s", (System.nanoTime() - t0) / 1e9)
        report.add("build_s", times.sum)
      }
    }
    if (rec.enabled) {
      val t = System.nanoTime()
      graft.Tables.lineitem(spark, dataDir).write.format("noop").mode("overwrite").save()
      report.add("layer:Tables.scan_ms", (System.nanoTime() - t) / 1e6)
    }
  }
}
