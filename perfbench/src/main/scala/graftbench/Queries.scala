package graftbench

import org.apache.spark.sql.{DataFrame, Row}

/** One timed query: build the lazy frame, then run it. Untraced, only the
  * wall time is taken. Traced, the query is split into spans: `construct`
  * (until the query function returns its frame), `plan` (forcing the
  * executed plan) and `exec` (the action). */
object Queries {

  private def split[A](rec: Recorder, build: => DataFrame)(run: DataFrame => A): A =
    rec.span("query") {
      val df = rec.span("construct")(build)
      rec.span("plan")(df.queryExecution.executedPlan)
      rec.span("exec")(run(df))
    }

  /** Run `build` and collect it; records a `query_s` sample. Returns the
    * rows, or an empty array when the query failed (counted in the
    * report). */
  def timed(rec: Recorder, report: Report, what: String)(
      build: => DataFrame): Array[Row] =
    measure(rec, report, what)(build)(_.collect()).getOrElse(Array.empty[Row])

  /** Run `build` through the no-op sink (every row materialized, nothing
    * kept, as the engine's bench does); the query's wall seconds, or -1. */
  def noop(rec: Recorder, report: Report, what: String)(build: => DataFrame): Double = {
    val t0 = System.nanoTime()
    measure(rec, report, what)(build)(
      _.write.format("noop").mode("overwrite").save())
      .map(_ => (System.nanoTime() - t0) / 1e9).getOrElse(-1.0)
  }

  private def measure[A](rec: Recorder, report: Report, what: String)(
      build: => DataFrame)(run: DataFrame => A): Option[A] = {
    val t0 = System.nanoTime()
    var out: Option[A] = None
    val ok = report.check(what) {
      out = Some(if (rec.enabled) split(rec, build)(run) else run(build))
      true
    }
    if (ok) report.add("query_s", (System.nanoTime() - t0) / 1e9)
    out
  }
}
