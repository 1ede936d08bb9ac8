package perfbench

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Self-test of the benchmark's roll-up arithmetic on synthetic event
  * sequences: unfinished records are skipped and overlapping intervals
  * are unioned, never summed. Run: `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0
  private def check(name: String, got: Any, want: Any): Unit =
    if (got != want) { failures += 1; println(s"FAIL $name: got $got, want $want") }
    else println(s"ok   $name")

  private def props(tag: String, exec: Long): java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty(Rollup.TagKey, tag)
    if (exec >= 0) p.setProperty("spark.sql.execution.id", exec.toString)
    p
  }
  private def execStart(id: Long, t: Long) =
    SparkListenerSQLExecutionStart(id, None, "", "", "", null, t, Map.empty, Set.empty, None)

  def main(args: Array[String]): Unit = {
    check("union of disjoint", Intervals.unionLength(Seq((0L, 10L), (20L, 30L)), 0, 100), 20L)
    check("union of overlapping", Intervals.unionLength(Seq((0L, 100L), (50L, 150L)), 0, 200), 150L)
    check("union of nested", Intervals.unionLength(Seq((0L, 100L), (10L, 20L)), 0, 200), 100L)
    check("unfinished interval skipped",
      Intervals.unionLength(Seq((10L, 0L), (0L, 50L)), 0, 100), 50L)
    check("clipped to window", Intervals.unionLength(Seq((0L, 100L)), 40, 60), 20L)
    check("empty", Intervals.unionLength(Nil, 0, 10), 0L)

    val r = new Rollup
    // job 1 and 2 overlap; job 3 never ends; exec 7 never ends
    r.onOtherEvent(execStart(5, 1000))
    r.onJobStart(SparkListenerJobStart(1, 1010, Nil, props("0|a|action", 5)))
    r.onJobStart(SparkListenerJobStart(2, 1050, Nil, props("0|a|action", 5)))
    r.onJobEnd(SparkListenerJobEnd(1, 1100, JobSucceeded))
    r.onJobEnd(SparkListenerJobEnd(2, 1150, JobSucceeded))
    r.onOtherEvent(SparkListenerSQLExecutionEnd(5, 1160, None))
    r.onOtherEvent(execStart(7, 1200))
    r.onJobStart(SparkListenerJobStart(3, 1210, Nil, props("0|a|action", 7)))
    r.onJobStart(SparkListenerJobStart(4, 1300, Nil, props("0|a|build", -1)))
    r.onJobEnd(SparkListenerJobEnd(4, 1400, JobSucceeded))

    val done = r.completedJobs(_.nonEmpty).map(_.id).sorted
    check("unfinished job skipped", done, Seq(1, 2, 4))
    check("phase filter", r.completedJobs(_.endsWith("|build")).map(_.id), Seq(4))
    val execs = r.completedExecs(_.nonEmpty)
    check("unfinished execution skipped", execs.map(_._1.id), Seq(5L))
    check("plan gap = first job start - exec start", execs.map(x => x._2 - x._1.start), Seq(10L))
    val actionJobs = r.completedJobs(_.endsWith("|action")).map(j => (j.start, j.end))
    val gap = 1200L - 1000L - Intervals.unionLength(actionJobs, 1000L, 1200L)
    check("driver gap never negative, overlap counted once", gap, 60L)

    val s = new Spans(enabled = true)
    val root = s.add(0, "lane", "lane", "k", 0, 100)
    s.add(root, "queries", "queries.build", "k", 0, 40)
    s.add(root, "spark", "spark.action", "k", 30, 100)
    s.add(root, "spark", "spark.job", "k", 50, 0) // unfinished: ignored
    check("self time of parent excludes overlapping children", s.selfTimeMs("lane"), 0L)
    check("self time per layer", s.selfTimeMs("queries"), 40L)

    check("seq from envelope", TimedSink.seqOf("""{"bid_cents":1,"volume_milli":12345,"high_cents":2}"""), 12345L)
    check("quantile interpolates", Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5), 2.5)

    println(if (failures == 0) "selftest passed" else s"selftest: $failures failure(s)")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
