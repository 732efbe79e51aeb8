package perfbench

/** Harness self-test, no Spark session needed: a throwing op and a
  * wrong-output op must both count as failed, a job tracker that saw no
  * finished job must fail the terminal-state check, and a small span tree
  * must give the expected self times. Exits non-zero on the first broken
  * expectation.
  */
object SelfTest {
  private final class FakeOp(val name: String, body: () => Unit, verdict: Option[String]) extends Op {
    var befores, afters = 0
    override def before(): Unit = befores += 1
    def run(): Long = { body(); 0L }
    override def after(): Option[String] = { afters += 1; None }
    def check(): Option[String] = verdict
  }

  private def expect(cond: Boolean, what: String): Unit =
    if (cond) println(s"ok   $what")
    else { println(s"FAIL $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val ops = Seq(
      new FakeOp("good", () => (), None),
      new FakeOp("throws", () => throw new IllegalStateException("boom"), None),
      new FakeOp("wrong", () => (), Some("rows 1 != golden 2")))
    val runner = new Runner(ops, seed = 7L, between = () => ())
    val (warm, wrong) = runner.warmUp()
    expect(warm.size == 3 && warm.count(!_.ok) == 1, "the warm-up runs every op once")
    val (timed, complete) = runner.timed(passes = 2, deadlineNs = Long.MaxValue)
    val records = Runner.applyWrong(timed, wrong)
    val failed = records.filter(!_.ok).map(r => r.name -> r.error.get).toMap
    expect(complete && records.size == 6, "two whole passes of three ops ran")
    expect(failed.get("throws").contains("java.lang.IllegalStateException"),
      "a throwing op is failed with its error class")
    expect(failed.get("wrong").contains("WrongOutput"), "a wrong-output op is failed")
    expect(!failed.contains("good"), "a good op is not failed")
    expect(records.count(!_.ok).toDouble / records.size == 2.0 / 3, "failed_frac counts both")
    expect(ops.forall(o => o.befores == 3 && o.afters == 3),
      "before and after run around every run, a throwing one too")
    expect(MrJob.awaitTerminal(new graft.mr.JobTracker, timeoutMs = 20L).exists(
      _.startsWith("JobStateNotTerminal")), "a tracker that saw no finished job fails the check")

    val (late, lateComplete) = runner.timed(passes = 2, deadlineNs = System.nanoTime() - 1)
    expect(late.isEmpty && !lateComplete, "a run past its deadline is marked incomplete")

    // op [0, 100]: build [0, 30] holding a job [10, 25]; a job [40, 90]
    // holding stages [40, 60] and [50, 80] (overlapping); a phase [95, 120]
    // sticking out of the op.
    val spans = Seq(
      Span("entry", 1, 0, 30), Span("sched", 3, 10, 25),
      Span("sched", 3, 40, 90), Span("task", 4, 40, 60), Span("task", 4, 50, 80),
      Span("driver", 3, 95, 120))
    val self = Spans.selfTimes(0, 100, spans, "unattributed")
    val want = Map("entry" -> 15.0, "sched" -> 25.0, "task" -> 40.0,
      "driver" -> 5.0, "unattributed" -> 15.0)
    expect(self == want, s"self times $self == $want")
    expect(self.values.sum == 100.0, "self times sum to the op's wall time")
    expect(Spans.union(Seq((40.0, 60.0), (50.0, 80.0), (90.0, 95.0))) == 45.0, "interval union")

    expect(Stats.tailPercentile(100).contains(90) && Stats.tailPercentile(40).contains(75) &&
      Stats.tailPercentile(19).isEmpty, "tail percentile keeps ten samples beyond it")
    expect(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median")
    println("self-test passed")
  }
}
