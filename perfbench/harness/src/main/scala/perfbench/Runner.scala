package perfbench

/** Closed-loop driver: one client thread runs the ops back to back.
  *
  * A pass runs every op once, in an order drawn from the seed. After an
  * untimed warm-up, the timed window runs a fixed number of whole passes,
  * so every run measures the same ops. A failed op is recorded with its
  * error class and counted; it is never dropped or rerun.
  */
final class Runner(ops: Seq[Op], seed: Long, between: () => Unit,
    hooks: Option[Runner.Hooks] = None) {
  private val rng = new scala.util.Random(seed)

  def order(): Seq[Op] = rng.shuffle(ops)

  def runOne(op: Op, pass: Int): OpRecord = {
    op.before()
    hooks.foreach(_.beforeOp())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = Op.attempt(op.run())
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val verdict = Op.attempt(op.after()).fold(Some(_), identity)
    hooks.foreach(_.afterOp(t0))
    between()
    OpRecord(op.name, pass, t0, t1, startMs, endMs, res.getOrElse(0L),
      res.left.toOption.orElse(verdict))
  }

  /** Untimed warm-up: one pass that checks every op's output and then runs
    * its timed body once, so the JIT, the codegen cache and the artifact
    * caches hold what the timed passes use. Returns the records of those
    * runs and the ops whose output is wrong, with the reason.
    */
  def warmUp(): (Seq[OpRecord], Map[String, String]) = {
    val wrong = Map.newBuilder[String, String]
    val recs = order().map { op =>
      Op.attempt(op.check()).fold(cls => Some(s"CheckFailed($cls)"), identity)
        .foreach(why => wrong += op.name -> why)
      between()
      runOne(op, -1)
    }
    (recs, wrong.result())
  }

  /** Timed window: `passes` whole passes. Stops early, leaving the run
    * incomplete, if an op would start after `deadlineNs`.
    */
  def timed(passes: Int, deadlineNs: Long): (Seq[OpRecord], Boolean) = {
    val out = Seq.newBuilder[OpRecord]
    var complete = true
    for (pass <- 0 until passes; op <- order() if complete) {
      if (System.nanoTime() > deadlineNs) complete = false
      else out += runOne(op, pass)
    }
    (out.result(), complete)
  }
}

object Runner {
  /** Called around every op, outside its timed region. */
  trait Hooks {
    def beforeOp(): Unit
    def afterOp(startNs: Long): Unit
  }

  /** Marks every record of a wrong-output op as failed. */
  def applyWrong(records: Seq[OpRecord], wrong: Map[String, String]): Seq[OpRecord] =
    records.map { r =>
      if (r.ok && wrong.contains(r.name)) r.copy(error = Some("WrongOutput")) else r
    }
}
