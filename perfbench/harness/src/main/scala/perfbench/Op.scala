package perfbench

import scala.util.control.NonFatal

/** One timed operation of a workload: a query materialization or one
  * MapReduce job. `run` is the timed body; `before`, `after` and `check`
  * run outside the timed region.
  */
trait Op {
  def name: String

  /** Intermediate pairs the op's map emits, when the benchmark generated
    * the input and so knows it exactly; 0 otherwise.
    */
  def pairs: Long = 0L

  /** True for jobs that go through the MapReduce façade. */
  def mr: Boolean = false

  /** Prepares the next `run`, e.g. attaches a listener. */
  def before(): Unit = ()

  /** Builds and materializes the op's result. Returns the nanoseconds
    * spent building the plan (the call into the engine's entry point).
    */
  def run(): Long

  /** Post-op check of the last `run` (e.g. the job tracker's final
    * state); None when it holds. Called after every `run`, failed or not.
    */
  def after(): Option[String] = None

  /** Full output check, run once per op name in the warm-up; None when
    * the output is right.
    */
  def check(): Option[String]
}

/** The outcome of one timed op. Times are from `System.nanoTime` except
  * `startMs`/`endMs`, which are epoch milliseconds used to attribute
  * asynchronous listener events to the op.
  */
final case class OpRecord(
    name: String,
    pass: Int,
    startNs: Long,
    endNs: Long,
    startMs: Long,
    endMs: Long,
    buildNs: Long,
    error: Option[String]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def ok: Boolean = error.isEmpty
}

object Op {
  /** Error class of a failure: the thrown class, plus the root cause's
    * class when it differs (Spark wraps task failures).
    */
  def errorClass(e: Throwable): String = {
    var root = e
    while (root.getCause != null && (root.getCause ne root)) root = root.getCause
    val outer = e.getClass.getName
    if (root eq e) outer else s"$outer<-${root.getClass.getName}"
  }

  /** Runs `body`, turning any non-fatal throwable into its error class. */
  def attempt[T](body: => T): Either[String, T] =
    try Right(body)
    catch {
      case e: LinkageError => Left(errorClass(e))
      case NonFatal(e)     => Left(errorClass(e))
    }
}
