package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.mr.JobTracker

/** An op whose timed body ends in a `noop` write, optionally under
  * `JobTracker.tracked`. A tracked op also gets a second, independent
  * tracker that nothing marks done; `after` requires that tracker, built
  * only from the op's listener events, to reach (REDUCE, 100 %).
  */
abstract class MaterializingOp(spark: SparkSession, tracked: Boolean) extends Op {
  override def mr: Boolean = tracked
  private var observer: Option[JobTracker] = None

  override def before(): Unit = if (tracked) {
    val t = new JobTracker
    spark.sparkContext.addSparkListener(t)
    observer = Some(t)
  }

  /** Times the plan building in `build`, then materializes its result. */
  protected def buildAndMaterialize(build: => DataFrame): Long = {
    val t0 = System.nanoTime()
    val df = build
    val built = System.nanoTime() - t0
    if (tracked) JobTracker.tracked(spark)(Workloads.materialize(df))
    else Workloads.materialize(df)
    built
  }

  override def after(): Option[String] = observer.flatMap { t =>
    observer = None
    try MrJob.awaitTerminal(t) finally spark.sparkContext.removeSparkListener(t)
  }
}

/** A registered query, built through `SparkEntry.queries` and materialized
  * with the same `noop`-format write `graft.Bench` times. Façade queries
  * run tracked, like the generated MapReduce jobs.
  */
final class QueryOp(
    spark: SparkSession,
    dir: String,
    val name: String,
    golden: Map[String, Fingerprint],
    tracked: Boolean) extends MaterializingOp(spark, tracked) {
  def run(): Long = buildAndMaterialize(SparkEntry.queries(name)(spark, dir))

  def check(): Option[String] =
    Fingerprint.compare(name, golden, Fingerprint.of(SparkEntry.queries(name)(spark, dir)))
}

object Workloads {
  def materialize(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** The registered queries that go through the MapReduce façade (or its
    * secondary-sort twin), run at the fixed sf0.1 tables.
    */
  val facadeQueries: Seq[String] = Seq(
    "q20_mr_wordcount", "q21_mr_char_by_lang", "q59_mr_wordcount_combine", "q238_secondary_sort")

  /** The lowest-numbered `EventWindows` stateless writeStream and
    * transformWithState fixtures, and the `Sources` lakehouse lifecycle:
    * time travel, delete and vacuum.
    */
  val streamStore: Seq[String] = Seq(
    "q37_stream_tumbling", "q189_transform_with_state",
    "q143_time_travel", "q155_gdpr_delete", "q168_vacuum")

  /** Every query the golden file must cover. */
  def goldenQueries: Seq[String] = facadeQueries ++ streamStore

  /** Corpus size of `mr_facade`: about 600k word pairs. */
  val CorpusDocs = 15000
  val CorpusVocab = 50000
  val CorpusMeanLen = 40
  val CorpusSkew = 1.0

  /** A workload's ops and the nominal length of one warm pass at
    * `local[2]`, which sizes the timed window.
    */
  final case class Workload(ops: Seq[Op], passSeconds: Double) {
    /** Whole passes for a window of about `seconds`: at least two. */
    def passes(seconds: Double): Int = math.max(2, math.ceil(seconds / passSeconds).toInt)
  }

  def apply(workload: String, spark: SparkSession, dir: String, seed: Long,
      golden: Map[String, Fingerprint], slices: Int): Workload = {
    def queries(ns: Seq[String], tracked: Boolean): Seq[Op] =
      ns.map(n => new QueryOp(spark, dir, n, golden, tracked))
    workload match {
      case "mr_facade" =>
        val corpus = Corpus.generate(seed, CorpusDocs, CorpusVocab, CorpusMeanLen, CorpusSkew)
        Workload(MrJob.jobs(spark, corpus, slices) ++ queries(facadeQueries, tracked = true), 6.0)
      case "stream_store" => Workload(queries(streamStore, tracked = false), 9.0)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}
