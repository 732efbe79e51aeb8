package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.mr.{JobState, JobTracker, MapReduce, Stage}

/** Seed-generated in-memory input for the MapReduce façade, shaped like
  * the reference's `InputVec`: `(doc_id, text)` pairs whose words follow a
  * Zipf law, so a few keys are hot and most are rare.
  */
final class Corpus(val docs: Array[(Long, String)]) {
  /** Pairs the word-count map emits: one per word. */
  val words: Long = docs.iterator.map(_._2.count(_ == ' ') + 1L).sum

  /** Pairs the inverted-index map emits: one per distinct word of a doc. */
  val postings: Long = docs.iterator.map(d => MrFns.postings(d._1, d._2).size.toLong).sum

  /** Plain-Scala folds of the same input: the expected output bags. */
  lazy val wordCounts: Seq[String] =
    docs.iterator.flatMap(d => MrFns.words(d._1, d._2)).toSeq
      .groupMapReduce(_._1)(_._2)(_ + _).iterator
      .map { case (w, n) => MrFns.renderCount((w, n)) }.toSeq

  lazy val index: Seq[String] =
    docs.iterator.flatMap(d => MrFns.postings(d._1, d._2)).toSeq
      .groupMap(_._1)(_._2).iterator
      .map { case (w, ids) => MrFns.renderPostings((w, ids.sorted)) }.toSeq
}

object Corpus {
  def generate(seed: Long, nDocs: Int, vocab: Int, meanLen: Int, skew: Double): Corpus = {
    val rng = new java.util.SplittableRandom(seed)
    val cdf = new Array[Double](vocab)
    var acc = 0.0
    for (k <- 0 until vocab) { acc += 1.0 / math.pow(k + 1, skew); cdf(k) = acc }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble() * acc)
      "w" + Integer.toString(if (i >= 0) i else -i - 1, 36)
    }
    val docs = Array.tabulate(nDocs) { d =>
      val len = meanLen / 2 + rng.nextInt(meanLen + 1)
      (d.toLong, Iterator.fill(len)(word()).mkString(" "))
    }
    new Corpus(docs)
  }
}

/** Map and reduce functions of the façade jobs. They live in an object so
  * the closures shipped to tasks capture nothing else.
  */
object MrFns extends Serializable {
  def words(id: Long, text: String): Iterator[(String, Long)] =
    text.split(' ').iterator.map(w => (w, 1L))

  def postings(id: Long, text: String): Iterator[(String, Long)] =
    text.split(' ').distinct.iterator.map(w => (w, id))

  def count(w: String, group: Iterator[(String, Long)]): Iterator[(String, Long)] =
    Iterator((w, group.map(_._2).sum))

  def postingList(w: String, group: Iterator[(String, Long)]): Iterator[(String, Seq[Long])] =
    Iterator((w, group.map(_._2).toVector.sorted))

  def renderCount(r: (String, Long)): String = s"${r._1}\t${r._2}"
  def renderPostings(r: (String, Seq[Long])): String = s"${r._1}\t${r._2.mkString(",")}"
}

/** One MapReduce job, run under `JobTracker.tracked`. The timed op is a
  * `noop` write of the job's output; the check compares the collected
  * output as a bag against a plain-Scala fold of the same input.
  * `combines` marks the job that runs through `MapReduce.runCombine`.
  */
final class MrJob[T](
    val name: String,
    override val pairs: Long,
    val combines: Boolean,
    spark: SparkSession,
    job: () => Dataset[T],
    render: T => String,
    expected: () => Seq[String]) extends MaterializingOp(spark, tracked = true) {
  def run(): Long = buildAndMaterialize(job().toDF())

  def check(): Option[String] = {
    val got = job().collect().map(render).sorted
    val want = expected().sorted
    if (got.sameElements(want)) None
    else Some(s"bag of ${got.length} rows differs from the fold's ${want.length}")
  }
}

object MrJob {
  val Done: JobState = JobState(Stage.REDUCE, 100f)

  /** The reference contract: once the job's listener events are in,
    * getJobState reads (REDUCE, 100 %). The events arrive asynchronously,
    * so this polls for up to `timeoutMs`; the tracker's state only ever
    * advances, so a state that reads (REDUCE, 100 %) once is final.
    */
  def awaitTerminal(t: JobTracker, timeoutMs: Long = 5000L): Option[String] = {
    val until = System.nanoTime() + timeoutMs * 1000000L
    while (t.getJobState != Done && System.nanoTime() < until) Thread.sleep(1)
    val s = t.getJobState
    if (s == Done) None else Some(s"JobStateNotTerminal(${s.stage},${s.percentage})")
  }

  /** `combiner` or `no_combiner` for a generated job, None for other ops. */
  def kind(op: Op): Option[String] = op match {
    case j: MrJob[_] => Some(if (j.combines) "combiner" else "no_combiner")
    case _           => None
  }

  /** The three façade jobs over a seed-generated corpus: word count with
    * no combiner, the same word count with a combiner, and an inverted
    * index (many distinct keys, nothing to combine).
    */
  def jobs(spark: SparkSession, corpus: Corpus, slices: Int): Seq[Op] = {
    import spark.implicits._
    val input = spark.createDataset(corpus.docs.toSeq)
      .repartition(slices).persist(StorageLevel.MEMORY_ONLY)
    input.count()
    Seq(
      new MrJob[(String, Long)]("mr_wordcount_run", corpus.words, combines = false, spark,
        () => MapReduce.run[Long, String, String, Long, String, Long](
          input, MrFns.words, MrFns.count),
        MrFns.renderCount, () => corpus.wordCounts),
      new MrJob[(String, Long)]("mr_wordcount_combine", corpus.words, combines = true, spark,
        () => MapReduce.runCombine[Long, String, String, Long](
          input, MrFns.words, (a: Long, b: Long) => a + b),
        MrFns.renderCount, () => corpus.wordCounts),
      new MrJob[(String, Seq[Long])]("mr_inverted_index", corpus.postings, combines = false, spark,
        () => MapReduce.run[Long, String, String, Long, String, Seq[Long]](
          input, MrFns.postings, MrFns.postingList),
        MrFns.renderPostings, () => corpus.index))
  }
}
