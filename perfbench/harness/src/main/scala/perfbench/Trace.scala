package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** An interval of one layer's work, in epoch milliseconds. A deeper span
  * is caused by a shallower one that covers it: op → entry build →
  * stream batch → driver phase or job → stage.
  */
final case class Span(layer: String, depth: Int, start: Double, end: Double)

object Spans {
  /** Self time of each layer over the root interval [t0, t1]. Every instant
    * goes to the deepest span active then (the later-started one on a
    * tie), and instants no span covers go to `rootLayer`, so the self
    * times sum to t1 - t0 exactly, overlapping siblings included.
    */
  def selfTimes(t0: Double, t1: Double, spans: Seq[Span], rootLayer: String): Map[String, Double] = {
    val clipped = spans.flatMap { s =>
      val a = math.max(s.start, t0); val b = math.min(s.end, t1)
      if (b > a) Some(s.copy(start = a, end = b)) else None
    }
    val cuts = (Seq(t0, t1) ++ clipped.flatMap(s => Seq(s.start, s.end))).distinct.sorted
    cuts.zip(cuts.drop(1)).map { case (a, b) =>
      val mid = (a + b) / 2
      val active = clipped.filter(s => s.start <= mid && mid < s.end)
      val layer = if (active.isEmpty) rootLayer else active.maxBy(s => (s.depth, s.start)).layer
      layer -> (b - a)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** Driver phases of every executed query, from `QueryExecutionListener`.
  * Registered by class name through `spark.sql.queryExecutionListeners`,
  * so sessions the queries create with `newSession()` report too.
  */
class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      PhaseListener.phases.add((phase, s.startTimeMs, s.endTimeMs))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

object PhaseListener {
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
}

/** Spark-side trace of a run: jobs, stages and task metrics from
  * `SparkListener`, micro-batches from the streaming progress events on
  * the same bus, plus per-op codegen and local file system counters
  * (`CountingFileSystem`, Hadoop `FileSystem` statistics) snapshotted
  * around each op. Everything stays in memory until the run
  * ends; listener events are attributed to ops by their timestamps.
  */
final class Tracer extends SparkListener with Runner.Hooks {
  final class StageRec {
    @volatile var submitMs = 0L
    @volatile var endMs = 0L
    @volatile var map: Option[Boolean] = None
    val tasks, runMs, cpuNs, gcMs, deserMs = new AtomicLong
    val shWriteBytes, shWriteRecords, shWriteNs, fetchWaitMs, spillBytes = new AtomicLong
    val inBytes, inRecords = new AtomicLong
  }
  final case class Batch(startMs: Long, durations: Map[String, Long], stateCommitMs: Long, stateRows: Long)
  final case class OpCounters(units: Long, compileNs: Long, fsRead: Long, fsWrite: Long, fsBytesWritten: Long)

  val jobs = TrieMap.empty[Int, (Long, Long)]
  val jobStarts = new AtomicLong
  val jobEnds = new AtomicLong
  val stages = TrieMap.empty[Int, StageRec]
  val batches = new ConcurrentLinkedQueue[Batch]()
  val counters = TrieMap.empty[Long, OpCounters]

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    jobStarts.incrementAndGet()
    jobs.put(ev.jobId, (ev.time, Long.MaxValue))
  }
  override def onJobEnd(ev: SparkListenerJobEnd): Unit = {
    jobEnds.incrementAndGet()
    jobs.get(ev.jobId).foreach(j => jobs.put(ev.jobId, (j._1, ev.time)))
  }
  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = {
    val r = stages.getOrElseUpdate(ev.stageInfo.stageId, new StageRec)
    r.submitMs = ev.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
    stages.get(ev.stageInfo.stageId).foreach { r =>
      r.endMs = ev.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit =
    stages.get(ev.stageId).foreach { r =>
      if (r.map.isEmpty) r.map = Some(ev.taskType.contains("ShuffleMap"))
      r.tasks.incrementAndGet()
      Option(ev.taskMetrics).foreach { m =>
        r.runMs.addAndGet(m.executorRunTime); r.cpuNs.addAndGet(m.executorCpuTime)
        r.gcMs.addAndGet(m.jvmGCTime); r.deserMs.addAndGet(m.executorDeserializeTime)
        r.shWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        r.shWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        r.shWriteNs.addAndGet(m.shuffleWriteMetrics.writeTime)
        r.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        r.spillBytes.addAndGet(m.diskBytesSpilled)
        r.inBytes.addAndGet(m.inputMetrics.bytesRead)
        r.inRecords.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      val ops = pr.stateOperators.toSeq
      batches.add(Batch(
        java.time.Instant.parse(pr.timestamp).toEpochMilli,
        pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum))
    case _ => ()
  }

  private def snapshot(): OpCounters = {
    @annotation.nowarn("cat=deprecation")
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    OpCounters(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      CountingFileSystem.reads.get, CountingFileSystem.writes.get,
      stats.filter(_.getScheme == "file").map(_.getBytesWritten).sum)
  }
  @volatile private var before: OpCounters = _
  def beforeOp(): Unit = before = snapshot()
  def afterOp(startNs: Long): Unit = {
    val a = snapshot(); val b = before
    counters.put(startNs, OpCounters(a.units - b.units, a.compileNs - b.compileNs,
      a.fsRead - b.fsRead, a.fsWrite - b.fsWrite, a.fsBytesWritten - b.fsBytesWritten))
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment, so late events of the last op are in.
    */
  def drain(): Unit = {
    val until = System.currentTimeMillis() + 5000
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < until) {
      val seen = jobEnds.get()
      Thread.sleep(100)
      if (jobStarts.get() == jobEnds.get() && seen == jobEnds.get()) quiet += 1 else quiet = 0
    }
  }

  /** Per-layer metrics of the timed ops — means per op (`mr.*` times per
    * façade job), ratios and rates over the run, the generated jobs' also
    * split by combiner and no combiner — and the self-time breakdown. A
    * metric a workload never touches is absent.
    */
  def report(records: Seq[OpRecord], ops: Seq[Op]): Map[String, Double] = {
    val byName = ops.map(o => o.name -> o).toMap
    val phases = PhaseListener.phases.asScala.toSeq
    val batchSeq = batches.asScala.toSeq
    def inOp(r: OpRecord, t: Long) = t >= r.startMs && t <= r.endMs
    val n = math.max(1, records.size).toDouble
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var mrOps = 0
    // generated jobs, keyed by "" (all of them) and by MrJob.kind:
    // (pairs emitted, wall s, shuffle records, shuffle bytes)
    val gen = scala.collection.mutable.Map.empty[String, (Long, Double, Long, Long)]
      .withDefaultValue((0L, 0.0, 0L, 0L))

    records.foreach { r =>
      val t0 = r.startMs.toDouble; val t1 = math.max(r.endMs, r.startMs + 1).toDouble
      val op = byName(r.name)
      val myJobs = jobs.values.filter(j => inOp(r, j._1)).toSeq
      val myStages = stages.values.filter(s => s.submitMs > 0 && inOp(r, s.submitMs)).toSeq
      val myPhases = phases.filter(p => inOp(r, p._2))
      val myBatches = batchSeq.filter(b => inOp(r, b.startMs))
      def end(e: Long) = if (e == Long.MaxValue || e == 0L) t1 else e.toDouble

      acc("entry.build_ms") += r.buildNs / 1e6
      Seq("analysis", "optimization", "planning").foreach { ph =>
        acc(s"driver.${ph}_ms") += myPhases.filter(_._1 == ph).map(p => p._3 - p._2).sum
      }
      counters.get(r.startNs).foreach { c =>
        acc("codegen.units") += c.units
        acc("codegen.compile_ms") += c.compileNs / 1e6
        acc("sources.fs_read_ops") += c.fsRead
        acc("sources.fs_write_ops") += c.fsWrite
        acc("sources.fs_bytes_written") += c.fsBytesWritten
      }
      acc("sched.jobs") += myJobs.size
      acc("sched.stages") += myStages.size
      val jobIv = myJobs.map(j => (j._1.toDouble, end(j._2)))
      acc("sched.driver_gap_ms") += (t1 - t0) - Spans.union(jobIv.map(j => (math.max(j._1, t0), math.min(j._2, t1))))
      def sum(f: StageRec => AtomicLong) = myStages.map(f(_).get).sum.toDouble
      acc("sched.tasks") += sum(_.tasks)
      acc("task.run_ms") += sum(_.runMs)
      acc("task.cpu_ms") += sum(_.cpuNs) / 1e6
      acc("task.gc_ms") += sum(_.gcMs)
      acc("task.deser_ms") += sum(_.deserMs)
      acc("shuffle.write_bytes") += sum(_.shWriteBytes)
      acc("shuffle.write_records") += sum(_.shWriteRecords)
      acc("shuffle.write_ms") += sum(_.shWriteNs) / 1e6
      acc("shuffle.fetch_wait_ms") += sum(_.fetchWaitMs)
      acc("shuffle.spill_bytes") += sum(_.spillBytes)
      acc("scan.bytes") += sum(_.inBytes)
      acc("scan.records") += sum(_.inRecords)

      acc("stream.batches") += myBatches.size
      def dur(b: Batch, k: String) = b.durations.getOrElse(k, 0L).toDouble
      acc("stream.planning_ms") += myBatches.map(dur(_, "queryPlanning")).sum
      acc("stream.add_batch_ms") += myBatches.map(dur(_, "addBatch")).sum
      acc("stream.commit_ms") += myBatches.map(b => dur(b, "walCommit") + dur(b, "commitOffsets")).sum
      acc("stream.state_commit_ms") += myBatches.map(_.stateCommitMs.toDouble).sum
      acc("stream.state_rows") += myBatches.map(_.stateRows.toDouble).sum

      if (op.mr) {
        mrOps += 1
        val (maps, reds) = myStages.partition(_.map.contains(true))
        def iv(ss: Seq[StageRec]) = ss.map(s => (s.submitMs.toDouble, end(s.endMs)))
        acc("mr.map_ms") += Spans.union(iv(maps))
        acc("mr.reduce_ms") += Spans.union(iv(reds))
        if (maps.nonEmpty && reds.nonEmpty)
          acc("mr.shuffle_ms") += math.max(0.0, reds.map(_.submitMs).min - maps.map(s => end(s.endMs)).max)
      }
      if (op.pairs > 0 && r.ok) (Seq("") ++ MrJob.kind(op).map(_ + ".")).foreach { k =>
        val g = gen(k)
        gen(k) = (g._1 + op.pairs, g._2 + r.seconds,
          g._3 + sum(_.shWriteRecords).toLong, g._4 + sum(_.shWriteBytes).toLong)
      }

      val spans =
        Seq(Span("entry", 1, t0, t0 + r.buildNs / 1e6)) ++
          myBatches.map(b => Span("stream", 2, b.startMs.toDouble, b.startMs + dur(b, "triggerExecution"))) ++
          myPhases.map(p => Span("driver", 3, p._2.toDouble, p._3.toDouble)) ++
          jobIv.map(j => Span("sched", 3, j._1, j._2)) ++
          myStages.map(s => Span("task", 4, s.submitMs.toDouble, end(s.endMs)))
      Spans.selfTimes(t0, t1, spans, "unattributed").foreach { case (l, v) => acc(s"self.${l}_ms") += v }
    }

    val perOp = acc.map { case (k, v) =>
      if (k.startsWith("mr.")) k -> (if (mrOps > 0) v / mrOps else 0.0) else k -> v / n
    }
    val mrRatios = gen.toSeq.flatMap { case (k, (pairs, wallS, shRecords, shBytes)) =>
      Seq(s"mr.${k}combine_ratio" -> shRecords.toDouble / pairs,
        s"mr.${k}pairs_per_s" -> pairs / wallS) ++
        (if (k.isEmpty) Seq("mr.shuffle_bytes_per_pair" -> shBytes.toDouble / pairs) else Nil)
    }
    (perOp ++ mrRatios).toMap
  }
}
