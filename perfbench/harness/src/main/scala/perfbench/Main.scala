package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `perfbench/run.py` builds and launches it.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 --data SF_DIR
  *      --golden FILE --cpus N --deadline-s S
  * Main --write-golden FILE [--verified VERIFY_DIR] --data SF_DIR --cpus N
  * }}}
  *
  * Prints a readable report, then one JSON line with `correct`,
  * `attempted`, `failed` and `metrics` (end-to-end metrics untraced,
  * per-layer metrics traced).
  */
object Main {
  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 18.0,
      trace: Boolean = false,
      data: String = "",
      golden: String = "",
      cpus: Int = 2,
      deadlineS: Double = 150.0,
      writeGolden: Option[String] = None,
      verified: Option[String] = None)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil                             => a
    case "--workload" :: v :: rest       => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest           => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest        => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest          => parse(rest, a.copy(trace = v == "1"))
    case "--data" :: v :: rest           => parse(rest, a.copy(data = v))
    case "--golden" :: v :: rest         => parse(rest, a.copy(golden = v))
    case "--cpus" :: v :: rest           => parse(rest, a.copy(cpus = v.toInt))
    case "--deadline-s" :: v :: rest     => parse(rest, a.copy(deadlineS = v.toDouble))
    case "--write-golden" :: v :: rest   => parse(rest, a.copy(writeGolden = Some(v)))
    case "--verified" :: v :: rest       => parse(rest, a.copy(verified = Some(v)))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  /** The session settings `graft.Bench` uses; a traced run adds its
    * listeners and the counting local file system.
    */
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", "12000")
    if (a.trace) b
      .config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Between ops, outside the timed region: drop the temp views an op left
    * behind (streaming fixtures land their output in memory-sink views)
    * and forget terminated streams, as `graft.Bench` does.
    */
  def cleaner(spark: SparkSession): () => Unit = {
    val keep = spark.catalog.listTables().collect().map(_.name).toSet
    () => {
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && !keep.contains(t.name))
        .foreach(t => spark.catalog.dropTempView(t.name))
      spark.streams.resetTerminated()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val deadlineNs = System.nanoTime() + ((a.deadlineS - uptimeS) * 1e9).toLong
    val setupT0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - setupT0) / 1e9
    try a.writeGolden match {
      case Some(path) => writeGolden(spark, a, path)
      case None       => bench(spark, a, setupT0, sessionS, deadlineNs)
    } finally spark.stop()
  }

  /** Fingerprints every query of the workloads. With `--verified DIR` (a
    * `graft.Verify` output whose results passed `tools/oracle_check.py`),
    * each live fingerprint must equal the verified result's, so the golden
    * values are the oracle-checked ones.
    */
  def writeGolden(spark: SparkSession, a: Args, path: String): Unit = {
    val lines = Workloads.goldenQueries.map { n =>
      val fp = Fingerprint.of(graft.SparkEntry.queries(n)(spark, a.data))
      a.verified.foreach { dir =>
        val ref = Fingerprint.of(spark.read.parquet(s"$dir/$n"))
        require(ref == fp, s"$n: live $fp differs from the verified result's $ref")
      }
      println(fp.line(n))
      fp.line(n)
    }
    Files.writeString(Paths.get(path),
      "# name\trows\thash: perfbench Fingerprint of each query over the sf0.1 tables\n" +
        lines.mkString("", "\n", "\n"))
  }

  def bench(spark: SparkSession, a: Args, setupT0: Long, sessionS: Double, deadlineNs: Long): Unit = {
    val golden = Fingerprint.load(a.golden)
    val tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val workload = Workloads(a.workload, spark, a.data, a.seed, golden, a.cpus)
    val ops = workload.ops
    val runner = new Runner(ops, a.seed, cleaner(spark), tracer)
    val (warm, wrong) = runner.warmUp()
    val setupS = (System.nanoTime() - setupT0) / 1e9

    val ambient = new Stats.AmbientProbe
    val w0 = System.nanoTime()
    val (timed, complete) = runner.timed(workload.passes(a.seconds), deadlineNs)
    val windowS = (System.nanoTime() - w0) / 1e9
    val amb = ambient.stop()
    tracer.foreach(_.drain())
    val records = Runner.applyWrong(timed, wrong)

    Report.build(a, ops, records, warm, sessionS, setupS, windowS, amb, wrong,
      complete, tracer).print()
  }
}
