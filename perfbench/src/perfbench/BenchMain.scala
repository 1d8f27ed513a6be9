package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Runs one workload in one local[4] JVM as a closed loop with one client:
  * the next job starts when the previous one and its output check are done.
  *
  * {{{
  * BenchMain --work DIR --workload NAME --seed N --seconds S --trace 0|1
  * BenchMain --work DIR --digest --seeds 1,1,2
  * }}}
  *
  * Prints human-readable lines, then one line `PERFBENCH_RESULT {json}`.
  */
object BenchMain {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "turns_per_s" -> "turns/s", "cpu_s" -> "s",
    "peak_rss_mb" -> "MB", "batch_p50_s" -> "s", "batch_tail_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.self_s" -> "s", "sources.rows_read" -> "count", "sources.bytes_read" -> "bytes",
    "Parse.self_s" -> "s",
    "TxnStamp.self_s" -> "s", "TxnStamp.shuffle_write_bytes" -> "bytes",
    "TxnStamp.spill_bytes" -> "bytes", "TxnStamp.task_skew" -> "ratio",
    "TxnStamp.scan_passes" -> "ratio",
    "Enrich.self_s" -> "s", "Enrich.match_ratio" -> "ratio",
    "Route.self_s" -> "s", "Route.msgs_per_turn" -> "ratio",
    "Sinks.self_s" -> "s", "Sinks.bytes_written" -> "bytes", "Sinks.files_written" -> "count",
    "Agg.reconcile_s" -> "s",
    "StreamingPipeline.stamp_s" -> "s", "StreamingPipeline.state_rows" -> "count",
    "StreamingPipeline.state_bytes" -> "bytes", "StreamingPipeline.state_commit_s" -> "s",
    "Dedup.candidates_self_s" -> "s", "Dedup.pairs_raw" -> "count", "Dedup.pair_yield" -> "ratio",
    "Dedup.resolve_self_s" -> "s", "Dedup.resolve_jobs" -> "count",
    "Dedup.shuffle_write_bytes" -> "bytes",
    "Similarity.semdedup_self_s" -> "s", "Similarity.neardup_self_s" -> "s",
    "Similarity.pairs_out" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.gc_s" -> "s",
    "trace.job_s" -> "s", "trace.untraced_job_s" -> "s", "trace.overhead" -> "ratio",
    "trace.self_sum_ratio" -> "ratio", "batch.samples" -> "count",
    "batch.tail_pct" -> "pct", "error_rate" -> "ratio")

  /** Chain layer → its self-time metric. */
  private val SelfMetric = Map(
    "sources" -> "sources.self_s", "Parse" -> "Parse.self_s", "TxnStamp" -> "TxnStamp.self_s",
    "Enrich" -> "Enrich.self_s", "Route" -> "Route.self_s", "Sinks" -> "Sinks.self_s",
    "StreamingPipeline.stamp" -> "StreamingPipeline.stamp_s",
    "Dedup.candidates" -> "Dedup.candidates_self_s", "Dedup.resolve" -> "Dedup.resolve_self_s",
    "Similarity.semdedup" -> "Similarity.semdedup_self_s",
    "Similarity.neardup" -> "Similarity.neardup_self_s")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def session(work: Path, app: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$app")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // one shuffle partition per core: on inputs this size Spark's 200
      // (or graft's bench sizing of 4 per core) makes per-task overhead the
      // measurement
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Seq[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Seq(`key`, v) => v }

  def main(argv: Array[String]): Unit = {
    val args = argv.toSeq
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    Files.createDirectories(work)
    if (args.contains("--digest")) digests(arg(args, "--seeds").getOrElse("1").split(",").map(_.toLong).toSeq)
    else {
      val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
      val seed = arg(args, "--seed").getOrElse("1").toLong
      val seconds = arg(args, "--seconds").getOrElse("10").toDouble
      val trace = arg(args, "--trace").contains("1")
      val result = run(work, Workloads.byName(name), seed, seconds, trace)
      println("PERFBENCH_RESULT " + result)
    }
  }

  /** Prints the content digest of every workload's input for each seed:
    * `DIGEST <workload> <seed> <digest>`.
    */
  def digests(seeds: Seq[Long]): Unit =
    for (seed <- seeds; n <- Workloads.names)
      println(s"DIGEST $n $seed ${Workloads.byName(n).digest(seed)}")

  def run(work: Path, wl: Workload, seed: Long, seconds: Double, trace: Boolean): String = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work, wl.name)
    val sessionUpS = (System.currentTimeMillis() - jvmStart) / 1000.0
    /** Prints how long after JVM start a phase of the run ended. */
    def phase(what: String): Unit =
      println(f"  [${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s] $what")
    phase("session up")
    val outBase = work.resolve("out").resolve(wl.name)
    Io.deleteRecursively(outBase)

    val tg = System.nanoTime()
    wl.prepare(work.resolve("inputs"), seed)
    val genS = secs(tg)
    phase("input ready")

    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer[String]()
    def record(err: Option[String]): Unit = {
      attempted += 1
      err.foreach { e => failed += 1; errors += e }
    }
    var jobNo = 0
    /** One job into a fresh output dir, timed: (job number, output dir, and
      * the output with its wall and CPU seconds, or the failure).
      */
    def timeJob(timed: (=> JobOut) => JobOut = f => f): (Int, Path, Try[(JobOut, Double, Double)]) = {
      jobNo += 1
      val out = outBase.resolve(s"job-$jobNo")
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      (jobNo, out, Try(timed(wl.job(spark, out))).map(o => (o, secs(t0), processCpuS() - cpu0)))
    }
    /** Checks a timed job's output, then removes it. */
    def checkJob(job: (Int, Path, Try[(JobOut, Double, Double)])): Option[(JobOut, Double, Double)] = {
      val (no, out, res) = job
      res match {
        case Success((o, dt, cpu)) =>
          val err = Try(wl.check(spark, o)).fold(e => Some(s"check failed: $e"), identity)
          record(err)
          println(f"  job $no: $dt%.3f s, cpu $cpu%.2f s, check ${err.getOrElse("ok")}")
        case Failure(e) =>
          record(Some(s"job failed: $e"))
      }
      Io.deleteRecursively(out)
      res.toOption
    }
    def runJob(timed: (=> JobOut) => JobOut = f => f): Option[(JobOut, Double, Double)] =
      checkJob(timeJob(timed))
    // Set-up: JVM start to session up, then the input opened and the untimed
    // warm-up job done, before any other Spark job of the run. The
    // once-per-run checks and the warm-up's output check come after it.
    val t0 = System.nanoTime()
    wl.open(spark)
    val openS = secs(t0)
    val first = timeJob()
    val setupS = sessionUpS + openS + first._3.map(_._2).getOrElse(0.0)
    wl.runChecks(spark).foreach(record)
    checkJob(first)
    phase("set-up and run checks done")
    (1 to wl.warmJobs).foreach(_ => runJob())
    phase("warm-up jobs done")

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val jobs = ArrayBuffer[(JobOut, Double, Double)]()
        val loop = System.nanoTime()
        var n = 0
        while (n < wl.minJobs || secs(loop) < seconds) { n += 1; runJob().foreach(jobs += _) }
        val jobS = Stats.median(jobs.map(_._2).toSeq)
        val batches = jobs.flatMap { case (o, dt, _) => if (o.batchS.nonEmpty) o.batchS else Seq(dt) }.toSeq
        val (tailPct, tailS) = Stats.tail(batches)
        println(f"${wl.name}: ${jobs.size} timed jobs after ${wl.warmJobs} warm-up jobs, " +
          f"${batches.size} batch samples (tail = p$tailPct), set-up $setupS%.2f s, " +
          f"input generated in $genS%.1f s")
        val vals = Map(
          "setup_s" -> setupS,
          "job_s" -> jobS,
          "turns_per_s" -> wl.records / jobS,
          "cpu_s" -> Stats.median(jobs.map(_._3).toSeq),
          "peak_rss_mb" -> peakRssMb(),
          "batch_p50_s" -> Stats.median(batches),
          "batch_tail_s" -> tailS)
        EndToEnd.map { case (n, u) => (n, u, vals(n)) }
      } else traced(work, wl, spark, outBase, seconds, runJob, () => (attempted, failed))

    phase("measured")
    errors.foreach(e => println(s"ERROR ${wl.name} seed $seed: $e"))
    spark.stop()
    phase("session stopped")
    val ms = metrics.map { case (n, u, v) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** After the same warm-up jobs as a timed run, the traced run makes at
    * least 3 passes (more while `seconds` allow, at most 5). A pass runs an
    * untraced job, a traced job and the prefix chain, in reverse order
    * every other pass: the ratio of the untraced and traced medians is the
    * tracing overhead, and the traced jobs sit next to the chain on both
    * sides, so a still-falling JIT curve biases neither.
    */
  private def traced(work: Path, wl: Workload, spark: SparkSession, outBase: Path,
      seconds: Double,
      runJob: ((=> JobOut) => JobOut) => Option[(JobOut, Double, Double)],
      counts: () => (Int, Int)): Seq[(String, String, Double)] = {
    val tr = new Tracer(spark)
    val untraced = ArrayBuffer[Double]()
    val tracedJobs = ArrayBuffer[(JobOut, Double, Span)]()
    val jobCounters = ArrayBuffer[Map[String, Double]]()
    val chains = ArrayBuffer[Seq[(String, Double)]]()
    val counters = ArrayBuffer[Map[String, Double]]()
    def plain(): Unit = runJob(f => f).foreach(untraced += _._2)
    def withTrace(): Unit = {
      var span: Span = null
      runJob { f => val (o, s) = tr.span("job")(f); span = s; jobCounters += wl.jobCounters(spark, o, s); o }
        .foreach { case (o, dt, _) => tracedJobs += ((o, dt, span)) }
    }
    val loop = System.nanoTime()
    while (chains.size < 3 || (secs(loop) < seconds && chains.size < 5)) {
      val even = chains.size % 2 == 0
      if (even) plain()
      tr.attach()
      if (even) withTrace()
      val (chain, ctr) = wl.traceChain(spark, tr, outBase.resolve(s"chain-${chains.size}"))
      if (!even) withTrace()
      tr.detach()
      if (!even) plain()
      chains += chain
      counters += ctr
    }
    val traceDir = work.resolve("traces")
    Files.createDirectories(traceDir)
    Files.writeString(traceDir.resolve(s"${wl.name}.json"), tr.json)

    def med(ms: Seq[Map[String, Double]]): Map[String, Double] =
      ms.flatMap(_.keys).distinct.map(k => k -> Stats.median(ms.flatMap(_.get(k)))).toMap
    // median seconds of each prefix over the passes, then the differences
    val selfMed = Workloads.selfTimes(chains.head.indices.map(i =>
      chains.head(i)._1 -> Stats.median(chains.map(_(i)._2).toSeq)))
    val jobS = Stats.median(tracedJobs.map(_._2).toSeq)
    val untracedS = Stats.median(untraced.toSeq)
    val spans = tracedJobs.map(_._3).toSeq
    val batches = tracedJobs.flatMap { case (o, dt, _) => if (o.batchS.nonEmpty) o.batchS else Seq(dt) }.toSeq
    val (attempted, failed) = counts()
    val vals = selfMed.map { case (k, v) => SelfMetric(k) -> v } ++ med(counters.toSeq) ++
      med(jobCounters.toSeq) ++ Map(
        "spark.jobs" -> Stats.median(spans.map(_.jobs.toDouble)),
        "spark.tasks" -> Stats.median(spans.map(_.tasks.toDouble)),
        "spark.gc_s" -> Stats.median(spans.map(_.gcS)),
        "trace.job_s" -> jobS,
        "trace.untraced_job_s" -> untracedS,
        "trace.overhead" -> (jobS / untracedS - 1),
        "trace.self_sum_ratio" -> selfMed.values.sum / jobS,
        "batch.samples" -> batches.size.toDouble,
        "batch.tail_pct" -> Stats.tail(batches)._1.toDouble,
        "error_rate" -> failed.toDouble / math.max(attempted, 1))
    println(f"${wl.name} traced: job $jobS%.3f s traced vs $untracedS%.3f s untraced, " +
      f"layers sum to ${selfMed.values.sum}%.3f s over ${chains.size} chain passes")
    selfMed.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-22s $v%8.3f s") }
    PerLayer.map { case (n, u) => (n, u, vals.getOrElse(n, 0.0)) }
  }
}
