package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.{Main => GraftMain, Pipeline, PipelineConfig}
import graft.ann.Similarity
import graft.checkpoint.Sinks
import graft.dedup.Dedup
import graft.functions.{CanonicalJson, GoJsonEscape}
import graft.model.Model
import graft.operators.{Agg, Enrich, Parse, TxnStamp}
import graft.sources.Transcripts
import graft.streaming.StreamingPipeline
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** The output of one timed job, handed to the workload's check. */
final case class JobOut(dir: Path, batchS: Seq[Double] = Nil,
    progress: Seq[StreamingQueryProgress] = Nil, result: Any = null)

/** One benchmark workload. `prepare` writes the seeded input before
  * set-up and is not timed; `open` and the first `job` are the
  * set-up; `job` is the timed unit; `check` verifies one job's output
  * against the generator's expectations.
  */
abstract class Workload {
  def name: String
  /** Input records one job processes (turns; documents + embeddings). */
  def records: Long
  /** Untimed jobs after set-up, so the timed jobs run past the steepest
    * part of the JIT curve.
    */
  def warmJobs: Int = 1
  /** Timed jobs per run, at least, whatever `--seconds` says. */
  def minJobs: Int = 5
  def prepare(inputs: Path, seed: Long): Unit
  /** Content digest of this workload's input for `seed`. */
  def digest(seed: Long): String
  def open(spark: SparkSession): Unit
  def job(spark: SparkSession, out: Path): JobOut
  /** None when the output is correct, else what was wrong. */
  def check(spark: SparkSession, o: JobOut): Option[String]
  /** Checks made once per run, outside the timed loop. */
  def runChecks(spark: SparkSession): Seq[Option[String]] = Nil
  /** One pass over the cumulative prefix chain: (layer, seconds to run the
    * prefix that ends with that layer) in chain order, plus the layer
    * counters the pass measured.
    */
  def traceChain(spark: SparkSession, tr: Tracer, out: Path): (Seq[(String, Double)], Map[String, Double])
  /** Layer counters of one traced timed job. */
  def jobCounters(spark: SparkSession, o: JobOut, s: Span): Map[String, Double] = Map()
}

object Workloads {

  private val rowHeavy = Gen.KindMix(insert = 0.34, update = 0.22, delete = 0.1,
    query = 0.12, suppressed = 0.08, noise = 0.1, oddUpdate = 0.04)

  /** Uniform corpus: many short conversations, row events with up to 3
    * rows, 85% of row events mapped.
    */
  val ndjsonSpec: Gen.TranscriptSpec = Gen.TranscriptSpec(turns = 50000, convs = 2500,
    hotConvs = 0, hotShare = 0.0, txnLen = 6, mix = rowHeavy, matchRate = 0.85,
    maxRows = 3, files = 1)
  /** The uniform grammar cut into 2 files by turn position, so every
    * conversation spans both micro-batches.
    */
  val streamSpec: Gen.TranscriptSpec = Gen.TranscriptSpec(turns = 12000, convs = 500,
    hotConvs = 0, hotShare = 0.0, txnLen = 5, mix = rowHeavy, matchRate = 0.85,
    maxRows = 3, files = 2)
  val docSpec: Gen.DocSpec = Gen.DocSpec(docs = 1500, words = 40, vocab = 5000,
    vecs = 750, dim = 64, dupShare = 0.2)

  def byName(name: String): Workload = name match {
    case "pipeline_ndjson" => new PipelineWorkload(name, ndjsonSpec)
    case "stream_replay" => new StreamWorkload(name, streamSpec)
    case "dedup_pairs" => new DedupWorkload(name, docSpec)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val names: Seq[String] = Seq("pipeline_ndjson", "dedup_pairs", "stream_replay")

  /** The input directory of (workload, spec, seed), written by `write`
    * after this workload's earlier inputs are removed. Every run writes its
    * input, also when an earlier run wrote the same one, so every run's JVM
    * has done the same work when its set-up starts.
    */
  def inputDir(inputs: Path, name: String, spec: Product, seed: Long)(write: Path => Unit): Path = {
    Io.list(inputs).filter(_.getFileName.toString.startsWith(name + "-"))
      .foreach(Io.deleteRecursively)
    val dir = inputs.resolve(f"$name-${spec.toString.hashCode}%08x-s$seed")
    Files.createDirectories(dir)
    write(dir)
    dir
  }

  /** Writes `rows` under `dir` as `files` parquet files of consecutive rows. */
  def writeFiles(dir: Path, schema: String, rows: IndexedSeq[Row], files: Int)(
      fill: (Row, Group) => Unit): Unit = {
    Files.createDirectories(dir)
    (0 until files).foreach { f =>
      Io.writeParquet(dir.resolve(f"part-$f%03d.parquet"), schema,
        rows.slice(f * rows.size / files, (f + 1) * rows.size / files))(fill)
    }
  }

  /** Writes the turns under `dir`/turns: four files, or one file per replay
    * slice, named and time-stamped in replay order.
    */
  def writeTranscripts(dir: Path, spec: Gen.TranscriptSpec, t: Gen.Transcripts): Unit = {
    val turnsDir = dir.resolve("turns")
    if (spec.files == 1) writeFiles(turnsDir, Gen.TurnSchema, t.rows, 4)(Gen.turnRecord)
    else {
      Files.createDirectories(turnsDir)
      (0 until spec.files).foreach { f =>
        val target = turnsDir.resolve(f"slice-$f%03d.parquet")
        Io.writeParquet(target, Gen.TurnSchema, t.rows.indices.filter(t.file(_) == f).map(t.rows))(
          Gen.turnRecord)
        // the file source replays unseen files in modification-time order
        Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + f * 1000L))
      }
    }
  }

  /** Per-sink counts of a routed frame, keyed like the generator's. */
  def sinkCounts(routedLike: DataFrame): Map[String, Long] =
    routedLike.groupBy("role", "tool", "event_type").count().collect()
      .map(r => Gen.sinkKey(r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap

  private val jsonHead =
    "^\\{\"Header\":\\{\"Schema\":\"([^\"]*)\",\"Table\":\"([^\"]*)\".*?\\},\"Type\":\"([A-Za-z]+)\"".r.pattern

  /** Per-sink counts of a compact NDJSON output directory, read line by
    * line on the driver, so the check adds no Spark job to the run.
    */
  def ndjsonCounts(dir: Path): Map[String, Long] = {
    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    Io.dataFiles(dir).foreach { f =>
      val lines = Files.lines(f)
      try lines.forEach { l =>
        val m = jsonHead.matcher(l)
        counts(if (m.lookingAt()) Gen.sinkKey(m.group(1), m.group(2), m.group(3)) else "unparsed") += 1
      } finally lines.close()
    }
    counts.toMap
  }

  def compareCounts(what: String, want: Map[String, Long], got: Map[String, Long]): Option[String] = {
    val bad = (want.keySet ++ got.keySet).toSeq.sorted
      .filter(k => want.getOrElse(k, 0L) != got.getOrElse(k, 0L))
    if (bad.isEmpty) None
    else Some(s"$what: ${bad.size} sinks differ, e.g. " + bad.take(3).map(k =>
      s"$k want ${want.getOrElse(k, 0L)} got ${got.getOrElse(k, 0L)}").mkString("; "))
  }

  /** Agg.reconcile against the generator's ledger, and its balance. */
  def ledgerCheck(enriched: DataFrame, want: Map[String, Long]): (Option[String], Map[String, Long]) = {
    val r = Agg.reconcile(enriched).head()
    val got = r.schema.fieldNames.map(f => f -> r.getAs[Long](f)).toMap
    val balance = got("row_events") + got("query_kept") + got("query_suppressed") +
      got("commits") + got("noise")
    val diff = want.keys.toSeq.sorted.filter(k => !got.get(k).contains(want(k)))
    val err =
      if (balance != got("turns")) Some(s"ledger does not balance: $balance of ${got("turns")} turns")
      else if (diff.nonEmpty) Some("ledger differs: " + diff.map(k =>
        s"$k want ${want(k)} got ${got.getOrElse(k, -1L)}").mkString("; "))
      else None
    (err, got)
  }

  /** Self time of each layer from a cumulative prefix chain: how much
    * longer its prefix took than the longest shorter prefix, floored at 0,
    * so a noisy prefix that ran faster than a shorter one is not counted
    * twice and the self times add up to the longest prefix.
    */
  def selfTimes(chain: Seq[(String, Double)]): Map[String, Double] =
    chain.zip(chain.map(_._2).scanLeft(0.0)(math.max)).foldLeft(Map.empty[String, Double]) {
      case (m, ((layer, t), longest)) =>
        m.updated(layer, m.getOrElse(layer, 0.0) + math.max(0.0, t - longest))
    }
}

/** Main's default CLI path: `Pipeline.routed` with Main's default salt
  * block into `Sinks.writeNdjson`.
  */
final class PipelineWorkload(val name: String, spec: Gen.TranscriptSpec) extends Workload {
  import Workloads._

  private val salt = GraftMain.CliConfig().saltBlock
  private var dir: Path = _
  private var gen: Gen.Transcripts = _
  private var turns: DataFrame = _
  private var ledger: Map[String, Long] = Map()

  def records: Long = spec.total

  def digest(seed: Long): String = Gen.transcripts(spec, seed).digest

  def prepare(inputs: Path, seed: Long): Unit = {
    gen = Gen.transcripts(spec, seed)
    dir = inputDir(inputs, name, spec, seed)(d => writeTranscripts(d, spec, gen))
  }

  def open(spark: SparkSession): Unit =
    turns = spark.read.parquet(dir.resolve("turns").toString)

  private def cfg = PipelineConfig(saltBlockSize = Some(salt))
  private def routed(spark: SparkSession) = Pipeline.routed(turns, Transcripts.lookup(spark), cfg)

  private def sink(df: DataFrame, out: Path): Unit = Sinks.writeNdjson(df, out.toString)

  def job(spark: SparkSession, out: Path): JobOut = {
    sink(routed(spark), out)
    JobOut(out)
  }

  def check(spark: SparkSession, o: JobOut): Option[String] =
    compareCounts("sink counts", gen.sinks, ndjsonCounts(o.dir))

  override def runChecks(spark: SparkSession): Seq[Option[String]] = {
    val (err, got) = ledgerCheck(Pipeline.enriched(turns, Transcripts.lookup(spark), cfg),
      gen.ledger)
    ledger = got
    Seq(err)
  }

  def traceChain(spark: SparkSession, tr: Tracer, out: Path): (Seq[(String, Double)], Map[String, Double]) = {
    val lookup = Transcripts.lookup(spark)
    val kind = Parse.parseKind(turns)
    val stamped = TxnStamp.stampSalted(kind, salt)
    val vals = Parse.withVals(stamped)
    val enriched = Enrich.withLookup(vals, lookup)
    val steps = Seq(
      "sources" -> (() => Io.noop(turns)),
      "Parse" -> (() => Io.noop(kind)),
      "TxnStamp" -> (() => Io.noop(stamped)),
      "Parse" -> (() => Io.noop(vals)),
      "Enrich" -> (() => Io.noop(enriched)),
      "Route" -> (() => Io.noop(routed(spark))),
      "Sinks" -> (() => sink(routed(spark), out)))
    val spans = steps.map { case (layer, run) => layer -> tr.span(s"prefix-$layer")(run())._2 }
    Io.deleteRecursively(out)
    val src = spans.head._2
    val stamp = spans(2)._2
    val (_, rec) = tr.span("Agg.reconcile")(Agg.reconcile(enriched).head())
    val matched = ledger.get("row_events").filter(_ > 0).map(n =>
      (n - ledger("dropped_unmapped")).toDouble / n).getOrElse(0.0)
    val counters = Map(
      "sources.rows_read" -> src.rowsRead.toDouble,
      "sources.bytes_read" -> src.inputBytes.toDouble,
      "TxnStamp.shuffle_write_bytes" -> stamp.shuffleWrite.toDouble,
      "TxnStamp.spill_bytes" -> stamp.spill.toDouble,
      "TxnStamp.task_skew" -> stamp.taskSkew,
      "TxnStamp.scan_passes" -> stamp.rowsRead.toDouble / spec.total,
      "Enrich.match_ratio" -> matched,
      "Agg.reconcile_s" -> rec.wallS)
    (spans.map { case (l, s) => l -> s.wallS }, counters)
  }

  override def jobCounters(spark: SparkSession, o: JobOut, s: Span): Map[String, Double] = {
    val files = Io.dataFiles(o.dir)
    Map(
      "Route.msgs_per_turn" -> gen.sinks.values.sum.toDouble / spec.total,
      "Sinks.bytes_written" -> s.bytesWritten.toDouble,
      "Sinks.files_written" -> files.size.toDouble)
  }
}

/** The uniform grammar replayed through `StreamingPipeline.routedStream`,
  * one file per micro-batch under an AvailableNow trigger, into an NDJSON
  * text sink.
  */
final class StreamWorkload(val name: String, spec: Gen.TranscriptSpec) extends Workload {
  import Workloads._

  override def warmJobs: Int = 0
  override def minJobs: Int = 3

  private var dir: Path = _
  private var gen: Gen.Transcripts = _
  private var session: SparkSession = _
  private var batchCounts: Map[String, Long] = Map()

  def records: Long = spec.total

  def digest(seed: Long): String = Gen.transcripts(spec, seed).digest

  def prepare(inputs: Path, seed: Long): Unit = {
    gen = Gen.transcripts(spec, seed)
    dir = inputDir(inputs, name, spec, seed)(d => writeTranscripts(d, spec, gen))
  }

  def open(spark: SparkSession): Unit = {
    session = spark
    GoJsonEscape.register(session)
  }

  private def input: DataFrame = session.readStream.schema(Model.turnsSchema)
    .option("maxFilesPerTrigger", "1").parquet(dir.resolve("turns").toString)

  private def replay(df: DataFrame, out: Path, format: String): JobOut = {
    val w = df.writeStream.format(format)
      .option("checkpointLocation", out.resolve("_checkpoint").toString)
      .trigger(Trigger.AvailableNow())
    val q = if (format == "noop") w.start() else w.start(out.resolve("data").toString)
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    JobOut(out, prog.map(_.durationMs.get("triggerExecution").toDouble / 1000), prog)
  }

  private def routed = StreamingPipeline.routedStream(input, Transcripts.lookup(session))

  def job(spark: SparkSession, out: Path): JobOut =
    replay(routed.select(CanonicalJson.jsonColumnCompact.as("value")), out, "text")

  def check(spark: SparkSession, o: JobOut): Option[String] =
    if (o.batchS.size != spec.files) Some(s"${o.batchS.size} micro-batches for ${spec.files} files")
    else compareCounts("stream vs batch counts", batchCounts,
      ndjsonCounts(o.dir.resolve("data")))

  override def runChecks(spark: SparkSession): Seq[Option[String]] = {
    val turns = spark.read.parquet(dir.resolve("turns").toString)
    batchCounts = sinkCounts(Pipeline.routed(turns, Transcripts.lookup(spark)))
    Seq(compareCounts("batch counts", gen.sinks, batchCounts))
  }

  def traceChain(spark: SparkSession, tr: Tracer, out: Path): (Seq[(String, Double)], Map[String, Double]) = {
    def run(df: => DataFrame, format: String = "noop"): Double = {
      val o = replay(df, out, format)
      Io.deleteRecursively(out)
      o.batchS.size.toDouble
    }
    val steps = Seq(
      "sources" -> (() => run(input)),
      "Parse" -> (() => run(Parse.parse(input))),
      "StreamingPipeline.stamp" -> (() => run(StreamingPipeline.stamped(input))),
      "Enrich" -> (() => run(Enrich.withLookup(StreamingPipeline.stamped(input),
        Transcripts.lookup(session)))),
      "Route" -> (() => run(routed)),
      "Sinks" -> (() => run(routed.select(CanonicalJson.jsonColumnCompact.as("value")), "text")))
    val spans = steps.map { case (layer, f) => layer -> tr.span(s"prefix-$layer")(f())._2 }
    val src = spans.head._2
    (spans.map { case (l, s) => l -> s.wallS },
      Map("sources.rows_read" -> src.rowsRead.toDouble,
        "sources.bytes_read" -> src.inputBytes.toDouble))
  }

  override def jobCounters(spark: SparkSession, o: JobOut, s: Span): Map[String, Double] = {
    val ops = o.progress.flatMap(_.stateOperators.headOption)
    Map(
      "StreamingPipeline.state_rows" -> ops.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble,
      "StreamingPipeline.state_bytes" -> ops.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble,
      "StreamingPipeline.state_commit_s" -> ops.map(_.commitTimeMs).sum / 1000.0,
      "Route.msgs_per_turn" -> batchCounts.values.sum.toDouble / spec.total,
      "Sinks.bytes_written" -> s.bytesWritten.toDouble,
      "Sinks.files_written" -> Io.dataFiles(o.dir.resolve("data")).size.toDouble)
  }
}

/** The four candidate-pair families on seeded documents and embeddings:
  * MinHash candidates resolved to keepers, SimHash candidates, SemDeDup
  * pairs resolved to keepers, and LSH cosine near-duplicates.
  */
final class DedupWorkload(val name: String, spec: Gen.DocSpec) extends Workload {
  import Workloads._

  override def minJobs: Int = 3

  private val threshold = 0.95
  private var dir: Path = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var gen: Gen.Docs = _
  private var firstDigest: Option[String] = None
  private var stored: Path = _

  case class Out(minhash: Map[Long, Long], simhash: (Long, Long, Long),
      semdedup: Map[Long, Long], neardup: Seq[(Long, Long)]) {
    def digest: String = {
      val h = java.security.MessageDigest.getInstance("SHA-256")
      Seq(minhash.toSeq.sorted.mkString(","), simhash.toString,
        semdedup.toSeq.sorted.mkString(","), neardup.sorted.mkString(","))
        .foreach(s => h.update((s + "\n").getBytes("UTF-8")))
      h.digest().take(8).map(b => f"$b%02x").mkString
    }
  }

  def records: Long = spec.docs + spec.vecs

  def digest(seed: Long): String = Gen.documents(spec, seed).digest

  def prepare(inputs: Path, seed: Long): Unit = {
    gen = Gen.documents(spec, seed)
    dir = inputDir(inputs, name, spec, seed) { d =>
      writeFiles(d.resolve("documents"), Gen.DocSchema, gen.docs, 4)(Gen.docRecord)
      writeFiles(d.resolve("embeddings"), Gen.VecSchema, gen.vecs, 4)(Gen.vecRecord)
    }
    // the first correct output of a seed's first run is the reference
    stored = Files.createDirectories(inputs.resolveSibling("digests"))
      .resolve(s"${dir.getFileName}.digest")
  }

  def open(spark: SparkSession): Unit = {
    docs = spark.read.parquet(dir.resolve("documents").toString)
    emb = spark.read.parquet(dir.resolve("embeddings").toString)
  }

  private def keepers(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def simhashStats(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), count_if(col("is_dup") === 1),
      sum(when(col("is_dup") === 1, pmod(xxhash64(col("a"), col("b")), lit(1L << 40)))
        .otherwise(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def semdedup(e: DataFrame) = Similarity.semDedupPairs(e, threshold, nCentroids = 16, nProbe = 2)
  private def neardup(e: DataFrame) = Similarity.cosineNearDup(e, threshold, nPlanes = 8, nTables = 8)

  def job(spark: SparkSession, out: Path): JobOut =
    JobOut(out, result = Out(
      keepers(Dedup.resolveKeepers(Dedup.minhashCandidates(docs))),
      simhashStats(Dedup.simhashCandidates(docs)),
      keepers(Dedup.resolveKeepers(semdedup(emb))),
      pairs(neardup(emb))))

  def check(spark: SparkSession, o: JobOut): Option[String] = {
    val r = o.result.asInstanceOf[Out]
    def keeperErr(what: String, m: Map[Long, Long], copies: Seq[(Long, Long)]) =
      m.find { case (d, k) => k > d }.map { case (d, k) => s"$what keeper $k > doc $d" }
        .orElse(copies.find { case (d, s) => m.get(d).isEmpty || m.get(d) != m.get(s) }
          .map { case (d, s) => s"$what: exact copy $d of $s not merged" })
    val digest = r.digest
    keeperErr("minhash", r.minhash, gen.docCopies)
      .orElse(keeperErr("semdedup", r.semdedup, gen.vecCopies))
      .orElse(r.neardup.find { case (a, b) => a >= b }.map(p => s"neardup pair $p not a < b"))
      .orElse(gen.vecCopies.find { case (d, s) => !r.neardup.contains((math.min(d, s), math.max(d, s))) }
        .map(p => s"neardup missed exact copy $p"))
      .orElse(if (r.simhash._2 < gen.docCopies.size) Some(s"simhash found ${r.simhash._2} dups, " +
        s"fewer than ${gen.docCopies.size} exact copies") else None)
      .orElse(firstDigest.filter(_ != digest).map(d => s"output digest $digest differs from $d"))
      .orElse(Some(stored).filter(Files.exists(_)).map(Files.readString(_).trim).filter(_ != digest)
        .map(d => s"output digest $digest differs from $d of an earlier run"))
      .orElse {
        firstDigest = Some(digest)
        if (!Files.exists(stored)) Files.writeString(stored, digest)
        None
      }
  }

  def traceChain(spark: SparkSession, tr: Tracer, out: Path): (Seq[(String, Double)], Map[String, Double]) = {
    val (_, src) = tr.span("sources") { Io.noop(docs); Io.noop(emb) }
    val (mc, mcS) = tr.span("Dedup.minhash_candidates")(Dedup.minhashCandidates(docs).localCheckpoint())
    val (_, mrS) = tr.span("Dedup.minhash_resolve")(keepers(Dedup.resolveKeepers(mc)))
    val (sc, scS) = tr.span("Dedup.simhash_candidates")(simhashStats(Dedup.simhashCandidates(docs)))
    val (sp, spS) = tr.span("Similarity.semdedup")(semdedup(emb).localCheckpoint())
    val (_, srS) = tr.span("Dedup.semdedup_resolve")(keepers(Dedup.resolveKeepers(sp)))
    val (nd, ndS) = tr.span("Similarity.neardup")(pairs(neardup(emb)))
    val distinct = mc.count() + sc._1
    // the spans run one after another: their running sum is the chain
    val steps = Seq("sources" -> src, "Dedup.candidates" -> mcS, "Dedup.resolve" -> mrS,
      "Dedup.candidates" -> scS, "Similarity.semdedup" -> spS, "Dedup.resolve" -> srS,
      "Similarity.neardup" -> ndS)
    val chain = steps.map(_._1).zip(steps.map(_._2.wallS).scanLeft(0.0)(_ + _).tail)
    val raw = mcS.condJoinRows + scS.condJoinRows
    (chain, Map(
      "sources.rows_read" -> src.rowsRead.toDouble,
      "sources.bytes_read" -> src.inputBytes.toDouble,
      "Dedup.pairs_raw" -> raw.toDouble,
      "Dedup.pair_yield" -> (if (raw > 0) distinct.toDouble / raw else 0.0),
      "Dedup.resolve_jobs" -> (mrS.jobs + srS.jobs).toDouble,
      "Dedup.shuffle_write_bytes" -> (mcS.shuffleWrite + mrS.shuffleWrite + scS.shuffleWrite +
        srS.shuffleWrite).toDouble,
      "Similarity.pairs_out" -> (sp.count() + nd.size).toDouble))
  }
}
