package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: one workload per JVM, a closed loop on one
  * thread (the next op starts only after the previous one ends and its
  * check ran). Only public entry points of the engine are called.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --fixture <dir> --expected <file>
  *   --result <file> [--record <file>]
  *
  * Writes a JSON result (end-to-end metrics with tracing off, per-layer
  * metrics with tracing on) to `--result`; with tracing on the span log
  * goes beside it as `trace.json`.
  */
object Main {

  /** Query → module, from each module's own `queries` map. */
  val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "Windows" -> graft.queries.Windows.queries,
    "Text" -> graft.queries.Text.queries,
    "Dedup" -> graft.queries.Dedup.queries,
    "Similarity" -> graft.queries.Similarity.queries,
    "Analytics" -> graft.queries.Analytics.queries,
    "Topics" -> graft.queries.Topics.queries,
    "Extraction" -> graft.queries.Extraction.queries,
    "Graph" -> graft.queries.Graph.queries)
  val ModuleOf: Map[String, String] =
    Modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, fixture: String, expected: String,
      result: String, record: Option[String])

  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("fixture"), need("expected"),
      need("result"), kv.get("record"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload: Workload = a.workload match {
      case "adhoc_small" => new AdhocSmall(a)
      case "corpus_batch" => new CorpusBatch(a)
      case "ingest_stream" => new IngestStream(a)
      case w => sys.error(s"unknown workload $w")
    }
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val run = new Run(spark, new Probe(spark.sparkContext, a.trace), cores)
      workload.setup(spark, run)
      run.setupS = sessionS + run.genS + run.warmupS
      workload.timed(spark, run)
      val result = run.result(workload)
      Files.createDirectories(Paths.get(a.result).getParent)
      Files.write(Paths.get(a.result), result.getBytes(UTF_8))
      if (a.trace) Files.write(Paths.get(a.result).resolveSibling("trace.json"),
        run.traceJson.getBytes(UTF_8))
      a.record.foreach { f =>
        Files.write(Paths.get(f), Json.obj(run.fingerprints.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.str(v) }).getBytes(UTF_8))
      }
    } finally spark.stop()
  }
}

/** Everything one run measures, plus the op wrapper that feeds it. */
final class Run(val spark: SparkSession, val probe: Probe, val cores: Int) {
  var setupS, genS, warmupS = 0.0
  /** Latencies of ops that returned and passed their check. */
  val latencies = ArrayBuffer.empty[Double]
  var attempted, failed = 0
  val failures = ArrayBuffer.empty[String]
  private var firstStart, lastEnd = -1L
  private var gcStart, gcEnd = Counts()
  /** Per-op check values, keyed `<op>` — compared with the recorded
    * values and, for a repeated op, with its earlier passes.
    */
  val fingerprints = scala.collection.mutable.LinkedHashMap.empty[String, String]
  /** Extra per-layer values a workload sets (store sizes, yields). */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Detail values printed beside the contract metrics. */
  val detail = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var compilesWarmup, compilesTimed = 0L
  /** Passes over the op mix in warm-up and in the timed run, to compare
    * codegen compiles per pass.
    */
  var warmupPasses, timedPasses = 1
  /** Set during a warm-up pass: ops run and are checked but not counted. */
  var warming = false
  private var nextOp = 0

  /** Runs one timed op: `body` gets the op's span id and returns a check to run
    * after the clock stops (None = passed, Some(why) = failed). An op
    * that throws or fails its check is counted and leaves no latency.
    */
  def op(name: String)(body: Int => (() => Option[String])): Unit =
    if (warming) {
      val c0 = probe.read()
      probe.paused = true
      try body(-1)() catch { case e: Throwable => Some(e.toString) }
      finally probe.paused = false
      cleanup()
      compilesWarmup += probe.read().compiles - c0.compiles
    } else timedOp(name)(body)

  private def timedOp(name: String)(body: Int => (() => Option[String])): Unit = {
    val id = nextOp
    nextOp += 1
    attempted += 1
    val c0 = probe.read()
    val t0 = System.nanoTime()
    if (firstStart < 0) { firstStart = t0; gcStart = c0; probe.heapArmed = true }
    val outcome: Either[String, () => Option[String]] =
      try { probe.currentOp = id; Right(probe.span(-1, name)(body)) }
      catch { case e: Throwable => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    val verdict = outcome.fold(Some(_), check =>
      try check() catch { case e: Throwable => Some(s"check threw $e") })
    verdict match {
      case None => latencies += (t1 - t0) / 1e9
      case Some(why) =>
        failed += 1
        failures += s"$name: ${why.take(300)}"
        System.err.println(s"[perfbench] op $name failed: ${why.take(300)}")
    }
    cleanup()
    lastEnd = System.nanoTime()
    val c1 = probe.read()
    gcEnd = c1
    compilesTimed += c1.compiles - c0.compiles
  }

  /** Releases what an op left cached so ops stay independent; no GC is
    * forced (that would hide heap growth from `peak_heap_mb`).
    */
  def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def wallS: Double = (lastEnd - firstStart) / 1e9

  def result(w: Workload): String = {
    probe.heapArmed = false
    val lat = latencies.sorted
    val p50 = if (lat.isEmpty) 0.0 else Stats.median(lat.toSeq)
    // the highest percentile that leaves at least ten samples beyond it
    val tailIdx = lat.size - 11
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wallS, "s"),
      "op_p50_s" -> (p50, "s"),
      "peak_heap_mb" -> (probe.peakHeapBytes / 1048576.0, "MB"))
    detail ++= Seq(
      "wall_s" -> wallS,
      "ops_s" -> lat.sum,
      "op_tail_s" -> (if (tailIdx >= 0) lat(tailIdx) else Double.NaN),
      "op_tail_pct" -> (if (tailIdx >= 0) 100.0 * (tailIdx + 1) / lat.size else Double.NaN),
      "op_samples" -> lat.size.toDouble,
      "failed_frac" -> failed.toDouble / attempted.max(1),
      "docs_per_s" -> w.inputDocs / wallS,
      "session_s" -> (setupS - genS - warmupS),
      "gen_s" -> genS, "warmup_s" -> warmupS)
    if (probe.tracing) {
      // share of op time spent building, planning and compiling (the
      // fixed cost) rather than executing
      val fixed = probe.spans.filter(moduleOf(_).isDefined).map {
        case s if s.name == "exec" => s.counts.compileNs / 1e9
        case s => s.seconds
      }.sum
      detail += "fixed_share" -> fixed / probe.spans.filter(_.parent < 0).map(_.seconds).sum
    }
    val metrics = if (probe.tracing) perLayer else e2e
    val correct = failed == 0 && attempted > 0
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "detail" -> Json.obj(detail.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "failures" -> Json.arr(failures.map(Json.str).toSeq)))
  }

  /** Per-layer metrics from the span log. Query ops carry build / plan /
    * exec child spans; other layers are named spans under an op.
    */
  /** The query module owning a layer span (a direct child of an op). */
  private lazy val moduleOf: Span => Option[String] = {
    val opName = probe.spans.filter(_.parent < 0).map(s => s.id -> s.name).toMap
    s => opName.get(s.parent).flatMap(Main.ModuleOf.get)
  }

  private def perLayer: Seq[(String, (Double, String))] = {
    val spans = probe.spans
    val out = ArrayBuffer.empty[(String, (Double, String))]
    for ((m, _) <- Main.Modules) {
      val mine = spans.filter(s => moduleOf(s).contains(m))
      def phase(p: String) = mine.filter(_.name == p)
      def sum(ss: Seq[Span]) = ss.map(_.counts).foldLeft(Counts())(_ + _)
      val build = sum(phase("build").toSeq)
      val all = sum(mine.toSeq)
      out ++= Seq(
        s"$m.build_s" -> (phase("build").map(_.seconds).sum, "s"),
        s"$m.build_jobs" -> (build.jobs.toDouble, "count"),
        s"$m.plan_s" -> (phase("plan").map(_.seconds).sum, "s"),
        s"$m.exec_s" -> (phase("exec").map(_.seconds).sum, "s"),
        s"$m.jobs" -> (all.jobs.toDouble, "count"),
        s"$m.tasks" -> (all.tasks.toDouble, "count"),
        s"$m.task_s" -> (all.taskMs / 1e3, "s"),
        s"$m.shuffle_bytes" -> (all.shuffleBytes.toDouble, "bytes"),
        s"$m.codegen_compiles" -> (all.compiles.toDouble, "count"),
        s"$m.codegen_ms" -> (all.compileNs / 1e6, "ms"))
    }
    def named(n: String) = spans.filter(s => s.parent >= 0 && s.name == n).toSeq
    def secs(n: String) = named(n).map(_.seconds).sum
    def cnt(n: String) = named(n).map(_.counts).foldLeft(Counts())(_ + _)
    val curate = cnt("curate")
    val ingest = cnt("ingest")
    val gate = cnt("gate")
    val compact = cnt("compact")
    val ops = spans.filter(_.parent < 0).map(_.counts).foldLeft(Counts())(_ + _)
    out ++= Seq(
      "TrainingPipeline.curate_s" -> (secs("curate"), "s"),
      "TrainingPipeline.jobs" -> (curate.jobs.toDouble, "count"),
      "TrainingPipeline.task_s" -> (curate.taskMs / 1e3, "s"),
      "TrainingPipeline.shuffle_bytes" -> (curate.shuffleBytes.toDouble, "bytes"),
      "Pipeline.ingest_s" -> (secs("ingest"), "s"),
      "Pipeline.jobs" -> (ingest.jobs.toDouble, "count"),
      "Pipeline.task_s" -> (ingest.taskMs / 1e3, "s"),
      "Pipeline.codegen_compiles" -> (ingest.compiles.toDouble, "count"),
      "Pipeline.bytes_written" -> (ingest.outputBytes.toDouble, "bytes"),
      "Pipeline.append_yield" -> (layer.getOrElse("Pipeline.append_yield", 0.0), "ratio"),
      "StreamNearDedup.gate_s" -> (secs("gate"), "s"),
      "StreamNearDedup.jobs" -> (gate.jobs.toDouble, "count"),
      "StreamNearDedup.codegen_compiles" -> (gate.compiles.toDouble, "count"),
      "StreamNearDedup.dup_flagged" -> (layer.getOrElse("StreamNearDedup.dup_flagged", 0.0), "count"),
      "StreamNearDedup.compact_s" -> (secs("compact"), "s"),
      "StreamNearDedup.compact_bytes_written" -> (compact.outputBytes.toDouble, "bytes"),
      "StreamNearDedup.store_bytes" -> (layer.getOrElse("StreamNearDedup.store_bytes", 0.0), "bytes"),
      "StreamNearDedup.store_files" -> (layer.getOrElse("StreamNearDedup.store_files", 0.0), "count"),
      "Analytics.trend_read_s" -> (secs("trend_read"), "s"),
      "spark.gc_s" -> ((gcEnd.gcMs - gcStart.gcMs) / 1e3, "s"),
      "spark.parallel_eff" -> (ops.taskMs / 1e3 / (wallS * cores), "ratio"),
      "codegen.recompile_ratio" -> (
        if (compilesWarmup > 0)
          compilesTimed.toDouble / timedPasses / (compilesWarmup.toDouble / warmupPasses)
        else 0.0, "ratio"),
      "store_bytes_per_input_byte" -> (layer.getOrElse("store_bytes_per_input_byte", 0.0), "ratio"),
      "trace.overhead_s" -> (probe.drainNs / 1e9 + secs("plan"), "s"))
    out.toSeq
  }

  def traceJson: String = {
    // an op's own self time is harness work (fingerprint set-up, check)
    def layer(s: Span): String =
      if (s.parent < 0) "perfbench.op"
      else moduleOf(s).map(m => s"$m.${s.name}")
        .getOrElse(Run.Layers.getOrElse(s.name, s.name))
    val self = probe.selfTimes(layer).toSeq.sortBy(-_._2)
    Json.obj(Seq(
      "self_s" -> Json.obj(self.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(probe.spans.toSeq.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "op" -> s.op.toString, "name" -> Json.str(s.name),
          "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
          "jobs" -> s.counts.jobs.toString, "tasks" -> s.counts.tasks.toString,
          "task_ms" -> s.counts.taskMs.toString,
          "shuffle_bytes" -> s.counts.shuffleBytes.toString,
          "output_bytes" -> s.counts.outputBytes.toString,
          "compiles" -> s.counts.compiles.toString,
          "compile_ns" -> s.counts.compileNs.toString,
          "gc_ms" -> s.counts.gcMs.toString))
      })))
  }
}

object Run {
  /** Module that owns each non-query layer call. */
  val Layers: Map[String, String] = Map(
    "curate" -> "TrainingPipeline.curate", "ingest" -> "Pipeline.ingest",
    "gate" -> "StreamNearDedup.gate", "compact" -> "StreamNearDedup.compact",
    "trend_read" -> "Analytics.trend_read")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer: values arrive already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

/** A workload: untimed set-up (inputs, warm-up), then its timed ops. */
abstract class Workload(val a: Main.Args) {
  def setup(spark: SparkSession, run: Run): Unit
  def timed(spark: SparkSession, run: Run): Unit
  /** Documents the timed ops consumed (for docs_per_s). */
  def inputDocs: Double

  /** Recorded fingerprints for this workload, if any were recorded for
    * these inputs.
    */
  lazy val expected: Map[String, String] = {
    val f = new File(a.expected)
    if (!f.exists) Map.empty
    else {
      val txt = new String(Files.readAllBytes(f.toPath), UTF_8)
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
  }

  protected def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Input generation, repeated three times into fresh dirs: `genS` is
    * the median time, and the last copy is used.
    */
  protected def generate(run: Run)(write: String => Unit): String = {
    val dirs = (0 until 3).map(i => s"${a.work}/input-$i")
    run.genS = Stats.median(dirs.map(d => seconds(write(d))))
    dirs.last
  }

  /** One SparkEntry query as an op: build (the query function), plan,
    * exec (noop write with the fingerprint observation). With tracing
    * off, build and exec run back to back and the write plans as usual.
    */
  protected def query(run: Run, name: String, dir: String,
      check: Map[String, Any] => Option[String],
      extra: Seq[org.apache.spark.sql.Column] = Nil): Unit = {
    val fn = graft.SparkEntry.queries(name)
    run.op(name) { id =>
      val probe = run.probe
      val df = probe.span(id, "build")(_ => fn(run.spark, dir))
      val (obsDf, obs) = Check.observed(df, extra)
      if (probe.tracing)
        probe.span(id, "plan")(_ => obsDf.queryExecution.executedPlan)
      probe.span(id, "exec")(_ =>
        obsDf.write.format("noop").mode("overwrite").save())
      () => {
        val values = obs.get
        val fp = Check.fingerprint(values)
        val prior = run.fingerprints.get(name)
        run.fingerprints(name) = fp
        expected.get(name).filter(_ != fp)
          .map(e => s"fingerprint $fp, recorded $e")
          .orElse(prior.filter(_ != fp).map(p => s"fingerprint $fp, earlier pass $p"))
          .orElse(check(values))
      }
    }
  }
}
