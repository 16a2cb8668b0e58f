package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.StreamNearDedup

/** An analyst's interactive session over the committed sf0.001 fixture:
  * one untimed warm-up pass, then timed passes over the query mix in an
  * order the seed shuffles on each pass. At this size build-time Spark
  * actions, planning, codegen and job scheduling dominate.
  */
final class AdhocSmall(args: Main.Args) extends Workload(args) {
  /** A fixed-round iterative loop (g1b: one job per round) and a vector
    * top-k, then the reference's own analyses.
    */
  val Mix: Seq[String] = Seq("g1b_pagerank_fixed", "s1_cosine_topk",
    "a2_sentiment_trend", "w2_rolling_mean", "q2_topk_by_date",
    "t12_pos_lemma", "x1_sitemap_parse")
  /** Timed passes: one per `PassSeconds` of the run budget. */
  val PassSeconds = 8.0
  val passes: Int = math.max(1, math.round(a.seconds / PassSeconds).toInt)
  /** Untimed passes first: after one, the JIT is still compiling the
    * planner and codegen paths and the first timed passes pay for it.
    */
  val WarmupPasses = 2
  def inputDocs: Double = Double.NaN

  def setup(spark: SparkSession, run: Run): Unit = {
    run.warmupPasses = WarmupPasses
    run.timedPasses = passes
    run.warming = true
    run.warmupS = seconds((1 to WarmupPasses).foreach(_ =>
      Mix.foreach(q => query(run, q, a.fixture, _ => None))))
    run.warming = false
  }

  def timed(spark: SparkSession, run: Run): Unit =
    for (p <- 0 until passes)
      new Random(a.seed * 1000 + p).shuffle(Mix)
        .foreach(q => query(run, q, a.fixture, _ => None))
}

/** One nightly pass over a seeded corpus with planted near-dup and
  * exact-dup shares, in a fresh JVM. Execution dominates: shuffle bytes,
  * UDF CPU and task parallelism.
  */
final class CorpusBatch(args: Main.Args) extends Workload(args) {
  val Docs = 2000
  val NearShare = 0.08
  val ExactShare = 0.04
  val Ops: Seq[String] = Seq("d1_jaccard_pairs", "m19_bigram_nll", "curate")
  val rows: Vector[Gen.Row] = Gen.corpus(a.seed, Docs, NearShare, ExactShare)
  def inputDocs: Double = Docs
  private var dir = ""

  def setup(spark: SparkSession, run: Run): Unit =
    dir = generate(run)(d => Gen.writeDocuments(spark, rows, d))

  def timed(spark: SparkSession, run: Run): Unit = Ops.foreach {
    case "curate" => run.op("curate") { id =>
        val (_, counts) = run.probe.span(id, "curate")(_ =>
          graft.TrainingPipeline.curate(spark, dir))
        () => {
          val docStages = counts.filter(_._1 != "chunk").map(_._2)
          val chunks = counts.find(_._1 == "chunk").map(_._2).getOrElse(0L)
          if (docStages.zip(docStages.drop(1)).exists { case (x, y) => y > x })
            Some(s"stage counts not monotone: $counts")
          else if (chunks <= 0) Some(s"no chunks: $counts")
          else None
        }
      }
    case "d1_jaccard_pairs" =>
      // every planted pair is found, and no pair joins two families
      val planted = rows.collect {
        case Gen.Row(d, Gen.NearDup(of)) => (of.min(d.id), of.max(d.id))
        case Gen.Row(d, Gen.ExactDup(of)) => (of.min(d.id), of.max(d.id))
      }.toSet
      // family root of each document: the fresh document it copies
      val fam: Map[Long, Long] = rows.map {
        case Gen.Row(d, Gen.NearDup(of)) => d.id -> of
        case Gen.Row(d, Gen.ExactDup(of)) => d.id -> of
        case Gen.Row(d, _) => d.id -> d.id
      }.toMap
      val isPlanted = udf((x: Long, y: Long) => planted((x, y)))
      val crosses = udf((x: Long, y: Long) => fam(x) != fam(y))
      query(run, "d1_jaccard_pairs", dir, m =>
        if (m("planted") != planted.size.toLong)
          Some(s"found ${m("planted")} of ${planted.size} planted pairs")
        else if (m("cross") != 0L) Some(s"${m("cross")} pairs join unrelated documents")
        else None,
        Seq(count(when(isPlanted(col("id1"), col("id2")), 1)).as("planted"),
          count(when(crosses(col("id1"), col("id2")), 1)).as("cross")))
    case q => query(run, q, dir, m =>
      if (Check.rows(m) == 0) Some("no rows") else None)
  }
}

/** The ingest DAG as micro-batches against an empty store: each round
  * feeds a seeded batch, then runs ingest, the near-dup gate, leveled
  * compaction and a trend read-back over the stored articles. The only
  * workload that writes; state grows every round.
  */
final class IngestStream(args: Main.Args) extends Workload(args) {
  val Batch = 500
  val RecrawlShare = 0.20
  val NearShare = 0.05
  /** Rounds: one per `RoundSeconds` of the run budget, at least two so
    * the second round probes a non-empty store and then compacts it.
    */
  val RoundSeconds = 12.0
  val CompactEvery = 2
  val rounds: Int = math.max(2, math.round(a.seconds / RoundSeconds).toInt)
  val feed: Vector[Vector[Gen.Row]] =
    Gen.feed(a.seed, rounds, Batch, RecrawlShare, NearShare)
  def inputDocs: Double = rounds.toDouble * Batch
  private var feedRoot = ""
  private def store = s"${a.work}/gate-store"
  private def verdicts = s"${a.work}/gate-verdicts"
  private def links = s"${a.work}/links"
  private def articles = s"${a.work}/articles"

  def setup(spark: SparkSession, run: Run): Unit =
    feedRoot = generate(run)(root => feed.zipWithIndex.foreach { case (b, i) =>
      Gen.writeDocuments(spark, b, s"$root/round-$i") })

  def timed(spark: SparkSession, run: Run): Unit = {
    val sink = StreamNearDedup.sink(spark, store, verdicts)
    val longKeys = scala.collection.mutable.Set.empty[Long]
    var offered, appended, flagged = 0L
    for ((batch, i) <- feed.zipWithIndex) {
      val dir = s"$feedRoot/round-$i"
      // new keys the ingest keeps (above 50 words); re-crawls are not new
      val newLong = batch.collect { case Gen.Row(d, k)
        if k != Gen.Recrawl && Gen.words(d.text) > 50 => d.id }
      longKeys ++= newLong
      val days = longKeys.map(_ % 60).size
      offered += batch.size
      run.op("round") { id =>
        val p = run.probe
        val (_, added) = p.span(id, "ingest")(_ =>
          graft.Pipeline.ingestRun(spark, dir, links, articles))
        p.span(id, "gate")(_ =>
          sink(spark.read.parquet(s"$dir/documents.parquet"), i.toLong))
        p.span(id, "compact")(_ =>
          StreamNearDedup.maybeCompactLeveled(spark, store, every = CompactEvery))
        val trend = p.span(id, "trend_read")(_ =>
          graft.queries.Analytics.sentimentTrendOf(spark.read.parquet(articles)
            .select(date_add(to_date(lit("2022-01-01")),
              (col("doc_id") % 60).cast("int")).as("day"),
              col("polarity"), col("subjectivity"))).collect())
        () => {
          appended += added
          val flags = spark.read.parquet(s"$verdicts/batch=$i")
            .select(col("new_id")).distinct().collect().map(_.getLong(0)).toSet
          flagged += flags.size
          val missed = batch.collect { case Gen.Row(d, Gen.NearDup(_)) if !flags(d.id) => d.id }
          val wrong = batch.collect { case Gen.Row(d, Gen.Fresh) if flags(d.id) => d.id }
          // the store-wide count is checked once, after the last round
          lazy val stored = spark.read.parquet(articles)
            .agg(count(lit(1)), countDistinct(col("doc_id"))).first()
          if (added != newLong.size) Some(s"round $i appended $added articles, expected ${newLong.size}")
          else if (missed.nonEmpty) Some(s"planted near-dups not flagged: ${missed.take(5)}")
          else if (wrong.nonEmpty) Some(s"fresh docs flagged: ${wrong.take(5)}")
          else if (trend.length != days) Some(s"trend has ${trend.length} rows, expected $days days")
          else if (i == rounds - 1 &&
              (stored.getLong(0) != longKeys.size || stored.getLong(1) != longKeys.size))
            Some(s"article store holds ${stored.getLong(0)} rows / ${stored.getLong(1)} keys, expected ${longKeys.size}")
          else None
        }
      }
    }
    val stats = StreamNearDedup.describe(store)
    val storeBytes = stats.tables.map(_.bytes).sum
    val articleBytes = treeBytes(new File(articles))
    val inputBytes = feed.flatten.map(_.doc.text.getBytes("UTF-8").length.toLong).sum
    val spaceRatio = (storeBytes + articleBytes).toDouble / inputBytes
    run.layer ++= Seq(
      "Pipeline.append_yield" -> appended.toDouble / offered,
      "StreamNearDedup.dup_flagged" -> flagged.toDouble,
      "StreamNearDedup.store_bytes" -> storeBytes.toDouble,
      "StreamNearDedup.store_files" -> stats.tables.map(_.files).sum.toDouble,
      "store_bytes_per_input_byte" -> spaceRatio)
    run.detail ++= Seq("rounds" -> rounds.toDouble,
      "store_bytes_per_input_byte" -> spaceRatio)
  }

  private def treeBytes(f: File): Long =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length else 0L }
    else Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
}
