package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Seeded input generator. Documents follow the shape of the engine's
  * `documents` fixture table (a 30-word vocabulary, 10 to 99 words per
  * text, `source = src<doc_id % 20>`), and the generator plants the
  * duplicates the checks look for. The program under test only ever
  * sees the parquet directories written here.
  */
object Gen {

  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val Langs = Array("en", "en", "en", "fr", "es", "zh", "de")

  final case class Doc(id: Long, text: String)

  /** How a generated row relates to the rows generated before it. */
  sealed trait Kind
  case object Fresh extends Kind
  final case class NearDup(of: Long) extends Kind
  final case class ExactDup(of: Long) extends Kind
  /** An earlier key delivered again with its text unchanged. */
  case object Recrawl extends Kind

  final case class Row(doc: Doc, kind: Kind)

  def words(text: String): Int = text.split(" ").length

  def freshText(r: Random): String =
    Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  /** One word of a text of at least 30 words replaced by a different one:
    * at most three of its word 3-shingles change, so the Jaccard
    * similarity to the source stays at or above 0.8 (the gate and d1
    * flag pairs at 0.5).
    */
  def nearDupText(r: Random, src: String): String = {
    val ws = src.split(" ")
    require(ws.length >= 30, "near-dup sources need at least 30 words")
    val i = 1 + r.nextInt(ws.length - 2)
    ws(i) = Vocab.filterNot(_ == ws(i))(r.nextInt(Vocab.length - 1))
    ws.mkString(" ")
  }

  /** A corpus of `n` documents with ids 0 to n-1: about `nearShare` are
    * near-dups and `exactShare` verbatim copies of earlier fresh
    * documents, the rest fresh.
    */
  def corpus(seed: Long, n: Int, nearShare: Double,
      exactShare: Double): Vector[Row] = {
    val r = new Random(seed)
    val out = Vector.newBuilder[Row]
    val sources = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Doc]
    for (id <- 0L until n) {
      val u = r.nextDouble()
      val row =
        if (u < nearShare && sources.nonEmpty) {
          val src = sources(r.nextInt(sources.size))
          Row(Doc(id, nearDupText(r, src.text)), NearDup(src.id))
        } else if (u < nearShare + exactShare && fresh.nonEmpty) {
          val src = fresh(r.nextInt(fresh.size))
          Row(Doc(id, src.text), ExactDup(src.id))
        } else {
          val d = Doc(id, freshText(r))
          fresh += d
          if (words(d.text) >= 30) sources += d
          Row(d, Fresh)
        }
      out += row
    }
    out.result()
  }

  /** The ingest feed: `rounds` batches of `batch` rows. From the second
    * round on, about `recrawlShare` of a batch re-delivers an earlier key
    * with its text unchanged and `nearShare` re-publishes an earlier text,
    * one word changed, under a new key.
    */
  def feed(seed: Long, rounds: Int, batch: Int, recrawlShare: Double,
      nearShare: Double): Vector[Vector[Row]] = {
    val r = new Random(seed)
    var nextId = 0L
    val seen = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val sources = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until rounds).map { round =>
      val rows = (0 until batch).map { _ =>
        val u = r.nextDouble()
        if (round > 0 && u < recrawlShare) {
          val d = seen(r.nextInt(seen.size))
          Row(d, Recrawl)
        } else {
          val id = nextId
          nextId += 1
          if (round > 0 && u < recrawlShare + nearShare) {
            val src = sources(r.nextInt(sources.size))
            Row(Doc(id, nearDupText(r, src.text)), NearDup(src.id))
          } else Row(Doc(id, freshText(r)), Fresh)
        }
      }.toVector
      // only earlier rounds are probed by the gate, so sources are added
      // after the whole batch is drawn
      rows.foreach { row =>
        if (row.kind != Recrawl) {
          seen += row.doc
          if (row.kind == Fresh && words(row.doc.text) >= 30) sources += row.doc
        }
      }
      rows
    }.toVector
  }

  /** Writes rows as `<dir>/documents.parquet` in the fixture's schema. */
  def writeDocuments(spark: SparkSession, rows: Seq[Row], dir: String): Unit = {
    import spark.implicits._
    rows.map { case Row(Doc(id, text), _) =>
      (id, text, Langs((id % Langs.length).toInt), s"src${id % 20}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
