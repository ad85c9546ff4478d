package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.functions.{SignatureIndex, TextIndex, VectorIndex}

/** One index family behind the four calls the workload makes. */
trait IndexFamily {
  def name: String
  def build(dir: String, rows: Seq[Long]): Unit
  def append(dir: String, rows: Seq[Long]): Unit
  def delete(dir: String, ids: Seq[Long]): Unit
  /** Serves the round's query batch; returns the rows, sorted. */
  def serve(dir: String, round: Int): Seq[String]
  /** Serves queries made from the given corpus rows, so an index that
    * still holds them answers differently from one that does not.
    */
  def probe(dir: String, ids: Seq[Long]): Seq[String]
}

/** Build, then interleaved rounds of append, delete and serve against
  * one long-lived index per family: `sig` and `text` over documents,
  * `vec` over embeddings. No catalog table is touched.
  */
final class IndexLifecycle(spark: SparkSession, work: String, seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val baseRows = 1000
  private val appendRows = 100
  private val deleteRows = 20
  private val maxRounds = 40
  private val NumCentroids = 16
  /** Query ids of probes made from corpus rows: outside every corpus id. */
  private val ProbeIds = 3000000L

  import spark.implicits._

  // corpora: ids 0 until baseRows are the base slice; round r appends the
  // next appendRows ids
  private val corpusSize = baseRows + maxRounds * appendRows
  private val texts = Fixtures.corpusTexts(rnd, corpusSize)
  private val vectors = Array.tabulate(corpusSize) { _ =>
    val l = rnd.nextInt(10); (Fixtures.embedding(rnd, l), l)
  }
  private def appendIds(round: Int): Seq[Long] =
    (baseRows + round * appendRows until baseRows + (round + 1) * appendRows).map(_.toLong)

  private val sigQueries: IndexedSeq[DataFrame] = (0 until maxRounds).map { r =>
    // half the batch repeats live documents with a marker word (near
    // duplicates to find), half is new text
    Fixtures.docsFrame(spark, (0 until 40).map { i =>
      val id = 1000000L + r * 100 + i
      if (i % 2 == 0) id -> (texts(rnd.nextInt(baseRows)) + " dup")
      else id -> Fixtures.sentence(rnd, 10 + rnd.nextInt(60))
    })
  }
  private val textQueries: IndexedSeq[Seq[Seq[String]]] = (0 until maxRounds).map { _ =>
    Seq.fill(2)(Seq.fill(3)(Fixtures.Vocab(rnd.nextInt(Fixtures.Vocab.length))).distinct)
  }
  private val vecQueries: IndexedSeq[DataFrame] = (0 until maxRounds).map { r =>
    Fixtures.vecFrame(spark, (0 until 20).map { i =>
      val l = rnd.nextInt(10); (2000000L + r * 100 + i, Fixtures.embedding(rnd, l), l)
    })
  }

  private def docs(ids: Seq[Long]): DataFrame =
    Fixtures.docsFrame(spark, ids.map(i => i -> texts(i.toInt)))
  private def vecs(ids: Seq[Long]): DataFrame =
    Fixtures.vecFrame(spark, ids.map(i => (i, vectors(i.toInt)._1, vectors(i.toInt)._2)))
  private def idFrame(col: String, ids: Seq[Long]): DataFrame = ids.toDF(col)

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(rowString).toSeq.sorted
  private def rowString(r: Row): String = r.toSeq.map {
    case d: Double => "%.6f".formatLocal(java.util.Locale.ROOT, d)
    case f: Float => "%.6f".formatLocal(java.util.Locale.ROOT, f.toDouble)
    case v => String.valueOf(v)
  }.mkString("|")

  val families: Seq[IndexFamily] = Seq(
    new IndexFamily {
      val name = "sig"
      def build(dir: String, rows: Seq[Long]): Unit =
        SignatureIndex.build(docs(rows), "doc_id", "text", dir)
      def append(dir: String, rows: Seq[Long]): Unit =
        SignatureIndex.append(docs(rows), "doc_id", "text", dir)
      def delete(dir: String, ids: Seq[Long]): Unit =
        SignatureIndex.delete(idFrame("doc_id", ids), "doc_id", dir)
      def serve(dir: String, round: Int): Seq[String] =
        rowsOf(SignatureIndex.servePairs(spark, dir, sigQueries(round), "doc_id", "text", 0.8))
      def probe(dir: String, ids: Seq[Long]): Seq[String] =
        rowsOf(SignatureIndex.servePairs(spark, dir,
          Fixtures.docsFrame(spark, ids.map(i => (ProbeIds + i) -> texts(i.toInt))),
          "doc_id", "text", 0.8))
    },
    new IndexFamily {
      val name = "text"
      def build(dir: String, rows: Seq[Long]): Unit =
        TextIndex.build(docs(rows), "doc_id", "text", dir)
      def append(dir: String, rows: Seq[Long]): Unit =
        TextIndex.append(docs(rows), "doc_id", "text", dir)
      def delete(dir: String, ids: Seq[Long]): Unit =
        TextIndex.delete(idFrame("doc_id", ids), "doc_id", dir)
      def serve(dir: String, round: Int): Seq[String] =
        textQueries(round).flatMap(terms =>
          rowsOf(TextIndex.bm25TopK(spark, dir, terms, 10)).map(terms.mkString("+") + "|" + _))
      def probe(dir: String, ids: Seq[Long]): Seq[String] = Seq(ids.head, ids.last).flatMap { i =>
        val terms = texts(i.toInt).split(" ").distinct.take(4).toSeq
        rowsOf(TextIndex.bm25TopK(spark, dir, terms, 10)).map(terms.mkString("+") + "|" + _)
      }
    },
    new IndexFamily {
      val name = "vec"
      def build(dir: String, rows: Seq[Long]): Unit =
        VectorIndex.build(vecs(rows), "vec_id", "embedding", dir,
          numCentroids = NumCentroids, metaCols = Seq("label"))
      def append(dir: String, rows: Seq[Long]): Unit =
        VectorIndex.append(vecs(rows), "vec_id", "embedding", dir)
      def delete(dir: String, ids: Seq[Long]): Unit =
        VectorIndex.delete(idFrame("vec_id", ids), "vec_id", dir)
      def serve(dir: String, round: Int): Seq[String] =
        rowsOf(VectorIndex.topK(spark, dir, vecQueries(round), "vec_id", "embedding", k = 5,
          nprobe = 4))
      def probe(dir: String, ids: Seq[Long]): Seq[String] =
        rowsOf(VectorIndex.topK(spark, dir, Fixtures.vecFrame(spark, ids.map(i =>
          (ProbeIds + i, vectors(i.toInt)._1, vectors(i.toInt)._2))), "vec_id", "embedding",
          k = 5, nprobe = NumCentroids))
    })

  private def dir(f: IndexFamily) = s"$work/index/${f.name}"
  private val live = mutable.LinkedHashSet.empty[Long] ++ (0 until baseRows).map(_.toLong)
  private val deletesPlanned: IndexedSeq[Seq[Long]] = {
    val l = mutable.LinkedHashSet.empty[Long] ++ live
    (0 until maxRounds).map { r =>
      l ++= appendIds(r)
      val a = l.toArray
      val picked = (0 until deleteRows).map { i =>
        val j = i + rnd.nextInt(a.length - i)
        val t = a(i); a(i) = a(j); a(j) = t
        a(i)
      }
      l --= picked
      picked
    }
  }
  private var round = 0
  var attempted = 0
  var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]

  private def call(rec: Recorder, f: IndexFamily, phase: String)(body: => Unit): Unit = {
    attempted += 1
    try rec.span(s"functions.$phase", Map("fam" -> f.name))(body)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"${f.name} $phase round $round: ${e.getMessage}"
    }
  }

  /** The whole call sequence on small throwaway indexes, one task per family. */
  def warmTasks: Seq[() => Unit] = families.map { f => () =>
    val d = s"$work/warmup/${f.name}"
    f.build(d, (0L until 200L))
    f.append(d, (200L until 250L))
    f.delete(d, Seq(3L, 5L, 7L))
    f.serve(d, 0)
  }

  /** Builds every family on the base slice, under `root` (by default the
    * indexes the rounds run against).
    */
  def build(rec: Recorder, root: String = s"$work/index"): Unit = {
    rec.request = "build"
    rec.span("index.build")(families.foreach(f =>
      call(rec, f, "build")(f.build(s"$root/${f.name}", (0 until baseRows).map(_.toLong)))))
  }

  def hasRound: Boolean = round < maxRounds

  def round(rec: Recorder): Unit = {
    rec.request = s"round-$round"
    rec.span("index.round") {
      families.foreach { f =>
        call(rec, f, "append")(f.append(dir(f), appendIds(round)))
        call(rec, f, "delete")(f.delete(dir(f), deletesPlanned(round)))
        call(rec, f, "serve")(f.serve(dir(f), round))
        // serve persists frames for its caller to release, off the clock
        spark.catalog.clearCache()
      }
    }
    live ++= appendIds(round)
    live --= deletesPlanned(round)
    round += 1
  }

  /** After the last round, each index must answer as a fresh build over
    * the live rows does, for queries made from the rows the last round
    * appended and deleted: an index that missed either answers
    * differently. The vector probe reads every list on both sides, since
    * a fresh build trains other centroids.
    */
  def check(): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String] ++ errors
    if (round == 0) return (problems :+ "no index round completed").toSeq
    val last = round - 1
    val probeIds = appendIds(last).take(deleteRows) ++ deletesPlanned(last)
    def report(p: String): Unit = problems.synchronized { problems += p }
    // families are independent, so they are checked side by side
    Workload.inParallel(families.map { f => () => try {
      val fresh = s"$work/fresh/${f.name}"
      f.build(fresh, live.toSeq.sorted)
      val got = f.probe(dir(f), probeIds)
      val want = f.probe(fresh, probeIds)
      if (got != want)
        report(s"${f.name}: after $round rounds the index answers differently from a " +
          s"fresh build (${got.size} vs ${want.size} rows; first difference " +
          s"${got.diff(want).headOption.orElse(want.diff(got).headOption).getOrElse("?")})")
    } catch { case e: Exception => report(s"${f.name}: check failed: ${e.getMessage}") } })
    spark.catalog.clearCache()
    problems.toSeq
  }

  def kinds: Seq[String] = Seq("build", "append", "delete", "serve")

  /** A phase's spans share the round's request, so a kind's sample is
    * the phase summed over the three families.
    */
  def kindOf(s: Span): Option[String] =
    if (s.name.startsWith("functions.")) Some(s.name.stripPrefix("functions.")) else None

  def indexDirs: Seq[(String, String)] = families.map(f => f.name -> dir(f))
}
