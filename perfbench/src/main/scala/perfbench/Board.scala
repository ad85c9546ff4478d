package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One pass over a slice of the query board, each row materialized to
  * the `noop` sink, in a seeded order.
  */
final class Board(spark: SparkSession, work: String, seed: Long, sf: Double) {
  private val fixtures = s"$work/fixtures"
  private val order: IndexedSeq[String] = {
    val rnd = new SplittableRandom(seed)
    val a = Board.Rows.toArray
    a.indices.foreach { i =>
      val j = i + rnd.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
  var attempted = 0
  var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]
  private var passes = 0

  private def run(row: String, dir: String): Unit =
    SparkEntry.queries(row)(spark, dir).write.format("noop").mode("overwrite").save()

  private var tables: Seq[Fixtures.Table] = Nil

  /** The board's tables come from a fixed generator seed, so every seed
    * serves the same data and only the order of the pass varies.
    */
  def generate(): Unit =
    tables = Fixtures.generate(sf, Board.DataSeed, Board.Tables)
  def write(): Unit = Fixtures.write(spark, fixtures, tables)

  /** Every row once; failures show in the measured pass. */
  def warmTasks: Seq[() => Unit] = order.map { r => () =>
    try run(r, fixtures) catch { case _: Exception => () }
  }

  def pass(rec: Recorder): Unit = {
    rec.span("board.pass") {
      order.foreach { row =>
        rec.request = s"$row#$passes"
        attempted += 1
        try rec.span("queries.row", Map("row" -> row)) {
          val df = rec.span("queries.eager", Map("row" -> row))(SparkEntry.queries(row)(spark, fixtures))
          df.write.format("noop").mode("overwrite").save()
        } catch {
          case e: Exception =>
            failed += 1
            errors += s"$row: ${e.getMessage}"
        }
        // cache teardown between rows is harness hygiene, off the row's clock
        spark.catalog.clearCache()
      }
    }
    passes += 1
  }

  def check(): Seq[String] = errors.toSeq

  /** Writes each row's output as parquet under `dir/<row>` and the
    * DuckDB oracle SQL of the rows that have one to `dir/oracle_sql.json`,
    * for the benchmark's content check.
    */
  def dump(dir: String): Unit = {
    // a row that throws is already a failed operation of the pass
    Board.Rows.filterNot(r => errors.exists(_.startsWith(r + ":"))).foreach { row =>
      SparkEntry.queries(row)(spark, fixtures).write.mode("overwrite").parquet(s"$dir/$row")
      spark.catalog.clearCache()
    }
    val sql = SparkEntry.oracleSql.filter { case (k, _) => Board.Rows.contains(k) }
    Json.writeFile(s"$dir/oracle_sql.json", sql)
  }

  def fixturesDir: String = fixtures

  def kindOf(s: Span): Option[String] =
    if (s.name == "queries.row") Some(s.attrs("row")) else None
}

object Board {
  val DataSeed = 42L
  /** Spark execution dominates these rows and none is an index-lifecycle
    * row: driver-gap rows outside the index families (t60 s11 e36), the
    * streaming and bus paths (e02 e11, and e36), a skew-salted join
    * through the custom operators (q24), a round trip through the JDBC
    * sink into in-process Derby (op06) and image decoding in the
    * multimodal layer (t19).
    */
  val Rows: Seq[String] = Seq(
    "q24_salted_join", "e02_sessionize", "e11_bus_roundtrip",
    "e36_incremental_groups", "t60_bpe_train", "s11_pq_index_topk",
    "op06_jdbc_roundtrip", "t19_image_decode")

  /** The tables those rows read. */
  val Tables: Set[String] = Set("lineitem", "supplier", "events", "documents", "embeddings")

  def short(row: String): String = row.takeWhile(_ != '_')
}
