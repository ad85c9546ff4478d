package perfbench

import org.apache.spark.sql.SparkSession

/** A closed loop of calls into the program: set up, then cycles until the
  * measurement window closes, then a correctness check off the clock.
  */
trait Workload {
  def name: String
  /** Generates the inputs' content, from the seed only. */
  def generate(): Unit
  /** Lands the generated inputs where the program reads them. */
  def prepare(): Unit
  /** Runs the calls of a cycle off the clock: class loading, code
    * generation and JIT, so the measured cycles start warm.
    */
  def warmUp(): Unit
  /** Selects the plain or the traced instances before a measured cycle. */
  def begin(rec: Recorder, traced: Boolean): Unit
  /** Runs one cycle; false when the generated inputs are used up. */
  def cycle(rec: Recorder): Boolean
  /** Problems found; empty when every output is correct. */
  def check(): Seq[String]
  def attempted: Int
  def failed: Int
  /** The call kinds whose medians make up `latency_geomean_s`. */
  def kinds: Seq[String]
  /** The kind of a top-level call span, if it is one. */
  def kindOf(s: Span): Option[String]
}

object Workload {
  /** Runs `tasks` on three threads and waits for all of them; used only
    * off the clock, by warm-ups, where only compilation is paid for.
    */
  def inParallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futures = tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      futures.foreach(_.get())
    } finally pool.shutdown()
  }
}

/** Rounds of the index lifecycle and passes over a board slice,
  * alternating in one closed loop: one cycle is an index round followed
  * by a board pass. The index build runs once, before the first cycle.
  * That cycle runs untraced, so the first traced cycle is preceded by a
  * build of the same base slice into a throwaway directory: it gives the
  * traced run its build spans.
  */
final class IndexBoard(spark: SparkSession, work: String, seed: Long, sf: Double)
    extends Workload {
  val name = "index_board"
  val index = new IndexLifecycle(spark, work, seed)
  val board = new Board(spark, work, seed, sf)
  private var built = false
  private var tracedBuilt = false

  def generate(): Unit = board.generate()
  def prepare(): Unit = board.write()
  def warmUp(): Unit = Workload.inParallel(index.warmTasks ++ board.warmTasks)
  def begin(rec: Recorder, traced: Boolean): Unit = if (traced && !tracedBuilt) {
    index.build(rec, s"$work/index-traced")
    tracedBuilt = true
  }

  def cycle(rec: Recorder): Boolean = {
    if (!built) { index.build(rec); built = true }
    if (!index.hasRound) return false
    rec.span("cycle") { index.round(rec); board.pass(rec) }
    true
  }

  def check(): Seq[String] = index.check() ++ board.check()
  def attempted: Int = index.attempted + board.attempted
  def failed: Int = index.failed + board.failed
  def kinds: Seq[String] = index.kinds ++ Board.Rows
  def kindOf(s: Span): Option[String] = index.kindOf(s).orElse(board.kindOf(s))
}
