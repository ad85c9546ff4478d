package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.catalog.Catalog

/** The benchmark's JVM side: sets up one workload, measures it in a
  * closed loop for the requested seconds, checks its outputs and prints
  * one JSON object as the last line of standard output.
  *
  * With `--trace 0` the object carries the end-to-end metrics. With
  * `--trace 1` it carries the per-layer metrics: the loop runs for twice
  * the requested seconds, alternating untraced cycles with cycles under
  * the span recorder, the catalog/notifier wrappers and the engine
  * listeners, and the difference in median cycle time between the two
  * sides is reported as the tracing overhead.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, boardDump: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), m.get("board-dump").filter(_.nonEmpty))
  }

  /** Input generations per run; `setup_s` takes their median. */
  val SetupRepeats = 3
  /** Scale of the board's generated tables (0.01 gives 60k lineitem rows). */
  val BoardSf = 0.01

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, spark: SparkSession, work: String, seed: Long): Workload = name match {
    case "lifecycle_small" => new Lifecycle(spark, work, seed)
    case "index_board" => new IndexBoard(spark, work, seed, BoardSf)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally st.close()
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def loop(w: Workload, rec: Recorder, seconds: Int): Unit = {
    val end = System.nanoTime() + seconds * 1000000000L
    w.begin(rec, traced = false)
    while (w.cycle(rec) && System.nanoTime() < end) ()
  }

  /** One untraced settling cycle, on neither side, then untraced (U) and
    * traced (T) cycles in the order T U U T T U …, until the window closes
    * and each side has run at least once. Both sides run in the same
    * stretch of time after the first, slowest cycle, and the mirrored
    * order cancels a steady trend, so their cycle times compare. The
    * engine listeners are attached only around traced cycles; the bus is
    * drained at each switch, off the clock, so every event of a traced
    * cycle reaches them. Returns the tracing overhead: the median traced
    * over the median untraced cycle time, minus 1.
    */
  private def alternate(w: Workload, spark: SparkSession, plain: Recorder, rec: Recorder,
      log: EngineLog, seconds: Int): Double = {
    val sc = spark.sparkContext
    w.begin(plain, traced = false)
    w.cycle(plain)
    val end = System.nanoTime() + seconds * 1000000000L
    val times = Array(mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    var i = 0
    var more = true
    while (more && (System.nanoTime() < end || times.exists(_.isEmpty))) {
      val traced = (i + 1) / 2 % 2 == 0
      val r = if (traced) rec else plain
      PerfbenchBus.drain(sc)
      if (traced) { sc.addSparkListener(log); spark.listenerManager.register(log) }
      w.begin(r, traced)
      more = w.cycle(r)
      PerfbenchBus.drain(sc)
      if (traced) { sc.removeSparkListener(log); spark.listenerManager.unregister(log) }
      if (more) times(if (traced) 1 else 0) += r.spans.last.durNs / 1e9
      i += 1
    }
    System.err.println("[perfbench]   overhead from untraced cycles " +
      times(0).map(c => f"$c%.2f").mkString(" ") + " s, traced " +
      times(1).map(c => f"$c%.2f").mkString(" ") + " s")
    if (times.exists(_.isEmpty)) 0.0 else Stats.median(times(1).toSeq) / Stats.median(times(0).toSeq) - 1
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    // set-up = session start + input generation + landing the inputs +
    // warm-up. Generation is repeated and its median taken; landing and
    // warm-up run once, since repeating them would time warm code
    var w: Workload = null
    val gens = (1 to SetupRepeats).map { i =>
      if (w != null) deleteTree(Paths.get(s"${o.work}/setup${i - 1}"))
      val s0 = System.nanoTime()
      w = make(o.workload, spark, s"${o.work}/setup$i", o.seed)
      w.generate()
      (System.nanoTime() - s0) / 1e9
    }
    val p0 = System.nanoTime()
    w.prepare()
    val w0 = System.nanoTime()
    w.warmUp()
    val prepS = (w0 - p0) / 1e9
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(gens) + prepS + warmS
    System.err.println(f"[perfbench] ${o.workload}: session $sessionS%.2f s, generation " +
      gens.map(x => f"$x%.2f").mkString(", ") + f" s, landing $prepS%.2f s, warm-up $warmS%.2f s")

    val plain = new Recorder(None)
    val log = new EngineLog
    val rec = new Recorder(Some(spark.sparkContext))
    val overhead = if (o.trace) alternate(w, spark, plain, rec, log, 2 * o.seconds)
    else { loop(w, plain, o.seconds); 0.0 }
    val untraced = new Summary(w, plain.spans)
    System.err.println("[perfbench]   cycles " + untraced.cycles.map(c => f"$c%.2f").mkString(" ") +
      f" s wall, median cpu ${untraced.cycleCpuS}%.2f s")
    untraced.samples.toSeq.sortBy(_._1).foreach { case (k, xs) =>
      System.err.println(f"[perfbench]   $k%-24s p50 ${Stats.median(xs)}%.3f s  n=${xs.size}") }

    val metrics: Map[String, (Double, String)] = if (!o.trace) {
      Map("setup_s" -> (setupS, "s"),
        "latency_geomean_s" -> (untraced.latencyGeomean, "s"),
        "cycle_s" -> (untraced.cycleS, "s"),
        "cycle_cpu_s" -> (untraced.cycleCpuS, "s"))
    } else {
      val a = new Attribution(rec.spans, log.snapshot(), rec.msToNs)
      val units = Layers.all.map(x => x._1 -> x._2).toMap
      (Layers.compute(w, rec.spans, a, untraced, overhead, new Catalog(spark, _)) +
        ("jvm.peak_rss_mb" -> peakRssMb())).map { case (k, v) => k -> (v, units(k)) }
    }

    untraced.named.foreach { case (n, v, unit) =>
      System.out.println(f"[perfbench] ${o.workload} $n = $v%.4f $unit") }
    val problems = w.check()
    problems.foreach(p => System.out.println(s"[perfbench] CHECK FAILED: $p"))
    o.boardDump.foreach { d =>
      w match {
        case ib: IndexBoard =>
          ib.board.dump(d)
          Files.writeString(Paths.get(d, "fixtures_dir.txt"), ib.board.fixturesDir)
        case _ => ()
      }
    }
    val result = ListMap(
      "correct" -> problems.isEmpty,
      "attempted" -> w.attempted,
      "failed" -> w.failed,
      "metrics" -> ListMap(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))
    System.out.println(Json.render(result))
    System.out.flush()
    spark.stop()
  }
}
