package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.catalog.Catalog

/** Latency samples of one measured segment, grouped as the end-to-end
  * metrics use them.
  */
final class Summary(w: Workload, spans: Seq[Span]) {
  private def s(ns: Long) = ns / 1e9

  /** Per-kind latency samples: the spans of one kind and one request
    * add up to one sample (an index phase over its three families).
    */
  val samples: Map[String, Seq[Double]] =
    spans.flatMap(sp => w.kindOf(sp).map(k => (k, sp.request, sp.durNs)))
      .groupBy(x => (x._1, x._2)).toSeq
      .map { case ((k, req), xs) => (k, req, s(xs.map(_._3).sum)) }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._3) }

  val cycles: Seq[Double] = spans.filter(_.name == "cycle").map(sp => s(sp.durNs))

  def p50(kind: String): Option[Double] = samples.get(kind).filter(_.nonEmpty).map(Stats.median)

  def latencyGeomean: Double = Stats.geomean(w.kinds.flatMap(p50))
  def cycleS: Double = Stats.median(cycles)
  def cycleCpuS: Double =
    Stats.median(spans.filter(_.name == "cycle").map(sp => s(sp.cpuNs)))

  /** The workload's per-kind latency figures, by name. */
  def named: Seq[(String, Double, String)] = w match {
    case _: Lifecycle =>
      val applies = Seq("insert", "update", "stage_delete").flatMap(samples.getOrElse(_, Nil))
      val tail = Stats.tail(applies)
      val applySpans = spans.filter(_.name == "pipeline.apply")
      val applyS = applySpans.map(sp => s(sp.durNs)).sum
      val rows = applySpans.map(_.attrs("rows").toLong).sum
      Seq("register", "insert", "update", "stage_delete", "delete_run").flatMap(k =>
        p50(k).map(v => (s"${k}_p50_s", v, s"s (n=${samples(k).size})"))) ++
        tail.map(t => ("apply_tail_s", t.value,
          s"s (p${t.percentile} of n=${t.n}, ${t.beyond} beyond)")).toSeq ++
        Seq(("rows_per_s", rows / math.max(applyS, 1e-9), "rows/s"))
    case _: IndexBoard =>
      val passes = spans.filter(_.name == "board.pass").map(sp => s(sp.durNs))
      Seq(("index_build_s", samples.get("build").map(_.sum).getOrElse(0.0), "s")) ++
        Seq("append", "delete", "serve").flatMap(k =>
          p50(k).map(v => (s"index_${k}_p50_s", v, s"s (n=${samples(k).size} rounds)"))) ++
        Seq(("board_s", Stats.median(passes), s"s (n=${passes.size} passes)"),
          ("board_geomean_s", Stats.geomean(Board.Rows.flatMap(p50)), "s"))
    case _ => Nil
  }
}

/** Per-layer metrics of a traced segment. Lifecycle figures are per
  * applied file; `functions.*` and `queries.*` are medians per call;
  * `spark.*` are per cycle (a table lifecycle, or an index round with a
  * board pass).
  */
object Layers {
  val Families = Seq("sig", "text", "vec")
  val Phases = Seq("build", "append", "delete", "serve")

  /** Every per-layer metric name with its unit and direction. */
  val all: Seq[(String, String, String)] = {
    val b = mutable.ArrayBuffer.empty[(String, String, String)]
    def add(n: String, u: String, better: String = "lower") = b += ((n, u, better))
    Seq("register_p50_s", "insert_p50_s", "update_p50_s", "stage_delete_p50_s",
      "apply_tail_s", "delete_run_p50_s").foreach(add(_, "s"))
    add("rows_per_s", "rows/s", "higher")
    Seq("index_build_s", "index_append_p50_s", "index_delete_p50_s", "index_serve_p50_s",
      "board_s", "board_geomean_s").foreach(add(_, "s"))
    add("failed_frac", "ratio")
    add("trace.overhead_frac", "ratio")
    add("trace.spans", "count")
    add("jvm.peak_rss_mb", "MB")
    Seq("register", "apply", "delete_run").foreach { p =>
      add(s"pipeline.$p.self_s", "s"); add(s"pipeline.$p.jobs", "count")
    }
    add("pipeline.jobs_per_file", "count")
    add("catalog.commits_per_file", "count"); add("catalog.reads_per_file", "count")
    add("catalog.control_commit_s", "s"); add("catalog.read_s", "s")
    add("catalog.data_commit_s", "s"); add("catalog.bytes_written", "bytes")
    add("catalog.write_amp", "ratio"); add("catalog.space_amp", "ratio")
    add("ops.task_s", "s"); add("ops.shuffle_bytes", "bytes")
    add("ops.spill_bytes", "bytes"); add("ops.busy_cores", "cores", "higher")
    add("notify.sends", "count"); add("notify.s", "s")
    for (f <- Families; p <- Phases) { add(s"functions.$f.${p}_s", "s"); add(s"functions.$f.${p}_jobs", "count") }
    Families.foreach(f => add(s"functions.$f.bytes_on_disk", "bytes"))
    Board.Rows.map(Board.short).foreach { r => add(s"queries.$r.s", "s"); add(s"queries.$r.jobs", "count") }
    add("queries.eager_s", "s")
    Seq("jobs", "stages", "tasks").foreach(n => add(s"spark.$n", "count"))
    Seq("plan_s", "driver_gap_s", "task_s", "cpu_s", "gc_s").foreach(n => add(s"spark.$n", "s"))
    add("spark.busy_cores", "cores", "higher"); add("spark.longest_task_s", "s")
    Seq("input_bytes", "shuffle_bytes", "spill_bytes", "output_bytes").foreach(n => add(s"spark.$n", "bytes"))
    b.toSeq
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
      finally st.close()
    }
  }

  def compute(w: Workload, spans: Seq[Span], a: Attribution, untraced: Summary,
      overheadFrac: Double, catalogOf: String => Catalog): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    all.foreach { case (n, _, _) => out(n) = 0.0 }
    def sec(ns: Long) = ns / 1e9
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def named(n: String) = spans.filter(_.name == n)
    def under(ss: Seq[Span]) = ss.map(sp => a.inclusive(sp.id)).foldLeft(Counters())(_ + _)

    untraced.named.foreach { case (n, v, _) => out(n) = v }
    out("failed_frac") = w.failed.toDouble / math.max(1, w.attempted)
    out("trace.overhead_frac") = overheadFrac
    out("trace.spans") = spans.size

    w match {
      case l: Lifecycle =>
        val files = math.max(1, named("pipeline.apply").size).toDouble
        Seq("register", "apply", "delete_run").foreach { p =>
          val ss = named(s"pipeline.$p")
          out(s"pipeline.$p.self_s") = med(ss.map(sp => sec(a.selfNs(sp.id))))
          out(s"pipeline.$p.jobs") = med(ss.map(sp => a.inclusive(sp.id).jobs.toDouble))
        }
        out("pipeline.jobs_per_file") = under(spans.filter(_.name.startsWith("pipeline."))).jobs / files
        val commits = named("catalog.commit")
        val byId = spans.map(sp => sp.id -> sp).toMap
        val reads = named("catalog.read").filterNot(sp =>
          byId.get(sp.parent).exists(_.name.startsWith("catalog.")))
        val data = commits.filter(_.attrs("kind") == "data")
        val control = commits.filter(_.attrs("kind") == "control")
        out("catalog.commits_per_file") = commits.size / files
        out("catalog.reads_per_file") = reads.size / files
        out("catalog.control_commit_s") = sec(control.map(_.durNs).sum) / files
        out("catalog.read_s") = sec(reads.map(_.durNs).sum) / files
        out("catalog.data_commit_s") = sec(data.map(_.durNs).sum) / files
        val dataC = under(data)
        out("catalog.bytes_written") = dataC.tasks.outputBytes / files
        out("catalog.write_amp") = dataC.tasks.outputBytes.toDouble /
          math.max(1L, named("pipeline.apply").map(_.attrs("bytes").toLong).sum)
        val cat = catalogOf(l.warehouseRoot)
        val live = l.liveTables.flatMap(t => cat.read(t).inputFiles).distinct
          .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
        out("catalog.space_amp") = dirBytes(l.warehouseRoot).toDouble / math.max(1L, live)
        out("ops.task_s") = dataC.tasks.runMs / 1e3 / files
        out("ops.shuffle_bytes") = dataC.tasks.shuffleBytes / files
        out("ops.spill_bytes") = dataC.tasks.spillBytes / files
        val dataWall = data.map(sp => a.jobWallNs(sp.id)).sum
        out("ops.busy_cores") = if (dataWall > 0) dataC.tasks.runMs * 1e6 / dataWall else 0.0
        val sends = named("notify.send")
        out("notify.sends") = sends.size / files
        out("notify.s") = sec(sends.map(_.durNs).sum) / files
      case ib: IndexBoard =>
        for (f <- Families; p <- Phases) {
          val ss = named(s"functions.$p").filter(_.attrs("fam") == f)
          out(s"functions.$f.${p}_s") = med(ss.map(sp => sec(sp.durNs)))
          out(s"functions.$f.${p}_jobs") = med(ss.map(sp => a.inclusive(sp.id).jobs.toDouble))
        }
        ib.index.indexDirs.foreach { case (f, d) => out(s"functions.$f.bytes_on_disk") = dirBytes(d) }
        Board.Rows.foreach { r =>
          val ss = named("queries.row").filter(_.attrs("row") == r)
          out(s"queries.${Board.short(r)}.s") = med(ss.map(sp => sec(sp.durNs)))
          out(s"queries.${Board.short(r)}.jobs") = med(ss.map(sp => a.inclusive(sp.id).jobs.toDouble))
        }
        out("queries.eager_s") = sec(named("queries.eager").map(_.durNs).sum) /
          math.max(1, named("board.pass").size)
      case _ => ()
    }

    val cycles = named("cycle")
    val n = math.max(1, cycles.size).toDouble
    val c = under(cycles)
    out("spark.jobs") = c.jobs / n
    out("spark.stages") = c.stages / n
    out("spark.tasks") = c.tasks.tasks / n
    out("spark.plan_s") = c.planMs / 1e3 / n
    out("spark.driver_gap_s") = sec(cycles.map(sp => a.driverGapNs(sp.id)).sum) / n
    out("spark.task_s") = c.tasks.runMs / 1e3 / n
    out("spark.cpu_s") = c.tasks.cpuNs / 1e9 / n
    out("spark.gc_s") = c.tasks.gcMs / 1e3 / n
    val wall = cycles.map(sp => a.jobWallNs(sp.id)).sum
    out("spark.busy_cores") = if (wall > 0) c.tasks.runMs * 1e6 / wall else 0.0
    out("spark.longest_task_s") = c.tasks.longestMs / 1e3
    out("spark.input_bytes") = c.tasks.inputBytes / n
    out("spark.shuffle_bytes") = c.tasks.shuffleBytes / n
    out("spark.spill_bytes") = c.tasks.spillBytes / n
    out("spark.output_bytes") = c.tasks.outputBytes / n
    out.toMap
  }
}
