package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.model.{ApprovalEvent, DeleteControl, FileEvent, ProcessedFile, Status}
import graft.notify.InMemoryNotifier
import graft.pipeline.Pipeline

/** Shape of a lifecycle target table: fixture-table columns whose values
  * are a pure function of (key, version), so the expected content of a
  * table is a map key → version.
  */
final case class TableKind(name: String, cols: Seq[String], pk: Seq[String]) {
  /** CSV values of the primary-key columns of `key`. */
  def pkValues(key: Long): Seq[String] =
    if (pk.size == 2) Seq((key / 8).toString, (key % 8).toString) else Seq(key.toString)

  /** The whole row of `key` as written by a file of version `ver`. */
  def row(seed: Long, key: Long, ver: Int): Seq[String] = {
    val r = new SplittableRandom(seed * 1000003L ^ key * 7919L ^ ver.toLong << 40 ^ name.hashCode)
    val rest = cols.drop(pk.size).map { c =>
      if (c.endsWith("name")) s"${name.capitalize}#${key}v$ver"
      else if (c.endsWith("key")) r.nextInt(10000).toString
      else if (c.endsWith("date"))
        "%d-%02d-%02d".formatLocal(Locale.ROOT, 1995 + r.nextInt(7), 1 + r.nextInt(12), 1 + r.nextInt(28))
      else if (c.endsWith("flag") || c.endsWith("status")) "AFNOPR".charAt(r.nextInt(6)).toString
      else if (c.endsWith("segment") || c.endsWith("type") || c.endsWith("priority"))
        s"T${r.nextInt(8)}"
      else "%.2f".formatLocal(Locale.ROOT, r.nextDouble(0, 10000))
    }
    pkValues(key) ++ rest
  }

  /** Key of the next fresh row after `counter` rows were allocated. */
  def freshKey(counter: Long): Long =
    if (pk.size == 2) (counter / 4) * 8 + (counter % 4) + 1 else counter
}

object TableKind {
  val Customer = TableKind("customer",
    Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), Seq("c_custkey"))
  val Orders = TableKind("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority"), Seq("o_orderkey"))
  val Part = TableKind("part", Seq("p_partkey", "p_name", "p_type", "p_size",
    "p_retailprice"), Seq("p_partkey"))
  val Supplier = TableKind("supplier",
    Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), Seq("s_suppkey"))
  val Lineitem = TableKind("lineitem", Seq("l_orderkey", "l_linenumber", "l_partkey",
    "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate"), Seq("l_orderkey", "l_linenumber"))
  val All = Seq(Customer, Orders, Part, Supplier, Lineitem)
}

/** One landed CSV: its object path under the bucket, the table it
  * targets, and the (key, version) rows it carries.
  */
final case class PlannedFile(op: String, objectPath: String, table: String,
    keys: Array[Long], ver: Int, bytes: Long)

/** One table's insert → update → delete cycle. */
final case class PlannedCycle(index: Int, table: String, kind: TableKind,
    files: Seq[PlannedFile])

/** The reference's file lifecycle driven through `Pipeline`: each file is
  * landed, registered, approved and applied singly, and the staged
  * deletes run after every table cycle, as the scheduled job would.
  */
final class Lifecycle(spark: SparkSession, work: String, seed: Long) extends Workload {
  val name = "lifecycle_small"
  private val bucket = "b1"
  private val landing = s"$work/landing"
  private val warehouse = s"$work/warehouse"
  private val notes = new InMemoryNotifier
  private val rnd = new SplittableRandom(seed)

  private val insertRows = 100
  private val deleteRows = 5
  private val maxCycles = 30
  /** Size of the seeded control-table history. An assumption: no source
    * gives the reference's event volume.
    */
  private val historyFiles = 5000
  private val historyDeletes = 1000

  private val tables: Seq[(String, TableKind)] =
    TableKind.All.flatMap(k => (0 until 4).map(i => f"${k.name}_$i%02d" -> k))
  private val warmKind = TableKind.Customer
  private val warmTables = 1

  private val counters = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val versions = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** Live keys per table as the plan leaves them, for choosing updates and deletes. */
  private val planned = mutable.Map.empty[String, mutable.LinkedHashSet[Long]]
  private var warmCycles: Seq[PlannedCycle] = Nil
  private var cycles: IndexedSeq[PlannedCycle] = IndexedSeq.empty

  private var plain: Pipeline = _
  private var traced: Pipeline = _
  private var current: Pipeline = _
  private var completed = 0
  /** (event id, operation) of every measured file. */
  private val outcomes = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0
  var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]

  // ------------------------------------------------------------ inputs

  private def writeCsv(path: String, kind: TableKind, keys: Array[Long], ver: Int,
      pkOnly: Boolean): Long = {
    val p = Paths.get(landing, bucket, path)
    Files.createDirectories(p.getParent)
    val w = new BufferedWriter(new FileWriter(p.toFile), 1 << 16)
    try {
      w.write((if (pkOnly) kind.pk else kind.cols).mkString(","))
      w.write('\n')
      keys.foreach { k =>
        w.write((if (pkOnly) kind.pkValues(k) else kind.row(seed, k, ver)).mkString(","))
        w.write('\n')
      }
    } finally w.close()
    Files.size(p)
  }

  private def fresh(table: String, kind: TableKind, n: Int): Array[Long] =
    Array.fill(n) { val k = kind.freshKey(counters(table)); counters(table) += 1; k }

  private def sample(from: collection.Seq[Long], n: Int): Array[Long] = {
    val a = from.toArray
    (0 until math.min(n, a.length)).foreach { i =>
      val j = i + rnd.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(n)
  }

  private def planCycle(index: Int, table: String, kind: TableKind): PlannedCycle = {
    val live = planned.getOrElseUpdate(table, mutable.LinkedHashSet.empty)
    val tag = f"c$index%03d"
    val ins = fresh(table, kind, insertRows)
    live ++= ins
    val upd = sample(ins.toSeq, insertRows / 4) ++ fresh(table, kind, insertRows / 4)
    live ++= upd
    val del = sample(live.toSeq, deleteRows)
    live --= del
    def next(): Int = { versions(table) += 1; versions(table) }
    val vi = next(); val vu = next()
    val files = Seq(
      PlannedFile("insert", s"insert/$tag/$table.csv", table, ins, vi,
        writeCsv(s"insert/$tag/$table.csv", kind, ins, vi, pkOnly = false)),
      PlannedFile("update", s"update/$tag/$table.csv", table, upd, vu,
        writeCsv(s"update/$tag/$table.csv", kind, upd, vu, pkOnly = false)),
      PlannedFile("delete", s"delete/$tag/$table.csv", table, del, 0,
        writeCsv(s"delete/$tag/$table.csv", kind, del, 0, pkOnly = true)))
    PlannedCycle(index, table, kind, files)
  }

  private var historyRows: Seq[ProcessedFile] = Nil
  private var historyStaged: Seq[DeleteControl] = Nil

  /** Past events for the control tables, so control-table rewrites see a
    * non-empty table of an assumed size rather than an empty one.
    */
  private def planHistory(): Unit = {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    historyRows = (0 until historyFiles).map { i =>
      val op = Seq("insert", "update", "delete")(rnd.nextInt(3))
      ProcessedFile(s"hist_${i % 400}.csv", s"hist-$seed-$i", (i / 400 + 1).toLong,
        is_processed = true, bucket, op,
        if (rnd.nextInt(10) == 0) Status.Rejected else Status.Approved, Some(ts))
    }
    historyStaged = (0 until historyDeletes).map { i =>
      val t = s"hist_${i % 400}"
      DeleteControl(i.toLong + 1, s"hist-$seed-$i",
        s"DELETE FROM $t WHERE id = '$i'", DeleteFlag = true, ExecutedFlag = true,
        Some(ts), Some(ts), t, Map("id" -> i.toString))
    }
  }

  def generate(): Unit = {
    planHistory()
    warmCycles = (0 until warmTables).map(i => planCycle(-1 - i, s"${warmKind.name}_warm$i", warmKind))
    // the kinds come in a fixed rotation, so every run measures the same
    // mix of table shapes; the seed picks the table of each kind and the rows
    val kinds = TableKind.All
    val perKind = tables.size / kinds.size
    val pick = kinds.map(k => k -> sample((0 until perKind).map(_.toLong), perKind)).toMap
    cycles = (0 until maxCycles).map { i =>
      val k = kinds(i % kinds.size)
      val t = f"${k.name}_${pick(k)(i / kinds.size % perKind)}%02d"
      planCycle(i + 1, t, k)
    }
  }

  def prepare(): Unit = {
    val catalog = new Catalog(spark, warehouse)
    import spark.implicits._
    catalog.createIfAbsent("processed_files", ProcessedFile.schema)
    catalog.createIfAbsent("delete_control", DeleteControl.schema)
    catalog.overwrite("processed_files", historyRows.toDF())
    catalog.overwrite("delete_control", historyStaged.toDF())
    tables.foreach { case (t, k) => catalog.registerPrimaryKey(t, k.pk) }
    plain = new Pipeline(spark, catalog, notes, landing)
    current = plain
  }

  /** A whole cycle on a throwaway warehouse. Running more warm-up cycles
    * on parallel threads did not make the measured cycles faster: the JIT
    * needs elapsed time, which the run's budget does not leave.
    */
  def warmUp(): Unit = {
    val catalog = new Catalog(spark, s"$work/warm")
    val p = new Pipeline(spark, catalog, new InMemoryNotifier, landing)
    warmCycles.foreach { c =>
      catalog.registerPrimaryKey(c.table, warmKind.pk)
      drive(p, c)
    }
  }

  def begin(rec: Recorder, tracedRun: Boolean): Unit = {
    current = if (!tracedRun) plain else {
      if (traced == null) traced = new Pipeline(spark,
        new TracedCatalog(spark, warehouse, rec), new TracedNotifier(rec, notes), landing)
      traced
    }
  }

  // --------------------------------------------------------- the loop

  private def call[T](rec: Recorder, span: String, attrs: Map[String, String])(f: => T): Option[T] = {
    attempted += 1
    try Some(rec.span(span, attrs)(f))
    catch {
      case e: Exception =>
        failed += 1
        errors += s"$span ${attrs.mkString(",")}: ${e.getMessage}"
        None
    }
  }

  /** The cycle's calls, uncounted and unchecked (warm-up). */
  private def drive(p: Pipeline, c: PlannedCycle): Unit = {
    c.files.foreach { f =>
      val id = s"warm-$seed-${c.table}-${f.op}"
      val v = p.registerArrival(FileEvent(bucket, f.objectPath, id))
      p.processApproval(ApprovalEvent(id, "approve", f.objectPath, f.table, f.op, bucket, v,
        None, None, None))
    }
    p.executePendingDeletes()
  }

  private def runCycle(rec: Recorder, c: PlannedCycle): Unit = rec.span("cycle") {
    c.files.foreach { f =>
      val id = s"ev-$seed-${c.index}-${f.op}"
      rec.request = id
      val version = call(rec, "pipeline.register", Map("op" -> f.op)) {
        current.registerArrival(FileEvent(bucket, f.objectPath, id))
      }.flatten
      val before = notes.sent.length
      call(rec, "pipeline.apply",
          Map("op" -> f.op, "rows" -> f.keys.length.toString, "bytes" -> f.bytes.toString)) {
        current.processApproval(ApprovalEvent(id, "approve", f.objectPath, f.table, f.op,
          bucket, version, None, None, None))
      }
      val results = notes.sent.drop(before).map(_.subject).filter(_.startsWith("Operation "))
      if (results.exists(_.startsWith("Operation FAILURE"))) {
        failed += 1
        errors += s"$id reported ${results.mkString(";")}"
      }
      outcomes += ((id, f.op))
    }
    rec.request = s"delete-run-${c.index}"
    call(rec, "pipeline.delete_run", Map.empty)(current.executePendingDeletes())
  }

  def cycle(rec: Recorder): Boolean = {
    if (completed >= cycles.length) return false
    runCycle(rec, cycles(completed))
    completed += 1
    true
  }

  // ------------------------------------------------------------ checks

  /** Expected table contents after the completed cycles: key → version. */
  def expected(): Map[String, mutable.LongMap[Int]] = {
    val m = mutable.Map.empty[String, mutable.LongMap[Int]]
    cycles.take(completed).foreach { c =>
      val t = m.getOrElseUpdate(c.table, mutable.LongMap.empty)
      c.files.foreach { f =>
        f.op match {
          case "insert" => f.keys.foreach(k => if (!t.contains(k)) t(k) = f.ver)
          case "update" => f.keys.foreach(k => t(k) = f.ver)
          case _ => f.keys.foreach(t.remove)
        }
      }
    }
    m.toMap
  }

  def check(): Seq[String] = {
    val catalog = new Catalog(spark, warehouse)
    val kinds = tables.toMap
    val problems = mutable.ArrayBuffer.empty[String] ++ errors
    expected().foreach { case (table, exp) =>
      val kind = kinds(table)
      val it = catalog.read(table).select(kind.cols.map(col): _*).toLocalIterator()
      problems ++= Lifecycle.modelMismatches(table, kind, seed, exp,
        new Iterator[Seq[String]] {
          def hasNext: Boolean = it.hasNext
          def next(): Seq[String] = it.next().toSeq.map(v => if (v == null) null else v.toString)
        })
    }
    val ids = outcomes.map(_._1).toSet
    val control = catalog.read("processed_files")
      .filter(col("event_id").isin(ids.toSeq: _*))
      .select("event_id", "status", "is_processed").collect()
    if (control.length != ids.size)
      problems += s"processed_files holds ${control.length} of ${ids.size} run events"
    control.filterNot(r => r.getString(1) == Status.Approved && r.getBoolean(2))
      .foreach(r => problems += s"event ${r.getString(0)} ended ${r.getString(1)}, processed=${r.getBoolean(2)}")
    val deleteIds = outcomes.filter(_._2 == "delete").map(_._1).toSeq
    val staged = catalog.read("delete_control").filter(col("EventId").isin(deleteIds: _*))
      .select("ExecutedFlag").collect()
    val expectedStaged = cycles.take(completed).map(_.files.last.keys.length).sum
    if (staged.length != expectedStaged)
      problems += s"delete_control staged ${staged.length} rows, expected $expectedStaged"
    if (staged.exists(!_.getBoolean(0)))
      problems += s"${staged.count(!_.getBoolean(0))} staged deletes never ran"
    val subjects = notes.sent.map(_.subject)
    val ok = subjects.count(_.startsWith("Operation SUCCESS"))
    val requests = subjects.count(_.startsWith("Approval Required"))
    if (ok != outcomes.size || requests != outcomes.size)
      problems += s"notifications: $requests approval requests and $ok successes for ${outcomes.size} files"
    problems.toSeq
  }

  // ----------------------------------------------------------- metrics

  def kinds: Seq[String] = Seq("register", "insert", "update", "stage_delete", "delete_run")

  def kindOf(s: Span): Option[String] = s.name match {
    case "pipeline.register" => Some("register")
    case "pipeline.apply" => Some(s.attrs("op") match {
      case "delete" => "stage_delete"
      case op => op
    })
    case "pipeline.delete_run" => Some("delete_run")
    case _ => None
  }

  def warehouseRoot: String = warehouse
  def liveTables: Seq[String] = expected().keys.toSeq
}

object Lifecycle {
  /** Differences between a table's rows and the model (key → version);
    * empty when they agree. Rows are CSV strings in `kind.cols` order.
    */
  def modelMismatches(table: String, kind: TableKind, seed: Long,
      exp: collection.Map[Long, Int], rows: Iterator[Seq[String]]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val seen = mutable.LongMap.empty[Boolean]
    def key(r: Seq[String]): Long =
      if (kind.pk.size == 2) r(0).toLong * 8 + r(1).toLong else r(0).toLong
    rows.foreach { r =>
      val k = key(r)
      exp.get(k) match {
        case None => if (out.size < 5) out += s"$table: unexpected row ${r.mkString(",")}"
        case Some(v) =>
          if (seen.contains(k)) { if (out.size < 5) out += s"$table: duplicate key $k" }
          else if (r != kind.row(seed, k, v)) {
            if (out.size < 5) out += s"$table: key $k holds ${r.mkString(",")}, expected version $v"
          }
          seen(k) = true
      }
    }
    val missing = exp.keys.count(k => !seen.contains(k))
    if (missing > 0) out += s"$table: $missing expected rows missing"
    out.toSeq
  }
}
