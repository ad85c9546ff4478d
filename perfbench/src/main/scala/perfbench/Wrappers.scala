package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.catalog.Catalog
import graft.notify.{InMemoryNotifier, Notification, Notifier}

/** A `Catalog` whose reads and commits are spans. A read span covers
  * only the driver-side resolution (pointer, manifest, listing, footer):
  * the scan itself runs inside whichever commit or collect consumes it.
  */
final class TracedCatalog(spark: SparkSession, root: String, rec: Recorder)
    extends Catalog(spark, root) {
  private def attrs(name: String) =
    Map("table" -> name, "kind" -> (if (TracedCatalog.Control(name)) "control" else "data"))

  override def read(name: String): DataFrame =
    rec.span("catalog.read", attrs(name))(super.read(name))
  override def readBuckets(name: String, buckets: Seq[Int]): DataFrame =
    rec.span("catalog.read", attrs(name))(super.readBuckets(name, buckets))
  override def append(name: String, df: DataFrame): Unit =
    rec.span("catalog.commit", attrs(name) + ("op" -> "append"))(super.append(name, df))
  override def overwrite(name: String, df: DataFrame): Unit =
    rec.span("catalog.commit", attrs(name) + ("op" -> "overwrite"))(super.overwrite(name, df))
  override def overwriteBuckets(name: String, df: DataFrame, touched: Seq[Int]): Unit =
    rec.span("catalog.commit", attrs(name) + ("op" -> "overwriteBuckets"))(
      super.overwriteBuckets(name, df, touched))
  override def overwriteAllBuckets(name: String, df: DataFrame): Unit =
    rec.span("catalog.commit", attrs(name) + ("op" -> "overwriteAllBuckets"))(
      super.overwriteAllBuckets(name, df))
  override def createIfAbsent(name: String, schema: StructType, primaryKey: Seq[String]): Unit =
    rec.span("catalog.create", attrs(name))(super.createIfAbsent(name, schema, primaryKey))
}

object TracedCatalog {
  val Control: Set[String] = Set("processed_files", "delete_control")
}

/** A `Notifier` whose sends are spans; delivery goes to `sink`. */
final class TracedNotifier(rec: Recorder, sink: InMemoryNotifier) extends Notifier {
  override def send(n: Notification): Unit = rec.span("notify.send")(sink.send(n))
}
