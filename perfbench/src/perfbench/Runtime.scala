package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Process-level helpers: the Spark session, heap and GC readings,
  * scratch directories and JSON output. */
object Runtime {

  def threads: Int = math.min(java.lang.Runtime.getRuntime.availableProcessors(), 4)

  /** A fresh local session. `scratch` holds everything Spark writes
    * (shuffle files, warehouse, persisted indexes). */
  def session(scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (threads * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.graft.indexRoot", scratch.resolve("index").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Maximum heap in use right after any GC, observed while `on`. */
  object PeakHeap extends NotificationListener {
    @volatile var on = false
    @volatile private var peak = 0L

    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }

    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        synchronized { if (used > peak) peak = used }
      }

    def reset(): Unit = synchronized { peak = 0L }

    /** Peak in MB; if no GC ran while on, the heap in use now. */
    def mb: Double = synchronized {
      val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      p / (1024.0 * 1024.0)
    }
  }

  /** Total collection time of all collectors so far, in seconds. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }

  /** Bytes and parquet-file count under a directory. */
  def treeSize(p: Path): (Long, Int) = {
    val walk = Files.walk(p)
    try {
      val files = walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")))
    } finally walk.close()
  }

  def median(xs: Seq[Double]): Double = Tracer.median(xs)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}
