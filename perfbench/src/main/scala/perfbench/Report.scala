package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** What one benchmark JVM hands back to `run.py`: named metrics with
  * units, the operation counts behind `error_rate`, the effective
  * configuration, and the correctness work left to the Python side
  * (the DuckDB oracle compare of the batch dumps). Written as one JSON
  * file; `run.py` prints the result line from it.
  */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val config = mutable.LinkedHashMap.empty[String, String]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Spec names dumped for the oracle compare (batch workloads). */
  val dumped = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def write(path: String): Unit = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else v.toString
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val c = config.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    val out = s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$m,"config":$c,""" +
      s""""notes":${notes.map(Json.str).mkString("[", ",", "]")},""" +
      s""""dumped":${dumped.map(Json.str).mkString("[", ",", "]")}}"""
    // Written whole, then renamed: a reader never sees half a report.
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, out + "\n")
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Nearest-rank percentile, p in [0, 1]; NaN on an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private val heapAfterGc = new AtomicLong()

  /** Follow the heap occupancy right after every collection from now
    * on; [[heapAfterGcPeakMb]] reads its peak. Unlike the resident set,
    * which follows the heap the JVM chose to commit, it is the data the
    * program kept.
    */
  def watchHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (p, u) if heapPools(p) => u.getUsed }.sum
            heapAfterGc.accumulateAndGet(used, (x, y) => math.max(x, y))
          }, null, null)
      case _ =>
    }
  }

  def heapAfterGcPeakMb(): Double = heapAfterGc.get / 1048576.0

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def rssPeakMb(): Double = scala.util.Try {
    Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
      .split("\\s+")(1).toDouble / 1024
  }.getOrElse(Double.NaN)
}
