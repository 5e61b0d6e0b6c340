package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}

/** Minimal JSON rendering for the raw-measurement file run.py reads. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case o: Option[_] => o.fold("null")(render)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Per-layer task accounting: every job is labelled by the local property
  * `perfbench.layer` the harness sets around its call into a layer; stream
  * micro-batch jobs carry no label and are filed under "streaming".
  */
final class TaskTotals extends SparkListener {
  final class Totals {
    var tasks = 0L; var runMs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val p = Option(e.properties)
    val label = p.flatMap(x => Option(x.getProperty(TaskTotals.Key)))
      .orElse(p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).map(_ => "streaming"))
      .getOrElse("other")
    stageLayer.put(e.stageInfo.stageId, label)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.computeIfAbsent(stageLayer.getOrDefault(e.stageId, "other"), _ => new Totals)
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot: Map[String, Map[String, Long]] = totals.asScala.toMap.map { case (k, t) =>
    k -> t.synchronized(Map("tasks" -> t.tasks, "run_ms" -> t.runMs,
      "shuffle_write_bytes" -> t.shuffleWrite, "spill_bytes" -> t.spill))
  }
}

object TaskTotals {
  val Key = "perfbench.layer"

  /** Run `body` with its Spark jobs labelled as `layer`. */
  def labelled[T](spark: SparkSession, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, layer)
    try body finally sc.setLocalProperty(Key, prior)
  }
}

/** JVM-wide counters read before and after a measured interval. */
object JvmStats {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def heapPeakBytes: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def codegenNs: Long = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

object Files2 {
  /** Bytes under `root` (0 when missing); tolerant of files vanishing mid-walk. */
  def size(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.map { p =>
        try if (Files.isRegularFile(p)) Files.size(p) else 0L
        catch { case _: java.io.IOException => 0L }
      }.sum
      catch { case _: java.io.UncheckedIOException => 0L }
      finally walk.close()
    }

  def size(root: String): Long = size(Paths.get(root))
}

/** Order-insensitive digest of a collected result: rows rendered to strings,
  * sorted, hashed. Two executions of a query agree iff their digests do.
  */
object Digest {
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(render).mkString("\u0001")).sorted
      .foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: Double => java.lang.Double.doubleToLongBits(d).toString
    case f: Float => java.lang.Float.floatToIntBits(f).toString
    case x => x.toString
  }
}

/** Samples the bytes on disk under a directory in the background and keeps the peak. */
final class DiskPeak(root: String, periodMs: Long = 50) {
  @volatile private var peak = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      peak = math.max(peak, Files2.size(root))
      Thread.sleep(periodMs)
    }
  }, "perfbench-disk-peak")
  thread.setDaemon(true)
  thread.start()

  def stop(): Long = { running = false; thread.join(); peak = math.max(peak, Files2.size(root)); peak }
}
