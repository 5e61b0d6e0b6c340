package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.operators.Events
import graft.streaming.SensorStreams

/** One committed micro-batch of one query, as its progress event reports it. */
final case class MicroBatch(query: String, batchId: Long, startMs: Long, durations: Map[String, Long],
                       inputRows: Long, stateRows: Long, stateBytes: Long, dropped: Long) {
  def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects micro-batch progress and keeps each query's committed input rows. */
final class BatchLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[MicroBatch]()
  val committed = new ConcurrentHashMap[String, AtomicLong]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (d.contains("addBatch")) {
      val ops = p.stateOperators
      batches.add(MicroBatch(p.name, p.batchId, Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsDroppedByWatermark).sum))
      committed.computeIfAbsent(p.name, _ => new AtomicLong()).addAndGet(p.numInputRows)
    }
  }

  /** Rows committed by the slowest of `queries`. */
  def committedByAll(queries: Seq[String]): Long =
    queries.map(q => Option(committed.get(q)).map(_.get).getOrElse(0L)).min
}

/** One phase of the feed plan: name, events/s, seconds. */
final case class Phase(name: String, rate: Int, seconds: Double)

/** One file the feeder sends: which phase, when it was due, how many events. */
final case class Sent(seq: Int, phase: String, rate: Int, dueMs: Double, sentMs: Double,
                      events: Int, cumEvents: Long, backlogEvents: Long)

/** Open-loop event stream into the reference's streaming queries.
  *
  * A single feeder thread writes JSON-lines files into a watched directory on
  * a fixed schedule (write to a staging file, then an atomic rename), never
  * waiting for the system. The events are the generated `events` table
  * replayed cycle after cycle with the event time shifted by 30 days per
  * cycle, plus a seeded share of out-of-order rows (up to 90 s early, inside
  * the 2-minute watermark) and beyond-watermark rows (moved into 2023).
  */
final class Stream(spark: SparkSession, data: String, work: String, seed: Long, spans: Spans,
                   triggerMs: Int, fileMs: Int) {
  private val watched = s"$work/in"
  private val staging = s"$work/staging"
  private val ckpt = s"$work/ckpt"
  private val sinkDir = s"$work/sink"
  Seq(watched, staging, ckpt).foreach(d => Files.createDirectories(Paths.get(d)))

  private val CycleUs = 30L * 86400L * 1000000L
  private val YearUs = 365L * 86400L * 1000000L
  private val LateFloorUs = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  private val (ids, tss, users, types, values, props) = {
    val rows = graft.Tables.events(spark, data)
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"), col("event_type"), col("value"), col("props"))
      .orderBy("event_id").collect()
    (rows.map(_.getLong(0)), rows.map(_.getLong(1)), rows.map(_.getLong(2)), rows.map(_.getString(3)),
      rows.map(_.getDouble(4)), rows.map(_.getString(5)))
  }
  private val n = ids.length

  val log = new BatchLog
  spark.streams.addListener(log)
  val queryNames = Seq("sensor_per_key", "sensor_tumbling", "sensor_sliding", "durable_sink")
  private var queries: Seq[StreamingQuery] = Nil

  val sent = ArrayBuffer.empty[Sent]
  private var nextEvent = 0L
  private var perturbFrom = Long.MaxValue

  /** JSON lines for events [from, from + count) of the endless replay. */
  private def render(from: Long, count: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(count * 120)
    var g = from
    while (g < from + count) {
      val i = (g % n).toInt
      val cycle = g / n
      var ts = tss(i) + cycle * CycleUs
      if (g >= perturbFrom) {
        val r = new java.util.Random(seed * 1000003L + g).nextDouble()
        if (r < 0.005) ts = LateFloorUs - YearUs + Math.floorMod(ts, YearUs)
        else if (r < 0.025) ts -= 1000000L + (r * 1e9).toLong % 89000000L
      }
      sb.append("{\"event_id\":").append(ids(i) + cycle * n)
        .append(",\"ts\":\"").append(fmt.format(Instant.EPOCH.plusNanos(ts * 1000L)))
        .append("\",\"user_id\":").append(users(i))
        .append(",\"event_type\":\"").append(types(i))
        .append("\",\"value\":").append(values(i))
        .append(",\"props\":\"").append(props(i).replace("\"", "\\\""))
        .append("\"}\n")
      g += 1
    }
    sb.toString.getBytes("UTF-8")
  }

  private def write(seq: Int, body: Array[Byte]): Unit = {
    val name = f"part-$seq%07d.json"
    val tmp = Paths.get(staging, name)
    Files.write(tmp, body)
    Files.move(tmp, Paths.get(watched, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Warm-up (untimed setup): a first tranche, the queries started on it and
    * run until every query committed it, so every query has planned,
    * compiled and set its watermark before the open loop starts.
    * Late/out-of-order rows start only after this tranche, so which rows the
    * watermark drops is fixed by the seed alone.
    */
  def start(rate: Int, seconds: Double): Unit = {
    val files = math.max(1, (seconds * 1000 / fileMs).toInt)
    val per = math.max(1, (rate.toLong * fileMs / 1000).toInt)
    (0 until files).foreach { f =>
      write(f, render(nextEvent, per)); nextEvent += per
    }
    perturbFrom = nextEvent
    cum = nextEvent
    val trigger = s"$triggerMs milliseconds"
    val src = SensorStreams.parsed(SensorStreams.fileSource(spark, watched))
    queries = SensorStreams.startAll(spark, watched, trigger, Some(ckpt)) :+
      SensorStreams.startDurable(SensorStreams.dedupedEvents(src), sinkDir, s"$ckpt/durable_sink", trigger)
    awaitCommitted(nextEvent)
    sentFiles = files
  }
  private var sentFiles = 0
  private var cum = 0L

  /** Pre-rendered files for one phase: the feeder only writes and renames. */
  private def prepare(p: Phase): Array[(Int, Array[Byte])] = {
    val files = math.max(1, (p.seconds * 1000 / fileMs).toInt)
    val per = math.max(1, (p.rate.toLong * fileMs / 1000).toInt)
    Array.tabulate(files) { _ =>
      val b = render(nextEvent, per); nextEvent += per; (per, b)
    }
  }

  /** Open loop over `phases` in order. Each file is due at a fixed offset
    * from the start whether or not the system kept up. The start is put
    * 50 ms after a trigger time (processing-time triggers fire at multiples
    * of the interval since the epoch), so a phase of whole triggers feeds
    * whole micro-batches and every file waits the same share of a trigger
    * on every run. After each phase marked as a ladder step, `keepGoing`
    * sees that step's sends and may stop the feed (a growing backlog ends
    * the ladder).
    */
  def feed(phases: Seq[Phase], rendered: Seq[Array[(Int, Array[Byte])]],
           keepGoing: Seq[Sent] => Boolean): Unit = {
    val base = System.nanoTime()
    val baseMs = System.currentTimeMillis().toDouble
    val firstDueMs = (math.floor((baseMs + 20) / triggerMs) + 1) * triggerMs + 50
    var offsetNs = ((firstDueMs - baseMs) * 1e6).toLong
    var stop = false
    phases.zip(rendered).foreach { case (p, files) =>
      if (!stop) {
        val first = sent.length
        files.foreach { case (events, body) =>
          val dueNs = base + offsetNs
          var now = System.nanoTime()
          while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
          spans("feeder", "send") { write(sentFiles, body) }
          val sentNs = System.nanoTime()
          cum += events
          sent += Sent(sentFiles, p.name, p.rate, baseMs + (dueNs - base) / 1e6, baseMs + (sentNs - base) / 1e6,
            events, cum, cum - log.committedByAll(queryNames))
          sentFiles += 1
          offsetNs += fileMs * 1000000L
        }
        if (p.name.startsWith("ladder")) stop = !keepGoing(sent.slice(first, sent.length).toSeq)
      }
    }
  }

  /** Wait until every query has committed `events` input rows, or one of
    * them has stopped (a failed query is reported by `finish`). Unlike
    * processAllAvailable this does not wait for the triggers after the data
    * that only advance the watermark.
    */
  private def awaitCommitted(events: Long, timeoutMs: Long = 60000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (log.committedByAll(queryNames) < events && queries.forall(_.isActive) && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  def renderPhases(phases: Seq[Phase]): Seq[Array[(Int, Array[Byte])]] = phases.map(prepare)

  /** Drain every query, then check the converged outputs against their batch
    * twins over the very rows that were fed. Returns (check name -> ok).
    */
  def finish(): (Seq[(String, Boolean)], Long) = {
    val t0 = System.nanoTime()
    awaitCommitted(cum)
    val drainMs = (System.nanoTime() - t0) / 1000000
    val failed = queries.filter(q => q.exception.isDefined || !q.isActive)
    queries.foreach(_.stop())
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    failed.foreach(q => System.err.println(s"[perfbench] stream ${q.name} failed: ${q.exception.map(_.getMessage)}"))
    val fed = SensorStreams.parsed(spark.read.schema(SensorStreams.eventSchema).json(watched)).cache()
    fed.count() // cached once here, not by each check below
    val onTime = fed.filter(col("ts") >= lit("2024-01-01 00:00:00").cast("timestamp"))
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    def finalRows(table: String, keys: Seq[String]): DataFrame = {
      val t = spark.table(table)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*).orderBy(col("n_events").desc)
      t.withColumn("rk", row_number().over(w)).filter(col("rk") === 1).drop("rk")
    }
    val perKey = finalRows("sensor_per_key", Seq("event_type"))
    // the four checks are independent untimed jobs: run them at once
    import scala.concurrent.ExecutionContext.Implicits.global
    val pending = Seq[(String, () => Boolean)](
      "per_key" -> (() => same(perKey.select(Events.perKeyStats(fed).columns.map(col): _*), Events.perKeyStats(fed))),
      "tumbling" -> (() => same(finalRows("sensor_tumbling", Seq("window_start")), Events.tumblingAgg(Events.withEventTime(onTime)))),
      "sliding" -> (() => same(finalRows("sensor_sliding", Seq("window_start", "event_type")), Events.slidingAgg(Events.withEventTime(onTime)))),
      "durable" -> { () =>
        val landed = spark.read.parquet(sinkDir).select("event_id")
        same(landed, Events.withEventTime(onTime).select("event_id").distinct())
      }).map { case (k, check) => k -> scala.concurrent.Future(check()) }
    val checks = pending.map { case (k, f) => k -> scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf) }
    (checks.map { case (k, ok) => (k, ok && failed.isEmpty) }, drainMs)
  }

  def batches: Seq[MicroBatch] = log.batches.asScala.toSeq
}
