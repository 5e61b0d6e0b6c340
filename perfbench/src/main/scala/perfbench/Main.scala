package perfbench

import java.nio.file.{Files, Paths}

import graft.{Scratch, Sessions, Tables}

/** Benchmark process for one workload (see perfbench/README.md).
  *
  * `Main --workload <name> --data <dir> --out <dir> --seconds <s> --trace <0|1>
  *  --seed <n> --cpus <n> [--stream-rate <events/s> --stream-ladder <r1,r2,..>
  *  --stream-trigger-ms <ms> --stream-warmup-s <s> --stream-fixed-s <s> --stream-step-s <s>]`
  *
  * Runs the workload's set-up and timed phase against `local[cpus]`, and
  * writes every raw measurement to `<out>/raw.json` (and first-execution
  * results under `<out>/results/` for the oracle check); run.py turns these
  * into metrics. Exits non-zero only on a harness error; query failures are
  * recorded and counted, not thrown.
  */
object Main {
  // event_stream: feeder file interval, and the backlog (seconds of input)
  // that ends the ladder early
  private val FileMs = 100
  private val MaxBacklogS = 4.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val cpus = a("cpus")
    Files.createDirectories(Paths.get(out))

    val spark = Sessions.local(cpus)
    spark.range(1).count()
    val spans = new Spans(trace)
    val tasks = new TaskTotals
    spark.sparkContext.addSparkListener(tasks)
    val ctx = new Ctx(spark, data, spans, tasks, seed)

    val readTables = workload match {
      case "reference_batch" => Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents")
      case "corpus_dag" => Seq("documents", "embeddings")
      case "event_stream" => Seq("events")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    JvmStats.resetHeapPeak()
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    var firstOpMs = 0L
    var measure0 = (0L, 0L)
    def timed[T](body: => T): T = {
      firstOpMs = System.currentTimeMillis()
      measure0 = (JvmStats.gcMs, JvmStats.jitMs)
      body
    }
    // one pass, then more while the time lasts
    val plan: (Int, Double) => Option[Boolean] =
      (i, elapsed) => if (i == 1 || elapsed < seconds) Some(trace) else None

    workload match {
      case "reference_batch" =>
        timed(Batch.referenceRounds(ctx, plan))

      case "corpus_dag" =>
        val peak = new DiskPeak(Scratch.root)
        timed(Batch.dagCycles(ctx, plan))
        extra("scratch_peak_bytes") = peak.stop()
        if (trace) extra("kernels") = Batch.kernels(ctx)

      case "event_stream" =>
        val rate = a("stream-rate").toInt
        val ladder = a("stream-ladder").split(",").map(_.toInt).toSeq
        val triggerMs = a("stream-trigger-ms").toInt
        val st = new Stream(spark, data, s"$out/stream", seed, spans, triggerMs, FileMs)
        st.start(rate, 0.5)
        // an untimed open-loop phase at the fixed rate, then the timed ones
        val warmup = Phase("warmup", rate, a("stream-warmup-s").toDouble)
        val phases = Phase("latency", rate, a("stream-fixed-s").toDouble) +:
          ladder.zipWithIndex.map { case (r, i) => Phase(s"ladder$i", r, a("stream-step-s").toDouble) }
        val rendered = st.renderPhases(warmup +: phases)
        st.feed(Seq(warmup), rendered.take(1), _ => true)
        // safety stop only: a step that left more than MaxBacklogS of input
        // beyond one trigger unconsumed ends the ladder (run.py decides
        // which steps held)
        val maxBacklogS = MaxBacklogS + triggerMs / 1000.0
        timed(st.feed(phases, rendered.drop(1),
          step => step.last.backlogEvents <= maxBacklogS * step.last.rate))
        val (checks, drainMs) = st.finish()
        // micro-batches as spans of the streaming layer (epoch-ms clock)
        st.batches.foreach(b => spans.record("streaming", b.query, -1, b.batchId.toInt,
          b.startMs * 1000000L, b.commitMs * 1000000L))
        extra("stream") = Map(
          "queries" -> st.queryNames,
          "trigger_ms" -> triggerMs,
          "drain_ms" -> drainMs,
          "checks" -> checks.map { case (k, ok) => Map("name" -> k, "ok" -> ok) },
          "sent" -> st.sent.map(s => Map("seq" -> s.seq, "phase" -> s.phase, "rate" -> s.rate,
            "due_ms" -> s.dueMs, "sent_ms" -> s.sentMs, "events" -> s.events, "cum_events" -> s.cumEvents,
            "backlog_events" -> s.backlogEvents)),
          "batches" -> st.batches.map(b => Map("query" -> b.query, "batch_id" -> b.batchId,
            "start_ms" -> b.startMs, "commit_ms" -> b.commitMs, "durations" -> b.durations,
            "input_rows" -> b.inputRows, "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes,
            "dropped" -> b.dropped)))
    }
    // bare scans of every table the workload reads (traced run only; after
    // the timed phase, so they do not warm the JVM for it)
    val tables = if (!trace) Nil else readTables.map { t =>
      val t0 = System.nanoTime()
      val rows = spans("tables", t)(TaskTotals.labelled(spark, "tables")(Tables.table(spark, data, t).count()))
      Map("table" -> t, "rows" -> rows, "bytes" -> Files2.size(s"$data/$t.parquet"),
        "scan_s" -> (System.nanoTime() - t0) / 1e9)
    }
    ctx.drain()
    val measured = Map("gc_s" -> (JvmStats.gcMs - measure0._1) / 1e3, "jit_s" -> (JvmStats.jitMs - measure0._2) / 1e3,
      "heap_peak_bytes" -> JvmStats.heapPeakBytes)

    ctx.writeReference(s"$out/results")
    val raw = Map(
      "workload" -> workload, "tables" -> tables, "first_op_ms" -> firstOpMs, "jvm" -> measured,
      "requests" -> ctx.requests.map(r => Map("name" -> r.name, "family" -> r.family, "pass" -> r.pass,
        "kind" -> r.kind, "latency_s" -> r.latencyS, "rows" -> r.rows, "digest" -> r.digest, "error" -> r.error)),
      "passes" -> ctx.passes, "tasks" -> tasks.snapshot, "spans" -> spans.toJson,
      "span_cost_ns" -> (if (trace) Spans.costNs() else 0.0),
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (k, _) => ctx.reference.contains(k) }) ++ extra
    Files.writeString(Paths.get(s"$out/raw.json"), Json.render(raw))
    // Nothing left to release in local mode, and run.py removes the work
    // directory: skip the shutdown hooks' cleanup walk.
    Runtime.getRuntime.halt(0)
  }
}
