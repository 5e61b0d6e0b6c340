package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Scratch, SparkEntry}

/** One executed query: wall time from issue to collected result. */
final case class Request(name: String, family: String, pass: Int, kind: String,
                         latencyS: Double, rows: Int, digest: String, error: Option[String])

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val data: String, val spans: Spans, val tasks: TaskTotals,
                val seed: Long) {
  val requests = ArrayBuffer.empty[Request]
  val passes = ArrayBuffer.empty[Map[String, Any]]
  /** First-execution rows per query, written out after the timed phase for the oracle. */
  val reference = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  /** Issue one registered query and take it to a collected, digested result.
    * Construction and execution count as the query's own layer; forcing the
    * executed plan first splits Catalyst planning out as a child span (done
    * in the untraced run too, so both runs do the same work).
    */
  def run(name: String, family: String, layer: String, pass: Int, kind: String): Request = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val attempt = scala.util.Try(TaskTotals.labelled(spark, layer) {
      spans(layer, name) {
        val df = fn(spark, data)
        spans("catalyst", s"$name.plan")(df.queryExecution.executedPlan)
        (df.collect(), df.schema)
      }
    })
    val latency = (System.nanoTime() - t0) / 1e9
    spans("scratch", "sweep_ephemeral") { Scratch.sweepEphemeral() }
    spark.catalog.clearCache()
    val req = attempt match {
      case scala.util.Success((rows, schema)) =>
        if (!reference.contains(name)) reference(name) = (rows, schema)
        Request(name, family, pass, kind, latency, rows.length, Digest.of(rows), None)
      case scala.util.Failure(e) =>
        Request(name, family, pass, kind, latency, 0, "", Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }
    requests += req
    req
  }

  /** Write every first result for the oracle check, four writes at a time. */
  def writeReference(dir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try reference.toSeq.map { case (name, (rows, schema)) =>
      pool.submit[Unit](() => spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name"))
    }.foreach(_.get())
    finally pool.shutdown()
  }
}

/** The two closed-loop workloads over registered batch queries. */
object Batch {
  /** The reference's Q1-Q3 and Bonus surface, one query per operator kind
    * (text aggregation, cleaning, join + aggregate, window, rollup, pivot,
    * nested explode, UDF). The full 22-query set does not fit the per-run
    * time budget in a fresh JVM; the Q4 batch twins run in the event_stream
    * workload as the oracle of the converged stream.
    */
  val reference: Seq[String] = Seq("q1_wordcount_top20", "q1_corpus_stats", "q2_cleaning",
    "q2_customer_summary", "q2_order_windows", "q2_rollup_revenue", "q3_customer_pivot",
    "q3_product_stats", "bonus_order_size_udf")

  def referenceFamily(name: String): String = name.takeWhile(_ != '_')

  /** The dedup/similarity DAG in producer order: exact dedup, the two
    * near-duplicate pair producers, their connected components, the LSH
    * similarity index, and TF-IDF keywords.
    */
  val dag: Seq[String] = Seq("dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_components", "similarity_topk_lsh", "text_tfidf_keywords")

  def dagFamily(name: String): String = name match {
    case "dedup_components" => "components"
    case n if n.startsWith("dedup_") => "dedup"
    case n if n.startsWith("similarity_") => "similarity"
    case _ => "text"
  }

  private def pass(ctx: Ctx, kind: String, idx: Int)(body: => Unit): Unit = {
    ctx.spans.request = idx
    val gc0 = JvmStats.gcMs; val jit0 = JvmStats.jitMs; val cg0 = JvmStats.codegenNs
    ctx.drain()
    val tasks0 = ctx.tasks.snapshot
    val b0 = Scratch.buildsCount
    val t0 = System.nanoTime()
    ctx.spans("harness", s"$kind.$idx")(body)
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.drain()
    ctx.passes += Map("kind" -> kind, "idx" -> idx, "traced" -> (ctx.spans.enabled && ctx.spans.active), "wall_s" -> wall,
      "gc_s" -> (JvmStats.gcMs - gc0) / 1e3, "jit_s" -> (JvmStats.jitMs - jit0) / 1e3,
      "codegen_s" -> (JvmStats.codegenNs - cg0) / 1e9, "builds" -> (Scratch.buildsCount - b0),
      "scratch_bytes" -> Files2.size(Scratch.root),
      "tasks_before" -> tasks0, "tasks_after" -> ctx.tasks.snapshot)
  }

  /** Closed loop, one client: every reference query once per round, in a
    * seed-shuffled order. `plan(round, elapsedS)` says whether the next
    * round runs and whether it is traced.
    */
  def referenceRounds(ctx: Ctx, plan: (Int, Double) => Option[Boolean]): Unit = {
    val names = reference
    val t0 = System.nanoTime()
    var r = 1
    var next = plan(r, 0.0)
    while (next.isDefined) {
      val order = new scala.util.Random(ctx.seed * 7919 + r).shuffle(names)
      ctx.spans.active = next.get
      pass(ctx, "round", r) {
        order.foreach(n => ctx.run(n, referenceFamily(n), "operators", r, "round"))
      }
      r += 1
      next = plan(r, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** DAG cycles: reset the memo layer, run the DAG cold (builds every memo
    * stage), then again steady (probes the stages just built). `plan` as
    * for [[referenceRounds]].
    */
  def dagCycles(ctx: Ctx, plan: (Int, Double) => Option[Boolean]): Unit = {
    val t0 = System.nanoTime()
    var c = 1
    var next = plan(c, 0.0)
    while (next.isDefined) {
      ctx.spans.active = next.get
      ctx.spans("scratch", "reset") {
        Scratch.clearMemo()
        Scratch.dropBucketedTables(ctx.spark)
      }
      pass(ctx, "cold", c) {
        dag.foreach(n => ctx.run(n, dagFamily(n), "pipeline", c, "cold"))
      }
      pass(ctx, "steady", c) {
        dag.foreach(n => ctx.run(n, dagFamily(n), "pipeline", c, "steady"))
      }
      c += 1
      next = plan(c, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Kernel throughput: each native SQL function timed over the generated
    * documents/embeddings columns, inputs prepared and cached first so only
    * the kernel call is in the timed query.
    */
  def kernels(ctx: Ctx): Map[String, Map[String, Double]] = {
    val spark = ctx.spark
    graft.Tables.documents(spark, ctx.data).createOrReplaceTempView("pb_documents")
    graft.Tables.embeddings(spark, ctx.data).createOrReplaceTempView("pb_embeddings")
    def prep(view: String, sql: String): Long = {
      val df = spark.sql(sql).cache()
      df.createOrReplaceTempView(view)
      df.count()
    }
    prep("pb_tokens", "SELECT doc_id, split(text, ' ') AS toks, substring(text, 1, 24) AS head FROM pb_documents")
    prep("pb_sets", "SELECT doc_id, array_sort(hash60_array(array_distinct(toks))) AS g FROM pb_tokens")
    val pairs = prep("pb_pairs",
      "SELECT a.g AS ga, b.g AS gb, a.doc_id AS da, b.doc_id AS db FROM pb_sets a JOIN pb_sets b ON b.doc_id BETWEEN a.doc_id + 1 AND a.doc_id + 20")
    val textPairs = prep("pb_text_pairs",
      "SELECT a.head AS ha, b.head AS hb FROM pb_tokens a JOIN pb_tokens b ON b.doc_id BETWEEN a.doc_id + 1 AND a.doc_id + 20")
    val vecPairs = prep("pb_vec_pairs",
      "SELECT a.embedding AS ea, b.embedding AS eb FROM pb_embeddings a JOIN pb_embeddings b ON b.vec_id BETWEEN a.vec_id + 1 AND a.vec_id + 50")
    val docs = spark.table("pb_tokens").count()
    val cases = Seq(
      ("hash60_array", docs, "SELECT sum(size(hash60_array(toks))) FROM pb_tokens"),
      ("minhash_sig", docs, "SELECT sum(minhash_sig(g, 64)[0] % 7) FROM pb_sets"),
      ("simhash_sig", docs, "SELECT sum(simhash_sig(g) % 7) FROM pb_sets"),
      ("jaccard_sorted", pairs, "SELECT sum(jaccard_sorted(ga, gb)) FROM pb_pairs"),
      ("vec_dot", vecPairs, "SELECT sum(vec_dot(ea, eb)) FROM pb_vec_pairs"),
      ("lev_within", textPairs, "SELECT sum(CAST(lev_within(ha, hb, 8) AS INT)) FROM pb_text_pairs"))
    val out = cases.map { case (fn, rows, sql) =>
      spark.sql(sql).collect() // compile once, untimed
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.spans("functions", fn) { TaskTotals.labelled(spark, "functions")(spark.sql(sql).collect()) }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      fn -> Map("rows" -> rows.toDouble, "median_s" -> times(1))
    }.toMap
    spark.catalog.clearCache()
    out
  }
}
