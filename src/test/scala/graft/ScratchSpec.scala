package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Contract tests for the scratch memo layer: exactly-once compute per key
  * under concurrency, independence across keys, retry after failure, eager
  * cleanup, and reads that reuse the resolved schema instead of inferring it.
  */
class ScratchSpec extends SparkSpec {

  test("memoize computes a key exactly once under concurrent callers") {
    val computes = new AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        val df = Scratch.memoize(spark, "spec#concurrent-once") {
          computes.incrementAndGet()
          spark.range(100).select(col("id"))
        }
        assert(df.count() === 100L)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(computes.get() === 1)
  }

  test("a failed compute is retryable (entry removed, later caller succeeds)") {
    val attempts = new AtomicInteger(0)
    intercept[RuntimeException] {
      Scratch.memoize(spark, "spec#retry") {
        attempts.incrementAndGet()
        throw new RuntimeException("boom")
      }
    }
    val df = Scratch.memoize(spark, "spec#retry") {
      attempts.incrementAndGet()
      spark.range(5).select(col("id"))
    }
    assert(df.count() === 5L && attempts.get() === 2)
  }

  test("different keys never share results; clearMemo forces recompute") {
    val computes = new AtomicInteger(0)
    def stage(k: String) = Scratch.memoize(spark, s"spec#$k") {
      computes.incrementAndGet()
      spark.range(10).select(col("id"))
    }
    stage("a").count(); stage("b").count(); stage("a").count()
    assert(computes.get() === 2)
    Scratch.clearMemo()
    stage("a").count()
    assert(computes.get() === 3)
  }

  /** The directory a scan of scratch parquet reads, cut at `marker`. */
  private def rootOf(df: DataFrame, marker: String): String = {
    val f = df.inputFiles.head
    f.substring(0, f.indexOf(marker)).stripPrefix("file:")
  }

  // rows as JSON: binary cells print by value there, not by array identity
  private def sorted(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
      .collect().map(_.getString(0)).toSeq.sorted

  test("a memo hit launches no job and reads with the build's inferred schema") {
    val build = Scratch.memoize(spark, "spec#schema-hit") {
      spark.range(20).select(col("id"), (col("id") % 3).as("k"), array(col("id")).as("a"))
    }
    val (hit, jobs) = SparkSpec.jobsDuring(spark) {
      Scratch.memoize(spark, "spec#schema-hit")(fail("a memo hit must not recompute"))
    }
    assert(jobs === 0)
    assert(hit.schema === spark.read.parquet(rootOf(hit, "/part-")).schema)
    assert(sorted(hit) === sorted(build))
  }

  test("a memoizePartitioned hit has exactly a fresh inference's schema, partition columns included") {
    val key = "spec#schema-partitioned"
    // partition columns declared mid-frame, one numeric-looking string: the
    // layout moves them last and inference retypes them
    def stage = Scratch.memoizePartitioned(spark, key, Seq("p", "m")) {
      spark.range(12).select(col("id"), (col("id") % 2).cast("string").as("p"),
        (col("id") % 3).as("m"), col("id").cast("double").as("x"))
    }
    val build = stage
    val (hit, jobs) = SparkSpec.jobsDuring(spark)(stage)
    assert(jobs === 0)
    val fresh = spark.read.parquet(rootOf(hit, "/p="))
    assert(hit.schema === fresh.schema)
    assert(hit.columns.toSeq === Seq("id", "x", "p", "m"))
    assert(sorted(hit) === sorted(fresh) && sorted(hit) === sorted(build))
  }

  test("materialize reads back with exactly Spark's inference of the written files") {
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    val wide = spark.range(5).select(
      col("id"), // non-nullable
      col("id").cast("byte").as("b"), col("id").cast("short").as("s"),
      col("id").cast("int").as("i"), col("id").cast("float").as("f"),
      (col("id") / 3).as("d"), col("id").cast("decimal(10,2)").as("dec"),
      col("id").cast("decimal(38,18)").as("wide_dec"),
      when(col("id") > 1, col("id").cast("string")).as("str"),
      col("id").cast("string").cast("binary").as("bin"), (col("id") % 2 === 0).as("bool"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("dt"),
      timestamp_micros(col("id")).as("ts"),
      lit("2024-01-01 00:00:00").cast("timestamp_ntz").as("ntz"),
      array(col("id"), lit(7L)).as("arr"),
      array(when(col("id") > 2, col("id").cast("string"))).as("arr_nulls"),
      map(col("id").cast("string"), col("id")).as("mp"),
      struct(col("id").as("a"), array(col("id").cast("double")).as("v")).as("st"),
      array(struct(col("id").as("a"), lit("x").as("t"))).as("arr_st"),
      col("id").as("with_meta", meta),
      expr("parse_json(concat('{\"a\":', id, '}'))").as("var"),
      expr("collate(cast(id AS string), 'UTF8_LCASE')").as("collated"))
    val left = spark.range(5).toDF("id")
    val joined = left.join(wide, left("id") === wide("id")).select(left("id"), wide("str"))
    val frames = Seq("wide" -> wide, "empty" -> wide.limit(0), "joined" -> joined,
      "table" -> Tables.lineitem(spark, Sf0001).select("l_orderkey", "l_quantity",
        "l_extendedprice", "l_shipdate", "l_returnflag"),
      "embeddings" -> Tables.embeddings(spark, Sf0001))
    frames.foreach { case (name, df) =>
      val m = Scratch.materialize(df, s"graft_spec_mat_$name")
      val fresh = spark.read.parquet(rootOf(m, "/part-"))
      assert(m.schema === fresh.schema, name)
      assert(sorted(m) === sorted(fresh), name)
    }
    Scratch.sweepEphemeral()
  }
}
