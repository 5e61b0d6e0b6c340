package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Contract tests for the table loaders' schema resolution: a repeat read
  * launches no job and sees the inferred schema, and the resolved schema is
  * dropped when the files or the parquet reader confs change.
  */
class TablesSpec extends SparkSpec {
  import SparkSpec.jobsDuring

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Writes `df` as ONE parquet file at `target`: the driver tables' layout. */
  private def writeFile(df: DataFrame, target: String): Unit = {
    val tmp = Scratch.dir("graft_tables_spec_write")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
    Scratch.delete(tmp)
  }

  test("a repeat table read launches no job and has the inferred schema and rows") {
    val dir = Scratch.dir("graft_tables_spec_repeat")
    Files.copy(Paths.get(s"$Sf0001/orders.parquet"), Paths.get(s"$dir/orders.parquet"))
    val (first, firstJobs) = jobsDuring(spark)(Tables.orders(spark, dir))
    assert(firstJobs >= 1, "the first read of a path infers its schema through Spark")
    val (again, againJobs) = jobsDuring(spark)(Tables.orders(spark, dir))
    assert(againJobs === 0)
    assert(again.schema === first.schema)
    assert(again.schema === spark.read.parquet(s"$dir/orders.parquet").schema)
    assert(sorted(again) === sorted(first))
  }

  test("a table file rewritten at the same path with an extra column is read with the new schema") {
    val dir = Scratch.dir("graft_tables_spec_rewrite")
    writeFile(spark.range(3).toDF("id"), s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("id"))
    writeFile(spark.range(3).withColumn("extra", col("id") * 10), s"$dir/t.parquet")
    val rewritten = Tables.table(spark, dir, "t")
    assert(rewritten.columns.toSeq === Seq("id", "extra"))
    assert(sorted(rewritten) === Seq("[0,0]", "[1,10]", "[2,20]"))
  }

  test("changing spark.sql.legacy.parquet.nanosAsLong re-infers the schema") {
    val dir = Scratch.dir("graft_tables_spec_nanos")
    // Spark cannot write TIMESTAMP(NANOS); parquet's own example writer can
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally writer.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    try {
      spark.conf.set(key, "false")
      intercept[Exception](Tables.table(spark, dir, "events"))
      spark.conf.set(key, "true")
      assert(Tables.table(spark, dir, "events").schema("ts").dataType === LongType)
      val events = Tables.events(spark, dir)
      assert(events.schema("ts").dataType === TimestampType)
      assert(events.select(unix_micros(col("ts"))).head().getLong(0) === 1700000000123456L)
      // a schema resolved under nanosAsLong=true must not outlive the flip
      spark.conf.set(key, "false")
      intercept[Exception](Tables.table(spark, dir, "events"))
    } finally spark.conf.unset(key)
  }

  test("a second construction of each reference_batch query launches no job before its action") {
    val reference = Seq("q1_wordcount_top20", "q1_corpus_stats", "q2_cleaning",
      "q2_customer_summary", "q2_order_windows", "q2_rollup_revenue", "q3_customer_pivot",
      "q3_product_stats", "bonus_order_size_udf")
    val eager = reference.flatMap { name =>
      val build = SparkEntry.queries(name)
      build(spark, Sf0001)
      val (_, jobs) = jobsDuring(spark)(build(spark, Sf0001))
      if (jobs == 0) None else Some(s"$name: $jobs")
    }
    assert(eager.isEmpty, s"queries that launched jobs while being constructed: ${eager.mkString(", ")}")
  }
}
