package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every query takes `(spark, sfDir)` and resolves tables through here, so the
  * scan is always a plain parquet read that Catalyst can push filters and
  * column pruning into. Each query owns its plan; only the table's SCHEMA is
  * shared. The first read of a path infers it through Spark (one footer job);
  * later reads pass the resolved schema to `spark.read.schema(...)`, which
  * launches no job. The resolved schema is keyed by the path, its file
  * listing (every file's name, length and mtime, read through the session's
  * Hadoop FS) and the session's `spark.sql.parquet.*` /
  * `spark.sql.legacy.parquet.*` values, so a file rewritten under a live
  * session, or a changed reader conf such as `nanosAsLong`, infers again. A
  * path that does not exist is read uncached, so Spark reports it as before.
  */
object Tables {
  private final case class Resolved(files: Seq[(String, Long, Long)],
                                    conf: Seq[(String, String)], schema: StructType)

  // path → the schema last inferred for it and the key it was inferred under;
  // one entry per path, replaced when the key moves
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val conf = spark.conf.getAll.toSeq
          .filter { case (k, _) => k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.") }
          .sorted
        val hit = resolved.get(path)
        if (hit != null && hit.files == files && hit.conf == conf)
          spark.read.schema(hit.schema).parquet(path)
        else {
          val df = spark.read.parquet(path)
          resolved.put(path, Resolved(files, conf, df.schema))
          df
        }
    }
  }

  /** (name, length, mtime) of every file under `path`, sorted; None when the
    * path does not exist. */
  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def files(s: FileStatus): Seq[(String, Long, Long)] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    try Some(files(fs.getFileStatus(p)).sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS) in others, so the loader normalizes
    * whatever physical type it finds to a session-TZ TimestampType column:
    *
    *  - native timestamp (µs, with or without UTC adjustment): cast — the
    *    session runs in UTC ([[Sessions.local]]) so NTZ→TZ is value-preserving;
    *  - nanos read as raw longs (requires the caller's session to set
    *    `spark.sql.legacy.parquet.nanosAsLong=true`, since Spark 4 otherwise
    *    rejects nanos parquet with PARQUET_TYPE_ILLEGAL): rebuild µs with
    *    integral `div` — double division would lose sub-µs precision on
    *    2024-epoch nanosecond longs (~1.7e18 > 2^53). Truncation matches
    *    DuckDB's own ns→µs cast, so oracle comparisons agree.
    *
    * Any other physical type fails fast with the observed schema in the
    * message rather than surfacing later as a scattered analysis error.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected timestamp, " +
          "timestamp_ntz, or long nanos via spark.sql.legacy.parquet.nanosAsLong)")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
