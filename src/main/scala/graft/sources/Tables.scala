package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated star schema (TESTDATA.md).
  *
  * Reading stays a `spark.read.parquet` scan, so Catalyst gets real file
  * statistics: filter pushdown, column pruning and partition coalescing all
  * apply at the scan. Inferring a parquet schema schedules a Spark job (a
  * footer read), so each table's schema is inferred once per session and
  * handed to later reads of the same bytes with `spark.read.schema`. The
  * memo is keyed by the path and validated by the length and mtime of every
  * file under it: a rewritten table is inferred again.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // session → path → (file stamp, inferred schema); weak on the session so a
  // stopped session's entries go with it
  private val schemas =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (String, StructType)]]())

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, s"$dir/$name.parquet")
    // The events table stores timestamp[us] with isAdjustedToUTC=false, which
    // Spark 4 infers as TIMESTAMP_NTZ. Type-strict instant functions
    // (unix_micros, ...) reject NTZ at analysis time, so normalize to
    // TIMESTAMP here. All entry points pin spark.sql.session.timeZone=UTC,
    // so the cast preserves the wall clock and epoch micros match DuckDB's
    // epoch_us over the same parquet.
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == TimestampNTZType))
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  private def read(spark: SparkSession, path: String): DataFrame =
    stamp(spark, path) match {
      // unreadable path: the plain read raises Spark's own error
      case None => spark.read.parquet(path)
      case Some(st) =>
        val memo = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
        Option(memo.get(path)) match {
          case Some((`st`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            memo.put(path, (st, df.schema))
            df
        }
    }

  /** Length and mtime of every file under `path` (the file itself, or a
    * directory's files at any depth), sorted by path. */
  private def stamp(spark: SparkSession, path: String): Option[String] =
    try {
      val p = new Path(path)
      val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val lines = Seq.newBuilder[String]
      while (files.hasNext) {
        val f = files.next()
        lines += s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
      }
      Some(lines.result().sorted.mkString("\n"))
    } catch { case _: java.io.IOException => None }
}
