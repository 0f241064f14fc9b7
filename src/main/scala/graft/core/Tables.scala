package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). All loaders are plain parquet scans so
  * Catalyst predicate pushdown / column pruning apply end-to-end.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.configure(spark)
    val p = path(dir, name)
    val key = fileKey(spark, p)
    key.flatMap(k => Option(schemas.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(p)
      case None =>
        // first read, or an unlistable path that Spark then reports
        val df = spark.read.parquet(p)
        key.foreach(schemas.put(_, df.schema))
        df
    }
  }

  /** Inferred schemas by [[fileKey]]. Inferring a parquet schema runs
    * one Spark job (a footer read) per `spark.read.parquet` call; a
    * warm read of unchanged files skips it. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[FileKey, StructType]()

  private type FileKey = (Seq[(String, Long, Long)], Seq[(String, String)])

  /** What a parquet read's inferred schema depends on: the canonical
    * path, length and mtime of the file (or of each file directly in
    * the directory), and the session's parquet read confs. None when
    * the path cannot be listed. */
  private def fileKey(spark: SparkSession, p: String): Option[FileKey] = {
    import org.apache.hadoop.fs.Path
    try {
      val hp = new Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(hp)
      val files = if (st.isDirectory) fs.listStatus(hp).toSeq else Seq(st)
      val confs = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }
      Some((files.map(f => (fs.makeQualified(f.getPath).toString, f.getLen,
        f.getModificationTime)).sortBy(_._1), confs.toSeq.sorted))
    } catch {
      case _: java.io.IOException => None
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** events.parquet has shipped with two physical types for `ts`
    * across driver generations: TIMESTAMP(NANOS) (read as a
    * nanosecond-epoch long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and TIMESTAMP(MICROS)
    * (read as TimestampNTZ). Either way the loader exposes the same
    * two columns: the exact integer `ts_ns` (lossless, matches
    * DuckDB's `epoch_ns(ts)` — every oracle-checked query keys on it)
    * and a microsecond TimestampType `ts` for Spark's native window
    * functions. The session timezone is pinned UTC, so the NTZ→TZ
    * cast relabels the same microsecond value.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, d, "events")
    val cooked = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
    cooked.select("event_id", "ts_ns", "user_id", "event_type", "value",
      "props", "ts")
  }
}
