package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local mode defaults to one task slot and one shuffle partition per
  * core (`SPARK_GRAFT_CPUS`, else the JVM's available processors);
  * on a real cluster the same builder is used with `master` unset and
  * shuffle partitions sized to ~2-3x total cores (or left to AQE
  * coalescing, which is enabled here).
  */
object GraftSession {

  /** Apply engine-required SQL confs to an existing session (used when
    * the driver harness owns the builder, e.g. Verify/Bench). Safe to
    * call repeatedly; all confs are runtime-settable.
    *
    * `spark.sql.artifact.isolation.enabled` is false, so code generated
    * for one query is reused by the next. `CodeGenerator` caches each
    * compiled class under (context class loader, source). With
    * isolation on, a session's jobs carry a `JobArtifactState` named by
    * the session's UUID, and executors run their tasks under a class
    * loader of that session's own. Each `writeStream.start()` clones
    * the session under a fresh UUID, so every query start, restarts
    * from a checkpoint included, would compile its generated classes
    * again, and the JIT would compile those new classes again too.
    * Isolation buys session-scoped `addArtifact` jars and classes, and
    * Spark Connect; graft uses neither. A session reads the setting
    * from its own conf when it first runs a job, and a clone copies its
    * parent's conf, so setting it here at runtime reaches every stream
    * started afterwards.
    */
  def configure(spark: SparkSession): SparkSession = {
    val c = spark.conf
    // The driver-generated events.parquet carries TIMESTAMP(NANOS),
    // which Spark's parquet reader rejects by default; read as raw
    // nanosecond longs and convert explicitly (core.Tables.events).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    // Driver testdata generations have flipped between TIMESTAMP(NANOS)
    // and TIMESTAMP(MICROS) parquet annotations; read every micros
    // timestamp as TimestampType (not NTZ) so literal comparisons and
    // window functions type-check identically across generations. With
    // the session timezone pinned UTC this relabels the same value.
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // Runtime re-planning: partition coalescing + skew-join splitting.
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // Round-13 measurement, re-adjudicated A/B/C in round 14
    // (OPTIMIZATION_r14.md §2, "minPartitionSize floor"):
    // AQE's byte-based coalescing merges CPU-heavy but byte-light
    // post-shuffle stages below the core count — a 1.3M-row pair set
    // is ~20 MB, so the default 1 MB floor coalesces the per-pair
    // jaccard/containment walks to a fraction of local[32] (q29
    // 3.8 s -> 1.7-2.0 s with a smaller floor; q66/q128 similar).
    // 128k keeps local parallelism at the core count for these
    // stages while staying invisible at production scale, where
    // post-shuffle partitions are far above 1 MB either way — the
    // floor only matters in the small-bytes/heavy-CPU regime. A
    // deployment that wants Spark's default sets the key after this.
    c.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
    // Streaming checkpoints on the local file system skip Hadoop
    // FileContext's per-rename shell forks; other file systems keep
    // Spark's default manager (CheckpointFiles).
    c.set(CheckpointFiles.ConfKey, classOf[CheckpointFiles].getName)
    // One class loader for every query's tasks, so the codegen cache
    // hits across query starts (see the scaladoc above).
    c.set("spark.sql.artifact.isolation.enabled", "false")
    spark
  }

  def build(appName: String = "graft",
            master: Option[String] = Some(s"local[$defaultCpus]"),
            shufflePartitions: Int = defaultCpus): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    master.foreach(b.master)
    val spark = b
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }

  private def defaultCpus: Int = positiveIntEnv("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors())

  /** Reads env var `name` as a positive integer (absent: `default`); a
    * value that is not a positive integer fails naming the variable.
    * `env` is the lookup, the process environment unless a test
    * passes its own. */
  private[graft] def positiveIntEnv(name: String, default: => Int,
      env: String => Option[String] = sys.env.get): Int =
    env(name).fold(default)(v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'")))
}
