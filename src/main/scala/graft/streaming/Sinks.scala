package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, ForeachWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Sink adapters (SURVEY.md §2.2). The external-system sinks (JDBC
  * upsert, Redis, Elasticsearch — K5/K7/K8) share one shape: a keyed
  * upsert of each micro-batch, expressed as `foreachBatch` +
  * last-write-wins dedup, with the actual client behind a small
  * interface (zero-egress container: tests plug an in-memory client).
  */
object Sinks {

  /** What K5/K7/K8 all reduce to: write a batch of (key, value) pairs
    * idempotently. JDBC = INSERT..ON DUPLICATE KEY UPDATE; Redis =
    * HSET; ES = index-by-id. Idempotent upsert + Spark's checkpointed
    * offset replay = the reference's exactly-once-to-kv guarantee.
    */
  trait UpsertClient extends Serializable {
    def open(): Unit = ()
    def upsert(key: String, value: String): Unit
    def close(): Unit = ()
  }

  /** K7/K8-style per-record writer: one client per partition epoch
    * (the ForeachWriter lifecycle mirrors RichSinkFunction
    * open/invoke/close, `redis/RedisSinkExample.java:44-68`). */
  def keyValueWriter(client: () => UpsertClient,
                     keyCol: String, valueCol: String): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      private var c: UpsertClient = _
      def open(partitionId: Long, epochId: Long): Boolean = {
        c = client(); c.open(); true
      }
      def process(r: Row): Unit =
        c.upsert(String.valueOf(r.getAs[Any](keyCol)),
          String.valueOf(r.getAs[Any](valueCol)))
      def close(errorOrNull: Throwable): Unit = if (c != null) c.close()
    }

  /** K5: batched upsert via foreachBatch — dedup each micro-batch to
    * ONE row per key before writing, then hand the rows to the client
    * in groups of `batchSize` (the reference's JDBC batching knob,
    * `jdbc/JDBCSink.java:47,66-69`). Winner per key is max_by(orderCol)
    * — an explicit total order, NOT first/last (which are
    * partition-order-nondeterministic after the shuffle and would make
    * checkpoint replays write different values).
    */
  def upsertBatch(client: () => UpsertClient, keyCol: String, valueCol: String,
                  orderCol: String, batchSize: Int = 5000)
                 (batch: DataFrame, epochId: Long): Unit = {
    val deduped = batch
      .groupBy(col(keyCol).cast("string").as("k"))
      .agg(max_by(col(valueCol).cast("string"),
        struct(col(orderCol), col(valueCol))).as("v"))
    val c = client()
    c.open()
    // driver-side iteration is fine for dim-sized sinks; large facts
    // use keyValueWriter (per-partition, parallel)
    try {
      val it = deduped.toLocalIterator()
      val buf = new scala.collection.mutable.ArrayBuffer[(String, String)](batchSize)
      def flush(): Unit = { buf.foreach { case (k, v) => c.upsert(k, v) }; buf.clear() }
      while (it.hasNext) {
        val row = it.next()
        buf += ((row.getString(0), row.getString(1)))
        if (buf.size >= batchSize) flush()
      }
      flush()
    } finally c.close()
  }

  /** K2: row-format streaming file sink with time-bucketed directories
    * (`filesystem/FsRowFormatSink.java:44-66`): bucket column =
    * yyyy-MM-dd--HH of event time (the reference's bucket assigner),
    * exactly-once via the sink's _spark_metadata commit log. Rolling
    * by size ≈ maxRecordsPerFile; Spark has no inactivity-based roll
    * (files finalize per epoch).
    */
  def bucketedFileSink(df: DataFrame, tsCol: String, path: String,
                       checkpoint: String, format: String = "csv",
                       maxRecordsPerFile: Long = 1000000): DataStreamWriter[Row] =
    df.withColumn("bucket", date_format(col(tsCol), "yyyy-MM-dd--HH"))
      .writeStream.format(format)
      .partitionBy("bucket")
      .option("path", path)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("checkpointLocation", checkpoint)

  /** K3: bulk columnar sink — ORC with LZ4, vectorized writer built in
    * (`filesystem/FsBulkFormatSink.java:46-58`). */
  def orcSink(df: DataFrame, path: String, checkpoint: String,
              maxRecordsPerFile: Long = 1000000): DataStreamWriter[Row] =
    df.writeStream.format("orc")
      .option("compression", "lz4")
      .option("path", path)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("checkpointLocation", checkpoint)

  /** K6: Kafka producer sink (`kafka/Kafka2Kafka.java:141-164`).
    * Spark's Kafka sink is at-least-once (no producer transactions);
    * pair with keyed/idempotent consumers for the reference's
    * effective exactly-once. */
  def kafkaSink(df: DataFrame, bootstrap: String, topic: String,
                checkpoint: String): DataStreamWriter[Row] =
    kafkaPayload(df).writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** The sink's value projection, exposed for contract tests (no
    * broker in the sandbox): a pre-encoded `value` column passes
    * through as string; otherwise the whole row encodes as JSON. */
  def kafkaPayload(df: DataFrame): DataFrame =
    if (df.columns.contains("value"))
      df.select(col("value").cast("string").as("value"))
    else df.select(to_json(struct(col("*"))).as("value"))

  /** T11: checkpointing defaults (`checkpointing/Checkpointing.java:28-91`
    * → Spark): checkpoint dir + trigger interval; state backend is
    * session-level (`spark.sql.streaming.stateStore.providerClass` →
    * RocksDBStateStoreProvider for large keyed state, set with
    * `spark.conf.set` before the query starts, as ProfileStream's
    * `--rocksdb` does).
    */
  def checkpointed[T](w: DataStreamWriter[T], checkpoint: String,
                      triggerMs: Long = 1000): DataStreamWriter[T] =
    w.option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))
}
