package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.streaming._
import graft.streaming.Models._

/** Runnable end-to-end demo of the streaming operators: fraud
  * detection across micro-batches, keyed upsert sink, session
  * windows. `sbt "runMain graft.tools.StreamDemo"`.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-streamdemo", Some("local[4]"), 4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    // fraud detector: small txn in batch 1, large txn in batch 2
    val in = MemoryStream[Transaction]
    val q = Stateful.fraudDetector(in.toDS(), flagTtlMs = None)
      .writeStream.format("memory").queryName("drive_fraud")
      .outputMode("append").start()
    in.addData(Transaction(42L, 0.10, 0)); q.processAllAvailable()
    in.addData(Transaction(42L, 750.0, 1)); q.processAllAvailable()
    println("FRAUD_ALERTS=" + spark.table("drive_fraud").collect().mkString(";"))
    q.stop()

    // keyed upsert sink (K5/K7/K8 shape) with an in-memory client
    val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()
    object MemClient extends Sinks.UpsertClient {
      def upsert(k: String, v: String): Unit = seen.put(k, v)
    }
    val in2 = MemoryStream[(String, Long)]
    val q2 = in2.toDF().toDF("k", "v")
      .writeStream
      .foreachBatch(Sinks.upsertBatch(() => MemClient, "k", "v", "v") _)
      .start()
    in2.addData(("a", 1L), ("a", 2L), ("b", 9L))
    q2.processAllAvailable(); q2.stop()
    println("KV_SINK=" + seen)

    // session windows on deliberately unsorted input
    val rows = Seq(("k", 40L, 2), ("k", 1L, 1), ("k", 2L, 1))
      .toDF("key", "ts", "value")
    println("SESS=" + StreamAggs.sessionSums(rows,
      timestamp_millis(col("ts")), col("key"), col("value"),
      "3 milliseconds", "0 milliseconds").collect().mkString(";"))

    // streaming CEP: the reference FlinkCEP fixture split mid-pattern
    // across two micro-batches — partials carried in state
    import graft.cep.{Cep, CepStreaming}
    import graft.cep.CepStreaming.CepRow
    val fixture = Seq(
      (1L, "barfoo", 1.0, None), (2L, "start", 2.0, None),
      (3L, "foobar", 3.0, None), (4L, "foo", 4.0, Some(1.0)),
      (5L, "middle", 5.0, None), (6L, "middle", 6.0, Some(2.0)),
      (7L, "bar", 3.0, Some(3.0)), (42L, "42", 42.0, None),
      (8L, "end", 1.0, None)
    ).zipWithIndex.map { case ((id, n, p, v), i) =>
      CepRow("k", id, n, p, v, 1000L + i) }
    val pattern = Cep.begin[CepRow]("start") { (e, _) => e.name == "start" }
      .followedByAny("middle") { (e, _) => e.volume.isDefined && e.name == "middle" }
      .followedByAny("end") { (e, _) => e.name == "end" }
    val cepIn = MemoryStream[CepRow]
    val q3 = CepStreaming.matchPattern(cepIn.toDS(), pattern)
      .writeStream.format("memory").queryName("drive_cep")
      .outputMode("append").start()
    val (b1, b2) = fixture.splitAt(5)
    cepIn.addData(b1: _*); q3.processAllAvailable()
    cepIn.addData(b2: _*); q3.processAllAvailable()
    println("CEP=" + spark.table("drive_cep").collect().mkString(";"))
    q3.stop()

    // delta trigger + time evictor (W4): fires at distance jumps,
    // second firing sees only the points inside the 10 s evictor
    val pts = Seq(
      Car(1, 10, 0.0, 0L), Car(1, 20, 30.0, 5000L), Car(1, 15, 60.0, 8000L),
      Car(1, 5, 100.0, 20000L), Car(1, 30, 120.0, 25000L),
      Car(2, 99, 10.0, 0L), Car(2, 40, 70.0, 1000L))
    println("DELTA=" + Stateful
      .deltaTriggerMaxSpeed(spark.createDataset(pts), 50.0, 10000L)
      .collect().sortBy(c => (c.carId, c.ts)).mkString(";"))
    println("DELTA_EMPTY=" + Stateful
      .deltaTriggerMaxSpeed(spark.createDataset(Seq(Car(9, 5, 0.0, 0L))),
        50.0, 10000L).collect().length)

    // async enrichment (J7): ordered bounded-window futures
    {
      import scala.concurrent.Future
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val enriched = AsyncEnrich.enrich(
        spark.createDataset(1 to 10).repartition(1),
        capacity = 4, ordered = true, 5.seconds) { i =>
        Future { Thread.sleep((11 - i) % 3); s"v$i" }  // later items faster
      }.collect()
      println("ASYNC=" + enriched.mkString(","))
    }

    // CEP AFTER MATCH SKIP + Kafka decode/encode round-trip
    {
      val seq = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("a", 4L), ("b", 5L))
        .map { case (n, id) => CepRow("k", id, n, 1.0, None, 1000L * id) }
      val p = Cep.begin[CepRow]("A") { (e, _) => e.name == "a" }
        .followedByAny("B") { (e, _) => e.name == "b" }
        .afterMatchSkip(Cep.SkipPastLastEvent)
      val skipped = Cep.matchBatch(spark.createDataset(seq),
        (r: CepRow) => r.key, (r: CepRow) => r.tsMs, p,
        (r: CepRow) => r.tsMs) { (k, m) =>
        (m("A").head.id, m("B").head.id) }.collect().sortBy(_._1)
      println("SKIP=" + skipped.mkString(";"))
      val sample = """{"lt":"click","plat":"app","timestamp":1597980113000,"user_id":1}"""
      val rt = KafkaPipeline.encode(KafkaPipeline.decode(
        Seq(sample.getBytes("UTF-8")).toDF("value"))).collect().head.getString(0)
      println("KAFKA_RT=" + rt)
    }

    // streaming top-N: window emits when the watermark passes its end
    {
      def ivc(id: Long, we: Long, n: Long) =
        TimedItemViewCount(id, we, n, new java.sql.Timestamp(we))
      val tin = MemoryStream[TimedItemViewCount]
      val tq = Stateful.topNPerWindowStreaming(
          tin.toDS().withWatermark("eventTime", "0 milliseconds"), 2)
        .writeStream.format("memory").queryName("drive_topn")
        .outputMode("append").start()
      tin.addData(ivc(101, 1000, 5), ivc(102, 1000, 9), ivc(103, 1000, 7))
      tq.processAllAvailable()
      val held = spark.table("drive_topn").count()
      tin.addData(ivc(900, 60000, 1)) // advance watermark past windowEnd
      tq.processAllAvailable(); tq.processAllAvailable()
      println(s"TOPN_HELD=$held TOPN=" +
        spark.table("drive_topn").collect().sortBy(_.getInt(1)).mkString(";"))
      tq.stop()
    }

    // event-time CEP timeout: the idle key's partial times out when
    // OTHER keys advance the watermark — no follow-up event needed
    {
      import graft.cep.CepStreaming.TimedCepRow
      def row(key: String, id: Long, name: String, ts: Long) =
        TimedCepRow(key, id, name, 1.0, None, ts, new java.sql.Timestamp(ts))
      val p = Cep.begin[TimedCepRow]("start") { (e, _) => e.name == "start" }
        .followedBy("end") { (e, _) => e.name == "end" }
        .within(2000)
      val cin = MemoryStream[TimedCepRow]
      val cq = CepStreaming.matchPatternEventTime(
          cin.toDS().withWatermark("eventTime", "0 seconds"), p)
        .writeStream.format("memory").queryName("drive_cep_et")
        .outputMode("append").start()
      cin.addData(row("idle", 1, "start", 1000L)); cq.processAllAvailable()
      cin.addData(row("busy", 2, "other", 10000L)); cq.processAllAvailable()
      cin.addData(row("busy", 3, "other", 11000L)); cq.processAllAvailable()
      println("CEP_ET=" + spark.table("drive_cep_et").collect().mkString(";"))
      cq.stop()
    }

    // J4: broadcast dim with upserts + deletes across micro-batches
    locally {
      import scala.collection.mutable.ArrayBuffer
      val changelog = ArrayBuffer(Goods(1, "apple", isRemove = false, 0))
      val out = ArrayBuffer.empty[String]
      val din = MemoryStream[Order]
      val dq = BroadcastDim.enrichOrders(din.toDS(),
        () => spark.createDataset(changelog.toSeq)) { (batch, _) =>
        out.synchronized {
          out ++= batch.collect().map(e => s"${e.orderId}->${e.goodsName}")
        }
      }
      din.addData(Order(1000, "o1", "u1", 1, 10, 1)); dq.processAllAvailable()
      changelog += Goods(1, null, isRemove = true, 1)
      changelog += Goods(2, "banana", isRemove = false, 2)
      din.addData(Order(2000, "o2", "u1", 1, 11, 1),
        Order(2001, "o3", "u2", 2, 21, 1))
      dq.processAllAvailable(); dq.stop()
      println("DIM=" + out.sorted.mkString(";"))
    }

    // T4/K9: side-output split, two sinks from one tagged pass
    locally {
      import scala.collection.mutable.ArrayBuffer
      val kept = ArrayBuffer.empty[String]; val rej = ArrayBuffer.empty[String]
      val sin = MemoryStream[String]
      val sq = SideOutputs.splitStream(
        SideOutputs.taggedTokens(sin.toDF()),
        Map(
          "main" -> ((df, _) => kept.synchronized {
            kept ++= df.as[String].collect() }),
          "rejected" -> ((df, _) => rej.synchronized {
            rej ++= SideOutputs.rejectedWords(df).as[String].collect() })))
      sin.addData("To be, or not to be,--that is the question:--")
      sq.processAllAvailable(); sq.stop()
      println("SPLIT_MAIN=" + kept.sorted.mkString(",") +
        " SPLIT_REJ=" + rej.mkString(","))
    }

    // SQL front-end: Time.md-style windowed SQL over registered views
    graft.sql.SqlInterface.registerTables(spark, "/root/testdata/sf0.001")
    println("SQL_WCD=" + graft.sql.SqlInterface
      .windowedCountDistinct(spark).count() + " windows")
    println("SQL_ROW=" + spark.sql(
      "SELECT count(*) FROM events WHERE event_type = 'error'")
      .collect().head.getLong(0))
    graft.functions.GraftExtensions.register(spark)
    println("SQL_FN=" + spark.sql(
      "SELECT graft_dot(embedding::array<double>, embedding::array<double>) " +
        "FROM embeddings WHERE vec_id = 0").collect().head.getDouble(0))

    spark.stop()
  }
}
