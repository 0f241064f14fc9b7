package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FilterFileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.BeforeAndAfterAll
import graft.cep.{Cep, CepStreaming, MatchRecognize}
import graft.cep.CepStreaming.CepRow
import graft.core.CheckpointFiles
import graft.streaming.Models._
import graft.streaming.{Stateful, StreamAggs}

/** Stop/restart from a checkpoint. Each stateful operator runs over a
  * seeded event sequence cut into seeded micro-batches, is stopped at a
  * seeded cut and restarted on the same checkpoint; its output multiset
  * must equal the uninterrupted run's and the batch form's, on both
  * state providers. Watermark-driven output (windowed counts) must not
  * change either (Watermarks, VLDB'21). Also: the checkpoint manager's
  * dispatch, a checkpoint written by Spark's default manager resumed
  * under graft's, and a corrupted state file failing the restart.
  */
class CheckpointSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private lazy val root: JPath = Files.createTempDirectory("graft_restart")
  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    super.afterAll()
  }
  private val dirs = new java.util.concurrent.atomic.AtomicInteger
  private def freshDir(): String =
    root.resolve(s"c${dirs.incrementAndGet()}").toString

  /** Runs `f` for every seed, four at a time: each micro-batch is tiny
    * and waits mostly on the driver, so seeds overlap well. */
  private def eachSeed(f: Int => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(Seeds)(s => Future(f(s))), Duration.Inf)
    finally pool.shutdown()
  }

  private val Hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val Seeds = 1 to 10

  private def withConf[A](key: String, value: Option[String])(body: => A): A = {
    val old = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A stateful operator under test: seeded events in arrival order, a
    * stream-only tail that lets the watermark release the output it
    * holds back, and the query, which also gives the batch form unless
    * the operator has no batch form of its own (`batch`). */
  private case class Op[T](events: Random => Seq[T],
                           query: Dataset[T] => DataFrame,
                           tail: Seq[T] = Nil,
                           batch: Option[Dataset[T] => DataFrame] = None)
                          (implicit val enc: Encoder[T])

  private val N = 40
  private val Keys = 5

  private val fraud = Op[Transaction](
    r => (0 until N).map(i => Transaction(r.nextInt(Keys),
      Seq(0.5, 600.0, 50.0)(r.nextInt(3)), i)),
    ds => Stateful.fraudDetector(ds, flagTtlMs = None).toDF())

  private val dfa = Op[DfaEvent](
    r => (0 until N).map(i =>
      DfaEvent(r.nextInt(Keys), "abcdefg".charAt(r.nextInt(7)).toString, i)),
    ds => Stateful.stateMachine(ds).toDF())

  private val MrClause = """
    PARTITION BY sym
    ORDER BY seq
    MEASURES FIRST(A.seq) AS a0, COUNT(B.*) AS n_b, C.seq AS c_seq
    PATTERN (A B+ C)
    DEFINE A AS name = 'a', B AS name = 'b', C AS name = 'c'"""
  private val mr = Op[(Long, String, String)](
    r => (0 until N).map(i =>
      (i.toLong, "abbcx".charAt(r.nextInt(5)).toString, s"k${r.nextInt(Keys)}")),
    ds => MatchRecognize.runStream(ds.toDF("seq", "name", "sym"), MrClause))

  // event times advance 1 s per event with < 9 s of jitter, inside the
  // 10 s watermark delay, so no event is late and the batch form sees
  // what the stream sees; the tail's far-future event closes every
  // window the stream still holds
  private val windows = Op[(Timestamp, String)](
    r => (0 until N).map(i =>
      (new Timestamp(i * 1000L + r.nextInt(9000)), s"k${r.nextInt(Keys)}")),
    ds => StreamAggs.windowedCounts(ds.toDF("ts", "key"), col("ts"),
      col("key"), "10 seconds", "5 seconds", "10 seconds"),
    tail = Seq((new Timestamp(3600L * 1000), "flush")))

  // the same event times as `windows`, so no event is late; a 3 s gap
  // against ~5 s between a key's events both merges and splits sessions,
  // and the tail's far-future event closes every session still open
  private val sessions = Op[(Timestamp, String, Int)](
    r => (0 until N).map(i => (new Timestamp(i * 1000L + r.nextInt(9000)),
      s"k${r.nextInt(Keys)}", r.nextInt(10))),
    ds => StreamAggs.sessionSums(ds.toDF("ts", "key", "v"), col("ts"),
      col("key"), col("v"), "3 seconds", "10 seconds"),
    tail = Seq((new Timestamp(3600L * 1000), "flush", 0)))

  // a key's copies come from one run of five consecutive events, so they
  // span < 13 s of event time and all arrive before the watermark
  // (max event time - 10 s) passes the first copy's time + 10 s: the
  // stream keeps only each key's first copy, while earlier runs' keys
  // are evicted mid-stream. Only the key is compared, and the batch
  // form is the distinct keys (Spark rejects
  // dropDuplicatesWithinWatermark on a batch Dataset). Dedup emits on
  // arrival and holds nothing back, so it has no tail.
  private val dedup = Op[(Timestamp, String)](
    r => (0 until N).map(i => (new Timestamp(i * 1000L + r.nextInt(9000)),
      s"g${i / 5}-${r.nextInt(2)}")),
    ds => StreamAggs.dedupWithinWatermark(ds.toDF("ts", "key"), col("ts"),
      "10 seconds", "key").select("key"),
    batch = Some(ds => ds.toDF("ts", "key").select("key").distinct()))

  // window ends advance 1 s per four events with < 3 s of jitter,
  // inside the 5 s watermark delay, so no row is late; the tail's
  // far-future window closes every window the stream still holds
  private val topN = Op[TimedItemViewCount](
    r => (0 until N).map { i =>
      val end = (i / 4 + r.nextInt(3) + 1) * 1000L
      TimedItemViewCount(r.nextInt(Keys), end, r.nextInt(10), new Timestamp(end))
    },
    ds => Stateful.topNPerWindow(ds.withWatermark("eventTime", "5 seconds"), 3)
      .toDF(),
    tail = Seq(TimedItemViewCount(0, 3600L * 1000, 0, new Timestamp(3600L * 1000))))

  // order times rise with arrival, so no row is late and each key's
  // sides meet in one order on both forms; a key's sides come from one
  // run of six events (< 6 s), inside the 10 s timeout, while older
  // keys time out mid-stream; the tail's far-future order times out
  // every side the stream still holds
  private val orders = Op[TimedTaggedOrder](
    r => (0 until N).map { i =>
      val t = i * 1000L + r.nextInt(500)
      TimedTaggedOrder(if (r.nextBoolean()) "big" else "small",
        Order(t, s"o${i / 6}-${r.nextInt(2)}", "u", 1, 10, 1), new Timestamp(t))
    },
    ds => Stateful.matchOrders(ds.withWatermark("eventTime", "5 seconds"),
      timeoutMs = 10000).toDF(),
    tail = Seq(TimedTaggedOrder("big", Order(3600L * 1000, "flush", "u", 1, 10, 1),
      new Timestamp(3600L * 1000))))

  // event times rise with arrival, so no event is late and the NFA sees
  // one order on both forms. The stream expires partials on event-time
  // timers, the batch form only when a later same-key event passes the
  // bound, so every key ends with a 'z' (no step takes it) past every
  // window: each partial the stream times out, the batch form times
  // out too. Not a tail: the batch form needs the closers as well.
  private val Within = 4000L
  private val cepPattern = Cep.begin[CepRow]("A") { (e, _) => e.name == "a" }
    .followedBy("B", oneOrMore = true, quant = Cep.Greedy) { (e, _) => e.name == "b" }
    .followedBy("C") { (e, _) => e.name == "c" }
    .within(Within)
  private val cep = Op[CepRow](
    r => (0 until N).map { i =>
      CepRow(s"k${r.nextInt(Keys)}", i, "abbcx".charAt(r.nextInt(5)).toString,
        1.0, None, new Timestamp(i * 1000L + r.nextInt(500)))
    } ++ (0 until Keys).map(k => CepRow(s"k$k", N + k, "z", 1.0, None,
      new Timestamp(N * 1000L + Within + 1000))),
    ds => CepStreaming.matchPattern(ds.withWatermark("eventTime", "2 seconds"),
      cepPattern).toDF())

  /** What the sink got from a query over a fresh MemoryStream on
    * checkpoint `ckpt`, keyed by batch id (a replayed batch overwrites,
    * as in an idempotent sink). `replay` re-adds the chunks an earlier
    * segment consumed, unprocessed, so the offsets line up with its
    * offset log; each `feed` chunk is then one micro-batch. */
  private def segment[T](op: Op[T], ckpt: String, replay: Seq[Seq[T]],
                         feed: Seq[Seq[T]]): Map[Long, Seq[Row]] = {
    val in = MemoryStream[T](op.enc, spark.sqlContext)
    replay.foreach(in.addData(_))
    val out = mutable.Map.empty[Long, Seq[Row]]
    val q = op.query(in.toDS()).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        out.synchronized { out(id) = df.collect().toSeq }; ()
      }.start()
    try feed.foreach { c => in.addData(c); q.processAllAvailable() }
    finally q.stop()
    out.synchronized(out.toMap)
  }

  private def multiset(rows: Iterable[Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  /** The seed's events cut into 2-4 micro-batches (the tail rides on
    * the last), and the cut to stop at. */
  private def plan[T](op: Op[T], seed: Int): (Seq[T], Seq[Seq[T]], Int) = {
    val r = new Random(seed)
    val events = op.events(r)
    val n = 2 + r.nextInt(3)
    val cuts = 0 +: r.shuffle((1 until events.size).toList)
      .take(n - 1).sorted :+ events.size
    val chunks = cuts.sliding(2).map { case Seq(a, b) => events.slice(a, b) }
      .toSeq
    (events, chunks.init :+ (chunks.last ++ op.tail), 1 + r.nextInt(n - 1))
  }

  private def batchForm[T](op: Op[T], events: Seq[T]): Seq[String] =
    multiset(op.batch.getOrElse(op.query)(spark.createDataset(events)(op.enc))
      .collect())

  private def restartMatches[T](op: Op[T], seed: Int): Unit = {
    val (events, chunks, stop) = plan(op, seed)
    val whole = multiset(segment(op, freshDir(), Nil, chunks).values.flatten)
    val ckpt = freshDir()
    val first = segment(op, ckpt, Nil, chunks.take(stop))
    val second = segment(op, ckpt, chunks.take(stop), chunks.drop(stop))
    val restarted = multiset((first ++ second).values.flatten)
    val batch = batchForm(op, events)
    assert(restarted == whole,
      s"seed $seed, stop after $stop of ${chunks.size}: restart diverged")
    assert(whole == batch, s"seed $seed: stream diverged from the batch form")
  }

  for ((name, op) <- Seq[(String, Op[_])](
         "fraud detector (no TTL)" -> fraud,
         "DFA state machine" -> dfa,
         "MATCH_RECOGNIZE A B+ C" -> mr,
         "watermarked window counts" -> windows,
         "session window sums" -> sessions,
         "dedupWithinWatermark" -> dedup,
         "top-N per window" -> topN,
         "two-stream match" -> orders,
         "DSL CEP A B+ C within" -> cep);
       (pname, provider) <- Seq("HDFS-backed" -> Hdfs, "RocksDB" -> RocksDb))
    test(s"$name: stop/restart equals the uninterrupted run and the batch " +
      s"form ($pname, ${Seeds.size} seeds)") {
      // one state partition per query keeps the 180 restarts inside the
      // suite's time; the upgrade and corruption cases keep the default
      withConf(ProviderKey, Some(provider)) {
        withConf("spark.sql.shuffle.partitions", Some("1")) {
          eachSeed(restartMatches(op, _))
        }
      }
    }

  test("a second start of a stateful query reuses the first start's " +
    "generated code") {
    // each start clones the session; the codegen cache is keyed on the
    // tasks' class loader, so this holds only while sessions share one
    // (GraftSession.configure). A nonce literal in both stages makes the
    // plan's generated code new to this JVM whatever ran before it, so
    // the first start compiles each stage on the driver and in a task.
    val nonce = -System.nanoTime()
    val op = Op[Transaction](fraud.events, ds =>
      Stateful.fraudDetector(ds.filter(col("seq") =!= nonce), flagTtlMs = None)
        .toDF().filter(col("triggerSeq") =!= nonce))
    val (_, chunks, _) = plan(op, 1)
    // Janino compiles in this JVM while `body` runs
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles(segment(op, freshDir(), Nil, chunks))
    val second = compiles(segment(op, freshDir(), Nil, chunks))
    val counts = s"Janino compiles: $first at the first start, $second at the second"
    info(counts)
    assert(first >= 4 && second <= 3, counts)
  }

  private def upgradeMatches[T](op: Op[T]): Unit = {
    val (events, chunks, stop) = plan(op, 1)
    val ckpt = freshDir()
    val first = withDefaultManager(segment(op, ckpt, Nil, chunks.take(stop)))
    val second = segment(op, ckpt, chunks.take(stop), chunks.drop(stop))
    assert(multiset((first ++ second).values.flatten) == batchForm(op, events))
  }

  test("a checkpoint written under Spark's default manager resumes under " +
    "graft's") {
    for (provider <- Seq(Hdfs, RocksDb); op <- Seq[Op[_]](fraud, mr))
      withConf(ProviderKey, Some(provider))(upgradeMatches(op))
  }

  private def withDefaultManager[A](body: => A): A =
    withConf(CheckpointFiles.ConfKey, None)(body)

  test("a corrupted state delta fails the restart with a checksum error, " +
    "under either manager") {
    // both managers write Hadoop's .crc and Spark's checksum file; under
    // graft's, ChecksumFileSystem rejects the read, while Spark's
    // FileContext manager reads the corrupt bytes and only Spark's
    // checksum file catches them, when the stream closes
    for (graftManager <- Seq(true, false)) withConf(ProviderKey, Some(Hdfs)) {
      val (_, chunks, _) = plan(fraud, 1)
      val ckpt = freshDir()
      def run[A](body: => A): A =
        if (graftManager) body else withDefaultManager(body)
      run(segment(fraud, ckpt, Nil, chunks.take(2)))
      val part = new java.io.File(ckpt, "state/0/0")
      val delta = part.listFiles().filter(_.getName.matches("\\d+\\.delta"))
        .maxBy(_.getName.stripSuffix(".delta").toInt)
      val bytes = Files.readAllBytes(delta.toPath)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
      Files.write(delta.toPath, bytes)
      val e = intercept[StreamingQueryException](
        run(segment(fraud, ckpt, chunks.take(2), chunks.drop(2))))
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      def has(errorClass: String) =
        chain.exists(c => String.valueOf(c.getMessage).contains(errorClass))
      assert(has("CANNOT_LOAD_STATE_STORE"), chain.mkString("\n"))
      if (graftManager)
        assert(chain.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]),
          chain.mkString("\n"))
      else
        assert(has("CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED"),
          chain.mkString("\n"))
    }
  }

  test("checkpoint manager: local paths use Spark's FileSystem manager, " +
    "other schemes its FileContext default") {
    val conf = spark.sessionState.newHadoopConf()
    assert(CheckpointFileManager.create(new Path(root.toUri), conf)
      .isInstanceOf[CheckpointFiles], "GraftSession did not register it")
    def delegate(p: String) = new CheckpointFiles(new Path(p), conf).delegate
    assert(delegate(root.toUri.toString)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(delegate(root.toString)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    conf.set("fs.graftremote.impl", classOf[RemoteFs].getName)
    conf.set("fs.AbstractFileSystem.graftremote.impl",
      classOf[RemoteAfs].getName)
    assert(delegate("graftremote:///ckpt")
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    // a scheme with no AbstractFileSystem falls back as Spark's does
    conf.unset("fs.AbstractFileSystem.graftremote.impl")
    assert(delegate("graftremote:///ckpt")
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }
}

/** A file system Hadoop does not see as local (local files behind the
  * `graftremote` scheme), for the dispatch case. */
class RemoteFs extends FilterFileSystem(new RawLocalFileSystem) {
  override def getScheme: String = "graftremote"
}

/** `FileContext` binding of [[RemoteFs]]. */
class RemoteAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new RemoteFs, conf, "graftremote", false)
