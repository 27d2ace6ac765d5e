package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the round-13 replay-harness knobs:
  *  - the SOURCE-derived state-partition count (one per 8 MB,
  *    saturating at the session parallelism — the fix for Spark's
  *    serialized per-partition state-store provider loads on tiny
  *    corpora, and a no-op at scale);
  *  - the d16 standing-index probe reading ONLY the delta's hp=
  *    partitions (the listing-level skip behind the cost-∝-delta
  *    claim).
  */
class StatePartitionKnobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The fixture directories every spec reads (FIXTURES.md). */
  private val d = "/root/testdata/sf0.001"
  private val sf001 = "/root/testdata/sf0.01"

  test("state partitions: tiny source -> 1; derivation saturates at the parallelism cap") {
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.StreamReplay
    val cap = spark.sparkContext.defaultParallelism
    // the sf0.001 events fixture is a few hundred KB -> 1 partition,
    // its bytes derived from the stream frame's file source
    val events = StreamReplay.tableStream(spark, d, "events",
      spark.read.parquet(s"$d/events.parquet").schema)
    val bytes = StreamReplay.sourceBytes(spark, events)
    assert(bytes === Some(new java.io.File(d, "events.parquet").length()))
    assert(StreamReplay.stateShufflePartitions(spark, bytes) === 1)
    // a synthetic 1 GiB source saturates at defaultParallelism (4 here)
    assert(StreamReplay.stateShufflePartitions(spark, Some(1L << 30)) === cap)
    // 20 MB -> ceil(20/8) = 3 partitions: proportional in between (the
    // test JVM shares whichever session a suite created first, so the
    // cap may be below the local[4] asked for here)
    assert(StreamReplay.stateShufflePartitions(spark, Some(20L * 1024 * 1024)) ===
      math.min(3, cap))
    // no file source: fall back to the cap
    assert(StreamReplay.stateShufflePartitions(spark, None) === cap)
  }

  test("source bytes: a stream-stream join sums both inputs; a non-file source has none") {
    import graft.operators.StreamReplay
    import org.apache.spark.sql.functions.col
    def stream(t: String) = StreamReplay.tableStream(spark, d, t,
      spark.read.parquet(s"$d/$t.parquet").schema)
    val events = stream("events").select(col("event_id"), col("user_id"))
    val docs = stream("documents").select(col("doc_id"))
    val joined = events.join(docs, col("event_id") === col("doc_id"))
    def len(t: String) = new java.io.File(d, s"$t.parquet").length()
    assert(StreamReplay.sourceBytes(spark, joined) === Some(len("events") + len("documents")))
    // a self-join reads ONE source: counted once
    assert(StreamReplay.sourceBytes(spark, events.alias("a").join(events.alias("b"),
      col("a.user_id") === col("b.user_id"))) === Some(len("events")))
    // the directory layout sums its data files, not its commit files
    val out = java.nio.file.Files.createTempDirectory("graft_srcbytes_")
    spark.read.parquet(s"$d/events.parquet").repartition(3)
      .write.mode("overwrite").parquet(out.resolve("events.parquet").toString)
    val parts = out.resolve("events.parquet").toFile.listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(StreamReplay.sourceBytes(spark, StreamReplay.tableStream(spark, out.toString,
      "events", events.schema)) === Some(parts.map(_.length()).sum))
    // a rate stream has no file source: the replay falls back to the cap
    val rate = spark.readStream.format("rate").load()
    assert(StreamReplay.sourceBytes(spark, rate) === None)
  }

  test("q71, q78 and q93 run their state stores on the derived partition count at sf0.01") {
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => seen.add(op.numShufflePartitions))
    }
    spark.streams.addListener(listener)
    try {
      // each fixture source is under 8 MB: one state partition, where
      // a missing byte count would have used the cap (4 here)
      for (q <- Seq("q71_stream_replay", "q78_stream_ingest_gate",
          "q93_stream_neardup_gate")) {
        seen.clear()
        graft.SparkEntry.queries(q)(spark, sf001).count()
        // progress events reach listeners asynchronously
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
        import scala.jdk.CollectionConverters._
        val parts = seen.asScala.toSet
        assert(parts === Set(1L), s"$q state partitions: $parts")
      }
    } finally spark.streams.removeListener(listener)
  }

  test("d16 probe reads only the delta's hp= partitions of the standing index") {
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup
    val (path, prefixLen, _) = Dedup.d16BuildIndex(spark, d)
    val allParts = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("hp=")).map(_.getName).toSet
    assert(allParts.size > 1, s"index should be hash-prefix partitioned, saw $allParts")
    // materialize = false: the production path eagerly checkpoints the
    // (output-sized) result to release the delta band cache, which
    // empties inputFiles — the spec needs the raw scan to inspect it
    val probe = Dedup.d16ProbeFrame(spark, d, path, prefixLen, materialize = false)
    // the files the probe's scan would touch, before any execution
    val touched = probe.inputFiles
      .flatMap(_.split("/").find(_.startsWith("hp="))).toSet
    assert(touched.nonEmpty, "probe read no index partitions")
    assert(touched.subsetOf(allParts))
    // the delta (src0/src1) covers a strict subset of the corpus's
    // band-hash prefixes at this scale — the listing skip is real
    assert(touched.size < allParts.size,
      s"probe listed every partition (${touched.size}/${allParts.size}) — no pruning happened")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
