package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.engine.{DynEvent, EValue, SpellEngine}
import graft.operators.SpellQueries.HalvingSpell

/** The `spell_stream` workload: seed events run through
  * `SpellEngine.castAllColumnar(HalvingSpell)` inside a Structured
  * Streaming query whose sink hands each micro-batch's hops to the
  * driver.
  *  - Closed loop: a fixed backlog of parquet files drains through the
  *    query, one file per trigger (`AvailableNow`).
  *  - Open loop: a generator thread adds events to a `MemoryStream` on
  *    a fixed schedule, whether or not the query keeps up, stamping
  *    each with the time it was due. Latency runs from that due time
  *    to the end of the micro-batch that emitted the event's hops.
  */
object SpellStream {
  import EValue._
  import Harness._

  val BacklogEvents = 50000L
  val BacklogFiles = 8
  /** Open-loop arrival rate, events/s: about half the closed-loop
    * drain rate measured on a 4-core x86 box.
    */
  val OpenLoopRate = 10000L
  /** Partitions of each open-loop micro-batch: at this rate a batch is
    * a few thousand events, so more tasks would only add scheduling.
    */
  val OpenLoopPartitions = 1
  /** Share of the run's seconds spent on the closed loop; the rest is
    * the open loop, which needs at least 100 micro-batches.
    */
  val ClosedShare = 0.35
  /** Leading seconds of the open loop left out of its latency and
    * trigger samples: the source and sink paths are still cold there.
    */
  val OpenLoopWarmupS = 3.0
  /** Seeds in the single-thread engine micro-benchmark. */
  val MicroSeeds = 20000L

  /** Seed value of event `id` under workload seed `seed`: in (2, 4096],
    * so every event emits between 1 and 12 hops.
    */
  def seedValue(id: Column, seed: Long): Column =
    pow(lit(2.0), lit(1.0) +
      pmod(xxhash64(id, lit(seed)), lit(1L << 20)).cast("double") / (1L << 20).toDouble * 11.0)

  private val KEventId = EStr("event_id")
  private val KValue = EStr("value")
  private val KHop = EStr("hop")
  private val KDue = EStr("due_us")

  type Seed = (Long, Double, Long)
  type Hop = (Long, Long, Double, Long)

  def castHops(seeds: Dataset[Seed]): Dataset[Hop] = {
    import seeds.sparkSession.implicits._
    SpellEngine.castAllColumnar[Seed, Hop](seeds, HalvingSpell,
      toEvent = { case (id, v, due) =>
        DynEvent(Map[EValue, EValue](KEventId -> EInt(id), KValue -> EFloat(v),
          KHop -> EInt(0), KDue -> EInt(due)))
      },
      fromHop = { e =>
        def long(k: EStr): Long = e.fields.get(k) match { case Some(EInt(i)) => i; case _ => -1L }
        (long(KEventId), long(KHop),
          e.fields.get(KValue) match { case Some(EFloat(v)) => v; case _ => Double.NaN },
          long(KDue))
      })
  }

  /** Driver-side sink: keeps every emitted hop and the time each
    * micro-batch finished emitting.
    */
  final class HopSink {
    val hops = mutable.ArrayBuffer.empty[Array[Hop]]
    val endMs = mutable.ArrayBuffer.empty[Double]
    val write: (Dataset[Hop], Long) => Unit = (ds, _) => {
      val rows = ds.collect()
      synchronized { hops += rows; endMs += Clock.nowMs }
    }
    def rows: Iterator[Hop] = hops.iterator.flatMap(_.iterator)
  }

  /** Halvings HalvingSpell applies to `v` before it stops. */
  def expectedHops(v: Double): Int = {
    var x = v
    var h = 0
    while (x > 1.0) { x /= 2; h += 1 }
    h
  }

  /** Checks emitted hops against the closed-form halving sequence of
    * events 0 until v0.length: each event's hops are exactly 1..H, hop
    * h carrying v0/2^h, none lost or duplicated. Returns (events
    * checked, events failed).
    */
  def check(rows: Iterator[Hop], v0: Array[Double]): (Long, Long) = {
    val n = v0.length
    val seen = new Array[Long](n)
    val bad = new Array[Boolean](n)
    val strays = mutable.Set.empty[Long]
    rows.foreach { case (id, hop, value, _) =>
      if (id < 0 || id >= n) strays += id
      else {
        val i = id.toInt
        val bit = if (hop >= 1 && hop < 64) 1L << hop else 0L
        if (bit == 0L || (seen(i) & bit) != 0 || value != v0(i) / math.pow(2.0, hop.toDouble))
          bad(i) = true
        seen(i) |= bit
      }
    }
    val failed = (0 until n).count { i =>
      bad(i) || seen(i) != ((1L << (expectedHops(v0(i)) + 1)) - 2)
    }
    (n.toLong + strays.size, failed.toLong + strays.size)
  }

  def seedValues(spark: SparkSession, n: Long, seed: Long): Array[Double] =
    spark.range(n).orderBy("id").select(seedValue(col("id"), seed)).collect().map(_.getDouble(0))

  def run(spark: SparkSession, a: Args, tracer: Option[Tracer]): Map[String, Any] = {
    import spark.implicits._
    val backlog = s"${a.runDir}/backlog"
    spark.range(BacklogEvents).select(col("id").as("_1"), seedValue(col("id"), a.seed).as("_2"),
        lit(0L).as("_3"))
      .repartition(BacklogFiles).write.parquet(backlog)
    val schema = spark.read.parquet(backlog).schema
    val backlogV0 = seedValues(spark, BacklogEvents, a.seed)

    val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
    val triggers = mutable.ArrayBuffer.empty[Double]

    def triggerSeconds(q: org.apache.spark.sql.streaming.StreamingQuery,
        fromMs: Double = 0.0): Seq[Double] =
      q.recentProgress.toSeq
        .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= fromMs)
        .map(_.durationMs.get("triggerExecution").doubleValue / 1e3)

    /** One closed-loop drain of the whole backlog; its hops are checked
      * once the drain is over.
      */
    def drain(k: String, timed: Boolean, traced: Boolean, parent: Long): Unit = {
      def go(): Unit = {
        val sink = new HopSink
        val seeds = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(backlog).as[Seed]
        val cpu0 = processCpuS
        val t0 = System.nanoTime()
        val q = castHops(seeds).writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"${a.runDir}/ckpt/closed-$k")
          .foreachBatch(sink.write).start()
        q.awaitTermination()
        val s = (System.nanoTime() - t0) / 1e9
        val cpu = processCpuS - cpu0
        val (events, failed) = check(sink.rows, backlogV0)
        drains += Map("drain" -> k, "timed" -> timed, "traced" -> traced, "wall_s" -> s,
          "cpu_s" -> cpu, "events" -> events, "failed" -> failed,
          "hops" -> sink.hops.map(_.length.toLong).sum)
        if (timed) triggers ++= triggerSeconds(q)
      }
      tracer.filter(_ => traced) match {
        case Some(t) => t.span(s"closed loop $k", "query", parent)(_ => go())
        case None => go()
      }
    }

    def closedLoop(seconds: Double, traced: Boolean, parent: Long): Unit = {
      log(s"closed loop ${seconds}s traced=$traced")
      System.gc() // see QueryWorkload
      val start = System.nanoTime()
      var n = 0
      var last = 0.0
      while (n < 2 || (System.nanoTime() - start) / 1e9 + last <= seconds) {
        val t0 = System.nanoTime()
        drain(s"${drains.size}", timed = true, traced, parent)
        last = (System.nanoTime() - t0) / 1e9
        n += 1
      }
    }

    val open = mutable.Map.empty[String, Any]
    def openLoop(seconds: Double): Unit = {
      log(s"open loop ${seconds}s")
      System.gc() // see QueryWorkload
      val sink = new HopSink
      val mem = MemoryStream[(Long, Long)](spark, OpenLoopPartitions)
      val seeds = mem.toDF().select(col("_1"), seedValue(col("_1"), a.seed), col("_2")).as[Seed]
      @volatile var stop = false
      var generated = 0L
      var maxLagMs = 0.0
      val q = castHops(seeds).writeStream
        .option("checkpointLocation", s"${a.runDir}/ckpt/open")
        .foreachBatch(sink.write).start()
      val startMs = Clock.nowMs
      def dueMs(i: Long): Double = startMs + i * 1000.0 / OpenLoopRate
      val gen = new Thread(() => {
        var next = 0L
        while (!stop) {
          val now = Clock.nowMs
          val due = ((now - startMs) * OpenLoopRate / 1000.0).toLong
          if (due > next) {
            maxLagMs = math.max(maxLagMs, now - dueMs(next))
            mem.addData((next until due).map(i => (i, (dueMs(i) * 1000).toLong)))
            next = due
          }
          Thread.sleep(2)
        }
        generated = next
      }, "perfbench-generator")
      gen.setDaemon(true)
      gen.start()
      Thread.sleep((seconds * 1000).toLong)
      stop = true
      gen.join()
      q.stop()
      val measureFromMs = startMs + OpenLoopWarmupS * 1000
      triggers ++= triggerSeconds(q, measureFromMs)

      // checks and latency, untimed: only micro-batches that finished
      // emitting count; they cover a prefix of the event ids
      val (hops, endMs) = sink.synchronized((sink.hops.toSeq, sink.endMs.toSeq))
      val nEvents = hops.iterator.flatMap(_.iterator).map(_._1 + 1).maxOption.getOrElse(0L)
      val (events, failed) =
        check(hops.iterator.flatMap(_.iterator), seedValues(spark, nEvents, a.seed))
      val latency = mutable.Map.empty[Double, Long].withDefaultValue(0L)
      var measuredBatches = 0
      hops.zip(endMs).foreach { case (rows, end) =>
        val firsts = rows.filter { case (_, hop, _, dueUs) =>
          hop == 1 && dueUs >= measureFromMs * 1000 }
        firsts.foreach { case (_, _, _, dueUs) =>
          latency(math.round((end - dueUs / 1000.0) * 10) / 10.0) += 1 }
        if (firsts.nonEmpty) measuredBatches += 1
      }
      open ++= Map("events" -> events, "failed" -> failed,
        "hops" -> hops.map(_.length.toLong).sum, "generated" -> generated,
        "batches" -> measuredBatches, "seconds" -> seconds, "rate" -> OpenLoopRate,
        "max_generator_lag_ms" -> maxLagMs,
        "latency_ms" -> latency.toSeq.sortBy(_._1).map { case (ms, c) => Seq(ms, c) })
    }

    // untimed warm-up drains: JIT of the cast path and the first
    // streaming query's set-up stay out of the timed window
    (1 to 2).foreach(i => drain(s"warmup-$i", timed = false, traced = false, -1L))
    tracer match {
      case None =>
        closedLoop(a.seconds * ClosedShare, traced = false, -1L)
        openLoop(a.seconds * (1 - ClosedShare))
      case Some(t) =>
        closedLoop(a.seconds * ClosedShare / 2, traced = false, -1L)
        t.attach()
        t.span(a.workload, "workload", -1L) { id =>
          closedLoop(a.seconds * ClosedShare / 2, traced = true, id)
          t.span("open loop", "query", id)(_ => openLoop(a.seconds * (1 - ClosedShare)))
        }
        t.detach()
    }
    Map("drains" -> drains.toSeq, "trigger_s" -> triggers.toSeq, "open" -> open.toMap)
  }
}
