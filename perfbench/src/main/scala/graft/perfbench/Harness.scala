package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.{DynEvent, EValue, EventCodec, SpellEngine}
import graft.operators.SpellQueries.HalvingSpell

/** Benchmark harness JVM. It drives one workload by calling the
  * program's public functions from outside and writes its raw
  * observations (every timing sample, counter and span) as one JSON
  * file; `run.py` turns them into metrics and checks the outputs.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --run-dir DIR --out FILE --cpus N [--queries a,b,c]
  */
object Harness {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, runDir: String, out: String, cpus: Int, queries: Seq[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("run-dir"), m("out"), m("cpus").toInt,
      m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep the progress of every micro-batch of a run, not the last 100
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm: first job, parquet footer read, codegen of a small agg
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.events(spark, a.data).limit(10).count()
    spark
  }

  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  /** Drops everything a query cached, including localCheckpoint blocks
    * that `clearCache` leaves behind.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    // setup_s: cold, from JVM start to a warmed session
    val setupS = (Clock.nowMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    log(s"set-up $setupS s")
    val tracer = if (a.trace) Some(new Tracer(spark, s"${a.workload}-${a.seed}")) else None
    val observed: Map[String, Any] =
      if (a.workload == "spell_stream") SpellStream.run(spark, a, tracer)
      else QueryWorkload.run(spark, a, tracer)
    val layers: Map[String, Any] = tracer match {
      case None => Map.empty
      case Some(t) => Map(
        "counters" -> t.counters.toMap,
        "progress" -> t.progress.toSeq,
        "plan_phases" -> t.planPhases.toSeq,
        "engine" -> { log("engine micro-benchmark"); MicroBench.engine(spark, a, t) },
        "kernel" -> { log("kernel micro-benchmark"); MicroBench.kernel(spark, a, t) },
        "spans" -> t.spansJson)
    }
    val raw = observed ++ layers ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb)
    JsonMapper.builder().addModule(DefaultScalaModule).build()
      .writeValue(new java.io.File(a.out), raw)
    spark.stop()
  }
}

/** Memoized artifacts the program builds once per process; their
  * build seconds come from the program's own counters.
  */
object Memo {
  private def counters: Map[String, Long] = Map(
    "kept_manifest" -> graft.operators.Curation.keptKernelBuildSec.get(),
    "txlog_changes" -> graft.operators.Curation.txlogChangesBuildSec.get(),
    "d16_index" -> graft.operators.Dedup.d16IndexBuildSec.get(),
    "ordered_fixture" -> graft.operators.StreamReplay.orderedFixtureBuildSec.get(),
    "gate_sides" -> graft.operators.StreamReplay.gateSidesBuildSec.get())

  /** Runs `body` and returns the build seconds each artifact spent in it. */
  def during(body: => Unit): Map[String, Double] = {
    val before = counters
    body
    counters.map { case (k, v) => k -> (v - before(k)) / 1e9 }
  }
}

/** A query workload: a check pass, then timed passes. */
object QueryWorkload {
  import Harness._

  def run(spark: SparkSession, a: Args, tracer: Option[Tracer]): Map[String, Any] = {
    val fns = graft.SparkEntry.queries
    val unknown = a.queries.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    // the seed permutes query order, so a memo build lands on a
    // different query from seed to seed
    val order = new scala.util.Random(a.seed).shuffle(a.queries)

    log(s"check pass over ${order.size} queries")
    // Check pass, untimed: each result goes to parquet for the oracle
    // compare in run.py. It is also the warm-up (codegen, JIT) and the
    // pass in which the memoized artifacts get built.
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val memoS = Memo.during {
      order.foreach { n =>
        val err = try {
          fns(n)(spark, a.data).coalesce(1).write.mode("overwrite")
            .parquet(s"${a.runDir}/results/$n")
          None
        } catch { case e: Throwable => Some(errorText(e)) }
        cleanup(spark)
        checks += Map("name" -> n, "error" -> err)
      }
    }

    def pass(passNo: Int, traced: Boolean, parent: Long): Seq[Map[String, Any]] =
      order.map { n =>
        def exec(): (Double, Option[String]) = {
          val t0 = System.nanoTime()
          val err = try {
            fns(n)(spark, a.data).write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable => Some(errorText(e)) }
          ((System.nanoTime() - t0) / 1e9, err)
        }
        val (s, err) = tracer.filter(_ => traced) match {
          case Some(t) => t.span(n, "query", parent)(_ => exec())
          case None => exec()
        }
        cleanup(spark)
        Map("name" -> n, "pass" -> passNo, "traced" -> traced, "s" -> s, "error" -> err)
      }

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // Timed window. A traced run spends its first half untraced and its
    // second half with every listener attached; the difference between
    // the two halves' wall_s is the tracing overhead.
    def window(seconds: Double, traced: Boolean, parent: Long): Unit = {
      log(s"timed window ${seconds}s traced=$traced")
      val start = System.nanoTime()
      var last = 0.0
      var n = 0
      def elapsed = (System.nanoTime() - start) / 1e9
      while (n < 2 || elapsed + last <= seconds) {
        val cpu0 = processCpuS
        val t0 = System.nanoTime()
        val passNo = passes.size
        samples ++= (tracer.filter(_ => traced) match {
          case Some(t) => t.span(s"pass $passNo", "pass", parent)(id => pass(passNo, traced, id))
          case None => pass(passNo, traced, -1L)
        })
        last = (System.nanoTime() - t0) / 1e9
        passes += Map("pass" -> passNo, "traced" -> traced, "wall_s" -> last,
          "cpu_s" -> (processCpuS - cpu0))
        n += 1
      }
    }
    // Start the timed window from a collected heap, so when the old
    // generation fills up does not differ from run to run, and after one
    // unrecorded pass: the first pass after the check pass still pays
    // JIT work, so it would make the timed passes uneven.
    System.gc()
    pass(-1, traced = false, -1L)
    tracer match {
      case None => window(a.seconds, traced = false, -1L)
      case Some(t) =>
        window(a.seconds / 2, traced = false, -1L)
        t.attach()
        t.span(a.workload, "workload", -1L)(id => window(a.seconds / 2, traced = true, id))
        t.detach()
    }
    Map("checks" -> checks.toSeq, "samples" -> samples.toSeq, "passes" -> passes.toSeq,
      "memo_build_s" -> memoS,
      "oracle" -> a.queries.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap)
  }
}

/** Per-unit costs of the engine and the near-dup kernels, measured by
  * calling them directly on one thread (engine) or in one small job
  * over a cached input (kernels). Traced runs only.
  */
object MicroBench {
  import EValue._

  private def seedEvent(id: Long, v: Double): DynEvent =
    DynEvent(Map[EValue, EValue](EStr("event_id") -> EInt(id), EStr("value") -> EFloat(v),
      EStr("hop") -> EInt(0)))

  def engine(spark: SparkSession, a: Harness.Args, t: Tracer): Map[String, Any] = {
    val seeds = spark.range(SpellStream.MicroSeeds)
      .select(col("id"), SpellStream.seedValue(col("id"), a.seed))
      .collect().map(r => seedEvent(r.getLong(0), r.getDouble(1)))
    def castAll(): Long = seeds.iterator.map(e => 1L + SpellEngine.runSeed(HalvingSpell, e).size).sum
    def roundTrips(): Unit = seeds.foreach(EventCodec.roundTrip)
    castAll(); roundTrips() // JIT warm-up
    val (casts, castNs) = t.span("engine.runSeed", "engine", -1L) { _ =>
      val t0 = System.nanoTime(); val c = castAll(); (c, System.nanoTime() - t0)
    }
    val codecNs = t.span("engine.roundTrip", "engine", -1L) { _ =>
      val t0 = System.nanoTime(); roundTrips(); System.nanoTime() - t0
    }
    Map("casts" -> casts, "seeds" -> seeds.length.toLong, "cast_ns" -> castNs,
      "roundtrips" -> seeds.length.toLong, "codec_ns" -> codecNs)
  }

  def kernel(spark: SparkSession, a: Harness.Args, t: Tracer): Map[String, Any] = {
    val sets = Tables.documents(spark, a.data)
      .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("ts"))
    // replicate the inputs so the timed jobs are dominated by kernel work
    def replicas(n: Long): Long = math.max(1L, (KernelUnits + n - 1) / math.max(n, 1L))
    val rows = sets.crossJoin(spark.range(replicas(sets.count())).toDF("rep")).cache()
    val nRows = rows.count()
    val sig = graft.functions.MinHashSigs(col("ts"), 8)
    def minhash(): Unit = rows.select(sig.as("s")).write.format("noop").mode("overwrite").save()
    minhash()
    val minhashNs = t.span("kernel.minhash", "kernel", -1L) { _ =>
      val t0 = System.nanoTime(); minhash(); System.nanoTime() - t0
    }
    // LSH candidates as d03 forms them: two bands of four MinHashes
    val banded = sets.select(col("doc_id"), col("ts"), sig.as("s")).select(col("doc_id"),
      col("ts"), posexplode(array((0 until 2).map(b =>
        md5(concat_ws(",", (0 until 4).map(i => element_at(col("s"), 4 * b + i + 1)
          .cast("string")): _*))): _*)).as(Seq("band", "h")))
    val cands = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.ts").as("ta"), col("y.ts").as("tb"))
      .dropDuplicates("a", "b").cache()
    val pairs = cands.crossJoin(spark.range(replicas(cands.count())).toDF("rep")).cache()
    val nPairs = pairs.count()
    val verify = graft.functions.SortedArrayJaccardAtLeast(col("ta"), col("tb"), 0.9, false)
    def jaccard(): Long = pairs.filter(verify).count()
    jaccard()
    val (passed, jaccardNs) = t.span("kernel.jaccard", "kernel", -1L) { _ =>
      val t0 = System.nanoTime(); val p = jaccard(); (p, System.nanoTime() - t0)
    }
    rows.unpersist(); cands.unpersist(); pairs.unpersist()
    Map("minhash_rows" -> nRows, "minhash_ns" -> minhashNs,
      "jaccard_pairs" -> nPairs, "jaccard_passed" -> passed, "jaccard_ns" -> jaccardNs)
  }

  /** Rows (MinHash) or candidate pairs (Jaccard) per timed kernel job. */
  val KernelUnits = 50000L
}
