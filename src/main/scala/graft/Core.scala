package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named query in the graft inventory.
  *
  * @param name  stable identifier (key in `SparkEntry.queries`)
  * @param sql   equivalent ANSI SQL for the DuckDB oracle; `None` for
  *              ops not expressible in portable SQL (driver then runs a
  *              weaker rows-only check)
  * @param run   the Spark implementation: (session, data dir) => result
  */
final case class Q(
    name: String,
    sql: Option[String],
    run: (SparkSession, String) => DataFrame
)

object Q {
  def apply(name: String, sql: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(sql), run)
  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, None, run)
}

/** Parquet table loaders for the driver-generated star schema
  * (see FIXTURES.md §B). All reads go through here so scans stay
  * uniform and pushdown-friendly.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped in two physical layouts across fixture
    * generations — parquet TIMESTAMP(NANOS) (which Spark only reads as
    * a raw long under the legacy conf) and plain TIMESTAMP(MICROS)
    * without a timezone. Input formats drift; a reader that hard-codes
    * one layout fails loudly on half the queries and silently on the
    * rest (round 6). So: read the footer, branch on the decoded type,
    * land both paths on the same session-UTC microsecond TIMESTAMP —
    * which is also what DuckDB computes for either fixture (its
    * TIMESTAMP_NS→TIMESTAMP cast truncates ns→µs; its naive TIMESTAMP
    * matches under the pinned UTC session timezone).
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) decoded as raw nanos
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType | TimestampType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet-decoded type $other — " +
            "extend Tables.normalizeTs for the new fixture layout")
    }
  }

  /** The events frame with `ts` still in its raw decoded form — the
    * streaming replays need the undecorated footer schema for their
    * file sources (then normalize with [[normalizeTs]], same branch).
    *
    * The legacy conf is set session-wide and INTENTIONALLY not
    * restored: streaming sources created from this frame's schema
    * read lazily, long after this call returns, and a restore here
    * would flip the decode out from under them mid-query. The conf's
    * only effect is to decode TIMESTAMP(NANOS) columns (which Spark
    * otherwise refuses to read at all) as raw longs — it never changes
    * the decoding of a MICROS-era fixture, so leaving it set is safe
    * for every other reader in the session.
    */
  private[graft] def eventsRawFrame(spark: SparkSession, dir: String): DataFrame = {
    // harmless when ts is already micros; required to decode nanos
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
  }

  private def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(eventsRawFrame(spark, dir))

  /** `events` with `props` pre-parsed into a VARIANT column `propsv`,
    * materialized once per data dir — the ingest-time shredding step a
    * 100 TB deployment runs once, not per query. Spark 4 writes the
    * variant column shredded (`spark.sql.variant.writeShredding` /
    * `inferShreddingSchema`, both default-on) and
    * `pushVariantIntoScan` turns a typed-path `variant_get` into a
    * plain scan of the shredded subcolumn, so queries over `propsv`
    * never re-parse the JSON string. The derived parquet lives under
    * java.io.tmpdir keyed by the (read-only) source dir; a temp-dir +
    * atomic-rename build means a killed half-write is never read back.
    */
  def eventsVariant(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, parse_json}
    // key by dir AND a source fingerprint (size+mtime of every part):
    // the driver regenerates /root/testdata between rounds, and a
    // path-only key would silently serve the PREVIOUS generation's
    // shred — the cache-flavored twin of the round-6 reader bug
    val dirKey = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val key = s"$dirKey-${sourceFingerprint(new java.io.File(s"$d/events.parquet"))}"
    val shredRoot = new java.io.File(sys.props("java.io.tmpdir"), "graft-shred")
    val base = new java.io.File(shredRoot, key)
    val dest = new java.io.File(base, "events_variant.parquet")
    if (!dest.exists()) {
      // the fingerprint changed ⇒ the fixture was regenerated; the
      // previous generation's shreds for this dir are dead weight and
      // would otherwise accumulate one per regeneration forever
      Option(shredRoot.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith(s"$dirKey-") && f.getName != key)
        .foreach { stale =>
          import java.nio.file.{Files, Path}
          import scala.jdk.CollectionConverters._
          val paths = Files.walk(stale.toPath).iterator().asScala.toSeq
          paths.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_: Path))
        }
      base.mkdirs()
      val tmp = new java.io.File(base, s".build-${java.util.UUID.randomUUID()}")
      events(s, d)
        .select(col("event_id"), parse_json(col("props")).as("propsv"))
        .write.mode("overwrite").parquet(tmp.toString)
      if (!tmp.renameTo(dest)) { // lost a build race; drop our copy
        import java.nio.file.{Files, Path}
        import scala.jdk.CollectionConverters._
        val paths = Files.walk(tmp.toPath).iterator().asScala.toSeq
        paths.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_: Path))
      }
    }
    s.read.parquet(dest.toString)
  }

  /** Stable digest of a parquet file-or-directory's (name, size,
    * mtime) triples — changes whenever the fixture is regenerated,
    * cheap (metadata only, no data read).
    */
  private[graft] def sourceFingerprint(f: java.io.File): String = {
    def leaves(x: java.io.File): Seq[java.io.File] =
      if (x.isDirectory) {
        // listFiles returns null on permission/IO races (the driver
        // regenerates testdata between rounds) — fail with the path,
        // not an anonymous NPE
        val children = x.listFiles()
        require(children != null, s"cannot list $x while fingerprinting $f")
        children.toSeq.sortBy(_.getName).flatMap(leaves)
      } else Seq(x)
    val sig = leaves(f).map(x => s"${x.getName}:${x.length}:${x.lastModified}")
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  /** SCALE-ADAPTIVE SCAN SPREAD (r15 optimization, guide §2.5 "input
    * skew: one huge unsplittable file — repartition immediately after
    * the read"): every driver fixture table is ONE parquet row group,
    * so every scan stage is ONE task and all per-row work planned
    * into it (codec kernels, gram/minhash projections, partial
    * aggregation buffers) runs on one core of 32. A conditional
    * round-robin repartition to the session's parallelism parallelizes
    * that work; the guard makes it a NO-OP whenever the scan already
    * carries at least half the session's parallelism — i.e. at any
    * real multi-file/multi-row-group scale the plan is untouched, and
    * no production bytes pay an extra exchange (the same conditional
    * Multimodal.spreadIds has used since round 10). Apply only where
    * the downstream work is order-insensitive (per-row projections,
    * exact-decimal/count/min-max aggregates, sorted-collect digests)
    * — the repo's oracle-parity rules already make the checked
    * aggregates partitioning-independent by construction.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    // CODE-ENFORCED SCAN-ADJACENCY (r15 advice): the `.rdd` partition
    // probe below is only safe on exchange-free plans — on a frame
    // containing a shuffle boundary it would force AQE's final-plan
    // resolution and PRE-EXECUTE the upstream stages (that work then
    // runs twice). The safe-usage rule used to live in a Scaladoc
    // comment; now the analyzed plan is inspected and any
    // shuffle-inducing operator makes spread a no-op (return the
    // frame unchanged — the conservative direction: never an extra
    // exchange, never double execution). All current call sites are
    // scan-adjacent projections/filters, so this changes no plan.
    import org.apache.spark.sql.catalyst.plans.logical._
    val shuffleBound = df.queryExecution.analyzed.exists {
      case _: Join | _: Aggregate | _: Distinct | _: Deduplicate |
           _: Sort | _: Window | _: GlobalLimit | _: RepartitionOperation => true
      case _ => false
    }
    if (shuffleBound) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions * 2 >= target) df else df.repartition(target)
    }
  }

  /** [[spread]] for frames DOWNSTREAM OF AN EXCHANGE (window/agg/join
    * output): `.rdd` on such a plan would force AQE's final-plan
    * resolution and pre-execute the upstream shuffle stages (the work
    * would then run twice), so the partition probe is not usable —
    * this variant repartitions unconditionally. Use it only where the
    * downstream projection is the dominant CPU: AQE right-sizes
    * post-shuffle partitions by BYTES, so a small-but-expensive frame
    * (keeper sets feeding signature computation) gets coalesced to
    * ~one task; redistributing it across the session's cores before
    * the expensive projection is the production shape at any scale —
    * the exchange moves the already-reduced frame once.
    */
  private[graft] def spreadHeavy(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Scoped shuffle-partition override for ITERATIVE bodies that
    * MATERIALIZE tiny frames inside (localCheckpoint per round): the
    * conf is read at execution, so this only affects work the body
    * itself runs — a lazily returned frame plans under the caller's
    * setting (r15 optimization; the convergedLabels round-14 pattern,
    * factored for reuse). At parts == 1 AQE is scoped off too: with
    * one partition there is nothing to coalesce or skew-split and its
    * per-stage re-planning is pure driver latency on tiny stages
    * (measured ~0.5 s over a c02-sized kernel in round 14). Scoped
    * through [[Confs.scoped]], which refuses entry while a stream is
    * active on the session.
    */
  private[graft] def withShufflePartitions[T](s: SparkSession, parts: Int)(
      body: => T): T =
    Confs.scoped(s, Map("spark.sql.shuffle.partitions" -> parts.toString) ++
      (if (parts == 1) Map("spark.sql.adaptive.enabled" -> "false") else Map.empty))(body)

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}

/** Session confs set for the span of one body and put back after it —
  * the one place that saves, sets and restores session confs.
  */
private[graft] object Confs {

  /** Runs `body` with `settings` applied to `s`, then restores every
    * key to its prior value (unset if it had none), also when `body`
    * throws.
    *
    * The confs are session-global and the scope is not reentrant
    * across threads: a streaming query already running on `s` would
    * plan its next micro-batch under the scoped values, so entry is
    * refused while one is active. Streams started INSIDE the body
    * (the replay harness) are the intended consumers and are awaited
    * before the restore. The body runs on the caller's session, not a
    * `newSession()` clone: a DataFrame plans and executes under the
    * session it was built on, so a clone would not scope frames
    * passed in.
    */
  def scoped[T](s: SparkSession, settings: Map[String, String])(body: => T): T = {
    require(s.streams.active.isEmpty,
      s"Confs.scoped(${settings.keys.mkString(", ")}): the session has " +
        "active streaming queries; the scoped confs would leak into their " +
        "micro-batch planning. Run scoped bodies only with no concurrent " +
        "streams on this session.")
    val prev = settings.keys.map(k => k -> s.conf.getOption(k)).toMap
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}

/** Build artifacts computed once per process per source snapshot (a
  * kept manifest, an index, an ordered fixture copy), each under a
  * name with its own build-nanos counter. Keys carry the source's
  * [[Tables.sourceFingerprint]], so a regenerated fixture rebuilds.
  * Bench and the perf harness read the build costs from [[buildNanos]]
  * so the amortized term stays visible next to per-query timings.
  * (`Tables.eventsVariant` is not a memo: its shred cache outlives the
  * JVM on purpose.)
  */
private[graft] object Artifacts {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.AtomicLong

  private final class Memo {
    val nanos = new AtomicLong(0)
    val values = new ConcurrentHashMap[String, Any]()
  }
  private val memos = new ConcurrentHashMap[String, Memo]()
  private def memoOf(name: String): Memo = memos.computeIfAbsent(name, _ => new Memo)

  /** Summed build nanos of the artifact `name` in this process. */
  def buildNanos(name: String): AtomicLong = memoOf(name).nanos

  /** Build seconds of every registered artifact, by name. */
  def buildSeconds: Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    memos.asScala.toSeq.sortBy(_._1).map { case (n, m) => n -> m.nanos.get() / 1e9 }
  }

  /** The artifact `name` for (`dir`, the fingerprint of
    * `dir/sourceFile`, `extraKey`), built by `build` on first use and
    * shared by every later caller in the process. A build that throws
    * records nothing (no value, no nanos), so the next call rebuilds.
    */
  def memo[T](name: String, dir: String, sourceFile: String, extraKey: String = "")(
      build: => T): T = {
    val m = memoOf(name)
    val fp = Tables.sourceFingerprint(new java.io.File(dir, sourceFile))
    m.values.computeIfAbsent(s"$sourceFile:$dir:$fp:$extraKey", _ => {
      val t0 = System.nanoTime()
      val built = build
      m.nanos.addAndGet(System.nanoTime() - t0)
      built
    }).asInstanceOf[T]
  }
}
