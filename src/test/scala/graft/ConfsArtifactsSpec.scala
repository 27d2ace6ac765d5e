package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The two shared scopes: `Confs.scoped` (session confs set for one
  * body, restored after it) and `Artifacts.memo` (one build per key
  * per process, timed in one registry).
  */
class ConfsArtifactsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val key = "graft.spec.scoped"

  test("Confs.scoped restores a prior value and unsets a prior absent key") {
    spark.conf.set(key, "before")
    val seen = Confs.scoped(spark, Map(key -> "inside", s"$key.absent" -> "x")) {
      (spark.conf.get(key), spark.conf.get(s"$key.absent"))
    }
    assert(seen === ("inside", "x"))
    assert(spark.conf.get(key) === "before")
    assert(spark.conf.getOption(s"$key.absent") === None)
    spark.conf.unset(key)
  }

  test("Confs.scoped restores when the body throws") {
    spark.conf.set(key, "before")
    intercept[IllegalStateException] {
      Confs.scoped(spark, Map(key -> "inside"))(throw new IllegalStateException("boom"))
    }
    assert(spark.conf.get(key) === "before")
    spark.conf.unset(key)
  }

  test("Confs.scoped refuses entry while a stream is active") {
    val q = spark.readStream.format("rate").load()
      .writeStream.format("noop").start()
    try {
      val e = intercept[IllegalArgumentException] {
        Confs.scoped(spark, Map(key -> "inside"))(())
      }
      assert(e.getMessage.contains("active streaming queries"))
      assert(spark.conf.getOption(key) === None)
    } finally q.stop()
  }

  /** A directory holding one source file for the memo key's fingerprint. */
  private lazy val srcDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_memo_spec_")
    java.nio.file.Files.writeString(d.resolve("src.txt"), "source")
    d.toString
  }

  test("Artifacts.memo builds once per key and advances its counter") {
    var builds = 0
    def get(extra: String): String = Artifacts.memo("spec_once", srcDir, "src.txt", extra) {
      builds += 1
      Thread.sleep(2)
      s"built-$extra"
    }
    assert(get("a") === "built-a")
    val after = Artifacts.buildNanos("spec_once").get()
    assert(after > 0)
    assert(get("a") === "built-a")
    assert(builds === 1)
    assert(Artifacts.buildNanos("spec_once").get() === after)
    assert(get("b") === "built-b")
    assert(builds === 2)
    assert(Artifacts.buildNanos("spec_once").get() > after)
    assert(Artifacts.buildSeconds.toMap.contains("spec_once"))
  }

  test("Artifacts.memo retries a build that threw, recording nothing for it") {
    var attempts = 0
    def get(): String = Artifacts.memo("spec_retry", srcDir, "src.txt") {
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("first build fails")
      "ok"
    }
    intercept[IllegalStateException](get())
    assert(Artifacts.buildNanos("spec_retry").get() === 0)
    assert(get() === "ok")
    assert(get() === "ok")
    assert(attempts === 2)
  }
}
