package graft.plans

import graft.functions.{SortedArrayJaccard, SortedArrayJaccardAtLeast}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The early-exit jaccard-threshold kernel (r16) must be
  * RESULT-IDENTICAL to `sorted_array_jaccard(a,b) >= c` on every
  * input, including floating-point boundary thresholds — and the
  * rewrite rule must fire only where the value is a predicate.
  */
class JaccardEarlyExitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Deterministic sorted-distinct string arrays of varied sizes and
    * overlap fractions, plus the degenerate shapes (empty-empty,
    * empty-nonempty, identical, disjoint, prefix-contained).
    */
  private def fixtures: Seq[(Seq[String], Seq[String])] = {
    val rnd = new scala.util.Random(4207)
    val sized = for (_ <- 1 to 200) yield {
      val n = 1 + rnd.nextInt(40)
      val m = 1 + rnd.nextInt(40)
      val overlap = rnd.nextInt(math.min(n, m) + 1)
      val shared = (0 until overlap).map(i => f"s$i%03d")
      val onlyA = (0 until (n - overlap)).map(i => f"a$i%03d")
      val onlyB = (0 until (m - overlap)).map(i => f"b$i%03d")
      ((shared ++ onlyA).distinct.sorted, (shared ++ onlyB).distinct.sorted)
    }
    sized ++ Seq(
      (Nil, Nil),
      (Nil, Seq("x")),
      (Seq("x"), Nil),
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "b", "c"), Seq("d", "e", "f")),
      (Seq("a", "b"), Seq("a", "b", "c", "d")))
  }

  test("early-exit kernel ≡ sorted_array_jaccard >= c, every pair × every threshold (both eval paths)") {
    import spark.implicits._
    val df = fixtures.toDF("x", "y").cache()
    // thresholds include exact representable ratios (boundary cases)
    // and the production 0.9/0.8 bars; 0.0/1.0 bracket the range
    val thresholds = Seq(0.0, 1e-12, 0.1, 0.25, 0.5, 2.0 / 3.0, 0.75, 0.8, 0.9,
      1.0 / 3.0, 0.999999999, 1.0)
    for (c <- thresholds; strict <- Seq(false, true)) {
      val ref = if (strict) SortedArrayJaccard(col("x"), col("y")) > c
        else SortedArrayJaccard(col("x"), col("y")) >= c
      val fast = SortedArrayJaccardAtLeast(col("x"), col("y"), c, strict)
      val bad = df.select(col("x"), col("y"), ref.as("ref"), fast.as("fast"))
        .filter(col("ref") =!= col("fast"))
        .collect()
      assert(bad.isEmpty,
        s"threshold=$c strict=$strict mismatches:\n${bad.take(5).mkString("\n")}")
    }
    df.unpersist()
  }

  /** Runs `body` with both Jaccard rules registered in order, then
    * puts back the session's exact prior rule list — the session is
    * shared with every other suite in the test JVM, and those may rely
    * on `GraftExtensions` having registered the rules.
    */
  private def withJaccardRules[T](body: => T): T = {
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      (prior.filterNot(r =>
        r == InferJaccardSizeFilter || r == RewriteJaccardThresholdPredicate)
        :+ InferJaccardSizeFilter) :+ RewriteJaccardThresholdPredicate
    try body
    finally spark.experimental.extraOptimizations = prior
  }

  test("rewrite rule swaps predicate sites and leaves value-emitting sites alone") {
    withJaccardRules {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("ts"))
      // predicate site: value dropped after the >= — must rewrite, and
      // the size-ratio inference must still be present (rule order)
      val pred = docs.alias("a").join(docs.alias("b"), col("a.doc_id") < col("b.doc_id"))
        .filter(SortedArrayJaccard(col("a.ts"), col("b.ts")) >= 0.9)
        .select(col("a.doc_id"), col("b.doc_id"))
      val p = pred.queryExecution.optimizedPlan.toString
      assert(p.contains("sorted_array_jaccard_at_least"),
        s"predicate site not rewritten:\n$p")
      assert(p.contains("size("), s"size inference lost by the rewrite:\n$p")
      // value site: jaccard emitted as a column — must NOT rewrite
      val emit = docs.alias("a").join(docs.alias("b"), col("a.doc_id") < col("b.doc_id"))
        .select(SortedArrayJaccard(col("a.ts"), col("b.ts")).as("jaccard"))
      val pe = emit.queryExecution.optimizedPlan.toString
      assert(!pe.contains("sorted_array_jaccard_at_least"),
        s"value-emitting site wrongly rewritten:\n$pe")
      // end-to-end: rewritten query ≡ plain query
      val n = pred.count()
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(r =>
          r == InferJaccardSizeFilter || r == RewriteJaccardThresholdPredicate)
      val nPlain = docs.alias("a").join(docs.alias("b"), col("a.doc_id") < col("b.doc_id"))
        .filter(SortedArrayJaccard(col("a.ts"), col("b.ts")) >= 0.9)
        .select(col("a.doc_id"), col("b.doc_id"))
        .count()
      assert(n == nPlain, s"rewrite changed results: $n vs $nPlain")
    }
  }

  test("rewrite rule leaves a NaN or infinite threshold to the plain expression") {
    withJaccardRules {
      // a range, not a local relation: the optimizer would evaluate a
      // filter over literal rows before the rule ever saw it
      val df = spark.range(2).select(
        array(col("id").cast("string"), lit("b")).as("x"), array(lit("0"), lit("c")).as("y"))
      for (c <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
        val q = df.filter(SortedArrayJaccard(col("x"), col("y")) >= c)
        val p = q.queryExecution.optimizedPlan.toString
        assert(!p.contains("sorted_array_jaccard_at_least"),
          s"non-finite threshold $c was rewritten:\n$p")
        // NaN and +Inf reject every pair, -Inf accepts both
        assert(q.count() == (if (c == Double.NegativeInfinity) 2 else 0))
      }
    }
  }
}
