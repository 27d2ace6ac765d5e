package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LevenshteinLengthPruningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` under `rules`, then puts back the session's exact
    * prior rule list — the session is shared by every suite in the
    * test JVM, and rule order matters to the Jaccard rules.
    */
  private def withRules[T](rules: Seq[Rule[LogicalPlan]] => Seq[Rule[LogicalPlan]])(
      body: => T): T = {
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = rules(prior)
    try body
    finally spark.experimental.extraOptimizations = prior
  }

  test("rule infers a length-gap bound next to a levenshtein threshold") {
    withRules(_ :+ LevenshteinLengthPruning) {
      // parquet-backed (a LocalRelation would constant-fold away)
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val pairs = docs.alias("a").join(docs.alias("b"), col("a.doc_id") < col("b.doc_id"))
        .filter(levenshtein(col("a.text"), col("b.text")) <= 4)
      val optimized = pairs.queryExecution.optimizedPlan.toString
      assert(optimized.contains("abs(") && optimized.contains("length("),
        s"no inferred length-gap predicate in:\n$optimized")
      val n = pairs.count()
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == LevenshteinLengthPruning)
      val nPlain = docs.alias("a").join(docs.alias("b"), col("a.doc_id") < col("b.doc_id"))
        .filter(levenshtein(col("a.text"), col("b.text")) <= 4)
        .count()
      assert(n == nPlain, s"rule changed results: $n vs $nPlain")
    }
  }

  test("strict and reversed spellings are covered; null rows filter identically") {
    import spark.implicits._
    val df = Seq(("kitten", "sitting"), ("ab", "abcdefgh"), (null, "x"))
      .toDF("a", "b")
    val analyzed = df.filter(expr("levenshtein(a, b) < 3"))
      .queryExecution.analyzed
    val rewritten = LevenshteinLengthPruning(analyzed)
    assert(rewritten.toString.contains("abs("), s"strict form not rewritten:\n$rewritten")
    val analyzedRev = df.filter(expr("3 >= levenshtein(a, b)"))
      .queryExecution.analyzed
    assert(LevenshteinLengthPruning(analyzedRev).toString.contains("abs("),
      "reversed form not rewritten")
    // evaluated equivalence on a frame with a null side
    val withRule = withRules(_ :+ LevenshteinLengthPruning) {
      df.filter(expr("levenshtein(a, b) <= 2")).collect().toSeq
    }
    val plain = withRules(_.filterNot(_ == LevenshteinLengthPruning)) {
      df.filter(expr("levenshtein(a, b) <= 2")).collect().toSeq
    }
    assert(withRule == plain)
  }

  test("relative thresholds (lev * m <= rhs) infer the gap bound; duplicates infer once") {
    import spark.implicits._
    val df = Seq(("kitten", "sitting"), ("ab", "abcdefghijklmnopqrstuvwxyz"))
      .toDF("a", "b")
    // d13's spelling: a relative threshold with a non-literal rhs
    val rel = df.filter(expr("levenshtein(a, b) * 20 <= length(a) + length(b)"))
      .queryExecution.analyzed
    val rewritten = LevenshteinLengthPruning(rel)
    assert(rewritten.toString.contains("abs("),
      s"relative form not rewritten:\n$rewritten")
    // the cast context (lev.cast(long) * 20L) must rewrite too, with
    // the cast preserved around the gap
    val castRel = df.filter(
      expr("CAST(levenshtein(a, b) AS BIGINT) * 20 <= length(a) + length(b)"))
      .queryExecution.analyzed
    assert(LevenshteinLengthPruning(castRel).toString.contains("abs("),
      "cast-wrapped relative form not rewritten")
    // two identical thresholds in one predicate infer ONE bound
    // (round-9 ADVICE: the old pass stacked a duplicate conjunct)
    val dup = df.filter(expr("levenshtein(a, b) <= 3 AND levenshtein(a, b) <= 3"))
      .queryExecution.analyzed
    val dupRewritten = LevenshteinLengthPruning(dup).toString
    assert("abs\\(".r.findAllIn(dupRewritten).size == 1,
      s"duplicate threshold inferred more than one bound:\n$dupRewritten")
  }

  test("rule is idempotent and leaves the bounded (3-arg) form alone") {
    import spark.implicits._
    val df = Seq(("abc", "abd")).toDF("a", "b")
    val analyzed = df.filter(expr("levenshtein(a, b) <= 1")).queryExecution.analyzed
    val once = LevenshteinLengthPruning(analyzed)
    assert(LevenshteinLengthPruning(once) == once)
    // the 3-arg form returns -1 above the threshold — different
    // algebra, must not be rewritten
    val bounded = df.filter(expr("levenshtein(a, b, 5) <= 1")).queryExecution.analyzed
    assert(LevenshteinLengthPruning(bounded) == bounded)
  }
}
