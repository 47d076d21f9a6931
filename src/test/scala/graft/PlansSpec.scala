package graft

import graft.plans.GraftExtensions
import graft.functions._
import org.apache.spark.sql.functions._

class PlansSpec extends SparkSpec {
  import spark.implicits._

  test("jaro_winkler is callable from SQL after install") {
    GraftExtensions.install(spark)
    val v = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS jw").as[Double].head()
    assert(math.abs(v - SimilarityKernels.jaroWinkler("martha", "marhta")) < 1e-12)
  }

  test("length-prune rule strengthens jw >= tau filters and preserves results") {
    GraftExtensions.install(spark)
    // file-backed relation so the filter survives into the optimized plan
    // (local Seqs get constant-folded away, predicate and all)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", norm_text($"text").as("a"),
        concat(norm_text($"text"), lit("x")).as("b"))
    val q = df.where(jaro_winkler($"a", $"b") >= 0.9)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("least(length"), optimized)
    // the rule must not change results: every row here has jw ≈ 1 > 0.9
    val expected = df.collect().count(r =>
      SimilarityKernels.jaroWinkler(r.getString(1), r.getString(2)) >= 0.9)
    assert(q.count() == expected)
    // idempotence: exactly one bound injected despite the fixed-point batch
    assert("least\\(length".r.findAllIn(optimized).size == 1, optimized)
  }

  test("length bound is conservative (never drops a qualifying pair)") {
    val rnd = new scala.util.Random(3)
    def s() = (0 until rnd.nextInt(12)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    (0 until 2000).foreach { _ =>
      val (a, b) = (s(), s())
      val jw = SimilarityKernels.jaroWinkler(a, b)
      val (mn, mx) = (math.min(a.length, b.length), math.max(a.length, b.length))
      Seq(0.85, 0.9, 0.95).foreach { tau =>
        if (jw >= tau) assert(mn.toDouble >= mx * (5 * tau - 4) - 1e-9,
          s"bound violated: '$a' '$b' jw=$jw tau=$tau")
      }
    }
  }
}
