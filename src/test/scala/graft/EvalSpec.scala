package graft

import graft.eval.{StrictEval, TrecEval}

/** Golden parity against the committed reference artifacts: the repo's
  * own evaluators must reproduce BASELINE.md's effectiveness table from
  * the reference's runs and qrels directories to 4 decimals.
  */
class EvalSpec extends SparkSpec {

  private def r4(x: Double) = math.rint(x * 10000) / 10000

  test("strict macro eval reproduces ERD MLMcg+Greedy = 0.7143/0.7125/0.7134 (BASELINE.md)") {
    val r = StrictEval.evaluate(spark,
      ReferenceFiles.path("qrels/ERD_elq.qrels"),
      ReferenceFiles.path("runs/dis/erd-mlmcg-greedy.run"))
    assert(r4(r.precision) == 0.7143, r)
    assert(r4(r.recall) == 0.7125, r)
    assert(r4(r.f1) == 0.7134, r)
  }

  test("strict macro eval reproduces Y-ERD LTR+Greedy = 0.7865/0.7870/0.7867 (BASELINE.md)") {
    val r = StrictEval.evaluate(spark,
      ReferenceFiles.path("qrels/Y-ERD_elq.qrels"),
      ReferenceFiles.path("runs/dis/yerd-ltr-greedy.run"))
    assert(r4(r.precision) == 0.7865, r)
    assert(r4(r.recall) == 0.7870, r)
    assert(r4(r.f1) == 0.7867, r)
  }

  test("TREC eval reproduces erd-mlmcg MAP/P@5/MRR/recall = 0.8543/0.2356/0.8852/0.9333") {
    val r = TrecEval.evaluate(
      TrecEval.readQrels(spark, ReferenceFiles.path("qrels/ERD_trec.qrels")),
      TrecEval.readRun(spark, ReferenceFiles.path("runs/cer/erd-mlmcg.run")))
    assert(r.nQueries == 45, r)
    assert(r4(r.map) == 0.8543, r)
    assert(r4(r.p5) == 0.2356, r)
    assert(r4(r.mrr) == 0.8852, r)
    assert(r4(r.recall) == 0.9333, r)
  }

  test("TREC eval reproduces yerd-ltr MAP = 0.8667 over 1256 queries") {
    val r = TrecEval.evaluate(
      TrecEval.readQrels(spark, ReferenceFiles.path("qrels/Y-ERD_trec.qrels")),
      TrecEval.readRun(spark, ReferenceFiles.path("runs/cer/yerd-ltr.run")))
    assert(r.nQueries == 1256, r)
    assert(r4(r.map) == 0.8667, r)
  }

  test("empty-qrels convention: P=R=1 iff results are also empty (evaluator_strict.py:137-140)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("eval").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/qrels.txt"),
      "q1\nq2\t1\te1\te2\n")
    // q1: empty qrels + empty results → 1/1; q2: exact match → 1/1
    Files.writeString(java.nio.file.Paths.get(s"$dir/good.txt"),
      "q2\t9.0\te2\te1\n")
    val good = StrictEval.evaluate(spark, s"$dir/qrels.txt", s"$dir/good.txt")
    assert(good.precision == 1.0 && good.recall == 1.0 && good.nQueries == 2)
    // q1 gets a spurious set → P=R=0 for q1; q2 unchanged → macro 0.5
    Files.writeString(java.nio.file.Paths.get(s"$dir/bad.txt"),
      "q1\t1.0\tex\nq2\t9.0\te2\te1\n")
    val bad = StrictEval.evaluate(spark, s"$dir/qrels.txt", s"$dir/bad.txt")
    assert(bad.precision == 0.5 && bad.recall == 0.5)
  }

  test("duplicate identical interpretation sets are rejected loudly") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("eval2").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/qrels.txt"), "q1\t1\te1\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/dup.txt"),
      "q1\t1.0\te1\te2\nq1\t0.5\te2\te1\n")
    val e = intercept[IllegalArgumentException] {
      StrictEval.evaluate(spark, s"$dir/qrels.txt", s"$dir/dup.txt")
    }
    assert(e.getMessage.contains("identical interpretations"))
  }
}
