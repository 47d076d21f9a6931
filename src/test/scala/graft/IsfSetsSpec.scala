package graft

import graft.ml.Ltr
import graft.eval.StrictEval
import graft.operators.{Features, IsfSets}
import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IsfSetsSpec extends SparkSpec {
  import spark.implicits._

  private def cands(rows: (String, String, String, String, Double)*): DataFrame =
    rows.map { case (q, t, m, e, s) => (q, t, m, e, s, 1, s) }
      .toDF("qid", "qtext", "mention", "entity", "score", "rnk", "cmn")

  private def isetsOf(df: DataFrame): Set[Set[(String, String)]] =
    IsfSets.enumerate(df).toDF()
      .groupBy("qid", "iset_id")
      .agg(collect_list(struct(col("entity"), col("mention"))).as("m"))
      .select("m").as[Seq[(String, String)]].collect()
      .map(_.toSet).toSet

  test("enumeration matches the segmentation.py:14-88 example shape") {
    // query "jon gruden rumors" with mentions/entities:
    //   jon gruden→JG, gruden→G, rumors→R, jon→{J1,J2}
    // docstring segmentations: 9; with jon carrying 2 entities the iset
    // count is 13 (the two multi-mention segmentations containing "jon"
    // double up)
    val df = cands(
      ("q1", "jon gruden rumors", "jon gruden", "JG", 0.9),
      ("q1", "jon gruden rumors", "gruden", "G", 0.8),
      ("q1", "jon gruden rumors", "rumors", "R", 0.7),
      ("q1", "jon gruden rumors", "jon", "J1", 0.6),
      ("q1", "jon gruden rumors", "jon", "J2", 0.5))
    val got = isetsOf(df)
    val expected = Set(
      Set("JG" -> "jon gruden"),
      Set("G" -> "gruden"),
      Set("R" -> "rumors"),
      Set("J1" -> "jon"), Set("J2" -> "jon"),
      Set("JG" -> "jon gruden", "R" -> "rumors"),
      Set("G" -> "gruden", "R" -> "rumors"),
      Set("G" -> "gruden", "J1" -> "jon"), Set("G" -> "gruden", "J2" -> "jon"),
      Set("R" -> "rumors", "J1" -> "jon"), Set("R" -> "rumors", "J2" -> "jon"),
      Set("G" -> "gruden", "R" -> "rumors", "J1" -> "jon"),
      Set("G" -> "gruden", "R" -> "rumors", "J2" -> "jon"))
    assert(got == expected)
  }

  test("entity collapse: one entity on two mentions never forms a 2-set (completeness filter)") {
    val df = cands(
      ("q1", "alpha beta", "alpha", "E", 0.9),
      ("q1", "alpha beta", "beta", "E", 0.8))
    assert(isetsOf(df) == Set(Set("E" -> "alpha"), Set("E" -> "beta")))
  }

  test("word overlap excludes subsets sharing a term (is_overlapping)") {
    // "the man" vs "man": overlap on 'man' → never together
    val df = cands(
      ("q1", "the man sings", "the man", "A", 0.9),
      ("q1", "the man sings", "man", "B", 0.8),
      ("q1", "the man sings", "sings", "C", 0.7))
    val got = isetsOf(df)
    assert(!got.exists(s => s.exists(_._2 == "the man") && s.exists(_._2 == "man")))
    assert(got.contains(Set("A" -> "the man", "C" -> "sings")))
    assert(got.contains(Set("B" -> "man", "C" -> "sings")))
    assert(got.size == 5)
  }

  test("null scores are dropped before enumeration (set_generator.py:160-168)") {
    val df = Seq(
      ("q1", "a b", "a", "E1", Some(0.9), 1, 0.9),
      ("q1", "a b", "b", "E2", None: Option[Double], 1, 0.5))
      .toDF("qid", "qtext", "mention", "entity", "score", "rnk", "cmn")
    assert(isetsOf(df) == Set(Set("E1" -> "a")))
  }

  test("topKCandidates: min-max normalize for MLM, CER rank cut keeps all mentions of ranked entities") {
    val df = Seq(
      // entity max-scores: E1=10 (rank 1), E2=8 (rank 2), E3=5 (rank 3)
      ("q1", "t", "m1", "E1", 10.0, 0.3),
      ("q1", "t", "m2", "E1", 6.0, 0.2),
      ("q1", "t", "m1", "E2", 8.0, 0.4),
      ("q1", "t", "m3", "E3", 5.0, 0.1))
      .toDF("qid", "qtext", "mention", "entity", "score", "cmn")
    val top2 = IsfSets.topKCandidates(df, 2, normalizeMlm = true)
    val rows = top2.select("mention", "entity", "score", "rnk")
      .as[(String, String, Double, Int)].collect().toSet
    // normalized: (s - 5) / 5
    assert(rows == Set(("m1", "E1", 1.0, 1), ("m2", "E1", 0.2, 1), ("m1", "E2", 0.6, 2)))
  }

  test("setFeatures: aggregates + len_ratio_set hand-computed") {
    val members = Seq(
      ("q1", "alpha beta gamma delta", 0, "E1", "alpha beta", 0.8, 1, 0.5),
      ("q1", "alpha beta gamma delta", 0, "E2", "gamma", 0.4, 2, 0.25))
      .toDF("qid", "qtext", "iset_id", "entity", "mention", "score", "rnk", "cmn")
    val f = IsfSets.setFeatures(members).head()
    def d(n: String) = f.getDouble(f.fieldIndex(n))
    assert(d("n") == 2.0)
    assert(math.abs(d("len_ratio_set") - 3.0 / 4.0) < 1e-12)
    assert(d("score_min") == 0.4 && d("score_max") == 0.8 &&
      math.abs(d("score_avg") - 0.6) < 1e-12)
    assert(d("irank_min") == 0.5 && d("irank_max") == 1.0 &&
      math.abs(d("irank_avg") - 0.75) < 1e-12)
    assert(d("commonness_min") == 0.25 && d("commonness_max") == 0.5)
  }

  test("fullFeatures: graph + FACC set features join in with the reference conventions") {
    val members = Seq(
      ("q1", "alpha beta", 0, "E1", "alpha", 0.9, 1, 0.6),
      ("q1", "alpha beta", 0, "E2", "beta", 0.7, 2, 0.4),
      ("q1", "alpha beta", 1, "E1", "alpha", 0.9, 1, 0.6))
      .toDF("qid", "qtext", "iset_id", "entity", "mention", "score", "rnk", "cmn")
    val links = Seq(
      ("E1", Seq("E2", "X")), ("E2", Seq("X")))
      .toDF("entity", "links")
    val facc = Seq(("D1", "E1"), ("D1", "E2"), ("D2", "E1"))
      .toDF("doc_id", "entity")
    val out = IsfSets.fullFeatures(members, Some(links), Some((facc, 4L)))
      .collect().map(r => r.getInt(r.fieldIndex("iset_id")) -> r).toMap
    def d(i: Int, c: String) = { val r = out(i); r.getDouble(r.fieldIndex(c)) }
    // pair set {E1, E2}: one KB edge (E2 ∈ links(E1)) → completeness 1;
    // common neighbor X only → j_kb = 1/2; FACC: and=|{D1}|=1, or=2,
    // jc=0.5; mw = 1 − (ln2−ln1)/(ln4−ln1) = 0.5; p = 1/4
    assert(d(0, "completeness") == 1.0)
    assert(d(0, "common_links") == 1.0 && d(0, "total_links") == 2.0)
    assert(d(0, "j_kb") == 0.5)
    assert(d(0, "j_corpora") == 0.5)
    assert(math.abs(d(0, "rel_mw") - 0.5) < 1e-12)
    assert(math.abs(d(0, "p_joint") - 0.25) < 1e-12)
    assert(math.abs(d(0, "h_joint") -
      (-(0.25 * math.log(0.25)) - 0.75 * math.log(0.75))) < 1e-12)
    // singleton {E1}: reference conventions — graph common/jc −1,
    // completeness 1; FACC jc/mw −1; joint prob = freq(E1)/numDocs
    assert(d(1, "common_links") == -1.0 && d(1, "j_kb") == -1.0)
    assert(d(1, "completeness") == 1.0)
    assert(d(1, "j_corpora") == -1.0 && d(1, "rel_mw") == -1.0)
    assert(math.abs(d(1, "p_joint") - 0.5) < 1e-12)
    // aggregates still present alongside
    assert(d(0, "n") == 2.0 && d(1, "n") == 1.0)
    assert(math.abs(d(0, "len_ratio_set") - 1.0) < 1e-12)
  }

  test("labelByGt: exact (entity, mention) set equality only") {
    val members = Seq(
      ("q1", "t", 0, "E1", "a", 0.9, 1, 0.9), // matches gt set 0
      ("q1", "t", 1, "E1", "a", 0.9, 1, 0.9), // superset — no match
      ("q1", "t", 1, "E2", "b", 0.8, 2, 0.8),
      ("q1", "t", 2, "E2", "a", 0.8, 2, 0.8)) // right entity, wrong mention
      .toDF("qid", "qtext", "iset_id", "entity", "mention", "score", "rnk", "cmn")
    val gt = Seq(("q1", "0", "E1", "a")).toDF("qid", "set_id", "entity", "mention")
    val labels = IsfSets.labelByGt(members, Features.gtToIsfInstances(gt))
      .select("iset_id", "label").as[(Int, Double)].collect().toMap
    assert(labels == Map(0 -> 1.0, 1 -> 0.0, 2 -> 0.0))
  }

  test("Y-ERD set-detector end-to-end: MLMcg+LTR and LTR+LTR strict F1 in band of the reference rows") {
    val gt = Readers.readYerdTsv(spark, ReferenceFiles.path("data/Y-ERD.tsv"))
    val queries = gt.select(col("qid"), graft.functions.norm_text(col("query")).as("qtext"))
      .distinct()
    val instances = Ltr.yerdCvInstances(gt).localCheckpoint(true)

    val gtIsf = Features.gtToIsfInstances(
      gt.where(col("mention").isNotNull && col("freebase_id").isNotNull)
        .select(col("qid"), col("set_id"),
          col("freebase_id").as("entity"),
          graft.functions.norm_text(col("mention")).as("mention")))
      .localCheckpoint(true)

    def detect(cer: DataFrame, normalizeMlm: Boolean, tag: String,
               refF1: Double): Double = {
      val top = IsfSets.topKCandidates(
        cer.join(queries, "qid"), 5, normalizeMlm)
      val members = IsfSets.enumerate(top).toDF().localCheckpoint(true)
      val feats = IsfSets.setFeatures(members)
      val labeled = feats.join(IsfSets.labelByGt(members, gtIsf), Seq("qid", "iset_id"))
      val classified = Ltr.crossValidateGbt(labeled, IsfSets.BaseFeatures, "label",
        5, Ltr.GbtConfig(numTrees = 60, maxDepth = 3))
      val kept = IsfSets.keptMembers(members, classified)
      val dir = java.nio.file.Files.createTempDirectory(s"isf$tag").toString
      Readers.writeErdEval(kept, s"$dir/run")
      val strict = StrictEval.evaluate(spark,
        ReferenceFiles.path("qrels/Y-ERD_elq.qrels"), s"$dir/run")
      info(f"Y-ERD $tag strict: P=${strict.precision}%.4f R=${strict.recall}%.4f " +
        f"F1=${strict.f1}%.4f (reference row $refF1%.4f)")
      assert(strict.nQueries > 1000)
      strict.f1
    }

    // MLMcg+LTR analog: CER score = commonness (the dictionary-computable
    // generative prior; the full MLM needs the entity corpus the repo does
    // not ship), min-max normalized as the reference does for non-LTR
    // scores. Band: the gt-derived dictionary has recall 1.0, so the run
    // may exceed the reference row — require within-or-above row − 0.05.
    val f1Mlm = detect(
      instances.select(col("qid"), col("mention"), col("entity"),
        col("cmn").as("score"), col("cmn")),
      normalizeMlm = true, "MLMcg+LTR", 0.7245)
    assert(f1Mlm >= 0.7245 - 0.05, f"MLMcg+LTR F1 $f1Mlm%.4f below band")

    // LTR+LTR: CER scores from the 5-fold session-CV LTR ranker (the
    // LtrSpec pipeline), unnormalized (is_ltr — set_generator.py:41-44).
    val cfg = Ltr.RfConfig(numTrees = 200, featuresPerSplit = 3, maxDepth = 12)
    val cv = Ltr.crossValidate(instances, Ltr.YerdFeatures, "label", 5, cfg)
    val f1Ltr = detect(
      cv.select(col("qid"), col("mention"), col("entity"), col("score"), col("cmn")),
      normalizeMlm = false, "LTR+LTR", 0.7314)
    assert(f1Ltr >= 0.7314 - 0.05, f"LTR+LTR F1 $f1Ltr%.4f below band")
  }
}
