package graft

import graft.pipeline._
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val t = TranscriptGen.transcripts(spark, nBase = 60, dupsPerBase = 2).cache()
  private lazy val labels = TranscriptGen.labels(spark, nBase = 60, dupsPerBase = 2).cache()

  test("generator: schema, dense turn_idx, deterministic") {
    assert(t.columns.toSeq == Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    // dense 0-based turn_idx per conversation
    val bad = t.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), max("turn_idx").as("mx"), min("turn_idx").as("mn"),
        countDistinct("turn_idx").as("nd"))
      .where($"mn" =!= 0 || $"mx" =!= $"n" - 1 || $"nd" =!= $"n")
      .count()
    assert(bad == 0)
    // deterministic: re-generation at different parallelism is identical
    val again = TranscriptGen.transcripts(spark, nBase = 60, dupsPerBase = 2).repartition(13)
    assert(t.exceptAll(again).isEmpty && again.exceptAll(t).isEmpty)
  }

  test("doc assembly preserves per-turn text (the per-row invariant)") {
    val docs = DocAssembly.assemble(t)
    val back = DocAssembly.explodeBack(docs)
    val orig = t.select("conv_id", "turn_idx", "text")
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
    assert(docs.count() == t.select("conv_id").distinct().count())
  }

  test("exact-shingle pipeline reaches pairwise F1 >= 0.99") {
    val res = Pipeline.run(t, Pipeline.Config(blocking = Pipeline.ExactBlocking, maxBlockSize = 500))
    val r = PairEval.pairwise(res.clusters, labels)
    info(s"exact blocking: P=${r.precision} R=${r.recall} F1=${r.f1} ($r)")
    assert(r.f1 >= 0.99, r.toString)
  }

  test("pure-LSH pipeline has high but imperfect recall (S-curve)") {
    val res = Pipeline.run(t, Pipeline.Config(blocking = Pipeline.LshBlocking, maxBlockSize = 500))
    val r = PairEval.pairwise(res.clusters, labels)
    info(s"LSH blocking: P=${r.precision} R=${r.recall} F1=${r.f1} ($r)")
    assert(r.precision == 1.0 && r.recall >= 0.9, r.toString)
  }

  test("hybrid (LSH + exact-shingle) pipeline reaches pairwise F1 >= 0.99") {
    val res = Pipeline.run(t, Pipeline.Config(maxBlockSize = 500))
    val r = PairEval.pairwise(res.clusters, labels)
    info(s"hybrid blocking: P=${r.precision} R=${r.recall} F1=${r.f1} ($r)")
    assert(r.f1 >= 0.99, r.toString)
  }

  /** `Blocking.pairsFromBlocks` output as sets: (conv_a, conv_b) → n_blocks
    * and dropped block_key → block_size.
    */
  private def pairsOf(blocks: org.apache.spark.sql.DataFrame, cap: Int,
                      prePartition: Boolean = false) = {
    val (pairs, dropped) = Blocking.pairsFromBlocks(blocks, cap, prePartition = prePartition)
    (pairs.select("conv_a", "conv_b", "n_blocks").as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap,
      dropped.select("block_key", "block_size").as[(Long, Long)].collect().toMap)
  }

  /** Plain-Scala pair generation over collected (block_key, id) rows: null
    * ids are skipped, keys with more than `cap` distinct members are
    * dropped, kept keys enumerate their a < b pairs, and each pair counts
    * the kept keys it shares. Returns (pairs → n_blocks, dropped keys).
    */
  private def referencePairs(rows: Seq[(Long, Option[Long])], cap: Int) = {
    val members = rows.collect { case (k, Some(id)) => (k, id) }
      .groupBy(_._1).map { case (k, kv) => k -> kv.map(_._2).distinct.sorted }
    val dropped = members.collect { case (k, m) if m.size > cap => k }.toSet
    val pairs = members.values.filter(_.size <= cap).toSeq
      .flatMap(m => for (i <- m.indices; j <- i + 1 until m.size) yield (m(i), m(j)))
      .groupBy(identity).map { case (p, occ) => p -> occ.size.toLong }
    (pairs, dropped)
  }

  /** The exact-shingle block table over 64-bit conversation hids. */
  private def hidBlocks(transcripts: org.apache.spark.sql.DataFrame, k: Int) =
    Blocking.exactShingleBlocks(DocAssembly.assemble(transcripts), k)
      .select(col("block_key"), xxhash64(col("conv_id")).as("conv_id"))

  test("hot blocks are capped and the drop is reported, not silent") {
    // tiny cap forces stopword-shingle blocks over the cap
    val (pairs, dropped) = Blocking.pairsFromBlocks(hidBlocks(t, 1), maxBlockSize = 10)
    assert(dropped.count() > 0)
    val maxPairKey = pairs.groupBy().agg(max("n_blocks")).as[Long].head()
    assert(maxPairKey > 0)
  }

  test("bounded-collect pair path ≡ scalar reference (pairs equal, drops detected, state bounded)") {
    val blocks = hidBlocks(t, 1)
    val (wantPairs, wantDropped) = referencePairs(
      blocks.select("block_key", "conv_id").as[(Long, Option[Long])].collect().toSeq, 10)
    val (fus, dFus) = pairsOf(blocks, 10)
    assert(wantDropped.nonEmpty && wantPairs.nonEmpty)
    assert(fus == wantPairs)
    // the prePartition plan shape (raw-shuffle-then-aggregate, no map-side
    // partial agg) must be a pure physical rewrite: identical pairs AND
    // identical drop audit
    assert(pairsOf(blocks, 10, prePartition = true) == ((fus, dFus)))
    // same dropped keys; sizes are the documented cap+1 lower bound
    assert(dFus.keySet == wantDropped)
    assert(dFus.values.forall(_ == 11L))
    // the aggregator's state bound: saturates at cap+1 distinct, dedups
    val agg = new graft.functions.BoundedCollectSet(4)
    val r = (1L to 100L).foldLeft(agg.zero)((b, v) => agg.reduce(agg.reduce(b, v), v))
    assert(r.toSeq == Seq(1L, 2L, 3L, 4L))
    val m = agg.merge(Array(1L, 3L, 5L), Array(2L, 3L, 7L, 9L))
    assert(m.toSeq == Seq(1L, 2L, 3L, 5L))
    // merge stays bounded + sorted-distinct from arbitrary partials
    val m2 = agg.merge(Array(1L, 2L, 3L), Array(4L, 5L, 6L, 7L))
    assert(m2.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("pair generation on degenerate block tables matches the scalar reference") {
    val cap = 3
    val oneDoc = hidBlocks(t.where($"conv_id" === t.select(min("conv_id")).as[String].head()), 3)
      .select("block_key", "conv_id").as[(Long, Option[Long])].collect().toSeq
    val cases = Seq(
      "empty block table" -> Seq.empty[(Long, Option[Long])],
      "one doc" -> oneDoc,
      // key 1: three rows, two distinct ids — kept at cap 3, one pair, no
      // self-pair; key 2: one id twice — a singleton, no pair
      "duplicate (block_key, id) rows" -> Seq(1L -> Some(10L), 1L -> Some(10L),
        1L -> Some(11L), 2L -> Some(10L), 2L -> Some(10L), 1L -> Some(11L)),
      // nulls neither pair nor count toward the cap
      "null ids" -> Seq(3L -> None, 3L -> Some(20L), 3L -> None, 3L -> Some(21L),
        3L -> Some(22L), 4L -> None),
      // key 5 holds exactly cap members (kept), key 6 cap + 1 (dropped),
      // key 7 ten (dropped, reported as cap + 1)
      "keys at cap and above" -> ((30L to 32L).map(id => 5L -> Some(id)) ++
        (30L to 33L).map(id => 6L -> Some(id)) ++ (40L to 49L).map(id => 7L -> Some(id))))
    for ((name, rows) <- cases) {
      val (wantPairs, wantDropped) = referencePairs(rows, cap)
      val blocks = rows.toDF("block_key", "conv_id")
      for (pre <- Seq(false, true)) {
        val (pairs, dropped) = pairsOf(blocks, cap, prePartition = pre)
        assert(pairs == wantPairs, s"$name (prePartition=$pre)")
        assert(dropped.keySet == wantDropped, s"$name (prePartition=$pre)")
        assert(dropped.values.forall(_ == cap + 1L), s"$name (prePartition=$pre)")
      }
    }
    assert(oneDoc.nonEmpty)
    val (atCap, overCap) = referencePairs(cases.toMap.apply("keys at cap and above"), cap)
    assert(atCap.size == 3 && overCap == Set(6L, 7L))
    // ids that are not bigint are refused when the plan is built
    for (ids <- Seq(Seq(("k", "a"), ("k", "b")).toDF("block_key", "conv_id"),
                    Seq((1L, 1), (1L, 2)).toDF("block_key", "conv_id"))) {
      val e = intercept[IllegalArgumentException](Blocking.pairsFromBlocks(ids, cap))
      assert(e.getMessage.contains(ids.schema("conv_id").dataType.sql) &&
        e.getMessage.contains("xxhash64"), e.getMessage)
    }
  }

  test("threshold-aware string-kernel prune: matched set identical, hopeless pairs skip the kernels") {
    val cfg = Pipeline.Config()
    // second input: no Jaccard weight and t == w_jw + w_lev, where only a
    // pair with identical prefixes (the twin of the first conversation)
    // reaches the threshold
    val first = t.select(min("conv_id")).as[String].head()
    val twin = t.where($"conv_id" === first).withColumn("conv_id", lit("twin"))
    val inputs = Seq(
      (t, cfg.weights, cfg.scoreThreshold),
      (t.unionByName(twin), Scoring.Weights(jaccard = 0, jaroWinkler = 0.5, levenshtein = 0.5), 1.0))
    for ((transcripts, w, threshold) <- inputs) {
      val docs = Pipeline.docsPayload(transcripts, cfg)
        .localCheckpoint(true)
      val (pairsDf, _) = Blocking.pairsFromBlocks(
        Pipeline.blocksPayload(docs, cfg), cfg.maxBlockSize)
      val pairs = pairsDf.localCheckpoint(true)
      val plain = Scoring.scorePairs(pairs, docs, w, cfg.prefixChars,
        cfg.levMaxDist, pairIdCol = "hid")
      val pruned = Scoring.scorePairs(pairs, docs, w, cfg.prefixChars,
        cfg.levMaxDist, pairIdCol = "hid",
        pruneBelowThreshold = Some(threshold))
      // the threshold cut sees exactly the same matches with the same scores
      val mPlain = Scoring.matchedPairs(plain, threshold)
      val mPruned = Scoring.matchedPairs(pruned, threshold)
      assert(mPlain.exceptAll(mPruned).isEmpty && mPruned.exceptAll(mPlain).isEmpty, w)
      assert(mPlain.count() > 0, w) // non-vacuous: the input has real matches
      // skipped pairs (jaccard below the guard) read jw = lev = 0 and can
      // never cross the threshold; surviving pairs carry identical values
      val guard =
        if (w.jaccard > 0) (threshold - w.jaroWinkler - w.levenshtein) / w.jaccard - 1e-9
        else Double.NegativeInfinity
      val skipped = pruned.where(col("jaccard") < guard)
      assert(skipped.where(col("jw") =!= 0d || col("lev_sim") =!= 0d).isEmpty)
      assert(skipped.where(col("score") >= threshold).isEmpty)
      val survivorsPlain = plain.where(col("jaccard") >= guard)
      val survivorsPruned = pruned.where(col("jaccard") >= guard)
      assert(survivorsPlain.exceptAll(survivorsPruned).isEmpty &&
        survivorsPruned.exceptAll(survivorsPlain).isEmpty)
    }
  }

  test("concurrent runs on one session each report their own stage seconds") {
    val small = t.where($"conv_id" < "c000000030")
    val runs = Seq(t, small).map { input =>
      scala.concurrent.Future(Pipeline.run(input))(scala.concurrent.ExecutionContext.global)
    }.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    for (r <- runs) {
      assert(r.stageSeconds.keySet == Set("docs", "pairs", "scored", "clusters"), r.stageSeconds)
      assert(r.stageSeconds.values.forall(_ >= 0), r.stageSeconds)
    }
    assert(runs.map(_.clusters.count()) ==
      Seq(t, small).map(_.select("conv_id").distinct().count()))
  }

  test("clusters and matched edges are independent of shuffle partitions and input order") {
    // canonical forms: clusters as a set of member sets, edges as
    // (smaller id, larger id, score)
    def canon(r: Pipeline.StageResult) = (
      r.clusters.groupBy("cluster_id").agg(collect_set("conv_id"))
        .as[(String, Seq[String])].collect().map(_._2.toSet).toSet,
      r.matchedEdges.select(least($"conv_a", $"conv_b"), greatest($"conv_a", $"conv_b"),
        $"score").as[(String, String, Double)].collect().toSet)
    val reordered = t.orderBy($"conv_id".desc, $"turn_idx".desc).repartition(7)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      val base = canon(Pipeline.run(t))
      assert(base._2.nonEmpty && base._1.exists(_.size > 1)) // non-vacuous
      for (n <- Seq(1, 7, 64); (name, input) <- Seq("as-is" -> t, "reordered" -> reordered)) {
        spark.conf.set(key, n.toString)
        assert(canon(Pipeline.run(input)) == base, s"$name input, $n shuffle partitions")
      }
    } finally spark.conf.set(key, saved)
  }

  test("checkpointed run resumes from snapshots and is byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val io = new ParquetTableIO(spark, dir)
    val cfg = Pipeline.Config(blocking = Pipeline.ExactBlocking, maxBlockSize = 500)
    def rows(r: Pipeline.StageResult) = (
      r.clusters.orderBy("conv_id").collect().toSeq,
      r.matchedEdges.orderBy("conv_a", "conv_b").collect().toSeq)
    val firstRun = Pipeline.runCheckpointed(t, cfg, io)
    val first = rows(firstRun)
    // second run must reuse every stage snapshot (resume) and match exactly
    val second = rows(Pipeline.runCheckpointed(t, cfg, io))
    assert(first == second)
    assert(io.exists("clusters") && io.exists("edges") && io.exists("docs"))
    assert(io.readMetrics().nonEmpty)
    // the snapshots hold what an in-memory run on the same input returns
    val inMemory = rows(Pipeline.run(t, cfg))
    assert(first._1 == inMemory._1, "TableIO clusters differ from Pipeline.run's")
    assert(first._2 == inMemory._2, "TableIO matched edges differ from Pipeline.run's")
    // under the finisher's edge bound the components close on the driver,
    // as in memory: no distributed round is written
    val edges = firstRun.matchedEdges.count()
    assert(edges > 0 && edges <= ConnectedComponents.defaultLocalMaxEdges, s"$edges edges")
    val rounds = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.startsWith("cc_round_"))
    assert(rounds.isEmpty, s"round tables under the edge bound: $rounds")
  }
}
