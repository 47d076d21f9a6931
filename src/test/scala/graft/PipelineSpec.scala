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

  test("hot blocks are capped and the drop is reported, not silent") {
    // tiny cap forces stopword-shingle blocks over the cap
    val blocks = Blocking.exactShingleBlocks(DocAssembly.assemble(t), 1)
    val (pairs, dropped) = Blocking.pairsFromBlocks(blocks, maxBlockSize = 10)
    assert(dropped.count() > 0)
    val maxPairKey = pairs.groupBy().agg(max("n_blocks")).as[Long].head()
    assert(maxPairKey > 0)
  }

  test("fused long-id pair path ≡ generic path (pairs equal, drops detected, state bounded)") {
    // same block table under both id types: long ids take the one-pass
    // bounded-collect plan, string ids the count+anti-join plan — pair
    // sets must be identical and every dropped key must appear in both
    val strBlocks = Blocking.exactShingleBlocks(DocAssembly.assemble(t), 1)
    val longBlocks = strBlocks.select(col("block_key"),
      xxhash64(col("conv_id")).as("conv_id"))
    val (pGen, dGen) = Blocking.pairsFromBlocks(strBlocks, maxBlockSize = 10)
    val (pFus, dFus) = Blocking.pairsFromBlocks(longBlocks, maxBlockSize = 10)
    // compare pair sets through the same hashing
    val gen = pGen.select(xxhash64(col("conv_a")).as("a"), xxhash64(col("conv_b")).as("b"),
      col("n_blocks")).as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (math.min(a, b), math.max(a, b), n) }.toSet
    val fus = pFus.select(col("conv_a"), col("conv_b"), col("n_blocks"))
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (math.min(a, b), math.max(a, b), n) }.toSet
    assert(gen == fus)
    // the prePartition plan shape (raw-shuffle-then-aggregate, no map-side
    // partial agg) must be a pure physical rewrite: identical pairs AND
    // identical drop audit
    val (pPre, dPre) =
      Blocking.pairsFromBlocks(longBlocks, maxBlockSize = 10, prePartition = true)
    val pre = pPre.select(col("conv_a"), col("conv_b"), col("n_blocks"))
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (math.min(a, b), math.max(a, b), n) }.toSet
    assert(pre == fus)
    assert(dPre.select("block_key").as[Long].collect().toSet ==
      dFus.select("block_key").as[Long].collect().toSet)
    // same dropped keys; fused sizes are the documented cap+1 lower bound
    assert(dGen.select("block_key").as[Long].collect().toSet ==
      dFus.select("block_key").as[Long].collect().toSet)
    assert(dFus.select("block_size").as[Long].collect().forall(_ == 11L))
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

  test("checkpointed run resumes from snapshots and is byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val io = new ParquetTableIO(spark, dir)
    val cfg = Pipeline.Config(blocking = Pipeline.ExactBlocking, maxBlockSize = 500)
    val first = Pipeline.runCheckpointed(t, cfg, io).clusters.orderBy("conv_id").collect()
    // second run must reuse every stage snapshot (resume) and match exactly
    val second = Pipeline.runCheckpointed(t, cfg, io).clusters.orderBy("conv_id").collect()
    assert(first.sameElements(second))
    assert(io.exists("clusters") && io.exists("edges") && io.exists("docs"))
    assert(io.readMetrics().nonEmpty)
  }
}
