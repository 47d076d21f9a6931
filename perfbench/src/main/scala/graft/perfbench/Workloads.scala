package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline._

/** What a workload hands back: metric values by name (units are declared
  * in [[Metrics]]) and facts about its inputs for the run's detail line.
  */
final case class Outcome(values: Map[String, Double], inputs: Map[String, Any])

/** Inputs shared by every workload of one run. `brokenCheck` makes the
  * workload corrupt the output it checks, so the smoke test can show that
  * a failing check fails the run.
  */
final case class Ctx(spark: SparkSession, h: Harness, dir: String, seed: Long,
                     scale: Scale, traced: Boolean, brokenCheck: Boolean) {
  def tracer: Tracer = h.tracer
  /** All singletons: what a check sees when the program links nothing. */
  def corrupt(clusters: DataFrame): DataFrame =
    if (brokenCheck) clusters.select(col("conv_id"), col("conv_id").as("cluster_id"))
    else clusters
}

/** Input sizes. `bench` is what BENCHMARK.json runs; `smoke` is the tiny
  * size of the benchmark's own smoke test.
  */
final case class Scale(linkBases: Long, chainNodes: Long,
                       inputFiles: Int, kernelSeconds: Double)

object Scale {
  val bench = Scale(linkBases = 1200, chainNodes = 24000,
    inputFiles = 8, kernelSeconds = 0.25)
  val smoke = Scale(linkBases = 60, chainNodes = 800,
    inputFiles = 2, kernelSeconds = 0.02)
}

object Workloads {
  private val Ser = StorageLevel.MEMORY_AND_DISK_SER
  /** Set-up passes per run; setup_s is their median. */
  private val SetupReps = 3
  /** Reps per run at least, whatever `--seconds` says; the first is the
    * warm-up (see [[Harness.median]]).
    */
  private val MinReps = 3

  private def repeatSetup[T](h: Harness)(f: => T): T =
    (1 to SetupReps).map(_ => h.setup(f)).last

  private def f1Check(c: Ctx, name: String, r: PairEval.Result): Double = {
    c.h.check(name, r.f1 >= 0.99, f"pairwise F1 ${r.f1}%.4f < 0.99 ($r)")
    r.f1
  }

  // --------------------------------------------------------------------- link

  /** Batch linkage and the daily maintenance job on one generated corpus.
    *
    * Op `full`: Pipeline.run over the whole staged corpus, clusters to a
    * noop sink. Op `day`: the maintenance job from the day-0 snapshot store
    * (docs, blocks, clusters, matched edges of the corpus minus the delta),
    * in a fresh copy of it: IncrementalPipeline.run on the ~5% delta,
    * commitSnapshots, then retract of a small deletion request against the
    * committed state, healed clusters to a noop sink.
    */
  def link(c: Ctx): Outcome = {
    val spark = c.spark; val h = c.h; val t = c.tracer
    val cfg = Pipeline.Config()
    val nBase = c.scale.linkBases
    val day0Dir = s"${c.dir}/day0"
    val workDir = s"${c.dir}/work"
    val dupIdx = split(col("conv_id"), "_").getItem(1).cast("int")
    val baseIdx = substring(col("conv_id"), 2, 9).cast("long")
    // ~4.8% of conversations arrive in the delta: dup 2 of every 7th base,
    // each linking into an existing cluster
    val isDelta = dupIdx === 2 && baseIdx % 7 === 0

    val (all, delta, labels) = repeatSetup(h) {
      val gen = TranscriptGen.transcripts(spark, nBase, dupsPerBase = 2, seed = c.seed)
      (Harness.stage(gen, s"${c.dir}/all", c.scale.inputFiles),
        Harness.stage(gen.where(isDelta), s"${c.dir}/delta", 1),
        Harness.stage(TranscriptGen.labels(spark, nBase, dupsPerBase = 2, seed = c.seed),
          s"${c.dir}/labels", 1))
    }
    h.mark("setup")
    val turns = all.count()
    val deltaTurns = delta.count()
    val prior = all.where(!isDelta)
    // the deletion request: dup 1 of every 50th base
    val gone = Harness.stage(all.select("conv_id").distinct()
      .where(dupIdx === 1 && baseIdx % 50 === 3), s"${c.dir}/gone", 1)
    val nGone = gone.count()
    val day0 = new ParquetTableIO(spark, day0Dir)
    day0.write(Pipeline.docsPayload(prior, cfg), "docs")
    day0.write(Pipeline.blocksPayload(day0.read("docs"), cfg), "blocks")
    val run0 = Pipeline.run(prior, cfg)
    day0.write(run0.clusters, "clusters")
    day0.write(run0.matchedEdges, "matched_edges")
    h.clear()
    h.mark("day0_store")

    def full(): DataFrame = {
      val r = Pipeline.run(all, cfg); Harness.noop(r.clusters); r.clusters
    }
    def freshStore(): ParquetTableIO = {
      deleteTree(Paths.get(workDir))
      copyTree(Paths.get(day0Dir), Paths.get(workDir))
      new ParquetTableIO(spark, workDir)
    }
    var dayNotes = Map.empty[String, Double]
    def day(io: ParquetTableIO): DataFrame = {
      val r = t.span("pipeline.IncrementalPipeline.run")(IncrementalPipeline.run(
        delta, io.read("docs"), io.read("clusters"), cfg, Some(io.read("blocks"))))
      val expired = t.span("pipeline.TableIO.commit")(
        IncrementalPipeline.commitSnapshots(io, r, keepLast = 1))
      if (t.enabled) dayNotes = Map(
        "matched" -> t.untraced(r.matchedEdges.count()).toDouble,
        "expired" -> expired.values.map(_.size).sum.toDouble)
      t.span("pipeline.IncrementalPipeline.retract") {
        val kept = IncrementalPipeline.retract(gone, io.read("clusters"),
          io.read("matched_edges")).clusters
        Harness.noop(kept)
        kept
      }
    }

    // checks on the first rep's outputs. The day: retract removes exactly
    // the requested ids and keeps every other one. The full run: its
    // clusters score F1 >= 0.99 and equal the day's committed clusters.
    // Retract's output reads the day's checkpoints, so its check runs
    // before they are dropped.
    val nConvs = all.select("conv_id").distinct().count()
    def dayChecks(kept: DataFrame): Unit = {
      val row = kept.join(gone.withColumn("gone", lit(1)), Seq("conv_id"), "left")
        .agg(count(lit(1)), count(col("gone"))).head()
      val (survivors, left) = (row.getLong(0), row.getLong(1))
      h.check("link.day.retract_removes_ids", left == 0 && survivors == nConvs - nGone,
        s"left=$left survivors=$survivors expected=${nConvs - nGone}")
      if (t.enabled) {
        t.note("pipeline.IncrementalPipeline.run", "rows_out", dayNotes("matched"))
        t.note("pipeline.TableIO.commit", "snapshots_expired", dayNotes("expired"))
        t.note("pipeline.IncrementalPipeline.retract", "rows_out", survivors.toDouble)
      }
    }
    var f1 = 0.0
    def fullChecks(io: ParquetTableIO, fullClusters: DataFrame): Unit = {
      val full = c.corrupt(fullClusters)
      f1 = f1Check(c, "link.full.pairwise_f1", PairEval.pairwise(full, labels))
      val inc = c.corrupt(io.read("clusters"))
      val diff = inc.exceptAll(full).count() + full.exceptAll(inc).count()
      h.check("link.day.incremental_equals_full", diff == 0, s"$diff differing rows")
      f1Check(c, "link.day.pairwise_f1", PairEval.pairwise(inc, labels))
    }

    // one rep: a day from a fresh copy of day 0, then the full recompute
    val inputs = Map("turns" -> turns, "bases" -> nBase, "dups_per_base" -> 2,
      "delta_turns" -> deltaTurns, "retracted" -> nGone)
    if (!c.traced) {
      // both ops still speed up from the second rep to the third, and a
      // burst of host load can cover a whole rep: one rep more than the
      // least, so that each median is over three reps, not two
      h.loop(MinReps + 1, h.seconds) { i =>
        val io = freshStore()
        val kept = h.timed("day")(day(io))
        if (i == 0) dayChecks(c.corrupt(kept))
        h.endOp("day")
        val cl = h.timed("full")(full())
        if (i == 0) fullChecks(io, cl)
        h.endOp("full")
      }
      deleteTree(Paths.get(workDir))
      val fullS = h.median("full")
      return Outcome(Map("setup_s" -> h.setupMedian, "op_s" -> fullS,
        "op2_s" -> h.median("day"), "pairwise_f1" -> f1),
        inputs ++ Map("link_turns_per_s" -> turns / fullS))
    }

    // traced run: untraced full runs give the baseline the tracing overhead
    // is read against, then traced days and traced full runs
    h.loop(MinReps, h.seconds / 3.0) { _ => h.timed("full")(full()); h.endOp("full") }
    val base = h.median("full")
    var extras = Map.empty[String, Double]
    h.loop(MinReps, 2 * h.seconds / 3.0) { i =>
      t.nextOp()
      val io = freshStore()
      val kept = day(io)
      if (i == 0) t.untraced(dayChecks(c.corrupt(kept)))
      h.endOp("day")
      val (n, cl) = tracedLink(c, all, cfg, countRows = i == 0)
      if (i == 0) { extras = n; t.untraced(fullChecks(io, cl)) }
      h.endOp("full")
    }
    deleteTree(Paths.get(workDir))
    val rep = t.report()
    val traced = rep.get("pipeline.run").fold(0.0)(_("wall_s"))
    val selfSum = LinkLayers.map(l => rep.get(l).fold(0.0)(_("self_s"))).sum
    val priorRows = rep.get("pipeline.IncrementalPipeline.run")
      .fold(0.0)(_("input_records")) - deltaTurns
    Outcome(extras ++ Kernels.run(c.seed, c.scale.kernelSeconds) ++ Map(
      "storage.cache_peak_mb" -> h.cachePeakMb,
      "trace.overhead_s" -> (traced - base),
      "pipeline.IncrementalPipeline.scan_ratio" -> priorRows / deltaTurns),
      inputs ++ Map("untraced_median_s" -> base, "traced_median_s" -> traced,
        "span_self_sum_s" -> selfSum))
  }

  private val LinkLayers = Seq("pipeline.DocAssembly", "pipeline.Blocking.keys",
    "pipeline.Blocking.pairs", "pipeline.Scoring", "pipeline.ConnectedComponents")

  /** Pipeline.run's in-memory path, one span per layer, with the same
    * materialization points, except that block keys are materialized as
    * their own span. Counts and ratios are taken between spans, on the
    * first traced rep only.
    */
  private def tracedLink(c: Ctx, tr: DataFrame, cfg: Pipeline.Config,
                         countRows: Boolean): (Map[String, Double], DataFrame) = {
    val t = c.tracer; val h = c.h
    var out = Map.empty[String, Double]
    def rows(span: String, df: DataFrame): Long =
      if (!countRows) 0L
      else {
        val n = t.untraced(df.count()); t.note(span, "rows_out", n.toDouble); n
      }
    val clusters = t.span("pipeline.run") {
      val docs = t.span("pipeline.DocAssembly")(
        Pipeline.docsPayload(tr, cfg).localCheckpoint(true, Ser))
      val nDocs = rows("pipeline.DocAssembly", docs)
      val blocks = t.span("pipeline.Blocking.keys")(
        Pipeline.blocksPayload(docs, cfg).localCheckpoint(true, Ser))
      val nKeys = rows("pipeline.Blocking.keys", blocks)
      val (pairsDf, droppedDf) = Blocking.pairsFromBlocks(blocks, cfg.maxBlockSize,
        prePartition = cfg.prePartitionPairs)
      val pairs = t.span("pipeline.Blocking.pairs")(pairsDf.localCheckpoint(true, Ser))
      val nPairs = rows("pipeline.Blocking.pairs", pairs)
      val obs = new Observation()
      val scored = t.span("pipeline.Scoring")(
        Scoring.scorePairs(pairs, docs, cfg.weights, cfg.prefixChars, cfg.levMaxDist,
          pairIdCol = "hid", pruneBelowThreshold = Some(cfg.scoreThreshold))
          .observe(obs, sum(when(col("score") >= cfg.scoreThreshold, 1L).otherwise(0L)).as("n"))
          .localCheckpoint(true, Ser))
      rows("pipeline.Scoring", scored)
      val deadline = System.nanoTime() + 2000000000L
      while (!obs.future.isCompleted && System.nanoTime() < deadline) Thread.sleep(10)
      val known = if (obs.future.isCompleted)
        obs.get.get("n").map(v => Option(v).fold(0L)(_.asInstanceOf[Number].longValue))
      else None
      var rounds = 0
      val before = h.storageMb()
      val clusters = t.span("pipeline.ConnectedComponents") {
        val edges = Scoring.matchedPairs(scored, cfg.scoreThreshold)
          .select(col("conv_a").as("src"), col("conv_b").as("dst"))
        val cl = ConnectedComponents.runWithUniverse(edges, docs.select(col("conv_id")),
          (df, _) => df.localCheckpoint(false, Ser),
          onRound = (_, _, _) => rounds += 1,
          localMaxEdges = ConnectedComponents.defaultLocalMaxEdges,
          edgesDistinct = true, knownEdgeCount = known).localCheckpoint(true, Ser)
        Harness.noop(cl)
        cl
      }
      if (countRows) {
        t.note("pipeline.ConnectedComponents", "result_mb", h.storageMb() - before)
        rows("pipeline.ConnectedComponents", clusters)
        t.untraced {
          val emitted = pairs.agg(sum(col("n_blocks"))).head().getLong(0)
          val matched = Scoring.matchedPairs(scored, cfg.scoreThreshold).count()
          out = Map(
            "pipeline.Blocking.keys_per_doc" -> nKeys.toDouble / nDocs,
            "pipeline.Blocking.pair_redundancy" -> emitted.toDouble / nPairs,
            "pipeline.Blocking.dropped_blocks" -> droppedDf.count().toDouble,
            "pipeline.Scoring.match_ratio" -> matched.toDouble / nPairs,
            "pipeline.ConnectedComponents.finisher_taken" -> (if (rounds == 0) 1.0 else 0.0))
        }
      }
      clusters
    }
    (out, clusters)
  }

  // ------------------------------------------------------------ cluster_graph

  /** ConnectedComponents.runWithUniverse on path components of 8 nodes,
    * forced onto the distributed large/small-star rounds (op `rounds`,
    * localMaxEdges = 0) and on the driver finisher (op `finisher`, the
    * heap-derived default bound, [[FinisherOpsPerRep]] times per rep).
    * Each op's sink is an eager local checkpoint of the assignment, which
    * the first rep's checks read.
    */
  def clusterGraph(c: Ctx): Outcome = {
    val spark = c.spark; val h = c.h; val t = c.tracer
    val n = c.scale.chainNodes
    val chain = (col("id") / ChainLen).cast("long")
    val pos = pmod(col("id"), lit(ChainLen))
    // node names sort along each path, so every path needs the full round
    // count; the seeded prefix scatters paths across partitions
    def name(id: org.apache.spark.sql.Column) = {
      val ch = (id / ChainLen).cast("long")
      format_string("%08x%09d_%02d", pmod(xxhash64(lit(c.seed), ch), lit(1L << 32)), ch,
        pmod(id, lit(ChainLen)))
    }
    val (edges, nodes) = repeatSetup(h) {
      val ids = spark.range(n)
      (Harness.stage(ids.where(pos =!= ChainLen - 1 && col("id") + 1 < n)
        .select(name(col("id")).as("src"), name(col("id") + 1).as("dst")),
        s"${c.dir}/edges", c.scale.inputFiles),
        Harness.stage(ids.select(name(col("id")).as("conv_id"),
          name(chain * ChainLen).as("expected"), chain.as("chain")),
          s"${c.dir}/nodes", c.scale.inputFiles))
    }
    h.mark("setup")
    val nEdges = edges.count()
    val universe = nodes.select("conv_id")
    val finisherBound = ConnectedComponents.defaultLocalMaxEdges

    var roundTimes = Vector.empty[Double]
    def cc(bound: Long): DataFrame = {
      var last = System.nanoTime()
      roundTimes = Vector.empty
      ConnectedComponents.runWithUniverse(edges, universe, onRound = (_, _, _) => {
        val now = System.nanoTime(); roundTimes :+= (now - last) / 1e9; last = now
      }, localMaxEdges = bound)
    }

    // each op's output is materialized as its sink; the first rep's outputs
    // are checked: every node's cluster is its path's min name, on both paths
    var f1 = 0.0
    def check(path: String, got: DataFrame): Unit = t.untraced {
      val out = c.corrupt(got)
      val bad = out.join(nodes, Seq("conv_id"), "full_outer")
        .where(col("cluster_id").isNull || col("expected").isNull ||
          col("cluster_id") =!= col("expected")).count()
      h.check(s"cluster_graph.$path.cluster_is_path_min", bad == 0, s"$bad nodes wrong")
      if (path == "rounds") {
        f1 = chainF1(out, nodes)
        h.check("cluster_graph.pairwise_f1", f1 >= 0.99, f"pairwise F1 $f1%.4f")
      }
    }

    val inputs = Map("edges" -> nEdges, "nodes" -> n, "path_len" -> ChainLen,
      "finisher_bound" -> finisherBound)
    var rounds = 0
    h.loop(MinReps, h.seconds) { i =>
      t.nextOp()
      val viaRounds = h.timed("rounds")(t.span("pipeline.ConnectedComponents.rounds")(
        cc(0L).localCheckpoint(true, Ser)))
      rounds = roundTimes.size
      if (t.enabled) {
        t.note("pipeline.ConnectedComponents.rounds", "rounds", rounds)
        t.note("pipeline.ConnectedComponents.rounds", "round_s_median", Tracer.median(roundTimes))
      }
      if (i == 0) check("rounds", viaRounds)
      h.endOp("rounds")
      for (j <- 0 until FinisherOpsPerRep) {
        t.nextOp()
        val before = h.storageMb()
        val viaFinisher = h.timed("finisher")(t.span("pipeline.ConnectedComponents.finisher")(
          cc(finisherBound).localCheckpoint(true, Ser)))
        if (t.enabled) t.note("pipeline.ConnectedComponents.finisher", "result_mb",
          h.storageMb() - before)
        if (i == 0 && j == 0) check("finisher", viaFinisher)
        h.endOp("finisher")
      }
    }
    if (!c.traced)
      Outcome(Map("setup_s" -> h.setupMedian, "op_s" -> h.median("rounds"),
        "op2_s" -> h.median("finisher"), "pairwise_f1" -> f1),
        inputs ++ Map("rounds" -> rounds,
          "cc_rounds_edges_per_s" -> nEdges / h.median("rounds"),
          "cc_finisher_edges_per_s" -> nEdges / h.median("finisher")))
    else Outcome(Kernels.run(c.seed, c.scale.kernelSeconds) +
      ("storage.cache_peak_mb" -> h.cachePeakMb), inputs)
  }

  private val ChainLen = 8
  /** The finisher op is sub-second, against ~6 s for the rounds op, so each
    * rep runs it several times: its median then rests on eight samples, not
    * on two.
    */
  private val FinisherOpsPerRep = 4

  /** Pairwise F1 of a cluster assignment against the generated paths,
    * from the (cluster, path) contingency counts.
    */
  private def chainF1(got: DataFrame, nodes: DataFrame): Double = {
    def pairs(df: DataFrame, keys: String*): Double = df.groupBy(keys.map(col): _*).count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
    val j = got.join(nodes, "conv_id")
    val tp = pairs(j, "cluster_id", "chain")
    val p = tp / pairs(j, "cluster_id")
    val r = tp / pairs(j, "chain")
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)
  }

  // ----------------------------------------------------------------- files

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally w.close()
    }

  private def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.forEach { f =>
      val dst = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally w.close()
  }
}
