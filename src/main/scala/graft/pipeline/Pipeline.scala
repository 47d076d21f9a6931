package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end record-linkage pipeline (the north rule):
  *
  *   transcripts → docs → blocks → candidate pairs → scored pairs
  *              → matched edges → connected components → clusters
  *
  * Each stage optionally materializes to a [[TableIO]] snapshot table with
  * per-partition lineage/metrics rows; a re-run with the same config skips
  * stages whose snapshot already exists (resume-from-checkpoint, the
  * formalized version of the reference's stage JSON files,
  * ranker_mlm.py:174-180).
  */
object Pipeline {

  /** blocking strategies */
  sealed trait BlockingMode
  case object ExactBlocking extends BlockingMode
  case object LshBlocking extends BlockingMode
  case object HybridBlocking extends BlockingMode

  case class Config(
      shingleK: Int = 3,
      blocking: BlockingMode = HybridBlocking,
      lshShingleK: Int = 2,
      numHashes: Int = 96,
      bands: Int = 24,
      // Pair generation is O(Σ size²) over blocks: a hot key at cap c costs
      // c² pairs of pure noise (hot keys are stopword shingles — shared by
      // *everything*, so they carry no match signal). Real duplicate groups
      // co-occur in many small rare-shingle / LSH-band blocks, so a tight
      // cap costs no recall (golden F1 stays 1.0) and cuts the dominant
      // shuffle ~10×.
      maxBlockSize: Int = 16,
      // robust-winnowing window for the exact-shingle side of hybrid
      // blocking: any shared token run of length ≥ winnowWindow+shingleK−1
      // still shares a key; cuts the dominant pair-generation shuffle ~w×
      winnowWindow: Int = 8,
      weights: Scoring.Weights = Scoring.Weights(),
      scoreThreshold: Double = 0.55,
      prefixChars: Int = 256,
      levMaxDist: Int = 128,
      // pair-generation plan shape (see Blocking.pairsFromBlocks
      // `prePartition`): raw-shuffle-then-aggregate vs map-side partial
      // aggregation. Output is identical; the trade is map-side memory
      // traffic (~unique keys make the partial agg's hash map pure
      // overhead) vs hot-key shuffle-byte bounding.
      prePartitionPairs: Boolean = false)

  /** `matchedEdges` (conv_a, conv_b, score) is the run's matched-pair
    * set — the audit trail of why clusters merged, and the snapshot
    * [[IncrementalPipeline.retract]] needs to heal clusters after
    * deletions without a corpus-wide relink. Lazy on the in-memory path
    * (a filter over the cached scored stage).
    *
    * `stageSeconds`: wall-clock of this run's materialized stages (docs,
    * pairs, scored, clusters) on the in-memory path; empty under
    * TableIO — so bench artifacts carry the stage decomposition, not
    * just the total.
    */
  case class StageResult(clusters: DataFrame, droppedBlocks: DataFrame,
                         matchedEdges: DataFrame, stageSeconds: Map[String, Double])

  /** Run without checkpointing (tests / small inputs). */
  def run(transcripts: DataFrame, cfg: Config = Config()): StageResult =
    runStages(transcripts, cfg, None)

  /** Run with TableIO checkpoints; stages present in `io` are reused. */
  def runCheckpointed(transcripts: DataFrame, cfg: Config, io: TableIO): StageResult =
    runStages(transcripts, cfg, Some(io))

  /** Snapshot reuse is only sound under the Config that produced the
    * snapshots — a re-run with different parameters against the same root
    * must fail loudly, not silently serve stale clusters. The fingerprint
    * is stored as a one-row table in the same snapshot layout.
    */
  /** Bumped whenever a stage's snapshot SCHEMA changes (v2: docs carry the
    * hid pair-key column; v3: docs carry `tokh` token hashes instead of
    * token strings) so resume against snapshots written by an older
    * layout fails loudly at the fingerprint check, not mid-plan.
    */
  private val SnapshotLayoutVersion = 3

  private def validateConfigFingerprint(t: TableIO, cfg: Config,
                                        spark: org.apache.spark.sql.SparkSession): Unit = {
    val fp = s"v$SnapshotLayoutVersion:$cfg"
    if (t.exists("config_fingerprint")) {
      val stored = t.read("config_fingerprint").head().getString(0)
      require(stored == fp,
        s"TableIO root holds snapshots for a different Config:\n  stored: $stored\n" +
          s"  this:   $fp\nuse a fresh root (or delete the stale snapshots)")
    } else {
      t.write(spark.createDataFrame(Seq(Tuple1(fp))).toDF("config"), "config_fingerprint")
    }
  }

  /** The docs-stage payload (conv_id, tokh, prefix, hid) — narrow by
    * design (see the scale notes inside [[runStages]]). Shared with
    * [[IncrementalPipeline]], whose delta docs must be byte-identical to
    * what a full run would have computed for the same rows.
    */
  def docsPayload(transcripts: DataFrame, cfg: Config): DataFrame =
    DocAssembly.assemble(transcripts).select(
      col("conv_id"),
      graft.functions.shingle_hashes(col("tokens"), 1, distinct = false)
        .as("tokh"),
      substring(col("norm_text"), 1, cfg.prefixChars).as("prefix"),
      xxhash64(col("conv_id")).as("hid"))

  /** Block keys for a docs payload: (block_key, conv_id = hid). Same keys
    * regardless of when a doc is ingested — the property incremental
    * linkage relies on to join a delta's blocks against a prior corpus
    * snapshot's.
    */
  def blocksPayload(docs: DataFrame, cfg: Config): DataFrame = {
    val blockInput = docs.select(col("hid").as("conv_id"), col("tokh").as("tokens"))
    cfg.blocking match {
      case ExactBlocking => Blocking.exactShingleBlocks(blockInput, cfg.shingleK)
      case LshBlocking =>
        Blocking.minhashLshBlocks(blockInput, cfg.lshShingleK, cfg.numHashes, cfg.bands)
      case HybridBlocking =>
        Blocking.hybridBlocks(blockInput, cfg.shingleK, cfg.lshShingleK,
          cfg.numHashes, cfg.bands, cfg.winnowWindow)
    }
  }

  private def runStages(transcripts: DataFrame, cfg: Config,
                        io: Option[TableIO]): StageResult = {
    io.foreach(validateConfigFingerprint(_, cfg, transcripts.sparkSession))
    // Stage materialization: TableIO snapshot when checkpointing (reads
    // back the parquet — cuts lineage, enables resume); otherwise persist —
    // docs/blocks feed multiple consumers (self-joins, both sides of the
    // scoring join), and recomputing an interpreted shingle/minhash tree
    // per consumer multiplies the dominant cost.
    val stageSeconds = scala.collection.mutable.Map.empty[String, Double]
    def stage(name: String)(build: => DataFrame): DataFrame = io match {
      case Some(t) if t.exists(name) => t.read(name)
      case Some(t) =>
        val df = build
        t.write(df, name)
        val out = t.read(name)
        t.appendMetrics(out, name, name)
        out
      // eager localCheckpoint: materializes once and truncates the logical
      // plan — consumers that hit a stage twice (self-joins, both sides of
      // the scoring join) read the cached blocks instead of racing the
      // cache into duplicate computation, and downstream actions re-analyze
      // a LogicalRDD leaf instead of the full upstream expression lineage
      // (driver-side re-optimization of huge trees is pure serial cost).
      case None =>
        val t0 = System.nanoTime()
        // serialized cache: deserialized row objects across 4 cached stages
        // put allocation/GC pressure on the shared heap, which is what stops
        // thread-level scaling in a single JVM
        val out = build.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        stageSeconds(name) = (System.nanoTime() - t0) / 1e9
        out
    }

    // narrow payload through the pipeline: tokens + a bounded prefix only
    // (the full turns array / doc_text would be cached and shuffled at
    // every stage; at 10^12 turns that's the difference between shuffling
    // terabytes and shuffling the whole lake). `hid` = 64-bit hash of
    // conv_id: blocking and pair-dedup shuffle this fixed-width key
    // instead of the id string (the two heaviest exchanges become 16-byte
    // rows with primitive agg keys); scoring's doc-feature join restores
    // the true strings. Collision semantics (see Scoring.scorePairs): a
    // CROSS-pair hid collision fans the join out into extra
    // exactly-verified candidates (noise that scoring filters), but two
    // docs colliding on the SAME hid merge into one blocking identity —
    // the direct pair between them can never be enumerated, a recall
    // loss of probability ≈ n²/2⁶⁵ (~3·10⁻⁶ expected colliding pairs at
    // 10¹² docs; those ids still co-cluster if linked through a third
    // member). Bounded and documented, not zero.
    // `tokh` = positional 64-bit token hashes, materialized ONCE here:
    // every downstream consumer (blocking kernels, the scoring verify
    // set) streams 8 bytes/token from the cached stage instead of the
    // token strings — the blocks stage is bandwidth-bound (BASELINE.md
    // round 3: 0.72 stage efficiency on token-array scans), and the
    // cached docs payload shrinks by the whole string column.
    val docs = stage("docs")(docsPayload(transcripts, cfg))

    // blocks: materialized ONLY under TableIO (resume + the incremental
    // path's corpus-side snapshot). In-memory runs flow the key projection
    // straight into the pair aggregation: the block table is the run's
    // largest narrow intermediate (~33 key rows/doc at bench scale), its
    // only in-memory consumer is pairsFromBlocks' first shuffle, and an
    // eager checkpoint here costs a full serialize+deserialize round trip
    // of that table for zero reuse (the lazy drop-audit branch recomputes
    // from the docs cache either way; measured on the 6.72M-turn protocol
    // input — see BASELINE.md round 5).
    val blocks = io match {
      case Some(_) => stage("blocks")(blocksPayload(docs, cfg))
      case None => blocksPayload(docs, cfg)
    }

    // shareAggregate only when the drop audit is materialized too (TableIO)
    val (pairsDf, droppedDf) =
      Blocking.pairsFromBlocks(blocks, cfg.maxBlockSize, shareAggregate = io.isDefined,
        prePartition = cfg.prePartitionPairs)
    val pairs = stage("pairs")(pairsDf)
    // dropped-blocks audit: a real snapshot table under TableIO (the
    // documented no-silent-caps artifact); in-memory runs keep it lazy —
    // materializing it eagerly added a whole scheduling barrier + job to
    // every run whether or not the caller reads the drop metrics
    val dropped = io match {
      case Some(_) => stage("dropped_blocks")(droppedDf)
      case None => droppedDf
    }

    // in-memory path: count the would-be match edges DURING the scored
    // stage's own checkpoint job (`observe` = accumulator-backed map-side
    // metric, zero extra pass) so the clusters finisher's `count()` guard
    // never schedules its own job over the cached stage. Safe as a guard:
    // canonicalization only drops rows (self-loops), so the observed
    // count is an upper bound on the canonical edge count.
    val edgeObs = if (io.isEmpty) Some(new org.apache.spark.sql.Observation()) else None
    val scoredBase = Scoring.scorePairs(pairs, docs, cfg.weights, cfg.prefixChars,
      cfg.levMaxDist, pairIdCol = "hid",
      // the stage's only consumers cut at scoreThreshold (matchedPairs /
      // the observe metric), so hopeless pairs skip the string kernels
      pruneBelowThreshold = Some(cfg.scoreThreshold))
    val scored = stage("scored")(edgeObs.fold(scoredBase)(o =>
      scoredBase.observe(o,
        sum(when(col("score") >= cfg.scoreThreshold, 1L).otherwise(0L)).as("n"))))
    // the checkpoint job above already completed, so the metric either is
    // delivered or arrives with the listener bus's next drain — poll the
    // observation future with a short deadline rather than the blocking
    // get (which waits forever if the action never routed through the SQL
    // listener); an undelivered metric just falls back to the finisher's
    // own count pass
    val knownEdges: Option[Long] = edgeObs.flatMap { o =>
      val deadline = System.nanoTime() + 2000000000L
      while (!o.future.isCompleted && System.nanoTime() < deadline) Thread.sleep(10)
      if (!o.future.isCompleted) None
      else o.get.get("n").map(v => Option(v).fold(0L)(_.asInstanceOf[Number].longValue))
    }
    // edges is a filter+project over the already-materialized scored stage
    // — its own eager checkpoint was a pure extra pass; CC's first
    // distinct materializes it in the same job (TableIO keeps the snapshot
    // for resume)
    val matchedDf = Scoring.matchedPairs(scored, cfg.scoreThreshold)
    val edgesDf = matchedDf
      .select(col("conv_a").as("src"), col("conv_b").as("dst"))
    val edges = io match {
      case Some(_) => stage("edges")(edgesDf)
      case None => edgesDf
    }

    val clusters = stage("clusters") {
      val checkpointFn: (DataFrame, Int) => DataFrame = io match {
        // one table per round (resume-from-round-k; round 1 overwrote a
        // single "cc_round" table, making documented resume impossible)
        case Some(t) => (df, i) => { t.write(df, s"cc_round_$i"); t.read(s"cc_round_$i") }
        // lazy: the CC round's own fingerprint aggregate materializes it —
        // one job per round instead of two (driver latency is CC's floor)
        case None => (df, _) => df.localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      }
      // hybrid finisher on the in-memory path: when the match-edge set is
      // under the heap-derived bound (~4M at an 8 GB driver), close
      // components with a driver union-find — the distributed rounds'
      // per-round latency is the pipeline's serial floor, and millions of
      // edges are noise next to the upstream stages that actually scale
      // with the lake. Singleton attach is folded INTO the finisher
      // (broadcast-map lookup over docs — no shuffled join; VERDICT r3
      // "clusters is the scaling floor"). TableIO mode keeps the
      // per-round snapshots (documented resume-from-round-k).
      ConnectedComponents.runWithUniverse(edges, docs.select(col("conv_id")),
        checkpointFn,
        localMaxEdges =
          if (io.isEmpty) ConnectedComponents.defaultLocalMaxEdges else 0L,
        // pair-dedup upstream guarantees distinct pairs → the finisher
        // path skips CC's own distinct() shuffle entirely
        edgesDistinct = true,
        knownEdgeCount = knownEdges)
    }

    StageResult(clusters, dropped, matchedDf, stageSeconds.toMap)
  }
}
