package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory of the non-harness mains (Demo, Probe and the
  * Bench* probes). Each shape copies a session the Bench harness builds,
  * so a probe times and plans what the harness measures: [[queries]] is
  * the operator-query session, [[pipeline]] the session of Bench's cluster
  * and incremental blocks. Bench and Verify keep their own builders.
  */
object Sessions {

  private val MB = 1024 * 1024

  /** The operator-query session at local[cpus] (Bench's query phase). */
  def queries(cpus: Int): SparkSession = build(s"local[$cpus]", Map(
    // constant across parallelism levels: partitioning is data layout,
    // not a resource knob
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.files.maxPartitionBytes" -> (4 * MB).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4 * MB).toString,
    // blocking collect_set states are cap-bounded → hash agg, not the
    // default 128-entry sort-based fallback
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304"))

  /** The linkage-pipeline session under any master (the Bench* mains
    * take it from GRAFT_MASTER; local-cluster[n,c,m] is the
    * multi-executor drive).
    */
  def pipeline(master: String): SparkSession = build(master, Map(
    // 64 = 4 waves on the 16-core config (vs 2 at 32, where one straggler
    // idles half the cores); identical at every parallelism level so an
    // N-vs-4N comparison only varies compute. Minutes-scale runs override
    // upward (more waves amortize stragglers once tasks are seconds-long).
    "spark.sql.shuffle.partitions" ->
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "64"),
    // Partition-count quantization killed measured scaling before these
    // two (event-log analysis, round 3): the scan bin-packed the 64
    // staged files into ~9 partitions — localCheckpoint freezes that
    // count, so every cached-stage consumer ran ≤18 map tasks (1.1 waves
    // at 16 cores, half the cluster idle) — and AQE's default 64 MB
    // advisory target coalesced the 256-partition reduces to ~15-18 fat
    // tasks. 8 MB on both keeps second-scale stages well above 4 task
    // waves at 16 cores, the wave count a production minutes-scale stage
    // gets from the SAME defaults. (Round-5 screen, interleaved at [8,2]:
    // 8 MB beat 16 MB at the hi config — 34.7 vs 39.2 s alone, 30.1 vs
    // 35.3 s combined with the sort-based partial agg below — and was
    // neutral at [2,2]; finer waves shorten the straggler tail exactly
    // where 16 cores share one memory bus.)
    "spark.sql.files.maxPartitionBytes" -> (8 * MB).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (8 * MB).toString,
    "spark.local.dir" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", "/tmp"),
    // Pair generation aggregates over ~UNIQUE block keys (round-5 event
    // logs: 47.5M exploded key rows → 47.1M partial-agg output rows, <1%
    // map-side combining), so ObjectHashAggregate's map-side hash map is
    // ~1.3M entries of pure random-memory traffic per task that combines
    // nothing. The stock 128-entry sort fallback makes the partial agg
    // sort-based (sequential memory access) while KEEPING the per-key
    // state bound (BoundedCollectSet saturates at cap+1 either way).
    // Interleaved round-5 screen at [8,2]: pairs stage 17-19 s → 12.8 s,
    // end-to-end 39.2 → 35.3 s; neutral at [2,2] where 2 cores never
    // saturate the bus. (The query session's raised threshold was
    // measured on second-scale inputs where the map fit in L2 — at
    // minutes scale the trade flips.)
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128",
    // delay scheduling idles cores waiting for localCheckpoint-block
    // locality in second-scale stages; interleaved A/B at 6.72M turns
    // measured wait=0 faster at BOTH cluster sizes ([2,2] 121.0 vs
    // 125.8 s, [8,2] 42.6 vs 49.0 s)
    "spark.locality.wait" -> "0"))

  private def build(master: String, conf: Map[String, String]): SparkSession = {
    val s = SparkSession.builder().master(master)
      // the CC singleton-attach join broadcasts the assignment (10-50 MB
      // at bench scale); the 10 MB default silently degrades it to a
      // sort-merge shuffle of every doc
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * MB).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
