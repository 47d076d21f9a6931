package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.{Pipeline, TranscriptGen}

/** Pipeline timing probe under any master (spark-submit with
  * GRAFT_MASTER=local-cluster[n,c,m] is the multi-executor drive; session
  * shape in [[Sessions.pipeline]]).
  * Usage: runMain graft.BenchPipeline [nBase] [cores] [reps]
  * Runs one warmup (nBase/10, JIT + codegen + shuffle service) then
  * `reps` measured runs; reports each and the minimum (the sandbox shows
  * heavy external timing interference — min filters it).
  *
  * The generated input is staged to a temp parquet and the timed run reads
  * from it: production-shaped (the pipeline starts from a columnar scan),
  * and resilient — a lost executor recomputes from the file, unlike a
  * localCheckpoint block which dies with its executor.
  */
object BenchPipeline {

  /** Stage deterministic transcripts to parquet; returns the reader.
    * Written as 64 files regardless of generator parallelism: the
    * generator inherits defaultParallelism (4 files at local-cluster[2,2]),
    * and a 4-file table caps the scan+assemble stage at 4 read tasks — the
    * round-2 "docs stage only speeds up 1.4×" finding was input-layout,
    * not compute. 64 files give both cluster sizes full scan fan-out.
    */
  private[graft] def stageInput(spark: SparkSession, n: Long): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft-bench-input-$n"
    // the generator is deterministic in n, so a completed staging (marked
    // by parquet's _SUCCESS) is reused across sessions/configs — the
    // cluster-scaling block would otherwise regenerate the same table for
    // every parallelism level it measures
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      TranscriptGen.transcripts(spark, n, dupsPerBase = 2)
        .repartition(64)
        .write.mode("overwrite").parquet(dir)
    }
    spark.read.parquet(dir)
  }

  /** One timed end-to-end run over staged input: scan → pipeline → noop.
    * Returns (turns, sec, per-stage seconds of this run). The turn count
    * is rep-invariant reporting, not pipeline work — counted once per
    * input (cached) so the timed section is exactly the pipeline.
    */
  private val turnCounts = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private[graft] def timedRun(spark: SparkSession,
                              input: DataFrame): (Long, Double, Map[String, Double]) = {
    val key = input.queryExecution.analyzed.semanticHash().toString
    val turns = turnCounts.computeIfAbsent(key, _ => input.count())
    val t0 = System.nanoTime()
    val res = Pipeline.run(input)
    res.clusters.write.mode("overwrite").format("noop").save()
    val sec = (System.nanoTime() - t0) / 1e9
    // drop this run's stage blocks NOW: localCheckpoint RDDs are otherwise
    // only unpersisted when driver GC reaches them (ContextCleaner), so
    // back-to-back runs stack ~1 GB of dead blocks per run onto executor
    // storage and successive reps measure under growing memory pressure
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    (turns, sec, res.stageSeconds)
  }

  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toLong else 2000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Sessions.pipeline(sys.env.getOrElse("GRAFT_MASTER", s"local[$cores]"))

    val input = stageInput(spark, nBase)
    // full-size warmup: the first pass after staging is dominated by JIT,
    // shuffle-dir creation and the OS writing back the staged parquet
    // (measured 3-6× the converged time) — burn it untimed so every
    // measured rep sees the same settled environment
    timedRun(spark, input)
    val runs = (1 to reps).map { i =>
      val (turns, sec, _) = timedRun(spark, input)
      println(f"PIPELINE_RUN $i turns=$turns sec=$sec%.2f turns_per_sec=${turns / sec}%.1f")
      (turns, sec)
    }
    val (turns, sec) = runs.minBy(_._2)
    println(f"PIPELINE turns=$turns sec=$sec%.2f turns_per_sec=${turns / sec}%.1f cores=$cores")
    spark.stop()
  }
}
