package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{IncrementalPipeline, Pipeline, TranscriptGen}

/** Delta-linkage timing probe: what does clustering TODAY'S ingest cost
  * with [[IncrementalPipeline]] against yesterday's snapshots, vs
  * re-running the full pipeline over the combined corpus?
  *
  * Usage: runMain graft.BenchIncremental [nBase] [cores] [reps]
  *
  * Corpus: TranscriptGen at `nBase` bases × (base + 2 dups); the delta is
  * dup 2 of every 7th base (~4.8% of conversations — a daily-ingest
  * shape, every delta doc linking into an existing cluster). Prior
  * snapshots (docs payload, blocks, clusters) are staged to parquet
  * UNTIMED — they are yesterday's run's outputs, which a production delta
  * job reads, not recomputes. Each rep times (a) the full recompute over
  * the combined corpus and (b) the incremental run from the snapshots;
  * cluster-set equality of the two paths is asserted once (the bench is
  * also a scale-size parity check). Min-of-reps, same protocol as
  * [[BenchPipeline]] (the sandbox's external interference bursts last
  * whole reps).
  */
object BenchIncremental {

  private def stage(spark: SparkSession, df: DataFrame, name: String,
                    files: Int = 64): DataFrame = {
    // tmpfs when available, like the cluster bench's shuffle dirs: the
    // sandbox's single virtual disk saturates under parallel scans, and
    // the incremental path reads the LARGE prior-docs/prior-blocks
    // snapshots where the full path re-reads only the raw corpus — a
    // disk-bound stage would charge the delta path for a bottleneck a
    // production lake (distributed storage) doesn't have
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-incbench"
      else s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft-incbench"
    val dir = s"$base-$name"
    df.repartition(files).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** One full measurement: (total turns, delta turns, full-recompute sec,
    * incremental sec, parity). Reused by [[Bench]]'s `incremental` JSON
    * block so the driver's artifact carries the delta-vs-recompute
    * evidence, not just BASELINE.md prose. The parity check (incremental
    * clusters ≡ full-recompute clusters at bench scale) doubles as the
    * untimed warmup of both paths.
    */
  case class Result(turns: Long, deltaTurns: Long, fullSec: Double,
                    incSec: Double, parity: Boolean)

  def measure(spark: SparkSession, nBase: Long, reps: Int): Result = {
    val cfg = Pipeline.Config()

    val all0 = TranscriptGen.transcripts(spark, nBase, dupsPerBase = 2)
    val dupIdx = split(col("conv_id"), "_").getItem(1).cast("int")
    val baseIdx = substring(col("conv_id"), 2, 9).cast("long")
    val isDelta = dupIdx === 2 && baseIdx % 7 === 0
    val full = stage(spark, all0, s"full-$nBase")
    val prior = stage(spark, all0.where(!isDelta), s"prior-$nBase")
    val delta = stage(spark, all0.where(isDelta), s"delta-$nBase", files = 8)

    def clear(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    // yesterday's outputs, staged untimed (drop their stage caches after)
    val priorDocs = stage(spark, Pipeline.docsPayload(prior, cfg), s"pdocs-$nBase")
    val priorBlocks = stage(spark, Pipeline.blocksPayload(priorDocs, cfg), s"pblocks-$nBase")
    val priorClusters = stage(spark, Pipeline.run(prior, cfg).clusters, s"pclusters-$nBase")
    clear()

    val totalTurns = full.count()
    val deltaTurns = delta.count()
    def timeFull(): Double = {
      val t0 = System.nanoTime()
      Pipeline.run(full, cfg).clusters.write.mode("overwrite").format("noop").save()
      val s = (System.nanoTime() - t0) / 1e9; clear(); s
    }
    def timeInc(): Double = {
      val t0 = System.nanoTime()
      IncrementalPipeline.run(delta, priorDocs, priorClusters, cfg,
        priorBlocks = Some(priorBlocks)).clusters
        .write.mode("overwrite").format("noop").save()
      val s = (System.nanoTime() - t0) / 1e9; clear(); s
    }

    // scale-size parity check (once, untimed — doubles as the warmup of
    // both paths' JIT + shuffle dirs): incremental ≡ full
    val fullC = Pipeline.run(full, cfg).clusters
    val incC = IncrementalPipeline.run(delta, priorDocs, priorClusters, cfg,
      priorBlocks = Some(priorBlocks)).clusters
    val diff = fullC.exceptAll(incC).count() + incC.exceptAll(fullC).count()
    val parity = diff == 0
    if (!parity)
      System.err.println(s"[bench] incremental != full recompute: $diff differing rows")
    clear()

    // interleave the two paths so host-load phases hit both equally
    val runs = (1 to reps).map { i =>
      val f = timeFull(); val inc = timeInc()
      println(f"INC_RUN $i full=$f%.2f inc=$inc%.2f")
      (f, inc)
    }
    // staged snapshots may live on tmpfs (RAM) — delete them RECURSIVELY
    // so repeated bench invocations in one sandbox session don't accrete
    // gigabytes (a one-level delete left _temporary subtrees from any
    // interrupted parquet write behind, silently keeping the directory)
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-incbench"
      else s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft-incbench"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) {
        val cs = f.listFiles()
        if (cs != null) cs.foreach(deleteRec)
      }
      f.delete()
    }
    Seq(s"full-$nBase", s"prior-$nBase", s"delta-$nBase", s"pdocs-$nBase",
      s"pblocks-$nBase", s"pclusters-$nBase").foreach { n =>
      val d = new java.io.File(s"$base-$n")
      if (d.isDirectory) deleteRec(d)
    }
    Result(totalTurns, deltaTurns, runs.map(_._1).min, runs.map(_._2).min, parity)
  }

  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toLong else 100000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.pipeline(sys.env.getOrElse("GRAFT_MASTER", s"local[$cores]"))
    val r = measure(spark, nBase, reps)
    require(r.parity, "incremental != full recompute")
    println(f"INC_BENCH turns=${r.turns} delta_turns=${r.deltaTurns} " +
      f"full_sec=${r.fullSec}%.2f inc_sec=${r.incSec}%.2f speedup=${r.fullSec / r.incSec}%.2f " +
      f"cores=$cores reps=$reps")
    spark.stop()
  }
}
