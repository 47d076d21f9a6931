package graft

import org.apache.spark.sql.functions._
import graft.pipeline.ConnectedComponents

/** Probe for the distributed CC rounds (the at-scale path the pipeline's
  * driver finisher replaces below its edge bound): per-round and total
  * time of the large/small-star iteration on a deep-chain edge set.
  * (A repartition-by-`u` of each round's output lost its screen twice —
  * see BASELINE.md — so only the plain rounds are measured.)
  *
  * Usage: runMain graft.BenchCc [nBase] [reps]
  */
object BenchCc {

  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toLong else 240000L
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Sessions.pipeline(sys.env.getOrElse("GRAFT_MASTER", "local[32]"))

    // deterministic chain-structured edge set: components of 16 nodes as
    // paths (≈ the depth structure that makes large/small-star iterate —
    // the pipeline's own planted-triple edges converge in one round and
    // would measure nothing), node count ≈ the doc count the pipeline has
    // at this nBase (3 docs per base)
    val nNodes = nBase * 3
    val edgeDir = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft-cc-edges-$nNodes"
    if (!new java.io.File(s"$edgeDir/_SUCCESS").exists()) {
      spark.range(nNodes)
        .where((col("id") + 1) % 16 =!= 0 && col("id") + 1 < nNodes)
        .select(format_string("c%09d", col("id")).as("src"),
          format_string("c%09d", col("id") + 1).as("dst"))
        .repartition(64)
        .write.mode("overwrite").parquet(edgeDir)
    }
    val edges = spark.read.parquet(edgeDir)
    println(s"EDGES ${edges.count()}")

    def timeRun(tag: String): Double = {
      val t0 = System.nanoTime()
      // per-round wall time: onRound fires right after the fingerprint
      // aggregate that materializes the round, so successive deltas are
      // exactly the large-star+small-star+checkpoint cost of each round
      // (VERDICT r4 item 6 asks for per-round time + rounds-to-converge
      // at ≥20M edges, where only the distributed path engages)
      var lastRound = System.nanoTime()
      val onRound = (i: Int, cnt: Long, _: Long) => {
        val now = System.nanoTime()
        println(f"CC_ROUND $tag%-10s iter=$i edges=$cnt sec=${(now - lastRound) / 1e9}%.2f")
        lastRound = now
      }
      val out = ConnectedComponents.run(edges, onRound = onRound)
      out.write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      println(f"CC $tag%-10s $sec%.2f s")
      sec
    }
    timeRun("warmup")
    val plain = (1 to reps).map(_ => timeRun("plain")).min
    println(f"CC_RESULT plain=$plain%.2f")
    spark.stop()
  }
}
