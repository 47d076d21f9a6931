package graft

import graft.pipeline._

/** End-to-end drive of the record-linkage pipeline from the public API:
  * generate transcripts → run → print clusters + pairwise F1.
  * Usage: runMain graft.Demo [nBase] [dupsPerBase]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toLong else 40L
    val dups = if (args.length > 1) args(1).toInt else 2
    val spark = Sessions.pipeline("local[8]")

    val t = TranscriptGen.transcripts(spark, nBase, dups)
    println(s"transcripts: ${t.count()} turns, ${nBase * (dups + 1)} conversations")
    t.show(5, false)

    val res = Pipeline.run(t)
    println("sample clusters (multi-member):")
    import org.apache.spark.sql.functions._
    res.clusters.groupBy("cluster_id").agg(sort_array(collect_list("conv_id")).as("members"))
      .where(size(col("members")) > 1).orderBy("cluster_id").show(5, false)

    val labels = TranscriptGen.labels(spark, nBase, dups)
    val r = PairEval.pairwise(res.clusters, labels)
    println(f"pairwise: P=${r.precision}%.4f R=${r.recall}%.4f F1=${r.f1}%.4f  ($r)")
    println(s"dropped blocks: ${res.droppedBlocks.count()}")
    spark.stop()
  }
}
