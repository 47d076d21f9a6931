package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/** Dev probes over the declared operator queries, all on the bench's
  * query session ([[Sessions.queries]]) so their numbers and plans are
  * the ones Bench's query phase sees. Probes only — Bench.scala is the
  * measurement harness.
  *
  * Usage (cores from SPARK_GRAFT_CPUS, default 32):
  *   runMain graft.Probe time <sfDir> <queryName...>
  *     → `TIMEQ <name> <sec> s`: one query's noop-sink wall time
  *   runMain graft.Probe plans <sfDir> <outDir> [suffix] [queryName...]
  *     → writes <outDir>/<query><suffix>.txt (`.explain("formatted")`,
  *       the before/after plan artifacts of the optimization rounds) and
  *       prints `PLAN <name> exchanges=N chars=M`; all queries when none
  *       are named
  *   runMain graft.Probe frags <sfDir> [q15|q13|q54|q53...]
  *     → `FRAG <name> <sec> s`: noop-sink isolation of sub-fragments of
  *       the most expensive queries, so a change can be attributed to the
  *       stage it touches; all fragments when none are named
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val spark = Sessions.queries(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val sfDir = args(1)
    args(0) match {
      case "time" => time(spark, sfDir, args.drop(2).toSeq)
      case "plans" => plans(spark, sfDir, args(2), args.lift(3).getOrElse(""),
        args.drop(4).toSet)
      case "frags" => frags(spark, sfDir, args.drop(2).toSet)
      case other => sys.error(s"unknown probe '$other' (time | plans | frags)")
    }
    spark.stop()
  }

  private def noopSeconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      val sec = noopSeconds(SparkEntry.queries(name)(spark, sfDir))
      println(f"TIMEQ $name $sec%.2f s")
      spark.catalog.clearCache()
    }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
                    suffix: String, only: Set[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"$name$suffix.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val nEx = "Exchange".r.findAllIn(plan).length
          println(f"PLAN $name exchanges=$nEx chars=${plan.length}")
        } catch {
          case e: Throwable =>
            System.err.println(s"[probe] $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
  }

  private def frags(spark: SparkSession, sfDir: String, only: Set[String]): Unit = {
    def frag(name: String)(df: => DataFrame): Unit =
      println(f"FRAG $name%-28s ${noopSeconds(df)}%.2f s")
    def want(s: String) = only.isEmpty || only.exists(s.startsWith)
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // q15 decomposition: tokenize → shingle explode → bounded collect →
    // pair explode + dedup → verify
    if (want("q15")) {
      val base = docs.select(col("doc_id").as("conv_id"), tokens(col("text")).as("tokens"))
      frag("q15.tokenize")(base)
      frag("q15.blocks")(pipeline.Blocking.exactShingleBlocks(base, 3))
      val blocks = pipeline.Blocking.exactShingleBlocks(base, 3)
      frag("q15.agg")(blocks.where(col("conv_id").isNotNull).groupBy("block_key")
        .agg(BoundedCollectSet.bounded(65, col("conv_id").cast("long")).as("members")))
      frag("q15.pairs")(pipeline.Blocking.pairsFromBlocks(blocks, 64)._1)
      val (p15, _) = pipeline.Blocking.pairsFromBlocks(blocks, 64)
      println("q15 pair count = " + p15.count())
      val sh15 = base.select(col("conv_id"), shingle_hashes(col("tokens"), 3).as("sh"))
      def joined = p15.select("conv_a", "conv_b")
        .repartition(32, col("conv_a"), col("conv_b"))
        .join(sh15.select(col("conv_id").as("conv_a"), col("sh").as("sh_a")), "conv_a")
        .join(sh15.select(col("conv_id").as("conv_b"), col("sh").as("sh_b")), "conv_b")
      frag("q15.verify.joinonly")(joined)
      frag("q15.verify.kernel")(joined
        .withColumn("jaccard", token_jaccard(col("sh_a"), col("sh_b")))
        .where(col("jaccard") >= 0.5))
      frag("q15.full")(operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, 64))
    }

    if (want("q13")) {
      val blocks = docs.select(col("doc_id").as("conv_id"),
        explode(shingle_hashes(tokens(col("text")), 3)).as("block_key"))
      frag("q13.blocks")(blocks)
      frag("q13.pairs")(pipeline.Blocking.pairsFromBlocks(blocks, 64)._1)
      frag("q13.full")(SparkEntry.queries("q13_pair_scores")(spark, sfDir))
    }

    if (want("q54")) {
      val sh = docs.select(col("doc_id"),
        explode(array_distinct(word_shingles(tokens(col("text")), 3))).as("block_key"))
      frag("q54.sh")(sh)
      val kept = sh.groupBy("block_key").agg(count(lit(1)).as("c"))
        .where(col("c").between(2, 64)).select("block_key")
      val blocks = sh.join(kept, Seq("block_key"))
      frag("q54.blocks")(blocks)
      val b = blocks.select(col("doc_id").as("id"), col("block_key").as("key"))
      frag("q54.selfjoin")(b.as("x").join(b.as("y"),
        col("x.key") === col("y.key") && col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b")).distinct())
      val norm = docs.select(col("doc_id"), norm_text(col("text")).as("norm"))
      frag("q54.gt")(norm.as("x").join(norm.as("y"),
        col("x.norm") === col("y.norm") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")))
      frag("q54.full")(SparkEntry.queries("q54_blocking_metrics")(spark, sfDir))
    }

    if (want("q53")) {
      val corpus = docs.where(pmod(col("doc_id"), lit(17)) =!= 0)
        .select(col("doc_id").cast("string").as("conv_id"), col("text"))
      frag("q53.index")(streaming.IncrementalLink.corpusIndex(corpus))
      frag("q53.full")(SparkEntry.queries("q53_stream_static_link")(spark, sfDir))
    }
  }
}
