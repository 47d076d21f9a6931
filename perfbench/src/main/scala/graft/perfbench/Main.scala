package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Metric names and units, as BENCHMARK.json declares them. Every run
  * prints every end-to-end metric (`--trace 0`) or every per-layer metric
  * (`--trace 1`); a layer a workload never enters reads 0.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s", "op2_s" -> "s", "pairwise_f1" -> "ratio")

  private val spanAll = Seq("self_s" -> "s", "task_s" -> "s", "rows_out" -> "count",
    "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s")
  private def span(name: String, ms: Seq[(String, String)]) =
    ms.map { case (m, u) => s"$name.$m" -> u }
  private def pick(names: String*) = spanAll.filter(m => names.contains(m._1))

  val perLayer: Seq[(String, String)] =
    span("pipeline.DocAssembly", spanAll) ++
      span("pipeline.Blocking.pairs", spanAll) ++
      span("pipeline.Scoring", spanAll) ++
      span("pipeline.Blocking.keys", pick("self_s", "task_s", "rows_out")) ++
      span("pipeline.ConnectedComponents", pick("self_s", "task_s", "rows_out") :+
        ("result_mb" -> "MB")) ++
      Seq("pipeline.Blocking.keys_per_doc" -> "ratio",
        "pipeline.Blocking.pair_redundancy" -> "ratio",
        "pipeline.Blocking.dropped_blocks" -> "count",
        "pipeline.Scoring.match_ratio" -> "ratio",
        "pipeline.ConnectedComponents.finisher_taken" -> "count",
        "trace.overhead_s" -> "s") ++
      Seq("jaro_winkler", "levenshtein_banded", "jaccard_long_sets", "minhash_band_keys",
        "winnowed_shingle_hashes", "pair_combos_long").map(k => s"functions.$k" -> "ns/op") ++
      span("pipeline.IncrementalPipeline.run", Seq("self_s" -> "s", "task_s" -> "s",
        "input_read_mb" -> "MB", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
        "rows_out" -> "count")) ++
      Seq("pipeline.IncrementalPipeline.scan_ratio" -> "ratio") ++
      span("pipeline.TableIO.commit", Seq("self_s" -> "s", "bytes_written_mb" -> "MB",
        "snapshots_expired" -> "count")) ++
      span("pipeline.IncrementalPipeline.retract", pick("self_s", "task_s", "rows_out")) ++
      span("pipeline.ConnectedComponents.rounds", Seq("self_s" -> "s", "task_s" -> "s",
        "rounds" -> "count", "round_s_median" -> "s", "shuffle_write_mb" -> "MB",
        "spill_mb" -> "MB")) ++
      span("pipeline.ConnectedComponents.finisher", Seq("self_s" -> "s", "task_s" -> "s",
        "result_mb" -> "MB")) :+
      ("storage.cache_peak_mb" -> "MB")
}

/** One benchmark run: one workload, one JVM, one `local[N]` SparkContext
  * (N = available cores), one client driving a closed loop.
  *
  * Usage: Main --workload <link|cluster_graph> --seed <n>
  *   --seconds <s> --trace <0|1> --dir <scratch dir> [--scale bench|smoke]
  *   [--broken-check]
  *
  * Prints one detail line (settings, inputs, raw op timings with the 1-min
  * load at each op's start, checks) and then one result line
  * `PERFBENCH_RESULT {correct, attempted, failed, metrics}`; writes the
  * traced run's spans to `<dir>/../trace-<workload>-<seed>.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap ++
      (if (args.contains("--broken-check")) Map("broken-check" -> "1") else Map.empty)
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val dir = Paths.get(opt("dir")).toAbsolutePath.toString
    val scale = if (opt.get("scale").contains("smoke")) Scale.smoke else Scale.bench
    val cores = Runtime.getRuntime.availableProcessors()
    val partitions = cores

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark.sparkContext, traced)
    val h = new Harness(spark, seconds, tracer)
    val ctx = Ctx(spark, h, dir, seed, scale, traced, opt.contains("broken-check"))
    h.mark("session")
    val outcome = workload match {
      case "link" => Workloads.link(ctx)
      case "cluster_graph" => Workloads.clusterGraph(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    h.mark("loop")
    val metrics = if (!traced) Metrics.endToEnd.map { case (n, u) =>
      n -> (outcome.values(n), u)
    } else {
      val rep = tracer.report()
      Metrics.perLayer.map { case (n, u) =>
        val i = n.lastIndexOf('.')
        val fromSpan = rep.get(n.take(i)).flatMap(_.get(n.drop(i + 1)))
        n -> (fromSpan.orElse(outcome.values.get(n)).getOrElse(0.0), u)
      }
    }
    if (traced)
      Files.writeString(Paths.get(s"$dir/../trace-$workload-$seed.json"),
        Json(Map("workload" -> workload, "seed" -> seed, "spans" -> tracer.spanRecords)))
    tracer.close()

    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    println("PERFBENCH_DETAIL " + Json(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "settings" -> Map("master" -> s"local[$cores]", "cores" -> cores,
        "shuffle_partitions" -> partitions, "driver_heap_mb" -> heapMb,
        "cc_local_max_edges" -> graft.pipeline.ConnectedComponents.defaultLocalMaxEdges,
        "spark_version" -> spark.version, "clients" -> 1, "loop" -> "closed"),
      "inputs" -> outcome.inputs) ++ h.detail))
    println("PERFBENCH_RESULT " + Json(Map(
      "correct" -> (h.failed == 0), "attempted" -> h.attempted, "failed" -> h.failed,
      "metrics" -> metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    spark.stop()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }
      .mkString("{", ", ", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ", ", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case null => "null"
    case other => str(other.toString)
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
