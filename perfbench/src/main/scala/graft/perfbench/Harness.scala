package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop bookkeeping for one run: the timed ops (with the host's
  * 1-min load at each op's start), the correctness checks, and the Spark
  * storage that cached or checkpointed blocks hold at each op's end.
  *
  * `attempted` counts timed ops and checks; `failed` counts ops that threw
  * and checks that did not hold.
  */
final class Harness(val spark: SparkSession, val seconds: Int, val tracer: Tracer) {
  private val sc = spark.sparkContext
  final case class Op(name: String, rep: Int, seconds: Double, load1: Double)

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val setups = mutable.ArrayBuffer.empty[Op]
  var attempted = 0
  var failed = 0
  private val phases = mutable.ArrayBuffer.empty[(String, Double)]
  /** The rep of [[loop]] that is running (0 outside a loop). */
  private var rep = 0

  /** Records the JVM's uptime in seconds under `name`. */
  def mark(name: String): Unit =
    phases += (name -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3)

  /** Times `f` as one op named `name`; a throwing op counts as failed and
    * ends the run's loop (the exception propagates).
    */
  def timed[T](name: String)(f: => T): T = {
    val load = Harness.load1()
    attempted += 1
    val t0 = System.nanoTime()
    val out = try f catch { case e: Throwable => failed += 1; throw e }
    ops += Op(name, rep, (System.nanoTime() - t0) / 1e9, load)
    out
  }

  /** Times one set-up pass (not counted as an op). */
  def setup[T](f: => T): T = {
    val load = Harness.load1()
    val t0 = System.nanoTime()
    val out = f
    setups += Op("setup", 0, (System.nanoTime() - t0) / 1e9, load)
    out
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  /** MB of storage (memory + disk) held by cached/checkpointed blocks. */
  def storageMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  private val storageAtEnd = mutable.ArrayBuffer.empty[(String, Double)]

  /** End of op `name`: record the storage its cached and checkpointed
    * blocks hold, then drop them so the next op starts from the same state.
    */
  def endOp(name: String): Unit = {
    storageAtEnd += (name -> storageMb())
    clear()
  }

  def clear(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** The largest storage any op held at its end. Not repeatable on the
    * CC rounds: their lazily checkpointed edge tables are sometimes still
    * held twice at op end (4.7 or 10.0 MB on `cluster_graph`).
    */
  def cachePeakMb: Double = storageAtEnd.map(_._2).maxOption.getOrElse(0.0)

  /** Repeats `body` until `secs` have passed, at least `minReps` times. */
  def loop(minReps: Int, secs: Double)(body: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    rep = 0
    while (rep < minReps || System.nanoTime() < deadline) { body(rep); rep += 1 }
    rep = 0
  }

  /** Median seconds of op `name` over every rep of its loop but the
    * first, which runs with a cold JIT and carries the checks.
    */
  def median(name: String): Double =
    Tracer.median(ops.filter(o => o.name == name && o.rep > 0).map(_.seconds).toSeq)
  def setupMedian: Double = Tracer.median(setups.map(_.seconds).toSeq)

  def detail: Map[String, Any] = Map(
    "phases_s" -> phases.toMap,
    "ops" -> ops.map(o => Map("op" -> o.name, "rep" -> o.rep, "s" -> o.seconds,
      "load1" -> o.load1)).toSeq,
    "setups" -> setups.map(o => Map("s" -> o.seconds, "load1" -> o.load1)).toSeq,
    "storage_mb_at_op_end" -> storageAtEnd.map { case (n, mb) => Map("op" -> n, "mb" -> mb) }.toSeq,
    "checks" -> checks.map { case (n, ok, d) => Map("check" -> n, "ok" -> ok, "detail" -> d) }.toSeq)
}

object Harness {
  /** The host's 1-min load average (NaN where /proc is absent). */
  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => Double.NaN }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Writes `df` as parquet under `dir` and returns a reader over it. */
  def stage(df: DataFrame, dir: String, files: Int): DataFrame = {
    df.repartition(files).write.mode("overwrite").parquet(dir)
    df.sparkSession.read.parquet(dir)
  }
}
