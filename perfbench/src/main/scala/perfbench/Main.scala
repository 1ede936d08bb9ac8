package perfbench

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Heap still reachable after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** What one run measures and counts. End-to-end metrics go to `metric`,
  * per-layer metrics (traced runs) to `layer`, context to `info`. */
final class RunContext(val workload: String, val seed: Long, val seconds: Int,
    val traced: Boolean, val outDir: String, val cores: Int, t0EpochMs: Long) {
  val spans = new Spans(traced)
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val infos = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var setupDone = false

  def metric(k: String, v: Double): Unit = metrics(k) = v
  def layer(k: String, v: Double): Unit = layers(k) = v
  def info(k: String, v: Double): Unit = infos(k) = v
  def attempt(n: Long, bad: Long): Unit = { attempted += n; failed += bad }
  def fail(msg: String): Unit = {
    failed += 1; errors += msg.take(300); System.err.println(s"[perfbench] FAILED $msg")
  }
  /** Set-up ends where the first timed operation starts. */
  def firstTimedOp(): Unit = if (!setupDone) {
    setupDone = true
    metric("setup_s", (System.currentTimeMillis() - t0EpochMs) / 1000.0)
  }
}

/** Benchmark JVM entry: runs one workload and writes its result record
  * (`result.json`) and, when traced, its spans (`spans.jsonl`) to the
  * run's output directory.
  *
  * Args: workload seed seconds trace(0|1) dataDir outDir t0EpochMs cores */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, outDir, t0, cores) = args
    val ctx = new RunContext(workload, seed.toLong, seconds.toInt, trace == "1",
      outDir, cores.toInt, t0.toLong)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$outDir/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // a fresh JVM starts with empty in-process channels and queues; say so
    graft.sources.TickChannels.clear()
    graft.sources.InMemoryQueues.clear()
    val lanes = workload match {
      case "etl_lanes" => Batch.EtlLanes
      case "iterative_lanes" => Batch.IterativeLanes
      case "dedup_corpus" => Batch.DedupLanes
      case _ => Nil
    }
    try {
      workload match {
        case "tick_stream" =>
          val t = new TickStream(spark, ctx)
          try t.run() finally t.close()
        case "etl_lanes" | "iterative_lanes" | "dedup_corpus" =>
          val b = new Batch(spark, ctx, lanes, dataDir, laneMemory = workload == "iterative_lanes")
          b.run()
          if (workload == "dedup_corpus") b.dedupOps()
          if (workload == "iterative_lanes" && ctx.traced) b.isolated("x2_span_cut")
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (ctx.traced) {
        ctx.layer("jvm.retained_heap_mb", Jvm.retainedHeapMb())
        BusDrain(spark.sparkContext)
        ctx.spans.selfTimeMs.foreach { case (layer, v) => ctx.layer(s"self.${layer}_s", v / 1000.0) }
        ctx.spans.writeJsonl(java.nio.file.Paths.get(outDir, "spans.jsonl"))
      }
    } catch {
      case e: Throwable => ctx.fail(s"workload aborted: $e"); e.printStackTrace()
    } finally spark.stop()

    val oracle = graft.SparkEntry.oracleSql
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(ctx.metrics.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(ctx.layers.map { case (k, v) => k -> Json.num(v) }),
      "info" -> Json.obj(ctx.infos.map { case (k, v) => k -> Json.num(v) } ++
        Seq("max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0))),
      "errors" -> ctx.errors.map(Json.str).mkString("[", ",", "]"),
      // lanes without an oracle are checked for a non-empty output
      "oracle" -> Json.obj(lanes.map(l => l -> oracle.get(l).map(Json.str).getOrElse("null")))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "result.json"), record)
    System.exit(if (ctx.errors.exists(_.startsWith("workload aborted"))) 3 else 0)
  }
}
