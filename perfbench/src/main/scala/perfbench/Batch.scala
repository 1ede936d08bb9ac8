package perfbench

import graft.SparkEntry
import graft.ops.Dedup
import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The batch workloads: a fixed list of lanes, each called through
  * `SparkEntry.queries(name)(spark, dir)` and finished with a noop write,
  * back to back in one JVM, pass after pass until the measured seconds
  * are spent. Before the timed passes one untimed pass writes every
  * lane's output to parquet for the oracle check, and untimed noop
  * passes finish the warm-up. In a traced run the passes alternate
  * between traced and untraced so the run reports its own tracing
  * overhead. */
final class Batch(spark: SparkSession, ctx: RunContext, lanes: Seq[String],
    dataDir: String, laneMemory: Boolean) {
  import Batch._
  private val sc = spark.sparkContext
  private val fns = SparkEntry.queries

  final case class LaneRun(pass: Int, lane: String, t0: Long, tb: Long, t1: Long,
      storageMb: Double, gcMs: Long, traced: Boolean) {
    def wall: Double = (t1 - t0) / 1e9
  }

  private def storageMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def run(): Unit = {
    lanes.foreach { lane =>
      ctx.attempt(1, 0)
      try fns(lane)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"${ctx.outDir}/lanes/$lane")
      catch { case e: Throwable => ctx.fail(s"$lane output pass: $e") }
    }
    // JIT keeps improving well past the first pass: further untimed passes
    (0 until WarmPasses).foreach { _ =>
      lanes.foreach { lane =>
        try fns(lane)(spark, dataDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => ctx.fail(s"$lane warm-up pass: $e") }
      }
    }
    ctx.firstTimedOp()

    val rollup = new Rollup
    val runs = ArrayBuffer.empty[LaneRun]
    val passWalls = ArrayBuffer.empty[(Double, Boolean)]
    val gcStart = Jvm.gcMs()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var pass = 0
    // a traced run needs one traced and one untraced pass at least
    val minPasses = if (ctx.traced) 2 else MinPasses
    while (pass < minPasses || (System.nanoTime() < deadline && pass < MaxPasses)) {
      val traced = ctx.traced && pass % 2 == 1
      if (traced) sc.addSparkListener(rollup)
      val p0 = System.nanoTime()
      lanes.foreach { lane =>
        val gc0 = Jvm.gcMs()
        val t0 = System.nanoTime()
        if (traced) sc.setLocalProperty(Rollup.TagKey, s"$pass|$lane|build")
        ctx.attempt(1, 0)
        val ok = try {
          val df = fns(lane)(spark, dataDir)
          val tb = System.nanoTime()
          if (traced) sc.setLocalProperty(Rollup.TagKey, s"$pass|$lane|action")
          df.write.format("noop").mode("overwrite").save()
          Some(tb)
        } catch { case e: Throwable => ctx.fail(s"$lane pass $pass: $e"); None }
        val t1 = System.nanoTime()
        if (traced) sc.setLocalProperty(Rollup.TagKey, null)
        ok.foreach { tb =>
          runs += LaneRun(pass, lane, t0, tb, t1,
            if (laneMemory) storageMb() else 0.0, Jvm.gcMs() - gc0, traced)
        }
      }
      passWalls += (((System.nanoTime() - p0) / 1e9, traced))
      if (traced) { BusDrain(sc); sc.removeSparkListener(rollup) }
      pass += 1
    }
    val gcTotalMs = Jvm.gcMs() - gcStart

    val lat = runs.map(_.wall * 1000).toSeq
    ctx.metric("wall_s", Stats.median(passWalls.map(_._1).toSeq))
    ctx.metric("latency_p50_ms", Stats.quantile(lat, 0.50))
    // as for the stream, the tail is taken per window (here: a pass) and the
    // median over windows reported; a pass holds only a few lane calls
    ctx.metric("latency_p99_ms", Stats.median(runs.groupBy(_.pass).values
      .map(rs => Stats.quantile(rs.map(_.wall * 1000).toSeq, 0.99)).toSeq))
    ctx.info("latency_p99_all_ms", Stats.quantile(lat, 0.99))
    ctx.info("passes", pass.toDouble)
    passWalls.zipWithIndex.foreach { case ((w, _), k) => ctx.info(s"pass_${k}_s", w) }
    ctx.info("lane_samples", lat.size.toDouble)

    if (ctx.traced) layers(rollup, runs.toSeq.filter(_.traced), passWalls.toSeq, gcTotalMs / 1000.0 / pass)
  }

  /** Per-layer metrics from the traced passes, per pass. */
  private def layers(rollup: Rollup, traced: Seq[LaneRun],
      passWalls: Seq[(Double, Boolean)], gcPerPass: Double): Unit = {
    val nPass = math.max(1, traced.map(_.pass).distinct.size).toDouble
    val nanoToEpoch = System.currentTimeMillis() - System.nanoTime() / 1_000_000L
    def ms(ns: Long): Long = nanoToEpoch + ns / 1_000_000L
    def phase(p: String)(tag: String): Boolean = tag.endsWith("|" + p)
    val any: String => Boolean = _.nonEmpty

    // spans: lane -> (queries.build, spark.action) -> jobs / SQL executions
    val parents = scala.collection.mutable.Map.empty[String, Long]
    traced.foreach { r =>
      val key = s"${ctx.workload}/${r.pass}/${r.lane}"
      val root = ctx.spans.add(0, "lane", "lane", key, ms(r.t0), ms(r.t1))
      parents(s"${r.pass}|${r.lane}|build") =
        ctx.spans.add(root, "queries", "queries.build", key, ms(r.t0), ms(r.tb))
      parents(s"${r.pass}|${r.lane}|action") =
        ctx.spans.add(root, "spark", "spark.action", key, ms(r.tb), ms(r.t1))
    }
    val jobs = rollup.completedJobs(any)
    val execs = rollup.completedExecs(any)
    val execSpan = execs.map { case (x, _) =>
      val tag = jobs.find(_.execId == x.id).map(_.tag).getOrElse("")
      x.id -> ctx.spans.add(parents.getOrElse(tag, 0L), "plans", "spark.sql_exec",
        s"exec=${x.id}", x.start, x.end)
    }.toMap
    jobs.foreach { j =>
      val parent = execSpan.getOrElse(j.execId, parents.getOrElse(j.tag, 0L))
      ctx.spans.add(parent, "spark", "spark.job", s"job=${j.id}", j.start, j.end)
    }

    val buildJobs = rollup.completedJobs(phase("build"))
    ctx.layer("queries.build_s", traced.map(r => (r.tb - r.t0) / 1e9).sum / nPass)
    ctx.layer("queries.build_jobs", buildJobs.size / nPass)
    ctx.layer("plans.plan_s",
      execs.map { case (x, firstJob) => math.max(0L, firstJob - x.start) }.sum / 1000.0 / nPass)
    val a = rollup.taskAgg(any)
    ctx.layer("spark.jobs", jobs.size / nPass)
    ctx.layer("spark.sql_execs", execs.size / nPass)
    ctx.layer("spark.stages", a.stages / nPass)
    ctx.layer("spark.tasks", a.tasks / nPass)
    val byTag = jobs.groupBy(_.tag)
    ctx.layer("spark.driver_gap_s", traced.map { r =>
      val (lo, hi) = (ms(r.tb), ms(r.t1))
      val covered = Intervals.unionLength(
        byTag.getOrElse(s"${r.pass}|${r.lane}|action", Nil).map(j => (j.start, j.end)), lo, hi)
      (hi - lo - covered) / 1000.0
    }.sum / nPass)
    ctx.layer("spark.storage_mb_peak", rollup.takeStoragePeak() / 1048576.0)
    ctx.layer("spark.retained_storage_mb", storageMb())
    ctx.layer("spark.gc_s", gcPerPass)
    ctx.layer("spark.scan_rows", a.scanRows / nPass)
    ctx.layer("spark.scan_bytes", a.scanBytes / nPass)
    ctx.layer("spark.shuffle_write_bytes", a.shuffleWrite / nPass)
    ctx.layer("spark.shuffle_read_bytes", a.shuffleRead / nPass)
    ctx.layer("spark.shuffle_fetch_wait_s", a.fetchWaitMs / 1000.0 / nPass)
    ctx.layer("spark.task_s", a.taskMs / 1000.0 / nPass)
    ctx.layer("spark.cpu_s", a.cpuNs / 1e9 / nPass)
    ctx.layer("spark.spill_bytes", a.spill / nPass)
    val tracedWall = Stats.median(passWalls.filter(_._2).map(_._1))
    ctx.layer("spark.busy_share", a.taskMs / 1000.0 / nPass / (tracedWall * ctx.cores))
    ctx.layer("trace.overhead_share",
      tracedWall / Stats.median(passWalls.filterNot(_._2).map(_._1)) - 1.0)
    traced.groupBy(_.lane).foreach { case (lane, rs) =>
      ctx.layer(s"lane.$lane.wall_s", Stats.median(rs.map(_.wall)))
      if (laneMemory) {
        ctx.layer(s"lane.$lane.storage_mb", Stats.median(rs.map(_.storageMb)))
        ctx.layer(s"lane.$lane.gc_s", Stats.median(rs.map(_.gcMs / 1000.0)))
        laneLayers(rollup, s"lane.$lane", rs)
      }
    }
  }

  /** Where lane calls spent their time: inside the lane call before the
    * action, jobs, time covered by jobs, task time; per call. */
  private def laneLayers(rollup: Rollup, prefix: String, rs: Seq[LaneRun]): Unit = {
    val nanoToEpoch = System.currentTimeMillis() - System.nanoTime() / 1_000_000L
    val tags = rs.map(r => s"${r.pass}|${r.lane}|").toSet
    def mine(tag: String): Boolean = tags.exists(tag.startsWith)
    val jobs = rollup.completedJobs(mine)
    val covered = rs.map { r =>
      Intervals.unionLength(jobs.filter(_.tag.startsWith(s"${r.pass}|${r.lane}|"))
        .map(j => (j.start, j.end)), nanoToEpoch + r.t0 / 1_000_000L, nanoToEpoch + r.t1 / 1_000_000L)
    }.sum
    ctx.layer(s"$prefix.build_s", rs.map(r => (r.tb - r.t0) / 1e9).sum / rs.size)
    ctx.layer(s"$prefix.jobs", jobs.size.toDouble / rs.size)
    ctx.layer(s"$prefix.job_s", covered / 1000.0 / rs.size)
    ctx.layer(s"$prefix.task_s", rollup.taskAgg(mine).taskMs / 1000.0 / rs.size)
  }

  /** Lane `name` once more, alone: every persisted block released and
    * the heap collected first, so its wall can be set against its wall
    * at its position in the sequence. */
  def isolated(name: String): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    val rollup = new Rollup
    sc.addSparkListener(rollup)
    val rs = (0 until 2).map { k =>
      val pass = -1 - k
      val gc0 = Jvm.gcMs()
      val t0 = System.nanoTime()
      ctx.attempt(1, 0)
      sc.setLocalProperty(Rollup.TagKey, s"$pass|$name|build")
      val df = fns(name)(spark, dataDir)
      val tb = System.nanoTime()
      sc.setLocalProperty(Rollup.TagKey, s"$pass|$name|action")
      try df.write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => ctx.fail(s"$name isolated: $e") }
      sc.setLocalProperty(Rollup.TagKey, null)
      LaneRun(pass, name, t0, tb, System.nanoTime(), storageMb(), Jvm.gcMs() - gc0, traced = true)
    }
    BusDrain(sc)
    sc.removeSparkListener(rollup)
    val best = Seq(rs.minBy(_.wall))
    ctx.layer(s"lane.$name.isolated_wall_s", best.head.wall)
    ctx.layer(s"lane.$name.isolated.gc_s", best.head.gcMs / 1000.0)
    laneLayers(rollup, s"lane.$name.isolated", best)
  }

  /** The `ops` and `functions` layers on the dedup corpus: timed calls
    * to the public `ops.Dedup` functions, plus the check that every
    * planted near-duplicate pair (doc id-1, id for id % 20 == 6)
    * surfaces as an LSH candidate. `ops.lsh_candidates_s` includes the
    * signatures it is computed from. 8 single-hash bands miss a
    * Jaccard-0.95 pair with probability 0.05^8 ~ 4e-11. */
  def dedupOps(): Unit = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    val sigs = Dedup.minhash(docs, "text", "doc_id", numHashes = 8, bandSize = 1)
    val t0 = System.nanoTime()
    if (ctx.traced) sigs.write.format("noop").mode("overwrite").save()
    val t1 = System.nanoTime()
    val cands = Dedup.lshCandidates(sigs, "doc_id", maxBucket = 64).select("d1", "d2").persist()
    val found = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val t2 = System.nanoTime()
    val nDocs = docs.count()
    val planted = (6L until nDocs by 20L).map(i => (i - 1, i))
    val missing = planted.count(p => !found(p))
    ctx.attempt(planted.size.toLong, missing.toLong)
    if (missing > 0) ctx.fail(s"$missing of ${planted.size} planted near-duplicate pairs not surfaced")
    ctx.info("planted_pairs", planted.size.toDouble)
    if (ctx.traced) {
      val shingles = docs.select(col("doc_id"), expr(
        "transform(sequence(1, size(split(text, ' ')) - 2), i -> " +
          "concat_ws(' ', slice(split(text, ' '), i, 3)))").as("sh"))
      val confirmed = cands
        .join(shingles.toDF("d1", "s1"), "d1").join(shingles.toDF("d2", "s2"), "d2")
        .filter(size(array_intersect(col("s1"), col("s2"))) >=
          lit(0.8) * size(array_union(col("s1"), col("s2"))))
        .count()
      ctx.layer("ops.minhash_s", (t1 - t0) / 1e9)
      ctx.layer("ops.lsh_candidates_s", (t2 - t1) / 1e9)
      ctx.layer("ops.candidate_pairs", found.size.toDouble)
      ctx.layer("ops.candidate_useful_share",
        if (found.isEmpty) 0.0 else confirmed.toDouble / found.size)
    }
    cands.unpersist()
  }
}

object Batch {
  val MinPasses = 1
  val WarmPasses = 2
  val MaxPasses = 40

  /** The 17 headline lanes at the head of the engine's core bench list. */
  val EtlLanes: Seq[String] = Seq(
    "flagship_revenue_by_nation", "e2_pipeline", "f10_time_buckets",
    "j3_shuffle_hash", "j4_sort_merge", "j8_semi_join", "a1_pricing_summary",
    "a4_ohlc_bars", "w3_frames", "q1_topk", "q1b_grouped_topk",
    "sql6_q3_shipping", "sql7_q18_big_orders", "sql8_q10_returns",
    "sql9_q21_blocked", "sql11_q17_small_qty", "sql12_q22_dormant")

  /** Loop- and materialization-heavy lanes, in the engine bench's order. */
  val IterativeLanes: Seq[String] = Seq(
    "x10_pagerank", "x10_lpa", "st_merge_replay", "x2_span_cut",
    "x2_span_apply", "x7_incr_lpa", "x10_scc")

  val DedupLanes: Seq[String] = Seq("x2_dedup_e2e", "x9_curation_e2e")
}
