package perfbench

import graft.schema.CurrencyDim
import graft.sources.{AmqpSink, LoopbackAmqpBroker, MessageSink, TickChannels}
import graft.streaming.TickPipeline
import org.apache.spark.BusDrain
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

/** Seeded Bitfinex-style tick frames. Pair popularity is Zipf-skewed over
  * the 84 dimension pairs, a fixed share of frames carry a pair the
  * dimension does not know (null isin after enrichment), and a fixed
  * share are redeliveries: an exact copy (same exchange, pair, ts and
  * values) of a recent frame. Each frame's volume encodes its sequence
  * id (volume = seq / 1000), which reaches the envelope as
  * `volume_milli`, so every published envelope names its tick. */
final class TickGen(seed: Long) {
  private val rnd = new java.util.Random(seed)
  private val pairs = CurrencyDim.rows.map(_.pair).toArray
  private val unknown = Array.tabulate(8)(i => f"zz$i%02dusd")
  private val cdf = {
    val w = Array.tabulate(pairs.length)(i => 1.0 / math.pow(i + 1, TickGen.ZipfExponent))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private val recent = ArrayBuffer.empty[TickChannels.Frame]

  /** Redeliveries only copy frames generated after this call. */
  def forgetRecent(): Unit = recent.clear()

  def pair(): String =
    if (rnd.nextDouble() < TickGen.UnknownShare) unknown(rnd.nextInt(unknown.length))
    else {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      pairs(math.min(if (i >= 0) i else -i - 1, pairs.length - 1))
    }

  /** The frame for sequence id `seq` stamped `tsMicros`, followed by a
    * redelivered copy of a recent frame when the draw says so. */
  def next(seq: Long, tsMicros: Long): Seq[TickChannels.Frame] = {
    val p = pair()
    val bid = 100.0 + rnd.nextInt(1000000) / 100.0
    val ask = bid + 0.01 * (1 + rnd.nextInt(50))
    val f: TickChannels.Frame = ("btfx", p, Array(bid, 1.0 + rnd.nextInt(100),
      ask, 1.0 + rnd.nextInt(100), 0.5, 0.01, (bid + ask) / 2, seq / 1000.0,
      ask + 5.0, bid - 5.0), tsMicros)
    recent += f
    if (recent.size > 64) recent.remove(0)
    if (rnd.nextDouble() < TickGen.RedeliveryShare)
      Seq(f, recent(rnd.nextInt(recent.size)))
    else Seq(f)
  }
}

/** The traffic shape (Zipf exponent 1.1, the two shares) is chosen for
  * the benchmark, not fitted: the repository holds no feed samples. */
object TickGen {
  val ZipfExponent = 1.1
  val UnknownShare = 0.05
  val RedeliveryShare = 0.03
}

/** Per-tick publish record, filled by [[TimedSink]] on executor threads. */
object PublishLog {
  @volatile private var base = 0L
  @volatile private var started: AtomicLongArray = new AtomicLongArray(0)
  @volatile private var returned: AtomicLongArray = new AtomicLongArray(0)
  val calls = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  val durations = new ConcurrentLinkedQueue[java.lang.Long]()

  /** Track return times for sequence ids in [from, from + n). */
  def track(from: Long, n: Int): Unit = {
    base = from; started = new AtomicLongArray(n); returned = new AtomicLongArray(n)
  }
  def reset(): Unit = {
    calls.set(0L); failed.set(0L); durations.clear(); track(0L, 0)
  }
  def record(seq: Long, startNs: Long, endNs: Long, ok: Boolean): Unit = {
    calls.incrementAndGet()
    if (!ok) failed.incrementAndGet()
    durations.add(endNs - startNs)
    val i = seq - base
    if (ok && i >= 0 && i < returned.length() && returned.compareAndSet(i.toInt, 0L, endNs))
      started.set(i.toInt, startNs)
  }
  private def at(a: AtomicLongArray, seq: Long): Long = {
    val i = seq - base
    if (i >= 0 && i < a.length()) a.get(i.toInt) else 0L
  }
  def returnedAt(seq: Long): Long = at(returned, seq)
  def startedAt(seq: Long): Long = at(started, seq)
}

/** Borrowed AMQP connections: one per concurrently publishing task, so
  * local[4] never holds more than 4 broker connections. */
object SinkPool {
  private val idle = new ConcurrentLinkedQueue[AmqpSink]()
  private val all = new ConcurrentLinkedQueue[AmqpSink]()
  def borrow(port: Int): AmqpSink = Option(idle.poll()).getOrElse {
    val s = new AmqpSink("127.0.0.1", port, "guest", "guest"); all.add(s); s
  }
  def give(s: AmqpSink): Unit = idle.add(s)
  def closeAll(): Unit = { all.forEach(_.close()); all.clear(); idle.clear() }
}

/** Timing wrapper around the engine's AMQP `MessageSink.publish`. */
final class TimedSink(port: Int) extends MessageSink {
  override def publish(queue: String, payload: String): Boolean = {
    val sink = SinkPool.borrow(port)
    val t0 = System.nanoTime()
    val ok = try sink.publish(queue, payload) finally SinkPool.give(sink)
    PublishLog.record(TimedSink.seqOf(payload), t0, System.nanoTime(), ok)
    ok
  }
}

object TimedSink {
  def seqOf(envelope: String): Long = {
    val k = envelope.indexOf("\"volume_milli\":")
    if (k < 0) -1L
    else {
      var i = k + 15; var v = 0L
      while (i < envelope.length && Character.isDigit(envelope.charAt(i))) {
        v = v * 10 + (envelope.charAt(i) - '0'); i += 1
      }
      v
    }
  }
}

/** The `tick_stream` workload: TickChannels.append -> TickPipeline.fromWss
  * -> dedupStream -> publishStream through an AMQP sink to the project's
  * loopback broker. After warm-up drains of a fixed backlog
  * (Trigger.AvailableNow), an open loop offers ticks at a fixed rate to a
  * query triggered every TriggerMs and times each tick from when it was
  * due to the return of its publish; timed drains of the same backlog
  * follow. */
final class TickStream(spark: SparkSession, ctx: RunContext) {
  import TickStream._
  private val broker = new LoopbackAmqpBroker("guest", "guest")
  private val sink = new TimedSink(broker.port)
  private var queryCount = 0

  /** Number of bodies the broker has received for `queue`. */
  private def received(queue: String): Int =
    broker.synchronized(broker.messages.count(_.queue == queue))
  /** The bodies received for `queue`, removed from the broker's record. */
  private def take(queue: String): Seq[String] = broker.synchronized {
    val (mine, rest) = broker.messages.partition(_.queue == queue)
    broker.messages.clear(); broker.messages ++= rest
    mine.map(_.body).toSeq
  }

  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private def listener(into: ConcurrentLinkedQueue[StreamingQueryProgress]) =
    new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        into.add(e.progress)
    }
  private val progressListener = listener(progress)

  private def start(channel: String, trigger: Trigger) = {
    queryCount += 1
    val src = spark.readStream.format("graft.sources.TickStreamSource")
      .option("channel", channel).load()
    TickPipeline.publishStream(
      TickPipeline.dedupStream(TickPipeline.fromWss(spark)(src)), sink, channel, trigger)
  }

  /** Envelopes the batch pipeline publishes for `frames` after exact
    * (exchange, isin, ts) dedup: the expected published multiset. */
  private def expected(frames: Seq[TickChannels.Frame]): Seq[String] = {
    // ts travels as epoch micros so no precision is lost on the way in
    val schema = TickChannels.schema.copy(fields = TickChannels.schema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = LongType) else f))
    val rows = frames.map(f => Row(f._1, f._2, f._3.toSeq, f._4))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .withColumn("ts", timestamp_micros(col("ts")))
    TickPipeline.fromWss(spark)(df).dropDuplicates("exchange", "isin", "ts")
      .select("envelope").collect().map(_.getString(0)).toSeq
  }

  /** Multiset difference: (missing, extra) counts of `got` against `want`. */
  private def compare(want: Seq[String], got: Seq[String]): (Long, Long) = {
    val w = want.groupMapReduce(identity)(_ => 1L)(_ + _)
    val g = got.groupMapReduce(identity)(_ => 1L)(_ + _)
    val missing = w.iterator.map { case (k, n) => math.max(0L, n - g.getOrElse(k, 0L)) }.sum
    val extra = g.iterator.map { case (k, n) => math.max(0L, n - w.getOrElse(k, 0L)) }.sum
    (missing, extra)
  }

  private def drainOnce(frames: Seq[TickChannels.Frame], want: Seq[String]): Double = {
    val ch = s"drain$queryCount"
    frames.foreach(TickChannels.append(ch, _))
    val t0 = System.nanoTime()
    val q = start(ch, Trigger.AvailableNow())
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    val (missing, extra) = compare(want, take(ch))
    ctx.attempt(want.size.toLong, missing + extra)
    // the query has ended: drop its channel so drains do not pile up heap
    TickChannels.clear()
    wall
  }

  def run(): Unit = {
    // fixed backlog: one frame pattern, replayed by every drain pass
    val gen = new TickGen(ctx.seed)
    val t0us = 1_700_000_000_000_000L
    val backlog = (0 until BacklogTicks).flatMap(i => gen.next(i, t0us + i * 1000L))
    val want = expected(backlog)
    // warm-up: untimed drains (codegen, JIT, state store, first connections)
    (0 until WarmDrains).foreach(_ => drainOnce(backlog, want))
    ctx.firstTimedOp()

    // open loop at a fixed offered rate
    gen.forgetRecent()
    val seqBase = BacklogTicks.toLong
    // the first OpenWarmSeconds of the open loop warm its query and are not timed
    val nWarm = OpenWarmSeconds * OfferedRate
    val nOpen = nWarm + ctx.seconds * OfferedRate
    // a traced run traces every other window of the timed part (spans,
    // backlog sampling, progress listener), so traced against untraced
    // windows of the same loop give the tracing overhead on latency
    def tracedAt(k: Int): Boolean =
      ctx.traced && k >= nWarm && ((k - nWarm) / (OfferedRate * WindowSeconds)) % 2 == 1
    PublishLog.reset()
    PublishLog.track(seqBase, nOpen)
    val ch = "open"
    val q = start(ch, Trigger.ProcessingTime(TriggerMs))
    val sent = ArrayBuffer.empty[TickChannels.Frame]
    val due = new Array[Long](nOpen)
    val late = new Array[Double](nOpen)
    var backlogMax = 0L
    val periodNs = 1e9 / OfferedRate
    val startNs = System.nanoTime() + 200_000_000L
    val epochUs = System.currentTimeMillis() * 1000L + 200_000L
    var tracing = false
    var i = 0
    while (i < nOpen) {
      val t = tracedAt(i)
      if (t != tracing) {
        if (t) spark.streams.addListener(progressListener)
        else spark.streams.removeListener(progressListener)
        tracing = t
      }
      val d = startNs + (i * periodNs).toLong
      var now = System.nanoTime()
      while (now < d) { LockSupport.parkNanos(math.min(d - now, 100_000L)); now = System.nanoTime() }
      val a0 = if (t) System.currentTimeMillis() else 0L
      val fs = gen.next(seqBase + i, epochUs + (d - startNs) / 1000L)
      fs.foreach(TickChannels.append(ch, _))
      sent ++= fs
      due(i) = d
      late(i) = (System.nanoTime() - d) / 1e6
      if (t) {
        ctx.spans.add(0, "gen", "gen.append", s"seq=${seqBase + i}", a0, System.currentTimeMillis())
        // each unique tick is published once after dedup; redeliveries never
        if ((i & 63) == 0) backlogMax = math.max(backlogMax, (i + 1) - PublishLog.calls.get())
      }
      i += 1
    }
    if (tracing) spark.streams.removeListener(progressListener)
    val wantOpen = expected(sent.toSeq)
    val waitUntil = System.nanoTime() + 30_000_000_000L
    while (received(ch) < wantOpen.size && System.nanoTime() < waitUntil)
      Thread.sleep(20)
    q.stop()
    q.exception.foreach(e => throw e)
    val (missing, extra) = compare(wantOpen, take(ch))
    ctx.attempt(wantOpen.size.toLong, missing + extra + PublishLog.failed.get())
    if (ctx.traced) BusDrain(spark.sparkContext)

    // timed drains, after the open loop has warmed the JIT further
    val walls = (0 until Drains).map(_ => drainOnce(backlog, want))
    val drainWall = Stats.median(walls)

    // latency ms of every timed tick that was published, by traced window
    val timed = (nWarm until nOpen).flatMap { k =>
      val r = PublishLog.returnedAt(seqBase + k)
      if (r > 0) Some((tracedAt(k), (r - due(k)) / 1e6)) else None
    }
    val lat = timed.map(_._2)
    if (ctx.traced) {
      val nanoToEpochMs = System.currentTimeMillis() - System.nanoTime() / 1_000_000L
      (0 until nOpen).filter(tracedAt).foreach { k =>
        val (s0, r) = (PublishLog.startedAt(seqBase + k), PublishLog.returnedAt(seqBase + k))
        if (r > 0) ctx.spans.add(0, "sources", "sources.publish", s"seq=${seqBase + k}",
          nanoToEpochMs + s0 / 1_000_000L, nanoToEpochMs + r / 1_000_000L)
      }
    }
    ctx.metric("wall_s", drainWall)
    ctx.metric("latency_p50_ms", Stats.quantile(lat, 0.50))
    ctx.metric("latency_p99_ms", Stats.quantile(lat, 0.99))
    ctx.info("latency_samples", lat.size.toDouble)
    ctx.info("offered_rate_per_s", OfferedRate.toDouble)
    // the open loop must stay below what the pipeline drains
    ctx.info("offered_share_of_drain", OfferedRate / (want.size / drainWall))
    ctx.info("drain_passes", walls.size.toDouble)
    walls.zipWithIndex.foreach { case (w, k) => ctx.info(s"drain_${k}_s", w) }
    ctx.info("open_loop_s", ctx.seconds.toDouble)
    ctx.info("backlog_ticks", BacklogTicks.toDouble)
    ctx.info("broker_connections", broker.connections.toDouble)

    if (ctx.traced) {
      val ps = progress.toArray(new Array[StreamingQueryProgress](0)).toSeq.filter(_.numInputRows > 0)
      def dur(p: StreamingQueryProgress, k: String*): Double =
        k.map(x => Option(p.durationMs.get(x)).map(_.doubleValue).getOrElse(0.0)).sum
      ps.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        ctx.spans.add(0, "streaming", "streaming.batch", s"batch=${p.batchId}", start,
          start + dur(p, "triggerExecution").toLong)
      }
      val durs = PublishLog.durations.toArray(new Array[java.lang.Long](0)).map(_.longValue / 1e6).toSeq
      val (on, off) = timed.partition(_._1)
      if (on.nonEmpty && off.nonEmpty) ctx.layer("trace.overhead_share",
        Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)) - 1.0)
      ctx.layer("sources.ticks_per_s", want.size / drainWall)
      ctx.layer("sources.ingest_backlog_max", backlogMax.toDouble)
      ctx.layer("sources.publish_calls", PublishLog.calls.get.toDouble)
      ctx.layer("sources.publish_failed", PublishLog.failed.get.toDouble)
      ctx.layer("sources.publish_ms_p50", Stats.quantile(durs, 0.5))
      ctx.layer("sources.publish_ms_p99", Stats.quantile(durs, 0.99))
      ctx.layer("gen.late_ms_p99", Stats.quantile(late.toSeq, 0.99))
      ctx.layer("streaming.batches", ps.size.toDouble)
      ctx.layer("streaming.trigger_ms_p50", Stats.quantile(ps.map(dur(_, "triggerExecution")), 0.5))
      ctx.layer("streaming.add_batch_ms_p50", Stats.quantile(ps.map(dur(_, "addBatch")), 0.5))
      ctx.layer("streaming.planning_ms_p50", Stats.quantile(ps.map(dur(_, "queryPlanning")), 0.5))
      ctx.layer("streaming.offsets_ms_p50",
        Stats.quantile(ps.map(dur(_, "latestOffset", "getBatch")), 0.5))
      ctx.layer("streaming.wal_ms_p50", Stats.quantile(ps.map(dur(_, "walCommit", "commitOffsets")), 0.5))
      ctx.layer("streaming.rows_per_batch_p50", Stats.quantile(ps.map(_.numInputRows.toDouble), 0.5))
      ctx.layer("streaming.state_rows",
        ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0))
    }
  }

  def close(): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.streams.removeListener(progressListener)
    SinkPool.closeAll()
    broker.close()
  }
}

/** Backlog, offered rate and trigger are benchmark choices. The reference
  * polls at O(1-10) records/s per process with a 10 s sleep; at that pace
  * a run would hold one batch and no measurable percentile. */
object TickStream {
  val BacklogTicks = 40000
  /** Fixed so runs compare; about 6 % of the drain throughput on 4 cores
    * (reported per run as `offered_share_of_drain`). */
  val OfferedRate = 2000
  /** The open loop's micro-batch cadence: longer than one batch takes
    * here, so a tick's wait for the next trigger does not compound batch
    * to batch. A tick waits TriggerMs / 2 on average for its batch. */
  val TriggerMs = 1000L
  /** Timed drains of the backlog, after the open loop, which runs for
    * the measured seconds. */
  val Drains = 10
  /** Traced runs switch tracing on and off every WindowSeconds. */
  val WindowSeconds = 2
  val WarmDrains = 4
  val OpenWarmSeconds = 3
}
