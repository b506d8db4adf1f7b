package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.avro.{AvroDecoderState, AvroTransform}
import graft.streaming.StreamingPipelines

/** `decode_stream`: the reference pipeline through
  * `StreamingPipelines.decodeStream` as an open loop. One generator thread
  * appends seeded framed records to an in-process stream source on a fixed
  * schedule, stamping each record's creation time in its `timestamp`
  * column; Spark runs at `local[cores-1]`. Latency runs from a record's due
  * time to the end of the micro-batch that emitted it.
  *
  * The run offers one fixed rate for the latency metrics, then a rate far
  * above what the pipeline can emit; the sustained rate is the highest
  * rate it kept up with across the two phases. More distinct
  * schema ids than the default `schema.capacity` appear over a run, so the
  * Zipf tail misses, evicts and re-fetches through the delayed registry:
  * this workload exercises the per-micro-batch fixed cost and the
  * schema-cache miss path that `decode_envelope` bypasses. */
object DecodeStream {
  val Schemas = 120
  val LatencyRate = 10000.0
  /** Offered after the latency phase; well above what the pipeline can
    * emit on three cores, so the phase measures its sustainable rate. */
  val OverloadRate = 110000.0
  val WarmupSeconds = 3.0
  /** One output row in this many is kept for the content check. */
  val SampleEvery = 16
  /** The generator appends every `TickMs`. */
  val TickMs = 10L
  /** Micro-batches start on a fixed processing-time trigger. */
  val TriggerMs = 500L

  type Rec = (String, Int, Long, Array[Byte], Array[Byte], Timestamp)

  private final case class Batch(id: Long, endNs: Long, offsets: Array[Long],
      samples: Array[(Long, Array[Byte], Array[Byte])])

  /** Appends records as they fall due; never waits for the consumer. */
  private final class Generator(input: MemoryStream[Rec], corpus: Corpus,
      sched: Schedule) extends Thread("perfbench-generator") {
    @volatile var sent = 0L
    @volatile var corrupt = 0L
    @volatile var failure: Throwable = null
    /** Per append: (first offset, its due time, time the append ended). */
    val chunks = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    setDaemon(true)

    override def run(): Unit = try {
      var tick = sched.startNs
      while (sent < sched.total && !isInterrupted) {
        var now = System.nanoTime()
        while (now < tick) { LockSupport.parkNanos(tick - now); now = System.nanoTime() }
        tick += TickMs * 1000000L
        val due = sched.dueBy(now)
        if (due > sent) {
          val ts = new Timestamp(System.currentTimeMillis())
          var c = 0L
          val recs = (sent until due).map { o =>
            val g = corpus.generate(o)
            if (g.corrupt) c += 1
            val r = g.row
            (r.topic, r.partition, r.offset, r.key, r.value, ts): Rec
          }
          input.addData(recs)
          chunks.add((sent, sched.dueNs(sent), System.nanoTime()))
          corrupt += c
          sent = due
        }
      }
    } catch { case t: Throwable => failure = t }
  }

  def run(spark: SparkSession, o: Opts, clock: RunClock, trace: Trace): Outcome = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = new Corpus(o.seed, Schemas)
    val provider = CountingProvider.fresh(corpus.registry, Decode.RegistryDelayMicros)
    // JIT the decode path in batch first, under its own cache token, so
    // the stream's schema cache still starts cold.
    val warm = Decode.frame(spark, corpus, 10000L, o.cores)
    AvroTransform(warm, Decode.config, CountingProvider.fresh(corpus.registry, 0L))
      .write.format("noop").mode("overwrite").save()
    warm.unpersist()
    // one input partition per Spark core: a micro-batch runs as one wave
    val input = MemoryStream[Rec](spark.sparkContext.defaultParallelism)
    val source = input.toDF().toDF("topic", "partition", "offset", "key", "value", "timestamp")
    val decoded = StreamingPipelines.decodeStream(source, Decode.config, provider)

    val measure = o.seconds.toDouble
    val latencyS = measure * 0.65
    val phases = Seq(Phase("warmup", LatencyRate, WarmupSeconds),
      Phase("latency", LatencyRate, latencyS),
      Phase("overload", OverloadRate, measure - latencyS))

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    spark.streams.addListener(listener)
    val probe = if (o.trace) Some(new SparkProbe(spark.sparkContext)) else None

    val batches = new ConcurrentLinkedQueue[Batch]()
    @volatile var emitted = 0L
    // Traced runs trace every other micro-batch; comparing the two halves'
    // sink times gives the tracing overhead.
    val sinkMs = new ConcurrentLinkedQueue[(Boolean, Double)]()
    val windows = new ConcurrentLinkedQueue[SparkWindow]()
    val sink: (DataFrame, Long) => Unit = { (df, id) =>
      val traced = o.trace && id % 2 == 0
      trace.on = traced
      probe.foreach(_.on = traced)
      val op = trace.newId()
      var sinkSpan = 0L
      val t0 = System.nanoTime()
      trace.span("micro_batch.sink", op, 0L) { sid =>
        sinkSpan = sid
        // Every offset, for the exactly-once check, but the key and value
        // bytes of sampled rows only; the rest stay in the executors.
        val sampled = col("offset") % SampleEvery === 0
        val rows = df.select(col("offset"), sampled.as("sampled"),
          when(sampled, col("key")).as("key"), when(sampled, col("value")).as("value"))
          .collect()
        val end = System.nanoTime()
        emitted += rows.length
        batches.add(Batch(id, end, rows.map(_.getLong(0)),
          rows.filter(_.getBoolean(1))
            .map(r => (r.getLong(0), r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))))
      }
      val ms = (System.nanoTime() - t0) / 1e6
      sinkMs.add((traced, ms))
      if (traced) probe.foreach { p =>
        val w = p.window(ms)
        windows.add(w)
        Layers.sparkSpans(trace, op, sinkSpan, w)
      }
    }
    val query = decoded.writeStream
      .option("checkpointLocation", java.nio.file.Paths.get(o.workDir, "checkpoint")
        .toAbsolutePath.toString)
      .foreachBatch(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(TriggerMs))
      .start()

    val sched = new Schedule(System.nanoTime() + 200000000L, phases)
    val gen = new Generator(input, corpus, sched)
    gen.start()
    sleepUntil(sched.timeRange(1)._1)
    clock.setupDone()
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val cpu0 = Main.processCpuNs() - threads.getThreadCpuTime(gen.getId)
    val (h0, m0) = AvroDecoderState.cacheStats(provider.cacheToken)
    val fetch0 = CountingProvider.stats(provider.cacheToken).fetches.sum
    val fetchNs0 = CountingProvider.stats(provider.cacheToken).fetchNanos.sum
    sleepUntil(sched.timeRange(1)._2)
    // CPU of the engine (every thread but the generator) over the
    // fixed-rate phase, per 1000 rows offered in it
    val cpuMsPer1k = (Main.processCpuNs() - threads.getThreadCpuTime(gen.getId) - cpu0) /
      1e6 / ((sched.offsetRange(1)._2 - sched.offsetRange(1)._1) / 1000.0)
    sleepUntil(sched.endNs)
    gen.join(60000)
    val backlogEnd = gen.sent - emitted
    val (h1, m1) = AvroDecoderState.cacheStats(provider.cacheToken)
    val fetch1 = CountingProvider.stats(provider.cacheToken).fetches.sum
    val fetchNs1 = CountingProvider.stats(provider.cacheToken).fetchNanos.sum
    // let the backlog drain, then stop
    val drainBy = System.nanoTime() + 20000000000L
    while (emitted < gen.sent && query.isActive && System.nanoTime() < drainBy)
      Thread.sleep(20)
    query.stop()
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.streams.removeListener(listener)
    // the last micro-batch may have switched tracing off; the layer loops
    // below are traced in every traced run
    trace.on = o.trace
    probe.foreach(_.on = false)
    val failure = Option(gen.failure).orElse(query.exception.map(_.cause))
    failure.foreach(t => throw new RuntimeException("decode_stream failed", t))

    // --- outputs: every generated row exactly once, sampled content ---
    val total = gen.sent
    val seen = new Array[Byte](total.toInt)
    var wrongOffsets = 0L
    val bs = batches.asScala.toSeq.sortBy(_.id)
    for (b <- bs; off <- b.offsets) {
      if (off < 0 || off >= total) wrongOffsets += 1
      else if (seen(off.toInt) == 1) wrongOffsets += 1
      else seen(off.toInt) = 1
    }
    val missing = seen.count(_ == 0).toLong
    val reasons = Seq.newBuilder[String]
    var wrongContent = 0L
    var checkedSamples = 0L
    for (b <- bs; (off, k, v) <- b.samples) {
      checkedSamples += 1
      Check.row(corpus.generate(off), k, v).foreach { r =>
        if (wrongContent < 3) reasons += s"offset $off: $r"
        wrongContent += 1
      }
    }
    val swallowed = AvroDecoderState.swallowedErrorCount(provider.cacheToken)
    val failed = wrongOffsets + missing + wrongContent + math.abs(swallowed - gen.corrupt)

    // --- latency per record, from due time to its batch's end ---
    // A record never emitted is charged up to the end of the run, a lower
    // bound on its latency; it is also counted as missing above.
    val endOfRun = System.nanoTime()
    val emitNs = Array.fill(total.toInt)(endOfRun)
    for (b <- bs; off <- b.offsets if off >= 0 && off < total) emitNs(off.toInt) = b.endNs
    def latencies(phase: Int): Array[Double] = {
      val (lo, hi) = sched.offsetRange(phase)
      (lo until hi).map(i => OpenLoop.latencyMs(sched.dueNs(i), emitNs(i.toInt))).toArray
    }
    val lat = latencies(1)
    // Records of one micro-batch share its end time, so the tail is taken
    // over batches: the latency of each batch's oldest record. A 10 s run
    // has ~13 batches in this phase, too few for any level above the
    // median (Stats.tailLevel), so there the metric is the median
    // batch-worst latency, not a percentile over batches.
    val (lo1, hi1) = sched.offsetRange(1)
    val batchWorst = bs.flatMap { b =>
      val in = b.offsets.filter(off => off >= lo1 && off < hi1)
      if (in.isEmpty) None else Some(OpenLoop.latencyMs(sched.dueNs(in.min), b.endNs))
    }
    val (tailP, tailMs) = Stats.tail(batchWorst)
    val chunks = gen.chunks.asScala.toSeq
    // Each fixed-rate phase is one step. Its emitted rate is its rows over
    // the time from the phase's start until the last of them was emitted:
    // below capacity that is the offered rate, above it the drain rate.
    val steps = (1 until phases.size).map { phase =>
      val (lo, hi) = sched.offsetRange(phase)
      val last = (lo until hi).iterator.map(i => emitNs(i.toInt)).max
      OpenLoop.Step(phases(phase).rate,
        (hi - lo) / ((last - sched.timeRange(phase)._1) / 1e9))
    }
    val sustainedRate = OpenLoop.sustained(steps)
    val e2e = Seq(
      Metric("throughput_per_s", sustainedRate, "1/s"),
      Metric("latency_p50_ms", Stats.median(lat), "ms"),
      Metric("latency_tail_ms", tailMs, "ms"))

    val timed = progress.asScala.toSeq.filter(_.numInputRows > 0)
    val inWindow = bs.filter(b => b.endNs >= sched.timeRange(1)._1 && b.endNs < sched.timeRange(1)._2)
    val windowIds = inWindow.map(_.id).toSet
    val ps = timed.filter(p => windowIds.contains(p.batchId))
    def p50(key: String): Double =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(_.durationMs.getOrDefault(key, 0L).toDouble))
    val layers = if (!o.trace) Nil else {
      val sample = (0L until total).iterator.map(corpus.generate)
        .filter(_.expectedValue.isInstanceOf[Expected.Envelope])
        .take(DecodeEnvelope.LayerSample).map(_.row.value).toArray
      val lr = AvroLayers.measure(sample, CountingProvider.fresh(corpus.registry, 0L),
        Decode.config.schemaCapacity, 5, trace, trace.newId())
      val w = SparkProbe.sum(windows.asScala.toSeq)
      val sm = sinkMs.asScala.toSeq
      Seq(
        ("trace.overhead_pct", Layers.overheadPct(sm.filter(_._1).map(_._2),
          sm.filterNot(_._1).map(_._2)), "%"),
        ("process.cpu_ms_per_op", cpuMsPer1k, "ms"),
        ("stream.batches", ps.size.toDouble, "count"),
        ("stream.batch_rows_p50", if (ps.isEmpty) 0.0 else Stats.median(ps.map(_.numInputRows.toDouble)), "count"),
        ("stream.trigger_ms_p50", p50("triggerExecution"), "ms"),
        ("stream.add_batch_ms_p50", p50("addBatch"), "ms"),
        ("stream.planning_ms_p50", p50("queryPlanning"), "ms"),
        ("stream.wal_commit_ms_p50", p50("walCommit"), "ms"),
        ("stream.commit_offsets_ms_p50", p50("commitOffsets"), "ms"),
        ("stream.get_batch_ms_p50", p50("getBatch"), "ms"),
        ("stream.backlog_rows_end", backlogEnd.toDouble, "count"),
        ("gen.lag_ms_p99", Stats.tail(chunks.map { case (_, due, added) => (added - due) / 1e6 })._2, "ms"),
        ("registry.fetches", (fetch1 - fetch0).toDouble, "count"),
        ("registry.fetch_ms", (fetchNs1 - fetchNs0) / 1e6, "ms")) ++
        Layers.cache(h1 - h0, m1 - m0, swallowed) ++
        AvroLayers.metrics(lr) ++
        SparkProbe.metrics(w, windows.size)
    }
    Outcome(total, failed, e2e, layers.map(Layers.toMetric),
      Seq(Metric("stream_latency_p50_ms", Stats.median(lat), "ms"),
        Metric("stream_latency_tail_ms", tailMs, "ms"),
        Metric("stream_sustained_rows_per_s", sustainedRate, "1/s")),
      Seq(s"decode_stream: $total rows in ${bs.size} batches; latency phase " +
        f"p50 ${Stats.median(lat)}%.1f ms, batch-worst p${tailP * 100}%.0f $tailMs%.1f ms " +
        f"over ${batchWorst.size} batches; " +
        steps.map(s => f"offered ${s.rate}%.0f/s emitted ${s.emittedRate}%.0f/s").mkString("; ") +
        s"; missing $missing, duplicate/unknown $wrongOffsets, sampled $checkedSamples " +
        s"wrong $wrongContent, corrupt ${gen.corrupt}, swallowed $swallowed, " +
        s"timed hits ${h1 - h0} misses ${m1 - m0} fetches ${fetch1 - fetch0}") ++
        reasons.result())
  }

  private def sleepUntil(ns: Long): Unit = {
    var now = System.nanoTime()
    while (now < ns) { Thread.sleep(math.max(1L, (ns - now) / 1000000L)); now = System.nanoTime() }
  }
}
