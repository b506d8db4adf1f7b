package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.avro.{AvroDecoderState, AvroTransform}
import graft.config.EngineConfig

/** Shared by the decode workloads: corpus → Kafka-shaped DataFrame, the
  * engine configuration, and the output check. */
object Decode {
  /** Stand-in for the registry's HTTP GET. */
  val RegistryDelayMicros = 250L

  def config: EngineConfig =
    EngineConfig(Seq("bench://registry"), Corpus.EnabledTopics)

  /** Rows `[0, rows)` of `corpus` as a persisted, counted DataFrame with
    * the Kafka source's columns. */
  def frame(spark: SparkSession, corpus: Corpus, rows: Long,
      parts: Int): DataFrame = {
    import spark.implicits._
    val df = spark.range(0, rows, 1, parts).as[Long].mapPartitions { it =>
      it.map { o =>
        val r = corpus.generate(o).row
        (r.topic, r.partition, r.offset, r.key, r.value)
      }
    }.toDF("topic", "partition", "offset", "key", "value")
      .withColumn("timestamp", timestamp_millis(lit(1700000000000L) + col("offset")))
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  final case class Checked(rows: Long, wrong: Long, corrupt: Long,
      reasons: Seq[String])

  /** Regenerates each output row's record by offset and compares. */
  def check(spark: SparkSession, out: DataFrame, corpus: Corpus): Checked = {
    import spark.implicits._
    val parts = out.select("offset", "key", "value")
      .as[(Long, Array[Byte], Array[Byte])]
      .mapPartitions { it =>
        var rows = 0L; var wrong = 0L; var corrupt = 0L
        val reasons = Seq.newBuilder[String]
        it.foreach { case (o, k, v) =>
          val g = corpus.generate(o)
          rows += 1
          if (g.corrupt) corrupt += 1
          Check.row(g, k, v).foreach { r =>
            if (wrong < 3) reasons += s"offset $o: $r"
            wrong += 1
          }
        }
        Iterator((rows, wrong, corrupt, reasons.result().mkString("; ")))
      }.collect()
    Checked(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum,
      parts.map(_._4).filter(_.nonEmpty).toSeq)
  }
}

/** `decode_envelope`: the reference pipeline in batch. `AvroTransform.apply`
  * over a seeded in-memory corpus into a `noop` sink, one pass after
  * another (closed loop) at `local[cores]`. Nearly all the work is in
  * `graft.avro`; the schema set fits the default `schema.capacity`, so the
  * steady state has no cache misses.
  *
  * Throughput is the median over passes. Latency is per chunk: the time a
  * task takes to decode one of the pass's `PartsPerCore * cores`
  * partitions, from the listener's task events. A run of ~12 passes gives
  * ~190 chunk times, so the tail is about p95; per pass it would be the
  * median. */
object DecodeEnvelope {
  val Rows = 120000L
  val Schemas = 24
  val LayerSample = 10000
  val PartsPerCore = 4

  def run(spark: SparkSession, o: Opts, clock: RunClock, trace: Trace): Outcome = {
    val corpus = new Corpus(o.seed, Schemas)
    val tc = System.nanoTime()
    val df = Decode.frame(spark, corpus, Rows, PartsPerCore * o.cores)
    val tw = System.nanoTime()
    val provider = CountingProvider.fresh(corpus.registry, Decode.RegistryDelayMicros)
    val cfg = Decode.config
    def pass(): Unit =
      AvroTransform(df, cfg, provider).write.format("noop").mode("overwrite").save()
    pass(); pass() // JIT and the cold schema cache belong to set-up
    val probe = if (o.trace) Some(new SparkProbe(spark.sparkContext)) else None
    probe.foreach(_.window(0)) // drop warm-up events
    val (h0, m0) = AvroDecoderState.cacheStats(provider.cacheToken)
    val tasks = new TaskTimes(spark.sparkContext)
    tasks.start()
    clock.setupDone()
    val setupNote = f"set-up: corpus ${(tw - tc) / 1e9}%.1f s, " +
      f"warm-up passes ${(System.nanoTime() - tw) / 1e9}%.1f s"

    // Traced runs alternate traced and untraced passes; the difference of
    // their medians is the tracing overhead.
    val times = Seq.newBuilder[(Boolean, Double)]
    val cpuMsPer1k = Seq.newBuilder[Double]
    val windows = Seq.newBuilder[SparkWindow]
    val t0 = System.nanoTime()
    var n = 0
    while (n < 3 || System.nanoTime() - t0 < o.seconds * 1000000000L) {
      val traced = o.trace && n % 2 == 0
      trace.on = traced
      probe.foreach(_.on = traced)
      val op = trace.newId()
      var passSpan = 0L
      val s = System.nanoTime()
      val c = Main.processCpuNs()
      trace.span("pass", op, 0L) { id => passSpan = id; pass() }
      val dt = (System.nanoTime() - s) / 1e9
      if (!traced) cpuMsPer1k += (Main.processCpuNs() - c) / 1e6 / (Rows / 1000.0)
      times += ((traced, dt))
      probe.foreach { p =>
        val w = p.window(dt * 1000)
        if (traced) { windows += w; Layers.sparkSpans(trace, op, passSpan, w) }
      }
      n += 1
    }
    trace.on = o.trace
    val chunkMs = tasks.stop()
    val (h1, m1) = AvroDecoderState.cacheStats(provider.cacheToken)
    val all = times.result()
    val untraced = all.filterNot(_._1).map(_._2)
    val passTimes = if (untraced.nonEmpty) untraced else all.map(_._2)

    val sw0 = AvroDecoderState.swallowedErrorCount(provider.cacheToken)
    val checked = Decode.check(spark, AvroTransform(df, cfg, provider), corpus)
    val swallowed = AvroDecoderState.swallowedErrorCount(provider.cacheToken) - sw0
    val wrong = checked.wrong + math.abs(swallowed - checked.corrupt) +
      math.abs(checked.rows - Rows)

    val rowsPerS = Stats.median(passTimes.map(Rows / _))
    val (tailP, tailMs) = Stats.tail(chunkMs)
    val e2e = Seq(
      Metric("throughput_per_s", rowsPerS, "1/s"),
      Metric("latency_p50_ms", Stats.median(chunkMs), "ms"),
      Metric("latency_tail_ms", tailMs, "ms"))

    val layers = if (!o.trace) Nil else {
      val sample = (0L until Rows).iterator.map(corpus.generate)
        .filter(g => g.expectedValue.isInstanceOf[Expected.Envelope])
        .take(LayerSample).map(_.row.value).toArray
      val lp = CountingProvider.fresh(corpus.registry, 0L)
      val lr = AvroLayers.measure(sample, lp, cfg.schemaCapacity, 5, trace, trace.newId())
      val reg = CountingProvider.stats(provider.cacheToken)
      val tracedTimes = all.filter(_._1).map(_._2)
      val w = SparkProbe.sum(windows.result())
      probe.foreach(_.on = false)
      Seq(("process.cpu_ms_per_op", Stats.median(cpuMsPer1k.result()), "ms")) ++
        AvroLayers.metrics(lr) ++
        Layers.cache(h1 - h0, m1 - m0, swallowed) ++
        Layers.registry(reg) ++
        SparkProbe.metrics(w, tracedTimes.size) ++ Seq(
          ("spark.parallel_efficiency",
            rowsPerS / (o.cores * lr.kernelRowsPerS1t), "ratio"),
          ("trace.overhead_pct", Layers.overheadPct(tracedTimes, untraced), "%"))
    }
    // The graft.queries layer is timed here, on a fixed query list over
    // seeded tables, in traced runs only: as a workload of its own its
    // wall times swung with the host by more than any allowed bound.
    val queries = if (o.trace) Some(QueryMix.measure(spark, o, trace)) else None
    Outcome(checked.rows + queries.map(_.attempted).getOrElse(0L),
      wrong + queries.map(_.failed).getOrElse(0L), e2e,
      (layers ++ queries.toSeq.flatMap(_.layers)).map(Layers.toMetric),
      Seq(Metric("decode_rows_per_s", rowsPerS, "1/s")),
      Seq(f"decode_envelope: ${all.size} passes of $Rows rows, " +
        f"median ${Stats.median(passTimes)}%.3f s; ${chunkMs.size} chunks, " +
        f"p50 ${Stats.median(chunkMs)}%.1f ms, p${tailP * 100}%.1f $tailMs%.1f ms; " +
        s"rows checked ${checked.rows}, wrong ${checked.wrong}, " +
        s"corrupt ${checked.corrupt}, swallowed $swallowed, " +
        s"steady misses ${m1 - m0}", setupNote) ++ checked.reasons ++
        queries.toSeq.flatMap(_.details))
  }
}
