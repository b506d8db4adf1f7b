package perfbench

/** Per-layer metric helpers shared by the workloads. */
object Layers {
  type L = (String, Double, String)

  def toMetric(l: L): Metric = Metric(l._1, l._2, l._3)

  /** Schema-cache counts from `AvroDecoderState.cacheStats` deltas and the
    * PERMISSIVE swallow count. */
  def cache(hits: Long, misses: Long, swallowed: Long): Seq[L] = Seq(
    ("avro.schema_hits", hits.toDouble, "count"),
    ("avro.schema_misses", misses.toDouble, "count"),
    ("avro.schema_hit_ratio",
      if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses), "ratio"),
    ("avro.swallowed", swallowed.toDouble, "count"))

  def registry(s: CountingProvider.Stats): Seq[L] = Seq(
    ("registry.fetches", s.fetches.sum.toDouble, "count"),
    ("registry.fetch_ms", s.fetchNanos.sum / 1e6, "ms"))

  /** Tracing overhead: traced over untraced median operation time. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else (Stats.median(traced) / Stats.median(untraced) - 1) * 100

  /** Record listener-reported jobs and stages as spans under `parent`.
    * Listener times are epoch milliseconds; they are mapped onto the
    * monotonic clock the other spans use. */
  def sparkSpans(trace: Trace, op: Long, parent: Long, w: SparkWindow): Unit = {
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def ns(ms: Long) = ms * 1000000L + offsetNs
    val jobIds = w.jobIntervals.map { case (_, s, e) =>
      (s, e, trace.record("spark.job", op, parent, ns(s), ns(e)))
    }
    w.stageIntervals.foreach { case (_, _, s, e) =>
      val job = jobIds.find { case (js, je, _) => s >= js && s <= je }
        .map(_._3).getOrElse(parent)
      trace.record("spark.stage", op, job, ns(s), ns(e))
    }
  }
}
