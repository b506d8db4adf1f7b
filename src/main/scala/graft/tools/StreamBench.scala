package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.StreamingPipelines

/** Structured-Streaming throughput benchmarks over an unbounded `rate`
  * source. The reference decode pipeline is measured by
  * `python3 perfbench/run.py --workload decode_stream` instead.
  *
  * `neardup` mode: rate rows become synthetic documents (1-in-16 an exact
  * re-crawl of an earlier doc) and run [[StreamingPipelines
  * .ingestNearDupStream]] — every batch probes the persistent LSH index
  * and appends itself, so the measured rate covers shingle/minhash
  * kernels, band probe, and the index append write.
  *
  * `cdc` mode (round 7): rate rows become CDC upserts/deletes over a
  * bounded key space (heavy update churn) through
  * [[StreamingPipelines.mergeCdcStream]] — each batch merges into, and
  * crash-safely republishes, the persistent parquet snapshot, so the
  * measured rate prices the argmax merge + snapshot rewrite, the real
  * cost center of streaming CDC.
  * `trending` mode (round 7): rate rows become synthetic docs through
  * [[StreamingPipelines.trendingTermsStream]] (10 s tumbling windows,
  * zero lateness so windows close during the run) — prices tokenize +
  * the Misra-Gries sketch fold + windowed stateful aggregation.
  *
  * `edges` mode (round 8): rate rows become per-actor node events through
  * [[StreamingPipelines.transitionEdgesStream]] — prices the keyed
  * last-node state exchange + edge emission of live-graph maintenance.
  *
  * All report steady-state rows/sec from the query's own progress
  * metrics (first batch dropped — it pays JIT + state init).
  *
  * Usage: `runMain graft.tools.StreamBench <mode> [rowsPerSec] [seconds]`
  * (defaults: a per-mode offered rate, 20 s measured).
  */
object StreamBench {
  private val Modes = Seq("neardup", "cdc", "trending", "edges",
    "maintain", "quantiles")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(Modes.contains).getOrElse {
      System.err.println(
        s"usage: StreamBench <${Modes.mkString("|")}> [rowsPerSec] [seconds]")
      sys.exit(2)
    }
    val offered = args.lift(1).map(_.toInt).getOrElse(mode match {
      case "neardup" => 20000
      case "cdc" => 50000
      case "trending" => 100000
      case "edges" => 100000
      case "maintain" => 50000
      case "quantiles" => 200000
    })
    val seconds = args.lift(2).map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")

    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mode match {
      case "neardup" => runNearDup(spark, offered, seconds, cpus)
      case "cdc" => runCdc(spark, offered, seconds, cpus)
      case "trending" => runTrending(spark, offered, seconds, cpus)
      case "edges" => runEdges(spark, offered, seconds, cpus)
      case "maintain" => runMaintain(spark, offered, seconds, cpus)
      case "quantiles" => runQuantiles(spark, offered, seconds, cpus)
    }
  }

  /** Near-dup ingest throughput: synthetic docs (24 template tokens drawn
    * by value hash; every 16th row re-crawls an earlier doc verbatim so
    * the probe genuinely matches) through the persistent-LSH foreachBatch
    * ingest. */
  private def runNearDup(spark: SparkSession, offered: Int, seconds: Int,
      cpus: String): Unit = {
    val words = Seq("spark", "join", "window", "batch", "scan", "merge",
      "hash", "sort", "filter", "group", "order", "table", "column", "row",
      "query", "stream")
    val wordArr = array(words.map(lit): _*)
    val docText = concat_ws(" ", transform(sequence(lit(0), lit(23)),
      i => element_at(wordArr,
        (pmod(xxhash64(col("doc_id") * 31L + i), lit(16L)) + 1)
          .cast("int"))))
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", offered.toString)
      .option("numPartitions", cpus)
      .load()
      // 1 in 16 rows is an exact re-crawl of the doc 1000 ids earlier
      .select(when(col("value") % 16 === 0, col("value") - 1000)
        .otherwise(col("value")).as("doc_id"))
      .select(col("doc_id"), docText.as("text"))
    val indexPath = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_streambench_lsh_${System.nanoTime()}"
    var pairCount = 0L
    val q = StreamingPipelines.ingestNearDupStream(docs, "text", "doc_id",
      indexPath, threshold = 0.8,
      checkpointLocation = Some(s"${indexPath}_ckpt")) { (pairs, _) =>
      pairCount += pairs.count()
    }
    finish("stream_neardup_rows_per_sec", q, spark, offered, seconds,
      s""","pairs":$pairCount""")
  }

  /** Sleep out the run, dump per-batch progress to stderr, and emit the
    * one steady-state JSON line (first non-empty batch dropped). */
  private def finish(metric: String,
      q: org.apache.spark.sql.streaming.StreamingQuery,
      spark: SparkSession, offered: Int, seconds: Int,
      extra: => String = ""): Unit = {
    Thread.sleep(seconds * 1000L)
    val progress = q.recentProgress.toSeq
    q.exception.foreach { e =>
      System.err.println(s"[streambench] $metric FAILED: ${e.cause}")
      e.printStackTrace()
    }
    System.err.println(s"[streambench] ${progress.size} progress entries; " +
      progress.map(p => s"${p.numInputRows}r/" +
        s"${p.durationMs.getOrDefault("triggerExecution", -1L)}ms")
        .mkString(", "))
    q.stop()
    spark.stop()
    val batches = progress.filter(_.numInputRows > 0).drop(1)
    val rows = batches.map(_.numInputRows).sum
    val secs = batches.map(p =>
      p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1000.0).sum
    val rps = if (secs > 0) rows / secs else 0.0
    println(f"""{"metric":"$metric%s","value":$rps%.0f,""" +
      s""""offered_rps":$offered,"batches":${batches.size},""" +
      s""""rows":$rows$extra}""")
  }

  /** CDC churn throughput: updates/deletes over a bounded key space so
    * the snapshot stays ~keySpace rows while every batch rewrites it. */
  private def runCdc(spark: SparkSession, offered: Int, seconds: Int,
      cpus: String): Unit = {
    val keySpace = 100000L
    val cdc = spark.readStream.format("rate")
      .option("rowsPerSecond", offered.toString)
      .option("numPartitions", cpus)
      .load()
      .select((col("value") % keySpace).as("doc_id"),
        concat(lit("payload "), (col("value") % 997).cast("string"))
          .as("text"),
        col("value").as("version"),
        (col("value") % 50 === 0).as("deleted"))
    val snapPath = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_streambench_cdc_${System.nanoTime()}"
    val q = StreamingPipelines.mergeCdcStream(cdc, "doc_id", "version",
      "deleted", snapPath,
      checkpointLocation = Some(s"${snapPath}_ckpt")) { (_, _) => () }
    finish("stream_cdc_rows_per_sec", q, spark, offered, seconds)
  }

  /** Trending-terms throughput: synthetic 24-token docs into the windowed
    * Misra-Gries aggregate; 10 s windows + zero lateness close windows
    * inside the measured run so the append sink actually emits. */
  private def runTrending(spark: SparkSession, offered: Int, seconds: Int,
      cpus: String): Unit = {
    val words = Seq("spark", "join", "window", "batch", "scan", "merge",
      "hash", "sort", "filter", "group", "order", "table", "column", "row",
      "query", "stream")
    val wordArr = array(words.map(lit): _*)
    val docText = concat_ws(" ", transform(sequence(lit(0), lit(23)),
      i => element_at(wordArr,
        (pmod(xxhash64(col("value") * 31L + i), lit(16L)) + 1)
          .cast("int"))))
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", offered.toString)
      .option("numPartitions", cpus)
      .load()
      .select(col("timestamp").as("ts"), docText.as("text"))
    val out = StreamingPipelines.trendingTermsStream(docs, "text",
      window_ = "10 seconds", lateness = "0 seconds", sketchK = 64)
    val q = out.writeStream.format("noop")
      .option("checkpointLocation",
        s"${System.getProperty("java.io.tmpdir")}/graft_streambench_tr_" +
          System.nanoTime())
      .outputMode("append").start()
    finish("stream_trending_rows_per_sec", q, spark, offered, seconds)
  }

  /** Transition-edge throughput (round 8): rate rows become node events
    * over a 1000-actor × 100-node space and run
    * [[StreamingPipelines.transitionEdgesStream]] — prices the per-actor
    * keyed state exchange + flatMapGroupsWithState edge emission, the
    * live-graph maintenance cost center. */
  private def runEdges(spark: SparkSession, offered: Int, seconds: Int,
      cpus: String): Unit = {
    import spark.implicits._
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", offered.toString)
      .option("numPartitions", cpus)
      .load()
      .select(pmod(col("value"), lit(1000L)).as("user_id"),
        col("timestamp").as("ts"), col("value").as("event_id"),
        pmod(xxhash64(col("value")), lit(100L)).as("node"))
      .as[StreamingPipelines.NodeEvent]
    val out = StreamingPipelines.transitionEdgesStream(events)
    val q = out.writeStream.format("noop")
      .option("checkpointLocation",
        s"${System.getProperty("java.io.tmpdir")}/graft_streambench_ed_" +
          System.nanoTime())
      .outputMode("append").start()
    finish("stream_edges_rows_per_sec", q, spark, offered, seconds)
  }

  /** PageRank-maintenance throughput (round 9): the runEdges event
    * stream through [[StreamingPipelines.maintainEdgesStream]] — prices
    * the keyed edge emission PLUS the per-batch merge into, and
    * crash-safe republish of, the persistent aggregated edge relation
    * (the real cost center of live-graph maintenance; the relation
    * stays ≤ 1000 actors × 100² node pairs by construction). */
  private def runMaintain(spark: SparkSession, offered: Int, seconds: Int,
      cpus: String): Unit = {
    import spark.implicits._
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", offered.toString)
      .option("numPartitions", cpus)
      .load()
      .select(pmod(col("value"), lit(1000L)).as("user_id"),
        col("timestamp").as("ts"), col("value").as("event_id"),
        pmod(xxhash64(col("value")), lit(100L)).as("node"))
      .as[StreamingPipelines.NodeEvent]
    val edgePath = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_streambench_maint_${System.nanoTime()}"
    val q = StreamingPipelines.maintainEdgesStream(events, edgePath,
      checkpointLocation = Some(s"${edgePath}_ckpt"))()
    finish("stream_maintain_rows_per_sec", q, spark, offered, seconds)
  }

  /** Windowed-quantiles throughput (round 9): rate rows' values into
    * [[StreamingPipelines.windowedQuantilesStream]] (10 s windows, zero
    * lateness so windows close inside the run) — prices the mergeable
    * bin-histogram fold + windowed stateful aggregation + row-local
    * quantile extraction. */
  private def runQuantiles(spark: SparkSession, offered: Int, seconds: Int,
      cpus: String): Unit = {
    val vals = spark.readStream.format("rate")
      .option("rowsPerSecond", offered.toString)
      .option("numPartitions", cpus)
      .load()
      .select(col("timestamp").as("ts"),
        pmod(xxhash64(col("value")), lit(10000L)).as("v"))
    val out = StreamingPipelines.windowedQuantilesStream(vals, "v",
      window_ = "10 seconds", lateness = "0 seconds", binWidth = 100L)
    val q = out.writeStream.format("noop")
      .option("checkpointLocation",
        s"${System.getProperty("java.io.tmpdir")}/graft_streambench_qt_" +
          System.nanoTime())
      .outputMode("append").start()
    finish("stream_quantiles_rows_per_sec", q, spark, offered, seconds)
  }
}
