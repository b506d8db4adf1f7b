package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Options shared by every workload. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, startMicros: Long, workDir: String, queryList: String,
    tablesDir: String, cores: Int)

final case class Metric(name: String, value: Double, unit: String)

/** What a workload reports. `e2e` is measured untraced; `layers` is only
  * filled in by a traced run. `attempted`/`failed` count checked outputs:
  * rows, plus the queries of a traced `decode_envelope` run. `named`
  * repeats the end-to-end numbers under the workload's own names
  * (`decode_rows_per_s`, `query_total_s`, ...). */
final case class Outcome(attempted: Long, failed: Long, e2e: Seq[Metric],
    layers: Seq[Metric], named: Seq[Metric], details: Seq[String])

/** Per-run clock: set-up ends when the first timed operation starts. */
final class RunClock(startMicros: Long) {
  private var setupS = Double.NaN
  def nowMicros: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def setupDone(): Unit = if (setupS.isNaN) setupS = (nowMicros - startMicros) / 1e6
  def setup: Double = setupS
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace
  * 0|1 --start-micros T --work-dir D --query-list F --tables D`.
  * Prints one `PERFBENCH_RESULT {...}` line that `run.py` turns into the
  * benchmark's result. */
object Main {
  val Workloads = Seq("decode_envelope", "decode_stream")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt,
      a.getOrElse("trace", "0") == "1", a("start-micros").toLong,
      a("work-dir"), a.getOrElse("query-list", ""), a.getOrElse("tables", ""),
      cores)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val clock = new RunClock(o.startMicros)
    val trace = new Trace(o.trace)
    // decode_stream leaves one core to its generator thread
    val sparkCores = if (o.workload == "decode_stream") math.max(1, cores - 1) else cores
    val spark = session(o, sparkCores)
    val outcome = try o.workload match {
      case "decode_envelope" => DecodeEnvelope.run(spark, o, clock, trace)
      case "decode_stream" => DecodeStream.run(spark, o, clock, trace)
    } finally spark.stop()
    val common = Seq(
      Metric("setup_s", clock.setup, "s"),
      Metric("peak_rss_mb", peakRssMb(), "MB"))
    if (o.trace) trace.writeJsonl(Paths.get(o.workDir, "spans.jsonl"))
    val selfTimes = if (o.trace) trace.selfTimesMs.toSeq.sortBy(_._1)
      .map { case (n, ms) => Metric(s"self.$n.ms", ms, "ms") } else Nil
    outcome.details.foreach(d => System.err.println(s"[perfbench] $d"))
    val result = Json.mapper.createObjectNode()
    result.put("attempted", outcome.attempted)
    result.put("failed", outcome.failed)
    result.set[ObjectNode]("e2e", Json.metrics(common ++ outcome.e2e))
    result.set[ObjectNode]("layers", Json.metrics(outcome.layers ++ selfTimes))
    result.set[ObjectNode]("named", Json.metrics(outcome.named))
    val details = result.putArray("details")
    outcome.details.foreach(d => details.add(d))
    println("PERFBENCH_RESULT " + Json.mapper.writeValueAsString(result))
    System.out.flush()
  }

  def session(o: Opts, cores: Int): SparkSession = {
    val local = Paths.get(o.workDir, "spark-local").toAbsolutePath
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // list input files in this process, as graft.Bench does on a local disk
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir",
        Paths.get(o.workDir, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** CPU time of every thread in this process, in ns. Unlike wall time it
    * does not grow while the host deschedules this machine's CPUs. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Process resident-set high-water mark. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** JSON output of the result line, the spans and the oracle list. */
object Json {
  val mapper = new ObjectMapper()

  /** `{name: {"value": v, "unit": u}, ...}`; a value that is not finite
    * is written as null. */
  def metrics(ms: Seq[Metric]): ObjectNode = {
    val o = mapper.createObjectNode()
    ms.foreach { m =>
      val v = o.putObject(m.name)
      if (m.value.isNaN || m.value.isInfinite) v.putNull("value") else v.put("value", m.value)
      v.put("unit", m.unit)
    }
    o
  }
}
