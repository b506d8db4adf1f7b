package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry

/** The query list (`query_mix.txt`): one query name per line, `#`
  * comments; a line `build <name>` marks a query whose first run builds an
  * on-disk index or export fixture. Those run once before the timed reps,
  * so every timed run of them is a probe. */
final case class QueryList(names: Seq[String], fixtures: Seq[String])

object QueryList {
  def parse(lines: Seq[String]): QueryList = {
    val entries = lines.map(_.replaceAll("#.*", "").trim).filter(_.nonEmpty)
    val fixtures = entries.filter(_.startsWith("build ")).map(_.stripPrefix("build ").trim)
    QueryList(entries.map(_.stripPrefix("build ").trim), fixtures)
  }

  /** Names the engine does not define; a non-empty result stops the run. */
  def missing(l: QueryList, defined: String => Boolean): Seq[String] =
    l.names.filterNot(defined)
}

/** The `graft.queries` layer, timed in `decode_envelope`'s traced runs: a
  * fixed, family-balanced list of `SparkEntry.queries` over tables generated
  * from the seed, each forced through a `noop` sink as `graft.Bench` does.
  * Per-query planning, job scheduling and operator kernels dominate here,
  * and `graft.avro` does almost nothing. Each query is split into construct
  * (the `QueryFn` call), plan (forcing `queryExecution.executedPlan`) and
  * exec (the write). */
object QueryMix {
  /** `wallMs` is the whole `query` span, timed around the three parts. */
  final case class Timing(constructMs: Double, planMs: Double, execMs: Double,
      wallMs: Double) {
    def partsMs: Double = constructMs + planMs + execMs
  }

  final case class Result(attempted: Long, failed: Long, layers: Seq[Layers.L],
      details: Seq[String])

  def measure(spark: SparkSession, o: Opts, trace: Trace): Result = {
    val list = QueryList.parse(
      scala.io.Source.fromFile(o.queryList, "UTF-8").getLines().toSeq)
    val undefined = QueryList.missing(list, SparkEntry.queries.contains)
    if (undefined.nonEmpty)
      throw new IllegalStateException(
        s"query_mix.txt names queries SparkEntry.queries does not define: ${undefined.mkString(", ")}")
    val dir = o.tablesDir
    // Query artifacts go to java.io.tmpdir, which run.py points into the
    // run's work directory.
    def runQuery(name: String, op: Long, parent: Long): Timing = {
      val t0 = System.nanoTime()
      val df = trace.span("query.construct", op, parent)(_ => SparkEntry.queries(name)(spark, dir))
      val t1 = System.nanoTime()
      trace.span("query.plan", op, parent)(_ => df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      trace.span("query.exec", op, parent)(_ =>
        df.write.format("noop").mode("overwrite").save())
      val t3 = System.nanoTime()
      Timing((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, 0.0)
    }
    val failedQ = scala.collection.mutable.LinkedHashSet.empty[String]
    def attempt(name: String, op: Long, parent: Long): Option[Timing] =
      try Some(runQuery(name, op, parent))
      catch { case t: Throwable =>
        failedQ += name
        System.err.println(s"[perfbench] $name failed: $t")
        None
      }

    // Untimed: fixture builds first, then one pass that also writes the outputs
    // of queries with a DuckDB oracle, for run.py to check.
    val out = Paths.get(o.workDir, "query_out")
    Files.createDirectories(out)
    trace.on = false
    list.fixtures.foreach(n => attempt(n, 0L, 0L))
    list.names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        if (SparkEntry.oracleSql.contains(n))
          df.coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
        else df.write.format("noop").mode("overwrite").save()
      } catch { case t: Throwable =>
        failedQ += n
        System.err.println(s"[perfbench] $n failed: $t")
      }
    }
    val oracles = list.names.filter(SparkEntry.oracleSql.contains).filterNot(failedQ.contains)
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.mapper.writeValueAsString(oracles.map(n => n -> SparkEntry.oracleSql(n)).toMap.asJava))
    // Floors: a trivial noop write, and scan + sort + noop, min of 5 warm.
    def minOf5(f: => Unit): Double = {
      f
      (0 until 5).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }.min
    }
    val floorNoop = minOf5(spark.range(10).write.format("noop").mode("overwrite").save())
    val floorScanSort = minOf5(spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).orderBy(col("doc_id"))
      .write.format("noop").mode("overwrite").save())

    // Two timed reps in a seeded order; each query keeps its faster rep.
    trace.on = true
    val probe = new SparkProbe(spark.sparkContext)
    val reps = (0 until 2).map { rep =>
      val order = new scala.util.Random(Corpus.mix(o.seed, rep)).shuffle(list.names)
      order.flatMap { n =>
        val op = trace.newId()
        var root = 0L
        val w0 = System.nanoTime()
        val t = trace.span("query", op, 0L) { id => root = id; attempt(n, op, id) }
          .map(_.copy(wallMs = (System.nanoTime() - w0) / 1e6))
        Layers.sparkSpans(trace, op, root, probe.window(t.map(_.wallMs).getOrElse(0.0)))
        t.map(n -> _)
      }.toMap
    }
    probe.on = false
    val best: Map[String, Timing] = list.names.filterNot(failedQ.contains).flatMap { n =>
      val ts = reps.flatMap(_.get(n))
      if (ts.isEmpty) None else Some(n -> ts.minBy(_.wallMs))
    }.toMap
    val secs = best.values.map(_.wallMs / 1000).toSeq
    val families = best.toSeq.groupBy { case (n, _) => family(n) }.toSeq.sortBy(_._1)
      .map { case (f, qs) => (s"family.${f}_s", qs.map(_._2.wallMs / 1000).sum, "s") }
    val layers = Seq(
      ("query.construct_ms", best.values.map(_.constructMs).sum, "ms"),
      ("query.plan_ms", best.values.map(_.planMs).sum, "ms"),
      ("query.exec_ms", best.values.map(_.execMs).sum, "ms"),
      ("query.wall_ms", best.values.map(_.wallMs).sum, "ms"),
      ("query.floor_noop_ms", floorNoop, "ms"),
      ("query.floor_scan_sort_ms", floorScanSort, "ms")) ++ families
    val perQuery = best.toSeq.sortBy(_._1).map { case (n, t) =>
      f"$n: construct ${t.constructMs}%.1f + plan ${t.planMs}%.1f + exec ${t.execMs}%.1f = " +
        f"${t.partsMs}%.1f ms of ${t.wallMs}%.1f ms wall"
    }
    // How far the three parts fall short of the query span, worst query
    val gap = best.values.map(t => (t.wallMs - t.partsMs) / t.wallMs * 100).maxOption.getOrElse(0.0)
    val p50 = if (secs.isEmpty) 0.0 else Stats.median(secs)
    val summary = f"queries: ${list.names.size}, query_total_s ${secs.sum}%.3f, " +
      f"query_p50_s $p50%.3f; parts short of wall by at most $gap%.2f%%; " +
      s"failed ${failedQ.mkString(",")}"
    Result(list.names.size.toLong, failedQ.size.toLong, layers, summary +: perQuery)
  }

  /** Family of a query name: its first word; the TPC-H rows (q1, q10, …)
    * form one family. */
  def family(name: String): String = {
    val head = name.takeWhile(_ != '_')
    if (head.matches("q\\d+")) "tpch" else head
  }
}
