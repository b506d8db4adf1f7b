package perfbench

import graft.avro.{AvroDecoderState, AvroEnvelope, DecodeKernel, SchemaProvider, WireFormat}

/** Single-thread cost of each `graft.avro` layer over a workload's own
  * records, called directly (no Spark): wire parse → schema lookup → Avro
  * decode to JSON → envelope, and the fused kernel that does all four.
  * Each layer runs as its own loop over precomputed inputs, so the parts
  * can be compared with the whole. */
object AvroLayers {
  final case class Result(parseNs: Double, lookupNs: Double, decodeNs: Double,
      envelopeNs: Double, kernelNs: Double) {
    def kernelRowsPerS1t: Double = 1e9 / kernelNs
  }

  /** `values` are framed, decodable value payloads. Median of `reps`
    * repetitions after `warm` untimed rounds. */
  def measure(values: Array[Array[Byte]], provider: SchemaProvider,
      capacity: Int, reps: Int, trace: Trace, op: Long): Result = {
    val state = new AvroDecoderState(provider, capacity)
    val n = values.length
    val framed = new Array[WireFormat.Framed](n)
    val cached = new Array[state.CachedSchema](n)
    val json = new Array[String](n)
    var sink = 0L
    def timed(name: String)(body: => Unit): Double =
      trace.span(name, op, 0L) { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0).toDouble / n
      }
    def round(): Result = {
      val p = timed("avro.wire_parse") {
        var i = 0; while (i < n) { framed(i) = WireFormat.parse(values(i)); i += 1 }
      }
      val l = timed("avro.schema_lookup") {
        var i = 0; while (i < n) { cached(i) = state.cachedSchema(framed(i).schemaId); i += 1 }
      }
      val d = timed("avro.decode_json") {
        var i = 0
        while (i < n) {
          json(i) = state.decodeToJson(cached(i), framed(i).schemaId, framed(i).body)
          i += 1
        }
      }
      val e = timed("avro.envelope") {
        var i = 0
        while (i < n) {
          sink += AvroEnvelope.valueEnvelope(framed(i).schemaId, json(i),
            cached(i).json).length
          i += 1
        }
      }
      val k = timed("avro.kernel") {
        var i = 0
        while (i < n) {
          sink += DecodeKernel.decodeValue(values(i), state, true).length
          i += 1
        }
      }
      Result(p, l, d, e, k)
    }
    val wasOn = trace.on
    trace.on = false
    for (_ <- 0 until 3) round()
    trace.on = wasOn
    val rs = (0 until reps).map(_ => round())
    if (sink == 42) println() // keeps the loops' results live
    Result(Stats.median(rs.map(_.parseNs)), Stats.median(rs.map(_.lookupNs)),
      Stats.median(rs.map(_.decodeNs)), Stats.median(rs.map(_.envelopeNs)),
      Stats.median(rs.map(_.kernelNs)))
  }

  def metrics(r: Result): Seq[(String, Double, String)] = Seq(
    ("avro.wire_parse_ns", r.parseNs, "ns"),
    ("avro.schema_lookup_ns", r.lookupNs, "ns"),
    ("avro.decode_json_ns", r.decodeNs, "ns"),
    ("avro.envelope_ns", r.envelopeNs, "ns"),
    ("avro.kernel_ns", r.kernelNs, "ns"),
    ("avro.kernel_rows_per_s_1t", r.kernelRowsPerS1t, "1/s"))
}
