package perfbench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

/** One Kafka-shaped input record. `key`/`value` are null for absent
  * payloads (a null value is a tombstone). */
final case class InputRow(topic: String, partition: Int, offset: Long,
    key: Array[Byte], value: Array[Byte])

/** What the transform must emit for one input record, derived from the Avro
  * library alone (never from engine code). */
sealed trait Expected
object Expected {
  /** Output bytes equal the input bytes: passthrough topics, undecoded keys
    * and PERMISSIVE-forwarded corrupt bodies. */
  final case class Same(bytes: Array[Byte]) extends Expected
  case object Null extends Expected
  /** Value envelope: `originSchemaId`, `originMessage`, `originSchema`.
    * The message is rendered only when a check asks for it. */
  final case class Envelope(schemaId: Int, writer: Schema, body: Array[Byte])
      extends Expected {
    lazy val message: String = Corpus.toJson(writer, body)
  }
  /** Key envelope: the decoded key's fields inlined plus `originSchema`. */
  final case class KeyEnvelope(writer: Schema, body: Array[Byte])
      extends Expected {
    lazy val message: String = Corpus.toJson(writer, body)
  }
}

/** A generated record together with its expected transform output. */
final case class Generated(row: InputRow, expectedKey: Expected,
    expectedValue: Expected, corrupt: Boolean, schemaIndex: Int)

/** Seeded generator of Confluent-framed Avro records.
  *
  * Record `offset` is a pure function of `(seed, offset)`, so executors,
  * the stream generator thread and the output checker regenerate the same
  * record independently.
  *
  * The mix is chosen so that a kernel change tuned on flat ASCII bodies
  * shows its cost elsewhere: eight schema shapes (flat, nested record,
  * array, map, nullable union, enum, bytes, and array-of-records), strings
  * that need JSON escaping (quotes, control characters, non-ASCII,
  * surrogate pairs, U+2028), bodies from ~100 B to a few KB, Zipf-skewed
  * schema popularity, ~1% tombstones and ~0.5% corrupt bodies.
  *
  * @param numSchemas distinct value schemas; registry ids are
  *                   `SchemaIdBase + index`
  */
final class Corpus(val seed: Long, val numSchemas: Int) extends Serializable {
  import Corpus._

  val valueSchemaJson: Array[String] =
    Array.tabulate(numSchemas)(i => schemaJson(i))
  @transient private lazy val valueSchemas: Array[Schema] =
    valueSchemaJson.map(new Schema.Parser().parse(_))
  @transient private lazy val keySchema: Schema =
    new Schema.Parser().parse(KeySchemaJson)
  @transient private lazy val valueWriters =
    valueSchemas.map(new GenericDatumWriter[AnyRef](_))
  @transient private lazy val keyWriter = new GenericDatumWriter[AnyRef](keySchema)

  /** Registry contents: id → writer schema JSON. */
  def registry: Map[Int, String] =
    valueSchemaJson.zipWithIndex.map { case (j, i) => (SchemaIdBase + i, j) }
      .toMap + (KeySchemaId -> KeySchemaJson)

  // Zipf popularity by schema index. Consecutive indices have different
  // shapes, so every shape is among the eight most popular schemas and the
  // per-row cost does not swing with which shape a seed would favour.
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(numSchemas)(r => 1.0 / math.pow(r + 1, ZipfExponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def pickSchema(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = numSchemas - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (zipfCdf(mid) < u) lo = mid + 1 else hi = mid }
    lo
  }

  /** The record at `offset`, with its expected output. */
  def generate(offset: Long): Generated = {
    val r = new SplittableRandom(mix(seed, offset))
    val t = r.nextInt(100)
    val topic = if (t < 50) OrdersTopic else if (t < 90) ClicksTopic else AuditTopic
    val partition = r.nextInt(Partitions)
    if (topic == AuditTopic) {
      // not enabled: any bytes pass through untouched
      val v = randomBytes(r, 20 + r.nextInt(200))
      val row = InputRow(topic, partition, offset, null, v)
      return Generated(row, Expected.Null, Expected.Same(v), corrupt = false, -1)
    }
    val (key, expectedKey) =
      if (topic == ClicksTopic) {
        val rec = new GenericData.Record(keySchema)
        rec.put("id", offset)
        rec.put("region", text(r, 4 + r.nextInt(12)))
        val body = encode(keyWriter, rec)
        (frame(KeySchemaId, body),
          Expected.KeyEnvelope(keySchema, body))
      } else {
        val k = s"k-$offset".getBytes(UTF_8)
        (k, Expected.Same(k))
      }
    val kind = r.nextInt(1000)
    if (kind < 10) {
      val row = InputRow(topic, partition, offset, key, null)
      return Generated(row, expectedKey, Expected.Null, corrupt = false, -1)
    }
    val si = pickSchema(r)
    val schema = valueSchemas(si)
    val body = encode(valueWriters(si), record(schema, si, r))
    val id = SchemaIdBase + si
    if (kind < 15) {
      val bad = frame(id, corruptBody(schema, body))
      val row = InputRow(topic, partition, offset, key, bad)
      Generated(row, expectedKey, Expected.Same(bad), corrupt = true, si)
    } else {
      val row = InputRow(topic, partition, offset, key, frame(id, body))
      Generated(row, expectedKey,
        Expected.Envelope(id, schema, body),
        corrupt = false, si)
    }
  }

  private def record(schema: Schema, si: Int, r: SplittableRandom): GenericRecord = {
    // size class: most bodies are small, a tail reaches a few KB
    val sz = r.nextInt(100)
    val scale = if (sz < 70) 1 else if (sz < 95) 6 else 24
    val rec = new GenericData.Record(schema)
    rec.put("id", r.nextLong())
    (si % Shapes) match {
      case 0 =>
        rec.put("name", text(r, 8 * scale))
        rec.put("amount", r.nextDouble() * 1000)
        rec.put("active", r.nextBoolean())
        rec.put("note", text(r, 16 * scale))
        rec.put("count", r.nextInt(1 << 20))
      case 1 =>
        val addrS = schema.getField("customer").schema().getField("address").schema()
        val addr = new GenericData.Record(addrS)
        addr.put("city", text(r, 6 + r.nextInt(10)))
        addr.put("zip", f"${r.nextInt(100000)}%05d")
        val cust = new GenericData.Record(schema.getField("customer").schema())
        cust.put("name", text(r, 10 * scale))
        cust.put("address", addr)
        rec.put("customer", cust)
        rec.put("total", r.nextDouble() * 5000)
      case 2 =>
        val n = 1 + r.nextInt(4 * scale)
        rec.put("tags", java.util.Arrays.asList(Seq.fill(n)(text(r, 3 + r.nextInt(8))): _*))
        rec.put("scores", java.util.Arrays.asList(Seq.fill(n)(Double.box(r.nextDouble())): _*))
      case 3 =>
        val n = 1 + r.nextInt(3 * scale)
        val attrs = new java.util.HashMap[String, String]()
        val counts = new java.util.HashMap[String, java.lang.Long]()
        for (i <- 0 until n) {
          attrs.put(s"a$i-" + text(r, 3), text(r, 4 + r.nextInt(10)))
          counts.put(s"c$i", r.nextLong())
        }
        rec.put("attrs", attrs)
        rec.put("counts", counts)
      case 4 =>
        rec.put("comment", if (r.nextBoolean()) text(r, 12 * scale) else null)
        rec.put("ref", if (r.nextBoolean()) Long.box(r.nextLong()) else null)
        val extraS = schema.getField("extra").schema().getTypes.get(1)
        rec.put("extra", if (r.nextInt(3) == 0) null else {
          val e = new GenericData.Record(extraS)
          e.put("a", text(r, 5 * scale)); e.put("b", r.nextInt()); e
        })
      case 5 =>
        val st = schema.getField("status").schema()
        rec.put("status", new GenericData.EnumSymbol(st,
          st.getEnumSymbols.get(r.nextInt(st.getEnumSymbols.size))))
        rec.put("label", text(r, 10 * scale))
        rec.put("priority", r.nextInt(10))
      case 6 =>
        rec.put("payload", ByteBuffer.wrap(randomBytes(r, 8 + r.nextInt(24 * scale))))
        rec.put("text", text(r, 12 * scale))
      case _ =>
        val itemS = schema.getField("items").schema().getElementType
        val n = 1 + r.nextInt(2 * scale)
        val items = new java.util.ArrayList[GenericRecord]()
        for (_ <- 0 until n) {
          val it = new GenericData.Record(itemS)
          it.put("sku", text(r, 6 + r.nextInt(6)))
          it.put("qty", r.nextInt(100))
          it.put("price", r.nextDouble() * 100)
          items.add(it)
        }
        rec.put("items", items)
        val meta = new java.util.HashMap[String, String]()
        meta.put("src", text(r, 6)); meta.put("trace", text(r, 4 * scale))
        rec.put("meta", meta)
        rec.put("note", if (r.nextBoolean()) text(r, 8 * scale) else null)
    }
    rec
  }
}

object Corpus {
  /** Schema popularity ∝ 1 / rank^ZipfExponent, in both workloads. A
    * choice, not a measurement: at 120 schemas it puts 2.6% of records on
    * ranks beyond the default `schema.capacity` of 100. */
  val ZipfExponent = 1.1
  val OrdersTopic = "orders"   // value decode
  val ClicksTopic = "clicks"   // value and key decode
  val AuditTopic = "audit"     // not enabled: passthrough
  val Partitions = 8
  val Shapes = 8
  val SchemaIdBase = 1000
  val KeySchemaId = 9000

  /** topic → whether the key is decoded too (`avro.topics`). */
  val EnabledTopics: Map[String, Boolean] =
    Map(OrdersTopic -> false, ClicksTopic -> true)

  val KeySchemaJson: String =
    """{"type":"record","name":"Key","namespace":"bench.key","fields":[""" +
      """{"name":"id","type":"long"},{"name":"region","type":"string"}]}"""

  /** Writer schema `i`: shape `i % 8`, with a per-index record name and
    * field doc so every index is a distinct schema. */
  def schemaJson(i: Int): String = {
    def rec(name: String, fields: String*) =
      s"""{"type":"record","name":"$name","namespace":"bench.s$i",""" +
        s""""doc":"writer schema $i","fields":[${fields.mkString(",")}]}"""
    def f(n: String, t: String) = s"""{"name":"$n","type":$t}"""
    val id = f("id", "\"long\"")
    i % Shapes match {
      case 0 => rec(s"Flat$i", id, f("name", "\"string\""),
        f("amount", "\"double\""), f("active", "\"boolean\""),
        f("note", "\"string\""), f("count", "\"int\""))
      case 1 => rec(s"Nested$i", id,
        f("customer", rec("Customer", f("name", "\"string\""),
          f("address", rec("Address", f("city", "\"string\""),
            f("zip", "\"string\""))))),
        f("total", "\"double\""))
      case 2 => rec(s"Arrays$i", id,
        f("tags", """{"type":"array","items":"string"}"""),
        f("scores", """{"type":"array","items":"double"}"""))
      case 3 => rec(s"Maps$i", id,
        f("attrs", """{"type":"map","values":"string"}"""),
        f("counts", """{"type":"map","values":"long"}"""))
      case 4 => rec(s"Unions$i", id,
        f("comment", """["null","string"]"""), f("ref", """["null","long"]"""),
        f("extra", "[\"null\"," + rec("Extra", f("a", "\"string\""),
          f("b", "\"int\"")) + "]"))
      case 5 => rec(s"Enums$i", id,
        f("status", """{"type":"enum","name":"Status","symbols":""" +
          """["NEW","PAID","SHIPPED","CANCELLED"]}"""),
        f("label", "\"string\""), f("priority", "\"int\""))
      case 6 => rec(s"Bytes$i", id, f("payload", "\"bytes\""),
        f("text", "\"string\""))
      case _ => rec(s"Items$i", id,
        f("items", """{"type":"array","items":""" + rec("Item",
          f("sku", "\"string\""), f("qty", "\"int\""),
          f("price", "\"double\"")) + "}"),
        f("meta", """{"type":"map","values":"string"}"""),
        f("note", """["null","string"]"""))
    }
  }

  /** SplitMix64 finalizer over (seed, offset). */
  def mix(seed: Long, offset: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + offset * 0xBF58476D1CE4E5B9L + 1
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // Fragments that exercise every JSON escaping path: quotes, backslash,
  // control characters, `</` (escaped by org.json), Latin-1 supplement,
  // CJK, a surrogate pair, and the U+2028/U+2029 separators.
  private val Fragments = Array(
    "alpha", "beta", "gamma", "delta", "kafka", "topic", "schema", "row",
    "say \"hi\"", "back\\slash", "tab\there", "line\nbreak", "bell\u0007",
    "</script>", "café", "naïve", "ßtraße", "数据流", "日本語",
    "emoji \uD83D\uDE00", "sep\u2028line", "para\u2029graph", "\u0085nel",
    "ctl\u001f")

  private def text(r: SplittableRandom, approxChars: Int): String = {
    val sb = new java.lang.StringBuilder(approxChars + 16)
    while (sb.length < approxChars) {
      if (sb.length > 0) sb.append(' ')
      // mostly plain words, one fragment in four needs escaping
      val i = if (r.nextInt(4) == 0) r.nextInt(Fragments.length) else r.nextInt(8)
      sb.append(Fragments(i))
    }
    sb.toString
  }

  private def randomBytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val b = new Array[Byte](n); r.nextBytes(b); b
  }

  def frame(id: Int, body: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(5 + body.length).put(0.toByte).putInt(id).put(body).array()

  def encode(writer: GenericDatumWriter[AnyRef], rec: AnyRef): Array[Byte] = {
    val out = new ByteArrayOutputStream(256)
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    writer.write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** Avro's own JSON rendering of a binary body: read it back with the
    * library's reader (so map iteration order matches any reader) and
    * write it with the library's `JsonEncoder`. */
  def toJson(schema: Schema, body: Array[Byte]): String = {
    val datum = new GenericDatumReader[AnyRef](schema)
      .read(null, DecoderFactory.get().binaryDecoder(body, null))
    val out = new ByteArrayOutputStream(body.length * 2 + 16)
    val enc = EncoderFactory.get().jsonEncoder(schema, out, false)
    new GenericDatumWriter[AnyRef](schema).write(datum, enc)
    enc.flush()
    out.toString(UTF_8)
  }

  /** A truncation of `body` that the Avro library itself fails to decode. */
  private def corruptBody(schema: Schema, body: Array[Byte]): Array[Byte] = {
    var n = body.length / 2
    while (n > 0) {
      val cut = java.util.Arrays.copyOf(body, n)
      val fails =
        try { new GenericDatumReader[AnyRef](schema)
          .read(null, DecoderFactory.get().binaryDecoder(cut, null)); false }
        catch { case _: java.io.IOException | _: org.apache.avro.AvroRuntimeException => true }
      if (fails) return cut
      n /= 2
    }
    Array[Byte](0x02) // a lone varint: every schema here needs more fields
  }
}
