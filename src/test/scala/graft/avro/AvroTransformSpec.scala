package graft.avro

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter}
import org.apache.avro.io.EncoderFactory

import org.apache.spark.sql.functions._
import org.apache.spark.SparkException

import graft.SparkFunSuite
import graft.config.{EngineConfig, ErrorMode}

/** Fixture mirroring the reference test harness
  * (`TransformTest.java:114-131` encoder; `:503-524` golden test). */
object Fixtures {
  val FullNameSchemaJson: String =
    """{"type":"record","name":"FullName","namespace":"com.ing.eventbus.connect.schema.converters","fields":[{"name":"first","type":"string"},{"name":"last","type":"string"}]}"""

  /** Byte-exact golden envelope (`TransformTest.java:508`). */
  val GoldenEnvelope: String =
    """{"originSchema":"{\"type\":\"record\",\"name\":\"FullName\",\"namespace\":\"com.ing.eventbus.connect.schema.converters\",\"fields\":[{\"name\":\"first\",\"type\":\"string\"},{\"name\":\"last\",\"type\":\"string\"}]}","originMessage":"{\"first\":\"fname\",\"last\":\"lname\"}","originSchemaId":1}"""

  def encodeFullName(first: String, last: String): Array[Byte] = {
    val schema = new Schema.Parser().parse(FullNameSchemaJson)
    val rec = new GenericData.Record(schema)
    rec.put("first", first)
    rec.put("last", last)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[AnyRef](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  def registry(): (InMemorySchemaProvider, Int) = {
    val stub = new SchemaRegistryStub
    val id = stub.registerValueSchema("TransformTest", FullNameSchemaJson)
    (stub.toProvider, id)
  }

  def cfg(topics: Map[String, Boolean] = Map("TransformTest" -> false),
      mode: ErrorMode = ErrorMode.Permissive): EngineConfig =
    EngineConfig(Seq("http://localhost:0"), topics, errorMode = mode)
}

class AvroTransformSpec extends SparkFunSuite {
  import Fixtures._

  private def kafkaDf(topic: String, key: Array[Byte], value: Array[Byte]) = {
    val s = spark
    import s.implicits._
    Seq((topic, 0, key, value, new java.sql.Timestamp(0L)))
      .toDF("topic", "partition", "key", "value", "timestamp")
  }

  test("golden: FullName wire record decodes to the byte-exact envelope " +
      "(TransformTest.java:508)") {
    val (provider, id) = registry()
    assert(id == 1) // mock semantics: ids start at 1 (SchemaRegistryMock.java:159-165)
    val wire = WireFormat.frame(id, encodeFullName("fname", "lname"))
    val out = AvroTransform(kafkaDf("TransformTest", null, wire),
      cfg(), provider)
    val got = out.select("value").head.getAs[Array[Byte]](0)
    assert(new String(got, UTF_8) == GoldenEnvelope)
  }

  test("non-configured topic passes through unchanged (AvroTransform.java:211-213)") {
    val (provider, _) = registry()
    val wire = WireFormat.frame(1, encodeFullName("a", "b"))
    val out = AvroTransform(kafkaDf("otherTopic", "k".getBytes, wire),
      cfg(), provider)
    val row = out.head
    assert(row.getAs[Array[Byte]]("value").sameElements(wire))
    assert(row.getAs[Array[Byte]]("key").sameElements("k".getBytes))
  }

  test("tombstone (null value) passes through (AvroTransform.java:168-170, " +
      "TransformTest.java:489-500)") {
    val (provider, _) = registry()
    val out = AvroTransform(kafkaDf("TransformTest", "k".getBytes, null),
      cfg(), provider)
    assert(out.head.getAs[Array[Byte]]("value") == null)
  }

  test("payload <= 5 bytes throws wire-format error in both modes " +
      "(AvroTransform.java:173-177)") {
    val (provider, _) = registry()
    for (mode <- Seq(ErrorMode.Permissive, ErrorMode.FailFast)) {
      val out = AvroTransform(
        kafkaDf("TransformTest", null, Array[Byte](0, 0, 0, 0, 1)),
        cfg(mode = mode), provider)
      val e = intercept[Throwable](out.collect())
      assert(rootChain(e).exists(_.isInstanceOf[WireFormatException]))
    }
  }

  test("bad magic byte throws (AvroTransform.java:276)") {
    val (provider, _) = registry()
    val bad = Array[Byte](1, 0, 0, 0, 1, 10, 10)
    val out = AvroTransform(kafkaDf("TransformTest", null, bad),
      cfg(), provider)
    val e = intercept[Throwable](out.collect())
    assert(rootChain(e).exists(_.isInstanceOf[WireFormatException]))
  }

  test("unknown schema id surfaces a lookup error " +
      "(AvroTransform.java:270-273, TransformTest.java:201-221)") {
    val (provider, _) = registry()
    val wire = WireFormat.frame(999, encodeFullName("a", "b"))
    val out = AvroTransform(kafkaDf("TransformTest", null, wire),
      cfg(), provider)
    val e = intercept[Throwable](out.collect())
    assert(rootChain(e).exists(_.isInstanceOf[SchemaLookupException]))
  }

  test("PERMISSIVE: undecodable body forwards original bytes and counts it " +
      "(AvroTransform.java:188-191)") {
    val (provider, id) = registry()
    val truncated = WireFormat.frame(id, Array[Byte](0x02)) // cut-off record
    val before = AvroDecoderState.swallowedErrorCount(provider.cacheToken)
    val out = AvroTransform(kafkaDf("TransformTest", null, truncated),
      cfg(), provider)
    assert(out.head.getAs[Array[Byte]]("value").sameElements(truncated))
    assert(AvroDecoderState.swallowedErrorCount(provider.cacheToken) > before)
  }

  test("FAILFAST: undecodable body fails the job (deviation, SURVEY.md §7.4)") {
    val (provider, id) = registry()
    val truncated = WireFormat.frame(id, Array[Byte](0x02))
    val out = AvroTransform(kafkaDf("TransformTest", null, truncated),
      cfg(mode = ErrorMode.FailFast), provider)
    val e = intercept[Throwable](out.collect())
    assert(rootChain(e).exists(t => t.isInstanceOf[java.io.IOException] ||
      t.isInstanceOf[SparkException]))
  }

  test("decoded(): PERMISSIVE maps an undecodable body to null fields and " +
      "counts it; FAILFAST fails; wire violations throw in both modes") {
    val (base, id) = registry()
    val provider = base.copy(tokenOverride = Some("decoded-error-mode"))
    val s = spark
    import s.implicits._
    // the repartition keeps the optimizer from folding the decode over the
    // local relation, so the generated-code path runs
    def corpus(values: Array[Byte]*) =
      values.map(v => ("TransformTest", v)).toDF("topic", "value")
        .repartition(2)
    val good = WireFormat.frame(id, encodeFullName("a", "b"))
    val truncated = WireFormat.frame(id, Array[Byte](0x02))

    val before = AvroDecoderState.swallowedErrorCount(provider.cacheToken)
    val msgs = AvroTransform.decoded(corpus(good, truncated, null, good),
      cfg(), provider)
      .select("origin_schema_id", "origin_message").collect()
      .map(r => (Option(r.get(0)), Option(r.getString(1))))
    assert(msgs.count(_ == (Some(id), Some("""{"first":"a","last":"b"}"""))) == 2)
    assert(msgs.count(_ == (None, None)) == 2)
    assert(AvroDecoderState.swallowedErrorCount(provider.cacheToken) ==
      before + 1)

    val strict = AvroTransform.decoded(corpus(good, truncated),
      cfg(mode = ErrorMode.FailFast), provider)
    assert(rootChain(intercept[Throwable](strict.collect()))
      .exists(_.isInstanceOf[java.io.IOException]))
    for (mode <- Seq(ErrorMode.Permissive, ErrorMode.FailFast)) {
      val short = AvroTransform.decoded(
        corpus(good, Array[Byte](0, 0, 0, 0, 1)), cfg(mode = mode), provider)
      assert(rootChain(intercept[Throwable](short.collect()))
        .exists(_.isInstanceOf[WireFormatException]))
    }
    assert(AvroDecoderState.swallowedErrorCount(provider.cacheToken) ==
      before + 1)
  }

  test("key decode: fields inlined + originSchema injected, corrected strip " +
      "semantics (AvroTransform.java:224-229; SURVEY.md §7.4)") {
    val (provider, id) = registry()
    val wire = WireFormat.frame(id, encodeFullName("fname", "lname"))
    val out = AvroTransform(kafkaDf("TransformTest", wire, wire),
      cfg(Map("TransformTest" -> true)), provider)
    val key = new String(out.head.getAs[Array[Byte]]("key"), UTF_8)
    assert(key.startsWith("""{"first":"fname","last":"lname","originSchema":"""))
    assert(key.contains("\\\"FullName\\\""))
  }

  test("key bug-compat mode decodes unstripped bytes and (permissive) " +
      "forwards the original (AvroTransform.java:148)") {
    val (provider, id) = registry()
    val wire = WireFormat.frame(id, encodeFullName("fname", "lname"))
    val buggyCfg = cfg(Map("TransformTest" -> true))
      .copy(stripKeyWireHeader = false)
    val out = AvroTransform(kafkaDf("TransformTest", wire, wire),
      buggyCfg, provider)
    val key = out.head.getAs[Array[Byte]]("key")
    // Unstripped wire bytes start with 0x00 → Avro reads a garbage string
    // length; decode fails; permissive mode forwards the original bytes.
    // (If Avro happened to parse it, the envelope would differ — either way
    // the corrected mode above is the semantic contract.)
    assert(key.sameElements(wire) || new String(key, UTF_8).contains("originSchema"))
  }

  test("include.headers=false drops the headers column " +
      "(AvroTransform.java:110, :199-209)") {
    val s = spark
    import s.implicits._
    val (provider, id) = registry()
    val wire = WireFormat.frame(id, encodeFullName("a", "b"))
    val df = Seq(("TransformTest", wire, "h"))
      .toDF("topic", "value", "headers")
    val out = AvroTransform(df, cfg().copy(includeHeaders = false), provider)
    assert(!out.columns.contains("headers"))
  }

  private def rootChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
}

class WireFormatSpec extends SparkFunSuite {
  test("frame/parse roundtrip") {
    val f = WireFormat.parse(WireFormat.frame(42, Array[Byte](1, 2, 3)))
    assert(f.schemaId == 42 && f.body.sameElements(Array[Byte](1, 2, 3)))
  }

  test("column-level parse matches byte-level parse (built-ins only)") {
    val s = spark
    import s.implicits._
    val payloads = Seq(WireFormat.frame(1, Array[Byte](9, 8, 7)),
      WireFormat.frame(70000, Array.fill[Byte](10)(1)))
    val df = payloads.toDF("value")
    val got = df.select(
      WireFormat.schemaIdCol(col("value")).as("id"),
      WireFormat.bodyCol(col("value")).as("body"),
      WireFormat.isFramedCol(col("value")).as("ok")).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 70000))
    assert(got.forall(_.getBoolean(2)))
    assert(got(0).getAs[Array[Byte]](1).sameElements(Array[Byte](9, 8, 7)))
  }

  test("frameCol matches frame()") {
    val s = spark
    import s.implicits._
    val body = Array[Byte](5, 4, 3)
    val df = Seq(body).toDF("body")
    val got = df.select(WireFormat.frameCol(123456, col("body"))).head
      .getAs[Array[Byte]](0)
    assert(got.sameElements(WireFormat.frame(123456, body)))
  }
}

class EngineConfigSpec extends SparkFunSuite {
  import graft.config._

  test("fromProps parses the full reference config surface") {
    val c = EngineConfig.fromProps(Map(
      "src.schema.registry.url" -> "http://a, http://b",
      "avro.topics" -> "t1:true, t2:false",
      "schema.capacity" -> "7",
      "include.headers" -> "false"))
    assert(c.registryUrls == Seq("http://a", "http://b"))
    assert(c.avroTopics == Map("t1" -> true, "t2" -> false))
    assert(c.schemaCapacity == 7 && !c.includeHeaders)
    assert(c.processKeys("t1") && !c.processKeys("t2") && !c.processKeys("x"))
    assert(c.topicEnabled("t2") && !c.topicEnabled("x"))
  }

  test("malformed avro.topics entries fail eagerly (AvroTransform.java:286-314)") {
    for (bad <- Seq("noColon", ":true", "t:", "t:maybe", "")) {
      intercept[EngineConfigException] {
        EngineConfig.parseAvroTopics(Seq(bad))
      }
    }
  }

  test("missing required keys fail (AvroTransform.java:62-73)") {
    intercept[EngineConfigException](EngineConfig.fromProps(Map(
      "avro.topics" -> "t:true")))
    intercept[EngineConfigException](EngineConfig.fromProps(Map(
      "src.schema.registry.url" -> "http://a")))
  }

  test("defaults: capacity 100, headers on, permissive") {
    val c = EngineConfig.fromProps(Map(
      "src.schema.registry.url" -> "http://a",
      "avro.topics" -> "t:true"))
    assert(c.schemaCapacity == 100 && c.includeHeaders &&
      c.errorMode == ErrorMode.Permissive)
  }
}
