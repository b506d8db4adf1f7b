package graft.plans

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericFixed, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.avro.{DecodeKernel, SchemaLookupException, WireFormat}

/** Avro writer-schema → Catalyst type mapping + value converters for the
  * fixed-schema typed decode fast path ([[AvroDecodeFixed]]).
  *
  * Supported: records (nested), `["null", T]` unions (→ nullable),
  * string/enum → string, bytes/fixed → binary, int/long/float/double/
  * boolean, arrays, string-keyed maps. Multi-branch unions are rejected at
  * construction (they have no faithful static Catalyst type; the dynamic
  * JSON-envelope path handles them — `AvroComplexTypesSpec`). Logical
  * types decode as their underlying base type (documented deviation; the
  * reference's JSON path does the same via Avro's `JsonEncoder`).
  */
object AvroCatalyst {

  private def nonNull(s: Schema): Schema =
    if (s.getType != Schema.Type.UNION) s
    else {
      val nn = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      if (nn.size == 1) nn.head
      else throw new IllegalArgumentException(
        s"Unsupported Avro union for typed decode (use the dynamic JSON " +
          s"envelope path instead): $s")
    }

  private def isNullable(s: Schema): Boolean =
    s.getType == Schema.Type.UNION &&
      s.getTypes.asScala.exists(_.getType == Schema.Type.NULL)

  def toSparkType(s: Schema): DataType = {
    val base = nonNull(s)
    base.getType match {
      case Schema.Type.RECORD => StructType(base.getFields.asScala.map(f =>
        StructField(f.name, toSparkType(f.schema), isNullable(f.schema))).toSeq)
      case Schema.Type.STRING | Schema.Type.ENUM => StringType
      case Schema.Type.BYTES | Schema.Type.FIXED => BinaryType
      case Schema.Type.INT => IntegerType
      case Schema.Type.LONG => LongType
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.ARRAY =>
        ArrayType(toSparkType(base.getElementType),
          isNullable(base.getElementType))
      case Schema.Type.MAP =>
        MapType(StringType, toSparkType(base.getValueType),
          isNullable(base.getValueType))
      case other => throw new IllegalArgumentException(
        s"Unsupported Avro type for typed decode: $other")
    }
  }

  /** Null-safe-outside converter from an Avro runtime value to the
    * Catalyst internal value of [[toSparkType]]. Built ONCE per schema —
    * per-row work is a direct function call, no type dispatch. */
  def converter(s: Schema): AnyRef => Any = {
    val base = nonNull(s)
    base.getType match {
      case Schema.Type.RECORD =>
        val fieldConvs =
          base.getFields.asScala.map(f => converter(f.schema)).toArray
        v => {
          val rec = v.asInstanceOf[GenericRecord]
          val vals = new Array[Any](fieldConvs.length)
          var i = 0
          while (i < fieldConvs.length) {
            val fv = rec.get(i)
            vals(i) = if (fv == null) null else fieldConvs(i)(fv.asInstanceOf[AnyRef])
            i += 1
          }
          new GenericInternalRow(vals)
        }
      case Schema.Type.STRING | Schema.Type.ENUM => {
        case u: org.apache.avro.util.Utf8 =>
          UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
        case other => UTF8String.fromString(other.toString)
      }
      case Schema.Type.BYTES => v => {
        val bb = v.asInstanceOf[ByteBuffer]
        val out = new Array[Byte](bb.remaining())
        bb.duplicate().get(out)
        out
      }
      case Schema.Type.FIXED => v => v.asInstanceOf[GenericFixed].bytes().clone()
      case Schema.Type.INT | Schema.Type.LONG | Schema.Type.FLOAT |
           Schema.Type.DOUBLE | Schema.Type.BOOLEAN => v => v
      case Schema.Type.ARRAY =>
        val ec = converter(base.getElementType)
        v => {
          val in = v.asInstanceOf[java.util.Collection[AnyRef]]
          val out = new Array[Any](in.size)
          var i = 0
          val it = in.iterator()
          while (it.hasNext) {
            val e = it.next()
            out(i) = if (e == null) null else ec(e)
            i += 1
          }
          new GenericArrayData(out)
        }
      case Schema.Type.MAP =>
        val vc = converter(base.getValueType)
        v => {
          val in = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
          val keys = new Array[Any](in.size)
          val vals = new Array[Any](in.size)
          var i = 0
          val it = in.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            keys(i) = UTF8String.fromString(e.getKey.toString)
            vals(i) = if (e.getValue == null) null else vc(e.getValue)
            i += 1
          }
          new ArrayBasedMapData(
            new GenericArrayData(keys), new GenericArrayData(vals))
        }
      case other => throw new IllegalArgumentException(
        s"Unsupported Avro type for typed decode: $other")
    }
  }
}

/** `graft_from_avro(bytes)` — FIXED-schema typed decode fast path
  * (SURVEY.md §7.3): for a topic declared to carry a single writer schema,
  * decode Confluent-framed Avro straight to a typed Catalyst struct.
  *
  * vs. the dynamic path ([[AvroDecodeEnvelope]]): no per-row schema-id
  * lookup, no GenericRecord→JSON→parse round-trip, and the output is a
  * first-class struct column (`.select($"e.field")` prunes/pushes like any
  * other nested column). This is the API a Spark user reaches for first on
  * single-schema topics — the engine analogue of `from_avro` (the Avro
  * connector is not on this classpath, and it could not check the wire
  * header or schema id anyway).
  *
  * Wire violations throw in both modes (reference `AvroTransform.java:
  * 173-177`). A frame whose embedded schema id differs from
  * `expectedSchemaId` (when ≥ 0) throws [[SchemaLookupException]] — the
  * single-schema contract made loud instead of silently mis-decoding.
  * `permissive=true` maps Avro DECODE failures to a null struct (the
  * envelope path forwards original bytes, but a typed column has nowhere
  * to put them — documented deviation). Null input → null (tombstones).
  *
  * READER-SCHEMA EVOLUTION: `readerSchemaJson`, when set, decodes with
  * Avro schema resolution (writer bytes, reader shape): added fields fill
  * their defaults, dropped fields are skipped, int→long / float→double
  * promotions and alias renames apply — the standard consumer-upgrade
  * path. The output Catalyst type follows the READER schema.
  */
case class AvroDecodeFixed(
    child: Expression,
    schemaJson: String,
    expectedSchemaId: Int = -1,
    permissive: Boolean = false,
    readerSchemaJson: Option[String] = None) extends UnaryExpression {

  @transient private lazy val schema: Schema =
    new Schema.Parser().parse(schemaJson)

  @transient private lazy val readerSchema: Schema =
    readerSchemaJson.map(new Schema.Parser().parse(_)).getOrElse(schema)

  override def dataType: DataType = AvroCatalyst.toSparkType(readerSchema)
  override def nullable: Boolean = true

  @transient private lazy val conv: AnyRef => Any =
    AvroCatalyst.converter(readerSchema)

  // GenericDatumReader is not thread-safe; BinaryDecoder is reusable per
  // thread.
  private final class ThreadState {
    val reader = new GenericDatumReader[AnyRef](schema, readerSchema)
    var decoder: BinaryDecoder = _
  }
  @transient private lazy val local: ThreadLocal[ThreadState] =
    ThreadLocal.withInitial(() => new ThreadState)

  override def nullSafeEval(input: Any): Any = {
    val framed = WireFormat.parse(input.asInstanceOf[Array[Byte]])
    if (expectedSchemaId >= 0 && framed.schemaId != expectedSchemaId)
      throw new SchemaLookupException(
        s"Fixed-schema decode declared schema id $expectedSchemaId but " +
          s"frame carries id ${framed.schemaId}")
    val st = local.get()
    try {
      st.decoder = DecoderFactory.get()
        .binaryDecoder(framed.body, 0, framed.body.length, st.decoder)
      conv(st.reader.read(null, st.decoder).asInstanceOf[AnyRef])
    } catch {
      case t: Throwable if permissive && DecodeKernel.isDecodeFailure(t) =>
        null
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroDecodeFixed", this,
      classOf[AvroDecodeFixed].getName)
    // cast follows dataType: top-level schemas need not be records
    // (string/long/array/map all map to non-InternalRow java types); a
    // permissive decode failure returns null, tested before unboxing
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.boxedType(dataType)
    val out = ctx.freshName("decoded")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $out = $self.nullSafeEval($c);
         |${ev.isNull} = $out == null;
         |if (!${ev.isNull}) ${ev.value} = ($boxed) $out;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : AvroDecodeFixed = copy(child = newChild)
  override def prettyName: String = "graft_from_avro"
}

/** Catalyst → Avro value converters (the encode mirror of
  * [[AvroCatalyst.converter]]); same supported type lattice. Built once
  * per schema; per-row work is direct function calls. */
object AvroCatalystEncode {
  import scala.jdk.CollectionConverters._

  private def nonNull(s: Schema): Schema =
    if (s.getType != Schema.Type.UNION) s
    else {
      val nn = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      if (nn.size == 1) nn.head
      else throw new IllegalArgumentException(
        s"Unsupported Avro union for typed encode: $s")
    }

  /** Converter from the Catalyst internal value of
    * `AvroCatalyst.toSparkType(s)` to the Avro runtime value `s` expects. */
  def converter(s: Schema): Any => AnyRef = {
    val base = nonNull(s)
    base.getType match {
      case Schema.Type.RECORD =>
        val fields = base.getFields.asScala.toArray
        val sparkTypes = fields.map(f => AvroCatalyst.toSparkType(f.schema))
        val convs = fields.map(f => converter(f.schema))
        v => {
          val row = v.asInstanceOf[InternalRow]
          val rec = new GenericData.Record(base)
          var i = 0
          while (i < fields.length) {
            val fv =
              if (row.isNullAt(i)) null
              else convs(i)(row.get(i, sparkTypes(i)))
            rec.put(i, fv)
            i += 1
          }
          rec
        }
      case Schema.Type.STRING => v => v.asInstanceOf[UTF8String].toString
      case Schema.Type.ENUM =>
        v => new GenericData.EnumSymbol(base, v.asInstanceOf[UTF8String].toString)
      case Schema.Type.BYTES =>
        v => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case Schema.Type.FIXED =>
        // GenericDatumWriter writes exactly getFixedSize() bytes — an
        // unchecked oversized array would be SILENTLY truncated
        v => {
          val bytes = v.asInstanceOf[Array[Byte]]
          if (bytes.length != base.getFixedSize)
            throw new IllegalArgumentException(
              s"Avro fixed '${base.getName}' requires exactly " +
                s"${base.getFixedSize} bytes, got ${bytes.length}")
          new GenericData.Fixed(base, bytes)
        }
      case Schema.Type.INT | Schema.Type.LONG | Schema.Type.FLOAT |
           Schema.Type.DOUBLE | Schema.Type.BOOLEAN =>
        v => v.asInstanceOf[AnyRef]
      case Schema.Type.ARRAY =>
        val et = AvroCatalyst.toSparkType(base.getElementType)
        val ec = converter(base.getElementType)
        v => {
          val in = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          val out = new java.util.ArrayList[AnyRef](in.numElements())
          var i = 0
          while (i < in.numElements()) {
            out.add(if (in.isNullAt(i)) null else ec(in.get(i, et)))
            i += 1
          }
          out
        }
      case Schema.Type.MAP =>
        val vt = AvroCatalyst.toSparkType(base.getValueType)
        val vc = converter(base.getValueType)
        v => {
          val in = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
          val out = new java.util.HashMap[String, AnyRef](in.numElements())
          val keys = in.keyArray()
          val vals = in.valueArray()
          var i = 0
          while (i < in.numElements()) {
            out.put(keys.getUTF8String(i).toString,
              if (vals.isNullAt(i)) null else vc(vals.get(i, vt)))
            i += 1
          }
          out
        }
      case other => throw new IllegalArgumentException(
        s"Unsupported Avro type for typed encode: $other")
    }
  }
}

/** `graft_to_avro(struct)` — FIXED-schema typed ENCODE: the mirror of
  * [[AvroDecodeFixed]] (and the engine analogue of `to_avro`). Takes a
  * struct column whose shape matches `AvroCatalyst.toSparkType(schema)`
  * and emits the Avro binary body. Per-thread writer + encoder reuse (the
  * reference allocates all three per record — `AvroTransform.java:241-246`);
  * used by the framed-corpus fixture so the encode side of round-trip
  * queries is native, not a ScalaUDF. Null input → null. */
case class AvroEncodeFixed(child: Expression, schemaJson: String)
    extends UnaryExpression {

  @transient private lazy val schema: Schema =
    new Schema.Parser().parse(schemaJson)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  @transient private lazy val conv: Any => AnyRef =
    AvroCatalystEncode.converter(schema)

  private final class ThreadState {
    val writer = new GenericDatumWriter[AnyRef](schema)
    val out = new java.io.ByteArrayOutputStream(128)
    var encoder: BinaryEncoder = _
  }
  @transient private lazy val local: ThreadLocal[ThreadState] =
    ThreadLocal.withInitial(() => new ThreadState)

  override def nullSafeEval(input: Any): Any = {
    val st = local.get()
    st.out.reset()
    st.encoder = EncoderFactory.get().binaryEncoder(st.out, st.encoder)
    st.writer.write(conv(input), st.encoder)
    st.encoder.flush()
    st.out.toByteArray
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroEncodeFixed", this,
      classOf[AvroEncodeFixed].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (byte[]) $self.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : AvroEncodeFixed = copy(child = newChild)
  override def prettyName: String = "graft_to_avro"
}
