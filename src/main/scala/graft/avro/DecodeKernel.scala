package graft.avro

import java.io.IOException

import org.apache.avro.AvroRuntimeException

/** The per-record decode step shared by the native Catalyst expressions
  * (`graft.plans.AvroDecodeEnvelope` and `graft.plans.AvroDecodeStruct`):
  * one implementation of the reference semantics, three output shapes.
  */
object DecodeKernel {

  /** One decoded record: the frame's schema id, the body rendered as Avro
    * JSON, and the schema's own JSON. */
  final case class Decoded(schemaId: Int, json: String, schemaJson: String)

  def isDecodeFailure(t: Throwable): Boolean = t match {
    case _: IOException => true // reference catches IOException (`:149`,`:188`)
    case _: AvroRuntimeException => true // Avro 1.12 wraps malformed input
    case _: ArrayIndexOutOfBoundsException => true // malformed varint index
    case _ => false
  }

  /** Wire-parse → schema lookup → decode to JSON. Permissive mode counts a
    * body that does not decode and returns null (`AvroTransform.java:188-191`);
    * wire violations (`:173-177`) and lookup failures throw in both modes.
    * `strip=false` decodes the whole framed payload — the unstripped-key
    * reference bug (`:148`, SURVEY.md §7.4). Null-safe at the caller. */
  def decode(bytes: Array[Byte], state: AvroDecoderState,
      permissive: Boolean, strip: Boolean): Decoded = {
    val framed = WireFormat.parse(bytes)
    val body = if (strip) framed.body else bytes
    val cached = state.cachedSchema(framed.schemaId)
    try Decoded(framed.schemaId,
      state.decodeToJson(cached, framed.schemaId, body), cached.json)
    catch {
      case t: Throwable if permissive && isDecodeFailure(t) =>
        state.swallowedErrors.increment()
        null
    }
  }

  /** VALUE-side envelope; permissive mode forwards the original bytes on
    * decode failure (`AvroTransform.java:188-191`). */
  def decodeValue(bytes: Array[Byte], state: AvroDecoderState,
      permissive: Boolean): Array[Byte] = {
    val d = decode(bytes, state, permissive, strip = true)
    if (d == null) bytes
    else AvroEnvelope.valueEnvelope(d.schemaId, d.json, d.schemaJson)
  }

  /** KEY-side envelope: fields inlined + originSchema injected
    * (`AvroTransform.java:224-229`). */
  def decodeKey(bytes: Array[Byte], state: AvroDecoderState,
      permissive: Boolean, strip: Boolean): Array[Byte] = {
    val d = decode(bytes, state, permissive, strip)
    if (d == null) bytes else AvroEnvelope.keyEnvelope(d.json, d.schemaJson)
  }
}
