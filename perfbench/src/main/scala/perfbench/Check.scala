package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Compares transform outputs with the generator's expectations. Envelopes
  * are parsed with Jackson and compared field by field, so the check does
  * not depend on how the engine escapes JSON. */
object Check {
  private lazy val mapper = new ObjectMapper()

  /** None when `actual` is what `expected` says, else a short reason. */
  def mismatch(expected: Expected, actual: Array[Byte]): Option[String] =
    expected match {
      case Expected.Null =>
        if (actual == null) None else Some("expected null")
      case Expected.Same(b) =>
        if (actual != null && java.util.Arrays.equals(b, actual)) None
        else Some("expected the input bytes unchanged")
      case e @ Expected.Envelope(id, writer, _) =>
        withObject(actual) { o =>
          val names = o.fieldNames().asScala.toSet
          if (names != Set("originSchema", "originMessage", "originSchemaId"))
            Some(s"envelope fields $names")
          else if (!o.get("originSchemaId").isInt ||
              o.get("originSchemaId").intValue != id)
            Some(s"originSchemaId ${o.get("originSchemaId")} != $id")
          else if (o.get("originMessage").asText != e.message) Some("originMessage")
          else if (o.get("originSchema").asText != writer.toString) Some("originSchema")
          else None
        }
      case e @ Expected.KeyEnvelope(writer, _) =>
        withObject(actual) { o =>
          val want = mapper.readTree(e.message).asInstanceOf[ObjectNode]
          want.put("originSchema", writer.toString)
          if (o == want) None else Some("key envelope")
        }
    }

  /** Some(reason) when the bytes are not a JSON object, else `f(object)`. */
  private def withObject(actual: Array[Byte])(
      f: ObjectNode => Option[String]): Option[String] =
    if (actual == null) Some("expected an envelope, got null")
    else {
      val parsed =
        try Some(mapper.readTree(new String(actual, UTF_8)))
        catch { case _: java.io.IOException => None }
      parsed match {
        case Some(o: ObjectNode) => f(o)
        case _ => Some("envelope is not a JSON object")
      }
    }

  /** Mismatches of one output row against its generated record. */
  def row(g: Generated, key: Array[Byte], value: Array[Byte]): Option[String] =
    mismatch(g.expectedValue, value).map("value: " + _)
      .orElse(mismatch(g.expectedKey, key).map("key: " + _))
}
