package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite

import graft.avro.{AvroDecoderState, DecodeKernel, InMemorySchemaProvider}

class CheckSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val corpus = new Corpus(seed = 7, numSchemas = 24)
  private val gens = (0L until 3000L).map(corpus.generate)

  /** A correct output built from the expectation with Jackson alone. */
  private def render(e: Expected): Array[Byte] = e match {
    case Expected.Null => null
    case Expected.Same(b) => b
    case env: Expected.Envelope =>
      val o = mapper.createObjectNode()
      o.put("originSchema", env.writer.toString)
      o.put("originMessage", env.message)
      o.put("originSchemaId", env.schemaId)
      mapper.writeValueAsString(o).getBytes(UTF_8)
    case k: Expected.KeyEnvelope =>
      val o = mapper.readTree(k.message).asInstanceOf[ObjectNode]
      o.put("originSchema", k.writer.toString)
      mapper.writeValueAsString(o).getBytes(UTF_8)
  }

  private def errorRate(expected: Seq[Generated], outputs: Seq[Generated]): Double =
    expected.zip(outputs).count { case (g, out) =>
      Check.row(g, render(out.expectedKey), render(out.expectedValue)).nonEmpty
    }.toDouble / expected.size

  test("the corpus mixes topics, tombstones, corrupt bodies and all shapes") {
    val values = gens.map(_.expectedValue)
    assert(gens.exists(_.row.topic == Corpus.AuditTopic))
    assert(values.count(_ == Expected.Null) > 0)
    assert(gens.count(_.corrupt) > 0)
    assert(gens.filter(_.schemaIndex >= 0).map(_.schemaIndex % Corpus.Shapes).toSet.size == 8)
    assert(gens.map(_.row.value).filter(_ != null).map(_.length).max > 1000)
  }

  test("error rate is zero for correct outputs") {
    assert(errorRate(gens, gens) == 0.0)
  }

  test("error rate rises when the checker is fed one wrong expected output") {
    val i = gens.indexWhere(_.expectedValue.isInstanceOf[Expected.Envelope])
    val env = gens(i).expectedValue.asInstanceOf[Expected.Envelope]
    val wrong = gens.updated(i, gens(i).copy(
      expectedValue = env.copy(schemaId = env.schemaId + 1)))
    assert(errorRate(wrong, gens) == 1.0 / gens.size)
    val j = gens.indexWhere(_.expectedKey.isInstanceOf[Expected.KeyEnvelope])
    val wrongKey = gens.updated(j, gens(j).copy(expectedKey = Expected.Null))
    assert(errorRate(wrongKey, gens) == 1.0 / gens.size)
  }

  test("the engine's fused kernel agrees with the Avro-derived expectations") {
    val state = new AvroDecoderState(InMemorySchemaProvider(corpus.registry), 100)
    for (g <- gens if g.row.topic != Corpus.AuditTopic && g.row.value != null) {
      val out = DecodeKernel.decodeValue(g.row.value, state, true)
      assert(Check.mismatch(g.expectedValue, out).isEmpty, s"offset ${g.row.offset}")
    }
    assert(state.swallowedErrors.sum() == gens.count(_.corrupt))
  }
}
