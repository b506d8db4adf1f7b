package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {
  private val ms = 1000000L

  test("records fall due on the fixed schedule, phase by phase") {
    val s = new Schedule(0L, Seq(Phase("a", 1000, 1.0), Phase("b", 2000, 1.0)))
    assert(s.total == 3000)
    assert(s.dueNs(0) == 0L)
    assert(s.dueNs(50) == 50 * ms)
    assert(s.dueNs(1000) == 1000 * ms)
    assert(s.dueNs(1001) == 1000 * ms + ms / 2)
    assert(s.dueBy(0L) == 1)
    assert(s.dueBy(50 * ms) == 51)
    assert(s.dueBy(10000 * ms) == 3000)
    for (i <- 0L until 3000L) assert(s.dueBy(s.dueNs(i)) > i, s"offset $i")
  }

  test("latency counts from the due time, so generator lag is included") {
    val s = new Schedule(0L, Seq(Phase("a", 1000, 1.0)))
    val due = s.dueNs(50)      // 50 ms
    val created = 80 * ms      // the generator ran 30 ms late
    val emitted = 100 * ms
    assert(OpenLoop.latencyMs(due, emitted) == 50.0)
    assert(OpenLoop.latencyMs(due, emitted) > OpenLoop.latencyMs(created, emitted))
  }

  test("sustained rate: the highest rate kept up with over fixed-rate steps") {
    import OpenLoop.Step
    // below capacity the pipeline emits what is offered
    assert(Step(15000, 15020).sustained == 15000)
    // above capacity the backlog grows; the emitted rate is what it sustains
    assert(Step(130000, 61000).sustained == 61000)
    assert(OpenLoop.sustained(Seq(Step(15000, 14990), Step(130000, 61000))) == 61000)
    // a run that never got past the first step reports that step
    assert(OpenLoop.sustained(Seq(Step(15000, 14990), Step(130000, 9000))) == 14990)
    assert(OpenLoop.sustained(Nil) == 0.0)
  }
}
