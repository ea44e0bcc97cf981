package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite {

  // one op: built over [1000, 1100.7), its timed write over [1100.7, 1500] ms
  private val op = (1000.0, 1100.7, 1500.0)
  private val opSpans = Seq(
    Span(1, 0, "run", "workload", "w", 1000.0, 1500.0),
    Span(2, 1, "op-0", "op", "q", 1000.0, 1500.0),
    Span(3, 2, "op-0", "build", "build", 1000.0, 1100.7),
    Span(4, 2, "op-0", "execution", "execution", 1100.7, 1500.0))

  private def recorded(): Recorder = {
    val r = new Recorder
    // both callbacks arrive long after the op ended, as on the listener bus;
    // the first is an eager query of the build, the second the timed write
    // (analysed when its DataFrame was built, optimised and planned in it)
    r.onPlanned(Map("analysis" -> (1010L, 1020L), "optimization" -> (1020L, 1030L),
      "planning" -> (1030L, 1040L)))
    r.onPlanned(Map("analysis" -> (1050L, 1060L), "optimization" -> (1100L, 1120L),
      "planning" -> (1120L, 1130L)))
    r
  }

  test("planner phases of a late-delivered timed write are counted, eager ones are not") {
    val l = recorded().layers(Seq(op), cores = 4)
    assert(math.abs(l("planner.analysis_s") - 0.010) < 1e-9)
    assert(math.abs(l("planner.optimization_s") - 0.020) < 1e-9)
    assert(math.abs(l("planner.planning_s") - 0.010) < 1e-9)
  }

  test("planner spans of a late-delivered timed write join its op's trace") {
    val phases = recorded().spans(opSpans, nextId = 4)
      .filter(s => Set("analysis", "optimization", "planning")(s.kind))
    assert(phases.map(_.kind) == Seq("analysis", "optimization", "planning"))
    assert(phases.map(_.startMs) == Seq(1050.0, 1100.0, 1120.0))
    assert(phases.forall(_.trace == "op-0"))
  }
}
