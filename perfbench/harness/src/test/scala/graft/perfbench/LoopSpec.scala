package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite {

  /** A clock that advances 1 s per reading. */
  private def ticking(): () => Long = {
    var t = 0L
    () => { t += 1000000000L; t }
  }

  private def op(name: String, body: () => Int, want: Int = 1): Op[_, _] =
    Op[Int, Int](name, () => 0, _ => body(), r => if (r == want) None else Some(s"$r != $want"))

  test("a throwing query is named, counted failed, and never a latency sample") {
    val ops = IndexedSeq(op("ok", () => 1), op("throws", () => throw new IllegalStateException("boom")),
      op("wrong", () => 2))
    val samples = Loop.run(ops, seconds = 0.5, clock = ticking())
    assert(samples.map(_.name) == Seq("ok", "throws", "wrong"))
    val failed = samples.filterNot(_.ok)
    assert(failed.map(_.name) == Seq("throws", "wrong"))
    assert(failed.head.error.get.contains("IllegalStateException: boom"))
    assert(failed(1).error.get.startsWith("wrong output: 2 != 1"))
    assert(samples.filter(_.ok).map(_.name) == Seq("ok"))
  }

  test("the loop runs whole passes until the time is up") {
    var calls = 0
    val ops = IndexedSeq(op("a", () => { calls += 1; 1 }), op("b", () => 1), op("c", () => 1))
    // the loop reads the clock once at start and once per pass boundary;
    // each op reads it 3 times: a pass of 3 ops takes 10 s of this clock
    val samples = Loop.run(ops, seconds = 11.5, clock = ticking())
    assert(samples.size == 6) // pass 2 starts at 11 s < 11.5 s; pass 3 would start at 21 s
    assert(calls == 2)
  }

  test("every run completes at least one pass") {
    val samples = Loop.run(IndexedSeq(op("a", () => 1), op("b", () => 1)), seconds = 0.0,
      clock = ticking())
    assert(samples.map(_.name) == Seq("a", "b"))
  }

  test("the digest ignores row order but not values inside a row or array") {
    val a = Array(Row(1L, "x", 0.1 + 0.2), Row(2L, "y", Seq(1, 2)))
    val b = Array(Row(2L, "y", Seq(1, 2)), Row(1L, "x", 0.3))
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.of(a) != Digest.of(Array(Row(2L, "y", Seq(2, 1)), Row(1L, "x", 0.3))))
    assert(Digest.of(a)._1 == 2L)
  }

  test("timestamps digest the same under any default time zone") {
    val zone = java.util.TimeZone.getDefault
    def digest(tz: String) = {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(tz))
      try {
        val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-10T10:30:00.120Z"))
        (Digest.canonical(ts), Digest.of(Array(Row(ts, java.sql.Date.valueOf("2024-03-10")))))
      } finally java.util.TimeZone.setDefault(zone)
    }
    val (text, utc) = digest("UTC")
    assert(text == "2024-03-10 10:30:00.12")
    assert(digest("America/Los_Angeles")._2 == utc)
    assert(digest("Asia/Kolkata")._2 == utc)
  }
}
