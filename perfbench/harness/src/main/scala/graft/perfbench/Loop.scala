package graft.perfbench

/** One timed operation of a closed loop. `build` constructs the work (for a
  * query: the DataFrame, with any eager jobs its construction runs); its
  * result goes to `execute`, the timed write. `check` runs after the timer
  * stops and returns None when the output is right, else what was wrong. */
final case class Op[A, B](name: String, build: () => A, execute: A => B,
    check: B => Option[String])

/** One attempt of an op. Latencies are in nanoseconds; a failed attempt
  * (thrown, or output check failed) carries the error and is never a latency
  * sample. */
final case class Sample(name: String, startNs: Long, buildNs: Long,
    execNs: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def latencyNs: Long = buildNs + execNs
}

object Loop {

  /** One client, closed loop: run `ops` in order, starting the next op only
    * after the previous one finished, in whole passes over `ops`. A new pass
    * starts only while fewer than `seconds` have passed since the loop
    * started, so a run measures at least `seconds` and every run samples
    * each op equally often (at least once). */
  def run(ops: IndexedSeq[Op[_, _]], seconds: Double,
      clock: () => Long = () => System.nanoTime()): Seq[Sample] = {
    require(ops.nonEmpty, "no operations to run")
    val t0 = clock()
    val deadline = t0 + (seconds * 1e9).toLong
    val out = Seq.newBuilder[Sample]
    var i = 0
    while (i == 0 || i % ops.size != 0 || clock() < deadline) {
      out += runOne(ops(i % ops.size), clock)
      i += 1
    }
    out.result()
  }

  private def runOne[A, B](op: Op[A, B], clock: () => Long): Sample = {
    val s0 = clock()
    var s1 = s0
    var s2 = s0
    val error: Option[String] =
      try {
        val built = op.build()
        s1 = clock()
        val result = op.execute(built)
        s2 = clock()
        op.check(result).map(m => s"wrong output: $m")
      } catch {
        case e: Throwable =>
          val now = clock()
          if (s1 == s0) s1 = now
          s2 = now
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    Sample(op.name, s0, s1 - s0, s2 - s1, error)
  }
}
