package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.bench.BenchRecord

/** The bench record-overwrite guard (VERDICT r13 ask #1a), including
  * the revert case: the exact r13 accident — a 4.52%-steal candidate
  * against the committed 1.07%-steal record — must be refused.
  */
class BenchRecordSpec extends AnyFunSuite {

  private def rec(steal: Double, gateSteal: Double = 0.17): String =
    s"""{"metric":"total","value":481.8,"unit":"sec","queries":{},""" +
      s""""sf":"/root/testdata/sf0.1","host":{"busy_ticks":452482,""" +
      s""""steal_ticks":21438,"steal_pct":$steal,"loadavg_start":1.89,""" +
      s""""loadavg_end":6.01,"cpus":32,"gate":{"fired":true,""" +
      s""""clean_at_start":true,"skipped_attempts":[""" +
      s"""{"steal_pct":$gateSteal,"loadavg":4.19}]}}}"""

  test("stealPctOf reads the HOST steal, not a gate skipped-attempt") {
    // host block serializes before the nested gate block; a guard that
    // matched the gate's 0.17 would accept any dirty candidate
    assert(BenchRecord.stealPctOf(rec(1.07, gateSteal = 0.17))
      .contains(1.07))
  }

  test("r13 revert case: 4.52%-steal candidate refused over 1.07% record") {
    assert(!BenchRecord.accepts(Some(rec(1.07)), 4.52))
  }

  test("clean bar: any candidate at or under 1% replaces any record") {
    assert(BenchRecord.accepts(Some(rec(0.4)), 0.9)) // no ratchet-to-zero
    assert(BenchRecord.accepts(Some(rec(0.4)), 1.0))
    assert(!BenchRecord.accepts(Some(rec(0.4)), 1.01))
  }

  test("dirty record: candidate may match but not exceed its steal") {
    assert(BenchRecord.accepts(Some(rec(4.52)), 4.52))
    assert(BenchRecord.accepts(Some(rec(4.52)), 1.3))
    assert(!BenchRecord.accepts(Some(rec(4.52)), 4.53))
  }

  test("no record: accept anything; unmeasured record: clean-bar only") {
    assert(BenchRecord.accepts(None, 99.0))
    // an unmeasured record is replaceable by a CLEAN measured candidate
    assert(BenchRecord.accepts(Some("""{"metric":"total","value":1}"""), 0.9))
    // ... but a measured-dirty candidate still parks — the ratchet
    // stays monotone even over an unmeasured record (ADVICE r16 #3)
    assert(!BenchRecord.accepts(Some("""{"metric":"total","value":1}"""), 99.0))
  }

  test("gate-block-first serialization cannot flip the guard (r14 ask #4)") {
    // a future reordering that serializes the gate's skipped attempts
    // BEFORE the host block: the anchored parse must still return the
    // host steal, and a dirty candidate must still be refused
    val reordered =
      """{"metric":"total","value":481.8,"unit":"sec","queries":{},""" +
        """"gate_preview":{"skipped_attempts":[{"steal_pct":0.17}]},""" +
        """"host":{"busy_ticks":1,"steal_ticks":1,"steal_pct":1.07}}"""
    assert(BenchRecord.stealPctOf(reordered).contains(1.07))
    assert(!BenchRecord.accepts(Some(reordered), 4.52))
  }

  test("host block without steal_pct: a nested gate steal_pct is NOT " +
      "read as the run-level figure (ADVICE r15)") {
    // the host block can serialize without steal_pct (cpuTicks
    // unreadable) while the gate block's skipped attempts still carry
    // theirs — the bounded parse must return None, making the record
    // replaceable-as-unmeasured rather than spuriously 0.17%-clean
    val noHostSteal =
      """{"metric":"total","value":481.8,"unit":"sec","queries":{},""" +
        """"host":{"busy_ticks":452482,"loadavg_start":1.89,"cpus":32,""" +
        """"gate":{"fired":true,"clean_at_start":true,""" +
        """"skipped_attempts":[{"steal_pct":0.17,"loadavg":4.19}]}}}"""
    assert(BenchRecord.stealPctOf(noHostSteal).isEmpty)
    assert(BenchRecord.accepts(Some(noHostSteal), Some(0.9)),
      "a record with no run-level steal is replaceable by a clean run")
    assert(!BenchRecord.accepts(Some(noHostSteal), Some(99.0)),
      "... but not by a measured-dirty one (ADVICE r16 #3)")
  }

  test("unmeasured candidate never overwrites a measured record (ADVICE r14)") {
    assert(!BenchRecord.accepts(Some(rec(0.66)), None))
    assert(BenchRecord.accepts(None, None), "no record yet: accept")
    assert(BenchRecord.accepts(Some("""{"metric":"total","value":1}"""), None),
      "unmeasured record is replaceable")
  }

  test("park message carries the kept record's total and steal (r14 ask #5)") {
    val msg = BenchRecord.parkMessage(Some(rec(0.66)), Some(2.84))
    assert(msg.contains("candidate steal 2.84%"))
    assert(msg.contains("record kept: 481.8 s @ 0.66% steal"), msg)
    val unmeasured = BenchRecord.parkMessage(Some(rec(0.66)), None)
    assert(unmeasured.contains("no steal measurement"))
  }

  test("the contract writer renders the same bytes as the string-built line") {
    import BenchRecord.Host
    import graft.bench.Measure.Ticks
    def line(queries: Seq[(String, Double)], unstable: Seq[String],
        host: Option[Host]) = BenchRecord.mapper.writeValueAsString(
      BenchRecord.contract(queries, "/root/testdata/sf0.1", unstable, host))
    // each literal is what the string-concatenating writer printed
    assert(line(
      Seq("q01_pricing_summary" -> 0.720005048, "q02_filter_project" -> -1.0,
        "q138_stream_index_loop" -> 6.43125),
      Seq("q138_stream_index_loop"),
      Some(Host(Ticks(452482, 21438), Some((1.89, 6.01)), 32,
        Seq((1.37, 4.19)), cleanAtStart = true))) ==
      """{"metric":"total","value":7.151255048,"unit":"sec","queries":""" +
      """{"q01_pricing_summary":0.720005048,"q02_filter_project":-1.0,""" +
      """"q138_stream_index_loop":6.43125},"sf":"/root/testdata/sf0.1",""" +
      """"unstable":["q138_stream_index_loop"],"host":{"busy_ticks":452482,""" +
      """"steal_ticks":21438,"steal_pct":4.52,"loadavg_start":1.89,""" +
      """"loadavg_end":6.01,"cpus":32,"gate":{"fired":true,""" +
      """"clean_at_start":true,"skipped_attempts":""" +
      """[{"steal_pct":1.37,"loadavg":4.19}]}}}""")
    // no loadavg, no skipped attempt, nothing unstable
    assert(line(Seq("q01_pricing_summary" -> 0.5), Nil,
      Some(Host(Ticks(10, 0), None, 4, Nil, cleanAtStart = true))) ==
      """{"metric":"total","value":0.5,"unit":"sec","queries":""" +
      """{"q01_pricing_summary":0.5},"sf":"/root/testdata/sf0.1",""" +
      """"host":{"busy_ticks":10,"steal_ticks":0,"steal_pct":0.0,""" +
      """"gate":{"fired":false,"clean_at_start":true,"skipped_attempts":[]}}}""")
  }

  test("a truncated or unparsable record reads as unmeasured") {
    val whole = rec(1.07)
    for (bad <- Seq(whole.dropRight(3), whole.take(whole.indexOf("\"gate\"")),
        whole + "}", "not json", "")) {
      assert(BenchRecord.stealPctOf(bad).isEmpty, bad)
      assert(BenchRecord.totalOf(bad).isEmpty, bad)
      // unmeasured: a clean candidate replaces it, a dirty one parks
      assert(BenchRecord.accepts(Some(bad), Some(0.9)), bad)
      assert(!BenchRecord.accepts(Some(bad), Some(4.52)), bad)
    }
    assert(BenchRecord.parkMessage(Some(whole.dropRight(3)), Some(4.52))
      .contains("record kept: ? @ ? steal"))
  }

  test("the committed record parses") {
    val f = new java.io.File("bench/last_run.json")
    assume(f.isFile)
    val src = scala.io.Source.fromFile(f)
    val json = try src.mkString finally src.close()
    val steal = BenchRecord.stealPctOf(json)
    assert(steal.nonEmpty && steal.get >= 0.0 && steal.get <= 100.0)
  }
}
