package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own rules, tested without Spark. */
class HarnessSpec extends AnyFunSuite {

  test("a percentile is reported only with ten samples beyond it") {
    val xs19 = (1 to 19).map(_.toDouble)
    val xs20 = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(xs19, 0.5).isEmpty)
    assert(Stats.percentile(xs20, 0.5).contains(10.0))
    assert(Stats.beyond(20, 0.5) == 10)
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
    // order of the input does not matter
    assert(Stats.percentile(xs20.reverse, 0.5).contains(10.0))
  }

  test("a stalled writer's later ticks are timed from their due time") {
    val s = 1000000000L
    var clock = 0L
    // tick 0 stalls for 25 s; the others take 2 s; period 10 s, window 40 s
    val cost = Map(0 -> 25 * s).withDefaultValue(2 * s)
    val ticks = Schedule.run(Schedule(0L, 10 * s), 40 * s, () => clock,
      due => clock = math.max(clock, due)) { k => clock += cost(k) }
    assert(ticks.map(_.k) == Seq(0, 1, 2, 3))
    assert(ticks.map(_.startNs / s) == Seq(0, 25, 27, 30))
    assert(ticks.map(_.lateSec) == Seq(0.0, 15.0, 7.0, 0.0))
    assert(ticks.map(_.fromDueSec) == Seq(25.0, 17.0, 9.0, 2.0))
    // only ticks DUE inside the window run
    assert(Schedule(0L, 10 * s).ticksBefore(40 * s) == 4)
    assert(Schedule(0L, 10 * s).ticksBefore(41 * s) == 5)
    assert(Schedule(0L, 20 * s).ticksBefore(15 * s) == 1)
  }

  private def read(deadline: Long)(fetch: Int => String): (ReadRun, Int) = {
    var clock = 0L
    var calls = 0
    val r = Reads.untilCorrect("dashboard", "{\"ok\":1}", deadline, () => clock,
      () => clock += 100, _ => ()) { calls += 1; fetch(calls) }
    (r, calls)
  }

  test("a tampered dashboard document counts as a failed read") {
    val (r, calls) = read(deadline = 1000)(_ => "{\"ok\":2}")
    assert(!r.ok)
    assert(calls == r.attempts && calls > 1)
  }

  test("a torn read that later comes back right is retried, not failed") {
    val (r, _) = read(deadline = 1000) { n =>
      if (n == 1) throw new RuntimeException("Path does not exist") else "{\"ok\":1}"
    }
    assert(r.ok && r.attempts == 2)
  }

  test("every metric name is well formed and BENCHMARK.json lists exactly them") {
    val names = Metrics.endToEndNames ++ Metrics.perLayerNames
    names.foreach(n => assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n))
    assert(names.distinct.size == names.size)
    val spec = java.nio.file.Files.readString(java.nio.file.Paths.get("..", "BENCHMARK.json"))
    def section(key: String): Seq[String] = {
      val body = spec.split("\"" + key + "\"")(1).takeWhile(_ != ']')
      "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(section("end_to_end") == Metrics.endToEndNames)
    assert(section("per_layer") == Metrics.perLayerNames)
  }
}
