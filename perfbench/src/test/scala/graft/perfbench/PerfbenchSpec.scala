package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.perfbench.BbdcPipeline.Segment
import graft.streaming.Streaming

class PerfbenchSpec extends AnyFunSuite {

  test("the same seed generates byte-identical inputs, another seed different ones") {
    val shape = Inputs.BbdcShape(subjects = 2, trials = 1, trialSec = 2)
    def bbdcBytes(seed: Long) = {
      val in = Inputs.bbdc(seed, shape)
      Seq(in.labels, in.emg, in.mocap).map(Inputs.bytes)
    }
    val a = bbdcBytes(7)
    val b = bbdcBytes(7)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!java.util.Arrays.equals(a(1), bbdcBytes(8)(1)))
    assert(Inputs.bbdc(7, shape).emg.size == 2 * 2 * 600)

    def eventBytes(seed: Long) = Inputs.bytes(Inputs.eventRows(Inputs.events(seed, 5000, 50, 3)))
    assert(java.util.Arrays.equals(eventBytes(3), eventBytes(3)))
    assert(!java.util.Arrays.equals(eventBytes(3), eventBytes(4)))
  }

  test("p90 is reported only when at least 10 samples lie beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred, 0.9) == Some(90.0))
    assert(Stats.tail(hundred.take(99), 0.9).isEmpty)
    assert(Stats.tail(Nil, 0.9).isEmpty)
    assert(Stats.p90OrMax(hundred) == ((90.0, true)))
    assert(Stats.p90OrMax(Seq(3.0, 1.0, 2.0)) == ((3.0, false)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time is span duration minus the time its children cover") {
    def span(id: Int, parent: Int, start: Double, end: Double) = Span(id, parent, s"l.s$id", "r", start, end, Map.empty)
    val spans = Seq(
      span(0, -1, 0.0, 10.0),
      span(1, 0, 1.0, 4.0),
      span(2, 0, 3.0, 6.0), // overlaps child 1: [1, 6) is covered once
      span(3, 0, 8.0, 9.0),
      span(4, 1, 1.5, 2.0))
    val self = Span.selfTimes(spans)
    assert(math.abs(self(0) - (10.0 - 5.0 - 1.0)) < 1e-12)
    assert(math.abs(self(1) - 2.5) < 1e-12)
    assert(self(2) == 3.0 && self(3) == 1.0 && self(4) == 0.5)
  }

  test("bbdc segment invariants catch gaps, repeated labels and short coverage") {
    val grid = Map("s02t01.la" -> Seq(200L, 400L, 600L, 800L))
    val good = Seq(Segment("s02t01.la", 0.2, 0.6, "la-lift"), Segment("s02t01.la", 0.6, 0.8, "la-nothing"))
    assert(BbdcPipeline.invariantProblems(good, grid).isEmpty)
    val gap = Seq(Segment("s02t01.la", 0.2, 0.4, "la-lift"), Segment("s02t01.la", 0.6, 0.8, "la-nothing"))
    assert(BbdcPipeline.invariantProblems(gap, grid).exists(_.contains("gap")))
    val same = Seq(Segment("s02t01.la", 0.2, 0.6, "la-lift"), Segment("s02t01.la", 0.6, 0.8, "la-lift"))
    assert(BbdcPipeline.invariantProblems(same, grid).exists(_.contains("label")))
    val short = Seq(Segment("s02t01.la", 0.2, 0.6, "la-lift"))
    assert(BbdcPipeline.invariantProblems(short, grid).exists(_.contains("ends at")))
    assert(BbdcPipeline.invariantProblems(Nil, grid) == Seq("s02t01.la: no segments"))
  }

  test("a deliberately wrong result is counted in failed_frac") {
    val work = Files.createDirectories(Paths.get("target", "spec-work"))
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    try {
      // four operations per pass; the check rejects one of them
      val w = new Workload {
        val name = "fake"
        def prepare(): Unit = ()
        def warmup(tr: Tracer): Unit = ()
        def pass(tr: Tracer): PassOut = {
          val n = tr.span("fake.op")(spark.range(100).count())
          PassOut(Seq(0.1, 0.2, 0.3, 0.4), 4, 0, n, check = () => 1)
        }
      }
      val r = Main.untraced(w, Main.Args(workload = "fake", seconds = 0), 1.0, spark)
      val m = r.metrics.map(x => x.name -> x.value).toMap
      assert(r.attempted == 4 && r.failed == 1)
      assert(m("failed_frac") == 0.25)
      assert(m("op_p50_s") == 0.25 && m("op_p90_s") == 0.4)
      assert(m("rows_per_s") > 0 && m("wall_s") > 0)
    } finally spark.stop()
  }

  test("stream outputs that differ from the batch result are reported") {
    val segs = Seq(Streaming.Segment("1", "view", 0L, 5L, 2L), Streaming.Segment("1", "buy", 5L, 5L, 1L))
    val want = StreamIngest.Outputs(Seq((0L, 1L, 3L, 1.5)), Seq((1L, 0L, 10L, 3L)), segs.take(1))
    val got = StreamIngest.Outputs(Seq((0L, 1L, 3L, 1.5 + 1e-13)), Seq((1L, 0L, 10L, 3L)), segs)
    assert(StreamIngest.problems(got, want, users = 1, events = 3).isEmpty)
    val wrongCount = got.copy(tumble = Seq((0L, 1L, 4L, 1.5)))
    assert(StreamIngest.problems(wrongCount, want, users = 1, events = 3).exists(_.contains("tumbling")))
    val lostEvent = got.copy(runs = Seq(segs(0), segs(1).copy(n = 0L)))
    assert(StreamIngest.problems(lostEvent, want, users = 1, events = 3).exists(_.contains("runs hold")))
  }
}
