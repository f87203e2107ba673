package erbench

import scala.collection.mutable.ArrayBuffer

/** Tests of the benchmark's own helpers: the percentile rule, span
  * self-time arithmetic, listener attribution to the innermost span, and
  * ratios reported with their bases. Exits non-zero on any failure.
  *
  *   python3 erbench/run.py --selftest
  */
object HelperTests {
  private val failures = ArrayBuffer[String]()
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def near(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"got $got, want $want")

  private def span(id: Int, parent: Int, startMs: Long, endMs: Long): Span =
    Span(id, s"s$id", parent, 0, startMs, endMs, (endMs - startMs) * 1000000L)

  def main(args: Array[String]): Unit = {
    test("percentile: nearest rank") {
      val xs = (1 to 100).map(_.toDouble)
      near(Stats.percentile(xs, 90), 90.0)
      near(Stats.percentile(xs, 50), 50.0)
      near(Stats.percentile(Seq(3.0, 1.0, 2.0), 50), 2.0)
      near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }
    test("percentile rule: ten samples beyond") {
      eq(Stats.beyond(100, 90), 10)
      eq(Stats.beyond(99, 90), 9)
      eq(Stats.tail((1 to 100).map(_.toDouble)).map(t => (t.pct, t.n, t.beyond)), Some((90.0, 100, 10)))
      // 99 samples leave only nine beyond p90, so the rule falls back to p50
      eq(Stats.tail((1 to 99).map(_.toDouble)).map(_.pct), Some(50.0))
      eq(Stats.tail((1 to 1000).map(_.toDouble)).map(t => (t.pct, t.value)), Some((99.0, 990.0)))
      eq(Stats.tail((1 to 19).map(_.toDouble)), None)
      eq(Stats.tail((1 to 20).map(_.toDouble)).map(t => (t.pct, t.beyond)), Some((50.0, 10)))
    }
    test("precision at R shares the ties at the cut") {
      val scored = Seq("a" -> 0.9, "b" -> 0.5, "c" -> 0.5, "d" -> 0.1)
      val truth = Set("a", "c")
      eq(Stats.precisionAtR(scored, truth, 2), Stats.Ratio(1.5, 2))
      eq(Stats.precisionAtR(scored, truth, 1), Stats.Ratio(1.0, 1))
      eq(Stats.precisionAtR(scored, truth, 3), Stats.Ratio(2.0, 3))
      // fewer candidates than R: the missing ones count as misses
      eq(Stats.precisionAtR(scored.take(1), truth, 2), Stats.Ratio(1.0, 2))
      eq(Stats.precisionAtR(Seq.empty[(String, Double)], truth, 2), Stats.Ratio(0.0, 2))
    }
    test("self time: children subtracted once, overlaps merged") {
      val parent = span(0, -1, 1000, 1100)
      near(Attribution.selfMs(parent, Nil), 100.0)
      near(Attribution.selfMs(parent, Seq(span(1, 0, 1010, 1030), span(2, 0, 1050, 1090))), 40.0)
      near(Attribution.selfMs(parent, Seq(span(1, 0, 1010, 1050), span(2, 0, 1040, 1060))), 50.0)
      // a child running past its parent's end is clamped to the parent
      near(Attribution.selfMs(parent, Seq(span(1, 0, 1090, 1200))), 90.0)
      near(Attribution.unionLength(Seq((0.0, 1.0), (2.0, 3.0), (2.5, 4.0))), 3.0)
    }
    test("self times of a tree sum to the root's wall time") {
      val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 20, 30), span(3, 0, 50, 90))
      val costs = Attribution.costs(spans, Nil, Nil)
      near(costs.map(_.selfMs).sum, 100.0)
    }
    test("attribution: innermost open span wins") {
      val spans = Seq(span(0, -1, 100, 200), span(1, 0, 110, 150), span(2, 1, 120, 130),
        span(3, 0, 160, 190))
      eq(Attribution.innermost(spans, 125).map(_.id), Some(2))
      eq(Attribution.innermost(spans, 140).map(_.id), Some(1))
      eq(Attribution.innermost(spans, 155).map(_.id), Some(0))
      eq(Attribution.innermost(spans, 170).map(_.id), Some(3))
      eq(Attribution.innermost(spans, 250).map(_.id), None)
      val tasks = Seq(TaskRec(125, 7, 100, 10, 1), TaskRec(170, 5, 0, 20, 2), TaskRec(300, 9, 0, 0, 0))
      val costs = Attribution.costs(spans, Seq(121L, 141L, 171L, 172L, 400L), tasks)
        .map(c => c.span.id -> c).toMap
      eq((0 to 3).map(costs(_).jobs), Seq(0, 1, 1, 2))
      eq((0 to 3).map(costs(_).taskMs), Seq(0L, 0L, 7L, 5L))
      eq(costs(2).shuffleBytes, 100L)
      eq(costs(3).inputBytes, 20L)
    }
    test("tracer: boundaries never share a millisecond, so attribution is exact") {
      val t = new Tracer(true)
      t.op(0, "op") {
        t.span("a") { () }
        t.span("b") { () }
      }
      val s = t.spans
      val bounds = s.flatMap(x => Seq(x.startMs, x.endMs))
      val a = s.find(_.name == "a").get
      val b = s.find(_.name == "b").get
      if (!(a.endMs < b.startMs)) throw new AssertionError(s"siblings touch: $a $b")
      eq(s.find(_.name == "op").get.parent, -1)
      eq(a.parent, s.find(_.name == "op").get.id)
      eq(bounds.distinct.size, bounds.size)
    }
    test("tracer: disabled tracer records nothing") {
      val t = new Tracer(false)
      eq(t.op(0, "op") { t.span("a") { 42 } }, 42)
      eq(t.spans.size, 0)
    }
    test("ratios travel with their base") {
      val r = Stats.Ratio(3, 4) + Stats.Ratio(1, 4)
      near(r.value, 0.5)
      eq(Json.write(r), """{"num":4.0,"den":8.0,"value":0.5}""")
      if (!Stats.Ratio(1, 0).value.isNaN) throw new AssertionError("ratio over a zero base")
      eq(Json.write(Map("r" -> Stats.Ratio(0, 0))), """{"r":{"num":0.0,"den":0.0,"value":"NaN"}}""")
    }
    test("generator: same seed identical, other seed different") {
      val a = Gen.catalogs(5, 50, 0.6, 0.25)
      eq(a, Gen.catalogs(5, 50, 0.6, 0.25))
      if (a.a == Gen.catalogs(6, 50, 0.6, 0.25).a) throw new AssertionError("seeds 5 and 6 agree")
      eq(a.truth.size, 30)
      eq(a.golden.toSet.subsetOf(a.truth.toSet), true)
      eq(a.b.map(_.id).toSet, (a.truth ++ a.spareTruth).map(_._2).toSet)
      GenCheck.corpus(5, 50, 4)
    }
    test("BENCHMARK.json names exactly the metrics a run reports") {
      import scala.jdk.CollectionConverters.IteratorHasAsScala
      val spec = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File("BENCHMARK.json"))
      def entries(section: String, key: String): Seq[(String, String)] =
        spec.get(section).elements().asScala
          .map(n => n.get("name").asText -> n.get(key).asText).toSeq
      eq(entries("end_to_end", "unit"), Main.EndToEnd)
      eq(entries("per_layer", "unit"), Main.perLayerNames)
      eq(entries("workloads", "why").map(_._1).toSet, Main.Workloads.keySet)
    }
    println(s"$passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
