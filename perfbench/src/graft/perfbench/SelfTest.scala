package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Fast self-test at toy size:
  *  - the same seed yields the same cards, requests and expected answers
  *    (and another seed does not);
  *  - a short run of every workload, untraced and traced, measures every
  *    metric with no failed operation (the caller compares the printed
  *    names and units with BENCHMARK.json);
  *  - a planted wrong expectation is reported as failures, so the
  *    checks are live.
  * Returns one JSON line: {"ok", "problems", "metrics": {name: unit}}. */
object SelfTest {
  def run(spark: SparkSession, work: String): String = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def expectThat(ok: Boolean, what: String): Unit = if (!ok) problems += what

    val (a, b, c) = (new Gen(7, Shape.Toy), new Gen(7, Shape.Toy), new Gen(8, Shape.Toy))
    expectThat(a.preload == b.preload && (1 to 3).map(a.fold) == (1 to 3).map(b.fold),
      "same seed, different cards")
    expectThat((0L until 200L).map(i => (a.zipfSearch(i), a.zipfPymk(i))) ==
      (0L until 200L).map(i => (b.zipfSearch(i), b.zipfPymk(i))), "same seed, different requests")
    expectThat(a.preload != c.preload, "different seeds, same cards")
    def answers(g: Gen): Seq[Any] = {
      val e = new Expect
      e.add(g.preload); e.add(g.fold(1))
      g.pymkKeys.map(k => e.pymk(k.name, 10)) ++ g.searchKeys.map(e.searchMatches)
    }
    expectThat(answers(a) == answers(b), "same seed, different expected answers")

    val metrics = for {
      traced <- Seq(false, true)
      wl <- Workload.all
    } yield {
      val dir = s"$work/selftest-${wl.name}-$traced"
      val out = Serve.measure(spark, dir, a, wl, traced, seconds = 4, startS = 0.1,
        artifact = None)
      expectThat(out.failed == 0, s"${wl.name} traced=$traced: ${out.failed} failed operations")
      Serve.deleteTree(new java.io.File(dir))
      out.metrics.map { case (n, _, u) => n -> u }
    }

    // planted wrong expectation: the model gets a fold the engine never
    // saw, so searches and PYMK answers that it touches must now fail
    val dir = s"$work/selftest-planted"
    val planted = new Serve(spark, dir, a, Workload.all.head, None,
      s => System.err.println(s"[selftest] expected: $s"))
    planted.setup()
    planted.expect.add(a.fold(50))
    a.pymkKeys.foreach(planted.request(_))
    a.searchKeys.take(20).foreach(planted.request(_))
    expectThat(planted.failed > 0, "a planted wrong expectation was not caught")
    Serve.deleteTree(new java.io.File(dir))

    Serve.json(Seq("ok" -> problems.isEmpty, "problems" -> problems.toSeq,
      "metrics" -> metrics.flatten.distinct))
  }
}
