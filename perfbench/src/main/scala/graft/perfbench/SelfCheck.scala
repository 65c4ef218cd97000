package graft.perfbench

/** Checks the benchmark's own statistics and answer comparison on
  * inputs whose results are known, including a planted wrong top-k.
  */
object SelfCheck {

  private def check(what: String, ok: Boolean): Unit =
    if (!ok) throw new AssertionError(s"self-check failed: $what")

  def run(): Unit = {
    check("median odd", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val hundred = (1 to 100).map(_.toDouble)
    check("p90 of 1..100", Stats.percentile(hundred, 0.9) == 90.0)
    check("p50 of 1..100", Stats.percentile(hundred, 0.5) == 50.0)
    check("tail of 100 samples is p90", Stats.tailLevel(100).contains(0.9))
    check("tail of 200 samples is p95", Stats.tailLevel(200).contains(0.95))
    check("tail of 40 samples is p75", Stats.tailLevel(40).contains(0.75))
    check("no tail below 40 samples", Stats.tailLevel(39).isEmpty)
    check("99 samples fall back to p80", Stats.tailLevel(99).contains(0.8))
    check("tail falls back to the median", Workloads.tail(Seq(1.0, 2.0, 3.0)) == 2.0)
    check("fail ratio", Stats.failRatio(1, 4) == 0.25)
    check("self time with overlapping children",
      Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60)

    val good = Seq((7L, 3.5), (2L, 1.25), (9L, 1.25), (1L, -0.5))
    check("answer equals itself", Workloads.sameTopK(good, good))
    check("answer in rank order", Workloads.ordered(good))
    val swapped = Seq(good(0), good(2), good(1), good(3))
    check("planted swapped top-k caught", !Workloads.sameTopK(good, swapped))
    check("planted tie order caught", !Workloads.ordered(swapped))
    val rescored = good.updated(1, (2L, 1.2500001))
    check("planted wrong score caught", !Workloads.sameTopK(good, rescored))
    check("planted short top-k caught", !Workloads.sameTopK(good, good.dropRight(1)))
    val foreign = good.updated(3, (4L, -0.5))
    check("planted wrong document caught", !Workloads.sameTopK(good, foreign))

    val pool = QueryGen.pool(5, _ => 3)
    val vocab = graft.corpus.CorpusSynthesizer.Vocabulary.toSet
    check("every class generated", QueryGen.Classes.forall(c => pool(c).size == 3))
    check("query terms come from the vocabulary", pool.values.flatten.forall { q =>
      graft.search.QueryParser.termLeaves(graft.search.QueryParser.parse(q.text)).forall(vocab)
    })
    check("generator is seeded", QueryGen.pool(5, _ => 3) == pool && QueryGen.pool(6, _ => 3) != pool)
    println("self-check passed")
  }
}
