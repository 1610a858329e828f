package perfbench

/** Self-tests of the benchmark's own arithmetic and output checks; they
  * need no Spark session. Run through `python3 perfbench/run.py --self-test`,
  * which also checks that the input generator is deterministic.
  */
object SelfTest {
  private var failed = 0

  private def expect(name: String, cond: Boolean): Unit = {
    println(s"[self-test] ${if (cond) "ok  " else "FAIL"} $name")
    if (!cond) failed += 1
  }

  private def span(id: Long, parent: Long, start: Long, end: Long) =
    Span(id, s"s$id", parent, "self-test", start, end, Map.empty)

  def main(args: Array[String]): Unit = {
    // self time: root [0,100] with children [10,40] and [30,60] (which
    // overlap) and [90,120] (which outlives the root); the covered part
    // is [10,60] + [90,100] = 60 ns
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
      span(4, 1, 90, 120), span(5, 2, 15, 25), span(6, 0, 200, 250))
    val self = Span.selfSeconds(spans)
    expect("root self time excludes the union of its children", self(1) == 40e-9)
    expect("a child's self time excludes its own child", self(2) == 20e-9)
    expect("a leaf's self time is its duration", self(3) == 30e-9 && self(6) == 50e-9)
    expect("self times never exceed durations", spans.forall(s => self(s.id) <= s.seconds))

    // dedup against planted clusters {1,2}, {3,4,5}, {6,7,8,9}, {10,11}, {12,13}
    val clusters = Seq(Seq(1L, 2L), Seq(3L, 4L, 5L), Seq(6L, 7L, 8L, 9L), Seq(10L, 11L),
      Seq(12L, 13L))
    val truthRep = clusters.flatMap(c => c.map(_ -> c.min)).toMap
    val docs = (1L to 20L)
    val perfect = docs.map(d => d -> truthRep.getOrElse(d, d)).toMap
    val ok = Checks.dedupAgainstTruth(perfect, truthRep)
    expect("a perfect clustering has recall and precision 1",
      ok("dedup_recall") == 1.0 && ok("dedup_precision") == 1.0)
    val dropped = Checks.dedupAgainstTruth(perfect.updated(4L, 4L), truthRep)
    expect("dropping one planted duplicate fails the 0.95 recall floor",
      dropped("dedup_recall") < 0.95 && dropped("dedup_precision") == 1.0)
    val merged = Checks.dedupAgainstTruth(perfect.updated(15L, 1L), truthRep)
    expect("merging a unique doc into a cluster fails the 0.95 precision floor",
      merged("dedup_precision") < 0.95 && merged("dedup_recall") == 1.0)
    val wrongCluster = Checks.dedupAgainstTruth(perfect.updated(7L, 3L), truthRep)
    expect("a duplicate merged into the wrong cluster counts against both",
      wrongCluster("dedup_recall") < 1.0 && wrongCluster("dedup_precision") < 1.0)

    // kNN recall
    val expected = Map(1L -> (10L to 19L).toSet, 2L -> (20L to 29L).toSet)
    expect("exact neighbour lists have recall 1", Checks.recallAt(expected, expected) == 1.0)
    expect("one missing neighbour costs 0.05 over two queries",
      math.abs(Checks.recallAt(expected, expected.updated(1L, (10L to 18L).toSet)) - 0.95) < 1e-12)
    expect("a missing query has recall 0",
      Checks.recallAt(expected, expected - 2L) == 0.5)

    // incremental admission: pairs (1,10) at 0.9, (2,20) at 0.75
    val pairs = Map((1L, 10L) -> 0.9, (2L, 20L) -> 0.75)
    expect("an admission reporting every pair passes",
      Checks.admission(pairs.keySet, pairs, 0.8).isEmpty)
    expect("an admission may miss a pair under the must-find Jaccard",
      Checks.admission(Set((1L, 10L)), pairs, 0.8).isEmpty)
    expect("an admission missing a must-find pair fails",
      Checks.admission(Set((2L, 20L)), pairs, 0.8).nonEmpty)
    expect("an admission reporting a pair below the threshold fails",
      Checks.admission(pairs.keySet + ((3L, 30L)), pairs, 0.8).nonEmpty)

    // confusion matrix: 8 classes, 90% on the diagonal
    val cells = for (l <- 0 until 8; p <- 0 until 8)
      yield (l, p, if (l == p) 90L else if (p == (l + 1) % 8) 10L else 0L)
    val (acc, problem) = Checks.confusion(cells, 8, 800, 0.75)
    expect("a valid 8x8 matrix passes", problem.isEmpty && math.abs(acc - 0.9) < 1e-12)
    expect("a matrix that misses test rows fails", Checks.confusion(cells, 8, 801, 0.75)._2.nonEmpty)
    expect("a matrix missing a label row fails",
      Checks.confusion(cells.filter(_._1 != 3), 8, 700, 0.75)._2.nonEmpty)
    expect("a prediction outside the classes fails",
      Checks.confusion(cells :+ ((0, 8, 1L)), 8, 801, 0.75)._2.nonEmpty)
    expect("accuracy under the planted-signal floor fails",
      Checks.confusion(cells, 8, 800, 0.95)._2.nonEmpty)

    println(s"[self-test] ${if (failed == 0) "all passed" else s"$failed failed"}")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
