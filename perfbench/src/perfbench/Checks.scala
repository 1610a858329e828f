package perfbench

/** Output checks against the generated ground truth, as pure functions
  * so the self-tests can feed them corrupted outputs.
  */
object Checks {

  /** Agreement of a clustering with the planted duplicate clusters.
    *
    * `assignment` maps every doc to its cluster id (the smallest id in
    * its cluster); `truthRep` maps every doc of a planted cluster to that
    * cluster's smallest id. A perfect pass removes exactly the docs whose
    * planted representative is another doc. Recall is the share of those
    * the clustering removes into the right cluster; precision is the
    * share of the docs it removes that were removed into the right
    * cluster.
    */
  def dedupAgainstTruth(assignment: Map[Long, Long],
                        truthRep: Map[Long, Long]): Map[String, Double] = {
    val planted = truthRep.filter { case (d, rep) => d != rep }
    val removed = assignment.filter { case (d, c) => d != c }
    val right = removed.count { case (d, c) => planted.get(d).contains(c) }
    def share(n: Int, of: Int) = if (of == 0) 1.0 else n.toDouble / of
    Map("dedup_recall" -> share(right, planted.size),
      "dedup_precision" -> share(right, removed.size))
  }

  /** Mean recall of `got` against `expected`, over the expected queries;
    * a query missing from `got` has recall 0.
    */
  def recallAt(expected: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double =
    if (expected.isEmpty) 1.0
    else expected.map { case (q, exp) =>
      (got.getOrElse(q, Set.empty) intersect exp).size.toDouble / exp.size
    }.sum / expected.size

  /** What is wrong, if anything, with the (batch doc, corpus doc) pairs
    * an incremental near-dup admission reported: `truth` holds every pair
    * at or above the Jaccard threshold with its Jaccard; each reported
    * pair must be one of them, and every pair at `mustFind` or above must
    * be reported.
    */
  def admission(found: Set[(Long, Long)], truth: Map[(Long, Long), Double],
                mustFind: Double): Option[String] = {
    val missed = truth.collect { case (p, j) if j >= mustFind && !found(p) => p }
    val spurious = found.filterNot(truth.contains)
    if (missed.nonEmpty) Some(s"incremental admission missed ${missed.size} pairs, e.g. ${missed.head}")
    else if (spurious.nonEmpty)
      Some(s"incremental admission reported ${spurious.size} pairs below the threshold, e.g. ${spurious.head}")
    else None
  }

  /** Accuracy of a confusion matrix given as (label, prediction, count)
    * cells, and what is wrong with it, if anything: it must cover exactly
    * `nClasses` labels and predictions, sum to the test row count, and
    * reach the planted-signal accuracy floor.
    */
  def confusion(cells: Seq[(Int, Int, Long)], nClasses: Int, nTest: Long,
                floor: Double): (Double, Option[String]) = {
    val total = cells.map(_._3).sum
    val acc = if (total == 0) 0.0 else cells.collect { case (l, p, n) if l == p => n }.sum.toDouble / total
    val labels = cells.map(_._1).toSet
    val problem =
      if (cells.exists { case (l, p, n) => n > 0 && (l < 0 || l >= nClasses || p < 0 || p >= nClasses) })
        Some(s"confusion matrix has a label or prediction outside the $nClasses classes")
      else if (labels.size != nClasses)
        Some(s"confusion matrix has ${labels.size} label rows, not $nClasses")
      else if (total != nTest) Some(s"confusion matrix sums to $total, test rows are $nTest")
      else if (acc < floor) Some(f"model accuracy $acc%.4f below the planted-signal floor $floor")
      else None
    (acc, problem)
  }
}
