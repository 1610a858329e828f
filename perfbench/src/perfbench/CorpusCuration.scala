package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{DedupOps, TextOps, VectorOps}

/** One curation cycle over a text corpus with embeddings. The bulk part:
  * quality features, exact dedup, MinHash near-dup candidates and their
  * exact verification, connected components over the verified pairs, and
  * an exact top-10 neighbour search for a query sample over the
  * survivors. Then the survivors are indexed (IVF) and the point
  * operations follow: a few single-vector top-10 probes, each answered by
  * the index and by a brute-force scan, and a one-excerpt containment
  * lookup. The traced run also admits a late batch against the corpus
  * (see [[tracedOnly]]).
  */
final class CorpusCuration(dir: String, seed: Long) extends Workload {
  private val path = s"$dir/corpus.jsonl"
  private val batchPath = s"$dir/batch.jsonl"
  private val truth = Util.readJson(s"$dir/truth.json")
  private val nDocs = Util.long(truth, "docs")
  private val threshold = Util.double(truth, "jaccard_threshold")
  private val queryIds = Util.longs(truth \ "queries")
  private val expectedTopK: Map[Long, Set[Long]] =
    queryIds.zip((truth \ "topk").children.map(Util.longs(_).toSet)).toMap
  private val probeIds = Util.longs(truth \ "probes")
  /** Planted duplicate clusters as doc -> smallest id of its cluster. */
  private val truthRep: Map[Long, Long] =
    (truth \ "clusters").children.map(Util.longs).flatMap(c => c.map(_ -> c.min)).toMap
  /** (batch doc, corpus doc) -> Jaccard, for every pair at or above the threshold. */
  private val batchPairs: Map[(Long, Long), Double] =
    (truth \ "batch_pairs").children.map(_.children).map { case Seq(b, c, j) =>
      (Util.number(b).toLong, Util.number(c).toLong) -> Util.number(j)
    }.toMap
  private val mustFind = Util.double(truth, "must_find_jaccard")
  private val lookupText = (truth \ "lookup" \ "text").values.toString
  private val containment = Util.double(truth \ "lookup", "containment")
  private val lookupHits = Util.longs(truth \ "lookup" \ "hits").toSet
  private val floors = Seq("dedup_recall", "dedup_precision", "knn_recall", "ivf_recall")
    .map(k => k -> Util.double(truth, s"${k}_floor")).toMap

  val itemsPerPass: Long = nDocs
  private val NHashes = 100
  private val RowsPerBand = 5
  private val IvfCells = 16
  private val IvfProbeCells = 4

  private var tracer: Tracer = _
  private var corpus: DataFrame = _
  private var batch: DataFrame = _
  private var lookup: DataFrame = _
  private var probeVectors: Map[Long, Seq[Float]] = _
  private val results = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
  private val failures = collection.mutable.ArrayBuffer.empty[String]

  def setup(s: SparkSession, t: Tracer): Unit = {
    tracer = t
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))
    corpus = Tables.parallelize(s.read.schema(schema).json(path)).cache()
    corpus.count()
    batch = s.read.schema(StructType(schema.take(2))).json(batchPath).cache()
    batch.count()
    import s.implicits._
    lookup = Seq((1L, lookupText)).toDF("eval_id", "text").cache()
    probeVectors = corpus.filter(col("doc_id").isin(probeIds: _*))
      .select(col("doc_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
  }

  private def fail(msg: String): Boolean = { failures += msg; false }

  private def ids(rows: Array[Row], col: String): Seq[Long] = rows.toSeq.map(_.getAs[Long](col))

  def pass(): () => Boolean = {
    val docs = tracer.stage("ops.text") {
      corpus.select(col("doc_id"), col("text"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.stopwordRatio(col("text")).as("stopword_ratio"),
          TextOps.avgTokenLen(col("text")).as("avg_token_len"),
          TextOps.punctRatio(col("text")).as("punct_ratio"))
        .filter(col("n_tokens") >= 20) // a length gate every generated doc passes
    }
    val exact = tracer.stage("ops.dedup.exact") {
      DedupOps.exactDedup(docs, "text", "doc_id")
    }
    val kept = docs.join(exact.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .withColumn("toks", TextOps.tokenSet(col("text")))
    val sigCols = (0 until NHashes).map(i => s"mh$i")
    val (sigs, candidates) = tracer.span("ops.dedup.minhash") {
      val sigs = tracer.materialize(DedupOps.withMinhash(kept, col("toks"), NHashes))
      val cands = tracer.materialize(DedupOps.candidatePairs(
        DedupOps.minhashBands(sigs, "doc_id", sigCols, RowsPerBand), "doc_id"))
      (sigs, cands)
    }
    val edges = tracer.span("ops.dedup.verify") {
      val toks = sigs.select(col("doc_id"), col("toks"))
      tracer.materialize(candidates
        .join(toks.select(col("doc_id").as("id_a"), col("toks").as("ta")), Seq("id_a"))
        .join(toks.select(col("doc_id").as("id_b"), col("toks").as("tb")), Seq("id_b"))
        .filter(DedupOps.jaccard(col("ta"), col("tb")) >= threshold)
        .select(col("id_a"), col("id_b")))
    }
    val verifySpan = tracer.lastFinished
    val clusters = tracer.stage("ops.dedup.cc") {
      DedupOps.connectedComponents(kept.select(col("doc_id")), "doc_id", edges, "id_a", "id_b")
    }
    val survivors = clusters.filter(col("node") === col("cluster_id"))
      .select(col("node").as("doc_id"))
    val (emb, knn, topK) = tracer.span("ops.vector.knn") {
      val emb = tracer.materialize(corpus.join(survivors, Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("vec_id"), col("embedding")))
      val queries = emb.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val knn = VectorOps.batchTopK(emb, queries, 10)
      (emb, knn, tracer.collect(knn))
    }
    val knnSpan = tracer.lastFinished
    val index = tracer.span("ops.vector.index_build") {
      val idx = VectorOps.ivfBuild(emb, IvfCells, seed)
      idx.copy(bucketed = tracer.materialize(idx.bucketed))
    }
    // point operations; top-11 because a probe finds its own vector first
    val probes = probeIds.map { q =>
      val v = probeVectors(q)
      val ivf = tracer.span("ops.vector.ivf_probe") {
        tracer.collect(VectorOps.ivfTopK(index, v, 11, IvfProbeCells))
      }
      val brute = tracer.span("ops.vector.brute_probe") {
        tracer.collect(VectorOps.bruteForceTopK(emb, v, 11))
      }
      (q, ids(ivf, "vec_id"), ids(brute, "vec_id"))
    }
    val hits = tracer.span("ops.dedup.containment") {
      tracer.collect(DedupOps.containmentHits(corpus.select(col("doc_id"), col("text")),
        lookup, "doc_id", "eval_id", d => TextOps.tokenSet(d("text")), containment))
    }

    // the checks read back what the pass cached; their jobs are not timed
    () => {
      tracer.countOn(verifySpan, "candidates", candidates.count().toDouble)
      tracer.countOn(verifySpan, "verified", edges.count().toDouble)
      tracer.countOn(knnSpan, "distance_evals", PlanMetrics.nestedLoopRows(knn).toDouble)
      // every doc's final cluster, and the kept docs' distinct contents
      val docToKeep = docs.withColumn("content_hash", md5(col("text")))
        .join(exact.select("content_hash", "keep_id"), Seq("content_hash"))
        .select(col("doc_id"), col("keep_id"))
      val assignment = docToKeep
        .join(clusters.select(col("node").as("keep_id"), col("cluster_id")), Seq("keep_id"))
        .select(col("doc_id"), col("cluster_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val uniq = survivors.join(docs, Seq("doc_id"))
        .agg(count(lit(1)), countDistinct(md5(col("text")))).head()
      check(assignment, uniq.getLong(0), uniq.getLong(1),
        topK.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
          q -> rs.map(_.getAs[Long]("vec_id")).toSet },
        probes, ids(hits, "doc_id").toSet)
    }
  }

  /** The incremental near-dup admission of the late batch against the
    * whole corpus. At this corpus size one call costs more than a whole
    * pass, so it runs once, in the traced run only.
    */
  override def tracedOnly(): () => Boolean = {
    val admitted = tracer.span("ops.dedup.incremental") {
      tracer.collect(DedupOps.incrementalNearDup(corpus.select(col("doc_id"), col("text")),
        batch, "doc_id", TextOps.tokenSet(col("text")), NHashes, RowsPerBand, threshold))
    }
    () => {
      val found = admitted.map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
      Checks.admission(found, batchPairs, mustFind).forall(fail)
    }
  }

  private def check(assignment: Map[Long, Long], nKept: Long, nDistinct: Long,
                    topK: Map[Long, Set[Long]], probes: Seq[(Long, Seq[Long], Seq[Long])],
                    hits: Set[Long]): Boolean = {
    def neighbours(q: Long, rows: Seq[Long]) = rows.filter(_ != q).take(10).toSet
    val probeTruth = probes.map { case (q, _, _) => q -> expectedTopK(q) }.toMap
    val ivfRecall = Checks.recallAt(probeTruth,
      probes.map { case (q, ivf, _) => q -> neighbours(q, ivf) }.toMap)
    val bruteRecall = Checks.recallAt(probeTruth,
      probes.map { case (q, _, brute) => q -> neighbours(q, brute) }.toMap)
    System.err.println(f"[perfbench] probe recall@10: IVF $ivfRecall%.3f, brute force $bruteRecall%.3f")
    val q = Checks.dedupAgainstTruth(assignment, truthRep) ++
      Map("knn_recall_at_10" -> Checks.recallAt(expectedTopK, topK))
    results += q
    val bad = Seq(
      (q("dedup_recall") < floors("dedup_recall")) -> f"dedup recall ${q("dedup_recall")}%.4f",
      (q("dedup_precision") < floors("dedup_precision")) -> f"dedup precision ${q("dedup_precision")}%.4f",
      (q("knn_recall_at_10") < floors("knn_recall")) -> f"kNN recall@10 ${q("knn_recall_at_10")}%.4f",
      (bruteRecall < floors("knn_recall")) -> f"brute-force probe recall@10 $bruteRecall%.4f",
      (ivfRecall < floors("ivf_recall")) -> f"IVF probe recall@10 $ivfRecall%.4f",
      (nKept != nDistinct) -> s"$nKept kept docs but only $nDistinct distinct contents",
      (assignment.size != nDocs) -> s"${assignment.size} of $nDocs docs assigned a cluster",
      (hits != lookupHits) -> s"containment lookup found ${hits.toSeq.sorted}, expected ${lookupHits.toSeq.sorted}")
      .collect { case (true, msg) => msg }
    bad.foreach(fail)
    bad.isEmpty
  }

  def checks(): Seq[Check] = {
    val out = Check("pass outputs", failures.isEmpty, failures.distinct.mkString("; "))
    failures.clear()
    Seq(out)
  }

  def quality(): Map[String, Double] = {
    val q = if (results.isEmpty) Map.empty[String, Double]
            else results.head.keys.map(k => k -> Util.median(results.map(_(k)).toSeq)).toMap
    results.clear()
    q
  }

  def throughputName: (String, String) = ("docs_per_s", "docs/s")
}
