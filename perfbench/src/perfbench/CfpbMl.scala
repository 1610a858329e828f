package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.ml.{ClassifierPipelines, TopicPipeline}
import graft.ops.{BalanceOps, CleanOps, FrequencyEncoder}
import graft.sources.Ingest

/** The paper's pipeline over CFPB-shaped complaints: ingest, clean,
  * frequency-encode, balance, fit and score an 8-class random forest and
  * a binary logistic regression, and fit an LDA topic model.
  *
  * Set-up infers the JSON schema once (the reference's schema-inferred
  * read); each pass then reads with that schema.
  */
final class CfpbMl(dir: String, seed: Long) extends Workload {
  private val path = s"$dir/complaints.json"
  private val truth = Util.readJson(s"$dir/truth.json")
  private val rows = Util.long(truth, "rows")
  private val corruptLines = Util.long(truth, "corrupt_lines")
  private val floor = Util.double(truth, "accuracy_floor")
  private val nClasses = 8
  val itemsPerPass: Long = rows

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var schema: StructType = _
  private val accuracies = collection.mutable.ArrayBuffer.empty[Double]
  private val failures = collection.mutable.ArrayBuffer.empty[String]

  def setup(s: SparkSession, t: Tracer): Unit = {
    spark = s
    tracer = t
    val inferred = Ingest.readJsonInferred(s, path).schema
    schema = StructType(inferred.filterNot(_.name == "_corrupt_record"))
  }

  private def fail(msg: String): Boolean = { failures += msg; false }

  def pass(): () => Boolean = {
    val raw = tracer.stage("sources.ingest") {
      Ingest.dropCorrupt(Tables.parallelize(Ingest.readJson(spark, path, schema)))
    }
    val ingestSpan = tracer.lastFinished
    val cleaned = tracer.stage("ops.clean") {
      CleanOps.withDateParts(
        CleanOps.filterNotBlank(raw, "timely", "company_response")
          .withColumn("sub_issue", CleanOps.blankFill(col("sub_issue")))
          .withColumn("sub_product", CleanOps.blankFill(col("sub_product")))
          .withColumn("received_ts", CleanOps.toTimestamp(col("date_received"))),
        "received_ts", "received_")
    }
    val encoded = tracer.stage("ops.encode") {
      FrequencyEncoder.encodeAll(cleaned,
        Seq("company" -> "company_freq", "issue" -> "issue_freq"))
    }
    val (train, test) = BalanceOps.trainTestSplit(encoded, 0.7, seed)
    val (balanced, timelyTrain) = tracer.span("ops.balance") {
      val n = train.count()
      (tracer.materialize(
        BalanceOps.resampleToTarget(train, "company_response", n / nClasses, seed)),
        tracer.materialize(BalanceOps.oversampleBinary(train, "timely", "No", seed)))
    }
    val numeric = Seq("company_freq", "issue_freq", "received_year", "received_month")
    val rf = tracer.span("ml.rf_fit") {
      ClassifierPipelines.pipeline(Seq("product", "state"), numeric, "company_response",
        ClassifierPipelines.randomForest(numTrees = 8, maxDepth = 5, seed = seed)
          .setFeatureSubsetStrategy("all")
          // 256 bins let the trees split the 8 products as an unordered
          // set (the planted rule) and the 50 states at all
          .setMaxBins(256))
        .fit(balanced)
    }
    val lr = tracer.span("ml.lr_fit") {
      ClassifierPipelines.pipeline(Seq("product", "submitted_via"), numeric, "timely",
        ClassifierPipelines.logistic(maxIter = 3)).fit(timelyTrain)
    }
    val lda = tracer.span("ml.lda_fit") {
      TopicPipeline.fit(cleaned, "complaint_what_happened", k = 5, seed = seed,
        vocabSize = 500, maxIter = 2)
    }
    val (cells, binary) = tracer.span("ml.predict") {
      (tracer.collect(ClassifierPipelines.confusionMatrix(rf.transform(test))),
        ClassifierPipelines.binaryCells(lr.transform(test)))
    }
    // the checks read back what the pass cached; their jobs are not timed
    () => {
      val r = Ingest.readJson(spark, path, schema).cache()
      val total = r.count()
      r.unpersist()
      val kept = raw.count()
      tracer.countOn(ingestSpan, "corrupt_rows", (total - kept).toDouble)
      val ingestOk = (total - kept == corruptLines && kept == rows) ||
        fail(s"ingest kept $kept rows and dropped ${total - kept}; expected $rows and $corruptLines")
      val nTest = test.count()
      val confusionOk = checkConfusion(cells, nTest)
      val binaryOk = binary.values.sum == nTest ||
        fail(s"timely cells sum to ${binary.values.sum}, test rows are $nTest")
      val topicsOk = lda.lda.vocabSize > 0 || fail("LDA fitted an empty vocabulary")
      ingestOk && confusionOk && binaryOk && topicsOk
    }
  }

  /** The confusion matrix arrives as the pivot of
    * `ClassifierPipelines.confusionMatrix`: one row per label, one column
    * per predicted class.
    */
  private def checkConfusion(pivot: Array[org.apache.spark.sql.Row], nTest: Long): Boolean = {
    val cells = pivot.toSeq.flatMap { r =>
      val label = r.getAs[Double]("label").toInt
      r.schema.fieldNames.filter(_ != "label")
        .map(p => (label, p.toDouble.toInt, r.getAs[Long](p)))
    }
    val (acc, problem) = Checks.confusion(cells, nClasses, nTest, floor)
    accuracies += acc
    problem.forall(fail)
  }

  def checks(): Seq[Check] = {
    val out = Check("pass outputs", failures.isEmpty, failures.distinct.mkString("; "))
    failures.clear()
    Seq(out)
  }

  def quality(): Map[String, Double] = {
    val q = if (accuracies.isEmpty) Map.empty[String, Double]
            else Map("model_accuracy" -> Util.median(accuracies.toSeq))
    accuracies.clear()
    q
  }

  def throughputName: (String, String) = ("complaints_per_s", "rows/s")
}
