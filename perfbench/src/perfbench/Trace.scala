package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call into a layer. `parent` is 0 for a root span (a pass or
  * a point operation); spans of one benchmark run share `runId`.
  */
final case class Span(id: Long, name: String, parent: Long, runId: String,
                      startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {

  /** Self time of every span, in seconds: its duration minus the part of
    * that interval its child spans cover. Children may overlap each other
    * (concurrent work under one parent) or stick out of the parent, so
    * the covered part is the union of the child intervals clipped to the
    * parent.
    */
  def selfSeconds(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curStart = 0L
      var curEnd = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) covered += curEnd - curStart
          curStart = a
          curEnd = b
        } else curEnd = math.max(curEnd, b)
      }
      if (curEnd > curStart) covered += curEnd - curStart
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Spark task counters summed over the jobs one span started. */
final class TaskCounters {
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: TaskCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; busyMs += o.busyMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/** Attributes every job to the span whose job group started it, and
  * every task to its job's span. Runs on the listener-bus thread.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  val bySpan = new ConcurrentHashMap[Long, TaskCounters]()

  private def of(span: Long) = bySpan.computeIfAbsent(span, _ => new TaskCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .foreach { g =>
        val span = g.stripPrefix(Tracer.GroupPrefix).toLong
        of(span).jobs += 1
        e.stageIds.foreach(st => stageSpan.put(st, span))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val c = of(span)
      c.tasks += 1
      c.busyMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Span recorder for the traced run. With tracing off every method is a
  * pass-through, so the untraced runs pay nothing for it. Used from the
  * benchmark's main thread.
  *
  * Spans stay in memory until [[takeSpans]]; the caller writes them out
  * when the run ends. Each span sets its id as the Spark job group, so the
  * [[SpanListener]] can charge task metrics to it.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  var enabled = false
  val sc = spark.sparkContext
  private var lastId = 0L
  private var open = List.empty[Long]
  private val done = collection.mutable.ArrayBuffer.empty[Span]
  private val counts = collection.mutable.Map.empty[Long, collection.mutable.Map[String, Double]]
  private var staged = List.empty[DataFrame]
  val listener = new SpanListener
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = open.headOption.getOrElse(0L)
      open = id :: open
      sc.setJobGroup(Tracer.GroupPrefix + id, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p, "")
          case None => sc.clearJobGroup()
        }
        done += Span(id, name, parent, runId, t0, t1, counts.remove(id).map(_.toMap).getOrElse(Map.empty))
      }
    }

  /** Adds `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) open.headOption.foreach { id =>
      val c = counts.getOrElseUpdate(id, collection.mutable.Map.empty)
      c(key) = c.getOrElse(key, 0.0) + v
    }

  /** Id of the span that finished last; 0 when untraced. */
  def lastFinished: Long = if (enabled && done.nonEmpty) done.last.id else 0L

  /** Adds `v` to counter `key` of the finished span `id`: for counters
    * taken after a span closed, so that their jobs are not its work.
    */
  def countOn(id: Long, key: String, v: => Double): Unit = {
    val i = done.lastIndexWhere(_.id == id)
    if (i >= 0) {
      val s = done(i)
      done(i) = s.copy(counts = s.counts.updated(key, s.counts.getOrElse(key, 0.0) + v))
    }
  }

  /** A layer's DataFrame output, cached because later layers read it
    * more than once; [[release]] frees it. Traced, it is also
    * materialized at the boundary, inside the layer's span.
    */
  def stage(name: String)(df: => DataFrame): DataFrame =
    if (!enabled) materialize(df) else span(name)(materialize(df))

  /** The caching half of [[stage]], for a layer with several outputs
    * under one span.
    */
  def materialize(d: DataFrame): DataFrame = {
    staged = d :: staged
    if (enabled) boundary(d)(d.cache().count()) else d.cache()
    d
  }

  /** Collects a layer's (small) result. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] =
    if (enabled) boundary(df)(df.collect()) else df.collect()

  /** Runs `exec` on `d`, timing planning (to the executed plan) and
    * execution apart.
    */
  private def boundary[T](d: DataFrame)(exec: => T): T = {
    val t0 = System.nanoTime()
    d.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val out = exec
    count("plan_s", (t1 - t0) / 1e9)
    count("exec_s", (System.nanoTime() - t1) / 1e9)
    count("boundaries", 1)
    out
  }

  /** RDDs persisted when set-up ended: the workload's inputs. */
  private var inputs = Set.empty[Int]

  /** Marks everything persisted so far as the workload's inputs. */
  def keepInputs(): Unit = inputs = sc.getPersistentRDDs.keySet.toSet

  /** Frees what [[stage]] cached, and every other RDD the pass persisted
    * (the local checkpoints inside the layers), so that each pass starts
    * from the same state. Left to Spark's cleaner, the checkpoints of
    * earlier passes would be freed whenever a collection happens to run.
    */
  def release(): Unit = {
    staged.foreach(_.unpersist(blocking = true))
    staged = Nil
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!inputs(id)) rdd.unpersist(blocking = true)
    }
  }

  /** All finished spans so far, oldest first; the recorder is emptied. */
  def takeSpans(): Seq[Span] = {
    val out = done.toSeq.sortBy(_.startNs)
    done.clear()
    out
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}

/** Row counts read from the SQL metrics of an executed plan. */
object PlanMetrics extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** Rows out of the nested-loop joins of `df`'s last execution: the
    * (query, corpus) pairs a join-based kNN scored.
    */
  def nestedLoopRows(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
}
