package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One measured pass. */
final case class Sample(seconds: Double, items: Long, ok: Boolean)

/** An output check over the whole window (a recall floor, say). */
final case class Check(name: String, ok: Boolean, detail: String)

/** A workload-specific figure printed on the summary line. */
final case class Named(name: String, value: Double, unit: String)

trait Workload {
  /** Loads the inputs into `spark`. Called once per set-up repetition,
    * each on a fresh session.
    */
  def setup(spark: SparkSession, tracer: Tracer): Unit

  /** One timed pass over the inputs. Returns the untimed check of the
    * pass's outputs: false when an output check failed.
    */
  def pass(): () => Boolean

  /** Work timed in the traced run only, once, after its window; returns
    * the check of its outputs.
    */
  def tracedOnly(): () => Boolean = () => true

  /** Items (complaints, docs) one pass processes. */
  def itemsPerPass: Long

  /** Checks over every pass since the last call. */
  def checks(): Seq[Check]

  /** The workload's quality measures (accuracy, recall, ...) in [0, 1]. */
  def quality(): Map[String, Double]

  /** Name and unit of the workload's throughput on the summary line. */
  def throughputName: (String, String)
}

object Workload {
  /** Untimed passes before the window. A fresh JVM runs its first pass
    * about three times slower than its third (class loading, code
    * generation, JIT), and passes keep getting a few per cent faster for
    * as long as they were watched (eight passes). A run has time for about
    * four passes, so it cannot wait for a plateau; it measures a fixed
    * position on that curve, the same passes of every run, whatever the
    * machine's speed.
    */
  val WarmupPasses = 2

  /** The window holds at least this many passes. */
  val MinPasses = 2

  def apply(name: String, inputDir: String, seed: Long): Workload = name match {
    case "cfpb_ml" => new CfpbMl(inputDir, seed)
    case "corpus_curation" => new CorpusCuration(inputDir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Runs the untimed warm-up passes; returns their durations. Their
    * outputs are not checked and the heap is not sampled: neither would
    * count.
    */
  def warmup(tracer: Tracer)(pass: => () => Boolean): Seq[Double] =
    (1 to WarmupPasses).map { i =>
      val t0 = System.nanoTime()
      try pass catch { case e: Exception => Util.warn("warm-up pass failed", e) }
      val t = (System.nanoTime() - t0) / 1e9
      tracer.release()
      System.err.println(f"[perfbench] warm-up pass $i: $t%.2f s")
      t
    }

  /** Runs whole passes back to back, at least `MinPasses` and until
    * `seconds` have passed.
    */
  def bulkLoop(seconds: Double, items: Long, tracer: Tracer)(
      pass: => () => Boolean): Seq[Sample] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Seq.newBuilder[Sample]
    var n = 0
    while (n < MinPasses || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      var t1 = 0L
      val ok = runPass(tracer)(pass)(() => t1 = System.nanoTime())
      out += Sample((t1 - t0) / 1e9, items, ok)
      System.err.println(f"[perfbench] pass ${n + 1}: ${(t1 - t0) / 1e9}%.2f s ok=$ok")
      n += 1
    }
    out.result()
  }

  /** One pass. `timed` is called as soon as the pass ends; then, untimed,
    * its outputs are checked, the driver heap is sampled and the pass's
    * cached intermediates are released.
    */
  def runPass(tracer: Tracer)(pass: => () => Boolean)(timed: () => Unit): Boolean = {
    val check = try Some(pass) catch { case e: Exception => Util.warn("pass failed", e); None }
    timed()
    val ok = check.exists { c =>
      try c() catch { case e: Exception => Util.warn("output check failed", e); false }
    }
    // queued listener events are heap too, and how many are still queued
    // is a matter of timing
    PerfbenchBus.drain(tracer.sc)
    HeapPeak.sample()
    tracer.release()
    ok
  }
}

object Util {
  def readJson(path: String): JValue =
    JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8))

  def long(v: JValue, key: String): Long = (v \ key) match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case other => sys.error(s"$key: expected an integer, got $other")
  }

  def double(v: JValue, key: String): Double = number(v \ key)

  def number(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(n) => n.toDouble
    case JLong(n) => n.toDouble
    case JDecimal(d) => d.toDouble
    case other => sys.error(s"expected a number, got $other")
  }

  def longs(v: JValue): Seq[Long] = v match {
    case JArray(xs) => xs.map {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case other => sys.error(s"expected an integer, got $other")
    }
    case other => sys.error(s"expected an array, got $other")
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def warn(msg: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $msg: $e")
    e.getStackTrace.take(8).foreach(f => System.err.println(s"    at $f"))
  }
}

/** Driver heap live at the end of a pass, while the pass's cached
  * intermediates are still held: a full collection runs first, so the
  * figure is live data, not garbage awaiting collection. The session keeps
  * a record of every query it ran, so the live heap creeps up pass by
  * pass; the peak is taken over the first `Workload.MinPasses` passes of
  * the window, a fixed number of passes whatever the machine's speed.
  */
object HeapPeak {
  private val samples = collection.mutable.ArrayBuffer.empty[Long]

  def sample(): Unit = synchronized {
    // the second collection also frees what Spark's cleaner thread let go
    // of after the first one
    System.gc()
    Thread.sleep(100)
    System.gc()
    samples += ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum
  }

  def peakMb: Double = synchronized {
    samples.take(Workload.MinPasses).maxOption.getOrElse(0L) / (1024.0 * 1024.0)
  }
}
