package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One completed operation: wall-clock window (epoch ms, for matching
  * Spark listener events), latency in ns (from the due time for open-loop
  * ops), and whether its output check passed. */
final case class OpSample(op: String, startMs: Long, endMs: Long,
                          latencyNs: Long, ok: Boolean, compiles: Long)

/** A traced interval: an op (parent = -1) or a public call made inside
  * one. `opId` ties every span of one op together. */
final case class Span(id: Long, parent: Long, opId: Long, name: String,
                      startNs: Long, endNs: Long)

/** Per-run recorder shared by the workload threads. Latency samples are
  * always kept; spans only while tracing is on. Every op runs with the
  * Spark local property [[Recorder.OpKey]] set to its op name so the
  * listeners in [[SparkProbe]] can attribute jobs to it. */
final class Recorder(spark: SparkSession) {
  val samples = new ConcurrentLinkedQueue[OpSample]()
  val spans = new ConcurrentLinkedQueue[Span]()
  val failures = new ConcurrentLinkedQueue[String]()
  @volatile var timing = false   // samples count only in the measured phase
  @volatile var tracing = false
  /** Every op issued (warm-up included) and every one that failed. */
  val attempted = new java.util.concurrent.atomic.AtomicLong()
  val failed = new java.util.concurrent.atomic.AtomicLong()

  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  /** Time one operation. `check` validates the result outside the timed
    * region; an exception or a failed check counts the op as failed. */
  def op[T](name: String, dueNs: Long = -1L)(body: => T)
           (check: T => Option[String]): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Recorder.OpKey)
    sc.setLocalProperty(Recorder.OpKey, name)
    val id = ids.incrementAndGet()
    val c0 = if (tracing) SparkProbe.compiles else 0L
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (tracing) stack.set(List(Span(id, -1L, id, name, t0, 0L)))
    val res =
      try Right(body)
      catch { case e: Throwable => Left(e) }
      finally sc.setLocalProperty(Recorder.OpKey, prev)
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    if (tracing) {
      spans.add(Span(id, -1L, id, name, t0, t1))
      stack.set(Nil)
    }
    val err = res match {
      case Left(e) => Some(s"$name threw ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").take(300))
      case Right(v) =>
        try check(v).map(m => s"$name: $m")
        catch { case e: Throwable => Some(s"$name check threw $e") }
    }
    attempted.incrementAndGet()
    err.foreach { e => failed.incrementAndGet(); failures.add(e) }
    if (timing)
      samples.add(OpSample(name, startMs, endMs,
        t1 - (if (dueNs >= 0) dueNs else t0), err.isEmpty,
        if (tracing) SparkProbe.compiles - c0 else -1L))
  }

  /** Record a span around one public call inside the current op. */
  def call[T](name: String)(body: => T): T =
    if (!tracing || stack.get.isEmpty) body
    else {
      val parent = stack.get.head
      val s = Span(ids.incrementAndGet(), parent.id, parent.opId, name,
        System.nanoTime(), 0L)
      stack.set(s :: stack.get)
      try body
      finally {
        spans.add(s.copy(endNs = System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def measured: Seq[OpSample] = samples.asScala.toSeq
}

object Recorder {
  val OpKey = "graftbench.op"
}

/** Seeded Zipf sampler over ranks 0..n-1 (rank order = address order, which
  * is itself an arbitrary permutation of the address space). */
final class Zipf(n: Int, s: Double, rng: java.util.Random) {
  private val perm = {
    val p = Array.range(0, n)
    (n - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  /** A Zipf rank: 0 is the most frequent. */
  def rank(r: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
  /** The item at a Zipf-drawn rank. */
  def sample(r: java.util.Random): Int = perm(rank(r))
}

object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty || q.isNaN) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Minimal JSON writer: the harness emits numbers, strings, nested maps
  * and sequences only. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Insertion-ordered map builder for readable output. */
  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kv: _*)
}
