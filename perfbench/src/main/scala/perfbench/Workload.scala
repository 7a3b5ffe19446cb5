package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

final case class OpSample(kind: String, seconds: Double, ok: Boolean)

/** Everything one run needs: the session, where the generated inputs
  * are, a scratch directory, and the tracer. */
final class Ctx(val spark: SparkSession, val in: File, val work: File,
    val tracer: Tracer) {
  private val samples = mutable.ArrayBuffer.empty[OpSample]
  private var measuredNs = 0L
  var secondsBudget: Double = Double.MaxValue

  def ops: Seq[OpSample] = samples.toSeq
  /** Seconds of every successful operation of `kind`. */
  def times(kind: String): Seq[Double] =
    samples.filter(s => s.kind == kind && s.ok).map(_.seconds).toSeq
  def measuredSeconds: Double = measuredNs / 1e9

  /** False once the run has measured its seconds. */
  def more: Boolean = measuredSeconds < secondsBudget

  /** One workload operation: `run` is timed (and is the root span of
    * the traced run), `check` is not. An exception or a failed check
    * counts the operation as failed. */
  def op[T](kind: String)(run: => T)(check: T => Boolean)
      : Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(tracer.span("bench", kind)(run)) catch {
      case e: Exception => Left(e)
    }
    val dt = System.nanoTime() - t0
    tracer.release()
    val ok = res match {
      case Right(v) => try check(v) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $kind check threw: $e"); false
      }
      case Left(e) =>
        System.err.println(s"[perfbench] $kind failed: $e"); false
    }
    if (!ok) System.err.println(s"[perfbench] $kind: wrong or failed output")
    samples += OpSample(kind, dt / 1e9, ok)
    measuredNs += dt
    res.toOption
  }

  /** Extra failures found after the fact (e.g. an unreadable version). */
  private var lateFailures = 0
  def fail(what: String): Unit = {
    System.err.println(s"[perfbench] check failed: $what")
    lateFailures += 1
  }
  def failures: Int = samples.count(!_.ok) + lateFailures
  def attempted: Int = samples.size + lateFailures

  /** Bytes under a directory, every file counted. */
  def du(dir: File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.map(du).sum).getOrElse(0L)
}

/** A benchmark workload. `prepare` is set-up; `episode` is the unit of
  * measured work (a fixed sequence of operations that `Ctx.op` times),
  * repeated until the run has measured its seconds (and `minEpisodes`
  * have run). The warm-up is a short episode (every op kind once) on the
  * tenth-size inputs, or on the full-size ones with `warmFull`. The
  * generic end-to-end names mean, per workload, what README.md's metric
  * table says. */
trait Workload {
  /** Op kind whose latency is `op_p50_ms` / `op_tail_ms`; with
    * `secondary`, the ops `items_per_s` counts. */
  def primary: String
  /** Op kind whose latency is `secondary_p50_ms`. */
  def secondary: String
  /** Op kind whose median is `build_s`. */
  def build: String

  /** Whether the short warm-up episode runs on the full-size inputs
    * rather than on the tenth-size copies. */
  def warmFull: Boolean = false
  /** Episodes a run measures at least, whatever its seconds. */
  def minEpisodes: Int = 1

  def prepare(c: Ctx): Unit
  def episode(c: Ctx, short: Boolean = false): Unit

  def writeAmp: Double
  def spaceAmp: Double
  def quality: Double

  /** This workload's share of the per-layer metrics (the rest are 0). */
  def perLayer(c: Ctx): Map[String, Double]
}
