package perfbench

import org.apache.spark.sql.SparkSession

/** One timed step of an operation: the rows it carried and its wall time.
  * `kind` names the end-to-end stage metric the step feeds
  * (`tile_assign`, `box_join`, `histogram`) or is free-form otherwise. */
final case class Stage(kind: String, rows: Long, ns: Long)

/** What one operation hands back to the runner.
  *  - `ns`: timed wall of the whole operation;
  *  - `rows`: input rows carried to the result (feeds `rows_per_s`);
  *  - `check`: the correctness gate, run after timing; it throws on a wrong
  *    answer, which turns the operation into a failed, untimed one;
  *  - `extra`: traced-run-only counters that cost work of their own, run
  *    after the check and outside every span. */
final case class OpResult(kind: String, ns: Long, rows: Long, stages: Seq[Stage],
                          check: () => Unit,
                          extra: () => Map[String, Double] = () => Map.empty)

/** Everything a workload may use: the session, the run's seed and size
  * scale, its private work directory, the tracer and the injected fault. */
final class Ctx(val spark: SparkSession, val seed: Long, val scale: Double,
                val workDir: String, val tracer: Tracer, val inject: String) {
  def rng(stream: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + stream)
  /** `n` scaled by the size factor, at least `min`. */
  def sized(n: Long, min: Long = 64L): Long = math.max(min, math.round(n * scale))
  /** The injected wrong answer: query geometry handed to the program is
    * shifted east while the gate keeps the true geometry. */
  val shiftDeg: Double = if (inject == "shift_box") 0.5 else 0.0
}

trait Workload {
  def name: String
  /** Builds the inputs and tables and warms JIT and codegen. Called once,
    * first in a fresh JVM, so its time includes the cold start. */
  def setup(): Unit
  def op(i: Int): OpResult
  /** A run ends on a multiple of this many operations, so that a seeded
    * mix completes its last round and every kind is sampled. */
  def opsPerRound: Int = 1
  /** A digest of the generated inputs: equal seeds give equal digests. */
  def inputDigest: String
  /** Layout facts recorded in the result (partition and snapshot counts). */
  def layout: Map[String, Any] = Map.empty
  /** Single-thread timings of the `core` codecs on the workload's inputs. */
  def coreProbe(): Map[String, Double]
  /** Per-layer facts read from the workload's own state (manifest sizes). */
  def layerFacts: Map[String, Double] = Map.empty
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Median over `reps` repetitions of `f`, in nanoseconds per call of the
    * `calls` calls that one repetition makes. */
  def nsPerCall(reps: Int, calls: Int)(f: => Long): (Double, Long) = {
    var sink = 0L
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime(); sink += f; (System.nanoTime() - t0).toDouble / calls
    }
    (median(ts), sink)
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
}
