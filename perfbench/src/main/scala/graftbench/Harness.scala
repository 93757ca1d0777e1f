package graftbench

import org.apache.spark.sql.SparkSession

/** A wrong answer: the op ran but its result disagrees with the
  * independent expectation.
  */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

/** One named operation of a workload. `run` throws on a wrong answer. */
final case class Op(name: String, run: () => Unit)

/** What a workload hands the run loop. */
trait Workload {
  /** Untimed passes before the timed ones (part of set-up). The first
    * passes of a fresh JVM run slower and each pass gets faster for
    * several more (JIT, first-touch of memory); these passes take the
    * steepest part of that descent out of the measured window.
    */
  def warmPasses: Int
  /** Generates this run's inputs (part of set-up). */
  def prepare(): Unit
  /** Computes or loads the expected answers (excluded from set-up). */
  def expect(): Unit
  def ops: Seq[Op]
  /** Input sizes for the run context. */
  def inputs: Map[String, Any]
  /** Chunk count of the grid an op scans, for the prune fraction. */
  def gridChunks(op: String): Long = 0L
  /** Per-layer figures only the workload can measure (traced runs). */
  def layerExtras(): Map[String, Double] = Map.empty
  /** Called after each pass, outside its timing. */
  def afterPass(): Unit = ()
  /** Checks deferred to the end of the run; returns the wrong answers. */
  def finish(): Seq[String] = Nil
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
    val runDir: String, val dataDir: String, val cacheDir: String,
    val tiny: Boolean, val injectWrong: Set[String]) {

  def build[T](name: String)(b: => T): T = rec.span("build", name)(b)
  def action[T](name: String)(b: => T): T = rec.span("action", name)(b)
  def grid[T](name: String)(b: => T): T = rec.span("grid", name)(b)
  def sources[T](name: String)(b: => T): T = rec.span("sources", name)(b)

  private def injected: Boolean = injectWrong.contains(rec.op)

  /** Exact comparison. A self-test can inject a wrong expectation. */
  def expectEq(what: String, got: Any, exp: Any): Unit = {
    val e = if (injected) s"$exp (injected wrong)" else exp
    if (got != e)
      throw new WrongAnswer(s"${rec.op}: $what = $got, expected $e")
  }

  /** Comparison within a relative tolerance (sums and means). */
  def expectNear(what: String, got: Double, exp: Double,
      relTol: Double = 1e-9): Unit = {
    val e = if (injected) exp * 1.01 + 1.0 else exp
    val ok = math.abs(got - e) <= relTol * math.max(1.0, math.abs(e))
    if (!ok) throw new WrongAnswer(
      s"${rec.op}: $what = $got, expected $e (rel tol $relTol)")
  }
}
