package perfbench

/** One benchmark workload, driven closed-loop by one client.
  *
  * The harness calls [[setup]] several times (each from a fresh state)
  * and times every call, then [[warmUp]] once; then it runs [[op]] back
  * to back for the measured window, and only after the window asks for
  * the latency samples ([[drain]]) and runs the output checks
  * ([[check]]), so neither is inside a timed region. */
trait Workload {
  /** Fresh state and staged inputs. */
  def setup(): Unit

  /** Untimed-by-the-window warm-up: caches, indexes, JIT, first-use
    * codegen. Its time counts in set-up. */
  def warmUp(): Unit

  /** Extra layer measurements of the traced run, made after its window. */
  def tracedExtras(): Unit = ()

  /** One closed-loop operation. `traced` selects the instrumented path. */
  def op(traced: Boolean): Unit

  /** Since the last call: latency samples (seconds) with a label each
    * (the query or job kind), work units done (what the throughput metric
    * counts) and the seconds spent doing them. */
  def drain(): Drained

  /** Output checks; one message per mismatch. */
  def check(): Seq[String]

  /** Operations attempted so far (what `fail_ratio` divides by). */
  def attempted: Long

  /** Operations that failed outright (not counting check mismatches). */
  def failures: Seq[String]

  /** Designed `GateRefusal`s: reported, never counted as failures. */
  def refusals: Long = 0L

  /** Input sizes and other facts about the staged inputs. */
  def inputs: Map[String, Any]

  /** Layer figures that do not come from spans (for example streaming
    * progress durations); the same names as the span-derived ones. */
  def layerValues: Map[String, Double] = Map.empty
}

final case class Drained(samples: Seq[Double], labels: Seq[String], units: Double,
    busyS: Double)

object Workload {
  /** True when `e` or one of its causes is the engine's designed refusal. */
  def isRefusal(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.isInstanceOf[graft.util.GateRefusal])

  /** Deterministic permutation of `xs` from `seed`. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)

  /** Recursively delete a directory tree (no-op when absent). */
  def rmTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
}
