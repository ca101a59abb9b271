package graft.util

/** X1 — timing instrumentation (`/root/reference/flusher/utils.py:5-25`):
  * the reference decorates functions to log call args + wall time; the
  * idiomatic Scala form is a higher-order wrapper.
  */
object Timed {
  def apply[T](name: String, log: String => Unit = s => System.err.println(s"[timed] $s"))(f: => T): T = {
    val t0 = System.nanoTime()
    try {
      val r = f
      log(f"$name took ${(System.nanoTime() - t0) / 1e9}%.2f secs")
      r
    } catch {
      case e: Throwable =>
        log(f"$name FAILED after ${(System.nanoTime() - t0) / 1e9}%.2f secs: ${e.getMessage}")
        throw e
    }
  }

  private val DiagOn = sys.env.contains("SPARK_GRAFT_DIAG")

  /** Stage timing gated on `SPARK_GRAFT_DIAG` — the internal attribution
    * of the index append paths that `ProbeCells appendsplit` runs read:
    * when the variable is set, `stage` is timed as above and printed as
    * `[<tag>] <stage> took …` on stdout; otherwise `f` runs untimed. */
  def diag[T](tag: String, stage: String)(f: => T): T =
    if (DiagOn) apply(stage, msg => println(s"[$tag] $msg"))(f) else f
}
