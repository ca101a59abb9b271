package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload: timed set-ups, the measured window(s), the checks.
  * Returns the raw figures; all metric math happens in `run.py`. */
final class Harness(spark: SparkSession, wl: Workload, tracer: Tracer) {

  private def seconds[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop: operations back to back until `budget` seconds have
    * passed (at least one operation). */
  private def window(budget: Double, traced: Boolean): Map[String, Any] = {
    val gc0 = Jvm.gcSeconds()
    val t0 = System.nanoTime()
    var ops = 0
    while (ops == 0 || (System.nanoTime() - t0) / 1e9 < budget) {
      wl.op(traced)
      ops += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = Jvm.gcSeconds() - gc0
    val d = wl.drain()
    Map("wall_s" -> wall, "ops" -> ops, "samples" -> d.samples, "labels" -> d.labels,
      "units" -> d.units,
      "busy_s" -> d.busyS, "gc_s" -> gc)
  }

  /** Three timed set-ups: `setup_s` takes their median. */
  def run(budget: Double, trace: Boolean): Map[String, Any] = {
    val setupS = (1 to 3).map(_ => seconds(wl.setup()))
    val warmUpS = seconds(wl.warmUp())
    val untraced = window(budget, traced = false)
    val tracedPart: Map[String, Any] =
      if (!trace) Map.empty
      else {
        val counters = new SparkCounters
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
        tracer.on = true
        val w = try window(budget, traced = true) finally {
          tracer.on = false
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(counters)
          spark.listenerManager.unregister(counters)
        }
        wl.tracedExtras()
        Map(
          "traced" -> w,
          "spans" -> tracer.all.map(s => Seq(s.id, s.parent, s.name, s.startNs, s.endNs, s.req)),
          "jobs" -> counters.jobRecs.map(j => Seq(j.id, j.startNs, j.endNs, j.stages, j.tasks,
            j.runMs, j.cpuNs, j.inputBytes, j.shuffleReadBytes, j.shuffleWriteBytes,
            j.spillBytes, j.peakExecMem, j.outputBytes)),
          "actions" -> counters.actionRecs.map(a => Seq(a.func, a.endNs, a.durationNs,
            a.analysisMs, a.optimizationMs, a.planningMs)))
      }
    val mismatches = wl.check()
    Map(
      "setup_s" -> setupS,
      "warm_up_s" -> warmUpS,
      "untraced" -> untraced,
      "attempted" -> wl.attempted,
      "failures" -> wl.failures,
      "refusals" -> wl.refusals,
      "mismatches" -> mismatches,
      "layer_values" -> wl.layerValues) ++ tracedPart
  }
}
