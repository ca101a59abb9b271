package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Facts recorded with every run. */
object RunInfo {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** The benchmark JVM: one workload, one run.
  *
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --expected FILE --work DIR --out FILE`
  *
  * Set-up runs three times, each from a fresh state, and is timed each
  * time; the warm-up runs once after it; then the workload's operation
  * runs back to back for S seconds. A traced run measures an untraced window first and a
  * traced one after it, so the tracing overhead is a same-run ratio. The
  * raw figures go to FILE as one JSON object; `perfbench/run.py` turns
  * them into metrics. */
object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    def need(k: String) = arg(args, k).getOrElse(sys.error(s"missing $k"))
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val trace = need("--trace") == "1"
    val data = need("--data")
    val work = Paths.get(need("--work")).toAbsolutePath
    val out = Paths.get(need("--out"))
    val pins = Pins.load(Paths.get(need("--expected")))

    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.Sessions.build(cpus.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer
    try {
      val sf = s"$data/sf0.01"
      val wl: Workload = workload match {
        case "etl_poll" =>
          new EtlPoll(spark, seed, work, sf, tracer, largeRows = 3000, smallRows = 100)
        case "catalog" =>
          new CatalogPass(spark, seed, sf, work, tracer, Pins.catalogQueries, pins)
        case other => sys.error(s"unknown workload '$other'")
      }
      val raw = new Harness(spark, wl, tracer).run(seconds, trace)
      val doc = raw ++ Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "env" -> Map(
          "nproc" -> cpus,
          "heap_max_mb" -> Jvm.heapMaxMb,
          "spark_version" -> spark.version,
          "java_version" -> System.getProperty("java.version"),
          "session_start_s" -> sessionS,
          "inputs" -> wl.inputs))
      Files.write(out, Json.render(doc).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
