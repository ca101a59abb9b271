package perfbench

import graft.{Engine, EngineConfig}
import graft.control._
import graft.sinks.{CsvSink, LoadRequest, Sink, SinkRegistry, WarehouseSink}
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Pass-through wrappers of the traits [[JobRunner]] accepts: each call is
  * one span, nothing else changes. */
final class TracedControlTable(inner: ControlTable, t: Tracer) extends ControlTable {
  def readAll(): Seq[JobSpec] = t.span("control.scan")(inner.readAll())

  def updateCells(row: Long, values: Map[Int, String]): Unit = {
    // U1 (State := Running) is the first thing a job does: open the job's
    // span here; the run-log append that ends every job closes it
    val starts = values.get(StateMachine.ColState).contains(StateMachine.Running)
    if (starts) { t.request = s"row$row"; t.begin("etl.job") }
    t.span("control.update")(inner.updateCells(row, values))
  }
}

final class TracedRunLog(inner: RunLog, t: Tracer) extends RunLog {
  def append(entry: RunLogEntry): Unit =
    try t.span("runlog.append")(inner.append(entry))
    finally t.end()
}

final class TracedSink(inner: Sink, kind: String, t: Tracer) extends Sink {
  def load(req: LoadRequest): String = {
    val name = kind match {
      case "warehouse" => if (req.incremental) "sinks.append" else "sinks.overwrite"
      case other => s"sinks.$other"
    }
    t.span(name)(inner.load(req))
  }
}

/** `etl_poll`: the reference's own daemon. A seeded tree of sheet CSVs
  * and a control table; every cycle re-arms Refresh Now and calls
  * `pollOnce()` with the default [[EngineConfig]].
  *
  * The job mix is fixed and only its content, names and order come from
  * the seed: 2 of the 8 healthy jobs read large sheets (so the job p50
  * lands on a small sheet and the p90 on a large one); ranges mix full
  * sheets, bounded and open-ended A1 ranges; targets mix warehouse
  * Overwrite, warehouse Append and CSV export-only. Two more rows are
  * broken by design: an invalid Refresh Interval and a missing sheet. */
final class EtlPoll(spark: SparkSession, seed: Long, work: Path, dataDir: String,
    tracer: Tracer, largeRows: Int, smallRows: Int) extends Workload {
  import EtlPoll.Job

  private val tag = java.lang.Long.toHexString(seed & 0xffffffL)

  // (large?, range shape, target, incremental)
  private val shapes: Seq[(Boolean, String, String, Boolean)] = Seq(
    (true, "", "warehouse", false),
    (true, "A1:G#half", "", false),
    (false, "", "warehouse", false),
    (false, "A1:E#half", "bigquery", false),
    (false, "B1:F", "warehouse", true),
    (false, "", "Warehouse", true),
    (false, "A1:D#most", "", false),
    (false, "A1:C", "", false))

  private val jobs: Seq[Job] = Workload.shuffled(shapes, seed).zipWithIndex.map {
    case ((large, shape, target, inc), i) =>
      val rows = (if (large) largeRows else smallRows) + 1 // + header row
      val range = shape.replace("#half", (rows / 2).toString)
        .replace("#most", (rows * 4 / 5).toString)
      Job(s"doc_${tag}_$i", if (i % 3 == 0) "" else s"Sheet$i", range, target,
        s"t_${tag}_$i", inc, rows, 8)
  }
  private val badInterval = "5 weeks"
  private val missingSheet = "NoSuchSheet"

  private def root = work.resolve("etl")
  private def controlPath = root.resolve("control.csv")
  private def runLogPath = root.resolve("runlog.csv")
  private def csvOut = root.resolve("csv_out")

  private var engine: Engine = _
  private var traced: JobRunner = _
  private var cycles = 0
  private var seenLog = 0
  private var attemptedJobs = 0L
  private var busy = 0.0
  private var streamValues = Map.empty[String, Double]
  private var streamBad = Seq.empty[String]

  private def writeSheet(rnd: scala.util.Random, dir: Path, name: String, rows: Int,
      cols: Int): Unit = {
    Files.createDirectories(dir)
    val header = Seq("id", "amount", "day", "flag", "name", "qty", "ratio", "note")
      .take(cols).mkString(",")
    val sb = new java.lang.StringBuilder(rows * 48)
    sb.append(header).append('\n')
    (1 until rows).foreach { r =>
      val cells = Seq(
        r.toString,
        f"${rnd.nextInt(100000) / 100.0}%.2f",
        f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d",
        if (rnd.nextBoolean()) "true" else "false",
        s"name_${rnd.alphanumeric.take(6).mkString}",
        if (rnd.nextInt(10) == 0) "" else rnd.nextInt(1000).toString,
        f"${rnd.nextDouble()}%.4f",
        s"note ${rnd.nextInt(50)}")
      sb.append(cells.take(cols).mkString(",")).append('\n')
    }
    Files.write(dir.resolve(s"$name.csv"), sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def controlRows: Seq[Seq[String]] = {
    val healthy = jobs.map(j => Seq(j.doc, j.sheet, j.range, j.target, j.dest,
      if (j.incremental) "yes" else "", "yes", "", "", "", ""))
    val broken = Seq(
      Seq(jobs.head.doc, "", "", "warehouse", s"bad_interval_$tag", "", "", badInterval,
        "", "", ""),
      Seq(jobs(1).doc, missingSheet, "", "warehouse", s"missing_$tag", "", "yes", "", "",
        "", ""))
    Workload.shuffled(healthy ++ broken, seed ^ 0x5eed)
  }

  def setup(): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS `${WarehouseSink.DefaultDatabase}` CASCADE")
    Workload.rmTree(root)
    Files.createDirectories(csvOut)
    val rnd = new scala.util.Random(seed) // every set-up writes the same sheets
    jobs.foreach { j =>
      val dir = root.resolve("docs").resolve(j.doc)
      // a decoy first sheet would change what an empty Sheet cell reads,
      // so only named-sheet jobs get a sibling sheet
      writeSheet(rnd, dir, if (j.sheet.isEmpty) "Sheet0" else j.sheet, j.rows, j.cols)
      if (j.sheet.nonEmpty) writeSheet(rnd, dir, "ZExtra", 3, 2)
    }
    CsvControlTable.init(controlPath, controlRows)
    engine = Engine.start(spark, EngineConfig(root.resolve("docs"), controlPath, runLogPath,
      csvOut.toString))
    val registry = new SinkRegistry(Map(
      "bigquery" -> new TracedSink(new WarehouseSink(), "warehouse", tracer),
      "warehouse" -> new TracedSink(new WarehouseSink(), "warehouse", tracer),
      "csv" -> new TracedSink(new CsvSink(csvOut.toString), "csv", tracer)))
    traced = new JobRunner(spark, new TracedControlTable(new CsvControlTable(controlPath), tracer),
      registry, root.resolve("docs"), new TracedRunLog(new CsvRunLog(runLogPath), tracer),
      log = _ => ())
    cycles = 0
    attemptedJobs = 0
  }

  /** Full cycles; the first runs every row as armed at set-up. */
  def warmUp(): Unit = {
    engine.pollOnce()
    (2 to EtlPoll.WarmUpCycles).foreach { _ => rearm(); engine.pollOnce() }
    cycles = EtlPoll.WarmUpCycles
    seenLog = new CsvRunLog(runLogPath).entries().size
  }

  override def tracedExtras(): Unit = {
    val dir = CorpusLayers.stage(spark, dataDir, root.resolve("corpus"), seed)
    val (values, bad) = CorpusLayers.streamReplay(spark, engine, dir, root.resolve("stream"),
      seed, chunks = 2, tracer)
    streamValues = values
    streamBad = bad
  }

  override def layerValues: Map[String, Double] = streamValues

  /** Re-arm: Refresh Now on every runnable row, the broken interval back
    * on its row (the engine clears it when it rejects it). */
  private def rearm(): Unit = {
    val ct = new CsvControlTable(controlPath)
    ct.readAll().foreach { j =>
      if (j.refreshInterval.isEmpty && j.destination.startsWith("bad_interval"))
        ct.updateCells(j.row, Map(StateMachine.ColInterval -> badInterval))
      else if (!j.destination.startsWith("bad_interval"))
        ct.updateCells(j.row, Map(StateMachine.ColRefreshNow -> "yes"))
    }
  }

  def op(tracedRun: Boolean): Unit = {
    rearm()
    val t0 = System.nanoTime()
    val ran = if (tracedRun) tracer.span("etl.poll")(traced.pollOnce()) else engine.pollOnce()
    busy += (System.nanoTime() - t0) / 1e9
    attemptedJobs += ran
    cycles += 1
  }

  def drain(): Drained = {
    val entries = new CsvRunLog(runLogPath).entries()
    val fresh = entries.drop(seenLog)
    seenLog = entries.size
    val ok = fresh.filter(e => e.status == StateMachine.Success)
    val kind = jobs.map(j => j.doc -> s"${if (j.rows > smallRows + 1) "large" else "small"}_${
      if (j.target.isEmpty) "csv" else if (j.incremental) "append" else "overwrite"}").toMap
    val out = Drained(ok.map(e => java.time.Duration.between(e.start, e.end).toNanos / 1e9),
      ok.map(e => kind.getOrElse(e.document, "?")), ok.size.toDouble, busy)
    busy = 0.0
    out
  }

  def attempted: Long = attemptedJobs
  def failures: Seq[String] = Nil

  def check(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val rows = new CsvControlTable(controlPath).readAll()
    val entries = new CsvRunLog(runLogPath).entries()
    // every cycle runs the healthy jobs plus the missing-sheet row; the
    // bad-interval row is rejected before it runs and logs nothing
    val perCycle = jobs.size + 1
    if (entries.size != cycles * perCycle)
      bad += s"run log has ${entries.size} lines, expected ${cycles * perCycle}"
    jobs.foreach { j =>
      rows.find(r => r.document == j.doc && r.destination == j.dest) match {
        case None => bad += s"${j.dest}: control row missing"
        case Some(r) =>
          if (r.state != StateMachine.Success) bad += s"${j.dest}: state '${r.state}' (${r.lastResult})"
          val got =
            if (j.target.isEmpty) {
              val prefix = Seq(j.doc, j.sheet, j.range).filter(_.nonEmpty).mkString(".") + "."
              val listing = Files.list(csvOut)
              val outs = try listing.iterator().asScala.map(_.getFileName.toString)
                .filter(_.startsWith(prefix)).toSeq.sorted
              finally listing.close()
              if (!r.lastResult.endsWith(outs.lastOption.getOrElse("?")))
                bad += s"${j.dest}: Last Result '${r.lastResult}' is not the newest export"
              outs.lastOption.map(o => spark.read.csv(csvOut.resolve(o).toString).count())
                .getOrElse(-1L)
            } else {
              if (r.lastResult != s"${WarehouseSink.DefaultDatabase}.${j.dest}")
                bad += s"${j.dest}: Last Result '${r.lastResult}'"
              spark.table(s"`${WarehouseSink.DefaultDatabase}`.`${j.dest}`").count()
            }
          val want = j.expectedRows.toLong * (if (j.incremental && j.target.nonEmpty) cycles else 1)
          if (got != want) bad += s"${j.dest}: $got rows, expected $want"
      }
    }
    rows.find(_.destination == s"bad_interval_$tag").foreach { r =>
      if (r.state != StateMachine.Failure || r.refreshInterval.nonEmpty || r.lastResult.isEmpty)
        bad += s"bad-interval row ended '${r.state}' / '${r.refreshInterval}' / '${r.lastResult}'"
    }
    rows.find(_.destination == s"missing_$tag").foreach { r =>
      if (r.state != StateMachine.Failure || !r.lastResult.contains(missingSheet))
        bad += s"missing-sheet row ended '${r.state}' / '${r.lastResult}'"
    }
    val missingLogged = entries.count(e => e.sheet == missingSheet && e.status == StateMachine.Failure)
    if (missingLogged != cycles) bad += s"missing-sheet failures logged $missingLogged, expected $cycles"
    bad ++= streamBad
    bad.result()
  }

  def inputs: Map[String, Any] = Map(
    "jobs_per_cycle" -> (jobs.size + 2),
    "healthy_jobs" -> jobs.size,
    "large_jobs" -> jobs.count(_.rows > smallRows + 1),
    "large_rows" -> largeRows,
    "small_rows" -> smallRows,
    "sheet_bytes" -> RunInfo.dirBytes(root.resolve("docs")))
}

object EtlPoll {
  private final case class Job(doc: String, sheet: String, range: String,
      target: String, dest: String, incremental: Boolean, rows: Int, cols: Int) {
    /** Data rows the job loads: the range's rows minus its header row. */
    def expectedRows: Int =
      if (range.isEmpty) rows - 1
      else {
        val r = graft.util.A1Notation.parseRange(range)
        math.min(r.endRow.getOrElse(rows), rows) - r.startRow
      }
  }

  /** Warm-up cycles. A third cycle, or a longer window, did not narrow
    * the run-to-run spread, which moves whole runs at once. */
  val WarmUpCycles = 2
}
