package perfbench

import graft.{CacheRegistry, Catalog, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** `catalog`: catalog queries in a warm, resident session, each one
  * `QueryDef.run` followed by a `noop` write, in a seed-permuted order.
  * One operation is one pass over the query set; its latency is the sum
  * of the query times (a per-query median would sit on whichever single
  * query ranks in the middle, and jump when that one does). */
final class CatalogPass(spark: SparkSession, seed: Long, dataDir: String, work: Path,
    tracer: Tracer, names: Seq[String], pins: Pins) extends Workload {

  private val order: Seq[QueryDef] = Workload.shuffled(names, seed).map(Catalog.byName)
  private val samples = ArrayBuffer.empty[Double]
  private var queries = 0
  private var attempts = 0L
  private val failed = ArrayBuffer.empty[String]
  private var refused = 0L
  private var touches0 = 0L
  private var ladder = Map.empty[String, Double]
  private var ladderBad = Seq.empty[String]

  def setup(): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS `${graft.plans.PersistedIndex.Database}` CASCADE")
    CacheRegistry.unpersistAll(blocking = true)
    spark.sharedState.cacheManager.clearCache()
  }

  /** Two passes: build the persisted indexes and caches a resident
    * session holds, and pay first-use codegen and JIT. */
  def warmUp(): Unit = {
    (1 to 2).foreach(_ => order.foreach { q =>
      CacheRegistry.unpersistAll(blocking = true)
      q.run(spark, dataDir).write.format("noop").mode("overwrite").save()
    })
    touches0 = CacheRegistry.touches
  }

  override def tracedExtras(): Unit = {
    val dir = CorpusLayers.stage(spark, dataDir, work.resolve("corpus"), seed)
    val (values, bySplit) = CorpusLayers.curationLadder(spark, dir, work.resolve("ladder"), tracer)
    ladder = values
    if (bySplit != pins.curate) ladderBad = Seq(s"curation docs out by split $bySplit, pinned ${pins.curate}")
  }

  def op(traced: Boolean): Unit = {
    var pass = 0.0
    order.foreach { q =>
      attempts += 1
      tracer.request = q.name
      // every query starts from a cleared registry, so its time does not
      // depend on which queries the seed's order ran before it
      CacheRegistry.unpersistAll(blocking = true)
      val t0 = System.nanoTime()
      try {
        tracer.span("catalog.query") {
          val df = tracer.span("operators.construct")(q.run(spark, dataDir))
          tracer.span("exec.write")(df.write.format("noop").mode("overwrite").save())
        }
        queries += 1
      } catch {
        case NonFatal(e) if Workload.isRefusal(e) => refused += 1
        case NonFatal(e) => failed += s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      pass += (System.nanoTime() - t0) / 1e9
    }
    samples += pass
  }

  def drain(): Drained = {
    val out = Drained(samples.toVector, samples.map(_ => "pass").toVector, queries.toDouble,
      samples.sum)
    samples.clear()
    queries = 0
    out
  }

  def attempted: Long = attempts
  def failures: Seq[String] = failed.toVector
  override def refusals: Long = refused

  /** Row count and an order-independent checksum of a query's output. */
  def observe(q: QueryDef): (Long, String) = {
    val df: DataFrame = q.run(spark, dataDir)
    val row = df.select(to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)).as("j"))
      .agg(count(lit(1)), sum(xxhash64(col("j")).cast("decimal(38,0)")))
      .collect()(0)
    (row.getLong(0), Option(row.get(1)).map(_.toString).getOrElse("0"))
  }

  def check(): Seq[String] = order.flatMap { q =>
    val got = scala.util.Try(observe(q))
    (got.toOption, pins.catalog.get(q.name)) match {
      case (None, _) => Some(s"${q.name}: check failed: ${got.failed.get.getMessage}")
      case (Some(g), None) => Some(s"${q.name}: no pinned result, got $g")
      case (Some(g), Some(want)) if g != want => Some(s"${q.name}: got $g, pinned $want")
      case _ => None
    }
  } ++ ladderBad

  def inputs: Map[String, Any] = Map(
    "queries" -> names.size,
    "data_bytes" -> RunInfo.dirBytes(java.nio.file.Paths.get(dataDir)))

  override def layerValues: Map[String, Double] =
    ladder + ("cache.touches" -> (CacheRegistry.touches - touches0).toDouble)
}
