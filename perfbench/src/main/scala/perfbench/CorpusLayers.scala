package perfbench

import graft.{CacheRegistry, Engine, QueryHelpers}
import graft.pipeline.{Curation, Splits, StreamingCuration}
import graft.sinks.StreamingUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import java.nio.file.Path
import scala.collection.mutable

/** The pipeline and streaming layers. Their own end-to-end workloads do
  * not fit a run, so traced runs measure them once, after the traced
  * window: `catalog` runs the curation recipe's stage ladder (the
  * pipeline code its d- and p-family queries share) and `etl_poll` runs
  * one replay of the engine's streaming ingestion. */
object CorpusLayers {

  /** The bundled documents, embeddings and events, rewritten in a
    * seed-permuted row order (no output may depend on it). */
  def stage(spark: SparkSession, dataDir: String, dst: Path, seed: Long): String = {
    Workload.rmTree(dst)
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id").foreach {
      case (t, id) =>
        spark.read.parquet(s"$dataDir/$t.parquet")
          .orderBy(xxhash64(col(id), lit(seed)))
          .coalesce(1).write.parquet(s"$dst/$t.parquet")
    }
    dst.toString
  }

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    QueryHelpers.tbl(spark, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))

  /** `Curation.pretrainingCorpus(docs, Some(vecs))` split into its
    * stages, each timed (construction and a `noop` write) on the previous
    * stage's output, which is materialized outside the timed call, on a
    * cleared registry: each figure is the stage's own time. Returns the
    * figures and the final docs-out count per split. */
  def curationLadder(spark: SparkSession, dir: String, work: Path, tracer: Tracer)
      : (Map[String, Double], Map[String, Long]) = {
    val values = mutable.LinkedHashMap.empty[String, Double]
    val vecs = vectors(spark, dir)
    var n = 0
    def materialize(df: DataFrame): DataFrame = {
      n += 1
      val p = work.resolve(s"ladder$n").toString
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    def stage(name: String, in: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
      CacheRegistry.unpersistAll(blocking = true)
      val t0 = System.nanoTime()
      val out = tracer.span(s"pipeline.$name") {
        val o = f(in)
        o.write.format("noop").mode("overwrite").save()
        o
      }
      values(s"pipeline.${name}_s") = (System.nanoTime() - t0) / 1e9
      val m = materialize(out)
      values(s"pipeline.$name.docs_out") = m.count().toDouble
      m
    }
    val docs = materialize(QueryHelpers.tbl(spark, dir, "documents"))
    val cleaned = stage("cut_spans", stage("scrub", docs)(Curation.scrub))(
      d => Curation.cutSpans(d, 8).drop("n_span_tokens_removed"))
    stage("curate", cleaned)(d => Curation.curate(d))
    val semantic = stage("curate_semantic", cleaned)(d => Curation.curateSemantic(d, vecs))
    val split = stage("splits", semantic)(d => Splits.assignLeakageSafe(d.drop("split"), 0.3, 100L))
    CacheRegistry.unpersistAll(blocking = true)
    val bySplit = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (values.toMap, bySplit)
  }

  /** Stage `df` as `chunks` single-file parquet writes, chunked by
    * `orderCol` (the file source replays one file per micro-batch, in
    * modification-time order); rows inside a chunk are seed-permuted. */
  private def stageChunks(df: DataFrame, orderCol: String, idCol: String, dir: Path,
      chunks: Int, seed: Long): String = {
    val chunked = df.withColumn("_chunk", ntile(chunks).over(Window.orderBy(col(orderCol))))
      .localCheckpoint()
    (1 to chunks).foreach { c =>
      chunked.filter(col("_chunk") === c).drop("_chunk")
        .orderBy(xxhash64(col(idCol), lit(seed)))
        .coalesce(1).write.mode("append").parquet(dir.toString)
      Thread.sleep(20) // distinct modification times
    }
    dir.toString
  }

  private def fileStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Data micro-batches of a finished query (the last progress event of
    * each batch that read rows). */
  private def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).groupBy(_.batchId).values
      .map(_.maxBy(_.durationMs.get("triggerExecution").longValue)).toSeq

  private def userAgg(df: DataFrame): DataFrame = df.groupBy(col("user_id"))
    .agg(count(lit(1)).as("n"), QueryHelpers.sumExact(col("value")).as("sum_value"))

  private def rows(df: DataFrame): Set[(Long, Long, String)] =
    df.select("user_id", "n", "sum_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), String.valueOf(r.get(2)))).toSet

  /** One AvailableNow replay of chunks staged from `dir`: documents
    * through the engine's `startCuration`, events through
    * `StreamingUpsert.startMaterializedAgg`. Returns the layer figures
    * and the check mismatches: delivered documents must equal what
    * `Curation.curate` keeps, and the view must equal the batch
    * aggregate. */
  def streamReplay(spark: SparkSession, engine: Engine, dir: String, work: Path, seed: Long,
      chunks: Int, tracer: Tracer): (Map[String, Double], Seq[String]) = {
    val db = "perfbench_stream"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val docs = QueryHelpers.tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    val docsDir = stageChunks(docs, "doc_id", "doc_id", work.resolve("docs_src"), chunks, seed)
    val events = QueryHelpers.eventsTbl(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val eventsDir = stageChunks(events, "ts", "event_id", work.resolve("events_src"), chunks, seed)
    val nDocs = docs.count().toDouble
    val nEvents = events.count().toDouble

    val t0 = System.nanoTime()
    val qc = tracer.span("stream.curation")(engine.startCuration(fileStream(spark, docsDir),
      "curated", work.resolve("cp_curation").toString, db))
    qc.awaitTermination()
    val t1 = System.nanoTime()
    val qm = tracer.span("stream.mat_agg")(StreamingUpsert.startMaterializedAgg(
      userAgg(fileStream(spark, eventsDir)), "mv_user", Seq("user_id"),
      work.resolve("cp_mat_agg").toString, database = db))
    qm.awaitTermination()
    val t2 = System.nanoTime()

    val batches = Seq("curation" -> dataBatches(qc), "mat_agg" -> dataBatches(qm))
    val values = mutable.LinkedHashMap.empty[String, Double]
    batches.foreach { case (name, ps) =>
      Seq("addBatch" -> "add_batch", "queryPlanning" -> "query_planning",
        "walCommit" -> "wal_commit", "latestOffset" -> "latest_offset").foreach { case (k, m) =>
        values(s"stream.$name.${m}_s") =
          ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum /
            1000.0 / math.max(1, ps.size)
      }
    }
    val triggers = batches.flatMap(_._2).map(_.durationMs.get("triggerExecution") / 1000.0)
    values("stream.batch_p50_s") = triggers.sorted.apply((triggers.size - 1) / 2)
    values("stream.curation_docs_per_s") = nDocs / ((t1 - t0) / 1e9)
    values("stream.mat_agg_rows_per_s") = nEvents / ((t2 - t1) / 1e9)
    values("stream.mat_agg.state_rows") = batches(1)._2.sortBy(_.batchId).lastOption
      .map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
    values("stream.curation.sig_rows") =
      spark.table(s"`$db`.`curated${StreamingCuration.SigSuffix}`").count().toDouble

    val bad = Seq.newBuilder[String]
    val delivered = spark.table(s"`$db`.`curated`").select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = Curation.curate(spark.read.parquet(docsDir)).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    if (delivered != kept) bad += s"streamed curation kept ${delivered.size} docs, batch keeps " +
      s"${kept.size} (${(delivered diff kept).size} extra, ${(kept diff delivered).size} missing)"
    val view = rows(spark.table(s"`$db`.`mv_user`"))
    val batchView = rows(userAgg(spark.read.parquet(eventsDir)))
    if (view != batchView) bad += s"view has ${view.size} rows, batch aggregate " +
      s"${batchView.size}; ${(view diff batchView).size} differ"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    CacheRegistry.unpersistAll(blocking = true)
    (values.toMap, bad.result())
  }
}
