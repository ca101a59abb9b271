package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** The build-once / fingerprint-skip protocol of every persisted index
  * that carries a freshness stamp — simhash pairs, media pHash pairs,
  * the PQ books/coarse/codes and the BM25 postings: a set of artifact
  * tables plus a `_meta` freshness tuple in the `graft_index` database,
  * with the crash-ordering invariant held in ONE place: meta is
  * physically invalidated FIRST and rewritten LAST, so an interrupted
  * build or append can only leave a stale-fingerprint state that the
  * next ensure repairs by rebuilding. This object is the only code that
  * reads, poisons or stamps an index `_meta`.
  *
  * Freshness is decided from the warehouse LOCATION, not the session
  * catalog, so the skip works across JVMs (the in-memory catalog dies
  * with the process while the files survive).
  *
  * Concurrency contract: SINGLE WRITER per (warehouse, table). A
  * rebuild physically deletes and rewrites the artifact directories, so
  * a concurrent reader in another JVM can observe a mid-rewrite
  * listing, and two concurrent ensures can interleave their
  * clear/write sequences. This matches the reference's operating model
  * (one scheduler owns the warehouse); serialize external writers (e.g.
  * parallel sweep processes) at the orchestration layer.
  */
object PersistedIndex {

  val Database = "graft_index"

  /** Managed location of `graft_index.<table><suffix>` as a string path
    * — the cross-JVM address of an index artifact. */
  def location(s: SparkSession, table: String, suffix: String): String =
    CoLocated.tableLocation(s, Database, table + suffix).toString

  /** One artifact of an index: its table suffix and the writer that owns
    * its physical layout, called with the artifact's full table name in
    * [[Database]] (`<table><suffix>`). A writer replaces whatever an
    * earlier build left under that name. */
  final case class Artifact(suffix: String, write: String => Unit)

  /** Plain catalog table ([[CoLocated.replaceTable]]): `_pairs` and the
    * model-sized artifacts. */
  def table(suffix: String)(df: => DataFrame): Artifact =
    Artifact(suffix, name => CoLocated.replaceTable(df, Database, name))

  /** Catalog table bucketed and sorted on `key`
    * ([[CoLocated.writeBucketed]]): readers join or prune on it
    * Exchange-free. */
  def bucketed(suffix: String, key: String, buckets: Int)(df: => DataFrame): Artifact =
    Artifact(suffix, name => CoLocated.writeBucketed(df, Database, name, key, buckets))

  /** PATH-addressed table with no catalog entry: saveAsTable's catalog
    * sync is pure overhead for an artifact every reader addresses by
    * location anyway, and the frame owns the physical layout (e.g. the
    * `_sigs` kb-range clustering whose row-group stats replace the r19
    * hive directories — the 64-dir commit constant was d11's dominant
    * cost). The clear still runs so an older layout's catalog entry and
    * files cannot shadow the new one. */
  def path(s: SparkSession, suffix: String)(df: => DataFrame): Artifact =
    Artifact(suffix, name => {
      CoLocated.clearTable(s, Database, name)
      df.write.mode(SaveMode.Overwrite).parquet(location(s, name, ""))
    })

  /** Ensure `table`'s artifacts are fresh for the freshness tuple `meta`
    * (name → value; compared column-for-column against the stored
    * `_meta` row), writing every artifact in order when stale or
    * `force`d. A fresh index requires EVERY artifact present, so an
    * index persisted by an older layout fails the probe and rebuilds
    * under the new one — the automatic migration path (appenders, by
    * contrast, refuse old layouts loudly). Returns whether it built. */
  def ensure(s: SparkSession, table: String, meta: Seq[(String, Long)],
      force: Boolean)(artifacts: Artifact*): Boolean = {
    val fresh = !force && readMeta(s, table, meta.map(_._1)).exists { stored =>
      val fs = new org.apache.hadoop.fs.Path(location(s, table, "_meta"))
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      meta.indices.forall(i => stored.getLong(i) == meta(i)._2) &&
        artifacts.forall(a =>
          fs.exists(new org.apache.hadoop.fs.Path(location(s, table, a.suffix))))
    }
    if (!fresh) {
      CoLocated.clearTable(s, Database, s"${table}_meta")
      artifacts.foreach(a => a.write(table + a.suffix))
      stamp(s, table, meta)
    }
    !fresh
  }

  /** The appenders' guard: refuse unless the stored `_meta` equals
    * `base` column-for-column. A poison sentinel, a mid-append state or
    * a different corpus all refuse here, so a retried append can never
    * re-append rows and re-stamp freshness it did not verify. An
    * unreadable `_meta` (absent, empty, older column set) refuses with
    * `unreadable` as an IllegalStateException; a mismatch refuses as an
    * IllegalArgumentException naming `caller`, both tuples and then
    * `mismatch`. Any other read fault propagates as itself. */
  def requireBase(s: SparkSession, table: String, base: Seq[(String, Long)],
      caller: String, unreadable: String, mismatch: String): Unit = {
    val stored = readMeta(s, table, base.map(_._1))
      .getOrElse(throw new IllegalStateException(unreadable))
    def show(vals: Seq[Long]) =
      base.map(_._1).zip(vals).map { case (n, v) => s"$n=$v" }.mkString(", ")
    val storedVals = base.indices.map(stored.getLong)
    require(storedVals == base.map(_._2),
      s"$caller($table): resident _meta (${show(storedVals)}) does not match " +
        s"the expected base (${show(base.map(_._2))}) $mismatch")
  }

  /** The stored `_meta` row projected on `cols`, or None for the expected
    * miss shapes only. A stale verdict is DESTRUCTIVE (the rebuild
    * clears and rewrites the artifacts), so only these may map to it: a
    * missing/empty `_meta` (AnalysisException covers both the absent
    * path and a column-set mismatch from an older protocol version;
    * head() on a zero-row `_meta` raises NoSuchElementException) or a
    * file that vanished between listing and read. A transient
    * filesystem fault or a corrupt footer must PROPAGATE: rebuilding on
    * a hiccup would be indistinguishable from a real invalidation in
    * logs and re-pays the full build for nothing. */
  private def readMeta(s: SparkSession, table: String, cols: Seq[String]): Option[Row] =
    try Some(s.read.parquet(location(s, table, "_meta"))
      .select(cols.map(org.apache.spark.sql.functions.col): _*).head())
    catch {
      case _: org.apache.spark.sql.AnalysisException => None
      case _: java.util.NoSuchElementException => None
      case _: java.io.FileNotFoundException => None
      // the vanished-between-listing-and-read race surfaces driver-side
      // as FileNotFoundException but EXECUTOR-side wrapped in a
      // SparkException — walk the cause chain so that shape also maps
      // to stale, while other wrapped faults still propagate
      case e: org.apache.spark.SparkException
          if Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
            .take(8).exists(_.isInstanceOf[java.io.FileNotFoundException]) => None
    }

  /** Physically invalidate `_meta` BEFORE an append mutates the
    * artifact tables — the same invalidate-first discipline as
    * [[ensure]]: if the append dies mid-write, the fingerprint is
    * already invalid and the next ensure rebuilds instead of
    * fingerprint-matching a half-appended table (append-then-poison
    * would leave exactly that window). The sentinel row keeps the
    * stored schema (same columns, value -1) so a later freshness probe
    * reads it and mismatches rather than erroring. */
  def poison(s: SparkSession, table: String, metaCols: Seq[String]): Unit =
    stamp(s, table, metaCols.map(_ -> -1L))

  /** Write the `_meta` freshness tuple — the LAST step of any build or
    * append. PATH-addressed overwrite (r20): every `_meta` reader
    * addresses the location directly (the cross-JVM contract), so the
    * former DROP + CTAS + catalog sync was pure overhead — two of these
    * run per append (poison + stamp) and each paid ~0.15 s of the
    * d00/m00 rows' fixed floor. A `_meta` an older build wrote by CTAS
    * reads back the same. Crash discipline is unchanged: an interrupted
    * overwrite leaves an absent/partial directory that the freshness
    * probe maps to stale. */
  def stamp(s: SparkSession, table: String, meta: Seq[(String, Long)]): Unit = {
    val schema = org.apache.spark.sql.types.StructType(meta.map { case (n, _) =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType,
        nullable = false) })
    s.createDataFrame(java.util.Arrays.asList(Row(meta.map(_._2): _*)), schema)
      .write.mode(SaveMode.Overwrite).parquet(location(s, table, "_meta"))
  }

  /** Append rows to an existing plain or PATH-addressed artifact table
    * WITHOUT touching its resident files (each append adds new files
    * only — the incremental-maintenance invariant the append specs pin
    * byte-for-byte). Path append (r20): readers address these artifacts
    * by location (and a catalog read of a CTAS'd table lists the same
    * directory, so path-added files stay visible to it); a catalog
    * append (saveAsTable) would require the table in THIS session's
    * catalog and pay a catalog sync per append for nothing. The caller
    * shapes the frame (partition count, within-file clustering). */
  def appendTable(df: DataFrame, table: String, suffix: String): Unit =
    df.write.mode(SaveMode.Append)
      .parquet(location(df.sparkSession, table, suffix))
}
