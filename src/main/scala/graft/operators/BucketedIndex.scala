package graft.operators

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{Lake, Pins}

/** The on-disk layout and lifecycle shared by every persisted index
  * family ([[BandIndex]] / [[FpIndex]] / [[PostingsIndex]] /
  * [[ClusterIndex]] / [[BloomIndex]]): a parquet table bucketed into
  * [[IndexCommit.numBuckets]] buckets, plus underscore-prefixed
  * sidecar trees the table scan ignores. A family supplies its row
  * derivation, fingerprint and probe algebra; write, append, register,
  * init, ensure, compact and recover exist once, here.
  *
  * `ddl` is the column list, `bucketCols`/`sortCols` the writer's
  * `bucketBy`/`sortBy` (sort columns lead with the bucket columns), and
  * `sidecars` the sidecar trees a compaction carries byte-identical
  * into the rewritten tree. [[register]] builds its
  * `CLUSTERED BY … SORTED BY` from the same fields the writer uses, so
  * a re-registered table can never disagree with the bucketed-append
  * writer's spec (an append validates against the catalog).
  */
private[operators] final case class BucketedIndex(ddl: String,
    bucketCols: Seq[String], sortCols: Seq[String], sidecars: Seq[String]) {

  /** The bucketed writer. The pre-write `repartition` on the bucket
    * columns uses the same hash the writer assigns files by, so each
    * task lands ~one bucket file instead of up to numBuckets files.
    */
  private def writer(rows: DataFrame): DataFrameWriter[Row] = {
    val n = IndexCommit.numBuckets
    rows.repartition(n, bucketCols.map(col): _*)
      .write.format("parquet")
      .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
  }

  /** Write `rows` as a fresh table `name` at `path`, replacing any
    * table or tree already there.
    */
  def write(spark: SparkSession, rows: DataFrame, name: String,
      path: Path): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    IndexCommit.deleteTree(path)
    writer(rows).option("path", path.toString).saveAsTable(name)
  }

  /** Append `rows` to the registered table `name`. The bucketed-append
    * writer validates the catalog's bucket spec and writes
    * bucket-id-named files, so probes still read the table bucketed.
    */
  def append(spark: SparkSession, name: String, rows: DataFrame): Unit =
    writer(rows).mode("append").saveAsTable(name)

  /** Register an existing on-disk index into this session's catalog —
    * the post-JVM-restart path (the default in-memory catalog does not
    * persist table metadata).
    */
  def register(spark: SparkSession, name: String, path: Path): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(
      s"""CREATE TABLE `$name` ($ddl)
         |USING PARQUET
         |CLUSTERED BY (${bucketCols.mkString(", ")})
         |SORTED BY (${sortCols.mkString(", ")})
         |INTO ${IndexCommit.numBuckets} BUCKETS
         |LOCATION '${path.toString}'""".stripMargin)
  }

  /** Create an EMPTY index (schema + bucket spec, no rows) — the
    * cold-start entry for a sink-managed index.
    */
  def init(spark: SparkSession, name: String, path: Path): Unit =
    write(spark, spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType.fromDDL(ddl)), name, path)

  /** Ensure the fingerprinted index `name` at `path` is valid on disk
    * and in this session's catalog. Warm cost: an O(#files) marker
    * check plus a catalog lookup. Cold or stale: `build(tmpName,
    * tmpPath)` writes the table and its sidecars into a temp sibling
    * that [[IndexCommit.commitBuild]] publishes atomically, so a
    * concurrent process never observes a half-built index. Callers
    * hold their family's lock.
    */
  def ensure(spark: SparkSession, name: String, path: Path, fp: String)(
      build: (String, Path) => Unit): Unit =
    if (!IndexCommit.fpValidOrRestored(path, fp)) {
      IndexCommit.commitBuild(spark, name, path, Some(fp))(build)
      register(spark, name, path)
    } else if (!spark.catalog.tableExists(name)) register(spark, name, path)

  /** Fold away duplicate rows (legitimately accrued by crash-replayed
    * appends — every family reads its index with distinct or grouped
    * semantics, so duplicates never change answers; they only cost
    * scan bytes, which in a long-running sink grow without bound).
    *
    * A sink-managed index is born MARKER-LESS (there is no source to
    * fingerprint). Its first compaction synthesizes the sink-history
    * identity and ADOPTS the live tree ([[IndexCommit.adoptUnmarked]])
    * so the retiree this rewrite creates self-validates; the rewrite
    * then goes through [[IndexCommit.commitBuild]]'s marker-bound
    * retire-then-publish tail, never its marker-less delete-in-place
    * branch, whose crash window would destroy the one copy of a
    * streaming history. The distinct rows are pinned off the table's
    * files, written into the temp sibling with every present sidecar
    * copied byte-identical ([[Lake.copyTree]]; a mutable pointer inside
    * a sidecar is manifest-exempt, so later advances never stale the
    * artifact), and published by one rename: a crash anywhere leaves
    * the original readable or restorable ([[recover]]).
    *
    * OWNER-ONLY, between batches: compaction snapshots the rows and
    * REPLACES the tree, so an append racing it — landing files after
    * the snapshot, into the tree about to be retired — would be
    * silently lost. The publish protocol protects against concurrent
    * compactions (idempotent, loser discards) and against crashes; it
    * cannot make append and replace commute. The sink that owns the
    * index compacts between its own micro-batches; WHEN to compact is
    * [[IndexCommit.appendedShare]]'s metadata-only signal. Compaction
    * changes the layout, not which corpus the index covers. Returns
    * (rows before, after).
    */
  def compact(spark: SparkSession, name: String, path: Path): (Long, Long) = {
    val fp = IndexCommit.readFp(path).getOrElse {
      val f = IndexCommit.sinkHistoryFp(name)
      IndexCommit.adoptUnmarked(path, f)
      f
    }
    val before = spark.table(name).count()
    val rows = spark.table(name).distinct().localCheckpoint(true)
    try {
      IndexCommit.commitBuild(spark, name, path, Some(fp)) { (tn, tp) =>
        write(spark, rows, tn, tp)
        sidecars.foreach(s =>
          Lake.copyTree(path.resolve(s).toString, tp.resolve(s).toString))
      }
      register(spark, name, path)
      (before, spark.table(name).count())
    } finally Pins.release(rows)
  }

  /** Post-crash recovery for a SINK-MANAGED index (no `ensure()`, no
    * rebuild source — the history IS the stream): restore a
    * crash-stranded retiree over an unbound destination, then
    * re-register. An unadoptable destination is a LOUD error
    * ([[IndexCommit.recoverSink]]) — registering blind would put an
    * absent or torn history behind the table name and every probe
    * would silently readmit historical duplicates. Returns true iff a
    * retiree was restored.
    */
  def recover(spark: SparkSession, name: String, path: Path): Boolean = {
    val restored = IndexCommit.recoverSink(path)
    register(spark, name, path)
    restored
  }
}
