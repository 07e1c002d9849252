package graft.operators

import java.nio.file.{Path, Paths}

import graft.core.Lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted decontamination benchmark index: the [[BandIndex]] /
  * [[PostingsIndex]] "build once, probe forever" pattern applied to the
  * sketch layer.
  *
  * q53/q95 rebuild the benchmark's distinct-shingle set (and q95 its
  * bloom filter) on EVERY run — the q78-shape recompute smell: the
  * benchmark suite is the STATIONARY side of decontamination (it changes
  * when the eval suite changes, not when corpus batches arrive), so at
  * 100 TB its derived structures should be paid for once per benchmark
  * generation, not once per ingest. This object persists both layers:
  *
  *  - the EXACT distinct shingle set as a parquet table bucketed by
  *    `sh` — the confirm join's key — so a probe's confirm join reads
  *    the benchmark side with NO exchange (the survivors side, already
  *    bloom-pruned to a sliver, is the only thing that shuffles);
  *  - the bloom filter bits as a `_BLOOM` sidecar (the map-side
  *    prefilter, ~10 bits/shingle), deserialized once per (session,
  *    generation) and broadcast.
  *
  * Freshness and restart follow BandIndex verbatim: a `_GRAFT_FP`
  * file-metadata fingerprint of `documents.parquet` gates rebuild (the
  * sidecar is covered by the same fingerprint — table, bloom, and
  * fingerprint land together in a temp sibling and publish by one
  * atomic rename ([[IndexCommit]]), so a half-built index is never
  * visible at the final path); a valid on-disk index re-registers into
  * a fresh JVM's in-memory catalog without rebuilding.
  */
object BloomIndex {

  def indexRoot: String = IndexCommit.indexRoot

  def tableNameFor(dir: String): String =
    IndexCommit.tableName("graft_bench_shingles_", dir)

  private def indexPath(dir: String): Path =
    Paths.get(indexRoot, tableNameFor(dir))

  /** Per-(path, fingerprint) deserialized bloom cache: the sidecar is
    * read once per corpus generation per JVM, not once per query.
    */
  @volatile private var bloomCache = Map.empty[(String, String), BloomFilter]

  /** Bucketed by `sh`, the confirm join's key. */
  private val layout =
    BucketedIndex("sh STRING", Seq("sh"), Seq("sh"), Seq("_BLOOM"))

  /** Ensure the benchmark index for `dir` exists, is fresh, and is in
    * this session's catalog; returns the table name. Warm cost: a
    * catalog lookup + an O(#files) fingerprint. Cold cost: one
    * O(benchmark) build — paid once per benchmark generation.
    */
  def ensure(spark: SparkSession, dir: String): String = synchronized {
    val name = tableNameFor(dir)
    // table and _BLOOM sidecar land together in one publish
    layout.ensure(spark, name, indexPath(dir), BandIndex.fingerprint(dir)) {
      (tn, tp) =>
        layout.write(spark, Dedup.decontamSides(spark, dir)._1, tn, tp)
        // bloom over the just-written table (one distributed aggregate);
        // sized from the table's row count — a metadata-cheap second job
        val n = spark.table(tn).count()
        val bf = spark.table(tn).stat
          .bloomFilter("sh", math.max(n, 1L), 0.01)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        Lake.writeBytes(tp.resolve("_BLOOM").toString, bos.toByteArray)
    }
    name
  }

  /** The persisted bloom for `dir` (ensure()d, cached per generation). */
  def bloom(spark: SparkSession, dir: String): BloomFilter = {
    val name = ensure(spark, dir)
    val fp = BandIndex.fingerprint(dir)
    val key = (name, fp)
    bloomCache.getOrElse(key, synchronized {
      bloomCache.getOrElse(key, {
        val bytes = Lake.readBytes(indexPath(dir).resolve("_BLOOM").toString)
        val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        bloomCache = bloomCache + (key -> bf)
        bf
      })
    })
  }

  /** Per-doc benchmark-hit counts via the persisted index: map-side
    * bloom prefilter, then the exact confirm join against the bucketed
    * shingle table (index side exchange-free — spec-pinned). Output is
    * identical to q53's exact-broadcast hits.
    */
  def probeHits(spark: SparkSession, dir: String): DataFrame = {
    val (_, corpus) = Dedup.decontamSides(spark, dir)
    probeHitsOf(spark, dir, corpus)
  }

  /** The same indexed probe over ANY (doc_id, shs) frame — shared with
    * the streaming [[graft.streaming.DecontamSink]], whose batches are
    * not the full corpus.
    */
  def probeHitsOf(spark: SparkSession, dir: String,
      shingled: DataFrame): DataFrame = {
    val name = ensure(spark, dir)
    val bfB = spark.sparkContext.broadcast(bloom(spark, dir))
    val mightContain =
      udf((x: String) => x != null && bfB.value.mightContain(x))
    shingled.select(col("doc_id"), explode(col("shs")).as("sh"))
      .filter(mightContain(col("sh")))
      .join(spark.table(name), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
  }

  /** The full q53-equivalent report from the persisted index. */
  def probe(spark: SparkSession, dir: String): DataFrame = {
    val (_, corpus) = Dedup.decontamSides(spark, dir)
    Dedup.decontamAssemble(corpus, probeHits(spark, dir))
  }
}
