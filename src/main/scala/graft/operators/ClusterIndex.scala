package graft.operators

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Persisted Lloyd cluster assignment — the [[BandIndex]] /
  * [[PostingsIndex]] / [[BloomIndex]] / [[FpIndex]] "build once, probe
  * forever" pattern applied to the clustering layer.
  *
  * q104 re-learns the k-means cells in-query on every run;
  * profile_q104.json put that Lloyd chain at 66% of the query. In a
  * deployment the assignment is a curated artifact: learned once per
  * embedding-corpus generation, then served to every downstream
  * consumer (SemDeDup pruning, balanced sampling, per-cell budgets).
  * This object persists exactly that — (vec_id, cid, v, nrm), the
  * assignment JOINED with the full-precision vectors — as a parquet
  * table bucketed by `cid`, which is the within-cell pair join's key:
  * q113's self-join reads BOTH sides from the bucketed scan with no
  * exchange ([[ClusterIndexSpec]] pins the plan).
  *
  * Freshness and restart follow the house contract verbatim, except
  * the `_GRAFT_FP` fingerprint covers `embeddings.parquet` (this
  * index's source), not `documents.parquet`. Fingerprint written last,
  * so a half-built index reads as stale, never as valid.
  */
object ClusterIndex {

  /** Deployment-tunable ([[IndexCommit.numBuckets]]). */
  def NumBuckets: Int = IndexCommit.numBuckets

  def indexRoot: String = IndexCommit.indexRoot

  def tableNameFor(dir: String): String =
    IndexCommit.tableName("graft_cluster_asg_", dir)

  private def indexPath(dir: String): Path =
    Paths.get(indexRoot, tableNameFor(dir))

  /** Freshness = `embeddings.parquet` metadata (this index's source,
    * not `documents.parquet`) + the Lloyd parameters the assignment was
    * learned under — a param change makes the old index read as stale,
    * never as valid (the PostingsIndex ":sidecar-v3" discipline).
    */
  def fingerprint(dir: String): String =
    IndexCommit.sourceFingerprint(dir, "embeddings.parquet") +
      ":" + Clustering.paramsTag + ":cent-v2"

  /** Bucketed by `cid`, the within-cell pair join's key; compaction
    * carries the frozen-cell `_CENTROIDS` sidecar.
    */
  private val layout = BucketedIndex(
    "vec_id BIGINT, cid BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE",
    Seq("cid"), Seq("cid", "vec_id"), Seq("_CENTROIDS"))

  /** One ensure body for every modality's assignment index: warm cost
    * a catalog lookup + an O(#files) fingerprint check; cold cost one
    * Lloyd run (`artifacts`, by-name so a fresh index never pays it) —
    * paid once per corpus generation, NOT per query. Builds go through
    * a temp sibling + atomic publish ([[IndexCommit]]) so a concurrent
    * process never observes a half-built index; the frozen learned
    * cells land as the underscore-prefixed `_CENTROIDS` sidecar
    * (invisible to the table scan — the PostingsIndex df/meta
    * discipline): q117's probe ranks cells against these without
    * re-running the Lloyd chain, and the versioned fingerprint tag
    * stales pre-sidecar indexes.
    */
  private def ensureModal(spark: SparkSession, name: String, fp: String,
      artifacts: => (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)): String =
    synchronized {
      layout.ensure(spark, name, Paths.get(indexRoot, name), fp) { (tn, tp) =>
        val (cents, full) = artifacts
        layout.write(spark, full, tn, tp)
        cents.coalesce(1).write.mode("overwrite")
          .parquet(tp.resolve("_CENTROIDS").toString)
      }
      name
    }

  /** Ensure the EMBEDDING assignment index for `dir` exists, is
    * fresh, and is in this session's catalog; returns the table name.
    */
  def ensure(spark: SparkSession, dir: String): String =
    ensureModal(spark, tableNameFor(dir), fingerprint(dir),
      Clustering.assignmentArtifacts(spark, dir))

  // ---- the IMAGE-feature assignment index (q121) ----

  def tableNameForImage(dir: String): String =
    IndexCommit.tableName("graft_cluster_img_", dir)

  /** Freshness = `documents.parquet` metadata (the image corpus is
    * minted from the documents) + the image pipeline's parameters
    * (histogram binning, sample size, Lloyd) — the [[fingerprint]]
    * discipline at the multimodal layer.
    */
  def fingerprintImage(dir: String): String =
    IndexCommit.sourceFingerprint(dir, "documents.parquet") +
      ":" + Clustering.imageParamsTag

  /** [[ensure]] for the IMAGE corpus: the persisted assignment learned
    * over REAL decoded PPM features ([[Clustering.imageArtifacts]] —
    * q114's sample-trained recipe), bucketed by cid with the
    * `_CENTROIDS` sidecar. q121's within-cell prune self-joins this
    * table exchange-free exactly like q113 does the embedding index
    * (ClusterIndexSpec pins the plan for both).
    */
  def ensureImage(spark: SparkSession, dir: String): String =
    ensureModal(spark, tableNameForImage(dir), fingerprintImage(dir),
      Clustering.imageArtifacts(spark, dir))

  // ---- the AUDIO-feature assignment index (q126) ----

  def tableNameForAudio(dir: String): String =
    IndexCommit.tableName("graft_cluster_aud_", dir)

  /** Freshness = `documents.parquet` metadata (the audio corpus is
    * minted from the documents) + the envelope pipeline's parameters —
    * [[fingerprintImage]]'s discipline at the audio layer.
    */
  def fingerprintAudio(dir: String): String =
    IndexCommit.sourceFingerprint(dir, "documents.parquet") +
      ":" + Clustering.audioParamsTag

  /** [[ensure]] for the AUDIO corpus: the persisted assignment learned
    * over REAL decoded WAV envelopes ([[Clustering.audioArtifacts]]),
    * bucketed by cid with the `_CENTROIDS` sidecar — q126's serving
    * table (AudioDedupSpec pins the exchange-free pair join and the
    * served-never-rebuilt discipline).
    */
  def ensureAudio(spark: SparkSession, dir: String): String =
    ensureModal(spark, tableNameForAudio(dir), fingerprintAudio(dir),
      Clustering.audioArtifacts(spark, dir))

  // ---- the VIDEO-feature assignment index (q129) ----

  def tableNameForVideo(dir: String): String =
    IndexCommit.tableName("graft_cluster_vid_", dir)

  def fingerprintVideo(dir: String): String =
    IndexCommit.sourceFingerprint(dir, "documents.parquet") +
      ":" + Clustering.videoParamsTag

  /** [[ensure]] for the VIDEO corpus: the persisted assignment learned
    * over frame-SAMPLED spatiotemporal sums
    * ([[Clustering.videoArtifacts]] — non-sampled frames skipped,
    * never parsed), bucketed by cid with the `_CENTROIDS` sidecar —
    * q129's serving table (VideoDedupSpec pins the plan and the
    * stride-decode IO claim).
    */
  def ensureVideo(spark: SparkSession, dir: String): String =
    ensureModal(spark, tableNameForVideo(dir), fingerprintVideo(dir),
      Clustering.videoArtifacts(spark, dir))

  /** Build a bucketed assignment table from an arbitrary
    * (vec_id, cid, v, nrm) frame at `path`, registered as `name` — the
    * sink-managed-index entry ([[graft.streaming.ClusterIndexSink]]),
    * beside [[ensure]]'s corpus-fingerprinted build.
    */
  def buildIndexFrame(spark: SparkSession, frame: org.apache.spark.sql.DataFrame,
      name: String, path: Path): Unit =
    layout.write(spark, frame, name, path)

  /** An EMPTY bucketed assignment index — the cold-start entry for a
    * continuous vector-ingest stream.
    */
  def initIndex(spark: SparkSession, name: String, path: Path): Unit =
    layout.init(spark, name, path)

  /** Append admitted rows. */
  def append(spark: SparkSession, name: String,
      admitted: org.apache.spark.sql.DataFrame): Unit =
    layout.append(spark, name, admitted.select("vec_id", "cid", "v", "nrm"))

  /** Fold away duplicate assignment rows (accrued by crash-replayed
    * appends — probes reduce through grouped-min so answers never
    * change; duplicates only cost scan bytes) through
    * [[BucketedIndex.compact]], which carries the `_CENTROIDS` sidecar
    * (present on ensure-managed and history-seeded indexes; frozen
    * cells, never relearned) byte-identical into the new tree.
    * OWNER-ONLY, between batches. Returns (rows before, after).
    */
  def compact(spark: SparkSession, name: String, path: Path): (Long, Long) =
    layout.compact(spark, name, path)

  /** Post-crash recovery for a SINK-MANAGED assignment index (the
    * image/audio/video dedup sinks' restart path) —
    * [[BucketedIndex.recover]].
    */
  def recover(spark: SparkSession, name: String, path: Path): Boolean =
    layout.recover(spark, name, path)

  /** The persisted generation centroids ((cid, cv) integer micro-units)
    * of the ensure()-managed index for `dir` — K rows, broadcastable.
    */
  def centroids(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(indexPath(dir).resolve("_CENTROIDS").toString)

  /** The `_CENTROIDS` sidecar of ANY ensure*()-managed index by table
    * name — every modality's build persists one, so every modality's
    * index can serve ANN probes ([[Clustering.annProbeFrom]]).
    */
  def centroidsOf(spark: SparkSession,
      name: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(
      Paths.get(indexRoot, name).resolve("_CENTROIDS").toString)

  /** SemDeDup's within-cell duplicate threshold (q104's rule) — shared
    * by the streaming sink and the q116 maintenance loop.
    */
  val Tau = 0.3

  /** (vec_id, cid, v, nrm) of a (vec_id, embedding) batch under FROZEN
    * centroids — the exact q101 assignment rule (integer micro-unit
    * quantization, exact integer distances, ties on cid). Shared by
    * [[graft.streaming.ClusterIndexSink]] and q116 so the ingest
    * assignment cannot drift between batch and stream.
    */
  private[graft] def assignBatch(batch: org.apache.spark.sql.DataFrame,
      centroids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val qv = batch.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * lit(1000000.0)).cast("long")).as("qv"))
    val asg = Clustering.assign(qv, centroids).select("vec_id", "cid")
    batch.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      .join(asg, "vec_id")
  }

  /** (vec_id, cid, v, nrm) of an exact-INTEGER feature batch
    * (vec_id, `featCol`) under FROZEN centroids — [[assignBatch]]
    * without the micro-unit quantization step: integer features are
    * the Lloyd coordinates directly ([[Clustering]]'s
    * sampledArtifacts rule, shared verbatim by the q125/q127
    * maintenance loops and the image/audio ingest sinks so batch and
    * stream cannot drift across ANY modality).
    */
  private def assignIntBatch(batch: org.apache.spark.sql.DataFrame,
      centroids: org.apache.spark.sql.DataFrame,
      featCol: String): org.apache.spark.sql.DataFrame = {
    val qv = batch.select(col("vec_id"),
      transform(col(featCol), x => x.cast("long")).as("qv"))
    val asg = Clustering.assign(qv, centroids).select("vec_id", "cid")
    batch.select(col("vec_id"),
        transform(col(featCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      .join(asg, "vec_id")
  }

  /** [[assignIntBatch]] over a (vec_id, hist) IMAGE-feature batch. */
  private[graft] def assignImageBatch(batch: org.apache.spark.sql.DataFrame,
      centroids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    assignIntBatch(batch, centroids, "hist")

  /** [[assignIntBatch]] over a (vec_id, env) AUDIO-envelope batch. */
  private[graft] def assignAudioBatch(batch: org.apache.spark.sql.DataFrame,
      centroids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    assignIntBatch(batch, centroids, "env")

  /** [[assignIntBatch]] over a (vec_id, vfeat) VIDEO-feature batch. */
  private[graft] def assignVideoBatch(batch: org.apache.spark.sql.DataFrame,
      centroids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    assignIntBatch(batch, centroids, "vfeat")

  /** Verdicts (vec_id, cid, dup_of, kept) of an assigned batch frame
    * `b` (vec_id, cid, v, nrm) against the index — the probe half of
    * continuous-ingest SemDeDup, shared VERBATIM by the streaming sink
    * and the q116 oracle-gated maintenance loop (batch and stream
    * cannot diverge; the [[Winnow.spliceClean]] discipline at the
    * vector layer). History contains ONLY admitted representatives, so
    * an arrival is pruned iff it matches an ADMITTED same-cell vector
    * (grouped-min reduce — duplicate index rows from a crash-replayed
    * append can never change a verdict) or an EARLIER (smaller vec_id)
    * member of its own batch, whatever that member's own verdict (the
    * q78 within-batch keep-first). The history leg shuffles the BATCH
    * side only — the index is read bucketed on `cid`.
    *
    * `excludeBatchFromHistory` is the replay seam ([[FpIndex
    * .probeSpans]]): a crashed prior attempt may have appended this
    * batch's own rows; excluding the batch's ids from the history leg
    * makes the probe idempotent under replay-after-append.
    */
  private[graft] def probeVerdicts(spark: SparkSession,
      indexName: String, b: org.apache.spark.sql.DataFrame,
      excludeBatchFromHistory: Boolean): org.apache.spark.sql.DataFrame = {
    val hist = spark.table(indexName)
      .select(col("vec_id").as("h_id"), col("cid"),
        col("v").as("hv"), col("nrm").as("hn"))
    val pairs0 = b.join(hist, Seq("cid"))
      .withColumn("cos", aggregate(
        zip_with(col("v"), col("hv"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x) / (col("nrm") * col("hn")))
      .filter(col("cos") >= Tau)
    // the replay exclusion operates on the MATCHED PAIRS (already
    // batch-sized), never on the raw index — an anti join against the
    // scan side would reshuffle the whole index by vec_id every
    // micro-batch; here it is an explicit broadcast anti over the
    // batch-id set (a checkpointed batch has no stats, so the planner
    // would not broadcast it on its own)
    val pairs =
      if (excludeBatchFromHistory)
        pairs0.join(broadcast(b.select(col("vec_id").as("h_id"))),
          Seq("h_id"), "left_anti")
      else pairs0
    val histDup = pairs.groupBy("vec_id").agg(min(col("h_id")).as("h_dup"))
    val bSide = b.select(col("vec_id").as("b_id"), col("cid").as("b_cid"),
      col("v").as("bv"), col("nrm").as("bn"))
    val batchDup = b.join(bSide,
        col("cid") === col("b_cid") && col("b_id") < col("vec_id"))
      .withColumn("cos", aggregate(
        zip_with(col("v"), col("bv"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x) / (col("nrm") * col("bn")))
      .filter(col("cos") >= Tau)
      .groupBy("vec_id").agg(min(col("b_id")).as("b_dup"))
    b.select("vec_id", "cid")
      .join(histDup, Seq("vec_id"), "left")
      .join(batchDup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        least(col("h_dup"), col("b_dup")).as("dup_of"),
        (col("h_dup").isNull && col("b_dup").isNull).as("kept"))
  }
}
