package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BandIndex, FpIndex}
import graft.streaming.{CurationSink, IngestDedupSink}

/** Continuous ingest, the streaming half of the curation workload.
  * History is the corpus's ingest buckets below H; the seed orders the
  * other buckets, whose docs, in that order, are cut into micro-batches
  * of a fixed size. A step is one batch through
  * `IngestDedupSink.applyBatch` (BandIndex probe + append), then
  * `CurationSink.applyBatch` over the admitted docs (FpIndex probe +
  * append, Bloom decontam, frozen-LM gate, versioned commit), then
  * `BandIndex.compact` and `FpIndex.compact` (compaction after every
  * batch, so every step does the same mix of work).
  */
final class IngestStream(c: Ctx) {

  // history below bucket 64 (~1.25k docs); the other 192 buckets make
  // ~94 batches of 40 docs, enough that a run never runs out
  private val H = 64
  private val batchDocs = 40

  private def spark = c.spark

  private var dir: String = _
  private var root: Path = _
  private var bandName, fpName: String = _
  private var bandPath, fpPath: Path = _
  private var art: CurationSink.Artifacts = _
  private var history: Seq[(Long, String)] = Nil
  private var batches: IndexedSeq[Seq[(Long, String)]] = IndexedSeq.empty
  private var next = 0

  // per-batch bookkeeping, in batch order
  private val applied = ArrayBuffer.empty[(Long, Seq[(Long, String)], Seq[(Long, String)])]
  private val filesBefore = ArrayBuffer.empty[Double]
  private val written = ArrayBuffer.empty[(Double, Double)] // (bytes written, text bytes) per traced step
  private val retainedDelta = ArrayBuffer.empty[Double] // per traced batch

  private def dedupOut: String = root.resolve("dedup-log").toString
  private def curOut: String = root.resolve("curation-log").toString

  /** Build the history's indexes and artifacts over the corpus in `corpusDir`,
    * whose BloomIndex the caller has ensured.
    */
  def setup(corpusDir: String): Unit = {
    val s = spark
    import s.implicits._
    root = c.dir("ingest")
    dir = corpusDir
    val bucketed = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        BandIndex.ingestBucket.as("bucket"))
      .collect().map(r => (r.getInt(2), (r.getLong(0), r.getString(1))))
    history = bucketed.filter(_._1 < H).map(_._2).toSeq.sortBy(_._1)
    val byBucket = bucketed.groupBy(_._1)
    batches = c.rng(22).shuffle((H until 256).toList)
      .flatMap(b => byBucket.getOrElse(b, Array.empty).map(_._2).sortBy(_._1))
      .grouped(batchDocs).filter(_.size == batchDocs).map(_.toSeq).toIndexedSeq

    val hist = history.toDF("doc_id", "text")
    bandName = "perfbench_band"
    fpName = "perfbench_fp"
    bandPath = root.resolve("band-index")
    fpPath = root.resolve("fp-index")
    c.span("index.band_build") { BandIndex.buildIndex(spark, hist, bandName, bandPath) }
    c.span("index.fp_build") { FpIndex.buildIndex(spark, hist, fpName, fpPath) }
    art = c.span("streaming.artifacts") { CurationSink.artifactsOf(hist) }
  }

  private def storedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def snapshot(): Map[String, Long] = {
    def files(p: Path): Seq[(String, Long)] =
      if (!Files.exists(p)) Nil
      else {
        val st = Files.walk(p)
        try {
          val b = ArrayBuffer.empty[(String, Long)]
          st.iterator().forEachRemaining { f =>
            if (Files.isRegularFile(f)) b += ((f.toString, Files.size(f)))
          }
          b.toSeq
        } finally st.close()
      }
    (files(bandPath) ++ files(fpPath) ++ files(Paths.get(dedupOut)) ++
      files(Paths.get(curOut))).toMap
  }

  private def nFiles(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val st = Files.walk(p)
      try st.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).count().toDouble
      finally st.close()
    }

  /** Apply the next micro-batch to both sinks; returns its docs. */
  private def applyNext(): Seq[(Long, String)] = {
    require(next < batches.size, s"ingest ran out of batches after ${batches.size}")
    val s = spark
    import s.implicits._
    val id = next.toLong
    val docs = batches(next)
    next += 1
    c.span("streaming.dedup_apply") {
      require(IngestDedupSink.applyBatch(docs.toDF("doc_id", "text"), id, bandName, dedupOut),
        s"dedup batch $id reported already applied")
    }
    val admittedIds = spark.read.parquet(s"$dedupOut/v=$id")
      .filter(col("admit")).select("doc_id").collect().map(_.getLong(0)).toSet
    val admitted = docs.filter(d => admittedIds.contains(d._1))
    c.span("streaming.curation_apply") {
      require(CurationSink.applyBatch(admitted.toDF("doc_id", "text"), id, fpName,
        dir, art, curOut), s"curation batch $id reported already applied")
    }
    applied += ((id, docs, admitted))
    docs
  }

  /** One step; returns the batch's docs. */
  def step(): Long = {
    val traced = c.tracer.enabled
    val before = if (traced) snapshot() else Map.empty[String, Long]
    val stored0 = if (traced) storedBytes else 0L
    val docs = applyNext()
    if (traced) filesBefore += nFiles(bandPath) + nFiles(fpPath)
    c.span("index.band_compact") { BandIndex.compact(spark, bandName, bandPath) }
    c.span("index.fp_compact") { FpIndex.compact(spark, fpName, fpPath) }
    if (traced) {
      val after = snapshot()
      val w = after.collect { case (f, n) if !before.get(f).contains(n) => n }.sum
      val textBytes = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
      written += ((w.toDouble, textBytes.toDouble))
      retainedDelta += (storedBytes - stored0) / 1e6
    }
    docs.size.toLong
  }

  private def rowsOf(df: DataFrame, cols: Seq[String]): Map[Long, Seq[Any]] =
    df.select(cols.map(col): _*).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap

  // outcome figures, taken at check time
  private var outcome: Map[String, Double] = Map.empty

  def check(): Seq[String] = {
    if (applied.isEmpty) return Seq("ingest applied no batch")
    val totalText = (history ++ applied.flatMap(_._2)).map(_._2.getBytes("UTF-8").length.toLong).sum
    outcome = Map(
      "docs" -> applied.map(_._2.size).sum.toDouble,
      "admitted" -> applied.map(_._3.size).sum.toDouble,
      "kept" -> applied.map(a => spark.read.parquet(s"$curOut/v=${a._1}")
        .filter(col("kept")).count()).sum.toDouble,
      "space_amp" -> (Workload.bytesUnder(bandPath) + Workload.bytesUnder(fpPath)).toDouble /
        math.max(totalText, 1L))
    val s = spark
    import s.implicits._
    val (last, docs, admitted) = applied.last
    val earlier = applied.init
    // indexes rebuilt from scratch: the band index holds every earlier
    // batch doc, the fingerprint index every earlier admitted doc
    val fresh = c.dir("ingest-check")
    val band = "perfbench_band_check"
    val fp = "perfbench_fp_check"
    BandIndex.buildIndex(spark,
      (history ++ earlier.flatMap(_._2)).toDF("doc_id", "text"), band, fresh.resolve("band"))
    FpIndex.buildIndex(spark,
      (history ++ earlier.flatMap(_._3)).toDF("doc_id", "text"), fp, fresh.resolve("fp"))
    val decCols = Seq("doc_id", "n_hist_dups", "n_batch_dups", "admit")
    val wantDec = rowsOf(BandIndex.probeIndex(spark, band, docs.toDF("doc_id", "text")), decCols)
    val gotDec = rowsOf(spark.read.parquet(s"$dedupOut/v=$last"), decCols)
    val verCols = Seq("doc_id", "n_spans", "n_chars_removed", "n_sh", "n_hit",
      "n_bigrams", "lm_micro_nats", "avg_mn", "contaminated", "kept", "clean_text")
    val wantVer = rowsOf(CurationSink.verdictBatch(spark,
      admitted.toDF("doc_id", "text"), fp, dir, art), verCols)
    val gotVer = rowsOf(spark.read.parquet(s"$curOut/v=$last"), verCols)
    def diff(what: String, want: Map[Long, Seq[Any]], got: Map[Long, Seq[Any]]): Seq[String] =
      (want.keySet ++ got.keySet).toSeq.sorted
        .filter(k => want.get(k) != got.get(k))
        .map(k => s"ingest batch $last $what doc $k: recomputed=${want.get(k)} sink=${got.get(k)}")
    val replay = Seq(
      "dedup" -> IngestDedupSink.applyBatch(docs.toDF("doc_id", "text"), last, bandName, dedupOut),
      "curation" -> CurationSink.applyBatch(admitted.toDF("doc_id", "text"), last, fpName,
        dir, art, curOut))
      .collect { case (k, true) => s"ingest: re-applying batch $last to the $k sink returned true" }
    diff("decision", wantDec, gotDec) ++ diff("verdict", wantVer, gotVer) ++ replay
  }

  def properties(): Seq[(String, Double)] = Seq(
    "ingest_history_rows" -> history.size.toDouble,
    "ingest_batches" -> batches.size.toDouble,
    "ingest_index_bytes" -> (Workload.bytesUnder(bandPath) + Workload.bytesUnder(fpPath)).toDouble)

  def layers(v: TraceView): Seq[(String, Option[Double])] = {
    def med(xs: Seq[Double]): Option[Double] = if (xs.isEmpty) None else Some(Stats.median(xs))
    // with compaction after every batch, the next batch waits for both
    // compactions: the stall is their wall time per unit
    val stall = for (b <- v.perUnit("index.band_compact")(_.wallS);
      f <- v.perUnit("index.fp_compact")(_.wallS)) yield b + f
    def share(a: String, b: String): Option[Double] =
      for (x <- outcome.get(a); y <- outcome.get(b)) yield x / math.max(y, 1.0)
    Seq(
      "index.band_build_s" -> v.perCall("index.band_build")(_.wallS),
      "index.fp_build_s" -> v.perCall("index.fp_build")(_.wallS),
      "streaming.artifacts_s" -> v.perCall("streaming.artifacts")(_.wallS),
      "streaming.dedup_apply_s" -> v.selfS("streaming.dedup_apply"),
      "streaming.curation_apply_s" -> v.selfS("streaming.curation_apply"),
      "streaming.admit_share" -> share("admitted", "docs"),
      "streaming.kept_share" -> share("kept", "admitted"),
      "index.band_compact_s" -> v.perCall("index.band_compact")(_.wallS),
      "index.fp_compact_s" -> v.perCall("index.fp_compact")(_.wallS),
      "index.compact_stall_s" -> stall,
      "index.files_before_compact" -> med(filesBefore.toSeq),
      "index.write_amp" -> Some(written.map(_._1).sum / math.max(written.map(_._2).sum, 1.0))
        .filter(_ => written.nonEmpty),
      "index.space_amp" -> outcome.get("space_amp"),
      "streaming.retained_mb_per_batch" -> med(retainedDelta.toSeq))
  }

  def release(): Unit =
    if (art != null) {
      art.lm.c1.unpersist()
      art.lm.vocab.unpersist()
      art.lm.c12.unpersist()
      art = null
    }
}
