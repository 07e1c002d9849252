package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{ClusterIndex, Clustering, IndexCommit, PostingsIndex, Retrieval}
import graft.streaming.{AnnServeSink, Bm25ServeSink}

/** Index files each finished query read, by index root; fed by a
  * query-execution listener while a span is active.
  */
final class ScanFiles(spark: SparkSession) extends QueryExecutionListener {
  @volatile var on = false
  val read = ArrayBuffer.empty[String]

  private def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case d: DataWritingCommandExec => walk(d.child)
    case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
  })

  override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
      ns: Long): Unit =
    if (on) read.synchronized {
      walk(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          s.inputRDD match {
            case r: FileScanRDD =>
              read ++= r.filePartitions.flatMap(_.files.map(_.urlEncodedPath))
            case _ =>
          }
        case _ =>
      }
    }

  override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
      e: Exception): Unit = ()
}

/** Query serving. One unit is one small query micro-batch to
  * `Bm25ServeSink.applyBatch` (PostingsIndex), then one to
  * `AnnServeSink.applyBatch` (ClusterIndex), so every unit does the same
  * mix of work. Terms come from the corpus vocabulary and vectors from
  * `embeddings`, both drawn by the seed.
  */
final class Serve(c: Ctx) extends Workload(c) {

  private val perBatch = 8 // queries per micro-batch

  // per-batch latency keeps falling for ~12 batches (JIT of the
  // planning path); 2 warm-up units (4 batches) take the steepest part
  // off and are what the run length allows
  override def warmupUnits: Int = 2

  private var dir: String = _
  private var root: Path = _
  private var docWords: IndexedSeq[IndexedSeq[String]] = IndexedSeq.empty
  private var vectors: IndexedSeq[Seq[Float]] = IndexedSeq.empty
  private var inputBytes = 0L
  private var qid = 0L
  private var bmBatches, annBatches = 0L
  private val bmServed = ArrayBuffer.empty[(Long, Seq[String])]
  private val annServed = ArrayBuffer.empty[(Long, Seq[Float])]
  private val readShare = ArrayBuffer.empty[Double]
  private var probeS: Option[Double] = None
  private val scans = new ScanFiles(c.spark)
  c.spark.listenerManager.register(scans)

  private def bmOut: String = root.resolve("bm25-log").toString
  private def annOut: String = root.resolve("ann-log").toString

  private def postingsPath: Path = Paths.get(PostingsIndex.indexRoot, PostingsIndex.tableNameFor(dir))
  private def clusterPath: Path = Paths.get(IndexCommit.indexRoot, ClusterIndex.tableNameFor(dir))

  /** The corpus is served as it is: the seed draws the queries. */
  def setup(): Unit = {
    root = c.dir("serve")
    dir = c.sfDir
    inputBytes = Workload.bytesUnder(Paths.get(s"$dir/documents.parquet")) +
      Workload.bytesUnder(Paths.get(s"$dir/embeddings.parquet"))
    val word = "[a-z0-9]+".r
    docWords = spark.read.parquet(s"$dir/documents.parquet").select("text").collect()
      .map(r => word.findAllIn(Option(r.getString(0)).getOrElse("").toLowerCase).toIndexedSeq)
      .filter(_.nonEmpty).toIndexedSeq
    vectors = spark.read.parquet(s"$dir/embeddings.parquet").select("embedding")
      .collect().map(_.getSeq[Float](0)).toIndexedSeq
    c.span("index.postings_ensure") { PostingsIndex.ensure(spark, dir) }
    c.span("index.cluster_ensure") { ClusterIndex.ensure(spark, dir) }
  }

  private val rng = c.rng(33)

  private def nFiles(p: Path): Int = {
    val st = Files.walk(p)
    try st.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet") &&
      !f.toString.contains("_CENTROIDS") && !f.toString.contains("sidecar")).count().toInt
    finally st.close()
  }

  /** Run `apply`; when traced, record the share of `index`'s files its
    * queries read. The listener bus is drained before the share is read
    * and before scans are switched off, so no scan event is lost.
    */
  private def served(traced: Boolean, index: => Path)(apply: => Unit): Unit = {
    scans.read.synchronized(scans.read.clear())
    scans.on = traced
    try {
      apply
      if (traced) {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        readShare += share(index)
      }
    } finally {
      if (traced) org.apache.spark.BenchBus.drain(spark.sparkContext)
      scans.on = false
    }
  }

  def unit(i: Long): Long = {
    val s = spark
    import s.implicits._
    val traced = c.tracer.enabled
    val terms = (0 until perBatch).map { _ =>
      qid += 1
      val ws = docWords(rng.nextInt(docWords.size))
      qid -> Seq.fill(1 + rng.nextInt(3))(ws(rng.nextInt(ws.size))).distinct
    }
    served(traced, postingsPath) {
      c.span("streaming.bm25_apply") {
        require(Bm25ServeSink.applyBatch(terms.toDF("q_id", "terms"), bmBatches, dir, bmOut))
      }
    }
    bmBatches += 1
    bmServed ++= terms
    val vecs = (0 until perBatch).map { _ =>
      qid += 1
      qid -> vectors(rng.nextInt(vectors.size))
    }
    served(traced, clusterPath) {
      c.span("streaming.ann_apply") {
        require(AnnServeSink.applyBatch(vecs.toDF("q_id", "embedding"), annBatches, dir, annOut))
      }
    }
    annBatches += 1
    annServed ++= vecs
    2L * perBatch
  }

  /** Distinct files of the index under `p` read by the last batch ÷
    * files in that index.
    */
  private def share(p: Path): Double = {
    val prefix = p.toUri.getPath
    val read = scans.read.synchronized(scans.read.toSeq)
      .map(u => new java.net.URI(u).getPath).filter(_.startsWith(prefix)).distinct.size
    read.toDouble / math.max(nFiles(p), 1)
  }

  def check(): Seq[String] = {
    val s = spark
    import s.implicits._
    val qt = bmServed.toSeq.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("q_id", "term")
    val wantBm = Retrieval.top5(Retrieval.bm25ScoresFor(spark, dir, qt)).collect()
      .map(_.toSeq).toSet
    val gotBm = Bm25ServeSink.results(spark, bmOut)
      .select("q_id", "rank", "doc_id", "n_hit", "bm25_micro").collect().map(_.toSeq).toSet
    val name = ClusterIndex.ensure(spark, dir)
    val wantAnn = Clustering.annProbeFrom(spark, name, ClusterIndex.centroids(spark, dir),
      Clustering.annQueriesOf(annServed.toSeq.toDF("q_id", "embedding")))
      .select("q_id", "rank", "n_id", "cos").collect().map(_.toSeq).toSet
    val gotAnn = AnnServeSink.results(spark, annOut)
      .select("q_id", "rank", "n_id", "cos").collect().map(_.toSeq).toSet
    def diff(what: String, want: Set[Seq[Any]], got: Set[Seq[Any]]): Seq[String] =
      if (want == got) Nil
      else Seq(s"serve $what: ${(want -- got).size} batch-form rows not served, " +
        s"${(got -- want).size} served rows not in the batch form; e.g. " +
        s"${(want -- got).take(3).mkString(", ")} vs ${(got -- want).take(3).mkString(", ")}")
    val empty = if (wantBm.isEmpty || wantAnn.isEmpty) Seq("serve: a sink served no rows") else Nil
    diff("bm25", wantBm, gotBm) ++ diff("ann", wantAnn, gotAnn) ++ empty
  }

  def properties(): Seq[(String, Double)] = {
    val terms = bmServed.flatMap(_._2)
    Seq("rows" -> (bmServed.size + annServed.size).toDouble,
      "corpus_docs" -> docWords.size.toDouble,
      "distinct_text_share" -> terms.distinct.size.toDouble / math.max(terms.size, 1),
      "input_bytes" -> inputBytes.toDouble,
      "index_bytes" -> (Workload.bytesUnder(postingsPath) + Workload.bytesUnder(clusterPath)).toDouble)
  }

  /** The bare BM25 probe (what `Bm25ServeSink.applyBatch` wraps) over
    * the last served query batches, timed outside the units.
    */
  override def kernels(): Seq[(String, Double)] = {
    val batches = bmServed.toSeq.grouped(perBatch).toSeq.takeRight(8)
    val ts = batches.map { qs =>
      val terms = qs.flatMap { case (q, ts) => ts.map(q -> _) }.sorted
      val t0 = System.nanoTime()
      Retrieval.top5(PostingsIndex.probeScores(spark, dir, terms)).collect()
      (System.nanoTime() - t0) / 1e9
    }
    probeS = if (ts.isEmpty) None else Some(Stats.median(ts))
    Nil
  }

  def layers(v: TraceView): Seq[(String, Option[Double])] = {
    val applies = Seq("streaming.bm25_apply", "streaming.ann_apply")
    val probe = probeS
    val apply = v.perCall("streaming.bm25_apply")(_.wallS)
    def perBatch(f: Counters => Double): Option[Double] = {
      val xs = applies.flatMap(v.named).filter(s => v.units.contains(s.unit)).map(s => f(v.subtree(s)))
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    Seq(
      "index.postings_ensure_s" -> v.perCall("index.postings_ensure")(_.wallS),
      "index.cluster_ensure_s" -> v.perCall("index.cluster_ensure")(_.wallS),
      "retrieval.bm25_probe_s" -> probe,
      "streaming.bm25_apply_s" -> apply,
      "streaming.ann_apply_s" -> v.perCall("streaming.ann_apply")(_.wallS),
      "streaming.commit_s" -> (for (a <- apply; p <- probe) yield a - p),
      "serve.jobs_per_batch" -> perBatch(_.jobs.toDouble),
      "serve.tasks_per_batch" -> perBatch(_.tasks.toDouble),
      "serve.buckets_read_share" ->
        (if (readShare.isEmpty) None else Some(Stats.median(readShare.toSeq))))
  }

  def release(): Unit = ()
}
