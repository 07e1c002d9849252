package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.expressions.{BoilerplateClean, SimHashSig, WinnowFingerprints}
import graft.operators.{BloomIndex, FpIndex}

/** Curation of the lake, batch and streaming. One unit is q115, the
  * composed curation capstone, fully materialized over a seeded row
  * permutation of the corpus's `documents`, then one ingest step
  * ([[IngestStream]]: a micro-batch through the dedup and curation sinks
  * and both index compactions). Set-up builds the FpIndex and BloomIndex
  * q115 reads and the stream's history indexes and artifacts. The check
  * compares the last unit's q115 rows with q115's DuckDB oracle on the
  * same permuted input (run by perfbench/run.py after this process
  * exits) and the last ingest batch with a recomputation.
  */
final class Curation(c: Ctx) extends Workload(c) {

  // no warm-up unit: a unit takes ~25 s cold on local[4] (q115 ~18 s,
  // the ingest step ~7 s) and a second one does not fit the run

  private val stream = new IngestStream(c)
  private var dir: String = _
  private var docs: Array[Row] = Array.empty
  private var last: Array[Row] = Array.empty
  private var lastSchema: org.apache.spark.sql.types.StructType = _
  private var inputBytes = 0L

  def setup(): Unit = {
    val (d, rows) = Corpus.permute(c, "documents", c.dir("curation"), 11)
    dir = d
    docs = rows
    inputBytes = Workload.bytesUnder(java.nio.file.Paths.get(d))
    c.span("index.fp_ensure") { FpIndex.ensure(spark, dir) }
    c.span("index.bloom_ensure") { BloomIndex.ensure(spark, dir) }
    stream.setup(dir)
  }

  def unit(i: Long): Long = {
    val df = c.span("operators.construct") {
      SparkEntry.queries("q115_full_curation")(spark, dir)
    }
    last = c.span("operators.materialize") { df.collect() }
    lastSchema = df.schema
    docs.length + stream.step()
  }

  /** Leaves the rows for the DuckDB oracle; the comparison itself runs
    * in perfbench/run.py with tools/compare.py's canonicalization.
    */
  def check(): Seq[String] = {
    val out = c.work.resolve("curation-check")
    spark.createDataFrame(last.toSeq.asJava, lastSchema).coalesce(1)
      .write.mode("overwrite").parquet(out.resolve("q115_full_curation").toString)
    val oracle = SparkEntry.oracleSql("q115_full_curation")
    java.nio.file.Files.write(out.resolve("oracle_sql.json"),
      Json.obj(Seq("q115_full_curation" -> Json.str(oracle))).getBytes("UTF-8"))
    java.nio.file.Files.write(out.resolve("corpus_dir"), dir.getBytes("UTF-8"))
    (if (last.isEmpty) Seq("q115 returned no rows") else Nil) ++ stream.check()
  }

  private def texts: IndexedSeq[String] =
    docs.map(r => Option(r.getAs[String]("text")).getOrElse("")).toIndexedSeq

  def properties(): Seq[(String, Double)] = {
    val t = texts
    Seq("rows" -> t.size.toDouble,
      "distinct_text_share" -> t.distinct.size.toDouble / t.size,
      "input_bytes" -> inputBytes.toDouble,
      "index_bytes" -> Workload.bytesUnder(java.nio.file.Paths.get(FpIndex.indexRoot)).toDouble) ++
      stream.properties()
  }

  def layers(v: TraceView): Seq[(String, Option[Double])] = {
    val ops = Seq("operators.construct", "operators.materialize")
    val kept = last.map(_.getAs[Long]("doc_id")).distinct.length
    Seq(
      "index.fp_ensure_s" -> v.perCall("index.fp_ensure")(_.wallS),
      "index.bloom_ensure_s" -> v.perCall("index.bloom_ensure")(_.wallS),
      "operators.construct_s" -> v.selfS("operators.construct"),
      "operators.materialize_s" -> v.selfS("operators.materialize"),
      "operators.cpu_util" -> v.cpuUtil(ops, c.cores),
      "operators.shuffle_mb" -> v.countPerUnit(ops)(_.shuffleBytes / 1e6),
      "operators.spill_mb" -> v.countPerUnit(ops)(_.spillBytes / 1e6),
      "operators.tasks" -> v.countPerUnit(ops)(_.tasks.toDouble),
      "operators.kept_share" -> Some(kept.toDouble / math.max(docs.length, 1))) ++
      stream.layers(v)
  }

  override def kernels(): Seq[(String, Double)] = {
    val u = texts.map(UTF8String.fromString)
    Seq(
      "expressions.winnow_ns_per_doc" -> nsPer(u)(WinnowFingerprints.compute),
      "expressions.boilerplate_ns_per_doc" -> nsPer(u)(BoilerplateClean.compute),
      "expressions.simhash_ns_per_doc" -> nsPer(u)(SimHashSig.compute))
  }

  def release(): Unit = stream.release()
}
