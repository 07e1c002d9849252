package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What every workload sees: the session, the tracer, the seed, a
  * private work directory, the scale-factor directory and the checkout
  * root (for the fixture corpora under src/test/resources).
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    work: Path, sfDir: String, root: Path, cores: Int) {
  def rng(salt: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)

  /** A fresh directory under the run's private work root. */
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** Write a seeded copy of `df` as the named parquet input. */
  def writeInput(df: DataFrame, at: Path): String = {
    df.write.mode("overwrite").parquet(at.toString)
    at.toString
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** Documents the benchmark writes as a seeded row permutation of the
  * scale-factor corpus: same rows, seeded file order.
  */
object Corpus {
  def permute(c: Ctx, table: String, to: Path, salt: Long): (String, Array[Row]) = {
    val src = c.spark.read.parquet(s"${c.sfDir}/$table.parquet")
    val rows = c.rng(salt).shuffle(src.collect().toSeq).toArray
    c.spark.createDataFrame(rows.toSeq.asJava, src.schema).coalesce(1)
      .write.mode("overwrite").parquet(to.resolve(s"$table.parquet").toString)
    (to.toString, rows)
  }
}

/** One benchmark workload. A unit is the closed loop's request: the
  * driver thread issues the next unit only when the last one returned.
  */
abstract class Workload(val ctx: Ctx) {
  /** Untimed units before the timed window. */
  def warmupUnits: Int = 0


  /** Build inputs, catalogs, indexes and artifacts in fresh roots. */
  def setup(): Unit

  /** Run unit `i`; returns the input rows it completed. */
  def unit(i: Long): Long

  /** Correctness divergences of the run's outputs; empty = correct. */
  def check(): Seq[String]

  /** Input properties: rows, distinct-text share, bytes. */
  def properties(): Seq[(String, Double)]

  /** Per-layer metrics from the traced units and set-ups. */
  def layers(v: TraceView): Seq[(String, Option[Double])]

  /** Kernel microbenchmarks over the workload's own inputs (traced runs). */
  def kernels(): Seq[(String, Double)] = Nil

  /** Release the set-up's pinned frames before retained_mb is read. */
  def release(): Unit

  protected def spark: SparkSession = ctx.spark

  /** Time `f` over `items`, repeated until at least `minS` seconds have
    * passed; returns ns per item.
    */
  protected def nsPer[A](items: IndexedSeq[A], minS: Double = 0.25)(f: A => Any): Double = {
    require(items.nonEmpty)
    var sink = 0
    items.foreach(a => sink ^= f(a).##) // warm the kernel once
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < minS * 1e9) {
      items.foreach(a => sink ^= f(a).##)
      n += items.size
    }
    val ns = (System.nanoTime() - t0).toDouble / n
    if (sink == 42) print("") // keep results live
    ns
  }
}

object Workload {
  val names: Seq[String] = Seq("linkage", "curation", "serve")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "linkage"  => new Linkage(ctx)
    case "curation" => new Curation(ctx)
    case "serve"    => new Serve(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected ${names.mkString("|")})")
  }

  /** Total bytes of regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        val it = s.iterator()
        var t = 0L
        while (it.hasNext) {
          val f = it.next()
          if (Files.isRegularFile(f)) t += Files.size(f)
        }
        t
      } finally s.close()
    }

  def str(r: Row, c: String): String = {
    val i = r.fieldIndex(c)
    if (r.isNullAt(i)) null else String.valueOf(r.get(i))
  }
}
