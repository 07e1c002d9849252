package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload: start the session, set up once,
  * warm up, run units in a closed loop on one driver thread for the
  * timed window, check the outputs, and write the run record as JSON.
  *
  * Untraced runs (`--trace 0`) time the end-to-end metrics. Traced runs
  * (`--trace 1`) run the same way with every set-up step and timed unit
  * traced, and give the per-layer metrics. The tracing overhead is the
  * tracer's own time as a share of the window; comparing traced and
  * untraced run records (perfbench/compare.py) gives the gap between
  * their end-to-end figures.
  */
object Main {

  private def opt(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Bytes of every persisted or checkpointed block the block manager holds. */
  private def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** storedBytes once it has read the same after two more GCs in a row. */
  private def settledStoredBytes(spark: SparkSession): Long = {
    var retained = storedBytes(spark)
    var settled = 0
    var polls = 0
    while (settled < 2 && polls < 20) {
      System.gc()
      Thread.sleep(100)
      val now = storedBytes(spark)
      settled = if (now == retained) settled + 1 else 0
      retained = now
      polls += 1
    }
    retained
  }

  /** Progress on stderr (the run's log), for judging warm-up. */
  private def say(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The benchmark's session: local[cores], with scratch under `work`. */
  def session(app: String, work: Path): SparkSession = {
    val n = cores
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val workload = opt(args, "workload")
    val seed = opt(args, "seed").toLong
    val seconds = opt(args, "seconds").toDouble
    val trace = opt(args, "trace") == "1"
    val out = Paths.get(opt(args, "out"))
    val work = Paths.get(opt(args, "work"))
    val sfDir = opt(args, "sf")
    val root = Paths.get(opt(args, "root"))
    val spansOut = Paths.get(opt(args, "spans"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(s"perfbench-$workload", work)
    val sessionUpS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally say(f"$name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = Ctx(spark, tracer, seed, work, sfDir, root, cores)
    val w = Workload(workload, ctx)

    // one cold set-up, as a user's process would do it: the repeats a
    // later set-up in the same JVM would give run on a warm JIT
    tracer.enabled = trace
    tracer.unit = -1L
    val t0Setup = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - t0Setup) / 1e9
    tracer.enabled = false
    say(f"session up: $sessionUpS%.3f s, setup: $setupS%.3f s")

    phase("warm-up")((0 until w.warmupUnits).foreach(i => w.unit(-1L - i)))

    // the closed loop: unit i+1 starts when unit i has returned. A traced
    // run traces every timed unit, the first (coldest) one too, so its
    // per-layer figures describe the units an untraced run times.
    val lat = ArrayBuffer.empty[Double]
    val gcPerUnit = ArrayBuffer.empty[Double]
    val failures = ArrayBuffer.empty[(Long, String, String)]
    var rows = 0L
    var attempted = 0L
    // no System.gc() here: a full collection clears soft-referenced
    // caches and made the first timed unit the slowest
    tracer.enabled = trace
    val cost0 = tracer.costNs
    val tStart = System.nanoTime()
    val deadline = tStart + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val i = attempted
      tracer.unit = i
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      try {
        rows += w.unit(i)
        lat += (System.nanoTime() - t0) / 1e9
        gcPerUnit += (gcMs() - gc0) / 1e3
      } catch {
        case NonFatal(e) =>
          failures += ((i, e.getClass.getName, String.valueOf(e.getMessage)))
          lat += Double.PositiveInfinity
      }
      say(f"unit $i${if (trace) " traced" else ""}: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      attempted += 1
    }
    val wallS = (System.nanoTime() - tStart) / 1e9
    tracer.enabled = false
    org.apache.spark.BenchBus.drain(spark.sparkContext) // the window's listener calls
    val traceCostS = (tracer.costNs - cost0) / 1e9

    val kernels = if (trace) phase("kernels")(w.kernels()) else Nil
    val divergences = phase("check") {
      try w.check()
      catch { case NonFatal(e) => Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    val props = w.properties()

    // what the program still holds once the benchmark lets go of its
    // own set-up pins, after a GC and a cleaner drain (a per-layer metric,
    // so only traced runs spend the time on it)
    w.release()
    spark.catalog.clearCache()
    val retainedMb = if (trace) Some(phase("retained")(settledStoredBytes(spark)) / 1e6) else None

    val spans = phase("trace drain")(tracer.finished())
    val unitWall = lat.indices.map(i => i.toLong -> lat(i)).filter(_._2.isFinite).toMap
    val view = new TraceView(spans, unitWall.keys.toSeq.sorted)
    val layers: Seq[(String, Option[Double])] =
      if (!trace) Nil
      else w.layers(view) ++ kernels.map { case (k, x) => k -> Some(x) } ++ Seq(
        "unattributed_s" -> view.unattributed(unitWall),
        "jvm.gc_s_per_unit" ->
          (if (gcPerUnit.isEmpty) None else Some(Stats.median(gcPerUnit.toSeq))),
        "retained_mb" -> retainedMb,
        // the tracer's own time (span bookkeeping on the driver thread and
        // its listener) over the traced window
        "trace.overhead_share" -> Some(traceCostS / wallS))

    val tail = Stats.tail(lat.toSeq)
    val metrics = Seq(
      "setup_s" -> Some(sessionUpS + setupS),
      "latency_p50_s" -> (if (lat.isEmpty) None else Some(Stats.median(lat.toSeq))),
      "latency_tail_s" -> tail.map(_._2),
      "rows_per_s" -> Some(rows / wallS))

    def fmt(xs: Seq[(String, Option[Double])]): String =
      Json.obj(xs.map { case (k, v) => k -> v.map(Json.num).getOrElse("null") })

    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "seconds" -> Json.num(seconds),
      "trace" -> trace.toString,
      "correct" -> divergences.isEmpty.toString,
      "divergences" -> Json.arr(divergences.map(Json.str)),
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> Json.arr(failures.toSeq.map { case (u, cls, msg) =>
        Json.obj(Seq("unit" -> u.toString, "class" -> Json.str(cls),
          "message" -> Json.str(msg)))
      }),
      "failed_share" -> Json.num(failures.size.toDouble / math.max(attempted, 1L)),
      "metrics" -> fmt(metrics),
      "latency_tail_pct" -> tail.map(t => Json.num(t._1)).getOrElse("null"),
      "timed_units" -> lat.size.toString,
      "timed_wall_s" -> Json.num(wallS),
      "session_up_s" -> Json.num(sessionUpS),
      "setup_in_process_s" -> Json.num(setupS),
      "retained_mb" -> retainedMb.map(Json.num).getOrElse("null"),
      "per_layer" -> fmt(layers),
      "properties" -> fmt(props.map { case (k, x) => k -> Some(x) }),
      "jvm" -> Json.obj(Seq(
        "spark" -> Json.str(spark.version),
        "scala" -> Json.str(scala.util.Properties.versionNumberString),
        "java" -> Json.str(System.getProperty("java.version")),
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "storage_memory_mb" -> Json.num(
          spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6),
        "cores" -> cores.toString))))
    Files.createDirectories(out.getParent)
    Files.write(out, record.getBytes(StandardCharsets.UTF_8))
    if (trace) writeSpans(spansOut, spans)
    spark.stop()
  }

  private def writeSpans(p: Path, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "unit" -> s.unit.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_s" -> Json.num(s.selfS), "jobs" -> s.own.jobs.toString,
        "tasks" -> s.own.tasks.toString, "cpu_ns" -> s.own.cpuNs.toString,
        "shuffle_bytes" -> s.own.shuffleBytes.toString,
        "spill_bytes" -> s.own.spillBytes.toString))
    }
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
