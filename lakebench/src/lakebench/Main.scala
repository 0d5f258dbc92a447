package lakebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run measured: its own end-to-end metrics (the
 *  harness adds set-up, heap, correctness and storage) and per-layer
 *  metrics (traced runs). Sample counts and tails go to [[Ctx.detail]]. */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double])

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val dir: String, val warehouse: String) {
  def traced: Boolean = tracer.enabled
  val detail = mutable.LinkedHashMap[String, Any]()

  /** Wall seconds of each phase of the run, for sizing the workloads. */
  val phases = mutable.LinkedHashMap[String, Double](
    "jvm_and_session" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
  private var mark = System.nanoTime()
  def lap(phase: String): Unit = {
    val now = System.nanoTime()
    phases(phase) = (now - mark) / 1e9
    mark = now
  }

  /** Median wall seconds of the timed set-up builds: `setup_s`. */
  var setupS = 0.0

  /** Builds the workload's tables: `build(dir, scale, i)` for timed builds
   *  i = 0 until `Ctx.SetupReps`, each into a fresh directory, and returns what
   *  they built. An untimed repeat of build 0 at `Ctx.WarmScale` of the
   *  data goes first: it pays the JVM's cold start (class loading,
   *  interpretation) on the same code, so that `setup_s` times warm builds
   *  only. */
  def setup[T](build: (String, Double, Int) => T): Seq[T] = {
    val warm = time(build(s"$dir/setup-warm", Ctx.WarmScale, 0))._2
    val (built, times) = (0 until Ctx.SetupReps).map(i => time(build(s"$dir/setup$i", 1.0, i))).unzip
    detail("setup_warm_build_s") = warm
    detail("setup_reps_s") = times
    setupS = Stats.median(times)
    lap("setup")
    built
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val t = f
    (t, (System.nanoTime() - t0) / 1e9)
  }

  /** Storage of the workload's tables, taken once at a fixed point of the
   *  op sequence so that it does not depend on how many ops a run fits. */
  private var storage = Map.empty[String, Double]
  def measureStorage(stored: Long, live: Seq[graft.tables.SnapshotTable.FileEntry]): Unit =
    storage = Map("tables.stored_bytes" -> stored.toDouble,
      "tables.live_bytes" -> live.map(_.bytes).sum.toDouble,
      "tables.live_files" -> live.size.toDouble)
  def storageLayers: Map[String, Double] = storage
  def storedPerLive: Double = storage("tables.stored_bytes") / storage("tables.live_bytes")

  /** Closed loop, one client: the next step starts when the previous one
   *  returns. Runs for `seconds`, and on at least `minSteps` steps so
   *  fixed-prefix metrics always exist. Returns the measured seconds. */
  def loop(minSteps: Int)(step: Int => Unit): Double = {
    lap("warmup")
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    while (i < minSteps || System.nanoTime() < deadline) { step(i); i += 1 }
    detail("steps") = i
    lap("loop")
    (System.nanoTime() - t0) / 1e9
  }
}

object Ctx {
  val WarmScale = 0.125
  val SetupReps = 3

  /** Bytes of every file under `root`: data, deletion vectors and log. */
  def storedBytes(root: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(root))
  }

  /** Size of the newest commit-log slot of the table at `root`. */
  def slotBytes(root: String, version: Long): Long =
    new File(f"$root/_log/$version%020d.json").length()
}

object Stats {
  /** Linear-interpolated quantile; 0 without samples (an op the run
   *  did not issue). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median plus the tail percentiles that have at least ten samples
   *  beyond them, for the detail line. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val tails = Seq(0.9 -> "p90", 0.99 -> "p99")
      .filter { case (q, _) => xs.size * (1 - q) >= 10 }
      .map { case (q, k) => k -> quantile(xs, q) }
    (Seq("n" -> xs.size) ++ (if (xs.isEmpty) Nil else Seq("p50" -> median(xs))) ++ tails).toMap
  }
}

/** Per-layer numbers taken from the traced run's spans and jobs. */
object Layers {
  val ExecOps = Seq("merge", "lookup", "commit", "dedup_serve", "dedup_append")
  val ExecFields = Seq("jobs", "stages", "tasks", "task_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_bytes", "output_bytes", "jobs_wall_s")

  def jobsWallMs(span: Span, jobs: Seq[JobRec]): Long =
    Intervals.unionMs(jobs.map(j => (math.max(j.startMs, span.startMs), math.min(j.endMs, span.endMs))))

  /** Wall time of a call not covered by any of its Spark jobs, in ms. */
  def driverMs(span: Span, jobs: Map[Int, Seq[JobRec]]): Double =
    math.max(0.0, span.wallMs - jobsWallMs(span, jobs.getOrElse(span.id, Nil)))

  /** `exec.<op>.*` as means per call over the op's first `prefix` calls
   *  (a fixed prefix, so same-seed runs count the same work). */
  def exec(spans: Seq[Span], jobs: Map[Int, Seq[JobRec]], prefix: Map[String, Int]): Map[String, Double] =
    prefix.toSeq.flatMap { case (op, n) =>
      val calls = spans.filter(_.op == op).sortBy(_.id).take(n).map { s =>
        val js = jobs.getOrElse(s.id, Nil)
        JobRec.work(js) :+ ("jobs_wall_s" -> jobsWallMs(s, js) / 1e3)
      }
      ExecFields.map(f => s"exec.$op.$f" -> Stats.mean(calls.map(_.toMap.apply(f))))
    }.toMap

  /** Every per-layer metric name; a workload reports 0 for the layers
   *  and ops it does not exercise. */
  val Names: Seq[String] = Seq(
    "scd2.hudi_merge_s", "scd2.iceberg_merge_s", "scd2.delta_merge_s",
    "ops.merge.driver_s", "ops.merge.jobs", "ops.merge.files_removed",
    "ops.merge.files_added", "ops.merge.rows_written_per_staged_row",
    "tables.append_ms", "tables.delete_ms", "tables.update_ms",
    "tables.commit_driver_ms", "tables.log_bytes_per_commit", "tables.open_ms",
    "tables.prune_ms", "tables.files_kept_per_lookup", "tables.live_files",
    "tables.stored_bytes", "tables.live_bytes",
    "sql.plan_ms", "sql.head_lookup_ms", "sql.timetravel_lookup_ms",
    "ext.dedup.serve_s", "ext.dedup.append_s", "ext.dedup.candidate_pairs",
    "ext.dedup.index_files",
    "trace.op_p50_ms", "trace.items_per_s", "trace.unattributed_jobs") ++
    ExecOps.flatMap(op => ExecFields.map(f => s"exec.$op.$f"))
}

object Main {
  val Workloads: Seq[(String, Ctx => Outcome)] = Seq(
    "scd2_batches" -> Scd2Batches.run, "lookup_ingest" -> LookupIngest.run,
    "dedup_ingest" -> DedupIngest.run)
  val EndToEnd = Seq("setup_s", "ok_ratio", "heap_retained_mb", "op_p50_ms",
    "items_per_s", "commit_p50_ms", "stored_bytes_per_live_byte")

  /** Fixed-work single-thread CPU probe (min of three), the same loop as
   *  `graft.Bench.lightCalib`: it prices the box for reading drift
   *  between runs and never adjusts a metric. */
  def boxProbe(): Double = {
    def once(): Double = {
      var acc = 0L; var i = 0L
      val t0 = System.nanoTime()
      while (i < 150000000L) { acc ^= i * 0x9E3779B97F4A7C15L; i += 1 }
      if (acc == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(3)(once()).min
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val dir = opts("dir")
    val outDir = opts("out")
    val cpus = Runtime.getRuntime.availableProcessors()

    val probeStart = boxProbe()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"lakebench-$workload")
      .withExtensions(new graft.sql.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .config("spark.sql.catalog.lb", "graft.sql.GraftTableCatalog")
      .config("spark.sql.catalog.lb.warehouse", s"$dir/wh")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, seed, seconds, new Tracer(spark.sparkContext, trace), dir, s"$dir/wh")
    val out = Workloads.toMap.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))(ctx)
    ctx.lap("checks")
    if (trace) ctx.tracer.writeSpans(s"$outDir/spans-$workload-s$seed.jsonl")
    // retained heap: a full GC frees blocks whose cleanup another GC
    // triggered, so take the least of a few rounds
    val rt = Runtime.getRuntime
    val heapMb = Seq.fill(3) {
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
    val probeEnd = boxProbe()

    val e2e = out.e2e ++ Map("setup_s" -> ctx.setupS, "heap_retained_mb" -> heapMb,
      "ok_ratio" -> (out.attempted - math.min(out.failed, out.attempted)).toDouble / out.attempted,
      "stored_bytes_per_live_byte" -> ctx.storedPerLive)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEnd.map(k => (k, e2e(k), Units.of(k)))
      else {
        val layers = out.layers ++ ctx.storageLayers ++ Map(
          "trace.op_p50_ms" -> e2e("op_p50_ms"), "trace.items_per_s" -> e2e("items_per_s"),
          "trace.unattributed_jobs" -> ctx.tracer.unattributedJobs().toDouble)
        Layers.Names.map(k => (k, layers.getOrElse(k, 0.0), Units.of(k)))
      }
    val detail = ctx.detail ++ Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus" -> cpus, "box_probe_s" -> Seq(probeStart, probeEnd), "phase_s" -> ctx.phases) ++
      (if (trace) Seq("traced_e2e" -> e2e) else Nil)
    println("LAKEBENCH_DETAIL " + Json.of(detail.toMap))
    val correct = out.failed == 0
    println(Json.of(Map(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap),
      order = Seq("correct", "attempted", "failed", "metrics")))
    spark.stop()
  }
}

object Units {
  def of(k: String): String = k match {
    case "setup_s" => "s"
    case "ok_ratio" | "stored_bytes_per_live_byte" => "ratio"
    case "heap_retained_mb" => "MB"
    case "items_per_s" | "trace.items_per_s" => "1/s"
    case _ if k.endsWith("_ms") => "ms"
    case _ if k.endsWith("_s") => "s"
    case _ if k.endsWith("_bytes") || k.endsWith("bytes_per_commit") => "bytes"
    case _ if k.endsWith("_per_staged_row") => "ratio"
    case _ => "count"
  }
}

object Json {
  def of(v: Any, order: Seq[String] = Nil): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite metric")
      d.toString
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case m: scala.collection.Map[_, _] =>
      val keys = m.keys.map(_.toString).toSeq
      val ordered = order.filter(keys.contains) ++ keys.filterNot(order.contains).sorted
      val mm = m.map { case (k, x) => k.toString -> x }
      ordered.map(k => of(k) + ":" + of(mm(k))).mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of(_)).mkString("[", ",", "]")
    case other => of(other.toString)
  }
}
