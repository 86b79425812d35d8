package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.{Caches, SparkEntry}
import graft.etl.Pipeline
import graft.sources.Tables

/** One benchmark run in one JVM: set up, measure a fixed number of passes
  * over one workload's jobs with one closed-loop client, check every
  * output, print one JSON line of metrics.
  *
  * Usage: Main --workload <name> --seed <n> --passes <n> --trace <0|1>
  *   --data <base dir> --snapshots <dir> --run-dir <dir> --expected <file>
  *   --scale <label> --warm-up <passes> [--record]
  * (perfbench/run.py builds the program, generates the inputs and passes
  * these.) `--record` writes the observed digests as the expected ones. */
object Main {

  // The job lists are cut from the full families so that set-up plus the
  // measured passes fit the benchmark's time budget on a 4-core box
  // (README.md, "Workloads").

  /** Light queries at sf0.1 (under 0.5 s each, warm): per-query fixed
    * costs (schema-inferring reads, analysis and planning, one job per
    * stage) dominate their walls. */
  val QueryMix: Seq[String] = Seq(
    "q02", "q09", "q17", "q24", "q36", "e01", "e07", "e14", "aj03", "rj01", "mm01", "st05")

  /** Run on every ingest snapshot after its load: the ingest-time bloom
    * dedup and substring cut, each a cold build (bloom sketch, window
    * index) on the grown corpus. */
  val CycleQueries: Seq[String] = Seq("st06", "st08")

  val Platforms: Seq[String] = Seq("avito", "domclick", "yandex")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val conf = Conf(
      workload = opts("workload"), seed = opts("seed").toLong,
      passes = opts("passes").toInt, trace = opts("trace") == "1",
      data = opts("data"), snapshots = opts("snapshots"), runDir = opts("run-dir"),
      expected = Paths.get(opts("expected")), scale = opts("scale"),
      record = args.contains("--record"), warmUp = opts("warm-up").toInt)
    require(Seq("query_mix", "ingest_refresh").contains(conf.workload),
      s"unknown workload ${conf.workload}")
    val spark = session(conf.runDir)
    spark.sparkContext.setLogLevel("ERROR")
    val out = try new Runner(spark, conf, jvmStartMs).run()
    finally spark.stop()
    out.foreach(println)
  }

  /** One pass: the sums over its jobs of job wall, process user and sys
    * CPU, GC time and bytes the process wrote, each taken inside the job's
    * wall only; and input rows and bytes: landed ones for ingest, read by
    * Spark scans otherwise. */
  final case class Pass(wall: Double, user: Double, sys: Double, gc: Double, written: Long,
      rows: Long, inBytes: Long)

  /** One timed job of a measured pass, with the process CPU inside its wall. */
  final case class Attempt(name: String, wall: Double, cpu: Double, failed: Boolean)

  /** What a job leaves to check after its wall: None when its output is
    * right, else what is wrong. */
  type Check = () => Option[String]

  /** The window width of st08's substring cut (graft's Dedup.substringK). */
  val SubstringK = 8

  final case class Conf(workload: String, seed: Long, passes: Int, trace: Boolean,
      data: String, snapshots: String, runDir: String, expected: Path, scale: String,
      record: Boolean, warmUp: Int)

  /** The engine's session settings (graft.Sessions.build) with every
    * directory the session writes moved under the run directory. */
  def session(runDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}

final class Runner(spark: SparkSession, conf: Main.Conf, jvmStartMs: Long) {
  import Main._
  import LayerListener.PhaseKey

  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  private val listener = new LayerListener
  sc.addSparkListener(listener)
  private val queries = SparkEntry.queries
  private val expected = Digest.load(conf.expected)
  private val recorded = mutable.Map.empty[(String, String), Digest]

  private var tracing = false
  private val spans = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val actionWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private var persistedMax, pendingMax = 0
  private var storageMbMax = 0.0

  // ---- helpers -------------------------------------------------------------

  private def now(): Double = System.nanoTime() / 1e9

  private def drain(): Unit = org.apache.spark.perfbench.ListenerBusDrain(sc)

  /** Runs `body`; when tracing, adds its wall to span `name` and tags the
    * Spark jobs it causes with `name`. */
  private def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val prev = sc.getLocalProperty(PhaseKey)
      sc.setLocalProperty(PhaseKey, name)
      val t0 = now()
      try body
      finally {
        spans(name) += now() - t0
        sc.setLocalProperty(PhaseKey, prev)
      }
    }

  private def resolve(id: String): String =
    queries.keys.find(_.startsWith(id + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query $id"))

  /** Each job starts from empty caches, as graft.Bench does. */
  private def resetCaches(): Unit = {
    spark.catalog.clearCache()
    Caches.releaseAll()
    graft.operators.Layout.resetRefusedCounters()
  }

  private def sampleCaches(): Unit = if (tracing) {
    persistedMax = math.max(persistedMax, sc.getPersistentRDDs.size)
    pendingMax = math.max(pendingMax, Caches.pending)
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    storageMbMax = math.max(storageMbMax, used / 1048576.0)
  }

  /** Builds query `id` over `dir`, plans its digest and runs it. */
  private def digestQuery(id: String, dir: String): Digest = {
    val df = span("build")(queries(resolve(id))(spark, dir))
    val types = df.schema
    val frame = span("plan.analyze")(Digest.frame(df))
    if (tracing) {
      val qe = frame.queryExecution
      span("plan.optimize")(qe.optimizedPlan)
      span("plan.physical")(qe.executedPlan)
    }
    val a0 = System.currentTimeMillis()
    val d = span("action")(Digest.read(frame, types))
    if (tracing) actionWindows += ((a0, System.currentTimeMillis()))
    sampleCaches()
    d
  }

  /** A fixed-data job: the digest must match the recorded one. */
  private def checkedQuery(id: String): Check = {
    val d = digestQuery(id, conf.data)
    val key = (conf.scale, id)
    () =>
      if (conf.record) { recorded(key) = d; None }
      else expected.get(key) match {
        case None => Some(s"no expected digest for $id at ${conf.scale}")
        case Some(want) => d.mismatch(want)
      }
  }

  // ---- ingest cycle ----------------------------------------------------------

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private var landedRows, landedBytes = 0L
  private val steps = mutable.ArrayBuffer.empty[(String, Double)]

  private def csvSchema(path: String): StructType = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val header = try src.getLines().next() finally src.close()
    StructType(header.split(",").map(StructField(_, StringType)))
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** One daily refresh on snapshot `snap`: resolve dates, read the listing
    * CSVs with declared schemas, run the unification with its run report
    * loading the parquet and JDBC sinks, then the incremental dedup and
    * substring-cut queries on the grown corpus. The returned checks hold
    * for any seed: each platform loads the rows the generator says survive
    * dedup and the required-field filter; report, parquet sink and JDBC
    * sink agree; st06 equals dd07 (a plain Spark query) on the snapshot;
    * st08's rows keep the bounds its definition sets. */
  private def ingestCycle(snap: String, withQueries: Boolean = true): Check = {
    val manifest = mapper.readTree(new File(s"$snap/manifest.json"))
    val date = manifest.get("date").asText()
    val want = Platforms.map(p => p -> manifest.get("expected_rows").get(p).asLong()).toMap
    val dates = span("etl.resolve_dates")(Pipeline.resolveDates(spark, s"$snap/landing",
      Platforms.map(_ -> (Pipeline.Latest: Pipeline.Directive)).toMap))
    val raw = span("sources")(Platforms.map { p =>
      val path = s"$snap/landing/${p}_$date.csv"
      p -> Tables.csv(spark, path, csvSchema(path))
    }.toMap)
    if (tracing) {
      // Cumulative prefixes, one action per platform each: extract,
      // extract+transform, extract+transform+merge+final cast.
      val spec = graft.etl.PlatformSpecs.byName
      val prefixes: Seq[(String, DataFrame) => DataFrame] = Seq(
        (_, df) => df,
        (p, df) => Pipeline.transform(df, spec(p)),
        (p, df) => Pipeline.finalCast(Pipeline.merge(Seq(Pipeline.transform(df, spec(p))))))
      val walls = prefixes.map { prefix =>
        val t0 = now()
        span("etl.prefix")(raw.foreach { case (p, df) => Digest.of(prefix(p, df)) })
        now() - t0
      }
      spans("etl.extract") += walls(0)
      spans("etl.transform") += walls(1) - walls(0)
      spans("etl.merge_cast") += walls(2) - walls(1)
    }
    val sinkDir = s"${conf.runDir}/sinks/${new File(snap).getName}"
    val url = s"jdbc:derby:${conf.runDir}/derby/listings;create=true"
    val report = span("etl.report")(Pipeline.runReport(raw) { unified =>
      span("etl.sink_parquet")(Pipeline.Sinks.parquet(unified, sinkDir))
      // Derby has no array type: the JDBC sink takes the scalar columns.
      val loaded = spark.read.parquet(sinkDir)
      val scalar = loaded.schema.fields.filterNot(_.dataType.isInstanceOf[ArrayType]).map(f => col(f.name))
      span("etl.sink_jdbc")(Pipeline.Sinks.jdbc(loaded.select(scalar: _*), url, "listings"))
    })
    if (tracing) spans("etl.sink_written_mb") += dirBytes(new File(sinkDir)) / 1048576.0
    val digests = if (!withQueries) Map.empty[String, Digest] else {
      val ds = CycleQueries.map { id =>
        resetCaches()
        val t0 = now()
        val d = digestQuery(id, snap)
        steps += ((id, now() - t0))
        id -> d
      }.toMap
      landedRows += manifest.get("landed_rows").asLong()
      landedBytes += manifest.get("landed_bytes").asLong()
      ds
    }
    () => {
      val problems = mutable.ArrayBuffer.empty[String]
      if (dates.values.exists(_ != Some(date))) problems += s"resolved dates $dates, expected $date"
      if (report.status != "success") problems += s"run report ${report.status}: ${report.message}"
      else {
        if (report.rowsByPlatform != want) problems += s"rows by platform ${report.rowsByPlatform}, expected $want"
        if (report.totalRows != want.values.sum) problems += s"report total ${report.totalRows}, expected ${want.values.sum}"
        val parquetRows = spark.read.parquet(sinkDir).count()
        val jdbcRows = spark.read.format("jdbc").option("url", url).option("dbtable", "listings").load().count()
        if (parquetRows != report.totalRows || jdbcRows != report.totalRows)
          problems += s"sink rows parquet=$parquetRows jdbc=$jdbcRows, report ${report.totalRows}"
      }
      digests.get("st06").foreach { d =>
        d.mismatch(Digest.of(queries(resolve("dd07"))(spark, snap)))
          .foreach(m => problems += s"st06 differs from dd07: $m")
      }
      digests.get("st08").foreach(d => problems ++= st08Problems(snap, d))
      if (problems.isEmpty) None else Some(problems.mkString("; "))
    }
  }

  /** Bounds st08's rows keep on any corpus: one row per new (odd) document
    * with at least one corpus-known window; per row, 1 <= n_corpus_windows
    * <= n_windows, 1 <= n_cut_spans <= n_corpus_windows, and the spans
    * (disjoint, each at least one window wide) cut between k * n_cut_spans
    * and all n_windows + k - 1 tokens. */
  private def st08Problems(snap: String, d: Digest): Seq[String] = {
    val k = SubstringK
    val newDocs = Tables.table(spark, snap, "documents").filter(col("doc_id") % 2 === 1).count()
    val bad = Seq(
      "corpus documents" -> (col("doc_id") % 2 =!= 1),
      "n_corpus_windows outside [1, n_windows]" ->
        (col("n_corpus_windows") < 1 || col("n_corpus_windows") > col("n_windows")),
      "n_cut_spans outside [1, n_corpus_windows]" ->
        (col("n_cut_spans") < 1 || col("n_cut_spans") > col("n_corpus_windows")),
      s"n_cut_tokens outside [$k * n_cut_spans, n_windows + ${k - 1}]" ->
        (col("n_cut_tokens") < col("n_cut_spans") * k || col("n_cut_tokens") > col("n_windows") + (k - 1)))
    val r = queries(resolve("st08"))(spark, snap)
      .agg(count(lit(1)), bad.map { case (_, c) => count(when(c, 1)) }: _*).head()
    val rows = r.getLong(0)
    (if (rows != d.rows) Seq(s"st08 returned ${d.rows} rows, then $rows") else Nil) ++
      (if (rows > newDocs) Seq(s"st08 returned $rows rows for $newDocs new documents") else Nil) ++
      bad.indices.collect { case i if r.getLong(i + 1) > 0 => s"st08: ${r.getLong(i + 1)} rows with ${bad(i)._1}" }
  }

  private def snapshot(i: Int): String = f"${conf.snapshots}/cycle_$i%03d"

  // ---- workloads -----------------------------------------------------------

  /** (job name, job) for pass `i`; the seed only orders fixed-data jobs. */
  private val rnd = new Random(conf.seed)

  private def passJobs(i: Int): Seq[(String, () => Check)] = conf.workload match {
    case "query_mix" => rnd.shuffle(QueryMix).map(id => id -> (() => checkedQuery(id)))
    case "ingest_refresh" =>
      val snap = snapshot(i + 1)
      Seq(new File(snap).getName -> (() => ingestCycle(snap)))
  }

  /** Untimed passes that fill the memos and let the JIT settle. They run
    * the jobs in list order whatever the seed, so every run's JIT profile
    * starts from the same history. */
  private def warmUp(): Unit = (1 to conf.warmUp).foreach { _ =>
    conf.workload match {
      case "ingest_refresh" => ingestCycle(snapshot(0))
      case _ => QueryMix.foreach { id =>
        resetCaches()
        try checkedQuery(id) catch { case NonFatal(_) => }
      }
    }
  }

  // ---- measurement ---------------------------------------------------------

  private val attempts = mutable.ArrayBuffer.empty[Attempt]
  private val failures = mutable.LinkedHashMap.empty[String, String]

  /** Process counters that a job's wall brackets: user and sys CPU, GC
    * seconds, bytes written. */
  private def counters(): Array[Double] = {
    val (u, s) = cpuTimes()
    Array(u, s, gcSeconds(), bytesWritten().toDouble)
  }

  /** Runs `n` passes, pass indexes from `first`. Before each job, outside
    * its wall, caches are emptied and a full GC settles the heap (as
    * graft.Bench does), so no job pays for the garbage of the one before.
    * The process counters are read just inside the wall, so they leave out
    * that GC and the output check that follows the wall. */
  private def passes(n: Int, first: Int): Seq[Pass] =
    (first until first + n).map { i =>
      drain()
      val io0 = inputTotals()
      val (landed0, landedBytes0) = (landedRows, landedBytes)
      val sums = new Array[Double](4)
      val wall = passJobs(i).map { case (name, job) =>
        resetCaches()
        System.gc()
        val c0 = counters()
        val t0 = now()
        val check = try job() catch { case NonFatal(e) => () => Some(describe(e)) }
        val wall = now() - t0
        val delta = counters().zip(c0).map { case (b, a) => b - a }
        delta.indices.foreach(k => sums(k) += delta(k))
        val failure = try check() catch { case NonFatal(e) => Some(describe(e)) }
        attempts += Attempt(name, wall, delta(0) + delta(1), failure.isDefined)
        failure.foreach(f => failures.getOrElseUpdate(name, f.linesIterator.take(1).mkString.take(300)))
        wall
      }.sum
      val Array(user, sys, gc, written) = sums
      drain()
      val io = inputTotals().minus(io0)
      if (conf.workload == "ingest_refresh")
        Pass(wall, user, sys, gc, written.toLong, landedRows - landed0, landedBytes - landedBytes0)
      else Pass(wall, user, sys, gc, written.toLong, io.inputRecords, io.inputBytes)
    }

  private def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  private def inputTotals(): LayerListener.Totals =
    listener.snapshot().values.foldLeft(new LayerListener.Totals)(_ plus _)

  private def procFields(file: String): Seq[String] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq

  /** (user, sys) CPU seconds of this process. */
  private def cpuTimes(): (Double, Double) = {
    val stat = procFields("/proc/self/stat").head
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong / 100.0, f(12).toLong / 100.0) // utime, stime at 100 ticks/s
  }

  private def bytesWritten(): Long =
    procFields("/proc/self/io").find(_.startsWith("wchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def peakRssMb(): Double =
    procFields("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong / 1024.0).getOrElse(0.0)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def run(): Seq[String] = {
    val w0 = now()
    warmUp()
    val prewarm = now() - w0
    resetCaches()
    System.gc()
    drain()
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    if (!conf.trace) {
      val ps = passes(conf.passes, 0)
      // wall_s and cpu_s sum each query's median over the passes, robust to
      // a one-off slow pass or JIT burst; an ingest pass is one cycle
      val jobWalls = attempts.map(_.wall).toSeq
      def perPass(f: Attempt => Double): Double =
        if (conf.workload == "ingest_refresh") median(attempts.map(f).toSeq)
        else attempts.groupBy(_.name).values.map(v => median(v.map(f).toSeq)).sum
      metrics ++= Seq(
        "setup_s" -> (setupS, "s"),
        "wall_s" -> (perPass(_.wall), "s"),
        "job_p50_s" -> (median(jobWalls), "s"),
        "job_p90_s" -> (percentile(jobWalls, 0.9), "s"),
        "cpu_s" -> (perPass(_.cpu), "s"),
        "peak_rss_mb" -> (peakRssMb(), "MB"),
        "ingest_rows_per_s" -> (median(ps.map(p => p.rows / p.wall)), "1/s"),
        "write_amp" -> (median(ps.map(p => p.written.toDouble / math.max(1L, p.inBytes))), "ratio"))
      finish(metrics, Seq(s""""pass_walls_s": ${ps.map(p => f"${p.wall}%.3f").mkString("[", ", ", "]")}""",
        s""""prewarm_s": $prewarm"""))
    } else {
      // Untraced passes just before and just after the traced ones are the
      // baseline of trace.overhead_s; bracketing cancels most JIT drift.
      val untracedBefore = passes(1, 0).map(_.wall)
      tracing = true
      drain()
      val before = listener.snapshot()
      val traced = passes(conf.passes, 1)
      val walls = traced.map(_.wall)
      val n = walls.size.toDouble
      tracing = false
      val untraced = untracedBefore ++ passes(1, conf.passes + 1).map(_.wall)
      tracing = true
      drain()
      val after = listener.snapshot()
      def phase(p: String) = after.getOrElse(p, LayerListener.empty).minus(before.getOrElse(p, LayerListener.empty))
      def phases(prefix: String) = after.keys.filter(_.startsWith(prefix)).map(phase).foldLeft(new LayerListener.Totals)(_ plus _)
      val build = phase("build")
      val plan = phases("plan.")
      val act = phase("action")
      val actionS = spans("action")
      val busy = busySeconds(act.intervals.toSeq)
      val perPass = spans.toMap.map { case (k, v) => k -> v / n }
      val sourcesJobs0 = phase("sources").jobs
      // layer probes outside the measured passes
      val probeS = if (conf.workload == "ingest_refresh") 0.0 else sourcesProbe()
      val fns = functionProbes()
      if (conf.workload != "ingest_refresh") {
        // the first cycle in this JVM is cold; keep the second
        (1 to 2).foreach { _ =>
          spans.keys.filter(_.startsWith("etl.")).toSeq.foreach(spans.remove)
          ingestCycle(snapshot(0), withQueries = false)
        }
      }
      drain()
      val sourcesJobs = listener.snapshot().getOrElse("sources", LayerListener.empty).jobs -
        before.getOrElse("sources", LayerListener.empty).jobs
      val etl = (k: String) =>
        if (conf.workload == "ingest_refresh") perPass.getOrElse(k, 0.0) else spans(k)
      metrics ++= Seq(
        "sources.resolve_s" -> (perPass.getOrElse("sources", 0.0) + probeS, "s"),
        "sources.resolve_jobs" -> (if (conf.workload == "ingest_refresh") sourcesJobs0 / n else (sourcesJobs - sourcesJobs0).toDouble, "count"),
        "operators.build_s" -> (perPass.getOrElse("build", 0.0), "s"),
        "operators.build_jobs" -> (build.jobs / n, "count"),
        "operators.build_stages" -> (build.stages / n, "count"),
        "plans.analyze_s" -> (perPass.getOrElse("plan.analyze", 0.0), "s"),
        "plans.optimize_s" -> (perPass.getOrElse("plan.optimize", 0.0), "s"),
        "plans.physical_s" -> (perPass.getOrElse("plan.physical", 0.0), "s"),
        "plans.jobs" -> (plan.jobs / n, "count"),
        "exec.action_s" -> (actionS / n, "s"),
        "exec.jobs" -> (act.jobs / n, "count"),
        "exec.stages" -> (act.stages / n, "count"),
        "exec.tasks" -> (act.tasks / n, "count"),
        "exec.idle_gap_s" -> ((actionS - busy) / n, "s"),
        "exec.task_cpu_s" -> (act.cpuNs / 1e9 / n, "s"),
        "exec.task_run_s" -> (act.runMs / 1e3 / n, "s"),
        "exec.core_util" -> (act.runMs / 1e3 / math.max(1e-9, actionS * cores), "ratio"),
        "exec.task_gc_s" -> (act.gcMs / 1e3 / n, "s"),
        "exec.shuffle_write_mb" -> (act.shuffleWrite / 1048576.0 / n, "MB"),
        "exec.shuffle_read_mb" -> (act.shuffleRead / 1048576.0 / n, "MB"),
        "exec.spill_mb" -> (act.spill / 1048576.0 / n, "MB"),
        "functions.minhash_sig_ns_row" -> (fns("minhash_sig"), "ns/row"),
        "functions.shingle_hashes_ns_row" -> (fns("shingle_hashes"), "ns/row"),
        "functions.word_ngrams_ns_row" -> (fns("word_ngrams"), "ns/row"),
        "functions.dot_product_ns_row" -> (fns("dot_product"), "ns/row"),
        "functions.uuid5_ns_row" -> (fns("uuid5"), "ns/row"),
        "caches.persisted_max" -> (persistedMax.toDouble, "count"),
        "caches.pending_max" -> (pendingMax.toDouble, "count"),
        "caches.storage_mb_max" -> (storageMbMax, "MB"),
        "memo.prewarm_s" -> (prewarm, "s"),
        "memo.artifact_mb" -> (dirBytes(new File(sys.props("java.io.tmpdir"))) / 1048576.0, "MB"),
        "etl.resolve_dates_s" -> (etl("etl.resolve_dates"), "s"),
        "etl.extract_s" -> (etl("etl.extract"), "s"),
        "etl.transform_s" -> (etl("etl.transform"), "s"),
        "etl.merge_cast_s" -> (etl("etl.merge_cast"), "s"),
        "etl.report_s" -> (etl("etl.report"), "s"),
        "etl.sink_parquet_s" -> (etl("etl.sink_parquet"), "s"),
        "etl.sink_jdbc_s" -> (etl("etl.sink_jdbc"), "s"),
        "etl.sink_written_mb" -> (etl("etl.sink_written_mb"), "MB"),
        "jvm.gc_s" -> (traced.map(_.gc).sum / n, "s"),
        "jvm.user_cpu_s" -> (traced.map(_.user).sum / n, "s"),
        "jvm.sys_cpu_s" -> (traced.map(_.sys).sum / n, "s"),
        "trace.overhead_s" -> (median(walls) - untraced.sum / untraced.size, "s"))
      finish(metrics, Seq(s""""passes": ${walls.size}"""))
    }
  }

  /** Seconds inside the recorded action windows during which at least one
    * action task ran. */
  private def busySeconds(tasks: Seq[(Long, Long)]): Double = {
    val sorted = tasks.sortBy(_._1)
    actionWindows.map { case (w0, w1) =>
      var covered = 0L
      var cur = w0
      sorted.foreach { case (t0, t1) =>
        val a = math.max(t0, cur)
        val b = math.min(t1, w1)
        if (b > a) { covered += b - a; cur = b }
      }
      covered
    }.sum / 1000.0
  }

  /** One Tables call per base table, as a pass of queries makes. */
  private def sourcesProbe(): Double = {
    val t0 = now()
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings").foreach(t => span("sources")(Tables.table(spark, conf.data, t)))
    span("sources")(Tables.events(spark, conf.data))
    now() - t0
  }

  /** Nanoseconds per row of a fixed projection and aggregate per kernel,
    * over cached inputs replicated to about 100k rows, median of three. */
  private def functionProbes(): Map[String, Double] = {
    def copies(table: String) =
      lit(math.max(1L, 100000L / Tables.table(spark, conf.data, table).count()).toInt)
    val docs = Tables.table(spark, conf.data, "documents")
      .withColumn("k", explode(sequence(lit(1), copies("documents"))))
      .select(col("text"), concat_ws("_", col("doc_id"), col("k")).as("key")).cache()
    val embs = Tables.table(spark, conf.data, "embeddings")
      .withColumn("k", explode(sequence(lit(1), copies("embeddings"))))
      .select(col("embedding").cast("array<double>").as("embedding"))
      .select(col("embedding"), reverse(col("embedding")).as("other")).cache()
    val nDocs = docs.count().toDouble
    val nEmbs = embs.count().toDouble
    docs.createOrReplaceTempView("perfbench_docs")
    embs.createOrReplaceTempView("perfbench_embs")
    val probes = Seq(
      ("minhash_sig", "select sum(xxhash64(minhash_sig(word_shingles(text), 64)) & 4294967295) from perfbench_docs", nDocs),
      ("shingle_hashes", "select sum(xxhash64(shingle_hashes(text)) & 4294967295) from perfbench_docs", nDocs),
      ("word_ngrams", "select sum(xxhash64(g.ngram) & 4294967295) from perfbench_docs lateral view word_ngrams(text, 2) g as pos, ngram", nDocs),
      ("dot_product", "select sum(dot_product(embedding, other)) from perfbench_embs", nEmbs),
      ("uuid5", "select sum(xxhash64(uuid5(key)) & 4294967295) from perfbench_docs", nDocs))
    val out = probes.map { case (name, sql, rows) =>
      val times = (1 to 3).map { _ =>
        val t0 = now()
        span("functions")(spark.sql(sql).collect())
        now() - t0
      }
      name -> median(times) * 1e9 / rows
    }.toMap
    docs.unpersist(); embs.unpersist()
    out
  }

  private def finish(metrics: mutable.LinkedHashMap[String, (Double, String)], notes: Seq[String]): Seq[String] = {
    if (conf.record) {
      Digest.save(conf.expected, Digest.load(conf.expected) ++ recorded)
    }
    val attempted = attempts.size
    val failed = attempts.count(_.failed)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val jobWalls = (attempts.map(a => (a.name, a.wall)) ++ steps).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, v) => q(k) + ": " + v.map(w => f"${w._2}%.3f").mkString("[", ", ", "]") }
      .mkString("{", ", ", "}")
    val failedJobs = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    val annotations = (Seq(
      s""""workload": ${q(conf.workload)}""", s""""seed": ${conf.seed}""",
      s""""jobs": $attempted""", s""""failed_frac": ${failed.toDouble / math.max(1, attempted)}""",
      s""""failed_jobs": $failedJobs""", s""""cores": $cores""",
      s""""job_walls_s": $jobWalls""") ++ notes).mkString("{", ", ", "}")
    val ms = metrics.map { case (k, (v, unit)) =>
      val value = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s"${q(k)}: {\"value\": $value, \"unit\": ${q(unit)}}"
    }.mkString("{", ", ", "}")
    Seq(s"""{"annotations": $annotations}""",
      s"""{"correct": ${failures.isEmpty}, "attempted": ${math.max(1, attempted)}, "failed": $failed, "metrics": $ms}""")
  }
}
