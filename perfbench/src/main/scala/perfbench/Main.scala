package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.io.Source

/** One benchmark run of one workload, in one JVM:
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work <scratch dir> --data <registry testdata dir>
  *     --expected <digest dir>
  *
  * Prints one JSON line with the run's context and details (the digests
  * it computed among them), then the result line:
  * {"correct","attempted","failed","metrics"}. With `--trace 0` the
  * metrics are the end-to-end ones, measured with no listener
  * registered; with `--trace 1` they are the per-layer ones. Each
  * workload does a fixed amount of work, so `--seconds` is only
  * recorded in the context.
  */
object Main {
  final case class Result(e2e: Map[String, Double], layers: Map[String, Double],
      details: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = graft.Sessions.local(cpus.toString)
    val trace = if (traceOn) Some(Trace.register(spark)) else None
    val run = new Run(spark, trace)
    val expectedFile = new File(a("expected"), s"$workload.tsv")
    val expected = readDigests(expectedFile)
    val computed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def check(name: String, got: String): Unit = {
      if (computed.get(name).exists(_ != got))
        run.failures += s"digest $name differs within the run"
      computed(name) = got
      run.check(name, got, expected.get(name))
    }

    val result = workload match {
      case Dashboard.Name => dashboard(run, seed, work, check)
      case Registry.Name => registry(run, seed, a("data"), check)
      case other => sys.error(s"unknown workload $other")
    }

    val context = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traceOn, "nproc" -> cpus,
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "source_sha256" -> sys.props.getOrElse("perfbench.source", "unknown"),
      "expected_digests" -> expectedFile.getName,
      "digests" -> computed.toSeq.sorted.toMap,
      "failures" -> run.failures.take(20))
    println(Json.render(Map("perfbench" -> (context ++ result.details))))
    val unknown = result.layers.keySet -- Layers.All
    require(unknown.isEmpty, s"per-layer metrics missing from Layers.All: $unknown")
    val metrics =
      if (traceOn) Layers.All.map(k => k -> result.layers.getOrElse(k, 0.0)).toMap
      else result.e2e
    println(Json.render(Map(
      "correct" -> (run.failed == 0 && run.attempted > 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> unit(k)) })))
    spark.stop()
  }

  /** Unit of a metric this harness emits, from its name. */
  def unit(name: String): String =
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name == "storage_ratio") "bytes/byte"
    else "count"

  def readDigests(f: File): Map[String, String] =
    if (!f.exists) Map.empty
    else {
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split('\t')).collect { case Array(k, v) => k -> v }.toMap
      finally src.close()
    }

  private def secondsSince(nanos: Long): Double = (System.nanoTime() - nanos) / 1e9

  /** Seconds since this JVM started: set-up runs from there. */
  private def sinceJvmStart: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Spark-layer metrics of the measured pass (every span the run still
    * holds), and the cost of tracing: `trace.pass_s` is the traced run's
    * load_s + read_s (compare with an untraced run's on the same seed),
    * `trace.handler_s` the time spent in the trace's handlers over the
    * whole run. Reads the trace only after the listener bus has
    * delivered every event of the pass.
    */
  private def sparkLayers(run: Run, e2e: Map[String, Double], gcS: Double,
      pinned: Long): Map[String, Double] =
    run.trace.map { t =>
      org.apache.spark.perfbench.Bus.drain(run.spark.sparkContext)
      Layers.spark(new Layers.View(t, run.spans.toSeq), gcS, pinned) ++ Map(
        "trace.pass_s" -> (e2e("load_s") + e2e("read_s")),
        "trace.handler_s" -> t.handlerSeconds)
    }.getOrElse(Map.empty)

  def dashboard(run: Run, seed: Long, work: String,
      check: (String, String) => Unit): Result = {
    val spark = run.spark
    val csv = s"$work/csv"
    val out = s"$work/out"
    val sessionS = sinceJvmStart
    // input generation is part of neither set-up nor the pass
    val g0 = System.nanoTime()
    val rows = Dashboard.writeInputs(spark, csv, seed, Dashboard.Volumes)
    val genS = secondsSince(g0)

    // warm-up, part of set-up: the previous day's load into the same
    // output directory and one round of view fetches. Its digests must
    // equal the measured day's: a daily re-run is idempotent.
    val w0 = System.nanoTime()
    val warm = Dashboard.cycle(run, csv, out, 0, Dashboard.WarmupRounds)
    val setupS = sessionS + secondsSince(w0)
    warm.foreach(c => Dashboard.digests(spark, c, out).foreach { case (k, v) => check(k, v) })
    run.spans.clear()

    val gc0 = run.gcSeconds
    val cycle = Dashboard.cycle(run, csv, out, Dashboard.Rounds / 2,
      Dashboard.Rounds - Dashboard.Rounds / 2)
    val gcS = run.gcSeconds - gc0
    run.sampleLiveHeap()
    cycle.foreach(c => Dashboard.digests(spark, c, out).foreach { case (k, v) => check(k, v) })
    val viewS = cycle.map(_.viewS).getOrElse(Map.empty[String, Double])
    val e2e = Map(
      "setup_s" -> setupS,
      "load_s" -> cycle.map(_.eltS).getOrElse(Double.NaN),
      "read_s" -> (if (viewS.isEmpty) Double.NaN else viewS.values.sum),
      "storage_ratio" ->
        Dashboard.bytesUnder(new File(out)).toDouble / Dashboard.bytesUnder(new File(csv)),
      "heap_live_mb" -> run.liveHeapMb)

    val layers = run.trace.map { t =>
      val base = sparkLayers(run, e2e, gcS, 0L)
      val on = run.spans.toSeq
      val eltSpan = on.find(_.name == "pipeline_run")
      val (pipe, unattributed) = eltSpan.map(Layers.pipeline(t, _))
        .getOrElse((Map.empty[String, Double], Seq.empty[String]))
      val viewPlans = new Layers.View(t, on.filter(_.layer == "views")).plans
      run.failures ++= unattributed.map("unattributed " + _)
      base ++ pipe ++ viewS.map { case (v, s) => s"views.$v.s" -> s } +
        ("views.cartesian_rows" -> viewPlans.map(_.cartesianRows).sum.toDouble)
    }.getOrElse(Map.empty)

    val inputs = rows.map { case (t, n) =>
      t -> Map("rows" -> n, "bytes" -> Dashboard.bytesUnder(new File(s"$csv/$t.csv")))
    }
    val outputs = Dashboard.Stages.flatMap { case (s, ts) =>
      ts.map(t => s"$s.$t" -> Dashboard.bytesUnder(new File(s"$out/$s/$t")))
    }.toMap
    Result(e2e, layers, Map(
      "volumes" -> Map("customers" -> Dashboard.Volumes._1,
        "products" -> Dashboard.Volumes._2, "orders" -> Dashboard.Volumes._3),
      "session_s" -> sessionS,
      "input_generation_s" -> genS,
      "warmup_load_s" -> warm.map(_.eltS),
      "inputs" -> inputs, "output_bytes" -> outputs,
      "view_rounds" -> cycle.map(_.fetches.size / Dashboard.Views.size).getOrElse(0),
      "views" -> viewS,
      "fetches" -> cycle.map(_.fetches.groupBy(_.view)
        .map { case (v, fs) => v -> fs.map(_.seconds) })))
  }

  def registry(run: Run, seed: Long, dir: String,
      check: (String, String) => Unit): Result = {
    val spark = run.spark
    val files = Option(new File(dir).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no registry testdata under $dir")

    Registry.Warmup.foreach(q => Registry.runEntry(run, dir, q))
    run.unpersistAll()
    val setupS = sinceJvmStart
    run.spans.clear()

    val queries = new scala.util.Random(seed).shuffle(Registry.Queries)
    val share = math.ceil(queries.size.toDouble / (Registry.Builds - 1)).toInt
    val entries = Registry.Ingest +: queries.grouped(share).toSeq.flatMap(_ :+ Registry.Ingest)
    var pinned = 0L
    val gc0 = run.gcSeconds
    val reads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
    // one pass: each query's first run in the session, graft.Bench's cold
    // protocol (a second pass would time warm plans)
    entries.zipWithIndex.foreach { case (q, i) =>
      val d =
        if (q != Registry.Ingest) Registry.runEntry(run, dir, q)
        // the first build is the session's own, the one the store faces read
        else Registry.ingest(run, dir, if (i == 0) spark else run.freshSession())
      val span = run.spans.last
      if (span.ok) { if (q == Registry.Ingest) loads += span.seconds else reads(q) = span.seconds }
      d.foreach(check(q, _))
      pinned += run.unpersistAll()
    }
    val gcS = run.gcSeconds - gc0
    run.sampleLiveHeap()
    val store = graft.operators.SketchStore.storeFor(spark, dir)
    val inputBytes = files.map(_.length).sum
    val e2e = Map(
      "setup_s" -> setupS,
      "load_s" -> (if (loads.size == Registry.Builds) Stats.median(loads.toSeq) else Double.NaN),
      "read_s" -> reads.values.sum,
      "storage_ratio" -> Dashboard.bytesUnder(new File(store)).toDouble / inputBytes,
      "heap_live_mb" -> run.liveHeapMb)

    val layers = run.trace.map { t =>
      val base = sparkLayers(run, e2e, gcS, pinned)
      val on = run.spans.toSeq
      val q = on.filter(s => s.ok && s.name != Registry.Ingest).map(_.seconds)
      base ++ Registry.Modules.map(m =>
        s"registry.$m.s" -> on.filter(_.layer == m).map(_.seconds).sum) ++ Map(
        "registry.query_p50_s" -> Stats.median(q),
        "registry.query_p90_s" -> Stats.quantile(q, 0.9))
    }.getOrElse(Map.empty)

    Result(e2e, layers, Map(
      "entries" -> entries.size,
      "inputs" -> files.map(f => f.getName -> f.length).toMap,
      "query_p50_s" -> Stats.median(reads.values.toSeq),
      "query_p90_s" -> Stats.quantile(reads.values.toSeq, 0.9),
      "ingests" -> loads,
      "queries" -> reads))
  }
}
