package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.cli.GraftEngine

/** One benchmark run in one JVM: set up, build the workload's artifacts
  * cold, then run its job list through `GraftEngine.jobs.runJob` until the
  * measuring window closes, checking every job's full result. Writes
  * `result.json` (and, traced, `spans.jsonl`) into the run directory;
  * `perfbench/run.py` prints them.
  *
  * Modes: `bench` (default), `capture` (prints each job's digest, run in
  * three orders, for the expected-digest file). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      fixtures: String, expected: String, runDir: Path, cpus: Int, mode: String,
      only: Seq[String], perturb: Map[String, String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", req("fixtures"), req("expected"),
      Paths.get(req("run-dir")).toAbsolutePath, m.getOrElse("cpus", "4").toInt,
      m.getOrElse("mode", "bench"), m.get("only").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      m.get("perturb").toSeq.flatMap(_.split(",")).map(_.split("=", 2))
        .collect { case Array(n, f) => n -> f }.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        2
    }
    // halt: the run is over and its directory is deleted by the caller, so
    // stopping Spark and running exit hooks would only add to the run's time
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  /** graft keeps its spools under a fixed tmpfs root shared by every graft
    * JVM (and deleted whole by each one's exit hook). Pre-seeding that lazy
    * root keeps this run's spools and streaming checkpoints in its own
    * directory, which lies inside the checkout. Returns false if graft no
    * longer has the field. */
  def isolateSpool(dir: Path): Boolean = try {
    val cls = Class.forName("graft.operators.package$")
    val root = cls.getDeclaredField("spoolRoot")
    val flag = cls.getDeclaredField("bitmap$0")
    root.setAccessible(true); flag.setAccessible(true)
    Files.createDirectories(dir)
    root.set(null, dir)
    flag.setBoolean(null, true)
    true
  } catch { case _: ReflectiveOperationException => false }

  def newSession(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.runDir.resolve("warehouse").toString)
      .config("spark.local.dir", a.runDir.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", a.runDir.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** What one job's query function observed inside `runJob`. */
  final case class InJob(buildS: Double, digestS: Double, wallS: Double,
      value: Option[Digest.Value], error: Option[String])

  final case class JobRecord(pass: Int, name: String, wallS: Double, inJob: Option[InJob],
      ok: Boolean, problem: Option[String], mismatch: Boolean)

  def run(a: Args): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spoolIsolated = isolateSpool(a.runDir.resolve("spool"))
    val heap = new HeapPeak
    Workloads.checkCoverage()
    val wl = Workloads.byName(a.workload)
    val jobList = if (a.only.nonEmpty) wl.pool.filter(q => a.only.contains(q.name)) else wl.jobs
    // self-test: perturb one field of an entry's expected digest
    val expected = a.perturb.foldLeft(Digest.load(a.expected)) {
      case (e, (n, "hash")) => e.updated(n, e(n).copy(hash = "0"))
      case (e, (n, "rows")) => e.updated(n, e(n).copy(rows = e(n).rows + 1))
      case (_, (n, f))      => throw new IllegalArgumentException(s"--perturb $n=$f: field must be hash or rows")
    }
    val tracer = new Tracer(s"${a.workload}-${a.seed}-${System.currentTimeMillis()}", a.trace)
    val inFlight = ConcurrentHashMap.newKeySet[java.lang.Long]()
    def currentJob(): Long = inFlight.asScala.toSeq match {
      case Seq(one) => one.longValue
      case _        => 0L
    }
    val inJob = new ConcurrentHashMap[Long, InJob]()
    val catalog = if (wl.catalogOpsPerSec > 0)
      Some(new CatalogClient(a.runDir.resolve("catalog"), a.seed, wl.catalogOpsPerSec, tracer))
      else None

    // ---- set-up: JVM start to first submit ----------------------------------
    val spark = newSession(a)
    val engine = new GraftEngine(spark)
    val runner = engine.jobs
    jobList.foreach { q =>
      runner.register(runner.JobSpec(q.name, (s, params) =>
        runEntry(s, q, a.fixtures, params("span").toLong, tracer, inFlight, inJob)))
    }
    warmUp(spark, a.fixtures)
    catalog.foreach(_.setup(engine))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sc = spark.sparkContext

    val streams = new StreamProbe(tracer, () => currentJob())
    sc.addSparkListener(streams)
    val execProbe = if (a.trace) Some(new ExecProbe(tracer)) else None
    val planProbe = execProbe.map(e => new PlanProbe(tracer, e, () => currentJob()))
    execProbe.foreach(sc.addSparkListener)
    planProbe.foreach(spark.listenerManager.register)
    val cacheSampler = if (a.trace) Some(new CacheSampler(spark)) else None
    cacheSampler.foreach(_.start())

    val failures = mutable.ArrayBuffer.empty[(String, String)]
    val host0 = HostCpu.sample()
    val cg0 = Codegen.snap()
    val gc0 = JvmGc.pauseS()

    // ---- artifacts, cold: evict first so a stale spool is not a memo hit ----
    val artifactList = if (a.only.nonEmpty) Nil else wl.artifacts
    artifactList.foreach { case (n, _) => SparkEntry.evictArtifact(n, a.fixtures) }
    val artifactTimes = artifactList.map { case (n, build) =>
      val t = System.nanoTime()
      val err = tracer.span("artifact", n, 0L) { id =>
        sc.setLocalProperty(Props.Span, id.toString)
        inFlight.add(id)
        try { build(spark, a.fixtures); None } catch { case e: Throwable => Some(e.toString) }
        finally { inFlight.remove(id); sc.setLocalProperty(Props.Span, null) }
      }
      err.foreach(e => failures += (n -> e))
      n -> (System.nanoTime() - t) / 1e9
    }
    val spoolMb = dirBytes(a.runDir.resolve("spool")) / 1048576.0
    spark.catalog.clearCache()

    if (a.mode == "capture") return capture(a, wl, jobList, engine, inJob)

    // ---- job window ---------------------------------------------------------
    val windowStart = System.nanoTime()
    val deadline = windowStart + (a.seconds * 1e9).toLong
    @volatile var jobsDone = false
    val catalogThread = catalog.map { c =>
      val t = new Thread(() => c.run(engine, () => jobsDone, 0L), "perfbench-catalog")
      t.start(); t
    }
    val records = new ConcurrentLinkedQueue[JobRecord]()
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      val p = pass
      val passStart = System.nanoTime()
      tracer.span("pass", s"pass $p", 0L) { passSpan =>
        val clients = (0 until wl.jobClients).map { c =>
          val order = clientOrder(jobList, wl.jobClients, c, a.seed, p)
          val t = new Thread(() =>
            order.foreach(q => records.add(runOne(engine, q.name, p, passSpan, tracer, inJob, expected))),
            s"perfbench-client-$c")
          t.start(); t
        }
        clients.foreach(_.join())
      }
      passWalls += (System.nanoTime() - passStart) / 1e9
      spark.catalog.clearCache()
      pass += 1
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    jobsDone = true
    catalogThread.foreach(_.join())
    val host1 = HostCpu.sample()
    val cg1 = Codegen.snap()
    val gc1 = JvmGc.pauseS()
    org.apache.spark.PerfbenchBus.drain(sc)
    cacheSampler.foreach(_.running = false)
    System.gc()
    val retainedMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    // ---- results ------------------------------------------------------------
    val recs = records.asScala.toSeq
    recs.filter(r => !r.ok || r.mismatch).foreach(r => failures += (r.name -> r.problem.getOrElse("failed")))
    val catOps = catalog.map(_.ops.asScala.toSeq).getOrElse(Nil)
    catOps.filter(_.error.nonEmpty).foreach(o => failures += (s"catalog:${o.kind}" -> o.error.get))
    val attempted = artifactList.size + recs.size + catOps.size
    val mismatched = recs.count(_.mismatch)
    val failed = failures.size
    val batches = streams.batches.asScala.toSeq
    val foreign = HostCpu.foreignCoreS(host0, host1)
    val measuredS = host1.wallS - host0.wallS

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
    val jobWalls = recs.filter(_.ok).map(_.wallS)
    put("setup_s", setupS, "s")
    put("artifacts_s", artifactTimes.map(_._2).sum, "s")
    put("pass_s", Stats.median(passWalls.toSeq), "s")
    put("job_p50_s", Stats.quantile(jobWalls, 0.5), "s")
    put("job_p90_s", Stats.quantile(jobWalls, 0.9), "s")
    put("heap_peak_mb", heap.peakMb, "MB")
    put("heap_retained_mb", retainedMb, "MB")
    put("error_rate", failed.toDouble / math.max(1, attempted), "ratio")
    if (catOps.nonEmpty) {
      val lat = catOps.map(o => (o.endNs - o.scheduledNs) / 1e6)
      put("catalog_p50_ms", Stats.quantile(lat, 0.5), "ms")
      put("catalog_p95_ms", Stats.quantile(lat, 0.95), "ms")
    }
    if (batches.nonEmpty) {
      put("microbatch_p50_ms", Stats.quantile(batches.map(_.triggerMs), 0.5), "ms")
      put("microbatch_p90_ms", Stats.quantile(batches.map(_.triggerMs), 0.9), "ms")
    }

    if (a.trace) {
      val e = execProbe.get
      val pp = planProbe.get
      def entryRuns(n: String) = recs.filter(_.name == n)
      put("catalyst.analysis_s", pp.phaseMs("analysis") / 1000.0, "s")
      put("catalyst.optimization_s", pp.phaseMs("optimization") / 1000.0, "s")
      put("catalyst.planning_s", pp.phaseMs("planning") / 1000.0, "s")
      val compiles = cg1.compiles - cg0.compiles
      put("codegen.compiles", compiles.toDouble, "count")
      put("codegen.compile_s", compiles * cg1.meanCompileMs / 1000.0, "s")
      put("codegen.source_kb", (cg1.sourceCount - cg0.sourceCount) * cg1.meanSourceBytes / 1024.0, "KB")
      put("codegen.max_method_bytes", cg1.maxMethodBytes.toDouble, "bytes")
      put("census.plan_nodes", pp.planNodes.toDouble, "count")
      put("census.max_expr_nodes", pp.maxExprNodes.toDouble, "count")
      put("census.hof_lambdas", pp.hofLambdas.toDouble, "count")
      put("census.plan_text_kb", pp.planTextBytes / 1024.0, "KB")
      put("census.exchanges", pp.exchanges.toDouble, "count")
      put("census.smj", pp.smj.toDouble, "count")
      put("census.bhj", pp.bhj.toDouble, "count")
      put("census.windows", pp.windows.toDouble, "count")
      put("census.generates", pp.generates.toDouble, "count")
      put("census.cached_scans", pp.cachedScans.toDouble, "count")
      put("census.graft_execs", pp.graftExecs.toDouble, "count")
      put("exec.spark_jobs", e.sparkJobs.toDouble, "count")
      Seq("s19_pagerank_centrality", "s27_label_propagation").foreach { n =>
        val runs = entryRuns(n).size
        val jobs = Option(e.entryJobs.get(n)).map(_.get).getOrElse(0L)
        put(s"entry.${n}_spark_jobs", if (runs == 0) 0.0 else jobs.toDouble / runs, "count")
      }
      put("exec.stages", e.stages.toDouble, "count")
      put("exec.tasks", e.tasks.toDouble, "count")
      put("exec.task_run_s", e.taskRunMs / 1000.0, "s")
      put("exec.task_cpu_s", e.taskCpuNs / 1e9, "s")
      put("exec.gc_s", e.gcMs / 1000.0, "s")
      put("exec.shuffle_write_mb", e.shuffleWrite / 1048576.0, "MB")
      put("exec.shuffle_read_mb", e.shuffleRead / 1048576.0, "MB")
      put("exec.spill_mb", e.spill / 1048576.0, "MB")
      put("exec.peak_exec_mem_mb", e.peakExecMem / 1048576.0, "MB")
      put("exec.core_busy_frac", e.taskRunMs / 1000.0 / (measuredS * a.cpus), "ratio")
      put("cache.peak_mb", cacheSampler.get.peakBytes / 1048576.0, "MB")
      put("jvm.gc_pause_s", gc1 - gc0, "s")
      def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      put("stream.queries", streams.queries.toDouble, "count")
      put("stream.batches", batches.size.toDouble, "count")
      put("stream.input_rows", batches.map(_.inputRows).sum.toDouble, "count")
      put("stream.startup_ms", streams.startupMs, "ms")
      put("stream.add_batch_ms", dur("addBatch"), "ms")
      put("stream.query_planning_ms", dur("queryPlanning"), "ms")
      put("stream.wal_commit_ms", dur("walCommit"), "ms")
      put("stream.commit_offsets_ms", dur("commitOffsets"), "ms")
      put("stream.latest_offset_ms", dur("latestOffset"), "ms")
      put("stream.state_rows", batches.map(_.stateRows).sum.toDouble, "count")
      put("stream.state_mem_mb", batches.map(_.stateMemBytes).maxOption.getOrElse(0L) / 1048576.0, "MB")
      put("stream.state_commit_ms", batches.map(_.stateCommitMs).sum.toDouble, "ms")
      val inJobs = recs.flatMap(_.inJob)
      put("operators.build_s", inJobs.map(_.buildS).sum, "s")
      put("jobs.run_overhead_ms",
        Stats.median(recs.flatMap(r => r.inJob.map(i => (r.wallS - i.wallS) * 1000.0))), "ms")
      CatalogClient.Kinds.foreach { k =>
        val lat = catOps.filter(_.kind == k).map(o => (o.endNs - o.startNs) / 1e6)
        put(s"catalog.${k}_ms", if (lat.isEmpty) 0.0 else Stats.median(lat), "ms")
      }
      put("catalog.generator_late_ms",
        if (catOps.isEmpty) 0.0 else Stats.quantile(catOps.map(o => (o.startNs - o.scheduledNs) / 1e6), 0.95), "ms")
      SparkEntry.artifacts.map(_._1).foreach { n =>
        put(s"artifacts.${n}_s", artifactTimes.toMap.getOrElse(n, 0.0), "s")
      }
      put("artifacts.spool_mb", spoolMb, "MB")
      put("jobs.attempted", attempted.toDouble, "count")
      put("jobs.failed", failed.toDouble, "count")
      put("jobs.mismatched", mismatched.toDouble, "count")
      Workloads.all.flatMap(_.anchors).foreach { n =>
        val w = entryRuns(n).map(_.wallS)
        put(s"entry.${n}_s", if (w.isEmpty) 0.0 else Stats.median(w), "s")
      }
      tracer.write(a.runDir.resolve("spans.jsonl"))
    }

    val result = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "run_id" -> tracer.runId,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "mismatched" -> mismatched,
      "failures" -> failures.map { case (n, r) => Json.obj("op" -> n, "reason" -> r.take(300)) },
      "metrics" -> m.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "counts" -> Json.obj("jobs" -> recs.size, "passes" -> passWalls.size,
        "catalog_ops" -> catOps.size, "micro_batches" -> batches.size,
        "artifacts" -> artifactList.size, "job_list" -> jobList.size),
      "jobs" -> recs.map(r => Seq(r.name, r.pass, r.wallS, r.inJob.map(_.buildS).getOrElse(0.0),
        r.inJob.map(_.digestS).getOrElse(0.0))),
      "artifact_s" -> artifactTimes.toMap,
      "pass_walls_s" -> passWalls.toSeq, "window_s" -> windowS,
      "host" -> Json.obj("foreign_core_s" -> foreign, "measured_s" -> measuredS,
        "foreign_cores" -> foreign / math.max(measuredS, 1e-9),
        "dirty" -> (foreign / math.max(measuredS, 1e-9) > 0.5)),
      "spool_root" -> (if (spoolIsolated) a.runDir.resolve("spool").toString else "graft default"))
    Files.writeString(a.runDir.resolve("result.json"), Json(result))
    0
  }

  /** Warm the engine: the shuffle, window and join machinery on a small
    * synthetic frame, and each fixture table's listing and footer. Data
    * pages are left to the first reader; the files are small and the
    * page cache holds them after the first run in a checkout. */
  def warmUp(spark: SparkSession, fixtures: String): Unit = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("n")
    val r = spark.range(1000).select(col("id"), pmod(col("id"), lit(7)).as("k"))
    r.groupBy("k").agg(count(lit(1)).as("n")).withColumn("rn", row_number().over(w))
      .join(r, "k").count()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Option(new java.io.File(fixtures).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).sorted
      .foreach(t => spark.read.parquet(s"$fixtures/$t").schema)
  }

  /** The query function every registered job runs: build the entry's
    * DataFrame, then force and digest its full result. Returns an empty
    * frame, so the runner's own `count()` adds no work. */
  def runEntry(s: SparkSession, q: graft.operators.GraftQuery, fixtures: String, span: Long,
      tracer: Tracer, inFlight: java.util.Set[java.lang.Long],
      inJob: ConcurrentHashMap[Long, InJob]): DataFrame = {
    val sc = s.sparkContext
    sc.setLocalProperty(Props.Entry, q.name)
    inFlight.add(span)
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      // Spark jobs started inside a phase name that phase's span as parent
      def phase[T](kind: String)(body: => T): T = tracer.span(kind, q.name, span) { id =>
        sc.setLocalProperty(Props.Span, id.toString)
        body
      }
      val df = phase("build")(q.build(s, fixtures))
      t1 = System.nanoTime()
      val v = phase("digest")(Digest.of(df))
      val t2 = System.nanoTime()
      inJob.put(span, InJob((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t2 - t0) / 1e9, Some(v), None))
      s.emptyDataFrame
    } catch {
      case e: Throwable =>
        val t2 = System.nanoTime()
        inJob.put(span, InJob((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t2 - t0) / 1e9, None,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")))
        throw e
    } finally {
      inFlight.remove(span)
      sc.setLocalProperty(Props.Span, null)
      sc.setLocalProperty(Props.Entry, null)
    }
  }

  /** Client `c`'s jobs for one pass: the job list is dealt round-robin
    * to the clients (so each client's share, and the pass's critical path,
    * does not depend on the seed), then the seed orders each share. */
  def clientOrder(jobs: Seq[graft.operators.GraftQuery], clients: Int, c: Int, seed: Long,
      pass: Int): Seq[graft.operators.GraftQuery] = {
    val share = jobs.zipWithIndex.collect { case (q, i) if i % clients == c => q }
    new scala.util.Random(seed * 1000003L + pass * 101L + c).shuffle(share)
  }

  /** One sync `runJob` call, timed from the client, with its output check. */
  def runOne(engine: GraftEngine, name: String, pass: Int, passSpan: Long, tracer: Tracer,
      inJob: ConcurrentHashMap[Long, InJob], expected: Map[String, Digest.Expected]): JobRecord = {
    val t = System.nanoTime()
    tracer.span("job", name, passSpan) { span =>
      val ok = try engine.jobs.runJob(name, Map("span" -> span.toString), timeoutSec = Some(150))
        catch { case e: Throwable => inJob.putIfAbsent(span, InJob(0, 0, 0, None, Some(e.toString))); false }
      val wall = (System.nanoTime() - t) / 1e9
      val seen = Option(inJob.remove(span))
      val problem =
        if (!ok) Some(seen.flatMap(_.error).getOrElse("job failed"))
        else seen.flatMap(_.value).flatMap(v => Digest.check(name, v, expected))
      JobRecord(pass, name, wall, seen, ok, problem, ok && problem.nonEmpty)
    }
  }

  /** Runs the job list in three orders (registry order, reversed, and
    * seeded with the workload's client count) and prints one line per
    * entry and order: `capture <name> <order> <rows> <hash>`. */
  def capture(a: Args, wl: Workload, jobList: Seq[graft.operators.GraftQuery],
      engine: GraftEngine, inJob: ConcurrentHashMap[Long, InJob]): Int = {
    val tracer = new Tracer("capture", false)
    val orders = Seq("forward" -> jobList, "reverse" -> jobList.reverse,
      "seeded" -> new scala.util.Random(a.seed).shuffle(jobList))
    orders.foreach { case (label, order) =>
      val queue = new ConcurrentLinkedQueue(order.asJava)
      val clients = (1 to (if (label == "seeded") wl.jobClients else 1)).map { _ =>
        val t = new Thread(() => {
          var q = queue.poll()
          while (q != null) {
            val span = tracer.nextId()
            val ok = try engine.jobs.runJob(q.name, Map("span" -> span.toString), timeoutSec = Some(150))
              catch { case _: Throwable => false }
            val v = Option(inJob.remove(span)).flatMap(_.value)
            val line = v.map(d => s"${d.rows} ${d.hash}").getOrElse("FAILED -")
            synchronized(println(s"capture ${q.name} $label ${if (ok) line else "FAILED -"}"))
            q = queue.poll()
          }
        })
        t.start(); t
      }
      clients.foreach(_.join())
      engine.spark.catalog.clearCache()
    }
    0
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
