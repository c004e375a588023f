package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One workload run: set-up (repeated, median), passes back to back until
  * the time budget is spent, output checks after each pass, and — with
  * `--trace 1` — untraced and traced passes alternating, plus micro-rates. Writes one
  * JSON record; `run.py` turns it into the result line.
  *
  * Closed loop, one client: each pass starts when the previous one and its
  * checks have finished. Every pass gets a new SparkSession and an empty
  * model store, so nothing fitted earlier is reused. */
object Main {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmrf)
    f.delete()
  }

  /** Names of the committed durable artifacts under a model-store root. */
  def committed(root: String): Set[String] =
    Option(new File(root).listFiles).toSeq.flatten
      .filter(d => new File(d, "_GRAFT_COMMITTED").exists).map(_.getName).toSet

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  final case class PassRec(id: Int, traced: Boolean, wall: Double, attempted: Int,
                           failed: Int, recall: Double, failures: Seq[String],
                           layer: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = a.getOrElse("workload", ""); val seed = a.getOrElse("seed", "0").toLong
    val seconds = a.getOrElse("seconds", "0").toDouble; val trace = a.get("trace").contains("1")
    val work = new File(a("work")).getAbsolutePath
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val selftest = a.get("selftest").contains("1")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm the scheduler, codegen and shuffle path on data graft never sees
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
    val sessionUp = (System.currentTimeMillis() - jvmStart) / 1000.0
    // build step: the classes loaded up to here go into the class-data-sharing archive
    if (a.get("classlist").contains("1")) { spark.stop(); return }

    val w = Workloads.all(wl)(cpus)
    // set-up three times from the same seed; the last copy is the input
    val setupReps = (0 until 3).map { r =>
      val d = s"$work/input-$r"
      val t0 = System.nanoTime()
      w.setup(spark.newSession(), seed, d)
      (System.nanoTime() - t0) / 1e9
    }
    (0 until 2).foreach(r => rmrf(new File(s"$work/input-$r")))
    val setupS = sessionUp + median(setupReps)

    if (selftest) { SelfTest.run(spark, w, work); spark.stop(); return }

    val exec = new ExecListener
    if (trace) spark.sparkContext.addSparkListener(exec)
    val tracer = new Tracer(false, spark)
    val ttracer = new Tracer(true, spark)
    val defaultModels = new File(System.getProperty("user.dir"), "target/graft_models")
    def defaultListing = Option(defaultModels.list).map(_.toSet).getOrElse(Set.empty[String])

    def runPass(k: Int, traced: Boolean): PassRec = {
      val s = spark.newSession()
      val models = s"$work/models/pass-$k"
      new File(models).mkdirs()
      s.conf.set("spark.graft.models.dir", models)
      val out = s"$work/out/pass-$k"
      new File(out).mkdirs()
      val plan = new PlanCounters
      if (traced) s.listenerManager.register(new PlanListener(plan))
      val tr = if (traced) ttracer else tracer
      tr.pass = k
      if (traced) tr.probe = new PassProbe(s, plan, models)
      new File(s"$work/checks").mkdirs()
      val ctx = PassCtx(s, tr, out, s"$work/checks/pass-$k-")
      val defaultBefore = defaultListing
      val t0 = System.nanoTime()
      val res = Try(tr.call("pass")(w.pass(ctx)))
      val wall = (System.nanoTime() - t0) / 1e9
      // traced: read the pass's counters before the checks add queries
      val traceLayer =
        if (!traced) Map.empty[String, Double]
        else {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          s.listenerManager.clear()
          traceMetrics(tr, k, wall, exec, plan, cpus)
        }
      val failures = mutable.ArrayBuffer.empty[String]
      var attempted = 1; var failed = 0; var recall = 0.0
      var layer = Map.empty[String, Double]
      // model-store isolation: the pass's own store is new and empty, so an
      // earlier pass could only leak through the default store; traced
      // passes also count loads of artifacts committed before the reading
      // span started
      val loads = if (traced) tr.durableLoads else 0
      if (defaultListing != defaultBefore || loads != 0) {
        failed += 1
        failures += s"pass $k: default model store changed or $loads durable loads"
      }
      res.flatMap(o => Try(w.check(ctx, o))) match {
        case Success(oc) =>
          attempted += oc.checks.size
          oc.checks.filterNot(_._2).foreach { case (n, _, d) => failed += 1; failures += s"pass $k: $n: $d" }
          recall = oc.recall
          layer = oc.counters
        case Failure(e) =>
          attempted += 1; failed += 1
          failures += s"pass $k: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
      if (traced) layer ++= traceLayer ++ Map(
        "cache.builds" -> committed(models).size.toDouble, "cache.durable_loads" -> loads.toDouble)
      rmrf(new File(models)); rmrf(new File(out))
      PassRec(k, traced, wall, attempted, failed, recall, failures.toSeq, layer)
    }

    // Untraced: passes until `seconds` have passed, at least three. Traced:
    // after the first (untraced) pass, traced and untraced passes alternate,
    // so both halves see the same JIT state and their difference is the
    // tracing overhead.
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val t0 = System.nanoTime()
    while (passes.size < (if (trace) 4 else 3) || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += runPass(passes.size, traced = trace && passes.size % 2 == 1)
    val peakRss = vmHwmMb()

    // the first pass of a fresh JVM pays class loading, JIT and codegen; it
    // is reported on its own and the later passes give the pass time
    val untraced = passes.filterNot(_.traced)
    val passS = median(untraced.drop(1).map(_.wall).toSeq)
    val e2e = Map(
      "setup_s" -> setupS,
      "first_pass_s" -> untraced.head.wall,
      "pass_s" -> passS,
      "items_per_s" -> w.items / passS,
      "peak_rss_mb" -> peakRss,
      "recall" -> median(untraced.map(_.recall).toSeq))

    var perLayer = Map.empty[String, Double]
    if (trace) {
      val traced = passes.filter(_.traced)
      val keys = traced.flatMap(_.layer.keys).toSet
      perLayer = keys.map(k => k -> median(traced.map(_.layer.getOrElse(k, 0.0)).toSeq)).toMap
      val tPass = median(traced.map(_.wall).toSeq)
      perLayer ++= Map("trace.pass_s" -> tPass, "trace.untraced_pass_s" -> passS,
        "trace.overhead_s" -> (tPass - passS))
      perLayer ++= w.microRates(spark.newSession())
      writeSpans(s"$work/spans.json", ttracer)
    }

    val rec = Map(
      "workload" -> wl, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "nproc" -> Runtime.getRuntime.availableProcessors, "master" -> s"local[$cpus]",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "setup_reps_s" -> setupReps, "session_up_s" -> sessionUp,
      "items" -> w.items,
      "passes" -> passes.map(p => Map("id" -> p.id, "traced" -> p.traced, "wall_s" -> p.wall,
        "attempted" -> p.attempted, "failed" -> p.failed, "recall" -> p.recall)).toSeq,
      "attempted" -> passes.map(_.attempted).sum, "failed" -> passes.map(_.failed).sum,
      "failures" -> passes.flatMap(_.failures).take(20).toSeq,
      "end_to_end" -> e2e, "per_layer" -> perLayer)
    Files.writeString(Paths.get(a("result")), Json.write(rec))
    spark.stop()
  }

  /** Per-layer figures of one traced pass: span self-time shares, the part
    * no span covers, exec counters of the pass's job groups and the plan
    * counters of its queries. */
  def traceMetrics(tr: Tracer, k: Int, wall: Double, exec: ExecListener,
                   plan: PlanCounters, cpus: Int): Map[String, Double] = {
    val self = tr.selfTimes(k)
    val shares = mutable.Map.empty[String, Double]
    self.foreach { case (n, s) =>
      SpanNames.metric.get(n).foreach(m => shares(m) = shares.getOrElse(m, 0.0) + s / wall)
    }
    shares("trace.uncovered_share") = self.getOrElse("pass", 0.0) / wall
    if (self.contains("dedup.corpusShingles")) shares("cache.build_share") = self("dedup.corpusShingles") / wall
    val ec = exec.counters(tr.groupsOf(k))
    val mb = 1048576.0
    shares.toMap ++ Map(
      "trace.spans" -> tr.spans.count(_.pass == k).toDouble,
      "exec.jobs" -> ec.jobs.toDouble, "exec.stages" -> ec.stages.toDouble,
      "exec.tasks" -> ec.tasks.toDouble, "exec.task_s" -> ec.taskMs / 1e3,
      "exec.cpu_s" -> ec.cpuNs / 1e9, "exec.gc_s" -> ec.gcMs / 1e3,
      "exec.busy_ratio" -> ec.taskMs / 1e3 / (wall * cpus),
      "exec.shuffle_write_mb" -> ec.shuffleWrite / mb, "exec.shuffle_read_mb" -> ec.shuffleRead / mb,
      "exec.spill_mb" -> ec.spill / mb, "exec.peak_exec_mem_mb" -> ec.peakMem / mb,
      "plan.queries" -> plan.queries.toDouble, "plan.planning_s" -> plan.planningMs / 1e3,
      "plan.exchanges" -> plan.exchanges.toDouble,
      "plan.broadcast_joins" -> plan.broadcastJoins.toDouble,
      "plan.sort_merge_joins" -> plan.sortMergeJoins.toDouble,
      "sources.chunks_scanned" -> plan.zarrChunksScanned.toDouble,
      "sources.chunks_pruned_ratio" ->
        (if (plan.zarrChunksTotal == 0) 0.0 else 1.0 - plan.zarrChunksScanned.toDouble / plan.zarrChunksTotal),
      "sources.rows_emitted" -> plan.zarrRowsEmitted.toDouble,
      "sources.rows_kept_ratio" ->
        (if (plan.zarrRowsEmitted == 0) 0.0 else plan.zarrRowsKept.toDouble / plan.zarrRowsEmitted))
  }

  def writeSpans(path: String, tr: Tracer): Unit = {
    val t0 = tr.spans.map(_.start).minOption.getOrElse(0L)
    Files.writeString(Paths.get(path), Json.write(tr.spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
      "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9)).toSeq))
  }
}

/** Span name → per-layer metric (share of the traced pass's wall time). */
object SpanNames {
  val metric: Map[String, String] = Map(
    "sources.from_zarr" -> "sources.scan_share",
    "array.rowNormalize" -> "array.normalize_share",
    "array.log1p" -> "array.log1p_share",
    "array.hvgScale" -> "array.hvg_scale_share",
    "array.hvg_genes" -> "array.select_share",
    "array.selectCols" -> "array.select_share",
    "array.pca_fit" -> "array.pca_fit_share",
    "array.pca_transform" -> "array.pca_transform_share",
    "zarr.to_zarr" -> "zarr.write_share",
    "dedup.corpusShingles" -> "dedup.shingle_index_share",
    "dedup.exact" -> "dedup.exact_share",
    "dedup.canonicalDedup" -> "dedup.canonical_share",
    "dedup.minhashPairs" -> "dedup.minhash_share",
    "dedup.jaccardJoinToks" -> "dedup.jaccard_share",
    "dedup.connectedComponents" -> "dedup.components_share",
    "similarity.batchTopK" -> "similarity.brute_topk_share",
    "similarity.ivfCentroids" -> "similarity.ivf_train_share",
    "similarity.ivfTopK" -> "similarity.ivf_topk_share",
    "similarity.knnGraphIvf" -> "similarity.knn_graph_share",
    "similarity.mutualEdgesWeighted" -> "similarity.mutual_edges_share",
    "similarity.labelPropagate" -> "similarity.labelprop_share")
}

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => write(k.toString) + ": " + write(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ", ", "]")
    case o => write(o.toString)
  }
}
