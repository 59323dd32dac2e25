package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark in this JVM and writes its result
  * as JSON to `--out`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <file>
  *
  * Phases: a check of the generator, [[SetupReps]] set-ups (the median of
  * all but the first, cold one is `setup_s`; the last one's state is
  * kept), untimed warm-up operations, the closed loop for
  * `--seconds`, then the checks against the generator's ground truth.
  * With `--trace 1` the loop records spans and Spark job counters and
  * the result carries the per-layer metrics instead of the end-to-end
  * ones. */
object Main {
  /** Set-ups per run; the first runs cold and is left out of `setup_s`. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .filter(_ > 0).map(math.min(_, nproc)).getOrElse(nproc)

    val spark = session(cores, work)
    if (workload == "train") { train(spark, cores, work); return }
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, seed, cores, tracer, work)
    val w = make(workload, ctx)
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    phases("jvm_to_session") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    try {
      ctx.attempt("generator mirror")(ctx.gen.mirrorAgrees(spark))
      phase("prepare")(w.prepareInputs())
      val setupS = (1 to SetupReps).map { r =>
        val dir = s"$work/setup-$r"
        System.gc()
        val t0 = System.nanoTime()
        w.setup(dir)
        (System.nanoTime() - t0) / 1e9
      }
      phase("warmup")(w.warmup())
      System.gc()

      val tele = new Telemetry
      val gc0 = Proc.gcMs
      tracer.start()
      val t0 = System.nanoTime()
      w.run(t0 + (seconds * 1e9).toLong)
      val t1 = System.nanoTime()
      val gcMs = Proc.gcMs - gc0
      val telemetry = tele.snapshot(cores)
      phase("drain")(tracer.drain())
      phase("verify")(w.verify())
      val wallMs = (t1 - t0) / 1e6

      val endToEnd = Map(
        "setup_s" -> (Stats.median(setupS.drop(1)), "s"),
        "op_ms_p50" -> (Stats.median(w.opSamples), "ms"),
        "rows_per_s" -> (w.rowsPerSecond, "1/s"))
      val perLayer: Map[String, (Double, String)] =
        if (!trace) Map.empty
        else {
          val self = tracer.layerSelfMs
          val ops = math.max(1, tracer.ops).toDouble
          val layerSelf = Seq("bench", "table", "core", "sources", "streaming", "operators")
            .map(l => s"$l.self_ms" -> (self.getOrElse(l, 0.0) / ops, "ms")).toMap
          val units = Layers.units
          layerSelf ++ Layers.zero ++ w.layers.map { case (k, v) => k -> (v, units(k)) } ++ Map(
            "trace.coverage" -> (tracer.rootMs / wallMs, "ratio"),
            "trace.op_ms_p50" -> (Stats.median(w.opSamples), "ms"),
            "spark.jobs" -> (tracer.sparkJobs / ops, "count"),
            "spark.driver_gap_ms" -> (tracer.driverGapMs(t0, t1) / ops, "ms"),
            "jvm.gc_ms" -> (gcMs.toDouble, "ms"),
            "proc.cpu_util" -> (telemetry("cpu_util"), "ratio"),
            "proc.peak_rss_mb" -> (Proc.peakRssMb, "MB"))
        }
      val metrics = (if (trace) perLayer else endToEnd).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u)
      }
      val correct = ctx.failed == 0
      val result = Json.obj(
        "workload" -> workload, "seed" -> seed,
        "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "metrics" -> metrics,
        "detail" -> (w.detail ++ Map(
          "fail_frac" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
          "failures" -> ctx.failures.toSeq,
          "setup_s_reps" -> setupS,
          "phases_s" -> phases.toMap,
          "ops" -> w.opSamples.size,
          "op_samples_ms" -> w.opSamples,
          "peak_rss_mb" -> Proc.peakRssMb,
          "wall_ms" -> wallMs,
          "jvm_uptime_at_result_s" ->
            java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
          "cores" -> cores,
          "input_hash" -> ctx.inputs.hex,
          "telemetry" -> telemetry,
          "hardware" -> (s"${Proc.cpuModel}; JDK ${System.getProperty("java.version")}; " +
            s"Spark ${spark.version} local[$cores]"))),
        "trace" -> Json.Raw(if (trace) tracer.toJson else "{}"))
      val out = java.nio.file.Paths.get(opt("out"))
      java.nio.file.Files.writeString(out, result)
    } finally spark.stop()
  }

  def make(workload: String, ctx: Ctx): Workload = workload match {
    case "serve_reads" => new ServeReads(ctx)
    case "cdc_stream" => new CdcStream(ctx)
    case "dedup_curation" => new DedupCuration(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** One short pass over every workload, results discarded: run with
    * `-XX:ArchiveClassesAtExit` it records the classes the benchmark
    * loads into a class-data-sharing archive that later runs map
    * instead of loading and verifying them again. */
  def train(spark: SparkSession, cores: Int, work: String): Unit =
    try Seq("serve_reads", "cdc_stream", "dedup_curation").foreach { name =>
      val w = make(name, new Ctx(spark, 0L, cores, new Tracer(true, spark.sparkContext), work))
      w.prepareInputs()
      w.setup(s"$work/train-$name")
      w.warmup()
      w.run(System.nanoTime())
    } finally spark.stop()

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Per-layer metric units, and zeros for the layers a workload never
  * enters (every traced run reports the same metric set). */
object Layers {
  val units: Map[String, String] = Map(
    "table.write_ms" -> "ms", "table.write_jobs" -> "count", "table.write_tasks" -> "count",
    "table.write_shuffle_mb" -> "MB", "table.write_gap_ms" -> "ms",
    "table.commit_tail_ms" -> "ms", "core.files_live" -> "count",
    "table.sorted_runs_max" -> "count", "core.plan_ms" -> "ms", "core.files_planned" -> "count",
    "core.prune_ratio" -> "ratio", "sources.sql_plan_ms" -> "ms", "sources.sql_exec_ms" -> "ms",
    "sources.bytes_planned" -> "bytes", "table.read_ms" -> "ms", "table.read_records_in" -> "count",
    "table.merge_fanin" -> "ratio", "table.lookup_ms" -> "ms", "table.lookup_jobs" -> "count",
    "table.lookup_read_mb" -> "MB", "streaming.drain_ms" -> "ms",
    "streaming.changelog_rows_ratio" -> "ratio", "operators.pairs_ms" -> "ms",
    "operators.components_ms" -> "ms", "operators.band_append_ms" -> "ms",
    "operators.increment_ms" -> "ms", "operators.shuffle_mb" -> "MB",
    "operators.candidate_pairs" -> "count", "operators.verified_pairs" -> "count",
    "operators.skew_drops" -> "count", "operators.collapsed_rows" -> "count")
  val zero: Map[String, (Double, String)] = units.map { case (k, u) => k -> (0.0, u) }
}
