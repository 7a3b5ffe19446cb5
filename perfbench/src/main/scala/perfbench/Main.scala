package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** One benchmark run in a fresh JVM: set up, run one workload's closed
  * loop for a measured number of seconds (or ops), check its outputs,
  * and write the metrics as JSON. `run.py` is the command that builds
  * this, generates the inputs and prints the result line.
  *
  * Arguments: workload inDir workDir seconds trace(0|1) episodes cores
  * resultFile traceFile. Whole episodes run until the measured time
  * reaches `seconds` (and at least the workload's `minEpisodes` have
  * run), or until `episodes` of them (0: no limit). The
  * limit is for `run.py --determinism`: without it, an engine fast
  * enough to fit a second episode in `seconds` would make the number of
  * episodes, and so the per-operation counts, depend on timing. */
object Main {
  val SetupReps = 3
  /** Percentile reported as `op_tail_ms`. */
  val TailPct = 75.0

  /** Every per-layer metric, in BENCHMARK.json order. A workload that
    * does not call a layer reports 0 for it. */
  val PerLayer: Seq[String] = Seq(
    "sources.write_shards_s", "sources.read_shards_s", "sources.validate_s",
    "sources.validate_input_mb_per_s", "sources.tar_bytes",
    "functions.minhash_rows_per_s", "functions.text_rows_per_s",
    "functions.cosine_rows_per_s", "functions.l2dist_rows_per_s",
    "operators.topk_s",
    "queries.tablelog.upsert_s", "queries.tablelog.delete_s",
    "queries.tablelog.compact_s", "queries.tablelog.maintain_view_s",
    "queries.tablelog.read_version_s", "queries.tablelog.history_s",
    "queries.tablelog.replay_files", "queries.tablelog.live_files",
    "queries.tablelog.bytes_written",
    "queries.similarity.build_s", "queries.similarity.append_s",
    "queries.similarity.search_plan_ms", "queries.similarity.search_exec_ms",
    "driver.jobs_per_op", "driver.stages_per_op", "driver.tasks_per_op",
    "driver.gap_s",
    "exec.cpu_s", "exec.run_s", "exec.gc_s", "exec.input_bytes",
    "exec.shuffle_write_bytes", "exec.shuffle_read_records",
    "exec.spill_bytes",
    "self.bench_s", "self.sources_s", "self.functions_s",
    "self.operators_s", "self.tablelog_s", "self.similarity_s",
    "trace.items_per_s", "trace.op_p50_ms")

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  def workload(name: String): Workload = name match {
    case "table_churn" => new TableChurn
    case "vector_serve" => new VectorServe
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val Array(wname, inDir, workDir, seconds, traceArg, episodes, coresArg,
      resultFile, traceFile) = args
    val cores = coresArg.toInt
    val traced = traceArg == "1"
    val in = new File(inDir)
    val work = new File(workDir)

    // Set-up: a fresh session and the driver-side references, several
    // times (the median is reported), then the warm-up: a short episode
    // on the tenth-size inputs (the full-size ones if the workload says
    // `warmFull`), on the last session, which is the one measured.
    var spark: SparkSession = null
    var w: Workload = null
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores)
      w = workload(wname)
      w.prepare(new Ctx(spark, in, work, new Tracer(false, spark.sparkContext, wname)))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val warm = new Ctx(spark, if (w.warmFull) in else new File(in, "warm"),
      new File(work, "warmup"), new Tracer(false, spark.sparkContext, wname))
    val ww = workload(wname)
    ww.prepare(warm)
    ww.episode(warm, short = true)
    if (warm.failures > 0) System.err.println(
      s"[perfbench] warm-up: ${warm.failures} failed operations")
    spark.catalog.clearCache()
    val warmupS = (System.nanoTime() - t0) / 1e9
    deleteTree(work)

    val tracer = new Tracer(traced, spark.sparkContext, wname)
    val ctx = new Ctx(spark, in, new File(work, "run"), tracer)
    ctx.secondsBudget = seconds.toDouble
    val tRun = System.nanoTime()
    var done = 0
    while ((ctx.more || done < w.minEpisodes) &&
        (episodes.toInt == 0 || done < episodes.toInt)) {
      w.episode(ctx)
      done += 1
    }

    System.err.println(f"[perfbench] $wname: ${ctx.ops.size} ops in " +
      f"${ctx.measuredSeconds}%.2f s measured (${(System.nanoTime() - tRun) / 1e9}%.2f s " +
      f"wall); set-ups " +
      setups.map(x => f"$x%.2f").mkString(" ") + f" s; warm-up $warmupS%.2f s")
    ctx.ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val s = xs.map(_.seconds).sorted
      System.err.println(f"[perfbench]   $k%-12s n=${s.size}%4d min=${s.head}%.3f " +
        f"median=${Stats.median(s)}%.3f max=${s.last}%.3f s")
    }
    val prim = ctx.times(w.primary)
    val sec = ctx.times(w.secondary)
    val bld = ctx.times(w.build)
    require(prim.nonEmpty && sec.nonEmpty && bld.nonEmpty,
      s"run too short: ${prim.size} ${w.primary}, ${sec.size} ${w.secondary}, " +
        s"${bld.size} ${w.build} samples")
    // primary and secondary ops per second of their own time: builds,
    // ingest, export and the other ops do not dilute it
    val itemsPerS = (prim.size + sec.size) / (prim.sum + sec.sum)
    val e2e = Map(
      "items_per_s" -> itemsPerS,
      "op_p50_ms" -> Stats.median(prim) * 1e3,
      "op_tail_ms" -> Stats.pct(prim, TailPct) * 1e3,
      "secondary_p50_ms" -> Stats.median(sec) * 1e3,
      "build_s" -> Stats.median(bld),
      "write_amp" -> w.writeAmp,
      "space_amp" -> w.spaceAmp,
      "quality" -> w.quality,
      "peak_rss_mb" -> peakRssMb())
    System.err.println(f"[perfbench] ${w.primary} n=${prim.size}, tail p$TailPct%.0f " +
      f"has ${(prim.size * (1 - TailPct / 100)).toInt} samples beyond it")

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        tracer.drain()
        val own = w.perLayer(ctx)
        val all = PerLayer.map(n => n -> 0.0).toMap ++ own ++
          driverAndExec(tracer) ++ selfTimes(tracer) ++ Map(
            "trace.items_per_s" -> itemsPerS,
            "trace.op_p50_ms" -> Stats.median(prim) * 1e3)
        tracer.write(new File(traceFile))
        all
      }

    val out = new PrintWriter(new File(resultFile), "UTF-8")
    try {
      def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      // a warm-up failure counts too: it is the same program, smaller
      out.println(s"""{"attempted":${ctx.attempted + warm.failures},""" +
        s""""failed":${ctx.failures + warm.failures},""" +
        s""""jvm_s":$jvmStartS,"setup_reps_s":${setups.mkString("[", ",", "]")},""" +
        s""""warmup_s":$warmupS,""" +
        s""""end_to_end":${obj(e2e)},"per_layer":${obj(layers)}}""")
    } finally out.close()
    deleteTree(work)
    spark.stop()
  }

  /** Listener counts per workload operation (root span), averaged. */
  private def driverAndExec(t: Tracer): Map[String, Double] = {
    val spans = t.spans.filter(_.end > 0)
    val ops = spans.filter(_.parent == 0L)
    val n = math.max(ops.size, 1).toDouble
    val c = new ExecCounts
    spans.foreach(s => c.add(s.counts))
    // wall time of each op not covered by any of its jobs
    val byOp = spans.groupBy(_.op)
    val gap = ops.map { o =>
      val iv = byOp.getOrElse(o.id, Nil).flatMap(_.jobTimes).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      math.max(0.0, (o.end - o.start) / 1e9 - covered / 1e3)
    }.sum
    Map(
      "driver.jobs_per_op" -> c.jobs / n,
      "driver.stages_per_op" -> c.stages / n,
      "driver.tasks_per_op" -> c.tasks / n,
      "driver.gap_s" -> gap / n,
      "exec.cpu_s" -> c.cpuNs / 1e9 / n,
      "exec.run_s" -> c.runMs / 1e3 / n,
      "exec.gc_s" -> c.gcMs / 1e3 / n,
      "exec.input_bytes" -> c.inputBytes / n,
      "exec.shuffle_write_bytes" -> c.shuffleWriteBytes / n,
      "exec.shuffle_read_records" -> c.shuffleReadRecords / n,
      "exec.spill_bytes" -> c.spillBytes / n)
  }

  /** Self seconds per layer, per workload operation. */
  private def selfTimes(t: Tracer): Map[String, Double] = {
    val self = t.selfSeconds
    val spans = t.spans.filter(_.end > 0)
    val n = math.max(spans.count(_.parent == 0L), 1).toDouble
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / n
    }
    Seq("bench", "sources", "functions", "operators", "tablelog", "similarity")
      .map(l => s"self.${l}_s" -> byLayer.getOrElse(l, 0.0)).toMap
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Rows per second of `kernel` over a cached frame of `rows`, scaled up
    * to at least `minRows` so the kernel, not job launch, dominates;
    * the median of three timed passes. */
  def kernelRate(rows: DataFrame, minRows: Long, kernel: DataFrame => DataFrame)
      : Double = {
    val spark = rows.sparkSession
    val n0 = rows.count()
    val reps = math.max(1L, (minRows + n0 - 1) / math.max(n0, 1L))
    val frame = rows.crossJoin(spark.range(reps).toDF("_rep")).drop("_rep")
      .repartition(spark.sparkContext.defaultParallelism).cache()
    frame.write.format("noop").mode("overwrite").save()
    val n = n0 * reps
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      kernel(frame).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    frame.unpersist(blocking = true)
    n / Stats.median(times)
  }

  /** functions.minhash / functions.text rates over a text column. */
  def textKernels(text: DataFrame): Map[String, Double] = Map(
    "functions.minhash_rows_per_s" -> kernelRate(text, 100000, _.select(
      GraftFunctions.minhashSig(GraftFunctions.wordShingles(col("text"), 3), 16))),
    "functions.text_rows_per_s" -> kernelRate(text, 100000,
      _.select(GraftFunctions.textFeatures(col("text")))))
}
