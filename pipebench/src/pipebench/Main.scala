package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession

/** One benchmark run: set up, warm up, time the workload's chain for
  * `--seconds`, check the outputs, and print one JSON result line.
  *
  * Warm-up policy: each run is one JVM, as a CLI user's is. The workload's
  * first `warmups` iterations are discarded, because JIT compilation makes a
  * cold chain much slower than a warm one (the same chain ran 65, 50 and
  * 38 s in turn in one JVM on a 100k-reaction corpus). Timed iterations then
  * run until `--seconds` have passed, and their median is reported. A
  * traced run times at least two, one untraced and one traced. The cold cost shows in `setup_s` and in the
  * discarded iterations, not in `wall_s`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             [--launch-ms EPOCH_MS]
  */
object Main {
  val setupReps = 3
  val layers = Seq("OrdSource", "Extract", "ReactionTable", "Cleaner", "Split",
    "Fingerprints", "Features")

  private final case class Iter(wallS: Double, cpuS: Double, spans: Seq[Span],
      features: Option[(Long, Long)])

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = args.get("launch-ms").map(_.toLong)
    val mainMs = System.currentTimeMillis()
    val workload = Workload.all.find(_.name == args("workload")).getOrElse(
      sys.error(s"unknown workload ${args("workload")}; one of " +
        Workload.all.map(_.name).mkString(", ")))
    val seed = args("seed").toLong
    val budgetS = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)
    // JVM start: from the launcher's clock when given, else from the JVM's own
    val jvmS = (mainMs - launchMs.getOrElse(
      ManagementFactory.getRuntimeMXBean.getStartTime)) / 1e3

    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = seconds(GraftSession.local(cores))
    val sc = spark.sparkContext
    val p = new Pipeline(spark, work)

    // set-up: corpus generation, median of setupReps
    var corpus: Corpus = null
    val setupTimes = (1 to setupReps).map { _ =>
      seconds {
        corpus = CorpusGen.generate(seed, workload.spec)
        CorpusGen.write(corpus, p.corpusDir)
      }._2
    }
    CorpusGen.selfCheck(corpus, p.corpusDir).foreach(m => sys.error(s"corpus self-check: $m"))
    val setupS = jvmS + sessionS + median(setupTimes)
    System.err.println(f"[pipebench] ${workload.name} seed=$seed: ${corpus.reactions} " +
      s"reactions in ${corpus.files.size} files, planted ${corpus.planted}; " +
      f"jvm ${jvmS}%.2f s, session ${sessionS}%.2f s, set-up ${setupTimes.map(t => f"$t%.2f").mkString("/")} s")

    def iterate(traced: Boolean): Iter = {
      val tracer = if (traced) Some(new Tracer(sc)) else None
      tracer.foreach(sc.addSparkListener)
      val c0 = processCpuNs()
      val (f, wall) = seconds(p.traced(tracer)(workload.chain(p)))
      val cpu = (processCpuNs() - c0) / 1e9
      tracer.foreach { t =>
        p.traced(tracer)(workload.probes(p))
        t.drain()
        sc.removeSparkListener(t)
      }
      Iter(wall, cpu, tracer.map(_.spans.toSeq).getOrElse(Nil), f)
    }

    var attempted = 0; var failed = 0
    val untraced = mutable.ArrayBuffer[Iter]()
    val traced = mutable.ArrayBuffer[Iter]()
    var lastFeatures: Option[(Long, Long)] = None
    def attempt(tracedRun: Boolean, keep: Boolean): Unit = {
      attempted += 1
      try {
        val it = iterate(tracedRun)
        System.err.println(f"[pipebench] iteration ${attempted}%d${if (tracedRun) " traced" else ""}%s: " +
          f"wall ${it.wallS}%.3f s, cpu ${it.cpuS}%.2f s${if (keep) "" else " (warm-up)"}%s")
        lastFeatures = it.features
        if (keep) (if (tracedRun) traced else untraced) += it
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[pipebench] iteration failed: $e")
          e.printStackTrace()
      }
    }
    (1 to workload.warmups).foreach(_ => attempt(tracedRun = false, keep = false))
    // traced iterations alternate with untraced ones, so both see the same drift
    val minTimed = if (trace) 2 else 1
    val t0 = System.nanoTime()
    var i = 0
    while (i < minTimed || (System.nanoTime() - t0) / 1e9 < budgetS) {
      attempt(tracedRun = trace && i % 2 == 1, keep = true)
      i += 1
    }

    val checks = new Checks(spark, p)
    val (_, checkS) = seconds(if (failed == 0) {
      workload match {
        case Workload.PaperPipeline =>
          checks.wide(corpus, trace); checks.split(trace); checks.fingerprints()
          lastFeatures.foreach(checks.features)
        case Workload.ExtractSkewedFiles => checks.wide(corpus, trace)
      }
    })
    System.err.println(f"[pipebench] output checks took $checkS%.1f s")
    checks.errors.foreach(e => System.err.println(s"[pipebench] check failed: $e"))
    checks.digests.foreach { case (k, v) => println(s"digest $k $v") }
    // iterations that threw failed; when the outputs fail a check, every
    // iteration that wrote them did
    if (checks.errors.nonEmpty) failed = attempted
    val correct = failed == 0

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (correct && !trace) {
      metrics("wall_s") = (median(untraced.map(_.wallS).toSeq), "s")
      metrics("setup_s") = (setupS, "s")
      metrics("output_mb") = (workload.outputs(p).map(Fs.dataBytes).sum / 1e6, "MB")
    }
    if (!trace)  // also on a failing run, which reports no time
      metrics("success_rate") = ((attempted - failed).toDouble / attempted, "ratio")
    if (correct && trace) {
      // process-wide figures that do not repeat within a tenth from run to
      // run (JIT and GC threads share the process), so they are not bounded
      metrics("cpu_s") = (median(untraced.map(_.cpuS).toSeq), "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      val mid = traced.sortBy(_.wallS).apply((traced.size - 1) / 2)
      metrics ++= LayerMetrics(mid.spans, cores, p, checks.rows)
      metrics("traced_wall_s") = (mid.wallS, "s")
      metrics("tracing_overhead_s") =
        (median(traced.map(_.wallS).toSeq) - median(untraced.map(_.wallS).toSeq), "s")
      val selfSum = layers.map(l => metrics(s"$l.self_s")._1).sum
      System.err.println(f"[pipebench] traced wall ${mid.wallS}%.3f s, layer self " +
        f"times sum to $selfSum%.3f s")
    }
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
    spark.stop()
    System.err.println(f"[pipebench] run took ${(System.currentTimeMillis() - mainMs) / 1e3}%.1f s")
    if (!correct) sys.exit(1)
  }
}

/** Per-layer metrics of one traced iteration.
  *
  * A layer's own spans are its public calls and the output writes charged to
  * it. Where layers fuse into one Spark job, the upstream part was also
  * written alone to `noop` (a probe span); the probe's time and task costs
  * move from the downstream layer to the upstream one, once per time the
  * fused writes recompute it. Job and task counts are not moved: a layer's
  * count covers its own spans plus its probe.
  */
object LayerMetrics {
  private final class Acc {
    var self = 0.0; var jobs = 0; var tasks = 0; var maxTaskMs = 0L; var compiles = 0L
    val cost = Array.fill(7)(0.0) // busy, cpu, gc, shuffle, spill, read, write (s | bytes)
    def addCost(w: Work, k: Double): Unit = {
      val v = Seq(w.busyMs / 1e3, w.cpuNs / 1e9, w.gcMs / 1e3, w.shuffleBytes.toDouble,
        w.spillBytes.toDouble, w.readBytes.toDouble, w.writeBytes.toDouble)
      v.indices.foreach(i => cost(i) += k * v(i))
    }
    def addCounts(w: Work): Unit = {
      jobs += w.jobs; tasks += w.tasks; compiles += w.compiles
      maxTaskMs = (maxTaskMs +: w.taskMs).max
    }
  }

  def apply(spans: Seq[Span], cores: Int, p: Pipeline,
      rows: collection.Map[String, Long]): Seq[(String, (Double, String))] = {
    val acc = Main.layers.map(_ -> new Acc).toMap
    spans.filter(s => s.kind == "call" || s.kind == "sink").foreach { s =>
      val a = acc(s.layer); a.self += s.seconds; a.addCost(s.work, 1); a.addCounts(s.work)
    }
    def probe(l: String): Option[Span] = spans.find(s => s.layer == l && s.kind == "probe")
    def move(from: String, to: String, s: Span, k: Double): Unit = {
      acc(to).self += k * s.seconds; acc(to).addCost(s.work, k)
      acc(from).self -= k * s.seconds; acc(from).addCost(s.work, -k)
    }
    probe("OrdSource").foreach { s =>
      move("Extract", "OrdSource", s, 1); acc("OrdSource").addCounts(s.work)
    }
    for (rt <- probe("ReactionTable"); cl <- probe("Cleaner")) {
      move("Split", "Cleaner", cl, p.splitSinks)
      move("Cleaner", "ReactionTable", rt, p.splitSinks)
      acc("ReactionTable").addCounts(rt.work); acc("Cleaner").addCounts(cl.work)
    }

    val mb = 1e6
    val out = Main.layers.flatMap { l =>
      val a = acc(l)
      Seq(
        s"$l.self_s" -> (a.self, "s"),
        s"$l.jobs" -> (a.jobs.toDouble, "count"),
        s"$l.tasks" -> (a.tasks.toDouble, "count"),
        s"$l.busy_s" -> (a.cost(0), "s"),
        s"$l.cpu_s" -> (a.cost(1), "s"),
        s"$l.gc_s" -> (a.cost(2), "s"),
        s"$l.core_util" -> (if (a.self > 0) a.cost(0) / (a.self * cores) else 0.0, "ratio"),
        s"$l.max_task_s" -> (a.maxTaskMs / 1e3, "s"),
        s"$l.shuffle_mb" -> (a.cost(3) / mb, "MB"),
        s"$l.spill_mb" -> (a.cost(4) / mb, "MB"),
        s"$l.read_mb" -> (a.cost(5) / mb, "MB"),
        s"$l.write_mb" -> (a.cost(6) / mb, "MB"),
        s"$l.rows_out" -> (rows.getOrElse(l, 0L).toDouble, "rows"),
        s"$l.codegen_compiles" -> (a.compiles.toDouble, "count"))
    }
    // OrdSource's file-to-task grain shows in the tasks of the job that reads
    // the ORD files, which is Extract's write
    val skew = spans.find(s => s.layer == "Extract" && s.kind == "sink")
      .map(_.work.taskMs.sorted).filter(_.nonEmpty)
      .map(t => t.last.toDouble / math.max(1L, t((t.size - 1) / 2))).getOrElse(0.0)
    val wideBytes = Fs.dataBytes(p.wideDir).toDouble
    val cleanRead = spans.filter(s => Set("ReactionTable", "Cleaner", "Split")(s.layer) &&
      (s.kind == "call" || s.kind == "sink")).map(_.work.readBytes).sum
    val fpBytes = p.fpDirs.map(Fs.dataBytes).sum.toDouble
    val fpRows = rows.getOrElse("Fingerprints", 0L)
    out ++ Seq(
      "OrdSource.task_skew" -> (skew, "ratio"),
      "Cleaner.keep_ratio" -> (rows.get("ReactionTable").filter(_ > 0)
        .map(n => rows("Cleaner").toDouble / n).getOrElse(0.0), "ratio"),
      "Cleaner.read_amp" -> (if (rows.contains("Cleaner") && wideBytes > 0)
        cleanRead / wideBytes else 0.0, "ratio"),
      "Split.moved_rows" -> (rows.getOrElse("Split.moved", 0L).toDouble, "rows"),
      "Fingerprints.bytes_per_row" -> (if (fpRows > 0) fpBytes / fpRows else 0.0, "B"))
  }
}
