package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark process: one workload, one seed, one session.
  *
  *   graft.perfbench.BenchMain --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --cores <n> --work <dir> [--pin-cpu <cpu>] [--trace-out <file>]
  *
  * Set-up (timed as `setup_s`): session start, the input built
  * [[SetupRepeats]] times into fresh directories (median counted), and
  * the workload's warm-up jobs. Then a closed loop, one job at a time, each into a
  * fresh output directory, until `--seconds` of job time is measured (at
  * least [[MinReps]] jobs). After its clock stops every job gets the guard
  * checks (it did the full work from fresh state); the last one also gets
  * the full output checks. The last stdout line is the result object.
  *
  * `--trace 1` alternates untraced jobs and traced ones (listener
  * installed, spans recorded) and reports per-layer metrics, the
  * unattributed remainder and the tracing overhead; then it restarts the
  * session at local[1], pins the process to `--pin-cpu`, and reports
  * `scaling_eff` = (docs/s at local[cores]) ÷ (docs/s at local[1]) ÷ cores
  * over the same input. */
object BenchMain {
  val SetupRepeats = 3
  val MinReps      = 3

  private def now(): Double = System.nanoTime() / 1e9

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, pinCpu: Int, work: Path, traceOut: Option[Path])

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val o = Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--cores").toInt, kv.getOrElse("--pin-cpu", "0").toInt,
      Paths.get(need("--work")), kv.get("--trace-out").map(Paths.get(_)))
    require(Workload.Names.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0 && o.cores > 0, "seconds and cores must be positive")
    o
  }

  def session(w: Workload, cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    w.sessionConf(cores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The process high-water resident set, from the kernel's own record. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** CPU seconds this process has used, all threads. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Seconds the JIT compilers have spent compiling so far. */
  def jitS(): Double = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Seconds of CPU time the hypervisor gave to others, summed over the
    * machine's CPUs (`steal` in /proc/stat); 0 where it is not reported. */
  def stealS(): Double = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f.length > 8) f(8).toDouble / 100 else 0.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workload(o.workload)
    Files.createDirectories(o.work)
    val t0       = now()
    val spark    = session(w, o.cores, o.work)
    val b        = Bench(spark, o.cores, o.seed, o.work, new Tracer(spark.sparkContext))
    val sessionS = now() - t0
    val res =
      try measure(b, w, o, sessionS)
      finally spark.stop()
    println(res)
  }

  /** Pins every thread of this JVM (GC and compiler threads included) to
    * one CPU with taskset; false when taskset is missing or refuses. */
  private def pinTo(cpu: Int): Boolean = {
    val onPath = sys.env.getOrElse("PATH", "").split(java.io.File.pathSeparator)
      .exists(d => Files.isExecutable(Paths.get(d, "taskset")))
    onPath && new ProcessBuilder("taskset", "-a", "-p", "-c", cpu.toString,
      ProcessHandle.current().pid().toString).redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD).start().waitFor() == 0
  }

  /** The scaling leg: the same jobs over the same input at local[1], in this
    * already-warm JVM pinned to one CPU, untraced. Returns docs/s and
    * whether the pin took. */
  private def singleCore(b: Bench, w: Workload, o: Opts, input: String): (Double, Boolean) = {
    b.spark.stop()
    val pinned = pinTo(o.pinCpu)
    val one    = session(w, 1, b.work)
    try {
      val b1    = b.copy(spark = one, cores = 1, tracer = new Tracer(one.sparkContext))
      val walls = mutable.ArrayBuffer.empty[Double]
      while (walls.sum < o.seconds / 2) {
        val out = b1.dir(s"out/single-${walls.size}")
        val t   = now(); w.run(b1, input, out, s"single-${walls.size}"); walls += now() - t
        deleteTree(Paths.get(out))
      }
      (w.inputDocs / Rollup.median(walls.toSeq), pinned)
    } finally one.stop()
  }

  private def measure(b: Bench, w: Workload, o: Opts, sessionS: Double): String = {
    // set-up: the input, built SetupRepeats times into fresh directories
    val builds = (1 to SetupRepeats).map { k =>
      val dir = b.dir(s"input-$k")
      val t   = now(); w.buildInput(b, dir); now() - t
    }
    (1 until SetupRepeats).foreach(k => deleteTree(b.work.resolve(s"input-$k")))
    Files.move(b.work.resolve(s"input-$SetupRepeats"), b.work.resolve("input"))
    val input = b.dir("input")

    val tc = now(); w.prepareChecks(b, input); val checkSetupS = now() - tc

    val checks   = mutable.ArrayBuffer.empty[Check]
    var failed   = 0L
    var docsDone = 0L
    var repNo    = 0
    var checkS   = 0.0
    val walls    = mutable.ArrayBuffer.empty[Double]
    val cpus     = mutable.ArrayBuffer.empty[Double]
    val steals   = mutable.ArrayBuffer.empty[Double]
    val jits     = mutable.ArrayBuffer.empty[Double]
    val perRep   = mutable.ArrayBuffer.empty[Map[String, Double]]

    var lastOut = ""
    var lastR   = Option.empty[w.Out]

    /** One job into a fresh directory, traced or not. After the clock
      * stops its output gets the guard checks (the full ones too when
      * traced), then is deleted — except the latest one, which the
      * once-per-process checks use. Returns the job's wall seconds. */
    def rep(traced: Boolean): Double = {
      repNo += 1
      val runId = s"rep-$repNo"
      val out   = b.dir(s"out/$runId")
      require(!Files.exists(Paths.get(out)), s"$out exists: every job must start from a fresh directory")
      b.tracer.setActive(traced)
      b.tracer.run = runId
      val c0 = processCpuS(); val st0 = stealS(); val j0 = jitS()
      val t  = now()
      val r  = w.run(b, input, out, runId)
      val s  = now() - t
      walls += s
      cpus += processCpuS() - c0; steals += stealS() - st0; jits += jitS() - j0
      val tc = now()
      val (cs, bad) = w.check(b, input, out, r, full = traced)
      checks ++= cs
      failed += bad
      docsDone += w.inputDocs
      if (traced) {
        val (spans, jobs, stages) = b.tracer.snapshot()
        val mine  = spans.filter(_.run == runId)
        val ids   = mine.map(_.id).toSet
        val trace = RepTrace(s, mine, jobs.filter(j => ids(j.span)), stages.filter(st => ids(st.span)))
        perRep += w.layerMetrics(b, out, r, trace) +
          ("trace.unattributed_s" -> (s - mine.filter(_.parent == 0).map(_.seconds).sum))
      }
      b.tracer.setActive(false)
      if (lastOut.nonEmpty) deleteTree(Paths.get(lastOut))
      lastOut = out
      lastR = Some(r)
      checkS += now() - tc
      s
    }

    val warmS  = (1 to w.warmups).map(_ => rep(traced = false)).sum
    val setupS = sessionS + Rollup.median(builds) + warmS

    var untracedRate = 0.0
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val timed = mutable.ArrayBuffer.empty[Double]
        while (timed.sum < o.seconds || timed.size < MinReps) timed += rep(traced = false)
        Seq(
          ("docs_per_s", w.inputDocs / Rollup.median(timed.toSeq), "1/s"),
          ("setup_s", setupS, "s"),
          ("peak_rss_mb", peakRssMb(), "MB"))
      } else {
        // untraced and traced jobs alternate in ABBA order, so a JIT still
        // settling speeds neither side up more than the other
        val plain  = mutable.ArrayBuffer.empty[Double]
        val traced = mutable.ArrayBuffer.empty[Double]
        while (plain.sum + traced.sum < o.seconds || traced.size < 2) {
          if (traced.size % 2 == 0) { plain += rep(traced = false); traced += rep(traced = true) }
          else { traced += rep(traced = true); plain += rep(traced = false) }
        }
        o.traceOut.foreach(b.tracer.writeJsonl)
        val plainRate  = w.inputDocs / Rollup.median(plain.toSeq)
        untracedRate = plainRate
        val tracedRate = w.inputDocs / Rollup.median(traced.toSeq)
        val extra = Map(
          "extract.ns_per_doc"        -> Micro.extractNsPerDoc(o.seed),
          "eval.ns_per_doc"           -> Micro.evalNsPerDoc(o.seed),
          "trace.untraced_docs_per_s" -> plainRate,
          "trace.traced_docs_per_s"   -> tracedRate,
          "trace.overhead_frac"       -> (plainRate / tracedRate - 1))
        Metrics.perLayer.map { case (name, unit) =>
          (name, extra.getOrElse(name, Rollup.median(perRep.toSeq.flatMap(_.get(name)))), unit)
        }
      }

    val tf = now()
    lastR.foreach(r => checks ++= w.check(b, input, lastOut, r, full = true)._1)
    checks ++= w.finalChecks(b, input, lastOut)
    deleteTree(Paths.get(lastOut))
    checkS += now() - tf

    val (scaling, pinned) =
      if (!o.trace) (Nil, false)
      else {
        val (rate1, pinned) = singleCore(b, w, o, input)
        (Seq(("scaling_eff", untracedRate / rate1 / o.cores, "ratio")), pinned)
      }

    def q(s: String) = "\"" + s.replace("\"", "'") + "\""
    println(s"""{"detail":{"workload":"${w.name}","input_docs":${w.inputDocs},"input_bytes":${Workload.treeBytes(input)},"job_s":[${walls.mkString(",")}],""" +
      s""""job_cpu_s":[${cpus.mkString(",")}],"job_steal_s":[${steals.mkString(",")}],""" +
      s""""job_jit_s":[${jits.mkString(",")}],""" +
      s""""session_s":$sessionS,"input_build_s":[${builds.mkString(",")}],"warmup_s":$warmS,""" +
      s""""check_setup_s":$checkSetupS,"check_s":$checkS,"single_core_pinned":$pinned,""" +
      s""""failed_checks":[${checks.filterNot(_.ok).map(c => q(c.name + ": " + c.detail)).mkString(",")}]}}""")
    val nFailed  = failed + checks.count(!_.ok)
    val attempts = docsDone + checks.size
    val body = (metrics ++ scaling).map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    s"""{"correct":${nFailed == 0},"attempted":$attempts,"failed":$nFailed,"metrics":{$body}}"""
  }
}

/** The per-layer metrics a traced run reports, on every workload; a layer
  * that does not run on a workload reports 0. */
object Metrics {
  val perLayer: Seq[(String, String)] = Seq(
    "extract.kernel_cpu_s" -> "s", "extract.ns_per_doc" -> "ns",
    "extract.spans_out" -> "count", "extract.errors" -> "count",
    "plans.shuffle_stage_s" -> "s", "plans.kernel_stage_s" -> "s", "plans.commit_s" -> "s",
    "plans.unattributed_s" -> "s", "plans.shuffle_write_bytes" -> "bytes", "plans.gc_s" -> "s",
    "plans.spill_bytes" -> "bytes", "plans.out_bytes_per_in_byte" -> "ratio",
    "plans.partition_occupancy" -> "ratio", "plans.task_skew" -> "ratio",
    "operators.gate_s" -> "s", "operators.banded_s" -> "s", "operators.lsh_s" -> "s",
    "operators.cc_s" -> "s", "operators.pack_s" -> "s", "operators.cc_rounds" -> "count",
    "operators.candidate_pairs" -> "count", "operators.verified_pairs" -> "count",
    "operators.lsh_precision" -> "ratio", "operators.jobs" -> "count",
    "operators.driver_only_s" -> "s", "operators.shuffle_bytes" -> "bytes",
    "eval.evaluate_s" -> "s", "eval.csv_s" -> "s", "eval.summary_s" -> "s",
    "eval.ns_per_doc" -> "ns", "eval.shuffle_bytes" -> "bytes", "eval.gc_s" -> "s",
    "eval.error_rows" -> "count",
    "trace.untraced_docs_per_s" -> "1/s", "trace.traced_docs_per_s" -> "1/s",
    "trace.overhead_frac" -> "ratio", "trace.unattributed_s" -> "s")
}
