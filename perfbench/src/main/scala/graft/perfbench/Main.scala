package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.perfbench.Workloads.ReportRequest

/** The benchmark's JVM side: one workload, one seed, one closed loop with a
  * single client.
  *
  *   1. Set-up, timed from JVM start: SparkSession start, one warm-up
  *      request and the workload's memo builds.
  *   2. Check pass, untimed, in a fixed order: each gate's result
  *      fingerprint ([[Fingerprint]]) against the committed one, each
  *      report against its column groups run one at a time. This pass also
  *      takes the JVM's first-sight costs (class loading, JIT, codegen) out
  *      of the timed passes.
  *   3. Timed passes over the requests, in a seeded order per pass. A gate
  *      request is timed from `gate(spark, dir)` until its result is fully
  *      materialized by a `noop` write, which computes every output column;
  *      a report request from building its journal until
  *      `ReportRunner.run` returns.
  *   4. With tracing: one more pass with listeners attached and one more
  *      without (to price the tracing), then each memo build and each
  *      native kernel timed on its own.
  *
  * Writes one JSON result file; `perfbench/run.py` turns it into the
  * benchmark's output line. */
object Main {

  private implicit val formats: Formats = DefaultFormats

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, expected: String,
                        cpus: Int, partitions: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m("expected"), m("cpus").toInt,
      m("partitions").toInt)
  }

  sealed trait Req { def name: String }
  final case class GateReq(name: String) extends Req
  final case class ReportReq(r: ReportRequest) extends Req { def name: String = r.name }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      // fixed, not nproc: partitioning sets the order in which double
      // aggregates add up, and so the bits the fingerprints hash
      .config("spark.sql.shuffle.partitions", a.partitions.toString)
      .config("spark.default.parallelism", a.partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val ProbeSteps = 50000000L
  // a pass of any workload takes about this long on a 4-vCPU host; a run
  // makes ceil(seconds / PassSeconds) timed passes, at least 2
  private val PassSeconds = 5.0

  private def secondsSince(ns: Long): Double = (Clock.now - ns) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Harrell-Davis estimate of the q-quantile: a Beta-weighted average of
    * all order statistics. On the few dozen latencies a run has, the plain
    * sample quantile jumps between neighbouring requests' values; this
    * estimate of the same quantile moves smoothly. */
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        q * (n + 1), (1 - q) * (n + 1))
      s.indices.map { i =>
        (beta.cumulativeProbability((i + 1).toDouble / n) -
          beta.cumulativeProbability(i.toDouble / n)) * s(i)
      }.sum
    }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(argv: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    Configurator.setRootLevel(Level.WARN)
    val a = parse(argv)
    val w = Workloads.all.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; " +
        s"known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
    val gates = graft.SparkEntry.queries
    val reqs: Seq[Req] = w.gates.map(GateReq(_)) ++
      Workloads.reportRequests(a.seed, w.reportRequests).map(ReportReq(_))

    // ---- 1. set-up, from JVM start to the first request -------------------
    // Only a fresh JVM pays class loading, the JIT's first compiles and
    // Spark's first code generation, so there is one set-up per run.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionStart = Clock.now
    val spark = session(a)
    val sessionS = secondsSince(sessionStart)
    val warmUpStart = Clock.now
    materialize(gates(Workloads.WarmUp)(spark, a.data))
    val setupParts = Seq("jvm_to_main" -> (mainStartMs - jvmStartMs) / 1e3,
      "session" -> sessionS, "warm_up" -> secondsSince(warmUpStart)) ++
      graft.Bench.measureSetup(spark, a.data, w.gates.toSet)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // a fixed CPU probe after set-up and after the run: not a metric, but it
    // shows in the result file when the host itself ran slow
    val probeBefore = graft.Bench.calibrationProbe(ProbeSteps)

    // ---- 2. check pass, untimed, in a fixed order ---------------------------
    val checkStart = Clock.now
    val expected = JsonMethods.parse(Files.readString(Paths.get(a.expected)))
      .extract[Map[String, String]]
    val compilesBefore = codegen()._1
    val checkFailures: Map[String, String] = reqs.flatMap { req =>
      val verdict =
        try req match {
          case GateReq(g) =>
            val got = Fingerprint.of(gates(g)(spark, a.data)).toString
            expected.get(g) match {
              case Some(`got`) => None
              case Some(exp) => Some(s"fingerprint $got, expected $exp")
              case None => Some(s"no expected fingerprint (got $got)")
            }
          case ReportReq(r) => checkReport(spark, a.data, r)
        } catch { case e: Throwable => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
        finally spark.catalog.clearCache()
      verdict.foreach(v => System.err.println(s"[perfbench] check ${req.name}: $v"))
      verdict.map(req.name -> _)
    }.toMap
    val checkPassCompiles = codegen()._1 - compilesBefore
    val checkS = secondsSince(checkStart)
    System.gc()

    // ---- 3. timed passes, each in its own seeded order ----------------------
    val passes = math.max(2, math.ceil(a.seconds / PassSeconds).toInt)
    val rng = new Random(a.seed)
    var seq = 0
    /** (wall seconds, requests) of one pass. */
    def runPass(pass: Int, traced: Boolean): (Double, Seq[Request]) = {
      val order = rng.shuffle(reqs)
      val t0 = Clock.now
      val done = order.map { req =>
        seq += 1
        val c0 = codegen()
        val start = Clock.now
        var built = start
        var own: Seq[(String, Double, Double)] = Nil
        val ok =
          try {
            req match {
              case GateReq(g) =>
                val df = gates(g)(spark, a.data)
                built = Clock.now
                if (traced) own = Recorder.phases(df.queryExecution.tracker)
                materialize(df)
              case ReportReq(r) =>
                val ctx = Workloads.journalCtx(spark, a.data)
                val exprs = r.exprs
                built = Clock.now
                graft.engine.ReportRunner.run(ctx, exprs, r.groups)
            }
            true
          } catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] ${req.name} threw: ${e.getMessage}"); false
          }
        val end = Clock.now
        val c1 = codegen()
        spark.catalog.clearCache()
        Request(seq, pass, req.name, traced, start, if (ok) built else end, end, ok, own,
          c1._1 - c0._1, c1._2 - c0._2)
      }
      val wall = secondsSince(t0)
      System.gc()
      (wall, done)
    }

    val untraced = (1 to passes).map(p => runPass(p, traced = false))
    val timed = untraced.flatMap(_._2)
    val wallS = median(untraced.map(_._1))

    // ---- 4. traced pass, memo builds, kernels ------------------------------
    val (perLayer, spans, tracedReqs, traceFailures) =
      if (!a.trace) (Nil, Nil, Nil, Map.empty[String, String]) else {
        val rec = new Recorder(spark)
        rec.attach()
        val (tWall, tReqs) = runPass(passes + 1, traced = true)
        rec.detach()
        // the JVM still speeds up pass over pass, so the traced pass is
        // compared with the untraced passes on either side of it
        val untracedAround = (untraced.last._1 + runPass(passes + 2, traced = false)._1) / 2
        val (layers, spans) = Attribution(rec, tReqs)
        // the report engine's invariant: two journal scans, whatever the
        // number of column groups
        val scanFailures = layers.filter(_.req.name.startsWith("report_")).collect {
          case l if l.executeScanJobs != 2 =>
            l.req.name -> s"${l.executeScanJobs} jobs scanned the journal, expected 2"
        }.toMap
        graft.queries.ArtifactMemo.invalidate(a.data)
        val built = graft.Bench.measureSetup(spark, a.data,
          graft.Bench.memoSetups.flatMap(_._2).toSet).toMap
        val memoFailures = graft.Bench.memoSetups.map(_._1).filterNot(built.contains)
          .map(name => name -> "memo build threw").toMap
        (scanFailures ++ memoFailures).foreach { case (k, v) =>
          System.err.println(s"[perfbench] check $k: $v") }
        val memo = built.toSeq.map { case (name, s) => s"memo.${name}_s" -> (s, "s") }
        val kernels = Kernels.all.map { case (k, build) =>
          val times = (1 to 3).map { _ =>
            val t = Clock.now; materialize(build(spark, a.data)); secondsSince(t)
          }
          s"functions.${k}_s" -> (median(times), "s")
        }
        (LayerMetrics(layers, spans, timed ++ tReqs, tWall, untracedAround, checkPassCompiles) ++
          memo ++ kernels,
          spans, tReqs, scanFailures ++ memoFailures)
      }
    val sparkVersion = spark.version
    spark.stop()
    val probeAfter = graft.Bench.calibrationProbe(ProbeSteps)

    // ---- results ------------------------------------------------------------
    val failedChecks = checkFailures ++ traceFailures
    val failed = timed.count(r => !r.ok || failedChecks.contains(r.name))
    val latencies = timed.filter(_.ok).map(_.seconds)
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wallS, "s"),
      "latency_p50_s" -> (quantile(latencies, 0.5), "s"),
      "latency_p90_s" -> (quantile(latencies, 0.9), "s"),
      "error_rate" -> (failed.toDouble / timed.size, "ratio"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    val metric = (m: Seq[(String, (Double, String))]) =>
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> (if (a.trace) 1 else 0),
      "correct" -> (failed == 0 && failedChecks.isEmpty),
      "attempted" -> timed.size, "failed" -> failed,
      "passes" -> passes, "requests_per_pass" -> reqs.size,
      "latency_samples" -> latencies.size,
      "samples_above_p90" -> latencies.count(_ > quantile(latencies, 0.9)),
      "failed_checks" -> failedChecks,
      "config" -> Map(
        "master" -> s"local[${a.cpus}]", "shuffle_partitions" -> a.partitions,
        "default_parallelism" -> a.partitions,
        "spark_version" -> sparkVersion,
        "scala_version" -> scala.util.Properties.versionNumberString,
        "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_local_dir" -> s"${a.work}/spark-local"),
      "check_pass_s" -> checkS,
      "cpu_probe_s" -> Seq(probeBefore, probeAfter),
      "setup_parts_s" -> setupParts.map { case (k, v) => Map("part" -> k, "s" -> v) },
      "end_to_end" -> metric(endToEnd),
      "per_layer" -> metric(perLayer),
      "pass_wall_s" -> untraced.map(_._1),
      "requests" -> (timed ++ tracedReqs).map(r => Map(
        "seq" -> r.seq, "pass" -> r.pass, "name" -> r.name, "traced" -> r.traced, "ok" -> r.ok,
        "construct_s" -> (r.builtNs - r.startNs) / 1e9, "seconds" -> r.seconds)),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    Files.writeString(Paths.get(a.out), Serialization.write(result))
  }

  /** (classes compiled, compile nanoseconds) so far in this JVM. */
  private def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(0.0)
    finally src.close()
  }

  /** A multi-group report must equal its groups run one at a time. */
  private def checkReport(spark: SparkSession, dir: String, r: ReportRequest): Option[String] = {
    val all = r.run(spark, dir)
    val bad = r.groups.flatMap { g =>
      r.run(spark, dir, Seq(g))(g.key).collect {
        case (code, v) if math.abs(all(g.key)(code) - v) > 1e-6 * math.max(1.0, math.abs(v)) =>
          s"${g.key}/$code ${all(g.key)(code)} != $v"
      }
    }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }
}
