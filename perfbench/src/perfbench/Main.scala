package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import Json.{Arr, Bool, Num, Obj, Str}

/** Runs one workload and writes `result.json` into the work directory:
  *
  * {{{
  * perfbench.Main --workload docdb|olap|curation --seed N --seconds S
  *   --trace 0|1 --work DIR
  * }}}
  *
  * Set-up runs `SetupReps` times (median reported as `setup_s`), then an
  * untimed reference pass, then `seconds / nominalPassS` timed passes
  * (rounded, at least one). With `--trace 1` the same number of iterations runs again
  * with the benchmark's listeners registered, and the per-layer counters
  * and the tracing overhead come from that second phase. Any exception in
  * set-up or the reference pass ends the JVM with a non-zero code. */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val status =
      if (workload == "json-selftest") { jsonSelftest(work); 0 }
      else {
        val spark = session(work)
        try {
          run(spark, workload, a("seed").toLong, a("seconds").toDouble, a("trace") == "1", work)
          0
        }
        catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $workload failed: $e")
            e.printStackTrace()
            1
        } finally spark.stop()
      }
    System.exit(status)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, work: String): Unit = {
    val data = s"$work/data"
    val wl: Workload = name match {
      case "docdb" => new DocDb(spark, work, data, seed)
      case "olap" | "curation" =>
        if (name == "olap") new QuerySuite(spark, data, work, QuerySuite.Olap, seed, curation = false)
        else new QuerySuite(spark, data, work, QuerySuite.Curation, seed, curation = true)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime(); wl.setup(i); (System.nanoTime() - t0) / 1e9
    }
    val ref = new Recorder
    val tWarm = System.nanoTime()
    wl.warm(ref)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    if (ref.failed > 0)
      throw new IllegalStateException(s"reference pass failed: ${ref.failures.mkString("; ")}")

    // a pass count fixed by `seconds` and the workload's nominal pass time,
    // so every run of a workload aggregates the same number of passes
    val passes = math.max(1, math.round(seconds / wl.nominalPassS).toInt)
    val timed = new Recorder
    val t0 = System.nanoTime()
    (1 to passes).foreach { i => timed.pass = i; wl.iteration(timed) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val opsMs = wl.opsMs(timed)
    val passS = timed.calls.groupBy(_.pass).values.map(_.map(_.nanos).sum / 1e9).toSeq
    val e2e = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("pass_s", Stats.median(passS), "s"),
      ("op_ms_geomean", Stats.geomean(opsMs), "ms"))
    val report = wl.endToEnd(timed) ++ Seq(
      ("op_ms_p50", Stats.pct(opsMs, 50), "ms"),
      ("op_ms_p90", Stats.pct(opsMs, 90), "ms"),
      ("ops_per_s", opsMs.size / (opsMs.sum / 1e3), "1/s"),
      ("samples_ops", opsMs.size.toDouble, "count"),
      ("iterations", timed.pass.toDouble, "count"),
      ("reference_pass_s", warmS, "s"),
      ("measured_s", wallS, "s")) ++
      timed.calls.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, cs) =>
        (s"op.$k.ms_p50", Stats.median(cs.map(_.ms).toSeq), "ms")
      }

    val layers: Seq[(String, Double, String)] =
      if (!trace) Nil
      else {
        val tracer = new Tracer(spark)
        val traced = new Recorder
        wl.startTrace()
        tracer.start()
        (1 to passes).foreach { i => traced.pass = i; wl.iteration(traced) }
        tracer.stop()
        val calls = traced.calls.toIndexedSeq
        val (jobs, stages) = tracer.attribute(calls)
        val perLayer = Modules.Layers.flatMap { l =>
          val c = Layers.counters(calls, jobs, stages, l)
          Layers.Counters.map { case (k, u) => (s"$l.$k", c(k), u) }
        }
        val tail = QuerySuite.HeavyTail.map { q =>
          val xs = timed.of(q).map(_.nanos / 1e9)
          (s"tail.$q.wall_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s")
        }
        val overhead = 100.0 * (traced.calls.filterNot(_.kind == "ecrecover").map(_.nanos).sum.toDouble /
          timed.calls.map(_.nanos).sum - 1.0)
        timed.attempted += traced.attempted
        timed.failed += traced.failed
        timed.failures ++= traced.failures
        val extras = wl.layerExtras(traced, tracer)
        perLayer ++ DocDb.Extras.map { case (k, u) => (k, extras.getOrElse(k, 0.0), u) } ++
          tail ++ Seq(
          ("trace.overhead_pct", overhead, "%"),
          ("trace.drain_timeouts", tracer.drainTimeouts.toDouble, "count"))
      }
    wl.finish(timed)

    def metrics(ms: Seq[(String, Double, String)]) =
      Obj(ms.map { case (k, v, u) => k -> Obj(Seq("value" -> Num(v), "unit" -> Str(u))) })
    val attempted = ref.attempted + timed.attempted
    val failed = ref.failed + timed.failed
    Json.write(Paths.get(work, "result.json"), Obj(Seq(
      "workload" -> Str(name),
      "attempted" -> Num(attempted.toDouble),
      "failed" -> Num(failed.toDouble),
      "failures" -> Arr((ref.failures ++ timed.failures).map(Str).toSeq),
      "end_to_end" -> metrics(e2e),
      "report" -> metrics(report :+ (("error_rate", failed.toDouble / attempted, "ratio"))),
      "per_layer" -> metrics(layers),
      "data_dir" -> Str(data),
      "oracle_checks" -> Arr(wl.oracleChecks.map { case (q, dir, sql) =>
        Obj(Seq("query" -> Str(q), "result" -> Str(dir), "sql" -> Str(sql)))
      }),
      "fingerprints" -> Obj(wl.fingerprints.map { case (k, v) => k -> Str(v) }),
      "complete" -> Bool(true))))
  }

  /** Writes a fixed set of values through the result writer; the test
    * suite runs this under a comma-decimal default locale and parses the
    * output back. */
  def jsonSelftest(work: String): Unit = {
    Files.createDirectories(Paths.get(work))
    val vals = Seq(1234.5678, 0.001, 1.0e-7, 12345678.9, -0.5, 3.0, 0.0)
    Json.write(Paths.get(work, "selftest.json"), Obj(Seq(
      "locale" -> Str(java.util.Locale.getDefault.toString),
      "values" -> Arr(vals.map(Num)),
      "metrics" -> Obj(Seq("x_ms" -> Obj(Seq("value" -> Num(1.5), "unit" -> Str("ms"))))))))
  }
}
