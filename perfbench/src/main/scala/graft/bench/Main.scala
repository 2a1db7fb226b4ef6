package graft.bench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's one entry point: one workload per invocation, one
  * `local[4]` session in this JVM, driven by one closed-loop client (the
  * next call starts only when the previous one returned).
  *
  *   graft.bench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --data <dir> --expected <file> --out <file>
  *     [--commit <id>]
  *
  * Prints one JSON line last: correct/attempted/failed plus the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  * The full record, with the session config, versions and spans, goes
  * to `--out`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, expected: String, out: String,
      commit: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("expected"), need("out"),
      m.getOrElse("commit", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // Spark cuts a job's long call site to 20 frames by default, too few
    // to reach the outer modules of a replicate's calls
    if (a.trace) System.setProperty("spark.callstack.depth", "200")
    val problems = Catalog.checkPartition(graft.SparkEntry.names)
    require(problems.isEmpty, s"catalog split: ${problems.mkString("; ")}")
    val run = new Run(a)
    val rec = try run.execute() finally run.shutdown()
    Files.writeString(Paths.get(a.out), Json.render(rec))
    println(Json.render(Json.obj(
      "correct" -> (rec("failed") == 0L),
      "attempted" -> rec("attempted"),
      "failed" -> rec("failed"),
      "metrics" -> (if (a.trace) rec("per_layer") else rec("end_to_end")))))
  }
}

/** One benchmark run. */
final class Run(a: Main.Args) {
  import Run._

  private val tmpDir = new File(System.getProperty("java.io.tmpdir"))
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None

  // op outcomes: one entry per library call the client made
  private var attempted = 0L
  private val failures = ArrayBuffer.empty[String]
  private def outcome(name: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) failures += name
  }

  private val sessionConf = Run.sessionConf(tmpDir)

  private def startSession(): SparkSession = {
    val b = SparkSession.builder().appName(s"graft-bench-${a.workload}")
    sessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def shutdown(): Unit = {
    tracer.foreach(_.close())
    if (spark != null) spark.stop()
  }

  private def span[A](name: String, attrs: (String, String)*)(f: => A): A =
    tracer match {
      case Some(t) => t.span(name, attrs: _*)(f)
      case None => f
    }

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- lifecycle checks, taken after every op ---------------------------
  private def tmpLeft: Set[String] = Option(tmpDir.list()).toSeq.flatten
    .filter(_.startsWith("graft")).toSet

  private def cachedFrames: Int = {
    val cm = spark.sharedState.cacheManager
    try {
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].length
    } catch { case _: ReflectiveOperationException =>
      spark.sparkContext.getPersistentRDDs.size
    }
  }

  /** State before an op, to compare with after it. */
  private def lifeBefore(): (Set[String], Int) = (tmpLeft, cachedFrames)
  private def lifeAfter(before: (Set[String], Int)): Life = Life(
    (tmpLeft -- before._1).size, math.max(0, cachedFrames - before._2),
    spark.sparkContext.statusTracker.getActiveJobIds().length)

  // ---- workloads ----------------------------------------------------------
  def execute(): Map[String, Any] = {
    val rng = new scala.util.Random(a.seed)
    val body = a.workload match {
      case "sim_replicate" => simReplicate(rng)
      case Catalog.Workload => catalog(rng)
      case w => sys.error(s"unknown workload $w")
    }
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val e2e = body.e2e + ("heap_retained_mb" -> (heapMb, "MB"))
    Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "seconds" -> a.seconds,
      "trace" -> a.trace,
      "attempted" -> attempted,
      "failed" -> failures.length.toLong,
      "failures" -> failures.distinct.toSeq,
      "error_rate" -> (if (attempted == 0) 0.0 else failures.length.toDouble / attempted),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "per_layer" -> body.perLayer.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) },
      "details" -> body.details,
      "environment" -> Map(
        "session_config" -> sessionConf.toMap.removedAll(Seq("spark.local.dir",
          "spark.sql.warehouse.dir")),
        "cores" -> Cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "commit" -> a.commit),
      "spans" -> tracer.map(spanDump).getOrElse(Nil))
  }

  /** Catalog workload: setup = session start + table load; then one
    * cold pass and warm passes until `seconds` ran out.
    * The seed permutes query order within each pass. */
  private def catalog(rng: scala.util.Random): Body = {
    val names = Catalog.Queries
    val expected = Expected.load(a.expected)
    val compiles0 = Tracer.compiles
    val setupS = seconds {
      spark = startSession()
      graft.core.Tables.names.foreach { t =>
        val df = if (t == "events") graft.core.Tables.events(spark, a.data)
                 else graft.core.Tables(spark, a.data, t)
        df.count()
      }
    }._2
    tracer = if (a.trace) Some(new Tracer(spark)) else None
    val queries = graft.SparkEntry.queries
    def runQuery(name: String, pass: Int): (Double, Life) = {
      val before = lifeBefore()
      val (rows, dt) = span("query", "query" -> name, "pass" -> pass.toString) {
        seconds {
          try {
            val df = queries(name)(spark, a.data)
            Some((df.columns.toSeq, df.collect()))
          } catch { case e: Exception =>
            System.err.println(s"[bench] $name failed: $e"); None
          }
        }
      }
      val life = lifeAfter(before)
      outcome(name, rows.exists { case (cols, rs) =>
        Catalog.check(expected.get(name), cols, rs) })
      spark.catalog.clearCache()
      (dt, life)
    }
    def pass(k: Int): PassRec = {
      val order = rng.shuffle(names)
      val c0 = tracer.map(_.snapshot())
      val (res, dt) = span("pass", "pass" -> k.toString) {
        seconds(order.map(n => n -> runQuery(n, k)))
      }
      PassRec(k, dt, res.map { case (n, (s, _)) => n -> s },
        res.map(_._2._2), c0.zip(tracer.map(_.snapshot())), unitId("pass"))
    }
    val (cold, warm, setupCompiles) = rounds(compiles0, CatalogMinWarm, pass)
    // each family's share of a warm pass, so a change that should leave
    // one family alone can be seen to
    def familyS(f: String, r: PassRec) =
      r.ops.filter(o => Catalog.family(o._1) == f).map(_._2).sum
    body(setupS, cold, warm, setupCompiles, Map(
      "queries" -> names,
      "family_warm_median_s" -> Seq("survey", "dataops").map(f =>
        f -> median(warm.map(familyS(f, _)))).toMap,
      "query_warm_median_s" -> names.map(n =>
        n -> median(warm.flatMap(_.ops.filter(_._1 == n).map(_._2)))).toMap,
      "query_cold_s" -> cold.ops.toMap))
  }

  /** Sim workload: setup builds the population, truth fit and Λ* once;
    * then one cold replicate and warm replicates until `seconds` ran out.
    * The seed picks every replicate's cohort and survey salts. */
  private def simReplicate(rng: scala.util.Random): Body = {
    val compiles0 = Tracer.compiles
    val (prepared, setupS) = seconds {
      spark = startSession()
      SimReplicate.prepare(spark)
    }
    tracer = if (a.trace) Some(new Tracer(spark)) else None
    val allSteps = ArrayBuffer.empty[Map[String, Any]]
    def replicate(k: Int): PassRec = {
      val (cSalt, sSalt) = (rng.nextInt(1 << 30).toLong, rng.nextInt(1 << 30).toLong)
      val stepTimes = ArrayBuffer.empty[(String, Double)]
      val steps = new SimReplicate.Steps {
        def apply[A](name: String)(f: => A): A = {
          val (r, dt) = span(name)(seconds(f))
          stepTimes += name -> dt; r
        }
      }
      val before = lifeBefore()
      val c0 = tracer.map(_.snapshot())
      val (res, dt) = span("replicate", "replicate" -> k.toString,
          "cohort_salt" -> cSalt.toString, "survey_salt" -> sSalt.toString) {
        seconds {
          try Some(SimReplicate.run(prepared, cSalt, sSalt, steps))
          catch { case e: Exception =>
            System.err.println(s"[bench] replicate $k failed: $e"); None
          }
        }
      }
      val life = lifeAfter(before)
      val problems = res.map(SimReplicate.check).getOrElse(Seq("threw"))
      // each step is one op; a replicate that fails its output check
      // fails every step it ran
      (1 to math.max(stepTimes.length, 1)).foreach(_ =>
        outcome(s"replicate$k", problems.isEmpty))
      problems.foreach(p => System.err.println(s"[bench] replicate $k: $p"))
      allSteps ++= stepTimes.map { case (n, t) =>
        Json.obj("replicate" -> k, "step" -> n, "s" -> t) }
      // the op a user waits for is the whole replicate; its steps are
      // spans in the per-layer table
      PassRec(k, dt, Seq("replicate" -> dt), Seq(life),
        c0.zip(tracer.map(_.snapshot())), unitId("replicate"))
    }
    val (cold, warm, setupCompiles) = rounds(compiles0, SimMinWarm, replicate)
    body(setupS, cold, warm, setupCompiles, Map(
      "population" -> SimReplicate.PopulationSize,
      "n_cohort" -> SimReplicate.NCohort,
      "n_survey" -> SimReplicate.NSurvey,
      "t_star" -> SimReplicate.TStar,
      "calibration" -> SimReplicate.Method,
      "steps_s" -> allSteps.toSeq))
  }

  /** One cold round, then warm rounds until `seconds` ran out (at least
    * `minWarm`); also the compiles from setup through the cold round. */
  private def rounds(compiles0: Long, minWarm: Int, round: Int => PassRec)
      : (PassRec, Seq[PassRec], Long) = {
    val cold = round(0)
    val setupCompiles = Tracer.compiles - compiles0
    val warm = ArrayBuffer.empty[PassRec]
    val t0 = System.nanoTime()
    while (warm.length < minWarm || (System.nanoTime() - t0) / 1e9 < a.seconds)
      warm += round(warm.length + 1)
    (cold, warm.toSeq, setupCompiles)
  }

  private def body(setupS: Double, cold: PassRec, warm: Seq[PassRec],
      setupCompiles: Long, details: Map[String, Any]): Body = {
    val lat = warm.flatMap(_.ops.map(_._2))
    val (tailOp, tailS) = slowest(warm)
    Body(
      Map("setup_s" -> (setupS, "s"),
        "cold_pass_s" -> (cold.seconds, "s"),
        "pass_s" -> (typicalPass(warm), "s"),
        "op_p50_s" -> (median(lat), "s"),
        "op_tail_s" -> (tailS, "s")),
      perLayer(warm, setupCompiles),
      details ++ Map(
        "cold_pass_s" -> cold.seconds,
        "warm_passes_s" -> warm.map(_.seconds),
        "warm_pass_median_s" -> median(warm.map(_.seconds)),
        "op_tail_op" -> tailOp,
        "op_samples" -> lat.length,
        "ops_s" -> (cold +: warm).flatMap(r => r.ops.map { case (op, t) =>
          Json.obj("round" -> r.k, "op" -> op, "s" -> t) })))
  }

  // ---- per-layer table ----------------------------------------------------
  private def unitId(name: String): Int =
    tracer.map(_.allSpans.filter(_.name == name).last.id).getOrElse(-1)

  /** Per-layer metrics: each is the median over warm rounds (passes or
    * replicates) of that round's value. */
  private def perLayer(rounds: Seq[PassRec], setupCompiles: Long)
      : Map[String, (Double, String)] = tracer match {
    case None => Map.empty
    case Some(t) =>
      val spans = t.allSpans
      def med(f: PassRec => Double) = median(rounds.map(f))
      def cnt(r: PassRec) = { val (c0, c1) = r.counters.get; c1 - c0 }
      def jobs(r: PassRec) = t.jobsOf(r.unitSpan)
      def unitSpanOf(r: PassRec) = spans(r.unitSpan)
      val byModule = Tracer.Modules.flatMap { m =>
        Seq(s"$m.job_s" -> (med(r => jobs(r).filter(_.modules(m)).map(_.seconds).sum), "s"),
          s"$m.jobs" -> (med(r => jobs(r).count(_.modules(m)).toDouble), "count"))
      }
      val simSteps = SimReplicate.StepNames.flatMap { s =>
        def stepSpans(r: PassRec) = spans.filter(x => x.parent == r.unitSpan && x.name == s)
        Seq(s"sim.${s}_s" -> (med(r => stepSpans(r).map(_.seconds).sum), "s"),
          s"sim.${s}_jobs" -> (med(r => stepSpans(r).map(sp =>
            t.allJobs.count(_.span == sp.id)).sum.toDouble), "count"))
      }
      val triggers = rounds.flatMap { r =>
        val (c0, c1) = r.counters.get; t.triggersBetween(c0.triggers, c1.triggers)
      }
      Map(
        "spark.jobs" -> (med(cnt(_).jobs.toDouble), "count"),
        "spark.driver_gap_s" -> (med { r =>
          val u = unitSpanOf(r)
          r.seconds - Tracer.unionSeconds(jobs(r), u.startNs / 1000000L, u.endNs / 1000000L)
        }, "s"),
        "spark.scan_rows" -> (med(cnt(_).scanRows.toDouble), "count"),
        "spark.scan_rows_per_result_row" -> (med(r =>
          cnt(r).scanRows.toDouble / math.max(1L, cnt(r).resultRows)), "ratio"),
        "spark.stages" -> (med(cnt(_).stagesRun.toDouble), "count"),
        "spark.stages_skipped_ratio" -> (med(r => if (cnt(r).stagesPlanned == 0) 0.0
          else 1.0 - cnt(r).stagesRun.toDouble / cnt(r).stagesPlanned), "ratio"),
        "spark.tasks" -> (med(cnt(_).tasks.toDouble), "count"),
        "spark.task_cpu_s" -> (med(cnt(_).taskCpuNs / 1e9), "s"),
        "spark.core_util" -> (med(r => cnt(r).taskRunMs / 1e3 / (r.seconds * Cores)), "ratio"),
        "spark.shuffle_write_mb" -> (med(cnt(_).shuffleWriteBytes / 1048576.0), "MB"),
        "spark.spill_mb" -> (med(cnt(_).spillBytes / 1048576.0), "MB"),
        "plan.s" -> (med(cnt(_).planNs / 1e9), "s"),
        "codegen.compiles" -> (med(cnt(_).compiles.toDouble), "count"),
        "codegen.compile_s" -> (med(cnt(_).compileNs / 1e9), "s"),
        "codegen.setup_compiles" -> (setupCompiles.toDouble, "count"),
        "streaming.triggers" -> (med(cnt(_).triggers.toDouble), "count"),
        "streaming.trigger_p50_ms" -> (median(triggers.map(_.toDouble)), "ms"),
        "lifecycle.tmp_dirs_left" -> (med(_.life.map(_.tmp).sum.toDouble), "count"),
        "lifecycle.cached_frames_left" -> (med(_.life.map(_.cached).sum.toDouble), "count"),
        "lifecycle.jobs_left_running" -> (med(_.life.map(_.running).sum.toDouble), "count")
      ) ++ byModule ++ simSteps
  }

  private def spanDump(t: Tracer): Seq[Map[String, Any]] = {
    val jobsBySpan = t.allJobs.groupBy(_.span)
    t.allSpans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9) ++ s.attrs ++
        Map("jobs" -> jobsBySpan.getOrElse(s.id, Nil).map(j => Json.obj(
          "id" -> j.id, "modules" -> j.modules.toSeq.sorted, "call_site" -> j.callSite,
          "start_s" -> j.startMs / 1e3, "end_s" -> j.endMs / 1e3)))
    }
  }
}

object Run {
  val Cores = 4

  /** The session config of every run; scratch dirs go under `tmpDir`. */
  def sessionConf(tmpDir: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // the catalog bench's settings, disclosed in every record
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.local.dir" -> new File(tmpDir, "spark-local").getPath,
    "spark.sql.warehouse.dir" -> new File(tmpDir, "warehouse").getPath)

  final case class Life(tmp: Int, cached: Int, running: Int)
  final case class Body(e2e: Map[String, (Double, String)],
      perLayer: Map[String, (Double, String)], details: Map[String, Any])
  /** One pass or replicate: its ops' latencies and lifecycle checks, and
    * the tracer's counters before and after it. */
  final case class PassRec(k: Int, seconds: Double,
      ops: Seq[(String, Double)], life: Seq[Life],
      counters: Option[(Tracer.Counters, Tracer.Counters)], unitSpan: Int)

  // The fewest warm rounds a run takes medians over, whatever --seconds.
  val CatalogMinWarm = 4
  val SimMinWarm = 2

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Each op's median latency over the given rounds. */
  def opMedians(rounds: Seq[PassRec]): Map[String, Double] =
    rounds.flatMap(_.ops).groupBy(_._1)
      .map { case (op, xs) => op -> median(xs.map(_._2)) }

  /** A typical warm round: the sum over its ops of each op's median
    * latency. A burst of host load that slows one op in one round moves
    * it less than it moves the median of whole rounds. On the sim, whose
    * round is one op, it is the median replicate. */
  def typicalPass(rounds: Seq[PassRec]): Double = opMedians(rounds).values.sum

  /** The tail op: the op (query or replicate step) whose median warm
    * latency is highest, and that median. */
  def slowest(rounds: Seq[PassRec]): (String, Double) =
    opMedians(rounds).maxByOption(_._2).getOrElse(("none", 0.0))
}
