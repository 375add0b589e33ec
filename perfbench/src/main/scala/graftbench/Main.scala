package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark run: set the workload up several times, then run its
  * operation in a closed loop with one client thread for the given seconds.
  *
  *   --workload NAME --seed N --seconds S --trace 0|1 --tmp DIR [--out DIR]
  *
  * The last stdout line is the JSON result. With `--trace 0` it carries the
  * end-to-end metrics; with `--trace 1` every other operation is traced, and
  * it carries the per-layer metrics plus the tracing overhead, and the spans
  * are written under `--out`.
  */
object Main {
  val SetupRounds = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        tmp: File, out: Option[File])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("tmp")), m.get("out").map(new File(_)))
  }

  /** Spark defaults, except what any deployment sets: master, shuffle width
    * matched to the cores, UI off, UTC, and where temporary files go.
    */
  def session(cores: Int, tmp: File): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", new File(tmp, "spark-local").getAbsolutePath)
    .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getAbsolutePath)
    .getOrCreate()

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  final case class Phase(latMs: Seq[Double], failed: Int, messages: Seq[String])

  /** Closed loop: the next operation starts when the previous one returns.
    * Runs at least `minOps` operations.
    */
  def loop(p: Prepared, tracer: Int => Tracer, seconds: Double, firstOp: Int,
           minOps: Int = 1): Phase = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val msgs = mutable.ArrayBuffer.empty[String]
    var failed = 0
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var op = firstOp
    // stop when the next operation would likely end past the deadline
    while (lat.size < minOps || System.nanoTime() + Stats.median(lat.toSeq) * 5e5 < end) {
      val t0 = System.nanoTime()
      val t = tracer(op)
      val errs = try t.op(op)(p.run(op, t)) catch { case e: Exception => Seq(s"threw: $e") }
      lat += (System.nanoTime() - t0) / 1e6
      if (errs.nonEmpty) { failed += 1; msgs ++= errs.map(e => s"op $op: $e") }
      op += 1
    }
    if (seconds > 0) System.err.println(s"operation ms: ${lat.map(x => f"$x%.0f").mkString(" ")}")
    Phase(lat.toSeq, failed, msgs.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName(o.workload).getOrElse {
      System.err.println(s"unknown workload '${o.workload}'; known: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val gc = new GcWatcher
    val fallbacks = new AtomicLong
    val problems = mutable.ArrayBuffer.empty[String]

    // Set-up, several times over: session start, inputs generated and
    // cached, expected figures computed, one warm-up operation. The JVM
    // stays up, so each round also warms the next one's JIT state.
    var spark: SparkSession = null
    var prep: Prepared = null
    val setupS = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) stop(spark)
      val dir = new File(o.tmp, s"setup$i")
      spark = session(cores, dir)
      prep = wl.prepare(Ctx(spark, o.seed, cores, dir, fallbacks))
      problems ++= loop(prep, _ => NoTrace, 0, -i).messages.map("warm-up " + _)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"set-up rounds ${setupS.map(s => f"$s%.2f").mkString(" ")} s")

    val (result, ph) =
      if (!o.trace) {
        gc.arm()
        val ph = loop(prep, _ => NoTrace, o.seconds, 0)
        gc.disarm()
        val p50 = Stats.median(ph.latMs)
        (Seq(("setup_s", Stats.median(setupS), "s"),
          ("rows_per_s", prep.rowsPerOp / (p50 / 1000.0), "1/s"),
          ("batch_ms_p50", p50, "ms"),
          ("batch_ms_p90", Stats.percentile(ph.latMs, 90), "ms"),
          ("heap_live_peak_mb", gc.peakMb, "MB")), ph)
      } else traced(spark, prep, o, fallbacks)

    problems ++= ph.messages
    problems ++= prep.finish()
    stop(spark)

    val attempted = ph.latMs.size
    val failed = ph.failed
    val lat = ph.latMs
    problems.take(20).foreach(p => System.err.println(s"output check: $p"))
    println(s"# ${wl.name}: ${wl.sizes}; seed ${o.seed}; $cores task threads; " +
      s"${lat.size} timed operations, ${Stats.beyond(lat, 90)} beyond p90")
    println(f"# fail_ratio ${failed.toDouble / attempted}%.4f ratio ($failed of $attempted operations)")
    result.foreach { case (n, v, u) => println(f"# $n%-28s $v%14.4f $u") }
    println(Json.obj(Seq(
      "correct" -> (problems.isEmpty && failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(result.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
  }

  /** Layer spans and counters on every other operation; the untraced ones
    * in between give the baseline the tracing overhead is measured against.
    */
  private def traced(spark: SparkSession, prep: Prepared, o: Opts,
                     fallbacks: AtomicLong): (Seq[(String, Double, String)], Phase) = {
    val counters = new ExecCounters(fallbacks)
    val plans = new ExecutedPlans
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(plans)
    val tr = new ActiveTrace(spark, counters, plans)
    val ph = loop(prep, op => if (op % 2 == 0) tr else NoTrace, o.seconds, 0, minOps = 2)
    val sizes = CodegenInspector.methodSizes(tr.lastPlans.map(_.executedPlan))
    spark.listenerManager.unregister(plans)
    spark.sparkContext.removeSparkListener(counters)

    val ops = ph.latMs.indices.filter(_ % 2 == 0)
    val byOp = tr.spans.groupBy(_.op)
    def perOp(f: Seq[Span] => Double): Double =
      Stats.median(ops.map(i => f(byOp.getOrElse(i, mutable.ArrayBuffer.empty).toSeq)))
    def ms(name: String): Double = perOp(_.filter(_.name == name).map(_.ms).sum)
    def in(name: String)(f: Counts => Double): Double = perOp(_.filter(_.name == name).map(s => f(s.counts)).sum)
    def selfMs(layer: String): Double =
      perOp(_.filter(_.name.startsWith(layer + ".")).map(tr.selfMs).sum)
    val mb = 1048576.0

    o.out.foreach { dir =>
      dir.mkdirs()
      val f = new File(dir, s"trace-${o.workload}-seed${o.seed}.json")
      Files.write(f.toPath, tr.toJson.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"trace: ${tr.spans.size} spans written to $f")
    }
    def latOf(parity: Int) = ph.latMs.indices.filter(_ % 2 == parity).map(ph.latMs)
    val overhead = (Stats.median(latOf(0)) / Stats.median(latOf(1)) - 1) * 100
    (Seq(
      ("rules.parse_ms", ms("rules.parse"), "ms"),
      ("rules.deserialize_ms", ms("rules.deserialize"), "ms"),
      ("engine.compile_ms", ms("engine.compile"), "ms"),
      ("engine.compile_jobs", in("engine.compile")(_.jobs.toDouble), "count"),
      ("engine.base_fallbacks", in("op")(_.fallbacks.toDouble), "count"),
      ("io.read_ms", ms("io.read"), "ms"),
      ("metrics.observe_wait_ms", ms("metrics.observe_wait"), "ms"),
      ("metrics.rows_ms", ms("metrics.rows"), "ms"),
      ("pipeline.build_ms", ms("pipeline.build"), "ms"),
      ("pipeline.build_jobs", in("pipeline.build")(_.jobs.toDouble), "count"),
      ("exec.action_ms", ms("exec.action"), "ms"),
      ("exec.cpu_ms", in("exec.action")(_.cpuMs), "ms"),
      ("exec.run_ms", in("exec.action")(_.runMs), "ms"),
      ("exec.gc_ms", in("exec.action")(_.gcMs), "ms"),
      ("exec.jobs", in("exec.action")(_.jobs.toDouble), "count"),
      ("exec.stages", in("exec.action")(_.stages.toDouble), "count"),
      ("exec.tasks", in("exec.action")(_.tasks.toDouble), "count"),
      ("exec.shuffle_write_mb", in("exec.action")(_.shuffleWrite / mb), "MB"),
      ("exec.shuffle_read_mb", in("exec.action")(_.shuffleRead / mb), "MB"),
      ("exec.spill_mb", in("exec.action")(_.spill / mb), "MB"),
      ("codegen.max_method_bytes", if (sizes.isEmpty) 0.0 else sizes.max.toDouble, "bytes"),
      ("codegen.unjitted_subtrees", sizes.count(_ > CodegenInspector.HugeMethodBytes).toDouble, "count"),
      ("codegen.compiles", in("op")(_.compiles.toDouble), "count"),
      ("rules.self_ms", selfMs("rules"), "ms"),
      ("engine.self_ms", selfMs("engine"), "ms"),
      ("io.self_ms", selfMs("io"), "ms"),
      ("metrics.self_ms", selfMs("metrics"), "ms"),
      ("pipeline.self_ms", selfMs("pipeline"), "ms"),
      ("exec.self_ms", selfMs("exec"), "ms"),
      ("trace.overhead_pct", overhead, "%")), ph)
  }
}
