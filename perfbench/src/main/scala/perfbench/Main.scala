package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.Bench

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * `--workload serve|ingest --seed N --seconds S --trace 0|1
  *  --work DIR --out DIR`
  *
  * Prints every timing with its unit and sample count, then, as the last
  * line, one JSON object with `correct`, `attempted`, `failed` and
  * `metrics` (end-to-end metrics untraced, per-layer metrics traced).
  * Exits non-zero when an output check failed.
  */
object Main {
  private val workloads: Map[String, Ctx => Unit] =
    Map("serve" -> Serve.run, "ingest" -> Ingest.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = opt("workload")
    val run = workloads.getOrElse(workload, { System.err.println(s"unknown workload $workload"); sys.exit(2) })
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val out = opt("out")
    val cores = Runtime.getRuntime.availableProcessors

    // the shared stale-dir policy (leftovers of killed runs, untouched
    // for an hour and held open by no process) applied to this
    // benchmark's own work root, which keeps every file inside the checkout
    val workRoot = java.nio.file.Paths.get(work).toAbsolutePath.getParent
    Bench.purgeStaleTmp(Seq(workRoot.toString), ageMinutes = 60)
    // regime markers: printed, not reported. The CPU marker (~2.5 s, one
    // thread) runs beside Spark's start-up, which is not measured.
    val calib = Future(Bench.calibrate())(ExecutionContext.global)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val calibStart = Await.result(calib, Duration.Inf)
    val memCalibStart = Bench.calibrateMem()

    val ledger = if (traced) Some(new JobLedger) else None
    ledger.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, seconds, traced, work, cores, new Tracer(traced, spark.sparkContext), ledger)
    println(s"workload $workload seed $seed seconds $seconds traced $traced cores $cores")
    val t0 = System.nanoTime()
    try run(ctx)
    catch {
      case e: Throwable =>
        System.err.println(s"workload $workload aborted")
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    println(f"workload wall ${(System.nanoTime() - t0) / 1e9}%.2f s")

    // the CPU marker runs at the start only, to keep runs short; the
    // memory marker brackets the run
    val memCalibEnd = Bench.calibrateMem()
    println(f"regime markers: calib_start_s=$calibStart%.4f " +
      f"mem_calib_start_s=$memCalibStart%.4f mem_calib_end_s=$memCalibEnd%.4f")

    val reported = if (!traced) ctx.e2e else {
      val p = java.nio.file.Paths.get(out, s"trace-$workload-seed$seed.jsonl")
      ctx.tracer.write(p, ledger.get)
      ctx.metrics.put("trace.spans", ctx.tracer.spans.size.toDouble, "count")
      println(s"spans written to $p")
      val m = new Metrics
      Layers.all.foreach { case (name, unit) =>
        val v = ctx.metrics.all.get(name)
        require(v.forall(_.unit == unit), s"$name reported in ${v.get.unit}, declared in $unit")
        m.put(name, v.map(_.value).getOrElse(0.0), unit, v.map(_.samples).getOrElse(0))
      }
      val undeclared = ctx.metrics.all.keySet -- Layers.all.map(_._1)
      require(undeclared.isEmpty, s"undeclared per-layer metrics: $undeclared")
      m
    }
    reported.all.values.foreach(m => println(f"metric ${m.name}%-34s ${m.value}%14.4f ${m.unit}%-7s n=${m.samples}"))
    val checks = ctx.checks
    checks.failures.take(20).foreach(f => println(s"FAILED CHECK: $f"))
    println(f"checks: ${checks.attempted} attempted, ${checks.failed} failed, fail_ratio " +
      f"${Stats.ratio(checks.failed, checks.attempted)}%.4f")
    val correct = checks.failed == 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(checks.attempted),
      "failed" -> Json.num(checks.failed),
      "metrics" -> Json.obj(reported.all.values.toSeq.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
