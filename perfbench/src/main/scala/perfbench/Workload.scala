package perfbench

import org.apache.spark.sql.SparkSession

import graft.Bench

/** Everything a workload run needs. Timings are taken with `Bench.time`
  * (wall seconds) around calls into the engine's public functions;
  * the tracer adds spans (and Spark job groups) only in traced runs.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val traced: Boolean,
    val work: String, val cores: Int, val tracer: Tracer, val ledger: Option[JobLedger]) {
  val checks = new Checks
  val metrics = new Metrics
  /** End-to-end metrics, reported by untraced runs. */
  val e2e = new Metrics

  def log(s: String): Unit = println(s)

  /** Run the workload's set-up `n` times and keep the last one. Each
    * earlier set-up is released before the next starts, so every
    * repetition starts from the same state; `setup_s` is their median.
    */
  def setup[T](n: Int)(release: T => Unit)(body: Int => T): T = {
    var last: Option[T] = None
    val walls = (1 to n).map { rep =>
      last.foreach(release)
      val (v, s) = Bench.time(tracer.request("setup")(body(rep)))
      last = Some(v)
      log(f"setup $rep/$n: $s%.3f s")
      s
    }
    e2e.put("setup_s", Stats.median(walls), "s", n)
    last.get
  }

  /** Report a latency sample (ms) as its median and 80th percentile. */
  def latency(samples: collection.Seq[Double]): Unit = {
    e2e.put("p50_ms", Stats.median(samples), "ms", samples.size)
    e2e.put("p80_ms", Stats.quantile(samples, 0.8), "ms", samples.size)
    val beyond = samples.count(_ > Stats.quantile(samples, 0.8))
    log(f"latency: n=${samples.size} p50=${Stats.median(samples)}%.2f ms p80=${Stats.quantile(samples, 0.8)}%.2f ms " +
      f"(samples beyond p80: $beyond) max=${samples.max}%.2f ms")
  }

  /** Duration of every span called `name`, in ms. */
  def spanMs(name: String): Seq[Double] = tracer.named(name).map(_.ms)

  /** Spark work per request root called `root`: per-request means. */
  def sparkPerRequest(root: String): Unit = {
    val reqs = tracer.named(root)
    val led = ledger.get
    val w = reqs.map(r => led.of(tracer.ofRequest(r)))
    def m(f: SparkWork => Double) = Stats.mean(w.map(f))
    metrics.put("spark.jobs", m(_.jobs.toDouble), "count", w.size)
    metrics.put("spark.stages", m(_.stages.toDouble), "count", w.size)
    metrics.put("spark.tasks", m(_.tasks.toDouble), "count", w.size)
    metrics.put("spark.task_run_ms", m(_.taskRunMs.toDouble), "ms", w.size)
    metrics.put("spark.scheduler_delay_ms", m(_.schedulerDelayMs.toDouble), "ms", w.size)
    metrics.put("spark.gc_ms", m(_.gcMs.toDouble), "ms", w.size)
    metrics.put("spark.spill_mb", m(_.spillBytes / 1e6), "MB", w.size)
  }

  /** Bytes the index builds moved (medians over the given builds). */
  def buildTraffic(builds: Seq[SparkWork]): Unit = {
    metrics.put("index.build_shuffle_write_mb", Stats.median(builds.map(_.shuffleWriteBytes / 1e6)), "MB", builds.size)
    metrics.put("index.build_shuffle_read_mb", Stats.median(builds.map(_.shuffleReadBytes / 1e6)), "MB", builds.size)
    metrics.put("index.build_spill_mb", Stats.median(builds.map(_.spillBytes / 1e6)), "MB", builds.size)
  }

  /** Share of each `root` request's wall covered by its child spans:
    * the minimum over requests.
    */
  def coverage(root: String): Unit = {
    val cov = tracer.named(root).map { r =>
      tracer.children(r).map(c => c.endNs - c.startNs).sum.toDouble / math.max(1L, r.endNs - r.startNs)
    }
    metrics.put("trace.span_coverage", if (cov.isEmpty) 0.0 else cov.min, "ratio", cov.size)
  }
}

object Layers {
  /** Every per-layer metric with its unit. A traced run of any workload
    * reports all of them; a layer the workload never calls reads 0.
    */
  val all: Seq[(String, String)] = Seq(
    "sql.parse_ms" -> "ms", "sql.parse_hit_ratio" -> "ratio", "sql.lower_ms" -> "ms",
    "query.compile_ms" -> "ms", "query.compile_hit_ratio" -> "ratio", "query.plan_hit_ratio" -> "ratio",
    "query.plan_ms" -> "ms", "query.exec_ms" -> "ms", "query.topk_ms" -> "ms", "query.fetch_ms" -> "ms",
    "query.driver_ms" -> "ms", "query.wand_blocks_decoded" -> "count", "query.wand_blocks_skipped" -> "count",
    "query.store_compile_ms" -> "ms", "query.store_compile_hit_ratio" -> "ratio",
    "query.store_plan_hit_ratio" -> "ratio", "query.store_plan_ms" -> "ms", "query.store_exec_ms" -> "ms",
    "query.store_topk_ms" -> "ms", "query.store_fetch_ms" -> "ms", "query.store_driver_ms" -> "ms",
    "query.store_wand_blocks_decoded" -> "count", "query.store_wand_blocks_skipped" -> "count",
    "batch.compile_ms" -> "ms", "batch.exec_ms" -> "ms", "batch.blocks_decoded" -> "count",
    "batch.blocks_skipped" -> "count", "batch.wand_routable_ratio" -> "ratio",
    "index.build_s" -> "s", "index.build_docs_per_s" -> "docs/s", "index.build_shuffle_write_mb" -> "MB",
    "index.build_shuffle_read_mb" -> "MB", "index.build_spill_mb" -> "MB", "index.cached_mb" -> "MB",
    "index.append_s" -> "s", "index.append_input_mb" -> "MB", "index.append_shuffle_write_mb" -> "MB",
    "index.bytes_written_per_doc" -> "B/doc", "index.fresh_s" -> "s", "index.load_s" -> "s",
    "index.delete_s" -> "s", "index.compact_s" -> "s", "index.compact_shuffle_mb" -> "MB",
    "index.gc_s" -> "s", "index.segments" -> "count", "index.space_amp" -> "ratio",
    "ops.minhash_s" -> "s", "ops.simhash_s" -> "s", "ops.minhash_pairs" -> "count",
    "ops.minhash_recall" -> "ratio", "ops.shuffle_write_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms", "spark.scheduler_delay_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.spill_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio", "trace.span_coverage" -> "ratio", "trace.spans" -> "count")
}
