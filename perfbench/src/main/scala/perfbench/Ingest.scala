package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.{col, length, sum}

import graft.Bench
import graft.index.{IndexConfig, IndexStore}
import graft.ops.Dedup
import graft.query.{Fts, QueryEngine, SearchClause, Wand}

/** `ingest`: curated writes beside reads on a persisted store.
  * `create`, then an append batch (a seeded share upserts existing keys
  * with new content), one `deleteByQuery`, `compact` and `gc`. The
  * incoming batch is first screened for near-duplicates with
  * `Dedup.minhashPairs` and `Dedup.simhash` (planted pairs measure
  * recall); the screen reads the batch, not the index. After every
  * commit a fresh `IndexStore.load(cacheDocs = false)` answers a fixed
  * probe set: the store scoring path on a cold engine.
  *
  * The store lives in the run's work directory on the local file
  * system; segments are written by Spark's parquet writer through
  * Hadoop's local file system, which does not fsync.
  */
object Ingest {
  val BaseDocs = 4000
  val BatchDocs = 800
  val UpsertShare = 0.2
  val PurgeDocs = 30
  val NearDupPairs = 8
  val Batches = 1
  val RecallFloor = 0.9
  /** Fresh engines that answer the query probes after each commit. */
  val ProbeRounds = 2

  /** Marker probes check upserts and deletes; how many hits they have
    * changes by design from commit to commit, so only the query probes,
    * which always fill their top-10, are latency samples. The first
    * marker probe on a fresh load ends the freshness interval.
    */
  val markers: Seq[(String, Seq[SearchClause])] = Seq(
    "origmark" -> Seq(Fts("content", "origmark")),
    "upsertmark" -> Seq(Fts("content", "upsertmark")),
    "purgemark" -> Seq(Fts("content", "purgemark")))
  val queries: Seq[(String, Seq[SearchClause])] = Seq(
    "hot" -> Seq(Fts("content", "fn return")),
    "mixed" -> Seq(Fts("content", "binary search merge")),
    "rare_hot" -> Seq(Fts("content", "needle license fn")),
    "conj" -> Seq(Fts("content", "search"), Fts("content", "license")))
  val probes: Seq[(String, Seq[SearchClause])] = markers ++ queries

  private val FileId = """file_(\d+)\.""".r.unanchored

  private def idOf(path: String): Long = path match {
    case FileId(id) => id.toLong
    case _ => throw new IllegalStateException(s"unexpected path $path")
  }

  def dirBytes(dir: String): Long = {
    val w = Files.walk(Paths.get(dir))
    try w.filter(p => Files.isRegularFile(p)).mapToLong((p: Path) => Files.size(p)).sum()
    finally w.close()
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val plan = Inputs.ingestPlan(seed, BaseDocs, Batches, BatchDocs, UpsertShare, PurgeDocs, NearDupPairs)
    val input = s"$work/ingest-input"
    setup(3)((_: Unit) => ()) { _ =>
      tracer.span("corpus.generate")(Inputs.writeIngest(spark, plan, cores * 2, input))
    }
    val dir = s"$work/store"
    val config = IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
      shardDocs = 4096, buildPartitions = cores * 2)

    val live = scala.collection.mutable.HashSet.empty[Long]
    live ++= (0 until BaseDocs).map(plan.base + _)
    val upserted = scala.collection.mutable.HashSet.empty[Long]
    var purged = false
    var engine: Option[QueryEngine] = None
    val probeMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var commits = 0
    var compileHits, planHits, tracedProbes = 0L

    /** top-10 plus the stored `path` of each hit: (docId, score, path). */
    def probe(e: QueryEngine, clauses: Seq[SearchClause], traceIt: Boolean): Seq[(Long, Float, String)] = {
      if (!traceIt) {
        val top = e.searchF32(clauses, 10).collect()
        val ids = top.map(_.getLong(0)).toSeq
        val paths = if (ids.isEmpty) Map.empty[Long, String]
          else e.lookupDocs(ids, Seq("path")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        top.toSeq.map(r => (r.getLong(0), r.getFloat(1), paths.getOrElse(r.getLong(0), null)))
      } else tracer.request("store.probe") {
        val c0 = e.compileCacheHits
        tracer.span("query.store_compile")(e.compile(clauses))
        compileHits += e.compileCacheHits - c0
        val l0 = e.planCacheHits
        val top = tracer.span("query.store_topk") {
          val df = e.searchF32(clauses, 10)
          tracer.span("query.store_plan")(df.queryExecution.executedPlan)
          tracer.span("query.store_exec")(df.collect())
        }
        planHits += e.planCacheHits - l0
        tracedProbes += 1
        val ids = top.map(_.getLong(0)).toSeq
        val paths = if (ids.isEmpty) Map.empty[Long, String]
          else tracer.span("query.store_fetch")(e.lookupDocs(ids, Seq("path")).collect())
            .map(r => r.getLong(0) -> r.getString(1)).toMap
        top.toSeq.map(r => (r.getLong(0), r.getFloat(1), paths.getOrElse(r.getLong(0), null)))
      }
    }

    /** Answer one probe, check its hits, and keep its wall if it is a
      * latency sample.
      */
    def answer(e: QueryEngine, label: String, name: String, clauses: Seq[SearchClause]): Unit = {
      val (res, s) = Bench.time(checks.op(s"$label probe $name")(probe(e, clauses, traced)))
      if (queries.exists(_._1 == name)) probeMs += s * 1e3
      res.foreach { rows =>
        checks.check(s"$label probe $name: every hit has a live stored row")(
          rows.forall(r => r._3 != null && live(idOf(r._3))))
        name match {
          case "origmark" => checks.check(s"$label probe origmark: no superseded key")(
            rows.forall(r => r._3 == null || !upserted(idOf(r._3))))
          case "upsertmark" => checks.check(s"$label probe upsertmark: only rewritten keys")(
            rows.forall(r => r._3 == null || upserted(idOf(r._3))))
          case "purgemark" if purged => checks.check(s"$label probe purgemark: no deleted key")(rows.isEmpty)
          case _ =>
        }
      }
    }

    /** After a commit: load the new version cold and answer the probes,
      * then the query probes again on `ProbeRounds - 1` more fresh
      * engines over the same load (each engine starts with empty
      * compile and plan LRUs). Returns seconds from `since` to the first
      * probe answered.
      */
    def afterCommit(label: String, since: Long): Double = {
      engine.foreach(_.index.unpersist(blocking = true))
      val idx = tracer.request("store.load")(tracer.span("index.load")(
        IndexStore.load(spark, dir, cacheDocs = false)))
      val e = new QueryEngine(idx)
      engine = Some(e)
      val (mName, mClauses) = markers.head
      answer(e, label, mName, mClauses)
      val fresh = (System.nanoTime() - since) / 1e9
      probes.tail.foreach { case (name, clauses) => answer(e, label, name, clauses) }
      (1 until ProbeRounds).foreach { _ =>
        val cold = new QueryEngine(idx)
        queries.foreach { case (name, clauses) => answer(cold, label, name, clauses) }
      }
      checks.check(s"$label: live count equals ${live.size}")(idx.docs.count() == live.size)
      commits += 1
      fresh
    }

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val base = spark.read.parquet(s"$input/base")
    val (_, tCreate) = Bench.time(checks.op("create")(tracer.request("ingest.create")(
      tracer.span("index.create")(IndexStore.create(base, config, dir).unpersist()))))
    afterCommit("create", System.nanoTime())

    // the incoming batches are screened for near-duplicates as one
    // curation pass before they are appended
    val incoming = (0 until Batches).map(b => spark.read.parquet(s"$input/batch-$b")).reduce(_ union _)
    val (screen, tScreen) = Bench.time(checks.op("screen")(tracer.request("ingest.screen") {
      (tracer.span("ops.minhash")(Dedup.minhashPairs(incoming, "path", "content").collect()),
        tracer.span("ops.simhash")(Dedup.simhash(incoming, "path", "content").collect()))
    }))
    val planted = plan.batches.flatMap(_.pairs).toSet
    val nPairs = screen.map(_._1.length).getOrElse(0)
    val recall = screen.map { case (pairs, sims) =>
      checks.check("screen: one simhash per document")(
        sims.length == Batches * BatchDocs && sims.map(_.getString(0)).distinct.length == Batches * BatchDocs)
      val found = pairs.map(r => (idOf(r.getString(0)), idOf(r.getString(1))))
        .map { case (x, y) => (math.min(x, y), math.max(x, y)) }.toSet
      planted.count(found).toDouble / planted.size
    }.getOrElse(0.0)
    checks.check(f"near-duplicate recall $recall%.3f of ${planted.size} planted pairs >= $RecallFloor")(
      recall >= RecallFloor)

    val appendS, freshS, writtenPerDoc = scala.collection.mutable.ArrayBuffer.empty[Double]
    var b = 0
    while (b < Batches) {
      val batch = plan.batches(b)
      val batchDf = spark.read.parquet(s"$input/batch-$b")
      val before = dirBytes(dir)
      val start = System.nanoTime()
      val (ok, s) = Bench.time(checks.op(s"append $b")(tracer.request("ingest.append")(
        tracer.span("index.append")(IndexStore.appendEpoch(batchDf, dir, s"snap-$b")))))
      checks.check(s"append $b commits")(ok.contains(true))
      appendS += s
      writtenPerDoc += (dirBytes(dir) - before).toDouble / BatchDocs
      live ++= batch.fresh
      upserted ++= batch.upserts
      freshS += afterCommit(s"append $b", start)
      if (b == 0) {
        val v = IndexStore.currentVersion(dir)
        checks.check("re-submitting a committed snapshot is a no-op")(
          !IndexStore.appendEpoch(batchDf, dir, "snap-0") && IndexStore.currentVersion(dir) == v)
      }
      b += 1
    }
    log(f"screen: ${Batches * BatchDocs} docs in $tScreen%.3f s, $nPairs pairs, near-duplicate recall $recall%.3f; " +
      f"appends: $Batches batches of $BatchDocs, median ${Stats.median(appendS)}%.3f s")

    val segments = IndexStore.readManifest(spark, dir)._1.map(_.path).distinct.size
    val (removed, tDelete) = Bench.time(checks.op("deleteByQuery")(tracer.request("ingest.delete")(
      tracer.span("index.delete")(IndexStore.deleteByQuery(spark, dir, Seq(Fts("content", "purgemark")), "purge")))))
    checks.check(s"deleteByQuery removes the ${plan.purge.size} marked docs")(removed.contains(plan.purge.size.toLong))
    live --= plan.purge
    purged = true
    afterCommit("delete", System.nanoTime())
    val (_, tCompact) = Bench.time(checks.op("compact")(tracer.request("ingest.compact")(
      tracer.span("index.compact")(IndexStore.compact(spark, dir)))))
    afterCommit("compact", System.nanoTime())
    val (gcRemoved, tGc) = Bench.time(checks.op("gc")(tracer.request("ingest.gc")(
      tracer.span("index.gc")(IndexStore.gc(spark, dir)))))
    checks.check("gc removes superseded segments")(gcRemoved.exists(_ > 0))
    // gc commits no version: the reader loaded after compact must still
    // read every live document from the files gc kept
    checks.check(s"after gc: live count equals ${live.size}")(engine.get.index.docs.count() == live.size)
    log(f"measured: create $tCreate%.3f s, delete $tDelete%.3f s, compact $tCompact%.3f s, gc $tGc%.3f s, " +
      f"${probeMs.size} probes over $commits commits in $elapsed%.2f s")

    val idx = engine.get.index
    val liveBytes = idx.docs.select(sum(length(col("repo")) + length(col("path")) + length(col("commit")) +
      length(col("lang")) + length(col("content")))).collect()(0).getLong(0)
    val spaceAmp = dirBytes(dir).toDouble / liveBytes

    if (!traced) {
      latency(probeMs.toSeq)
      // the whole write path: bulk create, then screen + append per batch
      e2e.put("throughput_per_s", (BaseDocs + Batches * BatchDocs) / (tCreate + tScreen + appendS.sum),
        "1/s", 2 + Batches)
    } else {
      ledger.foreach(_.settle())
      val led = ledger.get
      def spanSum(name: String) = led.of(tracer.named(name))
      val n = tracedProbes.toInt
      metrics.put("query.store_compile_ms", Stats.medianOr0(spanMs("query.store_compile")), "ms", n)
      metrics.put("query.store_compile_hit_ratio", Stats.ratio(compileHits, tracedProbes), "ratio", n)
      metrics.put("query.store_plan_hit_ratio", Stats.ratio(planHits, tracedProbes), "ratio", n)
      metrics.put("query.store_plan_ms", Stats.medianOr0(spanMs("query.store_plan")), "ms", n)
      metrics.put("query.store_exec_ms", Stats.medianOr0(spanMs("query.store_exec")), "ms", n)
      metrics.put("query.store_topk_ms", Stats.medianOr0(spanMs("query.store_topk")), "ms", n)
      metrics.put("query.store_fetch_ms", Stats.medianOr0(spanMs("query.store_fetch")), "ms",
        spanMs("query.store_fetch").size)
      val reqs = tracer.named("store.probe")
      metrics.put("query.store_driver_ms", Stats.medianOr0(reqs.map(r =>
        math.max(0.0, r.ms - led.of(tracer.ofRequest(r)).jobWallMs))), "ms", reqs.size)
      val stats = Wand.Stats.register(spark)
      probes.foreach { case (_, c) => engine.get.searchF32(c, 10, wandStats = Some(stats)).collect() }
      metrics.put("query.store_wand_blocks_decoded", stats.decodedBlocks.value.toDouble, "count", probes.size)
      metrics.put("query.store_wand_blocks_skipped", stats.skippedBlocks.value.toDouble, "count", probes.size)
      metrics.put("index.build_s", tCreate, "s")
      metrics.put("index.build_docs_per_s", BaseDocs / tCreate, "docs/s")
      buildTraffic(Seq(spanSum("index.create")))
      val appends = tracer.named("index.append").map(s => led.of(Seq(s)))
      metrics.put("index.append_s", Stats.median(appendS.toSeq), "s", appendS.size)
      metrics.put("index.append_input_mb", Stats.mean(appends.map(_.inputBytes / 1e6)), "MB", appends.size)
      metrics.put("index.append_shuffle_write_mb", Stats.mean(appends.map(_.shuffleWriteBytes / 1e6)), "MB",
        appends.size)
      metrics.put("index.bytes_written_per_doc", Stats.median(writtenPerDoc.toSeq), "B/doc", writtenPerDoc.size)
      metrics.put("index.fresh_s", Stats.median(freshS.toSeq), "s", freshS.size)
      metrics.put("index.load_s", Stats.median(spanMs("index.load")) / 1e3, "s", spanMs("index.load").size)
      metrics.put("index.delete_s", tDelete, "s")
      metrics.put("index.compact_s", tCompact, "s")
      val compact = spanSum("index.compact")
      metrics.put("index.compact_shuffle_mb", (compact.shuffleWriteBytes + compact.shuffleReadBytes) / 1e6, "MB")
      metrics.put("index.gc_s", tGc, "s")
      metrics.put("index.segments", segments.toDouble, "count")
      metrics.put("index.space_amp", spaceAmp, "ratio")
      metrics.put("index.cached_mb", spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6, "MB")
      metrics.put("ops.minhash_s", Stats.median(spanMs("ops.minhash")) / 1e3, "s", 1)
      metrics.put("ops.simhash_s", Stats.median(spanMs("ops.simhash")) / 1e3, "s", 1)
      metrics.put("ops.minhash_pairs", nPairs.toDouble, "count", 1)
      metrics.put("ops.minhash_recall", recall, "ratio", planted.size)
      val screens = tracer.named("ingest.screen").map(r => led.of(tracer.ofRequest(r)))
      metrics.put("ops.shuffle_write_mb", Stats.mean(screens.map(_.shuffleWriteBytes / 1e6)), "MB", screens.size)
      sparkPerRequest("ingest.append")
      coverage("store.probe")
      // tracing overhead: the same warm probes on the final reader,
      // untraced and traced in turn, the order swapped every round
      val plain, withSpans = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (round <- 0 until 4; (_, c) <- queries; spans <- Seq(round % 2 == 1, round % 2 == 0))
        (if (spans) withSpans else plain) += Bench.time(probe(engine.get, c, spans))._2
      metrics.put("trace.overhead_ratio", Stats.median(withSpans) / Stats.median(plain) - 1.0, "ratio",
        withSpans.size)
    }
    log(f"store: $segments segments before compact, space amplification $spaceAmp%.3f, " +
      f"fresh p50 ${Stats.median(freshS.toSeq)}%.3f s")
    engine.foreach(_.index.unpersist(blocking = true))
  }
}
