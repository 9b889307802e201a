package perfbench

import org.apache.spark.sql.Row

import graft.Bench
import graft.query.{QueryEngine, SearchClause, Wand}
import graft.sql.{LnxSession, LnxSql}

/** `serve`: one closed-loop client sends top-10 SQL statements to an
  * in-memory table, then the same stream as 64-wide `searchManyF32`
  * batches. The stream's distinct statements (~1040, see
  * [[Inputs.shapes]]) outnumber the parse LRU (256) and fit the compile
  * and plan LRUs (4096).
  */
object Serve {
  val Docs = 10000L
  val BatchWidth = 64
  val SingleShare = 0.6
  val WarmBatches = 5
  val MinStatements = 40
  val MinBatches = 5
  val CheckSample = 4
  /** Qids of the first batch checked against their single-query answers
    * (each check is one `searchF32`, ~60 ms here).
    */
  val BatchCheckQids = 16

  final case class Table(session: LnxSession, engine: QueryEngine)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val off = Inputs.corpusOffset(seed)
    val builds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val table = setup(3)((t: Table) => t.engine.index.unpersist(blocking = true)) { rep =>
      val path = s"$work/serve-corpus"
      tracer.span("corpus.generate")(Inputs.writeCorpus(spark, off, off + Docs, cores * 2, path))
      val session = new LnxSession(spark)
      session.register("code", spark.read.parquet(path), Seq("repo", "path", "commit"), Seq("content"))
      // the first statement builds the index (LnxSession builds lazily)
      val (_, build) = Bench.time(tracer.span("index.build")(
        session.execute(Inputs.Stmt(Seq("fts" -> "fn")).sql).collect()))
      builds += build
      Table(session, session.table("code").engine.get)
    }
    val Table(session, engine) = table
    metrics.put("index.build_s", Stats.median(builds.toSeq), "s", builds.size)
    metrics.put("index.build_docs_per_s", Docs / Stats.median(builds.toSeq), "docs/s", builds.size)
    metrics.put("index.cached_mb",
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6, "MB")
    log(f"index: $Docs docs, ${metrics.all("index.cached_mb").value}%.1f MB cached")

    // JIT and code-generation warm-up on another seed's stream
    val warm = new Inputs.Stream(seed + 1000003L)
    val warmSt = Seq.fill(8)(warm.next())
    warmSt.foreach(s => session.execute(s.sql).collect())
    // batch times keep falling for the first few full-width batches
    (0 until WarmBatches).foreach { _ =>
      engine.searchManyF32((0 until BatchWidth).map(q => q -> warm.next().search), 10).collect()
    }

    val stream = new Inputs.Stream(seed)
    val seen = scala.collection.mutable.HashSet.empty[Inputs.Stmt] ++= warmSt
    val singleBudget = seconds * SingleShare
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val timed = scala.collection.mutable.LinkedHashSet.empty[Inputs.Stmt]
    var parseHits, compileHits, planHits, tracedN, novel = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while ((elapsed < singleBudget || untraced.size < MinStatements) && elapsed < 3 * singleBudget) {
      val st = stream.next()
      if (!seen(st)) novel += 1
      seen += st
      timed += st
      if (traced && i % 2 == 0) {
        // the statement's own call sequence: compiling first does the
        // work `execute` would do on a compile-LRU miss (it then hits);
        // the parse stays inside `execute`, behind the session's LRU
        val p0 = session.parseCacheHits; val l0 = engine.planCacheHits
        val (rows, s) = Bench.time(checks.op("statement")(tracer.request("serve.statement") {
          val c0 = engine.compileCacheHits
          tracer.span("query.compile")(engine.compile(st.search))
          compileHits += engine.compileCacheHits - c0
          val df = tracer.span("sql.lower")(session.execute(st.sql))
          tracer.span("query.plan")(df.queryExecution.executedPlan)
          tracer.span("query.exec")(df.collect())
        }))
        parseHits += session.parseCacheHits - p0
        planHits += engine.planCacheHits - l0
        tracedN += 1
        tracedWalls += s * 1e3
        rows.foreach(r => checks.check(s"statement returns at most 10 rows: ${st.sql}")(r.length <= 10))
        if (i % 8 == 0) checks.op("decomposed")(tracer.request("serve.decomposed") {
          val top = tracer.span("query.topk")(engine.searchF32(st.search, 10).collect())
          val ids = top.map(_.getLong(0)).toSeq
          if (ids.nonEmpty) tracer.span("query.fetch")(engine.lookupDocs(ids, Seq("path")).collect())
        })
      } else {
        val (rows, s) = Bench.time(checks.op("statement")(session.execute(st.sql).collect()))
        untraced += s * 1e3
        rows.foreach(r => checks.check(s"statement returns at most 10 rows: ${st.sql}")(r.length <= 10))
      }
      i += 1
    }
    log(f"single: ${untraced.size + tracedWalls.size} statements (${timed.size} distinct, $novel novel) in $elapsed%.2f s")

    val batchTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Int, Seq[SearchClause])]]
    var routable, routed = 0L
    val b0 = System.nanoTime()
    def bElapsed = (System.nanoTime() - b0) / 1e9
    val batchBudget = seconds - singleBudget
    while ((bElapsed < batchBudget || batchTimes.size < MinBatches) && bElapsed < 3 * batchBudget) {
      val batch = (0 until BatchWidth).map(q => q -> stream.next().search)
      batches += batch
      val (_, s) = Bench.time(checks.op("batch")(tracer.request("serve.batch") {
        if (traced) {
          val cqs = tracer.span("batch.compile")(engine.compileMany(batch.map(_._2)))
          routable += cqs.count(cq => cq.terms.nonEmpty && Wand.batchWandRoutable(cq, engine.index.numDocs))
          routed += cqs.size
        }
        val rows = tracer.span("batch.exec")(engine.searchManyF32(batch, 10).collect())
        checks.check("batch returns at most 10 rows per query")(
          rows.groupBy(_.getInt(0)).values.forall(_.length <= 10))
      }))
      batchTimes += s
    }
    log(f"batch: ${batchTimes.size} batches of $BatchWidth in $bElapsed%.2f s, " +
      f"median ${Stats.median(batchTimes) * 1e3}%.1f ms, walls ${batchTimes.map(t => f"${t * 1e3}%.0f").mkString(" ")}")

    // ---- output checks (untimed)
    val rnd = new scala.util.Random(seed * 7 + 5)
    val sample = rnd.shuffle(timed.toIndexedSeq).take(CheckSample)
    sample.foreach { st =>
      checks.check(s"WAND equals exhaustive: ${st.sql}") {
        val w = engine.searchF32(st.search, 10, useWand = true).collect().map(pair).toSeq
        val e = engine.searchF32(st.search, 10, useWand = false).collect().map(pair).toSeq
        w == e
      }
      checks.check(s"SQL equals top-k + stored-field fetch: ${st.sql}") {
        val sql = session.execute(st.sql).collect().map(r => (r.getString(0), r.getFloat(1))).toSeq
        val top = engine.searchF32(st.search, 10).collect()
        val paths = if (top.isEmpty) Map.empty[Long, String]
          else engine.lookupDocs(top.map(_.getLong(0)).toSeq, Seq("path")).collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap
        sql.sortBy(r => (-r._2, r._1)) == top.map(r => (paths(r.getLong(0)), r.getFloat(1))).toSeq.sortBy(r => (-r._2, r._1))
      }
    }
    val checkBatch = batches.head
    val got = engine.searchManyF32(checkBatch, 10).collect()
      .groupBy(_.getInt(0)).map { case (q, rs) => q -> rs.map(r => (r.getLong(1), r.getFloat(2))).toSeq }
    val (_, tBatchCheck) = Bench.time(rnd.shuffle(checkBatch).take(BatchCheckQids).foreach { case (q, clauses) =>
      checks.check(s"batch qid $q equals its single-query result") {
        val single = engine.searchF32(clauses, 10).collect().map(pair).toSeq
        got.getOrElse(q, Nil).sortBy(r => (-r._2, r._1)) == single.sortBy(r => (-r._2, r._1))
      }
    })
    log(f"checks: $BatchCheckQids qids of the first batch against their single queries in $tBatchCheck%.2f s")

    if (!traced) {
      latency(untraced.toSeq)
      e2e.put("throughput_per_s", BatchWidth / Stats.median(batchTimes), "1/s", batchTimes.size)
    } else {
      // `execute` parses behind a private LRU, so the parse is timed on
      // its own: one uncached parse per distinct timed statement
      timed.foreach(st => tracer.request("serve.parse")(tracer.span("sql.parse")(LnxSql.parse(st.sql))))
      ledger.foreach(_.settle())
      metrics.put("sql.parse_ms", Stats.medianOr0(spanMs("sql.parse")), "ms", spanMs("sql.parse").size)
      metrics.put("sql.parse_hit_ratio", Stats.ratio(parseHits, tracedN), "ratio", tracedN.toInt)
      metrics.put("sql.lower_ms", Stats.medianOr0(spanMs("sql.lower")), "ms", tracedN.toInt)
      metrics.put("query.compile_ms", Stats.medianOr0(spanMs("query.compile")), "ms", tracedN.toInt)
      metrics.put("query.compile_hit_ratio", Stats.ratio(compileHits, tracedN), "ratio", tracedN.toInt)
      metrics.put("query.plan_hit_ratio", Stats.ratio(planHits, tracedN), "ratio", tracedN.toInt)
      metrics.put("query.plan_ms", Stats.medianOr0(spanMs("query.plan")), "ms", tracedN.toInt)
      metrics.put("query.exec_ms", Stats.medianOr0(spanMs("query.exec")), "ms", tracedN.toInt)
      metrics.put("query.topk_ms", Stats.medianOr0(spanMs("query.topk")), "ms", spanMs("query.topk").size)
      metrics.put("query.fetch_ms", Stats.medianOr0(spanMs("query.fetch")), "ms", spanMs("query.fetch").size)
      val stmts = tracer.named("serve.statement")
      metrics.put("query.driver_ms", Stats.medianOr0(stmts.map(r =>
        math.max(0.0, r.ms - ledger.get.of(tracer.ofRequest(r)).jobWallMs))), "ms", stmts.size)
      val stats = Wand.Stats.register(spark)
      sample.foreach(st => engine.searchF32(st.search, 10, wandStats = Some(stats)).collect())
      metrics.put("query.wand_blocks_decoded", stats.decodedBlocks.value.toDouble, "count", sample.size)
      metrics.put("query.wand_blocks_skipped", stats.skippedBlocks.value.toDouble, "count", sample.size)
      metrics.put("batch.compile_ms", Stats.medianOr0(spanMs("batch.compile")), "ms", batchTimes.size)
      metrics.put("batch.exec_ms", Stats.medianOr0(spanMs("batch.exec")), "ms", batchTimes.size)
      val bStats = Wand.Stats.register(spark)
      engine.searchManyF32(checkBatch, 10, wandStats = Some(bStats)).collect()
      metrics.put("batch.blocks_decoded", bStats.decodedBlocks.value.toDouble, "count", 1)
      metrics.put("batch.blocks_skipped", bStats.skippedBlocks.value.toDouble, "count", 1)
      metrics.put("batch.wand_routable_ratio", Stats.ratio(routable, routed), "ratio", routed.toInt)
      buildTraffic(tracer.named("index.build").map(s => ledger.get.of(Seq(s))))
      sparkPerRequest("serve.statement")
      coverage("serve.statement")
      metrics.put("trace.overhead_ratio",
        Stats.median(tracedWalls.toSeq) / Stats.median(untraced.toSeq) - 1.0, "ratio", tracedWalls.size)
    }
  }

  private def pair(r: Row): (Long, Float) = (r.getLong(0), r.getFloat(1))
}
