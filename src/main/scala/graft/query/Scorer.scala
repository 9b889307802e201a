package graft.query

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

import graft.index.{BuiltIndex, DecodedBlock, PostingCodec, PostingRow}

/** A compiled search term: one dictionary term contributing to one
  * clause group. `weightF32` is the full precomputed BM25 term weight
  * idf * (1 + k1) * userMultiplier (fuzzy distance multipliers bake in
  * here), computed driver-side from the term dictionary — the Spark
  * analogue of tantivy building a Bm25Weight per term.
  */
final case class CompiledTerm(
    field: String,
    term: String,
    group: Int,
    weightF32: Float,
    weightF64: Double,
    df: Long = 0L) // document frequency (drives the conj-WAND cost heuristic)

/** One clause group = one search-function call in the WHERE clause
  * (fts/fuzzy/levenshtein/regex). Terms within a group are a
  * disjunction; groups compose as a conjunction when `required`
  * (tantivy BooleanQuery: conjunction score = sum of clause scores,
  * SURVEY.md section 2.2 P4). `constScore` groups contribute a flat
  * 1.0 on match (levenshtein/regex semantics, apis/mod.rs:249-281).
  */
final case class CompiledGroup(id: Int, required: Boolean, constScore: Boolean)

final case class CompiledQuery(terms: Seq[CompiledTerm], groups: Seq[CompiledGroup]) {
  def requiredMask: Int = groups.filter(_.required).map(g => 1 << g.id).sum
}

final case class ScoredDocF32(docId: Long, score: Float)
final case class ScoredQDocF32(qid: Int, docId: Long, score: Float)

/** One row of the exhaustive kernel. The score is widened to double at
  * either precision (exact for f32); the drivers cast it back to the
  * precision's column type.
  */
final case class ScoredHit(qid: Int, docId: Long, score: Double)

/** Accumulator precision of the exhaustive kernel. `F32` is the
  * rank-identity path (tantivy arithmetic); `F64` mirrors the DuckDB
  * oracle SQL in pure double math (see SparkEntry.oracleSql).
  */
sealed abstract class Precision(val scoreType: DataType,
    private[query] val accumulator: (Int, Map[String, Scorer.NormCache]) => Scorer.Acc)
    extends Serializable

object Precision {
  case object F32 extends Precision(FloatType, new Scorer.AccF32(_, _))
  case object F64 extends Precision(DoubleType, new Scorer.AccF64(_, _))
}

/** Distributed scoring over the sharded posting lists.
  *
  * Plan shape (scale rationale): the posting rows matching the query's
  * terms are a *tiny* Dataset (#terms x #shards rows) selected with a
  * pushed-down `term IN (...)` filter against the term-sorted parquet;
  * they are then re-grouped by docId shard so each task merges all
  * clause postings for a disjoint docId range — per-doc aggregation
  * happens in-task with zero per-hit shuffle, and the global top-k is a
  * TakeOrdered over per-shard candidates. No shuffle ever scales with
  * corpus size, only with (matched terms x shards).
  */
object Scorer {

  /** Pushdown-friendly selection of the query's posting rows. The exact
    * (field, term) pair match stays a Column expression (codegen'd, on
    * top of the pushed-down isin scans) instead of a typed filter that
    * would force row deserialization.
    */
  def matchedPostings(index: BuiltIndex, terms: Seq[CompiledTerm]): Dataset[PostingRow] = {
    val termKeys = terms.map(_.term).distinct
    val fieldKeys = terms.map(_.field).distinct
    val base = index.postings
      .filter(col("term").isin(termKeys: _*) && col("field").isin(fieldKeys: _*))
    if (fieldKeys.size <= 1) base
    else {
      val pairKeys = terms.map(t => t.field + "\u0000" + t.term).distinct
      base.filter(concat_ws("\u0000", col("field"), col("term")).isin(pairKeys: _*))
    }
  }

  /** Tombstones keyed by docId shard, for cogrouping with the posting
    * shards — the delete set stays distributed (bounded per shard by the
    * shard width) instead of a driver-collected closure Set.
    */
  def deletesByShard(index: BuiltIndex, deletes: Dataset[Long]) = {
    val spark = index.spark
    import spark.implicits._
    val width = index.config.shardDocs
    deletes.groupByKey(id => (id / width).toInt)
  }

  /** Run a per-shard scoring function over the query's matched posting
    * rows — the ONE place that decides between the two physical shapes:
    *
    * FAST PATH (exchange-free): when the index's postings cache is
    * co-partitioned by shard (`BuiltIndex.postingsShardLocal`, set by
    * the in-memory single-segment build) and there are no tombstones,
    * every cursor of a shard is already in one cache partition, so the
    * scorers run as a mapPartitions directly over the pruned cache scan
    * — a single-stage Spark job with NO exchange at all (guide §2.4:
    * the bucketing pattern — the build paid one shard-keyed shuffle so
    * that every query afterwards skips its groupByKey exchange; before
    * this, every top-k call paid one 32-partition exchange + an AQE
    * stage boundary to move a handful of slim posting rows).
    *
    * FALLBACK (the r5 shape, bit-identical output): groupByKey(shard)
    * [+ cogrouped tombstones]. Store-loaded indexes keep it — their
    * per-segment parquet unions are not co-located and the multi-epoch
    * replay-order contract is tied to the cogroup path — as does any
    * index carrying deletes (tombstones arrive as a separate frame and
    * must meet their shard's rows in one task).
    *
    * Exactness: `f` receives exactly the matched rows of one shard in
    * both shapes, and every scorer orders its rows internally before
    * accumulating, so per-query results are bit-identical (gated by
    * the fast-vs-fallback spec in BatchSearchSpec and by every oracle
    * row, which runs through the in-memory fast path).
    */
  def shardGrouped[T](index: BuiltIndex, terms: Seq[CompiledTerm],
      deletes: Option[Dataset[Long]])(
      f: (Array[PostingRow], Set[Long]) => Iterator[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    val matched = matchedPostings(index, terms)
    if (index.postingsShardLocal && deletes.isEmpty) {
      matched.mapPartitions { it =>
        // TreeMap: deterministic shard iteration order within a task
        // (output ROW order feeds only order-insensitive consumers —
        // topK / aggregates — but determinism costs nothing here)
        val byShard = new java.util.TreeMap[Int, scala.collection.mutable.ArrayBuffer[PostingRow]]()
        it.foreach { p =>
          var b = byShard.get(p.shard)
          if (b == null) {
            b = new scala.collection.mutable.ArrayBuffer[PostingRow]()
            byShard.put(p.shard, b)
          }
          b += p
        }
        import scala.jdk.CollectionConverters._
        byShard.values().iterator().asScala.flatMap(rows => f(rows.toArray, Set.empty))
      }
    } else {
      val grouped = matched.groupByKey(_.shard)(Encoders.scalaInt)
      deletes match {
        case Some(d) =>
          grouped.cogroup(deletesByShard(index, d)) { (_, rows, dels) =>
            f(rows.toArray, dels.toSet)
          }
        case None =>
          grouped.flatMapGroups { (_, rows) => f(rows.toArray, Set.empty) }
      }
    }
  }

  /** Per-field BM25 norm denominators at both precisions. */
  final case class NormCache(f32: Array[Float], f64: Array[Double])

  /** field -> norm cache for every field `terms` score: the prologue
    * every scorer shares, computed driver-side and shipped in the task
    * closure (256 entries per precision and field).
    */
  def normCaches(index: BuiltIndex, terms: Seq[CompiledTerm]): Map[String, NormCache] =
    terms.map(_.field).distinct.map(f => f -> NormCache(
      Bm25.normCacheF32(index.avgFieldnormF32(f)),
      Bm25.normCacheF64(index.avgFieldnormF64(f)))).toMap

  /** Global top-k with the engine's total order (score desc, docId asc
    * — tantivy breaks score ties by doc address; we pin docId,
    * SURVEY.md section 2.7 T1). Catalyst plans TakeOrderedAndProject:
    * per-partition heaps + driver merge = distributed top-k.
    */
  def topK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("score").desc, col("docId").asc).limit(k)

  // -------------------------------------------------- exhaustive kernel

  /** Every live match of one query, (docId, score) at `precision`'s
    * column type: the shared kernel run as a batch of one with no heap.
    */
  def scoreAll(index: BuiltIndex, cq: CompiledQuery, precision: Precision,
      deletes: Option[Dataset[Long]] = None): DataFrame =
    exhaustive(index, Seq(0 -> cq), None, precision, deletes).select(col("docId"), col("score"))

  /** Exhaustive top-k candidates of a batch, (qid, docId, score) at
    * `precision`'s column type — the cluster THROUGHPUT path and the
    * single query's exhaustive route (a batch of one). ONE pass over
    * the union of all queries' matched postings decodes each posting
    * row once per shard and replays it per query; shard-local per-query
    * heaps bound the output at (#shards x #queries x k) rows, so no
    * stage ever carries a corpus-sized per-query match set. Finish with
    * topK (one query) or topKPerQuery.
    */
  def scoreMany(index: BuiltIndex, queries: Seq[(Int, CompiledQuery)], k: Int,
      precision: Precision, deletes: Option[Dataset[Long]] = None): DataFrame =
    exhaustive(index, queries, Some(k), precision, deletes)

  private def exhaustive(index: BuiltIndex, queries: Seq[(Int, CompiledQuery)], k: Option[Int],
      precision: Precision, deletes: Option[Dataset[Long]]): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    val plans = queries.map { case (qid, cq) => queryPlan(qid, cq) }.toArray
    val allTerms = queries.flatMap(_._2.terms)
    val caches = normCaches(index, allTerms)
    val shardDocs = index.config.shardDocs // capture: closures must not drag BuiltIndex in
    shardGrouped(index, allTerms, deletes) { (rows, dels) =>
      replayShard(rows, plans, precision.accumulator(shardDocs, caches), dels, k)
    }.toDF().withColumn("score", col("score").cast(precision.scoreType))
  }

  /** Driver-side replay plan for ONE query: its distinct (field, term)
    * keys in accumulation order (min group, field, term), and per key
    * its compiled terms, one per group, groups ascending.
    */
  private final case class QueryPlan(
      qid: Int,
      keys: Array[(String, String)],
      terms: Array[Array[CompiledTerm]],
      constMask: Int,
      reqMask: Int)

  private def queryPlan(qid: Int, cq: CompiledQuery): QueryPlan = {
    val termsOf = cq.terms.groupBy(t => (t.field, t.term))
      .map { case (key, ts) => key -> ts.distinctBy(_.group).sortBy(_.group).toArray }
    val keys = termsOf.keys.toArray.sortBy(key => (termsOf(key)(0).group, key._1, key._2))
    QueryPlan(qid, keys, keys.map(termsOf),
      cq.groups.filter(_.constScore).map(g => 1 << g.id).sum, cq.requiredMask)
  }

  /** The ONE exhaustive per-shard kernel, behind every non-WAND path
    * (single and batched, f32 and f64). Each matched posting row
    * decodes once per shard; every query then replays its keys in
    * (min group, field, term) order, a key's rows in arrival order (one
    * row per epoch segment, where a stable sort by key leaves them),
    * and each row's groups ascending. That order is an engine
    * invariant: it makes f32 sums bit-identical across every path and
    * with WAND's exact scoring. With `k`, each query's live matches go
    * through a shard-local TopKHeap; without, every live match is
    * emitted (a shard holds at most shardDocs of them).
    */
  private def replayShard(rows: Array[PostingRow], plans: Array[QueryPlan], acc: Acc,
      deleted: Set[Long], k: Option[Int]): Iterator[ScoredHit] = {
    if (rows.isEmpty) return Iterator.empty
    // groupBy keeps each key's rows in arrival order
    val decoded = rows.groupBy(p => (p.field, p.term)).map { case (key, ps) =>
      key -> ps.map(p => PostingCodec.decodeAll(p.bytes, p.blockOffset, p.blockLast)) }
    val n = acc.size
    val base = rows(0).shard.toLong * n
    val out = ArrayBuffer.empty[ScoredHit]
    plans.foreach { q =>
      if (q.keys.exists(decoded.contains)) {
        acc.clear()
        for (ki <- q.keys.indices; dec <- decoded.getOrElse(q.keys(ki), Array.empty[DecodedBlock]);
             t <- q.terms(ki))
          acc.add(dec, base, t, (q.constMask & (1 << t.group)) != 0)
        val heap = k.map(kk => new TopKHeap(math.max(1, math.min(kk, n))))
        var o = 0
        while (o < n) {
          val m = acc.mask(o)
          if (m != 0 && (m & q.reqMask) == q.reqMask && !deleted.contains(base + o)) heap match {
            case Some(h) => h.offer(acc.key(o), base + o, acc.score(o))
            case None => out += ScoredHit(q.qid, base + o, acc.score(o))
          }
          o += 1
        }
        heap.foreach(_.foreachKept((d, s) => out += ScoredHit(q.qid, d, s)))
      }
    }
    out.iterator
  }

  /** Per-shard scratch of the exhaustive kernel: a score and a group
    * mask per docId of the shard (dense arrays indexed by docId - base
    * beat a boxing HashMap by an order of magnitude in the per-hit
    * loop). Only `add`, the innermost posting loop, is written per
    * precision, so each hot loop stays monomorphic.
    */
  private[query] abstract class Acc(val size: Int) {
    final val mask = new Array[Int](size)
    /** Accumulate one decoded posting row of `t` into its group's mask
      * bit: a BM25 term score per posting, or a flat 1.0 once per doc
      * for a const-score group. */
    def add(dec: DecodedBlock, base: Long, t: CompiledTerm, isConst: Boolean): Unit
    /** The score at offset `o`, widened exactly to double. */
    def score(o: Int): Double
    /** The shard heap's sort key at offset `o`. */
    def key(o: Int): Double = score(o)
    def clear(): Unit
  }

  private[query] final class AccF32(n: Int, caches: Map[String, NormCache]) extends Acc(n) {
    private val s = new Array[Float](n)
    def add(dec: DecodedBlock, base: Long, t: CompiledTerm, isConst: Boolean): Unit = {
      val cache = caches(t.field).f32
      val w = t.weightF32
      val gBit = 1 << t.group
      var i = 0
      while (i < dec.docIds.length) {
        val o = (dec.docIds(i) - base).toInt
        if (isConst) {
          if ((mask(o) & gBit) == 0) s(o) += 1.0f
        } else {
          s(o) += Bm25.tfScoreF32(w, dec.tfs(i), cache(dec.norms(i)))
        }
        mask(o) |= gBit
        i += 1
      }
    }
    def score(o: Int): Double = s(o)
    def clear(): Unit = { java.util.Arrays.fill(s, 0.0f); java.util.Arrays.fill(mask, 0) }
  }

  /** f64: shard candidates are selected under the ROUNDED total order
    * (round(score,4) desc, docId asc) the oracle presentation uses, so
    * shard-local then global selection compose exactly.
    */
  private[query] final class AccF64(n: Int, caches: Map[String, NormCache]) extends Acc(n) {
    private val s = new Array[Double](n)
    def add(dec: DecodedBlock, base: Long, t: CompiledTerm, isConst: Boolean): Unit = {
      val cache = caches(t.field).f64
      val w = t.weightF64
      val gBit = 1 << t.group
      var i = 0
      while (i < dec.docIds.length) {
        val o = (dec.docIds(i) - base).toInt
        if (isConst) {
          if ((mask(o) & gBit) == 0) s(o) += 1.0d
        } else {
          s(o) += Bm25.tfScoreF64(w, dec.tfs(i), cache(dec.norms(i)))
        }
        mask(o) |= gBit
        i += 1
      }
    }
    def score(o: Int): Double = s(o)
    // mirrors Spark's `round(col, 4)` on DoubleType (BigDecimal.valueOf + HALF_UP)
    override def key(o: Int): Double =
      java.math.BigDecimal.valueOf(s(o)).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def clear(): Unit = { java.util.Arrays.fill(s, 0.0d); java.util.Arrays.fill(mask, 0) }
  }

  /** Bounded per-(query, shard) top-k selection under the engine total
    * order (sort key desc, docId asc): a min-heap rooted at the worst
    * kept candidate. `raw` carries the unrounded score when the sort
    * key is a rounded form of it (f64 oracle order). WAND keeps its f32
    * scores here too: widening f32 to f64 preserves their order exactly.
    */
  private[query] final class TopKHeap(k: Int) {
    private val ks = new Array[Double](k)
    private val ds = new Array[Long](k)
    private val raw = new Array[Double](k)
    private var n = 0
    @inline private def worse(k1: Double, d1: Long, k2: Double, d2: Long): Boolean =
      k1 < k2 || (k1 == k2 && d1 > d2)
    /** Sort key a candidate must reach once the heap is full (the
      * worst kept one), -inf before: WAND's pruning threshold. */
    def threshold: Double = if (n < k) Double.NegativeInfinity else ks(0)
    def offer(key: Double, docId: Long, r: Double): Unit = {
      if (n < k) {
        var i = n; ks(i) = key; ds(i) = docId; raw(i) = r; n += 1
        while (i > 0) {
          val p = (i - 1) >> 1
          if (worse(ks(i), ds(i), ks(p), ds(p))) { swap(i, p); i = p } else i = 0
        }
      } else if (worse(ks(0), ds(0), key, docId)) {
        ks(0) = key; ds(0) = docId; raw(0) = r
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val rr = l + 1; var m = i
          if (l < n && worse(ks(l), ds(l), ks(m), ds(m))) m = l
          if (rr < n && worse(ks(rr), ds(rr), ks(m), ds(m))) m = rr
          if (m == i) done = true else { swap(i, m); i = m }
        }
      }
    }
    private def swap(i: Int, j: Int): Unit = {
      val tk = ks(i); ks(i) = ks(j); ks(j) = tk
      val td = ds(i); ds(i) = ds(j); ds(j) = td
      val tr = raw(i); raw(i) = raw(j); raw(j) = tr
    }
    def foreachKept(f: (Long, Double) => Unit): Unit = {
      var i = 0; while (i < n) { f(ds(i), raw(i)); i += 1 }
    }
  }

  /** Per-query global top-k over the batched shard candidates: the same
    * total order as topK, partitioned by qid. The window input is
    * bounded by (#shards x #queries x k) thanks to the shard-local
    * heaps, and each qid partition holds at most (#shards x k) rows —
    * no reducer ever sees a corpus-sized set.
    */
  def topKPerQuery(scored: DataFrame, k: Int,
      orderKey: org.apache.spark.sql.Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(orderKey.desc, col("docId").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
