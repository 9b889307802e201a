package perfbench

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.corpus.CodeCorpus
import graft.corpus.CodeCorpus.SourceFile
import graft.query.{FastFuzzy, Fts, FuzzyC, SearchClause}

/** Seeded inputs. The program only ever sees what these generate; the
  * seed picks the corpus id range, the statement stream, the typo
  * tokens, the upsert and delete targets and the near-duplicate plants.
  */
object Inputs {

  /** First corpus id for a seed: disjoint 10M-id ranges, so two seeds
    * index different documents (CodeCorpus seeds content per id).
    */
  def corpusOffset(seed: Long): Long = (java.lang.Math.floorMod(seed, 100000L) + 1L) * 10000000L

  /** One search statement: its WHERE clauses as (function, query text). */
  final case class Stmt(clauses: Seq[(String, String)]) {
    def sql: String =
      clauses.map { case (f, q) => s"$f(content, '$q')" }
        .mkString("SELECT path, score() FROM code WHERE ", " AND ", " ORDER BY score() DESC LIMIT 10")
    /** The engine clauses LnxSession compiles the statement to. */
    def search: Seq[SearchClause] = clauses.map {
      case ("fts", q) => Fts("content", q)
      case ("fuzzy", q) => FuzzyC("content", q)
      case ("fastfuzzy", q) => FastFuzzy("content", q)
      case (f, _) => throw new IllegalArgumentException(s"no clause for $f")
    }
  }

  // The serving mix is the one the repository's throughput benchmark
  // documents (graft.QpsBench): queryPool's shapes and shares over its
  // 40-word list (70% exact fts of 1-3 tokens, 10% fuzzy, 10% fast-fuzzy,
  // 10% three-letter `*` prefix), and queryPoolSkewed's pairing, in which
  // half of the fts statements put a rare needle beside 1-2 hot terms.
  val words: IndexedSeq[String] = Vector(
    "fn", "return", "license", "binary", "search", "merge", "segment",
    "filter", "reduce", "collect", "partition", "shuffle", "broadcast",
    "aggregate", "window", "join", "union", "distinct", "sample", "cache",
    "token", "stream", "query", "plan", "score", "doc", "posting", "list",
    "field", "norm", "term", "freq", "block", "max", "delta", "pack",
    "shard", "key", "checkpoint", "epoch")
  val skewHot: IndexedSeq[String] = Vector("fn", "return", "license", "binary", "merge", "filter",
    "token", "stream", "plan", "score")
  val skewRare: IndexedSeq[String] = Vector("rareAuditBeacon", "binarySearchNeedle", "prefab0", "prefab1", "prefab2")
  private val typoWords = words.filter(_.length >= 4)

  /** A statement shape: its share of the traffic and the number of
    * distinct statements of that shape in the pool (the prefix pool is
    * every three-letter prefix of the word list).
    */
  final case class Shape(name: String, share: Double, distinct: Int)
  val shapes: IndexedSeq[Shape] = Vector(
    Shape("fts", 0.35, 400), Shape("fts_rare_hot", 0.35, 400),
    Shape("fuzzy", 0.10, 100), Shape("fastfuzzy", 0.10, 100), Shape("prefix", 0.10, 40))

  /** Adjacent-character transposition inside the word (edit distance 2
    * under Levenshtein, within the fuzzy clauses' default bound). The
    * repository's pool sends fuzzy clauses exact words; typos make them
    * do the work they exist for.
    */
  private def typo(w: String, rnd: scala.util.Random): String = {
    val i = 1 + rnd.nextInt(w.length - 2)
    val c = w.toCharArray
    val t = c(i); c(i) = c(i + 1); c(i + 1) = t
    new String(c)
  }

  private def pick(xs: IndexedSeq[String], rnd: scala.util.Random): String = xs(rnd.nextInt(xs.size))

  private def draw(shape: String, rnd: scala.util.Random): Stmt = shape match {
    case "fts" => Stmt(Seq("fts" -> Seq.fill(1 + rnd.nextInt(3))(pick(words, rnd)).distinct.mkString(" ")))
    case "fts_rare_hot" =>
      Stmt(Seq("fts" -> (pick(skewRare, rnd) +: Seq.fill(1 + rnd.nextInt(2))(pick(skewHot, rnd)).distinct).mkString(" ")))
    case "fuzzy" => Stmt(Seq("fuzzy" -> typo(pick(typoWords, rnd), rnd)))
    case "fastfuzzy" =>
      Stmt(Seq("fastfuzzy" -> Seq.fill(1 + rnd.nextInt(3))(typo(pick(typoWords, rnd), rnd)).distinct.mkString(" ")))
    case "prefix" => Stmt(Seq("fts" -> (pick(words, rnd).take(3) + "*")))
  }

  /** Seeded statement stream: each draw takes the next shape of a
    * schedule, then a statement of that shape's pool by Zipf(s = 1)
    * rank. The schedule is blocks of 20 draws that hold every shape
    * exactly by its share, in seeded order: a 40-statement sample then
    * always has the mix's 30% of costly fuzzy and prefix statements, so
    * `p80_ms` does not move with how many of them a seed happened to draw.
    * Each pool is shuffled by the seed, so the Zipf head differs per seed.
    */
  val BlockSize = 20

  final class Stream(seed: Long) {
    private val rnd = new scala.util.Random(seed * 31 + 7)
    private val pools: IndexedSeq[IndexedSeq[Stmt]] = shapes.map { sh =>
      val seen = scala.collection.mutable.LinkedHashSet.empty[Stmt]
      var tries = 0
      while (seen.size < sh.distinct && tries < 100 * sh.distinct) { seen += draw(sh.name, rnd); tries += 1 }
      rnd.shuffle(seen.toIndexedSeq)
    }
    private val zipfs = pools.map(p => new Zipf(p.size, rnd))
    private val block: IndexedSeq[Int] =
      shapes.indices.flatMap(k => Seq.fill(math.round(shapes(k).share * BlockSize).toInt)(k))
    require(block.size == BlockSize, "shape shares must fill a schedule block")
    private var schedule: List[Int] = Nil
    def next(): Stmt = {
      if (schedule.isEmpty) schedule = rnd.shuffle(block).toList
      val k = schedule.head
      schedule = schedule.tail
      pools(k)(zipfs(k).next())
    }
  }

  /** Zipf(s = 1) ranks over [0, n): rank r drawn with weight 1/(r+1). */
  final class Zipf(n: Int, rnd: scala.util.Random) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / (r + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Seeded corpus slice [from, until) written to parquet. */
  def writeCorpus(spark: SparkSession, from: Long, until: Long, parts: Int, path: String): Unit =
    CodeCorpus.generateRange(spark, from, until, parts).write.mode("overwrite").parquet(path)

  // ------------------------------------------------------------------ ingest

  /** A code file for the ingest stream. CodeCorpus draws from ~120
    * words, so unrelated files would share most 3-token shingles and
    * near-duplicate screening would compare everything with everything;
    * every third token here is a seeded identifier from a 2000-name
    * space, which keeps 3-shingles of unrelated files apart without
    * flooding the term dictionary.
    */
  def codeText(id: Long): String = {
    val rnd = new scala.util.Random(id * 6364136223846793005L + 1442695040888963407L)
    val toks = CodeCorpus.genDoc(id).content.split(' ')
    var i = rnd.nextInt(3)
    while (i < toks.length) { toks(i) = "v" + rnd.nextInt(2000); i += 3 }
    toks.mkString(" ")
  }

  /** `text` plus one appended line, as after a one-line edit: shingle
    * Jaccard with the original stays near 0.98, where the banding of
    * `Dedup.minhashPairs` (8 bands of 4 of 32 permutations) misses a
    * pair with odds far below 1e-6. Copies with rewritten tokens in the
    * middle sit near 0.85, where those odds are ~3e-3 per pair.
    */
  def nearCopy(text: String, salt: Long): String = s"$text\nedited v${java.lang.Math.floorMod(salt, 2000L)}"

  /** One append batch: new ids, ids whose key is rewritten (upserts),
    * and planted near-duplicates among the new ids (copy id -> source id).
    */
  final case class Batch(fresh: Seq[Long], upserts: Seq[Long], nearDups: Map[Long, Long]) {
    /** The planted pairs as (smaller id, larger id). */
    def pairs: Set[(Long, Long)] =
      nearDups.map { case (d, s) => (math.min(d, s), math.max(d, s)) }.toSet
  }

  /** Store ingest plan: a base corpus, then append batches in which
    * `upsertShare` of the rows rewrite existing keys with new content.
    * Markers make the checks exact: upsert targets carry `origmark` in
    * their base version and `upsertmark` after the rewrite; delete
    * targets carry `purgemark`.
    */
  final case class IngestPlan(base: Long, nBase: Int, batches: IndexedSeq[Batch], purge: Set[Long]) {
    /** Every base id rewritten by some batch. */
    val upserted: Set[Long] = batches.flatMap(_.upserts).toSet
  }

  def ingestPlan(seed: Long, nBase: Int, nBatches: Int, batchDocs: Int,
      upsertShare: Double, nPurge: Int, pairsPerBatch: Int): IngestPlan = {
    val rnd = new scala.util.Random(seed * 131 + 3)
    val base = corpusOffset(seed)
    val nUp = math.round(batchDocs * upsertShare).toInt
    val nNew = batchDocs - nUp
    val targets = rnd.shuffle((0 until nBase).toVector).take(nBatches * nUp + nPurge).map(base + _)
    val purge = targets.drop(nBatches * nUp).toSet
    val batches = (0 until nBatches).map { b =>
      val fresh = (0 until nNew).map(i => base + nBase + b.toLong * nNew + i)
      val long = rnd.shuffle(fresh.filter(id => codeText(id).split(' ').length >= 120))
      val srcs = long.take(pairsPerBatch)
      val dups = rnd.shuffle(fresh.filterNot(srcs.toSet)).take(pairsPerBatch)
      Batch(fresh, targets.slice(b * nUp, (b + 1) * nUp), dups.zip(srcs).toMap)
    }
    IngestPlan(base, nBase, batches, purge)
  }

  private def withText(id: Long, text: String): SourceFile = CodeCorpus.genDoc(id).copy(content = text)

  def writeIngest(spark: SparkSession, plan: IngestPlan, parts: Int, dir: String): Unit = {
    val enc = Encoders.product[SourceFile]
    val up = plan.upserted
    val purge = plan.purge
    spark.range(plan.base, plan.base + plan.nBase, 1L, parts).map { id =>
      val mark = (if (up(id)) " origmark" else "") + (if (purge(id)) " purgemark" else "")
      withText(id, codeText(id) + mark)
    }(enc).write.mode("overwrite").parquet(s"$dir/base")
    plan.batches.zipWithIndex.foreach { case (batch, b) =>
      val rows = batch.fresh.map { id =>
        withText(id, batch.nearDups.get(id).map(src => nearCopy(codeText(src), id)).getOrElse(codeText(id)))
      } ++ batch.upserts.map { id =>
        // same key, different content: the rewrite takes another id's text
        withText(id, codeText(id + 5000000L) + " upsertmark")
      }
      spark.createDataset(rows)(enc).repartition(parts).write.mode("overwrite").parquet(s"$dir/batch-$b")
    }
  }
}
