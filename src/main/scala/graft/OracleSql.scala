package graft

import graft.analyze.Analyzer
import graft.index.Fieldnorm

/** Generates the DuckDB oracle SQL that mirrors the engine's BM25
  * pipeline exactly: same tokenizer (Analyzer.tokensSqlDuck), same
  * SmallFloat fieldnorm quantization (Fieldnorm.encodeSql/decodeSql),
  * same double-precision BM25 arithmetic as the f64 exhaustive kernel
  * (Scorer, Precision.F64). Scores are rounded to 4 decimals on both
  * sides before the driver's hash compare.
  *
  * Scope note: DuckDB's `levenshtein` is BYTE-based while the engine
  * (matching Spark's builtin) counts codepoints, so the fuzzy/lev/
  * fast-fuzzy oracles mirror the engine exactly for ASCII terms only —
  * which all gated queries use: they run over default-analyzer text
  * columns whose terms are [a-z0-9]+ by construction.
  */
object OracleSql {

  /** Shared CTE scaffold: tokens, tf, doc lengths, decoded quantized
    * norms, corpus stats, term dictionary — over `docs`, a table name
    * or prior CTE (the delete-by-query oracle scores over the LIVE
    * subset, so corpus stats must come from the filtered view, exactly
    * as a compacted store recomputes them from live postings).
    */
  def scaffoldOver(docs: String): String =
    scaffoldTokens(docs, Analyzer.tokensSqlDuck("text"))

  /** The scaffold over an arbitrary token-array expression — the
    * tokenizer is the only thing that differs between the default,
    * whitespace, and raw scaffolds.
    */
  private def scaffoldTokens(docs: String, toks: String): String = {
    val nid = Fieldnorm.encodeSql("len", duck = true)
    val dnorm = Fieldnorm.decodeSql("nid", duck = true)
    s"""tok AS (SELECT doc_id, unnest($toks) AS term FROM $docs),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*)::BIGINT AS len FROM tok GROUP BY 1),
       |nrm AS (SELECT doc_id, $dnorm AS dnorm FROM (SELECT doc_id, $nid AS nid FROM dl)),
       |st AS (SELECT (SELECT count(*) FROM $docs)::DOUBLE AS n,
       |              (SELECT sum(len) FROM dl)::DOUBLE AS tot),
       |dict AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)""".stripMargin
  }

  val scaffold: String = scaffoldOver("documents")

  /** fts over a whitespace-tokenized text column (Tokenizers v3
    * semantics: Unicode White_Space split, case preserved, codepoint
    * length cap) — gates the whitespace tokenizer end-to-end against
    * DuckDB, fieldnorms included.
    */
  def ftsWhitespace(terms: Seq[String], k: Int): String =
    s"""WITH ${scaffoldTokens("documents", Analyzer.whitespaceTokensSqlDuck("text"))},
       |${qtValues(terms.map(t => (t, 1.0, 0)))},
       |$scorer
       |${topK(k, 1)}""".stripMargin

  /** BM25 score sum + matched-group count over a weighted term set CTE
    * `qt(term, w, grp)`.
    */
  val scorer: String =
    """sc AS (SELECT tf.doc_id,
      |  sum(ln(1.0 + (st.n - dict.df + 0.5) / (dict.df + 0.5)) * 2.2 * qt.w
      |      * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * nrm.dnorm / (st.tot / st.n)))) AS score,
      |  count(DISTINCT qt.grp) AS gm
      |  FROM qt JOIN tf USING (term) JOIN dict USING (term)
      |       JOIN nrm ON nrm.doc_id = tf.doc_id CROSS JOIN st
      |  GROUP BY 1)""".stripMargin

  /** SQL string literal: single quotes doubled (DuckDB single-quoted
    * strings are otherwise escape-free, so this is the only
    * metacharacter). Every interpolated user term goes through here —
    * a raw-column value legitimately contains apostrophes.
    */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Exact-term qt CTE from (term, weight, group) triples — deduped on
    * (term, group) KEEPING THE FIRST, exactly like the engine's
    * compiled-term dedupe (compileUncached keys (field, term, group)):
    * a repeated term must not double its BM25 contribution on the
    * oracle side only, and when the repeats carry different weights the
    * FIRST weight is the one the engine scored.
    */
  def qtValues(terms: Seq[(String, Double, Int)]): String =
    "qt(term, w, grp) AS (VALUES " +
      terms.distinctBy(tw => (tw._1, tw._3))
        .map { case (t, w, g) => s"(${sqlLit(t)}, ${w}::DOUBLE, $g)" }
        .mkString(", ") + ")"

  /** Top-k projection with the engine's total order. */
  def topK(k: Int, requiredGroups: Int): String =
    s"""SELECT doc_id, round(score, 4) AS score FROM sc
       |WHERE gm = $requiredGroups
       |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT $k""".stripMargin

  def fts(terms: Seq[String], k: Int): String =
    s"""WITH $scaffold,
       |${qtValues(terms.map(t => (t, 1.0, 0)))},
       |$scorer
       |${topK(k, 1)}""".stripMargin

  /** Scaffold over a RAW-tokenized column: each document contributes
    * its column value as ONE un-analyzed token (tantivy raw tokenizer;
    * apis/mod.rs:211-213) — tf is 1, doc length is 1 token, and the
    * fieldnorm pipeline quantizes exactly like any other field. Empty /
    * NULL / over-long values index nothing (analyze.Tokenizers).
    */
  def scaffoldRaw(rawCol: String): String = {
    val nid = Fieldnorm.encodeSql("len", duck = true)
    val dnorm = Fieldnorm.decodeSql("nid", duck = true)
    s"""tok AS (SELECT doc_id, $rawCol AS term FROM documents
       |        WHERE $rawCol IS NOT NULL AND $rawCol <> '' AND length($rawCol) <= 255),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*)::BIGINT AS len FROM tok GROUP BY 1),
       |nrm AS (SELECT doc_id, $dnorm AS dnorm FROM (SELECT doc_id, $nid AS nid FROM dl)),
       |st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |              (SELECT sum(len) FROM dl)::DOUBLE AS tot),
       |dict AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)""".stripMargin
  }

  /** fts on a raw-tokenized column = BM25-scored exact-value match
    * (the query text is tokenized with the column's tokenizer, i.e.
    * kept whole).
    */
  def ftsRaw(rawCol: String, value: String, k: Int): String =
    s"""WITH ${scaffoldRaw(rawCol)},
       |${qtValues(Seq((value, 1.0, 0)))},
       |$scorer
       |${topK(k, 1)}""".stripMargin

  /** The ONE prefix-expansion contract all prefix oracles share
    * (mirrors QueryEngine.prefixExpand / SearchDefaults.MaxExpansions):
    * LIKE 'p%', cap 1024 by term order. Kept in a single helper so a
    * cap or ordering change can't desynchronize one oracle from the
    * engine while the others still pass.
    */
  private def prefixExpansionSql(prefix: String): String = {
    // LIKE-escape % _ \ (the engine's startsWith is LITERAL — a prefix
    // containing '_' must not act as a wildcard here), then quote
    val esc = prefix.replace("\\", "\\\\").replace("%", "\\%")
      .replace("_", "\\_").replace("'", "''")
    s"SELECT term FROM dict WHERE term LIKE '$esc%' ESCAPE '\\' ORDER BY term LIMIT 1024"
  }

  /** The ONE fuzzy-expansion contract all levenshtein-based oracles
    * share (mirrors QueryEngine.fuzzyExpandAll / fuzzyLookups): per
    * token, candidates within maxDist by DuckDB levenshtein, lnx
    * distance multipliers (1.0/0.8/0.6, apis/mod.rs:225-246), ordered
    * (distance, term), capped at MaxExpansions=1024. `tag` emits an
    * extra constant column (tok_idx for disjunction-merge dedupe, grp
    * for conjunction groups). Kept single like prefixExpansionSql so a
    * cap/ordering/multiplier change can't desynchronize one oracle
    * from the engine while the others still pass.
    */
  private def fuzzyExpansionSql(tok: String, tagCol: String, tagVal: Int,
      maxDist: Int = 2): String = {
    val t = sqlLit(tok)
    s"""SELECT * FROM (
       |  SELECT term, (CASE levenshtein(term, $t) WHEN 0 THEN 1.0
       |    WHEN 1 THEN 0.8 ELSE 0.6 END)::DOUBLE AS w, $tagVal AS $tagCol
       |  FROM dict WHERE levenshtein(term, $t) <= $maxDist
       |  ORDER BY levenshtein(term, $t) ASC, term ASC LIMIT 1024)""".stripMargin
  }

  /** Prefix query: one capped dictionary expansion. */
  def ftsPrefix(prefix: String, k: Int): String =
    s"""WITH $scaffold,
       |qt AS (SELECT term, 1.0::DOUBLE AS w, 0 AS grp
       |       FROM (${prefixExpansionSql(prefix)})),
       |$scorer
       |${topK(k, 1)}""".stripMargin

  /** Several prefix tokens in ONE fts clause (the reference's own doc
    * example shape `fts(name, 'Tim* Mich*')`, apis/mod.rs:221): one
    * disjunction group over the union of per-prefix capped expansions;
    * a term extending several prefixes scores once (the engine dedupes
    * (field, term, group) keeping the first, and every prefix carries
    * the same weight 1.0, so DISTINCT mirrors it exactly).
    */
  def ftsMultiPrefix(prefixes: Seq[String], k: Int): String = {
    val per = prefixes.map(p => s"SELECT term FROM (${prefixExpansionSql(p)})")
    s"""WITH $scaffold,
       |qt AS (SELECT DISTINCT term, 1.0::DOUBLE AS w, 0 AS grp
       |       FROM (${per.mkString(" UNION ALL ")})),
       |$scorer
       |${topK(k, 1)}""".stripMargin
  }

  /** Conjunction of per-group exact term sets; all groups required. */
  def ftsConj(groups: Seq[Seq[String]], k: Int): String = {
    val triples = groups.zipWithIndex.flatMap { case (ts, g) => ts.map(t => (t, 1.0, g)) }
    s"""WITH $scaffold,
       |${qtValues(triples)},
       |$scorer
       |${topK(k, groups.size)}""".stripMargin
  }

  /** Fuzzy: dictionary expansion by levenshtein distance with the lnx
    * distance multipliers (1.0 / 0.8 / 0.6; apis/mod.rs:225-246).
    * Mirrors the engine's FuzzyC semantics exactly: ONE fuzzy(col, q)
    * clause = one disjunction group over ALL tokens' expansions (not a
    * conjunction of per-token groups), each token's expansion capped at
    * 1024 ordered by (distance, term) like QueryEngine.fuzzyExpandAll, and
    * a term reached by several tokens keeps the FIRST token's
    * multiplier (the engine's dedupe keeps the first occurrence).
    */
  def fuzzy(tokens: Seq[String], k: Int): String = {
    val perTok = tokens.zipWithIndex.map { case (tok, i) =>
      fuzzyExpansionSql(tok, "tok_idx", i)
    }
    s"""WITH $scaffold,
       |cand AS (${perTok.mkString(" UNION ALL ")}),
       |qt AS (SELECT term, w, 0 AS grp FROM
       |         (SELECT term, w, row_number() OVER
       |            (PARTITION BY term ORDER BY tok_idx ASC) AS rn FROM cand)
       |       WHERE rn = 1),
       |$scorer
       |${topK(k, 1)}""".stripMargin
  }

  /** Conjunction of single-token fuzzy clauses (the reference's
    * flagship WHERE shape, fuzzy.sql:10-12): one group per clause, all
    * groups required, per-clause expansion capped like the engine.
    */
  def fuzzyConj(clauseTokens: Seq[String], k: Int): String = {
    val perClause = clauseTokens.zipWithIndex.map { case (tok, g) =>
      fuzzyExpansionSql(tok, "grp", g)
    }
    s"""WITH $scaffold,
       |qt AS (${perClause.mkString(" UNION ALL ")}),
       |$scorer
       |${topK(k, clauseTokens.size)}""".stripMargin
  }

  /** Mixed conjunction: a prefix-expanded fts clause (group 0) AND a
    * fuzzy clause (group 1) — exercises compile interplay between
    * dictionary-expansion kinds in one required query.
    */
  def prefixFuzzyConj(prefix: String, fuzzyTok: String, k: Int): String =
    s"""WITH $scaffold,
       |qt AS (SELECT term, 1.0::DOUBLE AS w, 0 AS grp
       |       FROM (${prefixExpansionSql(prefix)})
       |       UNION ALL
       |       ${fuzzyExpansionSql(fuzzyTok, "grp", 1)}),
       |$scorer
       |${topK(k, 2)}""".stripMargin

  /** levenshtein(): boolean match, score 1.0 (apis/mod.rs:249-266).
    * Matches via the SAME capped expansion the engine uses (LevC routes
    * through fuzzyLookups): an uncapped `WHERE levenshtein <= d` oracle
    * silently diverges once a dictionary holds > MaxExpansions terms
    * within distance d of the token.
    */
  def lev(token: String, k: Int, maxDist: Int = 2): String =
    s"""WITH $scaffold,
       |cand AS (${fuzzyExpansionSql(token, "grp", 0, maxDist)}),
       |m AS (SELECT DISTINCT tf.doc_id FROM tf JOIN cand USING (term))
       |SELECT doc_id, 1.0::DOUBLE AS score FROM m ORDER BY doc_id ASC LIMIT $k""".stripMargin

  /** regex(): pattern vs whole terms, score 1.0 (apis/mod.rs:269-281),
    * through the engine's term-ordered MaxExpansions cap
    * (QueryEngine.regexExpand). Dialect scope: DuckDB evaluates RE2,
    * the engine evaluates Java regex (`rlike`) — gated patterns must
    * stay inside the common subset (no lookarounds/backreferences/
    * possessive quantifiers; see tools/check_oracle gotchas).
    */
  def regex(pattern: String, k: Int): String =
    s"""WITH $scaffold,
       |cand AS (SELECT term FROM dict
       |         WHERE regexp_full_match(term, ${sqlLit(pattern)})
       |         ORDER BY term LIMIT 1024),
       |m AS (SELECT DISTINCT tf.doc_id FROM tf JOIN cand USING (term))
       |SELECT doc_id, 1.0::DOUBLE AS score FROM m ORDER BY doc_id ASC LIMIT $k""".stripMargin

  /** Score threshold: fts(...) > t (apis/mod.rs:221). */
  def ftsThreshold(terms: Seq[String], threshold: Double, k: Int): String =
    s"""WITH $scaffold,
       |${qtValues(terms.map(t => (t, 1.0, 0)))},
       |$scorer
       |SELECT doc_id, round(score, 4) AS score FROM sc
       |WHERE gm = 1 AND score > $threshold
       |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT $k""".stripMargin

  /** Fast-fuzzy: each query token corrected to the dictionary term with
    * (min levenshtein <= 2, max df, lexicographic), then plain fts —
    * the SQL mirror of SymSpell.pickBest + QueryEngine.correct.
    */
  def fastFuzzy(tokens: Seq[String], k: Int): String = {
    val corr = tokens.map { tok =>
      val t = sqlLit(tok)
      s"""SELECT coalesce((SELECT d.term FROM dict d WHERE levenshtein(d.term, $t) <= 2
         |  ORDER BY levenshtein(d.term, $t) ASC, d.df DESC, d.term ASC LIMIT 1), $t)""".stripMargin
    }
    s"""WITH $scaffold,
       |qt AS (SELECT DISTINCT c.t AS term, 1.0::DOUBLE AS w, 0 AS grp
       |       FROM (${corr.map(c => s"SELECT ($c) AS t").mkString(" UNION ALL ")}) c),
       |$scorer
       |${topK(k, 1)}""".stripMargin
  }

  /** More-like-this: top-N tf*idf terms of the seed doc (tie: term asc)
    * as a plain fts disjunction (mirrors QueryEngine.seedTerms).
    */
  def moreLikeThis(seedDocId: Long, topTerms: Int, k: Int): String =
    s"""WITH $scaffold,
       |seed AS (SELECT tf.term, tf.tf FROM tf WHERE tf.doc_id = $seedDocId),
       |qt AS (SELECT s.term, 1.0::DOUBLE AS w, 0 AS grp FROM seed s
       |       JOIN dict USING (term) CROSS JOIN st
       |       ORDER BY s.tf::DOUBLE * ln(1.0 + (st.n - dict.df + 0.5) / (dict.df + 0.5)) DESC,
       |                s.term ASC
       |       LIMIT $topTerms),
       |$scorer
       |${topK(k, 1)}""".stripMargin

  /** Batched multi-query search: the per-query oracles stacked with a
    * qid tag — the batched engine path (QueryEngine.searchManyF64, one
    * scoring pass for the whole batch) must return exactly what running
    * each query alone returns, so its oracle IS the individual oracles
    * UNION ALL'd. qid order first, then each query's own presentation
    * order (round(score,4) desc, doc_id asc).
    */
  def searchBatch(perQuery: Seq[String]): String =
    perQuery.zipWithIndex.map { case (sql, qid) =>
      s"SELECT $qid::INT AS qid, doc_id, score FROM ($sql)"
    }.mkString("\nUNION ALL\n") + "\nORDER BY qid ASC, score DESC, doc_id ASC"

  /** Facet counting over a match set: hierarchical prefixes of
    * /source/lang for docs matching an fts disjunction (apis/mod.rs:177).
    */
  def facetCounts(terms: Seq[String]): String =
    s"""WITH $scaffold,
       |${qtValues(terms.map(t => (t, 1.0, 0)))},
       |m AS (SELECT DISTINCT tf.doc_id FROM qt JOIN tf USING (term)),
       |f AS (SELECT '/' || d.source AS facet FROM m JOIN documents d USING (doc_id)
       |      UNION ALL
       |      SELECT '/' || d.source || '/' || d.lang FROM m JOIN documents d USING (doc_id))
       |SELECT facet, count(*)::BIGINT AS cnt FROM f GROUP BY 1 ORDER BY facet ASC""".stripMargin
}
