package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.Exact

/** Full-text search as DataFrame-native inverted-index tables + BM25.
  *
  * The reference serves `@@` (MATCHES) from a persisted inverted index with
  * BM25 ranking (surrealdb: exec/operators/scan/fulltext.rs:46,
  * idx/ft/fulltext.rs:143; analyzer pipeline expr/tokenizer.rs:8-13,
  * expr/filter.rs:8-16). The Spark shape: the postings list IS a DataFrame
  * (term → doc, tf) built by one explode+groupBy pass; a query is a join
  * against the (tiny, broadcast) per-term document frequencies and a
  * per-document score aggregation. At 100 TB the postings table would be
  * written out bucketed by term so query joins are shuffle-free.
  *
  * BM25: k1=1.2, b=0.75 with the reference scorer's exact shape
  * (idx/ft/fulltext.rs:919-953): idf = ln((N-df+0.5)/(df+0.5)) clamped to
  * >= 0, and a LOG-DAMPED term frequency tf' = 1 + ln(tf) — not the
  * classic raw-tf BM25 (caught by an interp-vs-Spark score differential
  * in r16; the DuckDB oracle twins replay the same shape). */
object FullText {

  private val K1 = 1.2
  private val B  = 0.75

  /** Blank-tokenizer + lowercase analyzer (reference: Tokenizer::Blank +
    * lowercase filter). One row per (doc_id, term) occurrence. */
  def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), " ")).as("term"))

  /** Session-cached inverted index per corpus dir: (postings, doc-lengths).
    * Built with ONE tokenize pass and persisted, so every query against the
    * same corpus is a join against the index, not a rebuild — the analog of
    * the reference's persisted FTS index (idx/ft/fulltext.rs:143). At 100 TB
    * both tables are written out once, postings bucketed by term and
    * doc-lengths by doc_id, so query joins shuffle nothing but the hits. */
  private val indexCache =
    scala.collection.concurrent.TrieMap[String, (DataFrame, DataFrame)]()

  def index(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    indexCache.getOrElseUpdate(dir, {
      // ONE shuffle over the raw token stream (term,doc → tf); doc lengths
      // derive from the postings (dl = Σ tf per doc), so the second
      // aggregate shuffles only |postings| rows, not every token. The two
      // tables persist on disk with a completion marker — later JVMs read
      // the index back instead of re-tokenizing the corpus.
      val base = graft.CacheDir.ensure(graft.CacheDir.path("fts-v1", dir)) { p =>
        tokenize(Tables.documentsWide(s, dir))
          .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
          .write.parquet(s"$p/post")
        s.read.parquet(s"$p/post")
          .groupBy("doc_id").agg(sum(col("tf")).as("dl"))
          .write.parquet(s"$p/dl")
      }
      val post = s.read.parquet(s"$base/post").persist()
      val dl = s.read.parquet(s"$base/dl").persist()
      // lazily pinned: the first reader materializes the cached copy
      (post, dl)
    })

  /** Per-document BM25 scores for a bag of query terms against the persisted
    * index — every matched doc (≥1 term), no top-k. The `@@` WHERE lowering
    * joins this. All constants and intermediates in double; the only
    * order-dependent float sum is over ≤|terms| addends per doc, hidden by
    * round(4). */
  def scores(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    val (allPost, dl) = index(spark, dir)
    val post = allPost.filter(col("term").isin(terms: _*))
    val glob = dl.agg(count(lit(1)).cast("double").as("n"),
      Exact.davg(col("dl")).as("avgdl"))
    val df_  = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = post
      .join(dl, "doc_id")
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(glob))
      .select(col("doc_id"),
        bm25TermScore(col("tf"), col("df"), col("n"), col("dl"),
          col("avgdl"), K1, B).as("term_score"))
    scored.groupBy("doc_id").agg(round(sum(col("term_score")), 4).as("score"))
  }

  /** One term's BM25 contribution, the reference scorer's exact shape
    * (fulltext.rs:919-953): clamped idf, log-damped tf'. */
  private def bm25TermScore(tf: Column, df: Column, n: Column, dl: Column,
      avgdl: Column, k1: Double, b: Double): Column = {
    val idf = greatest(lit(0.0),
      log((n - df + lit(0.5)) / (df + lit(0.5))))
    val tfPrime = lit(1.0) + log(tf.cast("double"))
    idf * lit(k1 + 1.0) * tfPrime /
      (tfPrime + lit(k1) * (lit(1.0 - b) + lit(b) * dl.cast("double") / avgdl))
  }

  /** Keys of docs carrying ALL the query terms — the reference's DEFAULT
    * boolean operator for `@@` is AND (sql/operator.rs
    * From<MatchesOperator>: unwrap_or(BooleanOperator::And)). */
  def allTermsHits(post: DataFrame, key: String, terms: Seq[String]): DataFrame =
    post.filter(col("term").isin(terms: _*))
      .groupBy(key).agg(countDistinct(col("term")).as("__fts_nt"))
      .filter(col("__fts_nt") === terms.distinct.size).select(key)

  /** DuckDB oracle for BM25 top-k under AND matching (the bare-`@@`
    * default): [[scores]] restricted to [[allTermsHits]], ordered by score
    * and key, first `k`. */
  def sqlBm25(terms: Seq[String], k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH toks AS (
          SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS term
          FROM documents),
        post AS (
          SELECT term, doc_id, COUNT(*) AS tf FROM toks
          WHERE term IN $inList GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n, ${Exact.sqlAvg("dl")} AS avgdl FROM dl),
        dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM post GROUP BY 1),
        scored AS (
          SELECT post.doc_id,
                 greatest(CAST(0.0 AS DOUBLE),
                          ln((stats.n - dfreq.df + CAST(0.5 AS DOUBLE))
                             / (dfreq.df + CAST(0.5 AS DOUBLE))))
                 * CAST(${K1 + 1.0} AS DOUBLE)
                 * (CAST(1.0 AS DOUBLE) + ln(CAST(post.tf AS DOUBLE)))
                 / ((CAST(1.0 AS DOUBLE) + ln(CAST(post.tf AS DOUBLE)))
                    + CAST($K1 AS DOUBLE) * (CAST(${1.0 - B} AS DOUBLE)
                        + CAST($B AS DOUBLE) * CAST(dl.dl AS DOUBLE) / stats.avgdl))
                   AS term_score
          FROM post JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats),
        hits AS (SELECT doc_id FROM post GROUP BY doc_id
                 HAVING COUNT(DISTINCT term) = ${terms.distinct.size})
        SELECT doc_id, round(SUM(term_score), 4) AS score
        FROM scored JOIN hits USING (doc_id) GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT $k"""
  }

  private val queryTerms = Seq("spark", "merge", "window")

  // ---- analyzer-chain indexes (DEFINE/ALTER ANALYZER on the Spark path) ---

  /** Persisted postings for an arbitrary analyzer CHAIN over one
    * (table, field): tokens come from the graft_analyze kernel — the same
    * tokenizer/filter pipeline the interpreter runs — so both engines build
    * identical postings for any supported chain. Keyed by the chain RENDER:
    * ALTER ANALYZER produces a new render, hence a new key, hence a fresh
    * index on the next `@@` (exactly the interpreter's cache-key behavior).
    * An overlay-modified table builds its postings on the fly from the
    * overlay plan instead of persisting (uncommitted rows must not seed a
    * corpus-wide cache). */
  private val chainCache =
    scala.collection.concurrent.TrieMap[(String, String, String, String), (DataFrame, DataFrame)]()

  private def chainCacheKind(table: String, field: String, chain: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$table/$field/$chain".getBytes("UTF-8"))
    "fts-chain-" + md.take(8).map("%02x".format(_)).mkString + "-v1"
  }

  private def chainPostingsPlan(s: SparkSession, src: DataFrame, keyCol: String,
      field: String, chain: String): (DataFrame, DataFrame) = {
    graft.functions.Kernels.register(s)
    // an ARRAY-valued field indexes every value (the reference analyzes
    // each string value of the field; idx/ft/analyzer walks the value
    // tree): explode values first, then tokenize — tf and dl aggregate
    // across the doc's values, matching the interpreter's corpus build
    val tokens = src.schema(field).dataType match {
      case org.apache.spark.sql.types.ArrayType(_, _) =>
        src.select(col(keyCol), explode(col(field)).as("__fts_val"))
          .select(col(keyCol),
            explode(call_function("graft_analyze", col("__fts_val"), lit(chain))).as("term"))
      case _ =>
        src.select(col(keyCol),
          explode(call_function("graft_analyze", col(field), lit(chain))).as("term"))
    }
    val post = tokens.groupBy("term", keyCol).agg(count(lit(1)).as("tf"))
    (post, post.groupBy(keyCol).agg(sum(col("tf")).as("dl")))
  }

  /** `xform` (FUNCTION analyzers): a pre-tokenize source transform plus its
    * cache-key fragment — the planner passes the INLINED fn:: body, so an
    * ALTER FUNCTION re-keys the persisted postings (no stale index). */
  def chainIndex(s: SparkSession, dir: String, table: String, keyCol: String,
      field: String, chain: String, overlaySrc: Option[DataFrame],
      xform: Option[(String, DataFrame => DataFrame)] = scala.None): (DataFrame, DataFrame) = {
    def apply(src: DataFrame): DataFrame = xform.fold(src)(_._2(src))
    val ck = chain + xform.fold("")("#fn#" + _._1)
    overlaySrc match {
      case Some(src) => chainPostingsPlan(s, apply(src), keyCol, field, chain)
      case scala.None =>
        chainCache.getOrElseUpdate((dir, table, field, ck), {
          val base = graft.CacheDir.ensure(
            graft.CacheDir.path(chainCacheKind(table, field, ck), dir)) { p =>
            val (post, _) =
              chainPostingsPlan(s, apply(Tables(s, dir, table)), keyCol, field, chain)
            post.write.parquet(s"$p/post")
            // doc lengths derive from the postings JUST WRITTEN (dl = Σ tf
            // per key) — re-using the materialized postings instead of the
            // lazy dl plan, which would replay the whole analyze+groupBy
            // pipeline a second time (the analyzer chain is the expensive
            // part; same shape as [[index]]/[[stemmedIndex]])
            s.read.parquet(s"$p/post")
              .groupBy(keyCol).agg(sum(col("tf")).as("dl"))
              .write.parquet(s"$p/dl")
          }
          (s.read.parquet(s"$base/post").persist(),
            s.read.parquet(s"$base/dl").persist())
        })
    }
  }

  /** REBUILD INDEX: drop the persisted chain index and build it again NOW
    * (rebuild.rs runs the build eagerly, not lazily). */
  def rebuildChainIndex(s: SparkSession, dir: String, table: String,
      keyCol: String, field: String, chain: String,
      xform: Option[(String, DataFrame => DataFrame)] = scala.None): Unit = {
    val ck = chain + xform.fold("")("#fn#" + _._1)
    chainCache.remove((dir, table, field, ck)).foreach { case (p, d) =>
      p.unpersist(); d.unpersist(); ()
    }
    graft.CacheDir.invalidate(
      graft.CacheDir.path(chainCacheKind(table, field, ck), dir))
    chainIndex(s, dir, table, keyCol, field, chain, scala.None, xform)
    ()
  }

  /** BM25 scores over a chain index — [[scores]] generalized to any
    * postings pair, key column, and k1/b (DEFINE INDEX … SEARCH … BM25(k1,b)). */
  def chainScores(spark: SparkSession, idx: (DataFrame, DataFrame),
      keyCol: String, terms: Seq[String], k1: Double, b: Double): DataFrame = {
    val (allPost, dl) = idx
    val post = allPost.filter(col("term").isin(terms: _*))
    val glob = dl.agg(count(lit(1)).cast("double").as("n"),
      Exact.davg(col("dl")).as("avgdl"))
    val df_  = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = post
      .join(dl, keyCol)
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(glob))
      .select(col(keyCol),
        bm25TermScore(col("tf"), col("df"), col("n"), col("dl"),
          col("avgdl"), k1, b).as("term_score"))
    scored.groupBy(keyCol).agg(round(sum(col("term_score")), 4).as("score"))
  }

  /** Stemmed-analyzer index: the blank+lowercase+snowball(english) chain
    * (DEFINE ANALYZER … FILTERS lowercase,snowball(english)). The stemmer is
    * [[graft.functions.StemF]] — a codegen'd static call into the same
    * Porter2 implementation the Interp analyzer chain runs, so postings and
    * `search::analyze` agree token-for-token. Cached/persisted like the
    * unstemmed index. */
  private val stemmedCache =
    scala.collection.concurrent.TrieMap[String, (DataFrame, DataFrame)]()

  def stemmedIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    stemmedCache.getOrElseUpdate(dir, {
      graft.functions.Kernels.register(s)
      val base = graft.CacheDir.ensure(graft.CacheDir.path("fts-stem-v1", dir)) { p =>
        tokenize(Tables.documentsWide(s, dir))
          .select(col("doc_id"),
            call_function("graft_stem", col("term"), lit("english")).as("term"))
          .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
          .write.parquet(s"$p/post")
        s.read.parquet(s"$p/post")
          .groupBy("doc_id").agg(sum(col("tf")).as("dl"))
          .write.parquet(s"$p/dl")
      }
      val post = s.read.parquet(s"$base/post").persist()
      val dl = s.read.parquet(s"$base/dl").persist()
      // lazily pinned: the first reader materializes the cached copy
      (post, dl)
    })

  /** BM25 over the stemmed index — query terms arrive as user words and are
    * stemmed with the same analyzer before the postings join (the reference
    * stems the query through the same chain: idx/ft/analyzer/mod.rs). */
  def bm25Stemmed(spark: SparkSession, dir: String, words: Seq[String], k: Int): DataFrame = {
    val stems = words.map(w => graft.surql.Snowball.english(w.toLowerCase)).distinct
    val (allPost, dl) = stemmedIndex(spark, dir)
    val post = allPost.filter(col("term").isin(stems: _*))
    val glob = dl.agg(count(lit(1)).cast("double").as("n"),
      Exact.davg(col("dl")).as("avgdl"))
    val df_  = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    post
      .join(dl, "doc_id")
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(glob))
      .select(col("doc_id"),
        bm25TermScore(col("tf"), col("df"), col("n"), col("dl"),
          col("avgdl"), K1, B).as("term_score"))
      .groupBy("doc_id").agg(round(sum(col("term_score")), 4).as("score"))
      .join(allTermsHits(allPost, "doc_id", stems), Seq("doc_id"), "left_semi")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The test corpus vocabulary under Porter2 — only these five words change;
    * the DuckDB oracle mirrors the stemmer with this CASE so both engines
    * build identical stemmed postings over the fixed generator vocabulary. */
  private val stemCase =
    """CASE term WHEN 'merge' THEN 'merg' WHEN 'query' THEN 'queri'
                 WHEN 'value' THEN 'valu' WHEN 'customer' THEN 'custom'
                 WHEN 'table' THEN 'tabl' ELSE term END"""

  private def sqlBm25Stemmed(stems: Seq[String], k: Int): String = {
    val inList = stems.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH toks AS (
          SELECT doc_id, $stemCase AS term FROM (
            SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS term
            FROM documents)),
        post AS (
          SELECT term, doc_id, COUNT(*) AS tf FROM toks
          WHERE term IN $inList GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n, ${Exact.sqlAvg("dl")} AS avgdl FROM dl),
        dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM post GROUP BY 1),
        scored AS (
          SELECT post.doc_id,
                 greatest(CAST(0.0 AS DOUBLE),
                          ln((stats.n - dfreq.df + CAST(0.5 AS DOUBLE))
                             / (dfreq.df + CAST(0.5 AS DOUBLE))))
                 * CAST(${K1 + 1.0} AS DOUBLE)
                 * (CAST(1.0 AS DOUBLE) + ln(CAST(post.tf AS DOUBLE)))
                 / ((CAST(1.0 AS DOUBLE) + ln(CAST(post.tf AS DOUBLE)))
                    + CAST($K1 AS DOUBLE) * (CAST(${1.0 - B} AS DOUBLE)
                        + CAST($B AS DOUBLE) * CAST(dl.dl AS DOUBLE) / stats.avgdl))
                   AS term_score
          FROM post JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats),
        hits AS (SELECT doc_id FROM post GROUP BY doc_id
                 HAVING COUNT(DISTINCT term) = ${stems.distinct.size})
        SELECT doc_id, round(SUM(term_score), 4) AS score
        FROM scored JOIN hits USING (doc_id) GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** Inflected user query words — the analyzer must stem them onto the same
    * postings keys the corpus words produced (merging→merg matches merge). */
  private val stemmedQueryWords = Seq("merging", "tables", "queries")

  val fulltextStemmed = Q("fulltext_stemmed",
    sqlBm25Stemmed(stemmedQueryWords.map(w =>
      graft.surql.Snowball.english(w.toLowerCase)).distinct, 20)) {
    (s, d) => bm25Stemmed(s, d, stemmedQueryWords, 20)
  }

  /** Boolean AND match (`@@` with all-terms semantics): documents containing
    * every query term — postings semi-join against the persisted index,
    * distinct-term count == |terms|. */
  val fulltextAll = Q("fulltext_all_terms",
    """SELECT doc_id FROM (
         SELECT doc_id, COUNT(DISTINCT term) AS hits FROM (
           SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS term
           FROM documents)
         WHERE term IN ('spark', 'merge', 'window') GROUP BY doc_id)
       WHERE hits = 3 ORDER BY doc_id""") {
    (s, d) =>
      index(s, d)._1
        .filter(col("term").isin(queryTerms: _*))
        .groupBy("doc_id").agg(countDistinct(col("term")).as("hits"))
        .filter(col("hits") === queryTerms.size)
        .select("doc_id")
        .orderBy("doc_id")
  }

  /** `search::highlight` / `search::offsets` analog (fnc/mod.rs:626-631,
    * idx/ft/highlighter.rs): for docs matching the first query term, wrap
    * every query-term occurrence in <em>…</em> and report the first match
    * offset. The match set comes from the postings index; only the hit docs
    * re-touch raw text. Replacement syntax differs per engine ($1 Java, \\1
    * RE2) but the outputs are identical strings. */
  val fulltextHighlight = Q("fulltext_highlight",
    """SELECT d.doc_id,
              regexp_replace(lower(d.text), '\b(spark|merge|window)\b',
                             '<em>\1</em>', 'g') AS highlighted,
              CAST(strpos(lower(d.text), 'spark') AS BIGINT) AS first_off
       FROM documents d
       WHERE d.doc_id IN (
         SELECT DISTINCT doc_id FROM (
           SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS term
           FROM documents) WHERE term = 'spark')
       ORDER BY d.doc_id""") {
    (s, d) =>
      val hits = index(s, d)._1.filter(col("term") === "spark")
        .select("doc_id").distinct()
      Tables.documents(s, d)
        .join(hits, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          regexp_replace(lower(col("text")), "\\b(spark|merge|window)\\b",
            "<em>$1</em>").as("highlighted"),
          instr(lower(col("text")), "spark").cast("bigint").as("first_off"))
        .orderBy("doc_id")
  }

  /** ARRAY-valued search fields on the Spark script path (r17): the script
    * adds `vals = [text, 'merge window']`, indexes the array field, and
    * `@@`/highlight/offsets walk EVERY value — highlight wraps matched
    * values in place, offsets key spans by VALUE INDEX (reference
    * idx/ft/highlighter.rs:83-84,169-175; interp Search.scala strValues
    * walk). The oracle replays the blank+lowercase chain over the single-
    * spaced corpus: value 1 always matches ('merge window'), value 0 iff
    * the doc text carries a 'merge' token — off_keys, the value-0 hit
    * count, and the first value-0 span offset are all exact SQL. */
  val fulltextHighlightArr = Q("fulltext_highlight_arr",
    """WITH t AS (
         SELECT doc_id, text, string_split(text, ' ') AS ts
         FROM documents WHERE doc_id < 50),
       m AS (
         SELECT doc_id, text, ts,
                list_position(list_transform(ts, x -> lower(x)), 'merge') AS k,
                len(list_filter(ts, x -> lower(x) = 'merge')) AS nm
         FROM t)
       SELECT doc_id,
              array_to_string(list_transform(ts,
                 x -> CASE WHEN lower(x) = 'merge' THEN '<' || x || '>' ELSE x END), ' ')
                || chr(31) || '<merge> window' AS hl,
              CASE WHEN nm = 0 THEN '1' ELSE '0' || chr(31) || '1' END AS off_keys,
              CASE WHEN nm = 0 THEN NULL ELSE CAST(nm AS BIGINT) END AS n0,
              CASE WHEN nm = 0 THEN NULL
                   WHEN k = 1 THEN CAST(0 AS BIGINT)
                   ELSE CAST(length(array_to_string(ts[1:k-1], ' ')) + 1 AS BIGINT)
              END AS s0
       FROM m ORDER BY doc_id""") {
    (s, d) =>
      val out = graft.surql.SparkPlanner.script(s, d,
        """UPDATE documents SET vals = [text, 'merge window'] WHERE doc_id < 50;
           DEFINE ANALYZER ahl17 TOKENIZERS blank FILTERS lowercase;
           DEFINE INDEX ftarr17 ON documents FIELDS vals SEARCH ANALYZER ahl17 BM25 HIGHLIGHTS;
           SELECT doc_id, search::highlight('<', '>', 0) AS hl,
                  search::offsets(0) AS off
           FROM documents WHERE doc_id < 50 AND vals @0@ 'merge'
           ORDER BY doc_id;""")
      // project the offsets map into deterministic columns for the compare:
      // matched value indices, value-0 hit count, first value-0 span start.
      // hl/off_keys are serialized with U+001F — the driver's comparator
      // cannot hash list columns (r17's only red row was exactly this).
      out.select(col("doc_id"), array_join(col("hl"), "\u001f").as("hl"),
        array_join(map_keys(col("off")), "\u001f").as("off_keys"),
        size(element_at(col("off"), "0")).cast("bigint").as("n0"),
        element_at(element_at(col("off"), "0"), 1).getField("s").as("s0"))
        .withColumn("n0", when(col("n0") >= 0, col("n0"))) // -1 (absent) → null
        .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(fulltextAll, fulltextHighlight, fulltextHighlightArr,
    fulltextStemmed)
}
