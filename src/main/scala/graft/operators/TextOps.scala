package graft.operators

import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** The composed training-data curation recipe (an extension beyond the
  * reference surface) as one DataFrame plan. Its stages — token
  * counting, quality scoring, the language-ID heuristic, exact dedup and
  * fingerprinting — are also registry rows of their own, written as
  * SurrealQL text in [[SurqlQueries]]. All are single-pass, codegen-friendly
  * column expressions — no UDFs, no shuffles except the dedup joins.
  *
  * SurrealQL cousins: string::words/len (fnc/string.rs),
  * crypto::md5 (fnc/crypto.rs), string::similarity (SURVEY §2.4). */
object TextOps {

  private val markerEn = Seq("the", "a", "of", "and", "fast")
  private val markerDe = Seq("der", "die", "das", "und", "nicht")
  private val markerFr = Seq("le", "la", "les", "et", "est")

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB twins of the language-ID scores (en, de, fr): hits of each
    * language's marker words among the whitespace tokens. */
  private[operators] val sqlLangScores: (String, String, String) = {
    val toks = "string_split(trim(text), ' ')"
    def score(words: Seq[String]) =
      s"len(list_filter($toks, t -> list_contains(${sqlList(words)}, t)))"
    (score(markerEn), score(markerDe), score(markerFr))
  }

  /** End-to-end corpus curation — the composed training-data recipe in ONE
    * plan: language filter (en) → quality gate (not too-short) → exact-dedup
    * survivor policy (min doc_id per md5) → near-dup canonical-only (drop
    * non-minimum cluster members, [[Dedup.nearDupClusters]]) → token
    * accounting. Every stage is a scan-filter or a key-partitioned join, so
    * the whole recipe is one linear pass plus the dedup joins at 100 TB. The
    * oracle replays all five stages, including the clustering closure. */
  val pipelineCuration = Q("pipeline_curation", {
    val (en, de, fr) = sqlLangScores
    s"""WITH RECURSIVE gtoks AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
       grams AS (
         SELECT DISTINCT doc_id,
                CASE WHEN len(w) >= 3
                     THEN w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     ELSE array_to_string(w, ' ') END AS shingle
         FROM gtoks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 1, 2))) AS i)),
       sdf AS (SELECT shingle FROM grams GROUP BY shingle
               HAVING COUNT(*) <= ${Dedup.MaxShingleDf}),
       capped AS (SELECT doc_id, shingle FROM grams JOIN sdf USING (shingle)),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
       inter AS (
         SELECT g1.doc_id AS a, g2.doc_id AS b, COUNT(*) AS i
         FROM capped g1 JOIN capped g2
           ON g1.shingle = g2.shingle AND g1.doc_id < g2.doc_id
         GROUP BY 1, 2),
       pairs AS (
         SELECT a, b FROM inter
         JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
       edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       reach(nn, m) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.nn, e.b FROM reach r JOIN edges e ON r.m = e.a),
       clusters AS (
         SELECT nn AS doc_id, least(nn, min(m)) AS cluster
         FROM reach GROUP BY nn),
       keepers AS (
         SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       curated AS (
         SELECT d.doc_id, d.text FROM documents d
         JOIN keepers k ON k.doc_id = d.doc_id
         LEFT JOIN clusters c ON c.doc_id = d.doc_id
         WHERE ($en >= $de AND $en >= $fr)
           AND length(text) >= 100
           AND (c.cluster IS NULL OR c.cluster = d.doc_id))
       SELECT COUNT(*) AS n_docs,
              CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
              CAST(SUM(ceil(length(text) / 4.0)) AS BIGINT) AS total_bpe
       FROM curated"""
  }) {
    (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = split(trim(col("text")), " ")
      def score(words: Seq[String]) = {
        val arr = array(words.map(lit): _*)
        size(filter(toks, t => array_contains(arr, t)))
      }
      val en = score(markerEn); val de = score(markerDe); val fr = score(markerFr)
      val keepers = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val clusters = Dedup.nearDupClusters(s, d)
      docs
        .filter(en >= de && en >= fr)            // language gate
        .filter(length(col("text")) >= 100)       // quality gate
        .join(keepers, Seq("doc_id"))             // exact-dedup survivor
        .join(clusters, Seq("doc_id"), "left")    // near-dup canonical only
        .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(toks)).cast("bigint").as("total_tokens"),
          sum(ceil(length(col("text")) / 4.0)).cast("bigint").as("total_bpe"))
  }

  val all: Seq[Q] = Seq(pipelineCuration)
}
