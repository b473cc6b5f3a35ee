package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

import graft.Tables
import graft.queries.{Det, QueryModule}
import PortableHash._

/** Text-analysis operator family over `documents` (SURVEY.md §2 B15 + the
  * north-star text-analysis mandate): corpus token statistics, heuristic
  * language ID, quality scoring, token counting (whitespace + regex
  * "BPE-ish" word/number pieces), and winnowing document fingerprints.
  *
  * Scale design: everything except the per-source rollup is a pure per-row
  * projection (higher-order functions over the token array — no explode, no
  * shuffle); the rollup is a partial+final hash aggregate on `source`. All
  * arithmetic is engine-portable (int divisions promoted identically,
  * fixed-hash fingerprints from [[PortableHash]]), so every query here is
  * oracle-checked cell-exact.
  */
object Text extends QueryModule {

  /** Marker stopword lists for the n-gram/stopword language-ID heuristic.
    * Deterministic: score = marker hits per language, prediction = argmax
    * with lexicographic tie-break. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "que"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("de", "le", "shi"))

  private def hits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(m => t === m).reduce(_ || _))).cast(LongType)

  /** BM25 query terms (all present in the synthetic corpus vocabulary). */
  private[graft] val Bm25Terms: Seq[String] = Seq("vector", "join", "scan")

  /** Per-document BM25 score vs [[Bm25Terms]] in fixed point: (doc_id,
    * score_fx, n_terms). Shared by `q_text_bm25` and the hybrid-retrieval
    * fusion (`q_search_hybrid` in [[Similarity]]). */
  private[llm] def bm25PerDoc(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables(s, d, "documents")
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val dl = tokens.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = tokens.filter(col("term").isin(Bm25Terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val scored = tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast(DoubleType) / col("n_docs"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("part_fx",
        floor(lit(1e9) * col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .cast(LongType))
    scored.groupBy("doc_id")
      .agg(sum(col("part_fx")).as("score_fx"), count(lit(1)).as("n_terms"))
  }

  /** The DuckDB mirror of [[bm25PerDoc]] — (doc_id, score_fx, n_terms) —
    * over the standard corpus; [[sqlBm25PerDocOver]] parameterizes the
    * corpus (e.g. the live complement after a deletion-vectored DELETE,
    * `q_text_bm25_dv`). */
  private[graft] lazy val sqlBm25PerDoc: String =
    sqlBm25PerDocOver("SELECT doc_id, text FROM documents")

  /** The DuckDB mirror of [[graft.sources.TextIndex.bm25Join]] over the
    * standard corpus with the standard query log (every 37th doc's
    * first-4-token prefix): per-(query, doc) BM25 in the same 1e9
    * fixed point, top-10 per query by (score desc, doc_id). */
  private[graft] lazy val sqlBm25Join: String =
    """WITH q AS (
      |  SELECT doc_id AS qid,
      |    array_to_string(list_slice(string_split(text, ' '), 1, 4), ' ')
      |      AS qtext
      |  FROM documents WHERE doc_id % 37 = 5),
      |qtok AS (
      |  SELECT DISTINCT qid, t AS term FROM
      |    (SELECT qid, unnest(string_split(qtext, ' ')) AS t FROM q)
      |  WHERE t <> ''),
      |tokens AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM tokens
      |  WHERE term IN (SELECT term FROM qtok) GROUP BY doc_id, term),
      |dfreq AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      |scored AS (
      |  SELECT qtok.qid, tf.doc_id,
      |    CAST(floor(1000000000.0
      |      * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
      |      * (tf * 2.2)
      |      / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))))
      |      AS BIGINT) AS part_fx
      |  FROM qtok JOIN tf USING (term) JOIN dfreq USING (term)
      |    JOIN dl USING (doc_id), stats),
      |agg AS (
      |  SELECT qid, doc_id, CAST(SUM(part_fx) AS BIGINT) AS score_fx,
      |    COUNT(*) AS n_terms
      |  FROM scored GROUP BY qid, doc_id),
      |rk AS (
      |  SELECT qid, doc_id, n_terms, score_fx,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY score_fx DESC, doc_id) AS rank
      |  FROM agg)
      |SELECT qid, CAST(rank AS INT) AS rank, doc_id,
      |  CAST(n_terms AS BIGINT) AS n_terms,
      |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
      |FROM rk WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  /** The DuckDB mirror of the BY PARTITION batch join: per-SOURCE BM25
    * over the mod-3 partitioned corpus — each query's candidates, df,
    * N and avgdl all restrict to ITS OWN source's sub-corpus (the
    * source equality rides every join). */
  private[graft] lazy val sqlBm25JoinPartitioned: String =
    """WITH q AS (
      |  SELECT doc_id AS qid, source AS qsrc,
      |    array_to_string(list_slice(string_split(text, ' '), 1, 4), ' ')
      |      AS qtext
      |  FROM documents WHERE doc_id % 37 = 5 AND doc_id % 3 <> 0),
      |qtok AS (
      |  SELECT DISTINCT qid, qsrc, t AS term FROM
      |    (SELECT qid, qsrc, unnest(string_split(qtext, ' ')) AS t FROM q)
      |  WHERE t <> ''),
      |tokens AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE doc_id % 3 <> 0),
      |dl AS (
      |  SELECT doc_id, source, COUNT(*) AS dl FROM tokens
      |  GROUP BY doc_id, source),
      |stats AS (
      |  SELECT source, COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl
      |  GROUP BY source),
      |tf AS (
      |  SELECT doc_id, source, term, COUNT(*) AS tf FROM tokens
      |  WHERE term IN (SELECT term FROM qtok)
      |  GROUP BY doc_id, source, term),
      |dfreq AS (
      |  SELECT source, term, COUNT(DISTINCT doc_id) AS df FROM tf
      |  GROUP BY source, term),
      |scored AS (
      |  SELECT qtok.qid, tf.doc_id,
      |    CAST(floor(1000000000.0
      |      * ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
      |          / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))
      |      AS BIGINT) AS part_fx
      |  FROM qtok
      |  JOIN tf ON tf.term = qtok.term AND tf.source = qtok.qsrc
      |  JOIN dfreq d ON d.term = qtok.term AND d.source = qtok.qsrc
      |  JOIN dl ON dl.doc_id = tf.doc_id AND dl.source = tf.source
      |  JOIN stats s ON s.source = qtok.qsrc),
      |agg AS (
      |  SELECT qid, doc_id, CAST(SUM(part_fx) AS BIGINT) AS score_fx,
      |    COUNT(*) AS n_terms
      |  FROM scored GROUP BY qid, doc_id),
      |rk AS (
      |  SELECT qid, doc_id, n_terms, score_fx,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY score_fx DESC, doc_id) AS rank
      |  FROM agg)
      |SELECT qid, CAST(rank AS INT) AS rank, doc_id,
      |  CAST(n_terms AS BIGINT) AS n_terms,
      |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
      |FROM rk WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  private[graft] def sqlBm25PerDocOver(corpus: String): String = {
    val terms = Bm25Terms.map("'" + _ + "'").mkString(", ")
    s"""WITH tokens AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM ($corpus)),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens
       |       WHERE term IN ($terms) GROUP BY doc_id, term),
       |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
       |scored AS (
       |  SELECT tf.doc_id,
       |    CAST(floor(1000000000.0
       |      * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * (tf * 2.2)
       |      / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))))
       |      AS BIGINT) AS part_fx
       |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats)
       |SELECT doc_id, CAST(SUM(part_fx) AS BIGINT) AS score_fx,
       |  COUNT(*) AS n_terms
       |FROM scored GROUP BY doc_id""".stripMargin
  }

  /** The NB chain through `nbp` (doc_id, actual, pred per eval doc) —
    * shared by the classifier oracle and the ingest-pipeline
    * composition. */
  private[graft] lazy val sqlNbCtes: String =
    """tk AS (
      |  SELECT doc_id, lang, t AS term FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
      |    FROM documents) WHERE t <> ''),
      |train AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
      |ct AS (SELECT lang, term, COUNT(*) AS n_ct FROM train GROUP BY 1, 2),
      |tot AS (SELECT lang, COUNT(*) AS n_c FROM train GROUP BY 1),
      |voc AS (SELECT COUNT(DISTINCT term) AS v FROM train),
      |pri AS (
      |  SELECT lang, CAST(floor(1000000000 * ln(CAST(nd AS DOUBLE) / nt))
      |    AS BIGINT) AS prior_fx
      |  FROM (SELECT lang, COUNT(*) AS nd FROM documents
      |        WHERE doc_id % 2 = 0 GROUP BY lang),
      |       (SELECT COUNT(*) AS nt FROM documents WHERE doc_id % 2 = 0)),
      |cls AS (
      |  SELECT lang, n_c, v,
      |    CAST(floor(1000000000 * ln(1.0 / (n_c + v))) AS BIGINT) AS d_fx
      |  FROM tot, voc),
      |ll AS (
      |  SELECT ct.lang, ct.term,
      |    CAST(floor(1000000000 * ln((n_ct + 1.0) / (n_c + v)))
      |      AS BIGINT) AS ll_fx
      |  FROM ct JOIN cls USING (lang)),
      |ev AS (SELECT doc_id, lang AS actual, term FROM tk
      |       WHERE doc_id % 2 = 1),
      |sc AS (
      |  SELECT e.doc_id, e.actual, c.lang,
      |    SUM(COALESCE(l.ll_fx, c.d_fx)) AS s_fx
      |  FROM ev e CROSS JOIN cls c
      |  LEFT JOIN ll l ON l.lang = c.lang AND l.term = e.term
      |  GROUP BY 1, 2, 3),
      |fin AS (
      |  SELECT sc.doc_id, sc.actual, sc.lang,
      |    sc.s_fx + p.prior_fx AS score_fx
      |  FROM sc JOIN pri p ON p.lang = sc.lang),
      |nbp AS (
      |  SELECT doc_id, actual, lang AS pred
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY doc_id ORDER BY score_fx DESC, lang) AS rk
      |        FROM fin)
      |  WHERE rk = 1)""".stripMargin

  private def sqlHits(markers: Seq[String]): String =
    s"CAST(len(list_filter(t, x -> list_contains([${markers.map("'" + _ + "'").mkString(", ")}], x))) AS BIGINT)"

  // winnowing parameters: 8-char k-grams, window of 4 consecutive hashes
  private val KGram = 8
  private val WinnowWindow = 4
  private val VocabMinFreq = 5L  // q_text_lm_coverage: in-vocab threshold
  private val BigramMinFreq = 2L // q_text_lm_coverage: attested-bigram threshold

  /** Decomposed Unicode marker appended to each doc for the NFC query:
    * e+U+0301, i+U+0308, A+U+030A — three combining sequences that NFC
    * composes to é/ï/Å (8 codepoints shrink to 5). Interpolated verbatim
    * into BOTH the Spark plan and the DuckDB oracle so the engines see
    * byte-identical input. */
  private val DecomposedMarker = "Cafe\u0301 nai\u0308ve A\u030A"

  /** PII patterns kept to the regex subset where Java (Spark) and RE2
    * (DuckDB) agree: character classes, bounded repetition, alternation —
    * no backreferences, no lookaround, no \b. Applied in list order; each
    * earlier redaction removes its text from later patterns' view (e.g.
    * emails go before IPv4 so `user@10.0.0.1`-style strings can't be
    * half-redacted differently per engine). */
  private val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^ ]+" -> "<URL>",
    "[0-9]{3}-[0-9]{2}-[0-9]{4}" -> "<SSN>",
    "[0-9]{3}-[0-9]{3}-[0-9]{4}" -> "<PHONE>",
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}" -> "<IP>")

  /** Per-(session, sfDir) memo of the TRAINED NB model (r14): the
    * model — per-(class, token) fixed-point log-likelihoods `ll`, the
    * per-class default + prior rows — is a stored artifact in
    * production (the C237 "model is a bounded relation" contract), and
    * THREE surfaces score against it (the classifier query, the batch
    * pipeline, every micro-batch of the streaming pipeline). Training
    * materializes once per JVM ((vocab × classes)-row checkpoint);
    * INFERENCE still runs per call — the benched number stays real
    * scoring work, never a cached answer. The key carries a CONTENT
    * token — (name, length, mtime) digest of the training table's
    * files (r15 advice) — so a re-staged or mutated documents dir in
    * the same JVM retrains instead of silently scoring on the stale
    * model; listing one directory is driver-side metadata cost. */
  private val nbModelCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
       org.apache.spark.sql.DataFrame)]()

  private def nbModel(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) =
    nbModelCache.computeIfAbsent(
      s"${s.sparkContext.applicationId}_${d}_" +
        Tables.contentToken(Seq(s"$d/documents.parquet")), _ => {
        val docs = Tables(s, d, "documents")
        val train = docs
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("term"))
          .where(length(col("term")) > 0)
          .where(pmod(col("doc_id"), lit(2)) === 0)
        val ct = train.groupBy("lang", "term").agg(count(lit(1)).as("n_ct"))
        val tot = train.groupBy("lang").agg(count(lit(1)).as("n_c"))
        val voc = train.agg(countDistinct(col("term")).as("v"))
        val evenDocs = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        val pri = evenDocs.groupBy("lang").agg(count(lit(1)).as("nd"))
          .crossJoin(broadcast(evenDocs.agg(count(lit(1)).as("nt"))))
          .select(col("lang"),
            floor(lit(1e9) * log(col("nd").cast(DoubleType) / col("nt")))
              .cast(LongType).as("prior_fx"))
        val clsInfo = tot.crossJoin(broadcast(voc))
          .select(col("lang"),
            floor(lit(1e9) * log(lit(1.0) / (col("n_c") + col("v"))))
              .cast(LongType).as("d_fx"),
            col("n_c"), col("v"))
        val ll = ct.join(clsInfo, "lang")
          .select(col("lang"), col("term"),
            floor(lit(1e9) * log((col("n_ct") + lit(1.0)) /
              (col("n_c") + col("v")))).cast(LongType).as("ll_fx"))
        (ll.localCheckpoint(),
          graft.llm.Clustering.localize(
            clsInfo.select(col("lang"), col("d_fx"))),
          graft.llm.Clustering.localize(pri))
      })

  /** The in-query Naive Bayes dataflow — (doc_id, actual, pred) per
    * odd-id (eval) document. Shared by the declared classifier query
    * (`q_text_classify_nb`) and the ingest-pipeline composition
    * (`q_corpus_ingest_pipeline` — the model-based language gate). */
  private[graft] def nbPredictions(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val (ll, clsInfo, pri) = nbModel(s, d)
    // per-(doc, term) counts FIRST (r17, guide §2.3 "aggregate before
    // you shuffle"): the old flow crossJoined every token OCCURRENCE
    // with the language panel before aggregating, paying the
    // (tokens × languages) join and aggregate at occurrence volume. The
    // fixed-point per-term log-likelihoods are longs, so tf · ll_fx
    // summed per (doc, lang) is bit-identical to summing per occurrence.
    val ev = Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("term"))
      .where(length(col("term")) > 0)
      .where(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), col("lang").as("actual"), col("term"))
      .groupBy("doc_id", "actual", "term")
      .agg(count(lit(1)).as("tf"))
    val scored = ev
      .crossJoin(broadcast(clsInfo.select(col("lang"), col("d_fx"))))
      .join(ll, Seq("lang", "term"), "left")
      .select(col("doc_id"), col("actual"), col("lang"),
        (col("tf") * coalesce(col("ll_fx"), col("d_fx"))).as("t_fx"))
      .groupBy("doc_id", "actual", "lang")
      .agg(sum(col("t_fx")).as("s_fx"))
      .join(broadcast(pri), "lang")
      .select(col("doc_id"), col("actual"), col("lang"),
        (col("s_fx") + col("prior_fx")).as("score_fx"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score_fx"), col("lang"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("actual"), col("lang").as("pred"))
  }

  def queries: Map[String, Q] = Map(
    // B15 — corpus token statistics per source: explode tokens (Generate →
    // partial hash agg). The only shuffling query in this family.
    "q_text_analysis" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("token"))
        .groupBy("source")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_uniq_tokens"),
          Det.davg(length(col("token")).cast(DoubleType)).as("avg_token_len"))
        .orderBy("source")),

    // PER-DOCUMENT keyword extraction: each doc's top-3 TF-IDF terms —
    // the document-fingerprint summary a curation pipeline attaches for
    // clustering/retrieval diagnostics. Same smoothed idf as
    // q_text_tfidf but ranked WITHIN each document (term tie-break);
    // fixed-point scores. Bounded: tf shuffle on (doc, term), df
    // aggregate broadcast back, one per-doc window. First 40 docs
    // declared (120 rows — the comparator-friendly cut; the window is
    // the operator, the cut is presentation).
    "q_text_keywords" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val tokens = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
      val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // idf from the FULL corpus; the declared-doc cut applies after the
      // statistics and before the per-doc window
      val dfreq = tf.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("score_fx"), col("term"))
      tf.where(col("doc_id") < 40)
        .join(dfreq, "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          floor(col("tf") * lit(1e9) *
            log((col("n_docs") + 1).cast(DoubleType) / (col("df") + 1)))
            .cast(LongType).as("score_fx"))
        .withColumn("rk", row_number().over(w).cast(IntegerType))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"),
          (col("score_fx").cast(DoubleType) / 1e9).as("score"))
        .orderBy("doc_id", "rk")
    }),

    // MODEL-BASED classification trained IN-QUERY (the fasttext/CCNet
    // filtering pattern, as a fully-replayable dataflow): a multinomial
    // Naive Bayes language classifier — per-(class, token) Laplace-
    // smoothed log-likelihoods + class priors train on the EVEN-id half,
    // the ODD half scores and argmaxes. Every log floors to fixed point
    // per (class, token) BEFORE the per-doc sum (longs commute — the
    // double-summation-order rule), so training and inference replay
    // cell-exactly in DuckDB. Scale shape: the model is a
    // (train-vocab × classes) relation — a bounded equi-join against the
    // eval tokens, priors/defaults broadcast; nothing quadratic, no
    // driver-side model state.
    "q_text_classify_nb" -> ((s, d) =>
      nbPredictions(s, d)
        .select(col("doc_id"), col("actual"), col("pred"),
          (col("actual") === col("pred")).as("is_correct"))
        .orderBy("doc_id")),

    // Language ID: marker-stopword hit counts per language, argmax with
    // lexicographic tie-break. Pure per-row computation.
    "q_text_langid" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val base = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), toks.as("t"))
      val scored = base.select(
        Seq(col("doc_id"), col("lang")) ++
          LangMarkers.map { case (l, ms) => hits(col("t"), ms).as(s"s_$l") }: _*)
      // argmax by (score DESC, lang ASC): fold over the language list.
      val pred = LangMarkers.map(_._1).sorted
        .foldRight(lit("und")) { case (l, acc) =>
          val isMax = LangMarkers.map(_._1).filter(_ != l)
            .map(o => col(s"s_$l") >= col(s"s_$o") + (if (o < l) 1 else 0))
            .reduce(_ && _)
          when(isMax, lit(l)).otherwise(acc)
        }
      scored
        .select(col("doc_id"), col("lang"), pred.as("pred_lang"),
          (col("lang") === pred).as("is_correct"))
        .orderBy("doc_id")
    }),

    // Quality scoring: length / token statistics / stopword ratio combined
    // into a single per-row double score (identical elementwise arithmetic
    // on both engines).
    "q_text_quality" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val base = Tables(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), length(col("text")).cast(LongType).as("len"),
          toks.as("t"))
      val nTok = size(col("t")).cast(LongType)
      val stopHits = hits(col("t"), Seq("the", "a", "of"))
      val longToks = size(filter(col("t"), t => length(t) >= 5)).cast(LongType)
      val avgTokLen = (col("len") - (nTok - 1)).cast(DoubleType) / nTok
      val stopRatio = stopHits.cast(DoubleType) / nTok
      val longRatio = longToks.cast(DoubleType) / nTok
      base.select(
          col("doc_id"), nTok.as("n_tokens"),
          avgTokLen.as("avg_token_len"),
          stopRatio.as("stop_ratio"),
          longRatio.as("long_ratio"),
          (stopRatio * 0.3 + longRatio * 0.5 +
            when(col("len") >= 200, 0.2).otherwise(0.0)).as("quality"))
        .orderBy("doc_id")
    }),

    // PER-DOMAIN QUALITY FILTERING (the production rule: thresholds are
    // set per source, because a uniform global cutoff lets a high-quality
    // domain's floor evict a noisy domain entirely): keep each source's
    // top half by the q_text_quality score, the cut at the per-source
    // quality MEDIAN via percent_rank (doc_id tie-break — a score tie
    // never makes the sample engine-dependent). One window over one
    // source-keyed exchange; the score itself is scan-side per-row math.
    "q_text_quality_stratified" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val base = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"),
          length(col("text")).cast(LongType).as("len"), toks.as("t"))
      val nTok = size(col("t")).cast(LongType)
      val stopRatio = hits(col("t"), Seq("the", "a", "of")).cast(DoubleType) / nTok
      val longRatio = size(filter(col("t"), t => length(t) >= 5))
        .cast(DoubleType) / nTok
      val scored = base.select(col("doc_id"), col("source"),
        (stopRatio * 0.3 + longRatio * 0.5 +
          when(col("len") >= 200, 0.2).otherwise(0.0)).as("quality"))
      scored
        .withColumn("pr", percent_rank().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("source").orderBy("quality", "doc_id")))
        .filter(col("pr") >= 0.5)
        .select("doc_id", "source", "quality")
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens vs a BPE-ish regex segmentation
    // (letter runs | digit runs | single punctuation) — regex kept to a
    // dialect-neutral subset so Java and RE2-style engines agree.
    "q_text_tokens" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
            .cast(LongType).as("re_tokens"),
          length(col("text")).cast(LongType).as("n_chars_calc"))
        .orderBy("doc_id")),

    // Vocabulary construction: the token → dense-id mapping a tokenizer
    // build step produces. Global term frequencies (one map-side-combined
    // aggregate over the exploded token stream — the shuffle carries one
    // row per DISTINCT token), then ids assigned by a frequency-ranked
    // total order. The ranking window runs over |vocab| rows only, never
    // the corpus; at web scale you'd cap the vocab with a bounded top-k
    // first, which this repo's TopKPerGroup operator already provides.
    "q_text_vocab" -> ((s, d) => {
      val counts = Tables(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("n"))
      counts.withColumn("token_id",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(desc("n"), col("token"))).cast(IntegerType))
        .select("token_id", "token", "n")
        .orderBy("token_id")
    }),

    // Bigram (co-occurrence) counts: the n-gram language-model count table.
    // Bigrams are materialized PER ROW (no self-join, no shuffle to form
    // pairs — the classic mistake is joining the token stream to itself on
    // (doc, pos+1), which shuffles the whole corpus twice); only the
    // grouped count shuffles, bounded by the distinct-bigram vocabulary.
    // Top-100 by (count, bigram) is a bounded TakeOrderedAndProject.
    // The token array is PROJECTED FIRST so it binds as an attribute:
    // inlining `split` into the per-element lambda (the round-3 first cut)
    // re-ran the split per element — O(tokens²) per doc, a 40× slowdown at
    // sf0.1. CollapseProject keeps the split materialized because it is
    // non-cheap and referenced four times. zip_with over the two shifted
    // slices is then O(tokens); docs with <2 tokens yield empty arrays and
    // vanish at the explode, matching the oracle's empty range().
    "q_text_bigrams" -> ((s, d) => {
      val len1 = greatest(size(col("tk")) - 1, lit(0))
      Tables(s, d, "documents")
        .select(split(col("text"), " ").as("tk"))
        .select(explode(zip_with(
            slice(col("tk"), lit(1), len1),
            slice(col("tk"), lit(2), len1),
            (x, y) => concat_ws(" ", x, y))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("bigram"))
        .limit(100)
    }),

    // Bigram-LM coverage scoring — the CCNet-style "does this document
    // look like the corpus" quality signal, with integer statistics so the
    // gate is exact (a log-probability perplexity would ride on ln()
    // portability; OOV rate + bigram coverage rank documents the same way
    // for filtering). Per doc: token count, out-of-vocabulary occurrences
    // (vocab = tokens seen ≥ VocabMinFreq times corpus-wide), bigram count,
    // bigrams attested ≥ BigramMinFreq times, and the coverage fraction in
    // 1e-6 fixed point. Scale shape: the token/bigram streams are per-row
    // Generates; the vocab and bigram-LM tables are grouped counts bounded
    // by vocabulary size (Heaps' law), joined back BY KEY — AQE broadcasts
    // them while they fit and falls back to a vocab-bounded shuffle join
    // beyond that; the per-doc rollups are map-side-combined on doc_id.
    "q_text_lm_coverage" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => length(t) > 0).as("tk"))
      val toks = docs.select(col("doc_id"), explode(col("tk")).as("token"))
      val len1 = greatest(size(col("tk")) - 1, lit(0))
      val bis = docs.select(col("doc_id"), explode(zip_with(
          slice(col("tk"), lit(1), len1), slice(col("tk"), lit(2), len1),
          (x, y) => concat_ws(" ", x, y))).as("bigram"))
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= VocabMinFreq).select("token")
      val knownBi = bis.groupBy("bigram").agg(count(lit(1)).as("n"))
        .filter(col("n") >= BigramMinFreq).select("bigram")
      val oov = toks.join(vocab, Seq("token"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
      val cov = bis.join(knownBi, Seq("bigram"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_cov"))
      docs.select(col("doc_id"), size(col("tk")).cast(LongType).as("n_tok"),
          len1.cast(LongType).as("n_bigrams"))
        .join(oov, Seq("doc_id"), "left_outer")
        .join(cov, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          col("n_bigrams"),
          coalesce(col("n_cov"), lit(0L)).as("n_cov"),
          when(col("n_bigrams") > 0,
            floor(coalesce(col("n_cov"), lit(0L)).cast(DoubleType) * 1e6
              / col("n_bigrams")).cast(LongType))
            .otherwise(lit(0L)).as("cov_fp"))
        .orderBy("doc_id")
    }),

    // Unigram-LM cross-entropy (the KenLM-style perplexity quality filter,
    // unigram order): train the LM on the corpus itself — p(t) = cnt(t)/T
    // — then score each doc by Σ tf·(−ln p(t)) and its per-token mean.
    // High score = improbable tokens = boilerplate/noise; the standard
    // "does this doc look like the corpus" ranker, complementary to the
    // integer OOV/bigram-coverage gate above. Portability: −ln p is
    // floored into 1e9 FIXED POINT once per DISTINCT token (the ratio
    // cnt/T is an exact-rounded double division of <2^53 ints, identical
    // on both engines; ln beyond that is the same bit-identical-probe
    // argument as q_text_tfidf), after which every per-doc number is
    // integer arithmetic — the double sum would have been order-dependent,
    // the long sum is exact. Scale shape: one map-side-combined tf
    // aggregate, a vocab-bounded weight table joined back BY KEY (AQE
    // broadcasts while it fits), one per-doc rollup; the mean divides two
    // longs under 2^53 — exact-rounded, same floor both engines.
    "q_text_ngram_lm" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => length(t) > 0).as("tk"))
      val toks = docs.select(col("doc_id"), explode(col("tk")).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      val w = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .withColumn("w_fx",
          floor(-log(col("cnt").cast(DoubleType) /
            sum("cnt").over(all).cast(DoubleType)) * 1e9).cast(LongType))
        .select("token", "w_fx")
      tf.join(w, Seq("token"))
        .groupBy("doc_id")
        .agg(sum("tf").cast(LongType).as("n_tok"),
          sum(col("tf") * col("w_fx")).cast(LongType).as("xent_fx"))
        .withColumn("mean_fx",
          floor(col("xent_fx").cast(DoubleType) / col("n_tok")).cast(LongType))
        .orderBy("doc_id")
    }),

    // TF-IDF: the classic term-weighting pipeline — term frequencies per
    // doc, document frequencies, idf = ln((N+1)/(df+1)) (smoothed; a term
    // present in every document weighs ~zero),
    // top-3 terms per source by summed tf·idf. Three hash aggregations +
    // one broadcast of the (tiny) corpus size; df join is by term (the
    // vocabulary — shuffle bounded by vocab size, not corpus size).
    // Scores accumulate in FIXED POINT (floor(tf·idf·1e9) summed as longs):
    // the double sum was order-dependent, and Java Math.log vs DuckDB ln was
    // probed BIT-IDENTICAL for every possible sf0.01 idf input
    // ((N+1)/(df+1), N=500, df=1..500 — exhaustive), so the gate-scale
    // oracle is exact. (At N=5000 the probe found 4 one-ulp diffs in 5000 —
    // a floor flip needs a product within an ulp of a 1e-9 grid line;
    // verified clean at sf0.1 too.)
    "q_text_tfidf" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val tokens = docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("term"))
      val tf = tokens.groupBy("doc_id", "source", "term")
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(dfreq, "term")
        .crossJoin(broadcast(n))
        .withColumn("idf", log((col("n_docs") + 1).cast(DoubleType) / (col("df") + 1)))
        .withColumn("tfidf", col("tf") * col("idf"))
      val bySource = scored.groupBy("source", "term")
        .agg(sum(floor(col("tfidf") * 1e9).cast(LongType)).as("score_fx"),
          max(col("df")).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("score_fx"), col("term"))
      bySource
        .withColumn("rank", row_number().over(w).cast(IntegerType))
        .filter(col("rank") <= 3)
        .select(col("source"), col("rank"), col("term"),
          (col("score_fx").cast(DoubleType) / 1e9).as("score"), col("df"))
        .orderBy("source", "rank")
    }),

    // BM25 ranking — the lexical retrieval scorer a RAG / decontamination
    // pipeline runs against its corpus (k1 = 1.2, b = 0.75, idf =
    // ln(1 + (N − df + 0.5)/(df + 0.5)) — the Robertson/Sparck-Jones form).
    // Shape at scale: tokens explode map-only; per-doc length and
    // per-(doc, query-term) tf are two hash aggregations — the tf side
    // filters to the QUERY terms before aggregating, so its shuffle
    // carries only matching postings; df and the corpus stats broadcast
    // (bounded by |query| and 1 row); the doc-keyed tf⋈dl join shuffles on
    // doc_id once. Per-term partial scores land in FIXED POINT
    // (floor(x·1e9) longs) so the per-doc sum is order-independent and the
    // DuckDB oracle exact (same ln bit-parity argument as q_text_tfidf).
    "q_text_bm25" -> ((s, d) =>
      bm25PerDoc(s, d)
        .orderBy(desc("score_fx"), col("doc_id")).limit(10)
        .select(col("doc_id"), col("n_terms"),
          (col("score_fx").cast(DoubleType) / 1e9).as("score"))),

    // Unicode NFC normalization — the canonical-composition ingest pass
    // (custom codegen expression graft.functions.NfcNormalize; DuckDB's
    // nfc_normalize is the oracle twin). Each doc gets a decomposed-form
    // marker appended so the normalization is observable: the combining
    // sequences compose and the codepoint count drops. Pure per-row
    // projection, no shuffle.
    "q_text_normalize" -> ((s, d) => {
      val raw = concat(col("text").substr(1, 32), lit(" " + DecomposedMarker))
      Tables(s, d, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast(LongType).as("len_raw"),
          expr("nfc_normalize(raw)").as("text_nfc"))
        .withColumn("len_nfc", length(col("text_nfc")).cast(LongType))
        .select("doc_id", "len_raw", "len_nfc", "text_nfc")
        .orderBy("doc_id")
    }),

    // PII redaction — the scrub pass a training corpus runs before release:
    // synthesize deterministic PII (email, URL, SSN, phone, IPv4) from
    // doc_id, then redact with the portable pattern chain. Per-row regex
    // projection, no shuffle; the full redacted string is hash-compared,
    // so both engines must agree on every replacement boundary.
    "q_text_pii_redact" -> ((s, d) => {
      val id = col("doc_id").cast(StringType)
      val raw = concat(
        col("text").substr(1, 24),
        lit(" contact user"), id, lit("@example.com visit http://site"),
        pmod(col("doc_id"), lit(7)).cast(StringType), lit(".example/p?id="), id,
        lit(" ssn 123-45-"), lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"),
        lit(" call 555-"), lpad(pmod(col("doc_id"), lit(1000)).cast(StringType), 3, "0"),
        lit("-"), lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"),
        lit(" from 10."), pmod(col("doc_id"), lit(256)).cast(StringType), lit(".0.42"))
      val redacted = PiiPatterns.foldLeft(raw) { case (c, (pat, tag)) =>
        regexp_replace(c, pat, tag)
      }
      Tables(s, d, "documents")
        .select(col("doc_id"), redacted.as("redacted"))
        .withColumn("n_tags",
          (length(col("redacted")) - length(expr("replace(redacted, '<', '')")))
            .cast(LongType))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination — the pre-training hygiene pass that drops
    // training documents overlapping an evaluation/benchmark set (the
    // standard 3-token-shingle overlap test). Eval set = a deterministic
    // corpus slice (doc_id % 97 == 0) standing in for the benchmark suite;
    // real eval sets are tiny relative to the corpus, so its distinct gram
    // hashes are BROADCAST and the corpus side never shuffles: the explode →
    // broadcast-hash-join is map-side, and the per-doc hit count aggregates
    // only MATCHED gram rows (bounded by actual contamination, not corpus
    // size). Output is the removal report: every training doc sharing ≥1
    // gram, with its overlap fraction and the ≥10% contamination flag.
    "q_text_decontaminate" -> ((s, d) => {
      val grams = array_distinct(
        graft.functions.ShingleHashes.shingles(split(col("text"), " "), 3))
      val docs = Tables(s, d, "documents").select(col("doc_id"), grams.as("g"))
      val evalGrams = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(explode(col("g")).as("gh")).distinct()
      val train = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .select(col("doc_id"), size(col("g")).cast(LongType).as("n_grams"),
          explode(col("g")).as("gh"))
      train.join(broadcast(evalGrams), "gh")
        .groupBy("doc_id")
        .agg(max(col("n_grams")).as("n_grams"), count(lit(1)).as("n_hits"))
        .withColumn("overlap_frac", col("n_hits").cast(DoubleType) / col("n_grams"))
        .withColumn("contaminated", col("n_hits") * 10 >= col("n_grams"))
        .select("doc_id", "n_grams", "n_hits", "overlap_frac", "contaminated")
        .orderBy("doc_id")
    }),

    // Gopher-style repetition filter — duplicate-token and duplicate-bigram
    // fractions per document, the standard removes-boilerplate quality
    // gate. Pure per-row projection over higher-order functions (no
    // explode, no shuffle); the token array and the bigram array are each
    // PROJECTED to an attribute before the metrics reference them (the
    // q_text_bigrams lesson: inlining `split` into per-element lambdas
    // re-evaluates it per element — O(tokens²) per doc).
    "q_text_repetition" -> ((s, d) => {
      val len1 = greatest(size(col("tk")) - 1, lit(0))
      val bigrams = zip_with(
        slice(col("tk"), lit(1), len1),
        slice(col("tk"), lit(2), len1),
        (x, y) => concat_ws(" ", x, y))
      val nTok = size(col("tk")).cast(LongType)
      val dupTokFrac =
        lit(1.0) - size(array_distinct(col("tk"))).cast(DoubleType) / nTok
      val nBi = size(col("bg")).cast(LongType)
      val dupBiFrac = when(nBi >= 1,
        lit(1.0) - size(array_distinct(col("bg"))).cast(DoubleType) / nBi)
        .otherwise(lit(0.0))
      Tables(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), col("tk"), bigrams.as("bg"))
        .select(col("doc_id"),
          nTok.as("n_tokens"),
          dupTokFrac.as("dup_token_frac"),
          dupBiFrac.as("dup_bigram_frac"),
          (dupTokFrac > 0.6 || dupBiFrac > 0.1).as("repetitive"))
        .orderBy("doc_id")
    }),

    // CONTAINMENT DEDUP over winnowing fingerprints (the quote/snippet
    // shape MinHash misses: a short document pasted INSIDE a long one has
    // low Jaccard but high containment |F(A)∩F(B)| / min(|F(A)|,|F(B)|)).
    // Scale shape — NOTHING is all-pairs: fingerprint sets are per-row
    // (the q_text_fingerprint winnowing), candidates come from a POSTING
    // equi-join on the fingerprint value with hot fingerprints dropped
    // first (df > 20 — corpus-common fragments carry no identity signal
    // and would explode the join quadratically; the cap is the standard
    // posting-list bound), and the output is a bounded top-25 heap.
    "q_dedup_containment" -> ((s, d) => {
      // one generated loop per stage (the HOF formulation paid an
      // interpreted lambda frame per character and a slice allocation per
      // window — ~95% of this query's time at sf0.1; see CharGramHashes)
      val kh = graft.functions.CharGrams.charGramHashes(col("text"), KGram)
      val wins = graft.functions.CharGrams.windowMins(col("kh"), WinnowWindow)
      val fps = Tables(s, d, "documents")
        .select(col("doc_id"), kh.as("kh"))
        .select(col("doc_id"), array_distinct(wins).as("fps"))
        .localCheckpoint(true) // fingerprints feed postings AND both size joins
      val nf = fps.select(col("doc_id"), size(col("fps")).cast(LongType).as("n"))
      val post = fps.filter(size(col("fps")) >= 5)
        .select(col("doc_id"), explode(col("fps")).as("fp"))
      val rare = post.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 20).select("fp")
      val bounded = post.join(rare, "fp")
      bounded.as("a").join(bounded.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .join(nf.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n", "n_a"), "doc_a")
        .join(nf.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n", "n_b"), "doc_b")
        .withColumn("containment",
          col("shared").cast(DoubleType) / least(col("n_a"), col("n_b")))
        .select("doc_a", "doc_b", "shared", "n_a", "n_b", "containment")
        .orderBy(desc("containment"), col("doc_a"), col("doc_b")).limit(25)
    }),

    // CORPUS-BOILERPLATE detection (the C4/Dolma pipeline step this
    // engine's other text filters don't cover): documents dominated by
    // corpus-COMMON word trigrams — navigation chrome, license headers,
    // templated footers — rank by the fraction of their trigram
    // occurrences that fall in the corpus's top-30 most frequent
    // trigrams. Scale shape: trigrams materialize PER ROW (zip_with over
    // two slices — no self-join), the frequency table shuffles bounded by
    // the distinct-trigram vocabulary, the top-30 is a bounded
    // TakeOrdered collapsed to ONE broadcast array row, and the scoring
    // pass is per-row membership arithmetic against that broadcast —
    // the corpus text never shuffles. Top-50 output is a bounded heap.
    "q_text_boilerplate" -> ((s, d) => {
      val len2 = greatest(size(col("tk")) - 2, lit(0))
      val trigrams = zip_with(
        zip_with(slice(col("tk"), lit(1), len2), slice(col("tk"), lit(2), len2),
          (x, y) => concat_ws(" ", x, y)),
        slice(col("tk"), lit(3), len2),
        (xy, z) => concat_ws(" ", xy, z))
      // the trigram arrays are consumed TWICE (the common-30 aggregate
      // and the per-doc fraction) and their derivation is the query's
      // whole cost (nested zip_with string concats per token) —
      // materialize once (r14; the c2c multi-consumer rule)
      val tris = Tables(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), trigrams.as("tg"))
        .localCheckpoint()
      val common = tris.select(explode(col("tg")).as("tri"))
        .groupBy("tri").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tri")).limit(30)
        .agg(collect_list(col("tri")).as("commons"))
      tris.crossJoin(broadcast(common))
        .select(col("doc_id"),
          size(col("tg")).cast(LongType).as("n_tri"),
          size(filter(col("tg"),
            t => array_contains(col("commons"), t))).cast(LongType).as("n_common"))
        .filter(col("n_tri") > 0)
        .withColumn("boiler_frac",
          col("n_common").cast(DoubleType) / col("n_tri"))
        .orderBy(desc("boiler_frac"), col("doc_id")).limit(50)
    }),

    // Winnowing fingerprints (MOSS-style): rolling polynomial hash over
    // 8-char k-grams, minimum per 4-hash window, distinct minima = the
    // document fingerprint set. Per-row, no shuffle; portable hash → oracle.
    "q_text_fingerprint" -> ((s, d) => {
      // One generated loop per stage (the HOF formulation paid an
      // interpreted lambda frame per character — see CharGramHashes);
      // docs shorter than one k-gram (or one winnow window) yield empty
      // arrays from the expressions themselves, matching DuckDB's empty
      // range() comprehension.
      val kh = graft.functions.CharGrams.charGramHashes(col("text"), KGram)
      val wins = graft.functions.CharGrams.windowMins(col("kh"), WinnowWindow)
      Tables(s, d, "documents")
        .select(col("doc_id"), kh.as("kh"))
        .select(col("doc_id"), array_distinct(wins).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast(LongType).as("n_fp"),
          array_min(col("fps")).as("fp_min"),
          array_max(col("fps")).as("fp_max"))
        .orderBy("doc_id")
    })
  )

  /** DuckDB twin of the Spark-side redaction fold (RE2 'g' flag = Java
    * replace-all), applied in the same pattern order. */
  private def sqlRedactChain(inner: String): String =
    PiiPatterns.foldLeft(inner) { case (acc, (pat, tag)) =>
      s"regexp_replace($acc, '$pat', '$tag', 'g')"
    }

  def oracles: Map[String, String] = Map(
    "q_text_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |gr AS (SELECT doc_id,
         |  list_distinct([${sqlPolyChar("s")}
         |    for s in [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]]) AS g
         |  FROM toks),
         |ev AS (SELECT DISTINCT unnest(g) AS gh FROM gr WHERE doc_id % 97 = 0),
         |tr AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams, unnest(g) AS gh
         |       FROM gr WHERE doc_id % 97 <> 0)
         |SELECT tr.doc_id,
         |  max(tr.n_grams) AS n_grams,
         |  count(*) AS n_hits,
         |  CAST(count(*) AS DOUBLE) / max(tr.n_grams) AS overlap_frac,
         |  count(*) * 10 >= max(tr.n_grams) AS contaminated
         |FROM tr JOIN ev USING (gh)
         |GROUP BY tr.doc_id
         |ORDER BY tr.doc_id""".stripMargin,
    // The containment ranking, re-derived from scratch with the same
    // winnowing, posting cap, and pair arithmetic.
    "q_dedup_containment" ->
      s"""WITH kg AS (
         |  SELECT doc_id,
         |    [${graft.llm.PortableHash.sqlPolyChar(s"substr(text, i, $KGram)")} for i in range(1, length(text) - ${KGram - 2})] AS kh
         |  FROM documents),
         |fp AS (
         |  SELECT doc_id,
         |    list_distinct([list_min(kh[i:i+${WinnowWindow - 1}]) for i in range(1, len(kh) - ${WinnowWindow - 2})]) AS fps
         |  FROM kg),
         |post AS (SELECT doc_id, unnest(fps) AS fp FROM fp WHERE len(fps) >= 5),
         |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM post GROUP BY fp) WHERE df <= 20),
         |b AS (SELECT * FROM post WHERE fp IN (SELECT fp FROM rare)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, count(*) AS shared
         |  FROM b a JOIN b b2 ON a.fp = b2.fp AND a.doc_id < b2.doc_id
         |  GROUP BY 1, 2),
         |nf AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n FROM fp)
         |SELECT doc_a, doc_b, shared, na.n AS n_a, nb.n AS n_b,
         |  CAST(shared AS DOUBLE) / least(na.n, nb.n) AS containment
         |FROM pairs JOIN nf na ON doc_a = na.doc_id
         |           JOIN nf nb ON doc_b = nb.doc_id
         |ORDER BY containment DESC, doc_a, doc_b LIMIT 25""".stripMargin,
    // The boilerplate ranking, re-derived from scratch: same top-30
    // common-trigram set (count desc, trigram tie-break), same per-doc
    // occurrence fractions.
    "q_text_boilerplate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tri AS (SELECT doc_id,
        |  [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |     for i in range(1, greatest(len(t) - 2, 0) + 1)] AS tg FROM toks),
        |e AS (SELECT doc_id, unnest(tg) AS tri FROM tri),
        |c AS (SELECT tri FROM (
        |  SELECT tri, count(*) AS n FROM e GROUP BY tri
        |  ORDER BY n DESC, tri LIMIT 30)),
        |st AS (SELECT doc_id, count(*) AS n_tri,
        |  count(CASE WHEN tri IN (SELECT tri FROM c) THEN 1 END) AS n_common
        |  FROM e GROUP BY doc_id)
        |SELECT doc_id, n_tri, n_common,
        |  CAST(n_common AS DOUBLE) / n_tri AS boiler_frac
        |FROM st ORDER BY boiler_frac DESC, doc_id LIMIT 50""".stripMargin,
    "q_text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bi AS (SELECT doc_id, t,
        |  [t[i] || ' ' || t[i+1] for i in range(1, len(t))] AS bg FROM toks),
        |m AS (SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS dup_token_frac,
        |  CASE WHEN len(bg) >= 1
        |       THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
        |       ELSE 0.0 END AS dup_bigram_frac
        |  FROM bi)
        |SELECT doc_id, n_tokens, dup_token_frac, dup_bigram_frac,
        |  (dup_token_frac > 0.6 OR dup_bigram_frac > 0.1) AS repetitive
        |FROM m
        |ORDER BY doc_id""".stripMargin,
    "q_text_normalize" ->
      s"""SELECT doc_id,
         |  CAST(length(raw) AS BIGINT) AS len_raw,
         |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
         |  nfc_normalize(raw) AS text_nfc
         |FROM (SELECT doc_id, substring(text, 1, 32) || ' $DecomposedMarker' AS raw
         |      FROM documents) t
         |ORDER BY doc_id""".stripMargin,
    "q_text_pii_redact" ->
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    substring(text, 1, 24)
         |    || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com visit http://site' || CAST(doc_id % 7 AS VARCHAR)
         |    || '.example/p?id=' || CAST(doc_id AS VARCHAR)
         |    || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.42' AS raw
         |  FROM documents)
         |SELECT doc_id, red AS redacted,
         |  CAST(length(red) - length(replace(red, '<', '')) AS BIGINT) AS n_tags
         |FROM (SELECT doc_id, ${sqlRedactChain("raw")} AS red FROM raw) t
         |ORDER BY doc_id""".stripMargin,
    "q_text_vocab" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (
        |  SELECT token, COUNT(*) AS n FROM t WHERE len(token) > 0 GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER) AS token_id,
        |       token, n
        |FROM c ORDER BY token_id""".stripMargin,
    "q_text_bigrams" ->
      """WITH l AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |b AS (
        |  SELECT unnest([tk[bg_i] || ' ' || tk[bg_i + 1]
        |                 for bg_i in range(1, len(tk))]) AS bigram
        |  FROM l)
        |SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 100""".stripMargin,
    "q_text_lm_coverage" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(tk) AS token FROM t),
         |bi AS (
         |  SELECT doc_id, unnest([tk[lm_i] || ' ' || tk[lm_i + 1]
         |                         for lm_i in range(1, len(tk))]) AS bigram
         |  FROM t),
         |vocab AS (SELECT token FROM (
         |    SELECT token, COUNT(*) AS n FROM tok GROUP BY token) WHERE n >= $VocabMinFreq),
         |kb AS (SELECT bigram FROM (
         |    SELECT bigram, COUNT(*) AS n FROM bi GROUP BY bigram) WHERE n >= $BigramMinFreq),
         |oov AS (
         |  SELECT doc_id, COUNT(*) AS n_oov FROM tok
         |  WHERE token NOT IN (SELECT token FROM vocab) GROUP BY doc_id),
         |cov AS (
         |  SELECT doc_id, COUNT(*) AS n_cov FROM bi
         |  WHERE bigram IN (SELECT bigram FROM kb) GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
         |  COALESCE(o.n_oov, 0) AS n_oov,
         |  CAST(greatest(len(tk) - 1, 0) AS BIGINT) AS n_bigrams,
         |  COALESCE(c.n_cov, 0) AS n_cov,
         |  CASE WHEN len(tk) > 1
         |    THEN CAST(floor(CAST(COALESCE(c.n_cov, 0) AS DOUBLE) * 1000000.0
         |                    / (len(tk) - 1)) AS BIGINT)
         |    ELSE 0 END AS cov_fp
         |FROM t LEFT JOIN oov o USING (doc_id) LEFT JOIN cov c USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,
    "q_text_ngram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |                                    x -> length(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token),
        |uni AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
        |tot AS (SELECT COUNT(*) AS n FROM t),
        |w AS (SELECT token,
        |        CAST(floor(-ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
        |                   * 1000000000) AS BIGINT) AS w_fx
        |      FROM uni, tot),
        |per_doc AS (
        |  SELECT tf.doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
        |         CAST(SUM(tf * w_fx) AS BIGINT) AS xent_fx
        |  FROM tf JOIN w ON tf.token = w.token GROUP BY tf.doc_id)
        |SELECT doc_id, n_tok, xent_fx,
        |       CAST(floor(CAST(xent_fx AS DOUBLE) / n_tok) AS BIGINT) AS mean_fx
        |FROM per_doc ORDER BY doc_id""".stripMargin,
    "q_text_bm25" ->
      s"""SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
         |FROM ($sqlBm25PerDoc) per_doc
         |ORDER BY score_fx DESC, doc_id LIMIT 10""".stripMargin,
    "q_text_tfidf" ->
      """WITH tokens AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, source, term, COUNT(*) AS tf FROM tokens GROUP BY doc_id, source, term),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.source, tf.term, dfreq.df,
        |    tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfreq.df + 1)) AS tfidf
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term, n),
        |by_source AS (
        |  SELECT source, term,
        |    CAST(SUM(CAST(floor(tfidf * 1000000000) AS BIGINT)) AS BIGINT) AS score_fx,
        |    MAX(df) AS df
        |  FROM scored GROUP BY source, term),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY score_fx DESC, term) AS INTEGER) AS rank
        |  FROM by_source)
        |SELECT source, rank, term, CAST(score_fx AS DOUBLE) / 1000000000 AS score, df
        |FROM ranked WHERE rank <= 3 ORDER BY source, rank""".stripMargin,
    "q_text_analysis" ->
      s"""SELECT source,
         |  COUNT(DISTINCT doc_id) AS n_docs,
         |  COUNT(*) AS n_tokens,
         |  COUNT(DISTINCT token) AS n_uniq_tokens,
         |  (CAST(SUM(CAST(CAST(length(token) AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE)
         |     / COUNT(CAST(length(token) AS DOUBLE))) AS avg_token_len
         |FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token FROM documents) u
         |GROUP BY source ORDER BY source""".stripMargin,
    // Per-doc keyword replay: same tokenizer, same smoothed idf, same
    // within-doc ranking.
    "q_text_keywords" ->
      """WITH tk AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents) WHERE t <> ''),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf
        |          GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(floor(tf * 1000000000.0
        |      * ln((n_docs + 1.0) / (df + 1))) AS BIGINT) AS score_fx
        |  FROM tf JOIN dfreq USING (term), n
        |  WHERE tf.doc_id < 40)
        |SELECT doc_id, rk, term,
        |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
        |FROM (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score_fx DESC, term)
        |        AS INTEGER) AS rk
        |      FROM sc)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // The full NB pipeline — training counts, smoothed fixed-point
    // log-likelihoods, priors, per-doc sums and the argmax — recomputed
    // from raw parquet.
    "q_text_classify_nb" ->
      s"""WITH $sqlNbCtes
         |SELECT doc_id, actual, pred, (actual = pred) AS is_correct
         |FROM nbp ORDER BY doc_id""".stripMargin,
    "q_text_langid" -> {
      val langs = LangMarkers.map(_._1)
      val scoreCols = LangMarkers.map { case (l, ms) => s"${sqlHits(ms)} AS s_$l" }.mkString(",\n|  ")
      // same argmax fold: lang l wins iff score strictly beats every
      // lexicographically-smaller language and ties-or-beats larger ones.
      val pred = langs.sorted.foldRight("'und'") { case (l, acc) =>
        val cond = langs.filter(_ != l)
          .map(o => s"s_$l >= s_$o + ${if (o < l) 1 else 0}")
          .mkString(" AND ")
        s"CASE WHEN $cond THEN '$l' ELSE $acc END"
      }
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |  $scoreCols
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents) b)
         |SELECT doc_id, lang, $pred AS pred_lang, (lang = ($pred)) AS is_correct
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "q_text_quality" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len, string_split(text, ' ') AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(t, x -> list_contains(['the','a','of'], x))) AS BIGINT) AS stop_hits,
        |    CAST(len(list_filter(t, x -> length(x) >= 5)) AS BIGINT) AS long_toks
        |  FROM base)
        |SELECT doc_id, n_tokens,
        |  CAST(len - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
        |  CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
        |  CAST(long_toks AS DOUBLE) / n_tokens AS long_ratio,
        |  (CAST(stop_hits AS DOUBLE) / n_tokens) * 0.3 +
        |    (CAST(long_toks AS DOUBLE) / n_tokens) * 0.5 +
        |    (CASE WHEN len >= 200 THEN 0.2 ELSE 0.0 END) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_text_quality_stratified" ->
      """WITH base AS (
        |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len,
        |    string_split(text, ' ') AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, len,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(t, x -> list_contains(['the','a','of'], x))) AS BIGINT) AS stop_hits,
        |    CAST(len(list_filter(t, x -> length(x) >= 5)) AS BIGINT) AS long_toks
        |  FROM base),
        |scored AS (
        |  SELECT doc_id, source,
        |    (CAST(stop_hits AS DOUBLE) / n_tokens) * 0.3 +
        |      (CAST(long_toks AS DOUBLE) / n_tokens) * 0.5 +
        |      (CASE WHEN len >= 200 THEN 0.2 ELSE 0.0 END) AS quality
        |  FROM m),
        |r AS (
        |  SELECT doc_id, source, quality,
        |    percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id) AS pr
        |  FROM scored)
        |SELECT doc_id, source, quality FROM r WHERE pr >= 0.5
        |ORDER BY doc_id""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      s"""WITH kg AS (
         |  SELECT doc_id,
         |    [${sqlPolyChar(s"substr(text, i, $KGram)")} for i in range(1, length(text) - ${KGram - 2})] AS kh
         |  FROM documents),
         |fp AS (
         |  SELECT doc_id,
         |    list_distinct([list_min(kh[i:i+${WinnowWindow - 1}]) for i in range(1, len(kh) - ${WinnowWindow - 2})]) AS fps
         |  FROM kg)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
         |       list_min(fps) AS fp_min, list_max(fps) AS fp_max
         |FROM fp ORDER BY doc_id""".stripMargin
  )
}
