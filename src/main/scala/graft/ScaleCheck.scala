package graft

import org.apache.spark.sql.functions._

/** Empirical scale audit (r16): times a fixed panel of the engine's most
  * expensive operators — raw-table dedup/clustering/text/similarity
  * dataflows, the core joins/aggs, and the two index BUILDS — on
  * SPARK_GRAFT_SF_DIR, printing one `[scalecheck]` line per operator
  * (min of two timed runs after a warm run) and a final JSON line. Run
  * it at sf0.1 and at the ScaleGen sf1 to get the sf→10×sf ratio per
  * operator; SCALECHECK.md commits the verdict. Index builds stage a
  * fresh manifest table from the sfDir's documents/embeddings (multi-
  * commit layout) and time CREATE TEXT/VECTOR INDEX end-to-end. */
object ScaleCheck {
  private val Panel: Seq[String] = Seq(
    // raw-table LLM-curation dataflows (the scale-critical tier)
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_ngram", "q_dedup_simhash",
    "q_dedup_embedding", "q_dedup_semantic", "q_dedup_clusters",
    "q_dedup_incremental", "q_embed_kmeans", "q_knn_graph_xlist",
    "q_similarity_topk", "q_text_tfidf", "q_text_bm25",
    "q_text_decontaminate", "q_corpus_pipeline",
    // core relational ops
    "q_groupby_avg", "q_join_shuffle", "q_star_revenue",
    "q_window_avg_day", "q_sessionize",
    // index-SERVE paths over staged managed tables (staging + builds
    // amortize in the warm run; the timed runs are the serves)
    "q_vector_search", "q_vector_search_pq", "q_vector_knn_join",
    "q_text_search_indexed", "q_text_bm25_indexed",
    "q_dedup_minhash_indexed_incremental", "q_dedup_semantic_indexed",
    "q_text_phrase_search")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Sessions.local(cpus, appName = "graft-scalecheck")
    Sessions.quietBoundedGlobalWindowWarnings()
    val only: Option[Set[String]] =
      args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    Panel.filter(n => only.forall(_.contains(n))).foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, sfDir).count() // warm
      val t = math.min(time(fn(spark, sfDir).count()),
        time(fn(spark, sfDir).count()))
      results(n) = t
      println(f"[scalecheck] $n $t%.3f")
    }

    // index builds + refreshes: end-to-end CREATE over a fresh multi-
    // commit staging of the sfDir's corpus (staging cost excluded), then
    // REFRESH after a FIXED-size 500-row append (two append+refresh
    // cycles, min — a second refresh of the same state is a no-op so the
    // usual warm-run protocol can't apply). The global refresh measures
    // O(delta scan) + O(sidecar rewrite ∝ corpus); the BY PARTITION
    // twins bound the retrain to the one churned slice.
    def want(n: String) = only.forall(_.contains(n))
    def record(n: String, t: Double): Unit = {
      results(n) = t; println(f"[scalecheck] $n $t%.3f")
    }
    val wantsBuilds = Seq("build_text_index", "build_vector_index",
      "refresh_text_index", "refresh_vector_index",
      "build_text_index_partitioned", "refresh_text_index_partitioned",
      "build_vector_index_partitioned", "refresh_vector_index_partitioned")
      .exists(want)
    if (wantsBuilds) {
      val cat = "graftscale"
      graft.sources.Fixtures.catalog(spark, cat)
      val docs = Tables(spark, sfDir, "documents")
        .select("doc_id", "source", "text")
      val emb = Tables(spark, sfDir, "embeddings")
        .select("vec_id", "label", "embedding")
      def sources = docs.select("source").distinct().orderBy("source")
        .collect().map(_.getString(0))
      def labels = emb.select("label").distinct().orderBy("label")
        .collect().map(_.getInt(0))
      // fixed-size deltas (same absolute rows at every scale, ids offset
      // clear of the corpus) so the refresh ratio isolates the
      // corpus-size-dependent component
      def docDelta(cycle: Int, src: String) = docs
        .orderBy("doc_id").limit(500)
        .select((col("doc_id") + lit(1000000000L * cycle)).as("doc_id"),
          lit(src).as("source"), col("text"))
      def vecDelta(cycle: Int, lbl: Int) = emb
        .orderBy("vec_id").limit(500)
        .select((col("vec_id") + lit(1000000000L * cycle)).as("vec_id"),
          lit(lbl).as("label"), col("embedding"))
      def refreshMin(name: String, tbl: String, kind: String,
          colN: String, append: Int => Unit): Unit = {
        val ts = (1 to 2).map { cy =>
          append(cy)
          time(spark.sql(
            s"REFRESH $kind INDEX ON $tbl ($colN)").collect())
        }
        record(name, ts.min)
      }
      if (want("build_text_index") || want("refresh_text_index")) {
        spark.sql(s"CREATE TABLE $cat.q.docs " +
          "(doc_id BIGINT, source STRING, text STRING)")
        sources.foreach { src =>
          docs.filter(docs("source") === src).coalesce(1)
            .writeTo(s"$cat.q.docs").append()
        }
        val t = time(
          spark.sql(s"CREATE TEXT INDEX ON $cat.q.docs (text)").collect())
        if (want("build_text_index")) record("build_text_index", t)
        if (want("refresh_text_index"))
          refreshMin("refresh_text_index", s"$cat.q.docs", "TEXT", "text",
            cy => docDelta(cy, "delta").coalesce(1)
              .writeTo(s"$cat.q.docs").append())
      }
      if (want("build_vector_index") || want("refresh_vector_index")) {
        spark.sql(s"CREATE TABLE $cat.q.emb " +
          "(vec_id BIGINT, label INT, embedding ARRAY<FLOAT>)")
        labels.foreach { l =>
          emb.filter(emb("label") === l).coalesce(1)
            .writeTo(s"$cat.q.emb").append()
        }
        val t = time(spark.sql(s"CREATE VECTOR INDEX ON $cat.q.emb " +
          "(embedding) ANCHORS (vec_id)").collect())
        if (want("build_vector_index")) record("build_vector_index", t)
        if (want("refresh_vector_index"))
          refreshMin("refresh_vector_index", s"$cat.q.emb", "VECTOR",
            "embedding", cy => vecDelta(cy, 999).coalesce(1)
              .writeTo(s"$cat.q.emb").append())
      }
      if (want("build_text_index_partitioned") ||
          want("refresh_text_index_partitioned")) {
        spark.sql(s"CREATE TABLE $cat.q.docsp " +
          "(doc_id BIGINT, source STRING, text STRING) " +
          "PARTITIONED BY (source)")
        val srcs = sources
        srcs.foreach { src =>
          docs.filter(docs("source") === src).coalesce(1)
            .writeTo(s"$cat.q.docsp").append()
        }
        val t = time(spark.sql(
          s"CREATE TEXT INDEX ON $cat.q.docsp (text) BY PARTITION").collect())
        if (want("build_text_index_partitioned"))
          record("build_text_index_partitioned", t)
        if (want("refresh_text_index_partitioned"))
          refreshMin("refresh_text_index_partitioned", s"$cat.q.docsp",
            "TEXT", "text", cy => docDelta(cy, srcs.head).coalesce(1)
              .writeTo(s"$cat.q.docsp").append())
      }
      if (want("build_vector_index_partitioned") ||
          want("refresh_vector_index_partitioned")) {
        spark.sql(s"CREATE TABLE $cat.q.embp " +
          "(vec_id BIGINT, label INT, embedding ARRAY<FLOAT>) " +
          "PARTITIONED BY (label)")
        val lbls = labels
        lbls.foreach { l =>
          emb.filter(emb("label") === l).coalesce(1)
            .writeTo(s"$cat.q.embp").append()
        }
        val t = time(spark.sql(s"CREATE VECTOR INDEX ON $cat.q.embp " +
          "(embedding) ANCHORS (vec_id) BY PARTITION").collect())
        if (want("build_vector_index_partitioned"))
          record("build_vector_index_partitioned", t)
        if (want("refresh_vector_index_partitioned"))
          refreshMin("refresh_vector_index_partitioned", s"$cat.q.embp",
            "VECTOR", "embedding",
            cy => vecDelta(cy, lbls.head).coalesce(1)
              .writeTo(s"$cat.q.embp").append())
      }
    }
    val qs = results
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"scalecheck","sf_dir":"$sfDir","cpus":"$cpus",""" +
      s""""queries":$qs}""")
    spark.stop()
  }
}
