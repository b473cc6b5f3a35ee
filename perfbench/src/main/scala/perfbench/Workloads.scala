package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.etl.{AnalyticsMain, Etl, ReferenceSchemas}

/** The declared_queries panel: one declared query per covered module, as a
  * fixed list (not seeded) so that every run times the same queries; the seed
  * varies the data, its file layout and the order of each round. The panel
  * is sized so one round takes a few seconds on 4 cores and a run holds
  * several rounds after its warm pass. */
object Panels {
  private def pick(m: graft.queries.QueryModule, layer: String, name: String) =
    (name, layer, m.queries(name))

  def declaredQueries: Seq[(String, String, QueryOp.Fn)] = Seq(
    pick(graft.queries.Core, "queries.Core", "q_groupby_avg"),
    pick(graft.queries.Joins, "queries.Joins", "q_join_shuffle"),
    pick(graft.queries.Aggs, "queries.Aggs", "q_agg_multi"),
    pick(graft.stream.Windows, "stream.Windows", "q_stream_tumbling"),
    pick(graft.llm.Dedup, "llm.Dedup", "q_dedup_minhash"),
    pick(graft.llm.Text, "llm.Text", "q_text_vocab"),
    pick(graft.llm.Similarity, "llm.Similarity", "q_similarity_ivf"),
    pick(graft.llm.Corpus, "llm.Corpus", "q_chunk_overlap"),
    pick(graft.llm.Sampling, "llm.Sampling", "q_sample_hash"))
}

/** declared_queries: the declared-query panel in seeded,
  * shuffled rounds. Warm results of queries with oracle SQL are dumped as
  * parquet for run.py's DuckDB check. */
final class QueryPanel(spark: SparkSession, dir: String, work: File,
    panel: Seq[(String, String, QueryOp.Fn)]) extends Workload {
  private val ops = panel.map { case (n, l, fn) => QueryOp(n, l, fn, dir) }
  private val oracles = graft.SparkEntry.oracleSql.filter(kv => panel.exists(_._1 == kv._1))
  private val dumps = new File(work, "dumps")
  private var filesRead, filesTotal, joinRows, resultRows = 0L

  def warmup(): Seq[Op] = ops
  def round(rng: Random): Seq[Op] = rng.shuffle(ops)

  override def dump(op: Op, ctx: Ctx): Unit =
    if (oracles.contains(op.name)) ctx.result.foreach { case (schema, rows) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(dumps, op.name).getPath)
    }

  override def observe(op: Op, ctx: Ctx): Unit = ctx.executed.foreach { df =>
    Workload.nodes(df.queryExecution.executedPlan).foreach {
      case s: FileSourceScanExec =>
        filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        filesTotal += s.relation.location.inputFiles.length
      case j: BaseJoinExec =>
        if (op.layer.startsWith("llm.")) joinRows += j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ => ()
    }
    if (op.layer.startsWith("llm.")) resultRows += ctx.result.map(_._2.length.toLong).getOrElse(0L)
  }

  def layerMetrics(traced: Seq[OpRec], t: Tracer): Map[String, Double] = {
    val byLayer = traced.groupBy(_.layer).map { case (l, rs) => l -> Workload.median(rs.map(r => r.end - r.start)) }
    byLayer.map { case (l, ms) => s"$l.op_p50_ms" -> ms } ++ Map(
      "scan.files_read_ratio" -> (if (filesTotal == 0) 0.0 else filesRead.toDouble / filesTotal),
      "llm.join_rows_per_result_row" -> (if (resultRows == 0) 0.0 else joinRows.toDouble / resultRows)) ++
      Microbench.run(spark, dir)
  }

  override def facts: Map[String, Any] = Map("oracles" -> oracles, "dump_dir" -> dumps.getPath)
}

/** Rows per second of the engine's custom Catalyst expressions over the
  * generated documents and embeddings (replicated to a few thousand rows),
  * each evaluated into Spark's no-op sink. */
object Microbench {
  def run(spark: SparkSession, dir: String): Map[String, Double] = {
    val reps = spark.range(8).toDF("rep")
    val docs = graft.Tables(spark, dir, "documents").select(split(col("text"), " ").as("tokens"))
      .crossJoin(reps).cache()
    val cells = graft.Tables(spark, dir, "embeddings").orderBy("vec_id").limit(16)
      .agg(collect_list(struct(col("embedding").as("c_emb"))).as("cells"))
    val embs = graft.Tables(spark, dir, "embeddings").select("embedding")
      .crossJoin(reps).crossJoin(cells).cache()
    val nDocs = docs.count(); val nEmb = embs.count()
    val codes = array((0 until 8).map(b => graft.functions.PqCodeFixed.code(
      col("embedding"), col("cells"), lit(b), 8)): _*)
    val cases: Seq[(String, DataFrame, Long, org.apache.spark.sql.Column)] = Seq(
      ("fixed_point_dot", embs, nEmb, expr("fixed_point_dot(embedding, embedding)")),
      ("shingle_poly_hashes", docs, nDocs, expr("shingle_poly_hashes(tokens, 3)")),
      ("minhash_signature", docs, nDocs, expr("minhash_signature(shingle_poly_hashes(tokens, 3), 64)")),
      ("simhash_pack", docs, nDocs, expr("simhash_pack(shingle_poly_hashes(tokens, 1))")),
      ("top_two_dot_fixed", embs, nEmb, graft.functions.TopTwoDotFixed.packed(col("embedding"), col("cells"))),
      ("pq_code_fixed", embs, nEmb, codes),
      ("pq_adc_fixed", embs, nEmb, graft.functions.PqAdcFixed.adc(col("embedding"), col("cells"), codes, 8)))
    val out = cases.map { case (name, df, n, c) =>
      val rate = Try {
        df.select(c.as("x")).write.format("noop").mode("overwrite").save() // warm
        val times = (0 until 3).map { _ =>
          val t0 = System.nanoTime()
          df.select(c.as("x")).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        n / Workload.median(times)
      }.getOrElse(0.0)
      s"functions.$name.rows_per_s" -> rate
    }.toMap
    docs.unpersist(); embs.unpersist()
    out
  }
}

/** trip_medallion: one op is a full `Etl.run` of the generated monthly files
  * into fresh directories, then the two reference analytics queries written
  * as CSV through `Etl.writeCsv`. Each pass is checked against the
  * generator's ground truth; run.py checks the last pass's CSVs against the
  * reference SQL in DuckDB. */
final class TripMedallion(spark: SparkSession, inputDir: String, work: File) extends Workload {
  private val src = s"$inputDir/trips"
  private val truth: JsonNode = new ObjectMapper().readTree(new File(s"$inputDir/trips_truth.json"))
  private val expectedRows: Map[String, Long] = truth.get("files").fields().asScala
    .map(e => e.getKey -> e.getValue.get("in_window").asLong).toMap
  private val sourceRows = truth.get("files").fields().asScala.map(_.getValue.get("rows").asLong).sum
  private def names(k: String) = truth.get(k).elements().asScala.map(_.asText).toSet
  private var pass = 0
  private var lastManifest: Option[Etl.Manifest] = None
  private var goldFilesRead = 0L

  private def passDir(n: Int) = new File(work, s"out/pass-$n")

  private val op = Op("etl_pass", "etl", ctx => {
    pass += 1
    val root = passDir(pass)
    val cfg = ReferenceSchemas.configFromEnv(Map(
      "SOURCE_DIR" -> src, "BRONZE_DIR" -> s"$root/bronze", "GOLD_DIR" -> s"$root/gold",
      "LOG_DIR" -> s"$root/logs", "START_DATE" -> truth.get("start").asText,
      "END_DATE" -> truth.get("end").asText,
      "TOLERANCE_HOURS" -> truth.get("tolerance_hours").asText))
    val m = ctx.phase("pipeline")(Etl.run(spark, cfg, "2024-01-01"))
    val q1 = ctx.phase("q1") {
      val df = AnalyticsMain.q1MonthlyAvg(spark, cfg.goldDir)
      Etl.writeCsv(df, s"$root/results/monthly_avg_total"); df
    }
    val q2 = ctx.phase("q2") {
      val df = AnalyticsMain.q2WindowAvgs(spark, cfg.goldDir)
      Etl.writeCsv(df, s"$root/results/window_avg_passengers"); df
    }
    goldFilesRead = q1.inputFiles.length.toLong + q2.inputFiles.length
    Outcome(m.processed.size, () => {
      val listed = Etl.listSourceFiles(src).map(_.getFileName.toString).toSet
      val pruned = listed -- m.processed -- m.failed.map(_._1)
      val problems = Seq(
        Option.when(m.processed.toSet != expectedRows.keySet)(s"processed ${m.processed.sorted}"),
        Option.when(m.failed.map(_._1).toSet != names("failed"))(s"failed ${m.failed.map(_._1)}"),
        Option.when(pruned != names("pruned"))(s"pruned $pruned"),
        Option.when(m.rowCounts != expectedRows)(s"bronze rows ${m.rowCounts}")).flatten
      lastManifest = Some(m)
      if (pass > 1) deleteTree(passDir(pass - 1))
      (Digest.strings(csvLines(new File(root, "results"))),
        Option.when(problems.nonEmpty)(problems.mkString("; ")))
    })
  })

  // the first passes in a fresh JVM run several times slower; two warm
  // passes bring the timed ones to a steady level
  def warmup(): Seq[Op] = Seq(op, op)
  def round(rng: Random): Seq[Op] = Seq(op)

  /** CSV cells normalized like [[Digest]]: doubles to 12 significant digits. */
  private def csvLines(dir: File): Array[String] =
    walk(dir).filter(_.getName.endsWith(".csv")).flatMap { f =>
      Files.readAllLines(f.toPath).asScala.map(_.split(",", -1).map { c =>
        if (c.contains('.')) Try("%.12g".format(c.toDouble)).getOrElse(c) else c
      }.mkString(",")).map(l => s"${f.getParentFile.getName}:$l")
    }

  private def walk(f: File): Array[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).flatMap(walk) else Array(f)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def bytes(f: File, p: File => Boolean = _ => true): Long =
    walk(f).filter(x => x.isFile && p(x)).map(_.length).sum

  def layerMetrics(traced: Seq[OpRec], t: Tracer): Map[String, Double] = {
    val ids = traced.map(_.id).toSet
    val jobs = t.jobs.values.filter(j => ids(j.op) && j.end >= 0).toSeq
    def inMethod(j: Tracer.Job, method: String) =
      j.stages.flatMap(t.stages.get).exists(_.details.contains(s"graft.etl.Etl$$.$method("))
    def perPass(method: String): Seq[(Double, Double, Double)] = traced.map { r =>
      val js = jobs.filter(j => j.op == r.id && inMethod(j, method))
      (Tracer.covered(js.map(j => (j.start.toDouble, j.end.toDouble))),
        js.map(_.start.toDouble).minOption.getOrElse(0.0), js.map(_.end.toDouble).maxOption.getOrElse(0.0))
    }
    val bronze = perPass("runBronze"); val gold = perPass("runGold")
    val ddl = traced.map { r =>
      t.sqls.values.filter(q => q.end >= 0 && r.start <= q.start && q.start <= r.end &&
        q.details.contains("graft.etl.Ddl$")).map(q => (q.end - q.start).toDouble).sum
    }
    val bronzeInput = jobs.filter(inMethod(_, "runBronze")).flatMap(_.stages).distinct
      .flatMap(t.aggs.get).map(_.inputRecords).sum.toDouble / math.max(1, traced.size)
    val m = lastManifest.get
    val root = passDir(pass)
    val rowsBronze = m.rowCounts.values.sum.toDouble
    val srcBytes = m.processed.map(n => new File(src, n).length).sum.toDouble
    Map(
      "etl.pipeline_s" -> Workload.median(traced.map(Workload.phaseMs(_, "pipeline"))) / 1e3,
      "etl.analytics_s" -> Workload.median(traced.map(r => Workload.phaseMs(r, "q1") + Workload.phaseMs(r, "q2"))) / 1e3,
      "etl.bronze_s" -> Workload.median(bronze.map(_._1)) / 1e3,
      "etl.gold_s" -> Workload.median(gold.map(_._1)) / 1e3,
      "etl.ddl_ms" -> Workload.median(ddl),
      "etl.manifest_ms" -> Workload.median(bronze.zip(gold).map { case (b, g) => math.max(0.0, g._2 - b._3) }),
      "etl.files_listed" -> Etl.listSourceFiles(src).size.toDouble,
      "etl.files_pruned" -> (Etl.listSourceFiles(src).size - m.processed.size - m.failed.size).toDouble,
      "etl.files_failed" -> m.failed.size.toDouble,
      "etl.rows_bronze" -> rowsBronze,
      "etl.interval_drop_ratio" -> (if (bronzeInput == 0) 0.0 else 1 - rowsBronze / bronzeInput),
      "etl.bytes_stored_per_source_byte" ->
        (bytes(new File(root, "bronze"), _.getName.endsWith(".parquet")) +
          bytes(new File(root, "gold"), _.getName.endsWith(".parquet"))) / math.max(1.0, srcBytes),
      "etl.gold_files" -> walk(new File(root, "gold")).count(_.getName.endsWith(".parquet")).toDouble,
      "analytics.q1_ms" -> Workload.median(traced.map(Workload.phaseMs(_, "q1"))),
      "analytics.q2_ms" -> Workload.median(traced.map(Workload.phaseMs(_, "q2"))),
      "analytics.gold_files_read" -> goldFilesRead.toDouble)
  }

  override def facts: Map[String, Any] = lastManifest.map { m =>
    Map("processed" -> m.processed, "failed" -> m.failed.map(_._1), "row_counts" -> m.rowCounts,
      "files_listed" -> Etl.listSourceFiles(src).size, "source_rows" -> sourceRows,
      "results_dir" -> new File(passDir(pass), "results").getPath)
  }.getOrElse(Map.empty)
}

/** table_writes: one long-lived GraftCatalog documents table with
  * `autoCompact` and `changeFeed` on takes the generated statement log of
  * INSERT batches, MERGE upserts, DELETEs and index REFRESHes. Every round
  * is the next `perRound` statements, then a snapshot read, a change-feed
  * read, a VECTOR SEARCH and a BM25 SEARCH, each checked against the
  * generator's replay of the log. */
final class TableWrites(spark: SparkSession, inputDir: String, work: File, seed: Long) extends Workload {
  private val log = new ObjectMapper().readTree(new File(s"$inputDir/commits.json"))
  private val stmts = log.get("ops").elements().asScala.toIndexedSeq
  private val expect = log.get("expect").elements().asScala.toIndexedSeq
  private val root = new File(work, "warehouse/pbw").getAbsolutePath
  private val table = "pbw.w.docs"
  private val dir = s"$root/w/docs"
  private val perRound = log.get("per_round").asInt
  private var next = 0
  private var checkedAt = 0
  private var checkedVersion = 0

  import spark.implicits._

  /** Unit-norm 16-d embedding, a pure function of (seed, id). */
  private def embedding(id: Long): Array[Float] = {
    val r = new java.util.SplittableRandom(id * 1000003L + seed)
    val v = Array.fill(16)(r.nextDouble() * 2 - 1)
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def source(rows: JsonNode): Unit =
    rows.elements().asScala.map { r =>
      (r.get(0).asLong, r.get(1).asText, r.get(2).asText, embedding(r.get(0).asLong))
    }.toSeq.toDF("id", "text", "lang", "embedding").coalesce(1).createOrReplaceTempView("pb_src")

  private def version(): Int =
    spark.sql(s"SELECT max(version) FROM pbw.w.`docs$$snapshots`").head().getInt(0)

  override def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.pbw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pbw.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pbw.w")
    spark.sql(s"CREATE TABLE $table (id BIGINT, text STRING, lang STRING, embedding ARRAY<FLOAT>) " +
      "TBLPROPERTIES ('autoCompact' = 'true', 'changeFeed' = 'true')")
    source(log.get("base"))
    spark.sql(s"INSERT INTO $table SELECT * FROM pb_src")
    spark.sql(s"CREATE TEXT INDEX ON $table (text)")
    spark.sql(s"CREATE VECTOR INDEX ON $table (embedding) ANCHORS (id)")
    checkedVersion = version()
  }

  private val noCheck = () => ("", Option.empty[String])

  private def statement(i: Int): Op = {
    val s = stmts(i)
    val kind = s.get("op").asText
    Op(if (kind == "refresh") "refresh_index" else kind, "sources.write", ctx => {
      kind match {
        case "insert" =>
          ctx.phase("build")(source(s.get("rows")))
          ctx.phase("action")(spark.sql(s"INSERT INTO $table SELECT * FROM pb_src"))
        case "merge" =>
          ctx.phase("build")(source(s.get("rows")))
          ctx.phase("action")(spark.sql(s"MERGE INTO $table t USING pb_src s ON t.id = s.id " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
        case "delete" =>
          ctx.phase("action")(spark.sql(
            s"DELETE FROM $table WHERE id >= ${s.get("lo").asLong} AND id < ${s.get("hi").asLong}"))
        case "refresh" =>
          val target = if (s.get("index").asText == "text") s"TEXT INDEX ON $table (text)"
            else s"VECTOR INDEX ON $table (embedding)"
          ctx.phase("action")(spark.sql(s"REFRESH $target").collect())
      }
      next = i + 1
      Outcome(0, noCheck)
    })
  }

  private val snapshotRead = Op("snapshot_read", "sources.read", ctx => {
    val df = ctx.phase("build")(spark.sql(s"SELECT count(*), sum(id), sum(length(text)) FROM $table"))
    ctx.phase("plan")(df.queryExecution.executedPlan)
    val r = ctx.phase("action")(df.head())
    Outcome(1, () => {
      val e = expect(next)
      def long(i: Int) = if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue
      val got = (long(0), long(1), long(2))
      val want = (e.get("count").asLong, e.get("sum_id").asLong, e.get("sum_len").asLong)
      ("", Option.when(got != want)(s"after $next statements: snapshot $got != replay $want"))
    })
  })

  private val cdfRead = Op("cdf_read", "sources.read", ctx => {
    val to = ctx.phase("build")(version())
    val got = ctx.phase("action")(graft.sources.ChangeFeedReader.counts(spark, dir, checkedVersion, to))
    val (from, fromAt) = (checkedVersion, checkedAt)
    checkedAt = next; checkedVersion = to
    Outcome(got.values.sum, () => {
      val (a, b) = (expect(fromAt).get("changes"), expect(checkedAt).get("changes"))
      val want = b.fieldNames().asScala.map(k => k -> (b.get(k).asLong - a.get(k).asLong)).toMap.filter(_._2 > 0)
      ("", Option.when(got.filter(_._2 > 0) != want)(
        s"changes ($from, $to] of statements [$fromAt, $checkedAt): $got != replay $want"))
    })
  })

  /** Hits must be distinct live rows in non-increasing similarity, each
    * scored with its true similarity to the probe (embeddings are a pure
    * function of the id, so the harness knows every row's). IVF serving is
    * approximate by contract, so a probe equal to a live row's embedding is
    * not guaranteed to return that row first. */
  private val vectorSearch = Op("vector_search", "sources.VectorIndex", ctx => {
    val probeId = expect(next).get("probe").asLong
    val probe = embedding(probeId)
    val hits = ctx.phase("action")(spark.sql(s"VECTOR SEARCH ON $table (embedding) PROBE (" +
      probe.mkString(", ") + ") TOP 5").select("vec_id", "sim").as[(Long, Double)].collect())
    Outcome(hits.length, () => {
      val ids = hits.map(_._1)
      val live = if (ids.isEmpty) 0L else spark.table(table).where(col("id").isin(ids: _*)).count()
      val sorted = hits.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1))
      def dot(id: Long) = embedding(id).zip(probe).map { case (a, b) => a.toDouble * b }.sum
      val misScored = hits.filter { case (id, sim) => math.abs(sim - dot(id)) > 1e-6 }
      ("", Option.when(ids.isEmpty || ids.distinct.length != ids.length || live != ids.length || !sorted ||
          misScored.nonEmpty)(
        s"VECTOR SEARCH near row $probeId: ${hits.toSeq}, $live of them live, " +
          s"mis-scored ${misScored.map { case (id, sim) => s"$id: $sim vs ${dot(id)}" }.mkString(", ")}"))
    })
  })

  /** Every hit must be a live row whose text holds the term. */
  private val bm25Search = Op("bm25_search", "sources.TextIndex", ctx => {
    val term = expect(next).get("term").asText
    val ids = ctx.phase("action")(spark.sql(s"BM25 SEARCH ON $table (text) ID (id) TERMS ('$term') TOP 10")
      .select("id").as[Long].collect())
    Outcome(ids.length, () => {
      val holding = if (ids.isEmpty) 0L else spark.table(table)
        .where(col("id").isin(ids: _*) && array_contains(split(col("text"), " "), term)).count()
      ("", Option.when(ids.isEmpty || holding != ids.length)(
        s"BM25 '$term': ${ids.length} hits, $holding live rows holding the term"))
    })
  })

  private val reads = Seq(snapshotRead, cdfRead, vectorSearch, bm25Search)

  def warmup(): Seq[Op] = (0 until perRound).map(statement) ++ reads
  def round(rng: Random): Seq[Op] = (next until next + perRound).map(statement) ++ reads
  override def hasMore: Boolean = next + perRound <= stmts.size

  def layerMetrics(traced: Seq[OpRec], t: Tracer): Map[String, Double] = {
    def med(name: String) = Workload.median(traced.filter(_.name == name).map(r => r.end - r.start))
    // data files sit at the table root as part-*; everything else there is
    // commit metadata, and the _cdc_*/_vecidx_*/_tokenidx_* trees are
    // change and index sidecars
    val files = walkFiles(new File(dir))
    val top = Option(new File(dir).listFiles()).toSeq.flatten.filter(_.isFile)
    val data = top.filter(_.getName.startsWith("part-"))
    val live = spark.sql(s"DESCRIBE DETAIL $table").head().getAs[Long]("size_bytes")
    val history = spark.sql(s"DESCRIBE HISTORY $table").collect().map(r => (r.getInt(1), r.getLong(2)))
    // a layout commit keeps the row count and lowers the file count
    val compactions = history.sliding(2).count {
      case Array((f0, n0), (f1, n1)) => n1 == n0 && f1 < f0
      case _ => false
    }
    Map(
      "sources.insert_ms" -> med("insert"), "sources.merge_ms" -> med("merge"),
      "sources.delete_ms" -> med("delete"), "sources.refresh_index_ms" -> med("refresh_index"),
      "sources.snapshot_read_ms" -> med("snapshot_read"), "sources.cdf_read_ms" -> med("cdf_read"),
      "sources.VectorIndex.serve_ms" -> med("vector_search"),
      "sources.TextIndex.serve_ms" -> med("bm25_search"),
      "sources.data_files" -> data.size.toDouble,
      "sources.metadata_files" -> (top.size - data.size).toDouble,
      "sources.bytes_per_live_byte" -> files.map(_.length).sum.toDouble / math.max(1L, live),
      "sources.autocompactions" -> compactions.toDouble)
  }

  private def walkFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walkFiles) else Seq(f)

  /** Final state for run.py's replay check: statements applied and the live
    * rows' content hash. */
  override def facts: Map[String, Any] = {
    val rows = spark.table(table).select("id", "text", "lang").collect()
      .map(r => s"${r.getLong(0)}\t${r.getString(1)}\t${r.getString(2)}").sorted
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(rows.mkString("\n").getBytes("UTF-8"))
    Map("statements" -> next, "live_rows" -> rows.length,
      "live_sha1" -> md.digest().map("%02x".format(_)).mkString)
  }
}
