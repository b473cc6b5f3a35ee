package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FILE-LEVEL INVERTED TOKEN INDEX over a managed table's string column —
  * the text-search analog of the zone-map/bloom tier: a posting-list
  * sidecar that lets a token-match query plan ONLY the files that can
  * contain the token (Hudi's metadata-table indexing idea, applied to
  * whitespace tokens; the engine's tokenizer — `split(col, ' ')` — is the
  * same one the text-analysis family declares, so index admission equals
  * query semantics).
  *
  * Storage: a directory `_tokenidx_<id>` INSIDE the table directory with
  * two parquet sidecars,
  *  - `posts/` — `(token, file, n_docs)`: which files hold the token and
  *    in how many of their rows (so df per token = SUM(n_docs) — the
  *    ranking statistic rides the index);
  *  - `stats/` — PER-FILE BM25 stats `(file, n_docs, sum_dl)` (row
  *    count, total whitespace-token count); corpus totals are their sum,
  *    and keying by file is what lets a refresh drop a rewritten file's
  *    contribution without re-tokenizing the corpus;
  * published by a props-only manifest commit `tokenidx.<col> =
  * <dir>;<digest>` where digest = SHA-256 over the SORTED indexed file
  * names.
  *
  * Freshness contract: a read recomputes the digest from the CURRENT
  * manifest — equal → candidates come from the index and the scan pins
  * `.option("files")`; different (append/OPTIMIZE/DELETE rewrote the file
  * set) → silent full-scan fallback, so CORRECTNESS NEVER DEPENDS ON
  * REBUILD DISCIPLINE (the MV freshness-guard rule). Deletion vectors
  * change no file names, so they never flip serving freshness: a DV'd row
  * just makes the index over-approximate (the exact predicate re-applies
  * scan-side, and the masked fetch keeps membership live-exact) — but the
  * per-file STATISTICS drift, so the prop carries a second DV-identity
  * digest ([[dvDigestOf]]) that [[refresh]] compares: DV-only churn
  * re-derives exactly the touched files' rows via the `covered/`
  * coverage sidecar, never the corpus, and `t$indexes` surfaces the debt
  * as `dv_drift=true` until then. `DROP TEXT INDEX` removes the prop;
  * orphaned `_tokenidx_*` dirs are reaped by VACUUM's reachability pass,
  * never inline.
  *
  * Scale: the index is ~(distinct tokens × covering files) rows — metadata
  * volume. Lookup reads one token's posting list (O(#files) worst case for
  * a stop-word — the same driver-side planning class as every metadata
  * path here); the data scan then touches only candidate files. At 100 TB
  * a rare-token search plans a handful of files instead of the table, and
  * a BM25 top-k ([[bm25TopK]]) scores candidates per-row against
  * index-derived statistics with no corpus-wide aggregation at all. */
object TextIndex {
  private[sources] val PropPrefix = "tokenidx."

  private def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Digest of a manifest's indexed-file set (names only, order-free).
    * Deliberately BLIND to deletion vectors: a DV'd row never surfaces
    * from a fetch (the reader masks it), so pruning through the index
    * stays admissible — serving freshness must not flip on DV churn
    * (the spec-pinned "DV must not invalidate the index" rule). */
  private[sources] def digestOf(m: Manifest): String =
    sha256(m.entries.filter(_.rows > 0).map(_.name).sorted.mkString("\n"))

  /** DV-identity digest over the same file set (`name:dvName` pairs) —
    * what REFRESH compares to see DV-ONLY churn: a row-level DELETE on a
    * merge-on-read table changes no file names, but the per-file
    * statistics the index stores (BM25 n_docs/sum_dl/df, the minhash
    * signature rows) still count the dead rows until the touched files
    * re-derive. Equal names digest + equal dv digest = nothing to
    * refresh at all, one string compare (the auto-refresh fast path
    * never opens a sidecar). */
  private[sources] def dvDigestOf(m: Manifest): String =
    sha256(m.entries.filter(_.rows > 0)
      .map(e => e.name + ":" + e.dv.map(_._1).getOrElse("-"))
      .sorted.mkString("\n"))

  private def scanFiles(spark: SparkSession, dir: Path,
      names: Seq[String]): DataFrame =
    spark.read.format("graft.sources.GraftManifestSink")
      .option("path", dir.toString)
      .option("files", names.mkString(","))
      .load()

  /** Postings for the given files: (token, file, n_docs-with-token) and
    * the PER-FILE stat rows (file, n_docs, sum_dl — empties INCLUDED,
    * matching the text family's `size(split(col, ' '))` doc length).
    * Row identity inside a file is its `_pos`. A BY PARTITION index
    * (r16) passes `partCol`: every row carries its partition VALUE
    * (string cast, the vector tier's rendering) so posting and stat
    * rows key per slice — same one-pass dataflow, the part column rides
    * the existing shuffles (files are partition-pure, so part is
    * functionally determined by file). */
  private def deltaOf(spark: SparkSession, dir: Path, colName: String,
      names: Seq[String], partCol: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val pcols = partCol.toSeq.map(pc => col(pc).cast("string").as("part"))
    val base = scanFiles(spark, dir, names)
      .select(Seq(col("_file").as("file"), col("_pos").as("pos"),
        split(col(colName), " ").as("toks")) ++ pcols: _*)
    val gPart = partCol.toSeq.map(_ => col("part"))
    val stats = base.groupBy(col("file") +: gPart: _*)
      .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).as("sum_dl"))
    val posts = base
      .select(Seq(col("file"), col("pos")) ++ gPart :+
        explode(col("toks")).as("token"): _*)
      .where(length(col("token")) > 0)
      .select(Seq(col("token"), col("file"), col("pos")) ++ gPart: _*)
      .distinct()
      .groupBy(Seq(col("token"), col("file")) ++ gPart: _*)
      .agg(count(lit(1)).as("n_docs"))
    (posts, stats)
  }

  private def writeIndex(idxDir: Path, posts: DataFrame,
      stats: DataFrame): Unit = {
    posts.write.parquet(idxDir.resolve("posts").toString)
    stats.coalesce(1).write.parquet(idxDir.resolve("stats").toString)
  }

  /** The COVERAGE sidecar: one `(file, dv)` row per covered file — the
    * dv sidecar name each file's index rows reflect (null = none at
    * derivation time). Two jobs: (a) when the dv digest diverges,
    * [[refresh]] reads this to find WHICH files drifted (re-derive
    * those, carry the rest — bounded by DV churn, never the corpus);
    * (b) it records coverage independently of the stat rows, so a file
    * whose rows are ALL deletion-vectored (no stats row survives the
    * masked scan) still counts as covered instead of re-deriving on
    * every refresh. Metadata-class: one narrow row per file. */
  private def writeCovered(spark: SparkSession, idxDir: Path, m: Manifest,
      names: Seq[String]): Unit = {
    import spark.implicits._
    val byName = m.entries.map(e => e.name -> e.dv.map(_._1)).toMap
    names.map(n => (n, byName.get(n).flatten.orNull))
      .toDF("file", "dv")
      .coalesce(1).write.parquet(idxDir.resolve("covered").toString)
  }

  /** The STORED-SIGNATURE sidecar rows for `names` — `(file, pos, hv,
    * mh)` per live row ([[graft.llm.Dedup.minhashSignatureRows]]): the
    * C69 incremental-dedup contract made a real artifact, so a daily
    * batch near-dedups against the corpus without re-reading or
    * re-hashing any corpus text ([[dedupIncremental]]). Narrow (hashed
    * shingle longs + a 16-long signature), file-keyed like posts/stats
    * so refresh remaps it the same way. */
  private def minhashOf(spark: SparkSession, dir: Path, colName: String,
      names: Seq[String], partCol: Option[String] = None): DataFrame = {
    val pcols = partCol.toSeq.map(pc => col(pc).cast("string").as("part"))
    graft.llm.Dedup.minhashSignatureRows(
      scanFiles(spark, dir, names)
        .select(Seq(col("_file").as("file"), col("_pos").as("pos"),
          col(colName).as("text")) ++ pcols: _*),
      "text", Seq("file", "pos") ++ partCol.map(_ => "part"))
  }

  private def emptyMinhash(spark: SparkSession,
      withPart: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("file", StringType),
        StructField("pos", LongType)) ++
        (if (withPart) Seq(StructField("part", StringType)) else Nil) ++
        Seq(StructField("hv", ArrayType(LongType)),
          StructField("mh", ArrayType(LongType)))))
  }

  /** The PARTITION-ATTRIBUTION sidecar rows for `names` — one (file,
    * part) row per (file, partition value), derived only when the table
    * is PARTITIONED BY exactly one column (r15): what lets `t$indexes`
    * report PER-PARTITION text freshness (`text-part` rows, mirroring
    * the vector tier's `vector-part`) without scanning the corpus at
    * metadata time. Metadata-class: a part-column-only projected scan
    * at derivation, O(#files) rows stored, remapped by refresh exactly
    * like posts/stats. */
  private def partsOf(spark: SparkSession, dir: Path,
      names: Seq[String]): Option[DataFrame] =
    Manifest.partitionCols(dir) match {
      case Seq(pc) =>
        Some(
          if (names.isEmpty) {
            import org.apache.spark.sql.types._
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              StructType(Seq(StructField("file", StringType),
                StructField("part", StringType))))
          } else scanFiles(spark, dir, names)
            .select(col("_file").as("file"),
              col(pc).cast("string").as("part"))
            .distinct())
      case _ => None
    }

  /** Build (or rebuild) the index for `colName`: one distributed pass over
    * the current live rows, one shuffle keyed on token, one props-only
    * commit. Returns (files indexed, distinct tokens).
    *
    * `byPartition` (r16 — the C221 pattern applied to the text tier):
    * posting, stat and signature rows all carry the partition VALUE of a
    * single-column-partitioned table, so per-domain BM25 statistics
    * (df/N/avgdl per slice), pinned membership search and
    * within-partition incremental dedup serve off the sidecar's own part
    * keys on ANY layout — no zone-map provability required, the way
    * vector search gets per-slice centroids. The build stays ONE
    * part-keyed dataflow (files are partition-pure, so `part` rides the
    * existing shuffles for free), and refresh stays file-bounded — which
    * subsumes partition-scoped: touching one day's partition re-derives
    * that day's files only. */
  def build(spark: SparkSession, dir: Path, colName: String,
      byPartition: Boolean = false): (Long, Long) = {
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"CREATE TEXT INDEX: no manifest at $dir"))
    val field = m.schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"CREATE TEXT INDEX: column $colName not in table schema " +
          s"(${m.schema.fieldNames.mkString(", ")})"))
    if (field.dataType != org.apache.spark.sql.types.StringType)
      throw new IllegalArgumentException(
        s"CREATE TEXT INDEX: column $colName is ${field.dataType.sql}, " +
          "only STRING columns index")
    val partCol: Option[String] =
      if (!byPartition) None
      else Manifest.partitionCols(dir) match {
        case Seq(pc) => Some(pc)
        case other => throw new IllegalArgumentException(
          "CREATE TEXT INDEX … BY PARTITION: the table must be " +
            s"PARTITIONED BY exactly one column (found: " +
            s"${other.mkString(", ")})")
      }
    val names = m.entries.filter(_.rows > 0).map(_.name)
    val idxName = s"_tokenidx_${java.util.UUID.randomUUID.toString.take(8)}"
    val idxDir = dir.resolve(idxName)
    val nTokens =
      if (names.isEmpty) {
        import spark.implicits._
        val (p0, s0) =
          if (partCol.isDefined)
            (Seq.empty[(String, String, String, Long)]
               .toDF("token", "file", "part", "n_docs"),
             Seq.empty[(String, String, Long, Long)]
               .toDF("file", "part", "n_docs", "sum_dl"))
          else
            (Seq.empty[(String, String, Long)].toDF("token", "file", "n_docs"),
             Seq.empty[(String, Long, Long)].toDF("file", "n_docs", "sum_dl"))
        writeIndex(idxDir, p0, s0)
        emptyMinhash(spark, withPart = partCol.isDefined)
          .write.parquet(idxDir.resolve("minhash").toString)
        0L
      } else {
        val (posts, stats) = deltaOf(spark, dir, field.name, names, partCol)
        writeIndex(idxDir, posts, stats)
        minhashOf(spark, dir, field.name, names, partCol)
          .write.parquet(idxDir.resolve("minhash").toString)
        graft.Tables.sidecar(spark, idxDir.resolve("posts").toString)
          .select(col("token")).distinct().count()
      }
    partsOf(spark, dir, names).foreach(_.coalesce(1)
      .write.parquet(idxDir.resolve("parts").toString))
    writeCovered(spark, idxDir, m, names)
    // props-only publish under the table's commit lock: the index dir,
    // the file-set digest it covers, and the DV-identity digest swap in
    // atomically
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(m)
      Manifest.write(dir, cur.copy(props =
        cur.props + (PropPrefix + field.name ->
          (s"$idxName;${digestOf(m)};${dvDigestOf(m)}" +
            partCol.map(pc => s";part=$pc").getOrElse("")))))
    }
    (names.length.toLong, nTokens)
  }

  /** The partition column of a BY PARTITION index prop (field 4,
    * `part=<col>`); None for the table-global format — the prop stays
    * backward compatible, every pre-r16 parser reads fields 1-3 only. */
  private[sources] def propPartCol(v: String): Option[String] =
    v.split(";", -1).drop(3).find(_.startsWith("part="))
      .map(_.stripPrefix("part="))

  /** Refresh a stale index INCREMENTALLY for ANY file-set divergence:
    * both the posting and stat sidecars are keyed by file, so dead files'
    * rows DROP (OPTIMIZE/DELETE/MERGE rewrote or removed them) and only
    * the files not previously indexed tokenize — at 100 TB a daily
    * ingest re-indexes the day and a compaction re-indexes the compacted
    * output, never the corpus. DV-ONLY churn (a merge-on-read DELETE —
    * names unchanged, dv digest diverged) remaps the same way: the
    * drifted files re-derive from their masked scan (live rows only), the
    * rest carry over — so ranking statistics catch up to the live corpus
    * without DROP + CREATE, bounded by the DV'd files, and the serving
    * digest stays names-only (pruning admissibility never flips on a
    * DV). After any refresh the index is exactly what a full [[build]] of
    * the current live state would produce (unlike the vector index there
    * is no trained state — postings and stats are pure per-file
    * derivations). A fresh index is a no-op. Returns (files re-derived,
    * remapped-after-rewrite-or-drift?). */
  def refresh(spark: SparkSession, dir: Path, colName: String): (Long, Boolean) = {
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"REFRESH TEXT INDEX: no manifest at $dir"))
    val key = m.props.keys.find(_.equalsIgnoreCase(PropPrefix + colName))
      .getOrElse(throw new IllegalStateException(
        s"REFRESH TEXT INDEX: no text index on $colName — CREATE it first"))
    val fields = m.props(key).split(";", -1)
    val (oldIdx, oldDig) = (fields(0), fields(1))
    val oldDvDig = if (fields.length > 2) Some(fields(2)) else None
    // a BY PARTITION index keeps its part keys through every remap
    val partCol = propPartCol(m.props(key))
    val partSuffix = partCol.map(pc => s";part=$pc").getOrElse("")
    val namesCurrent = oldDig == digestOf(m)
    val dvCurrent = oldDvDig.contains(dvDigestOf(m))
    if (namesCurrent && dvCurrent) return (0L, false)
    val oldDir = dir.resolve(oldIdx)
    val oldStats = graft.Tables.sidecar(spark, oldDir.resolve("stats").toString)
    if (!oldStats.schema.fieldNames.contains("file"))
      // an index persisted by the pre-per-file stats format (one
      // corpus-total row) can't remap — rebuild once, migrating it
      return (build(spark, dir, colName)._1, true)
    // which files did the stored index cover, under which dv state? The
    // coverage sidecar records both; a legacy index (no `covered/`)
    // recovers names from the stat rows and treats any live covered file
    // that CURRENTLY carries a dv as drifted (conservative — correct,
    // bounded by the DV'd files; this refresh writes `covered/` so the
    // next one compares exactly)
    val liveEntries = m.entries.filter(_.rows > 0)
    val liveDv = liveEntries.map(e => e.name -> e.dv.map(_._1).orNull).toMap
    val coveredPath = oldDir.resolve("covered")
    val recorded: Option[Map[String, String]] =
      if (Files.exists(coveredPath))
        Some(graft.Tables.sidecar(spark, coveredPath.toString).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap)
      else None
    val indexedFiles: Set[String] = recorded.map(_.keySet).getOrElse(
      oldStats.select(col("file")).distinct()
        .collect().map(_.getString(0)).toSet)
    val drift: Set[String] = recorded match {
      case Some(rec) => liveEntries
        .filter(e => rec.contains(e.name) &&
          rec(e.name) != liveDv(e.name)).map(_.name).toSet
      case None => liveEntries
        .filter(e => indexedFiles(e.name) && e.dv.isDefined)
        .map(_.name).toSet
    }
    val live = liveEntries.map(_.name)
    val newFiles = live.filterNot(f => indexedFiles(f) && !drift(f))
    val dead = ((indexedFiles -- live.toSet) ++ drift).toSeq.sorted
    if (namesCurrent && newFiles.isEmpty && dead.isEmpty) {
      // names fresh, nothing drifted — the dv digest was just unknown
      // (pre-dv-digest prop): upgrade the prop (and missing coverage) in
      // place, no sidecar rewrite
      ManifestLock.withLock(dir) {
        // exists-check + sidecar write under the commit lock: with
        // autoRefresh two concurrent readers could both observe
        // covered/ missing and race the parquet write — the loser's
        // "path already exists" failed that refresh spuriously (r14)
        if (recorded.isEmpty &&
            !Files.exists(oldDir.resolve("covered")))
          writeCovered(spark, oldDir, m, live)
        val cur = Manifest.read(dir).getOrElse(m)
        Manifest.write(dir, cur.copy(props =
          cur.props + (key ->
            s"$oldIdx;${digestOf(m)};${dvDigestOf(m)}$partSuffix")))
      }
      return (0L, false)
    }
    val keptPosts = graft.Tables.sidecar(spark, oldDir.resolve("posts").toString)
      .where(!col("file").isin(dead: _*))
    val keptStats = oldStats.where(!col("file").isin(dead: _*))
    val idxName = s"_tokenidx_${java.util.UUID.randomUUID.toString.take(8)}"
    val idxDir = dir.resolve(idxName)
    if (newFiles.isEmpty) writeIndex(idxDir, keptPosts, keptStats)
    else {
      // re-derived files are excluded from the kept side, so the
      // (token, file) posting rows and (file) stat rows union without
      // conflict
      val (delta, dStats) = deltaOf(spark, dir, colName, newFiles, partCol)
      writeIndex(idxDir, keptPosts.unionByName(delta),
        keptStats.unionByName(dStats))
    }
    // the signature sidecar remaps exactly like posts/stats: dead and
    // drifted files' rows drop, re-derived files' rows hash in (an index
    // built before the incremental-dedup tier has no sidecar and stays
    // without one until a full rebuild)
    if (java.nio.file.Files.exists(oldDir.resolve("minhash"))) {
      val keptSig = graft.Tables.sidecar(spark, oldDir.resolve("minhash").toString)
        .where(!col("file").isin(dead: _*))
      val sig =
        if (newFiles.isEmpty) keptSig
        else keptSig.unionByName(
          minhashOf(spark, dir, colName, newFiles, partCol))
      sig.write.parquet(idxDir.resolve("minhash").toString)
    }
    // the partition-attribution sidecar remaps like posts/stats (r15):
    // dead files' rows drop, re-derived files' attribute from their
    // part-column projection. A pre-r15 index GAINS the sidecar here —
    // unlike minhash, the full derivation is a projected metadata-class
    // scan (never tokenization), so the upgrade is free at refresh time
    Manifest.partitionCols(dir) match {
      case Seq(_) =>
        val parts =
          if (Files.exists(oldDir.resolve("parts"))) {
            val kept = graft.Tables.sidecar(spark, oldDir.resolve("parts").toString)
              .where(!col("file").isin(dead: _*))
            if (newFiles.isEmpty) kept
            else kept.unionByName(partsOf(spark, dir, newFiles).get)
          } else partsOf(spark, dir, live).get
        parts.coalesce(1).write.parquet(idxDir.resolve("parts").toString)
      case _ => ()
    }
    writeCovered(spark, idxDir, m, live)
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(m)
      Manifest.write(dir, cur.copy(props =
        cur.props + (key ->
          s"$idxName;${digestOf(m)};${dvDigestOf(m)}$partSuffix")))
    }
    (newFiles.length.toLong, dead.nonEmpty)
  }

  /** Drop the index prop (idempotent); the dir becomes VACUUM-reapable. */
  def drop(spark: SparkSession, dir: Path, colName: String): Unit =
    ManifestLock.withLock(dir) {
      Manifest.read(dir).foreach { cur =>
        val key = cur.props.keys.find(_.equalsIgnoreCase(PropPrefix + colName))
        key.foreach(k => Manifest.write(dir, cur.copy(props = cur.props - k)))
      }
    }

  /** The index dir name when a FRESH index exists on `colName`.
    * Freshness = the names-only digest (field 2): DV churn never flips
    * serving admissibility — membership stays live-exact through the
    * masked fetch, and the dv digest (field 3, when present) only drives
    * [[refresh]]'s statistics catch-up. */
  private def freshIdx(spark: SparkSession, m: Manifest,
      colName: String): Option[String] =
    m.props.collectFirst {
      case (k, v) if k.equalsIgnoreCase(PropPrefix + colName) => v
    }.flatMap { v =>
      val fields = v.split(";", -1)
      if (fields(1) == digestOf(m)) Some(fields(0)) else None
    }

  /** [[freshIdx]] plus the BY PARTITION column when the fresh index is
    * part-keyed: (index dir name, partition column). */
  private def freshIdxPart(spark: SparkSession, m: Manifest,
      colName: String): Option[(String, Option[String])] =
    m.props.collectFirst {
      case (k, v) if k.equalsIgnoreCase(PropPrefix + colName) => v
    }.flatMap { v =>
      val fields = v.split(";", -1)
      if (fields(1) == digestOf(m)) Some((fields(0), propPartCol(v)))
      else None
    }

  /** The partition values a scope pins on a BY PARTITION index, rendered
    * through the vector tier's rule (cast to the partition type, then to
    * string — what the sidecars store). None when the scope has no
    * pinning conjunct. `strict` additionally requires the scope to be
    * EXACTLY the pin (one conjunct, `=` or `IN` on the partition
    * column): per-slice STATISTICS are only admissible then — an extra
    * conjunct would scope membership but not df/N/avgdl. */
  private def partPinsOf(m: Manifest,
      scope: org.apache.spark.sql.Column, partCol: String,
      strict: Boolean): Option[Seq[String]] = {
    val partType = m.schema.fields
      .find(_.name.equalsIgnoreCase(partCol)).map(_.dataType)
      .getOrElse(return None)
    val pins = VectorIndex.partitionPins(scope, partCol, partType)
    if (!strict) pins
    else pins.filter { _ =>
      // strictness: every conjunct translates and there is exactly one,
      // on the partition column, of pin shape
      scopeFilters(scope) match {
        case Some(Seq(f)) => f match {
          case org.apache.spark.sql.sources.EqualTo(n, _) =>
            n.equalsIgnoreCase(partCol)
          case org.apache.spark.sql.sources.In(n, _) =>
            n.equalsIgnoreCase(partCol)
          case _ => false
        }
        case _ => false
      }
    }
  }

  /** The posting list for `term` when a FRESH index exists on `colName`:
    * `Some(candidate file names)` (possibly empty — the token is absent
    * from the corpus), `None` when no index is published or it is stale.
    * One small driver-side parquet read — planning-class work, shared by
    * [[search]] and the transparent rewrite rule
    * ([[graft.plans.IndexedFilterRewrite]]). */
  def candidateFiles(spark: SparkSession, dir: Path, colName: String,
      term: String): Option[Seq[String]] = {
    val m = Manifest.read(dir).getOrElse(return None)
    freshIdx(spark, m, colName).map { idxName =>
      graft.Tables.sidecar(spark, dir.resolve(idxName).resolve("posts").toString)
        .where(col("token") === term)
        .select(col("file")).distinct().collect().map(_.getString(0)).toSeq
    }
  }

  /** [[candidateFiles]] AT A SNAPSHOT (r16): the snapshot manifest's own
    * posting sidecar serves the list when its digest matches and the
    * sidecar survives reaping — what lets the transparent rewrite prune
    * `VERSION AS OF` token scans against the version's OWN lists (the
    * C200 guard kept pinned scans away from CURRENT lists, which remains
    * true — a snapshot never prunes against another state's postings).
    * Never throws: a missing snapshot, prop, digest or sidecar is None —
    * optimizer-rule safe. */
  def candidateFilesAsOf(spark: SparkSession, dir: Path, colName: String,
      term: String, version: Int): Option[Seq[String]] =
    scala.util.Try {
      Manifest.readSnapshot(dir, version).flatMap { m =>
        m.props.collectFirst {
          case (k, v) if k.equalsIgnoreCase(PropPrefix + colName) => v
        }.flatMap { v =>
          val fields = v.split(";", -1)
          if (fields(1) == digestOf(m) &&
            Files.exists(dir.resolve(fields(0)).resolve("posts")))
            Some(fields(0))
          else None
        }.map { idxName =>
          graft.Tables.sidecar(spark, dir.resolve(idxName).resolve("posts").toString)
            .where(col("token") === term)
            .select(col("file")).distinct().collect()
            .map(_.getString(0)).toSeq
        }
      }
    }.toOption.flatten

  /** Apply the stale-index query policy (`spark.graft.index.onStale`)
    * when a PUBLISHED text index on `colName` is stale: `refresh`
    * catches it up first (bounded — dead postings drop, only new files
    * tokenize) so the query serves indexed; `fail` refuses loudly;
    * `retrain` (the default) keeps the silent full-scan fallback — a
    * text index has no trained state, so the fallback is already what a
    * rebuild would answer. The transparent planner rewrite
    * ([[graft.plans.IndexedFilterRewrite]]) deliberately ignores the
    * policy: an optimizer rule must never mutate state or throw. */
  private def applyStalePolicy(spark: SparkSession, dir: Path,
      colName: String, op: String): Unit =
    Manifest.read(dir).foreach { m =>
      val published =
        m.props.keys.exists(_.equalsIgnoreCase(PropPrefix + colName))
      if (published && freshIdx(spark, m, colName).isEmpty)
        VectorIndex.onStale(spark) match { // shared validation: a typo'd
          // policy value must refuse, not silently disable the guard
          case "refresh" =>
            VectorIndex.refuseRefreshIfReadOnly(spark, op)
            refresh(spark, dir, colName)
          case "fail" => throw new IllegalStateException(
            s"$op: the text index on $colName is STALE and " +
              "spark.graft.index.onStale=fail — run REFRESH TEXT INDEX first")
          case _ => () // retrain: text has no trained state — the silent
          // full-scan fallback already answers what a rebuild would
        }
    }

  /** All rows whose tokenized `colName` contains `term`. Index-assisted
    * when a FRESH index exists (candidate files from the posting list,
    * exact predicate re-applied scan-side); full scan otherwise. */
  def search(spark: SparkSession, table: String, colName: String,
      term: String): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "TEXT SEARCH")
    applyStalePolicy(spark, mt.dir, colName, "TEXT SEARCH")
    val pred = array_contains(split(col(colName), " "), term)
    candidateFiles(spark, mt.dir, colName, term) match {
      case Some(cand) if cand.isEmpty => spark.table(table).where(lit(false))
      case Some(cand) => scanFiles(spark, mt.dir, cand).where(pred)
      case None => spark.table(table).where(pred)
    }
  }

  /** PIN-ROUTED membership search (r16): [[search]] with a predicate —
    * on a BY PARTITION index a pinning conjunct (`part = v` / `part IN
    * (…)`) narrows the candidate files to the pinned slices' OWN posting
    * rows before any scan plans, the way vector search routes pins to
    * sub-geometries: a date-pinned token search on a date-partitioned
    * corpus plans (slice ∩ posting) files without evaluating a zone map.
    * The exact predicate (token containment AND the full scope)
    * re-applies row-level either way, so a non-pinning scope, a
    * table-global index, or a stale index just serve unpruned — never
    * wrong. */
  def searchWhere(spark: SparkSession, table: String, colName: String,
      term: String, scope: org.apache.spark.sql.Column): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "TEXT SEARCH")
    applyStalePolicy(spark, mt.dir, colName, "TEXT SEARCH")
    val pred = array_contains(split(col(colName), " "), term) && scope
    val m = Manifest.read(mt.dir).getOrElse(
      return spark.table(table).where(pred))
    freshIdxPart(spark, m, colName) match {
      case Some((idxName, partOpt)) =>
        // non-strict pins are admissible here: rows outside the pinned
        // slices fail the scope conjunct anyway, and membership never
        // depends on slice statistics
        val pins = partOpt.flatMap(pc =>
          partPinsOf(m, scope, pc, strict = false))
        val posts = spark.read
          .parquet(mt.dir.resolve(idxName).resolve("posts").toString)
          .where(col("token") === term)
        val cand = pins.fold(posts)(ps =>
            posts.where(col("part").isin(ps: _*)))
          .select(col("file")).distinct().collect()
          .map(_.getString(0)).toSeq
        if (cand.isEmpty) spark.table(table).where(lit(false))
        else scanFiles(spark, mt.dir, cand).where(pred)
      case None => spark.table(table).where(pred)
    }
  }

  /** TIME-TRAVEL membership search (r16 — the last text-tier AS OF
    * asymmetry): all rows of the SNAPSHOT whose tokenized `colName`
    * contains `term`, served with pruning from the snapshot's OWN
    * posting sidecar when its digest matches (the [[bm25TopKAsOf]]
    * rule): candidates come from the historical posting list and the
    * scan pins both the files and the snapshot's DV state, so documents
    * appended (or deletion-vectored) after the version neither surface
    * nor vanish. A snapshot whose index was stale or reaped serves the
    * snapshot-pinned full scan — the same answer, no pruning. */
  def searchAsOf(spark: SparkSession, table: String, colName: String,
      term: String, version: Int): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "TEXT SEARCH AS OF")
    val pred = array_contains(split(col(colName), " "), term)
    asOfCandidates(spark, mt.dir, colName, version,
      posts => posts.where(col("token") === term)) match {
      case (_, Some(cand)) if cand.isEmpty =>
        spark.table(table).where(lit(false))
      case (snapScan, Some(cand)) => snapScan(cand).where(pred)
      case (snapScan, None) => snapScan(Seq.empty).where(pred)
    }
  }

  /** TIME-TRAVEL phrase search (r16): [[phraseSearch]] at a version —
    * candidates are the INTERSECTION of the phrase tokens' historical
    * posting lists, the contiguity re-check runs over the
    * snapshot-pinned scan. Stale/reaped index → snapshot-pinned full
    * scan, same answer. */
  def phraseSearchAsOf(spark: SparkSession, table: String, colName: String,
      phrase: String, version: Int): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "PHRASE SEARCH AS OF")
    val tokens = phrase.split(" ").filter(_.nonEmpty).toSeq
    require(tokens.nonEmpty, "PHRASE SEARCH AS OF: empty phrase")
    val pred = concat(lit(" "), col(colName), lit(" "))
      .contains(" " + phrase + " ")
    asOfCandidates(spark, mt.dir, colName, version, { posts =>
      // ∩ of the tokens' lists, assembled from ONE posting read: keep
      // files whose distinct matched-token count equals the phrase's
      val nTok = tokens.distinct.length
      posts.where(col("token").isin(tokens: _*))
        .groupBy(col("file"))
        .agg(countDistinct(col("token")).as("nt"))
        .where(col("nt") === nTok)
    }) match {
      case (_, Some(cand)) if cand.isEmpty =>
        spark.table(table).where(lit(false))
      case (snapScan, Some(cand)) => snapScan(cand).where(pred)
      case (snapScan, None) => snapScan(Seq.empty).where(pred)
    }
  }

  /** The shared AS OF candidate resolution: reads the SNAPSHOT
    * manifest, returns (a snapshot-pinned scan function — empty file
    * list = all the snapshot's live files — and Some(candidate files)
    * when the snapshot's own posting sidecar is digest-fresh and
    * present, None when the serve must fall back to the pinned full
    * scan). `narrow` receives the posting frame and must yield rows
    * with a `file` column. */
  private def asOfCandidates(spark: SparkSession, dir: Path,
      colName: String, version: Int, narrow: DataFrame => DataFrame)
      : (Seq[String] => DataFrame, Option[Seq[String]]) = {
    val m = Manifest.readSnapshot(dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"TEXT SEARCH AS OF: snapshot $version expired or never existed " +
          s"at $dir"))
    val names = m.entries.filter(_.rows > 0).map(_.name)
    def snapScan(fs: Seq[String]): DataFrame =
      spark.read.format("graft.sources.GraftManifestSink")
        .option("path", dir.toString)
        .option("snapshot", version.toString)
        .option("files", (if (fs.isEmpty) names else fs).mkString(","))
        .load()
    val cand = m.props.collectFirst {
      case (kk, v) if kk.equalsIgnoreCase(PropPrefix + colName) => v
    }.flatMap { v =>
      val fields = v.split(";", -1)
      if (fields(1) == digestOf(m) &&
        Files.exists(dir.resolve(fields(0)).resolve("posts")))
        Some(fields(0))
      else None
    }.map { idxName =>
      narrow(spark.read
          .parquet(dir.resolve(idxName).resolve("posts").toString))
        .select(col("file")).distinct().collect()
        .map(_.getString(0)).toSeq
    }
    (snapScan, cand)
  }

  /** INCREMENTAL near-dup dedup against the index's STORED signature
    * sidecar — the text twin of
    * [[VectorIndex.semDedupIncremental]], closing C69's "in production
    * the corpus signatures live in a stored table" IOU: batch rows
    * shingle + MinHash per-row (pure codegen math, no geometry),
    * candidates come from batch-bands × the stored `minhash/` sidecar,
    * the exact Jaccard verifies INSIDE the same join (hv rides both
    * sides — no refetch round trip), and corpus TEXT is never re-read:
    * only the MATCHED witnesses' files are scanned, projected to the id
    * column, to report `dup_of`. Per-batch cost O(\|batch\| × bucket);
    * a daily ingest touches ~\|matches\| files, never the corpus.
    *
    * `batch` carries `idCol` + `colName`; output (doc_id, dup_of,
    * is_dup) per batch row — min-id corpus witness, the C69 contract.
    * Stale index: the shared onStale policy (`refresh` catches up and
    * serves from the sidecar; `retrain` recomputes corpus signatures
    * in-query — same answer, no bounded fetch; `fail` refuses).
    * Pre-sidecar indexes refuse with rebuild guidance. */
  def dedupIncremental(spark: SparkSession, table: String, colName: String,
      idCol: String, batch: DataFrame): DataFrame = {
    import graft.llm.Dedup
    val op = "MINHASH DEDUP INCREMENTAL"
    val mt = ManifestTable.resolve(spark, table, op)
    if (!Manifest.read(mt.dir).exists(_.props.keys
        .exists(_.equalsIgnoreCase(PropPrefix + colName))))
      throw new IllegalStateException(
        s"$op: no text index on $table ($colName) — CREATE TEXT INDEX " +
          "first (its build writes the signature sidecar this serves from)")
    applyStalePolicy(spark, mt.dir, colName, op)
    val m = Manifest.read(mt.dir).getOrElse(
      throw new IllegalStateException(s"$op: no manifest at ${mt.dir}"))
    // a BY PARTITION index dedups WITHIN partitions (r16 — the vector
    // tier's date-partitioned admission rule): each batch row verdicts
    // against ITS OWN slice's stored signatures, so a text duplicated
    // across tenants/dates is a dup only where its slice already holds
    // it. The batch must carry the partition column to route.
    val partOpt: Option[String] = m.props.collectFirst {
      case (kk, v) if kk.equalsIgnoreCase(PropPrefix + colName) => v
    }.flatMap(propPartCol)
    partOpt.foreach { pc =>
      if (!batch.columns.exists(_.equalsIgnoreCase(pc)))
        throw new IllegalArgumentException(
          s"$op: the index on $table ($colName) is BY PARTITION ($pc) — " +
            s"the batch must carry a $pc column to route each row to " +
            "its own partition's signatures")
    }
    val bCols = Seq(col(idCol).as("doc_id"), col(colName).as("text")) ++
      partOpt.map(pc => col(pc).cast("string").as("part"))
    val bKeys = Seq("doc_id") ++ partOpt.map(_ => "part")
    val bSig = Dedup.minhashSignatureRows(
      batch.select(bCols: _*), "text", bKeys)
    val bBands = Dedup.minhashBandRows(bSig, bKeys :+ "hv")
      .select(Seq(col("doc_id").as("vn"), col("hv").as("hv_n"),
        col("band"), col("bkey")) ++
        partOpt.map(_ => col("part").as("npart")): _*)
    // the within-partition conjunct (lit(true) for a table-global index)
    def samePart: org.apache.spark.sql.Column =
      partOpt.map(_ => col("npart") === col("opart")).getOrElse(lit(true))
    def result(matched: DataFrame): DataFrame =
      bSig.select(col("doc_id"))
        .join(matched, col("doc_id") === col("vn"), "left")
        .select(col("doc_id"), col("dup_of"),
          col("dup_of").isNotNull.as("is_dup"))
        .orderBy("doc_id")
    freshIdx(spark, m, colName) match {
      case Some(idxName) =>
        val sigPath = mt.dir.resolve(idxName).resolve("minhash")
        if (!java.nio.file.Files.exists(sigPath))
          throw new IllegalStateException(
            s"$op: the index on $table ($colName) predates the signature " +
              "sidecar — re-run CREATE TEXT INDEX to materialize it")
        val cBands = Dedup.minhashBandRows(
            graft.Tables.sidecar(spark, sigPath.toString),
            Seq("file", "pos", "hv") ++ partOpt.map(_ => "part"))
          .select(Seq(col("band").as("oband"), col("bkey").as("obkey"),
            col("file"), col("pos"), col("hv").as("hv_o")) ++
            partOpt.map(_ => col("part").as("opart")): _*)
        // bucket ∩ Jaccard fused in ONE join; the match set (bounded by
        // real near-dups) is materialized once — it drives both the
        // witness-file planning and the id fetch
        val matchedRows = bBands.join(cBands,
            col("band") === col("oband") && col("bkey") === col("obkey") &&
              samePart &&
              Dedup.jaccard(col("hv_n"), col("hv_o")) >=
                Dedup.MinhashJaccard)
          .select(col("vn"), col("file"), col("pos"))
          .localCheckpoint()
        val candFiles = matchedRows.select("file").distinct()
          .collect().map(_.getString(0))
        val matched =
          if (candFiles.isEmpty) {
            val idType = m.schema.fields
              .find(_.name.equalsIgnoreCase(idCol)).map(_.dataType)
              .getOrElse(org.apache.spark.sql.types.LongType)
            spark.range(0).select(col("id").cast(idType).as("vn"),
              col("id").cast(idType).as("dup_of"))
          } else {
            // ONLY the matched witnesses' files scan, id column projected
            val ids = scanFiles(spark, mt.dir, candFiles.toSeq)
              .select(col(idCol).as("oid"), col("_file").as("file"),
                col("_pos").as("pos"))
            matchedRows.join(ids, Seq("file", "pos"))
              .groupBy("vn").agg(min(col("oid")).as("dup_of"))
          }
        result(matched)
      case None =>
        // retrain fallback: corpus signatures recomputed in-query over
        // the live files — same answer as a rebuilt sidecar, no pruning
        // (still within-partition on a BY PARTITION index)
        val names = m.entries.filter(_.rows > 0).map(_.name)
        val oCols = Seq(col(idCol).as("oid"), col(colName).as("text")) ++
          partOpt.map(pc => col(pc).cast("string").as("part"))
        val oKeys = Seq("oid") ++ partOpt.map(_ => "part")
        val sig = Dedup.minhashSignatureRows(
          scanFiles(spark, mt.dir, names).select(oCols: _*), "text", oKeys)
        val oBands = Dedup.minhashBandRows(sig, oKeys :+ "hv")
          .select(Seq(col("band").as("oband"), col("bkey").as("obkey"),
            col("oid"), col("hv").as("hv_o")) ++
            partOpt.map(_ => col("part").as("opart")): _*)
        val matched = bBands.join(oBands,
            col("band") === col("oband") && col("bkey") === col("obkey") &&
              samePart &&
              Dedup.jaccard(col("hv_n"), col("hv_o")) >=
                Dedup.MinhashJaccard)
          .groupBy("vn").agg(min(col("oid")).as("dup_of"))
        result(matched)
    }
  }

  /** TIME-TRAVEL incremental MinHash dedup (r15 — the C238 audit
    * posture for the text curation tier, the twin of
    * [[graft.sources.VectorIndex.semDedupIncrementalAsOf]]): "which of
    * these documents were near-dups of the corpus AS OF version v". The
    * snapshot manifest's own `tokenidx.` prop serves its HISTORICAL
    * signature sidecar; the witness-id fetch pins both the files and
    * the snapshot's DV state, so documents added (or deletion-vectored)
    * after the version neither witness nor un-witness any batch row. A
    * snapshot whose index was stale or reaped recomputes the corpus
    * signatures from the snapshot-pinned scan (text has no trained
    * state — the fallback IS a rebuild's answer at that version). SQL:
    * `MINHASH DEDUP … USING (<query>) VERSION AS OF v [WHERE <pred>]`.
    * Output (doc_id, dup_of, is_dup) like [[dedupIncremental]]. */
  def dedupIncrementalAsOf(spark: SparkSession, table: String,
      colName: String, idCol: String, batch: DataFrame,
      version: Int): DataFrame = {
    import graft.llm.Dedup
    val op = "MINHASH DEDUP INCREMENTAL AS OF"
    val mt = ManifestTable.resolve(spark, table, op)
    val m = Manifest.readSnapshot(mt.dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"$op: snapshot $version expired or never existed at ${mt.dir}"))
    val names = m.entries.filter(_.rows > 0).map(_.name)
    def snapScan(fs: Seq[String]): DataFrame =
      spark.read.format("graft.sources.GraftManifestSink")
        .option("path", mt.dir.toString)
        .option("snapshot", version.toString)
        .option("files", fs.mkString(","))
        .load()
    // the SNAPSHOT's index decides the partition semantics (r16 — zero
    // drift between live and AS OF: a BY PARTITION index verdicts
    // within each batch row's own partition at the version too)
    val partOpt: Option[String] = m.props.collectFirst {
      case (kk, v) if kk.equalsIgnoreCase(PropPrefix + colName) => v
    }.flatMap(propPartCol)
    partOpt.foreach { pc =>
      if (!batch.columns.exists(_.equalsIgnoreCase(pc)))
        throw new IllegalArgumentException(
          s"$op: the index on $table ($colName) is BY PARTITION ($pc) — " +
            s"the batch must carry a $pc column to route each row to " +
            "its own partition's signatures")
    }
    val bCols = Seq(col(idCol).as("doc_id"), col(colName).as("text")) ++
      partOpt.map(pc => col(pc).cast("string").as("part"))
    val bKeys = Seq("doc_id") ++ partOpt.map(_ => "part")
    val bSig = Dedup.minhashSignatureRows(
      batch.select(bCols: _*), "text", bKeys)
    val bBands = Dedup.minhashBandRows(bSig, bKeys :+ "hv")
      .select(Seq(col("doc_id").as("vn"), col("hv").as("hv_n"),
        col("band"), col("bkey")) ++
        partOpt.map(_ => col("part").as("npart")): _*)
    def samePart: org.apache.spark.sql.Column =
      partOpt.map(_ => col("npart") === col("opart")).getOrElse(lit(true))
    def result(matched: DataFrame): DataFrame =
      bSig.select(col("doc_id"))
        .join(matched, col("doc_id") === col("vn"), "left")
        .select(col("doc_id"), col("dup_of"),
          col("dup_of").isNotNull.as("is_dup"))
        .orderBy("doc_id")
    val idx = m.props.collectFirst {
      case (kk, v) if kk.equalsIgnoreCase(PropPrefix + colName) => v
    }.flatMap { v =>
      val fields = v.split(";", -1)
      if (fields(1) == digestOf(m) &&
        Files.exists(mt.dir.resolve(fields(0)).resolve("minhash")))
        Some(fields(0))
      else None
    }
    idx match {
      case Some(idxName) =>
        val cBands = Dedup.minhashBandRows(
            graft.Tables.sidecar(spark, 
              mt.dir.resolve(idxName).resolve("minhash").toString),
            Seq("file", "pos", "hv") ++ partOpt.map(_ => "part"))
          .select(Seq(col("band").as("oband"), col("bkey").as("obkey"),
            col("file"), col("pos"), col("hv").as("hv_o")) ++
            partOpt.map(_ => col("part").as("opart")): _*)
        val matchedRows = bBands.join(cBands,
            col("band") === col("oband") && col("bkey") === col("obkey") &&
              samePart &&
              Dedup.jaccard(col("hv_n"), col("hv_o")) >=
                Dedup.MinhashJaccard)
          .select(col("vn"), col("file"), col("pos"))
          .localCheckpoint()
        val candFiles = matchedRows.select("file").distinct()
          .collect().map(_.getString(0))
        val matched =
          if (candFiles.isEmpty) {
            val idType = m.schema.fields
              .find(_.name.equalsIgnoreCase(idCol)).map(_.dataType)
              .getOrElse(org.apache.spark.sql.types.LongType)
            spark.range(0).select(col("id").cast(idType).as("vn"),
              col("id").cast(idType).as("dup_of"))
          } else {
            // witnesses fetch through the SNAPSHOT-pinned scan: a
            // post-version DV cannot erase a witness, a post-version
            // append cannot add one
            val ids = snapScan(candFiles.toSeq)
              .select(col(idCol).as("oid"), col("_file").as("file"),
                col("_pos").as("pos"))
            matchedRows.join(ids, Seq("file", "pos"))
              .groupBy("vn").agg(min(col("oid")).as("dup_of"))
          }
        result(matched)
      case None =>
        // stale/reaped snapshot: corpus signatures recomputed from the
        // snapshot-pinned scan — a rebuild's answer at that version
        // (still within-partition when the snapshot's index was
        // BY PARTITION)
        val oCols = Seq(col(idCol).as("oid"), col(colName).as("text")) ++
          partOpt.map(pc => col(pc).cast("string").as("part"))
        val oKeys = Seq("oid") ++ partOpt.map(_ => "part")
        val sig = Dedup.minhashSignatureRows(
          snapScan(names).select(oCols: _*), "text", oKeys)
        val oBands = Dedup.minhashBandRows(sig, oKeys :+ "hv")
          .select(Seq(col("band").as("oband"), col("bkey").as("obkey"),
            col("oid"), col("hv").as("hv_o")) ++
            partOpt.map(_ => col("part").as("opart")): _*)
        val matched = bBands.join(oBands,
            col("band") === col("oband") && col("bkey") === col("obkey") &&
              samePart &&
              Dedup.jaccard(col("hv_n"), col("hv_o")) >=
                Dedup.MinhashJaccard)
          .groupBy("vn").agg(min(col("oid")).as("dup_of"))
        result(matched)
    }
  }

  /** PHRASE search — contiguous-token match over the indexed column. The
    * single-token index answers phrase queries by INTERSECTION: every
    * phrase token must appear in a file for the phrase to, so candidates
    * = ∩ of the tokens' posting lists (often far smaller than any single
    * list), and the exact contiguity re-check runs scan-side
    * (`' '||col||' ' contains ' '||phrase||' '` — whitespace-tokenizer
    * phrase semantics). Stale/absent index falls back to the full scan
    * with the same predicate. */
  def phraseSearch(spark: SparkSession, table: String, colName: String,
      phrase: String): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "PHRASE SEARCH")
    applyStalePolicy(spark, mt.dir, colName, "PHRASE SEARCH")
    val tokens = phrase.split(" ").filter(_.nonEmpty).toSeq
    require(tokens.nonEmpty, "PHRASE SEARCH: empty phrase")
    val pred = concat(lit(" "), col(colName), lit(" "))
      .contains(" " + phrase + " ")
    // ALL tokens' posting lists come off ONE scan of the posting
    // sidecar (r15 — formerly one driver collect per token: a 10-token
    // phrase paid 10 serialized jobs); the ∩ assembles from the single
    // collected (token, files) frame
    val m = Manifest.read(mt.dir).getOrElse(
      return spark.table(table).where(pred))
    freshIdx(spark, m, colName) match {
      case None => spark.table(table).where(pred) // stale or no index
      case Some(idxName) =>
        val byToken = spark.read
          .parquet(mt.dir.resolve(idxName).resolve("posts").toString)
          .where(col("token").isin(tokens: _*))
          .groupBy("token").agg(collect_set(col("file")).as("files"))
          .collect()
          .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
        val lists = tokens.map(t => byToken.getOrElse(t, Set.empty[String]))
        val cand = lists.reduce(_ intersect _)
        if (cand.isEmpty) spark.table(table).where(lit(false))
        else scanFiles(spark, mt.dir, cand.toSeq).where(pred)
    }
  }

  /** BM25 top-k over the indexed column — the search-engine query shape
    * with NO corpus-wide aggregation: df per query term and the corpus
    * stats (N, avgdl) come from the index, so scoring is pure per-row
    * math (tf from the row's own token list, dl = its length) over ONLY
    * the files whose posting lists carry a query term; docs containing no
    * term score 0 and can never rank, so candidate pruning is exact.
    * Falls back to computing df/stats/candidates with full scans when the
    * index is stale or absent — same answer, no pruning. Caveat (the
    * Lucene deleted-docs rule, now BOUNDED by refresh discipline): a
    * deletion-vectored row no longer RANKS (the scan drops it) but still
    * counts in df/N/avgdl until the next REFRESH — which since the
    * dv-digest tier catches DV-only churn and re-derives exactly the
    * touched files' stats (no DROP + CREATE needed); `t$indexes` reports
    * the interim drift. Result membership is always live-exact either
    * way. Output: `idCol, n_terms (query terms present),
    * score` — the q_text_bm25 formula (k1=1.2, b=0.75, fixed-point 1e9
    * floor). */
  def bm25TopK(spark: SparkSession, table: String, colName: String,
      idCol: String, terms: Seq[String], k: Int): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "BM25 SEARCH")
    applyStalePolicy(spark, mt.dir, colName, "BM25 SEARCH")
    val m = Manifest.read(mt.dir).getOrElse(
      throw new IllegalStateException(s"BM25 SEARCH: no manifest at ${mt.dir}"))
    // (df per term, N, sum_dl, candidate rows)
    val (dfs, nDocs, sumDl, rows) = freshIdx(spark, m, colName) match {
      case Some(idxName) =>
        val idxDir = mt.dir.resolve(idxName)
        val posts = graft.Tables.sidecar(spark, idxDir.resolve("posts").toString)
          .where(col("token").isin(terms: _*))
          .groupBy("token")
          .agg(sum(col("n_docs")).as("df"),
            collect_set(col("file")).as("files"))
          .collect()
        // corpus totals = sum of the per-file stat rows (metadata volume)
        val stats = graft.Tables.sidecar(spark, idxDir.resolve("stats").toString)
          .agg(coalesce(sum(col("n_docs")), lit(0L)),
            coalesce(sum(col("sum_dl")), lit(0L)))
          .collect().head
        val cand = posts.flatMap(_.getSeq[String](2)).distinct.toSeq
        val dfMap = posts.map(r => r.getString(0) -> r.getLong(1)).toMap
        val rows =
          if (cand.isEmpty) spark.table(table).where(lit(false))
          else scanFiles(spark, mt.dir, cand)
        (dfMap, stats.getLong(0), stats.getLong(1), rows)
      case None =>
        val all = spark.table(table)
        val stats = all.agg(count(lit(1)),
          sum(size(split(col(colName), " ")))).collect().head
        val dfMap = terms.map { t =>
          t -> all.where(array_contains(split(col(colName), " "), t)).count()
        }.toMap
        (dfMap, stats.getLong(0), stats.getLong(1), all)
    }
    bm25Rank(spark, dfs, nDocs, sumDl, rows, colName, idCol, terms, k)
  }

  /** BATCH BM25 JOIN — "for each batch query, its k best-ranked CORPUS
    * rows": the text twin of [[VectorIndex.knnJoin]] (RAG candidate
    * fetch from a query log, eval-set retrieval, training-data
    * attribution) served from the STORED statistics with nothing
    * corpus-sized recomputed per batch. ONE dataflow, no per-query
    * loop: the batch tokenizes to `(qid, term)` pairs (distinct terms
    * per query — BM25 scores the query's term SET), per-term df and the
    * corpus stats (N, avgdl) come from the posting/stat sidecars, the
    * candidate scan plans ONLY the files whose posting lists carry ANY
    * batch term, and the retrieval itself is an equi-join on `term`
    * between the batch pairs (broadcast — the batch is the small side
    * by definition) and the candidates' per-(doc, term) tf rows, summed
    * per (query, doc) and ranked top-k per query by one window. A doc
    * sharing no term with a query scores 0 and can never rank, so the
    * candidate pruning is exact; a query whose terms all miss the
    * corpus yields NO rows (unlike the vector join's always-k — "no
    * term in common" is BM25's null result). Per-batch cost: the batch
    * tokens + ONE scan of the term-bearing files; the only driver-side
    * state is the batch's term vocabulary and its df counts (batch-
    * bounded — the kNN join's centroid-panel class, never the corpus).
    * Stale/absent index: df/N/avgdl and candidates recompute from full
    * scans in the same single dataflow — same answer, no pruning (after
    * the onStale policy gets its say: `refresh` catches up first,
    * `fail` refuses). The batch carries the table's own id column (the
    * query key) and a query-text column tokenized by the engine's
    * whitespace rule. Output: `(qid, rank, <idCol>, n_terms, score)`,
    * rank 1..k per surfaced query, `n_terms` = how many of the query's
    * distinct terms the doc contains — [[bm25TopK]]'s formula and
    * fixed-point floor exactly (per-term idf is computed driver-side
    * from the collected df map with the same `math.log`, so a
    * single-query [[bm25TopK]] and a 1-row batch join return
    * bit-identical scores). */
  def bm25Join(spark: SparkSession, table: String, colName: String,
      idCol: String, batch: DataFrame, qidCol: String, qtextCol: String,
      k: Int): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "BM25 JOIN")
    applyStalePolicy(spark, mt.dir, colName, "BM25 JOIN")
    val m = Manifest.read(mt.dir).getOrElse(
      throw new IllegalStateException(s"BM25 JOIN: no manifest at ${mt.dir}"))
    bm25JoinAttempt(spark, mt.dir, m, colName, idCol, batch, qidCol,
      qtextCol, k, freshIdx(spark, m, colName),
      fs => scanFiles(spark, mt.dir, fs),
      () => spark.table(table), "BM25 JOIN")
  }

  /** [[bm25Join]] AT A SNAPSHOT — reproduce yesterday's batch retrieval
    * (the eval-set re-run, the "what did the RAG serve actually fetch"
    * audit): df/N/avgdl and candidates come from the snapshot's OWN
    * posting/stat sidecars when its digest matches, and the candidate
    * scan pins the version's files and DV state — corpus rows added
    * after the version neither rank nor shift any statistic. A stale or
    * reaped snapshot index recomputes everything from the
    * snapshot-pinned scan — same answer, no pruning. */
  def bm25JoinAsOf(spark: SparkSession, table: String, colName: String,
      idCol: String, batch: DataFrame, qidCol: String, qtextCol: String,
      k: Int, version: Int): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "BM25 JOIN AS OF")
    val m = Manifest.readSnapshot(mt.dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"BM25 JOIN AS OF: snapshot $version expired or never existed " +
          s"at ${mt.dir}"))
    val names = m.entries.filter(_.rows > 0).map(_.name)
    def snapScan(fs: Seq[String]): DataFrame =
      spark.read.format("graft.sources.GraftManifestSink")
        .option("path", mt.dir.toString)
        .option("snapshot", version.toString)
        .option("files", fs.mkString(","))
        .load()
    val idx = m.props.collectFirst {
      case (kk, v) if kk.equalsIgnoreCase(PropPrefix + colName) => v
    }.flatMap { v =>
      val fields = v.split(";", -1)
      if (fields(1) == digestOf(m) &&
        Files.exists(mt.dir.resolve(fields(0)).resolve("posts")) &&
        Files.exists(mt.dir.resolve(fields(0)).resolve("stats")))
        Some(fields(0))
      else None
    }
    bm25JoinAttempt(spark, mt.dir, m, colName, idCol, batch, qidCol,
      qtextCol, k, idx, snapScan, () => snapScan(names), "BM25 JOIN AS OF")
  }

  /** The batch join's shared core (live and AS OF): batch term pairs,
    * df/N/avgdl off the posting/stat sidecars (or recomputed from
    * `full()` when the index is stale/absent — same answer, no
    * pruning), candidates from the posting-union files, and one
    * broadcast retrieval join + ranked window per query. On a BY
    * PARTITION index (the r16 part-keyed sidecars) each query ranks
    * WITHIN ITS OWN partition's sub-corpus with that slice's df/N/avgdl
    * — the multi-tenant retrieval rule (per-slice statistics are the
    * point of a partitioned text index; cross-slice BM25 scores are not
    * comparable): the batch must carry the partition column to route
    * (refused loudly), candidates restrict to each query's slice, and a
    * query pinned to a slice with no sub-corpus yields no rows. The
    * driver-side state is the batch's (part,) term vocabulary with df
    * counts and per-slice totals — batch-bounded, never the corpus;
    * per-(part,) term idf is driver-computed with [[bm25Rank]]'s own
    * `math.log` and the per-slice avgdl rides the same broadcast frame,
    * so a 1-row batch is bit-identical to the single-query paths. */
  private def bm25JoinAttempt(spark: SparkSession, dir: Path,
      m: Manifest, colName: String, idCol: String, batch: DataFrame,
      qidCol: String, qtextCol: String, k: Int, idxOpt: Option[String],
      scan: Seq[String] => DataFrame, full: () => DataFrame,
      op: String): DataFrame = {
    val partOpt: Option[String] = m.props.collectFirst {
      case (kk, v) if kk.equalsIgnoreCase(PropPrefix + colName) => v
    }.flatMap(propPartCol)
    partOpt.foreach { pc =>
      if (!batch.columns.exists(_.equalsIgnoreCase(pc)))
        throw new IllegalArgumentException(
          s"$op: the index on ($colName) is BY PARTITION ($pc) — the " +
            s"batch must carry a $pc column so each query ranks within " +
            "its own partition's statistics")
    }
    // the batch's token pairs feed THREE consumers (the vocabulary
    // count, the driver collect, and the retrieval join's broadcast) —
    // materialize once (r17, §2.4 multi-consumer rule: each consumer
    // re-ran the batch scan + tokenize through lineage). Within-query
    // materialization only; the batch is the small side by definition.
    val qtok = batch.select(Seq(col(qidCol).as("qid"),
        explode(array_distinct(split(col(qtextCol), " "))).as("term")) ++
        partOpt.map(pc => col(pc).cast("string").as("part")): _*)
      .where(length(col("term")) > 0)
      .localCheckpoint()
    // VOCABULARY-THRESHOLD probe (r17, guide §5): the batch's term
    // vocabulary was collect()ed unconditionally — batch-bounded for the
    // declared eval batches, but an unbounded query log's vocabulary
    // grows with the batch and a driver-side idf map stops being
    // "bounded metadata". Count the distinct terms first (parallel
    // aggregate, no driver payload), and only collect when within the
    // limit — the driver path (exact candidate-file pruning, local idf
    // frame) then serves as before; above the limit EVERYTHING stays
    // relational — df/N/avgdl as distributed frames, planner-chosen
    // join strategies, no driver map, no per-term file union (which
    // would itself be vocabulary-sized). (A limit+collect probe would
    // bound the payload in one step but executeTake's partition ramp
    // costs 3-4 jobs per invocation — measured r17.)
    val vocabDistinct = qtok.select("term").distinct()
    val vocabTooBig = vocabDistinct.count() > JoinVocabLimit
    val pG = partOpt.toSeq.map(_ => col("part"))
    val joinKeys = Seq("term") ++ partOpt.map(_ => "part")
    val toks = split(col(colName), " ")
    val partFx = floor(lit(1e9) * col("idf") * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") /
        col("avgdl")))).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("score_fx"), col("doc_id"))
    // shared ranked tail: per-(qid, doc) fixed-point sum off the
    // term-level scored rows, projected to (qid, doc_id, part_fx)
    // BEFORE one explicit qid repartition — hashpartitioning(qid)
    // satisfies both the (qid, doc_id) aggregate (subset rule) and the
    // ranking window, so the aggregate and the window share ONE
    // exchange where the r16 shape paid two (§2.4). Callers join the
    // idf frame (and compute part_fx) BEFORE the query join: the score
    // component depends only on (term, doc), so it evaluates once per
    // (doc, term) instead of once per (query, doc, term) row.
    def rank(scored: DataFrame): DataFrame = scored
      .select(col("qid"), col("doc_id"), col("part_fx"))
      .repartition(col("qid"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("part_fx")).as("score_fx"), count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id").as(idCol),
        col("n_terms"),
        (col("score_fx").cast("double") / 1e9).as("score"))
    if (vocabTooBig) {
      // unbounded-vocabulary fallback: relational end to end. Candidate
      // pruning is skipped (full scan) — with a corpus-sized vocabulary
      // the posting union approaches the table anyway.
      val terms = qtok.select(col("term") +: pG: _*).distinct()
      val (dfD, statsD, rows) = idxOpt match {
        case Some(idxName) =>
          val idxDir = dir.resolve(idxName)
          val dfD = graft.Tables.sidecar(spark, idxDir.resolve("posts").toString)
            .withColumnRenamed("token", "term")
            .join(terms, joinKeys)
            .groupBy(col("term") +: pG: _*)
            .agg(sum(col("n_docs")).as("df"))
          val statsD = graft.Tables
            .sidecar(spark, idxDir.resolve("stats").toString)
            .groupBy(pG: _*)
            .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
              coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"))
          (dfD, statsD, full())
        case None =>
          val all = full()
          val statsD = all
            .groupBy(partOpt.toSeq
              .map(pc => col(pc).cast("string").as("part")): _*)
            .agg(count(lit(1)).as("n_docs"),
              coalesce(sum(size(split(col(colName), " "))), lit(0L))
                .as("sum_dl"))
          val dfD = all
            .select(partOpt.toSeq
              .map(pc => col(pc).cast("string").as("part")) :+
              explode(array_distinct(split(col(colName), " ")))
                .as("term"): _*)
            .join(terms, joinKeys, "leftsemi")
            .groupBy(col("term") +: pG: _*)
            .agg(count(lit(1)).as("df"))
          (dfD, statsD, all)
      }
      // same arithmetic as the driver path: (long - long + 0.5) widens
      // to double, Catalyst's log/divide are java.lang.Math's — the
      // fixed-point floor sees bit-identical doubles either way
      val idfD = dfD.where(col("df") > 0L)
        .join(statsD, partOpt.toSeq.map(_ => "part"))
        .select(Seq(col("term"),
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))).as("idf"),
          (col("sum_dl").cast("double") /
            greatest(col("n_docs"), lit(1L))).as("avgdl")) ++ pG: _*)
      val docTerms = rows
        .select(Seq(col(idCol).as("doc_id"),
          size(toks).cast("double").as("dl"), explode(toks).as("term")) ++
          partOpt.map(pc => col(pc).cast("string").as("part")): _*)
        .groupBy(Seq(col("doc_id"), col("term")) ++ pG: _*)
        .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
      return rank(docTerms.join(idfD, joinKeys)
        .select(Seq(col("doc_id"), col("term"), partFx.as("part_fx")) ++
          pG: _*)
        .join(qtok, joinKeys))
    }
    val vocab = vocabDistinct.collect().map(_.getString(0)).toSeq
    // (part?, term) -> df and candidate files; (part?) -> (N, sum_dl):
    // sidecar reads when fresh (metadata volume — memoized lazy loads,
    // r17: the per-invocation spark.read.parquet footer jobs were a
    // fixed tax), one-pass corpus aggregations otherwise (never a
    // per-term driver loop)
    val (dfRows, statRows, rows) = idxOpt match {
      case Some(idxName) =>
        val idxDir = dir.resolve(idxName)
        val posts = graft.Tables.sidecar(spark, idxDir.resolve("posts").toString)
          .where(if (vocab.isEmpty) lit(false)
            else col("token").isin(vocab: _*))
          .groupBy(col("token") +: pG: _*)
          .agg(sum(col("n_docs")).as("df"),
            collect_set(col("file")).as("files"))
          .collect()
        val stats = graft.Tables.sidecar(spark, idxDir.resolve("stats").toString)
          .groupBy(pG: _*)
          .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
            coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"))
          .collect()
        val o = partOpt.size // field offset: (token[, part], df, files)
        val cand = posts.flatMap(_.getSeq[String](2 + o)).distinct.toSeq
        val dfRows = posts.map(r => (r.getString(0),
          if (partOpt.isEmpty) "" else r.getString(1),
          r.getLong(1 + o))).toSeq
        val rows =
          if (cand.isEmpty) full().where(lit(false)) else scan(cand)
        (dfRows, stats.toSeq, rows)
      case None =>
        val all = full()
        val stats = all
          .groupBy(partOpt.toSeq
            .map(pc => col(pc).cast("string").as("part")): _*)
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(size(split(col(colName), " "))), lit(0L))
              .as("sum_dl"))
          .collect()
        val dfRows =
          if (vocab.isEmpty) Seq.empty[(String, String, Long)]
          else all
            .select(partOpt.toSeq
              .map(pc => col(pc).cast("string").as("part")) :+
              explode(array_distinct(split(col(colName), " ")))
                .as("token"): _*)
            .where(col("token").isin(vocab: _*))
            .groupBy(col("token") +: pG: _*)
            .agg(count(lit(1)).as("df"))
            .collect().map(r => (r.getString(0),
              if (partOpt.isEmpty) "" else r.getString(1),
              r.getLong(1 + partOpt.size))).toSeq
        (dfRows, stats.toSeq, all)
    }
    // per-(part?) corpus totals -> avgdl (the single-query derivation)
    val totals = statRows.map { r =>
      val o = partOpt.size
      val pv = if (partOpt.isEmpty) "" else r.getString(0)
      pv -> (r.getLong(o), r.getLong(o + 1))
    }.toMap
    val present = dfRows.filter { case (_, pv, df) =>
      df > 0L && totals.contains(pv)
    }.sortBy(r => (r._2, r._1))
    val qidT = qtok.schema("qid").dataType.catalogString
    val idT = rows.schema.fields
      .find(_.name.equalsIgnoreCase(idCol))
      .map(_.dataType.catalogString).getOrElse("bigint")
    def empty: DataFrame =
      spark.range(0).select(col("id").cast(qidT).as("qid"),
        lit(1).as("rank"), col("id").cast(idT).as(idCol),
        lit(0L).as("n_terms"), lit(0.0).as("score"))
    if (present.isEmpty) return empty
    import spark.implicits._
    // (part?, term) -> (idf, avgdl) — driver-computed with the same
    // math.log as the single-query path, so scores match bit-for-bit;
    // the per-slice avgdl rides the same broadcast frame
    val idfDf = present.map { case (t, pv, df) =>
      val (nDocs, sumDl) = totals(pv)
      (t, pv, math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5)),
        sumDl.toDouble / math.max(1L, nDocs))
    }.toDF("term", "part", "idf", "avgdl")
    val docTerms = rows
      .select(Seq(col(idCol).as("doc_id"),
        size(toks).cast("double").as("dl"), explode(toks).as("term")) ++
        partOpt.map(pc => col(pc).cast("string").as("part")): _*)
      .where(col("term").isin(present.map(_._1).distinct: _*))
      .groupBy(Seq(col("doc_id"), col("term")) ++ pG: _*)
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    rank(docTerms
      .join(broadcast(
        if (partOpt.isEmpty) idfDf.drop("part") else idfDf), joinKeys)
      .select(Seq(col("doc_id"), col("term"), partFx.as("part_fx")) ++
        pG: _*)
      .join(broadcast(qtok), joinKeys))
  }

  /** Above this many distinct batch terms the batch join abandons the
    * driver-side idf map and candidate-file union for the fully
    * relational fallback (guide §5: the driver does bounded work only). */
  private val JoinVocabLimit = 1 << 16

  /** Best-effort translation of a scope predicate to V2 filters — the
    * conjunct shapes the zone maps can classify (`=`, `IN`, `<`, `<=`,
    * `>`, `>=`, `AND`; column vs literal, either side, both the parsed-
    * SQL and the operator-DSL ASTs). None = some conjunct is outside the
    * provable subset → callers fall back to the exact scoped recompute. */
  private def scopeFilters(scope: org.apache.spark.sql.Column)
      : Option[Seq[org.apache.spark.sql.sources.Filter]] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
      EqualTo => CEq, GreaterThan => CGt, GreaterThanOrEqual => CGe,
      In => CIn, LessThan => CLt, LessThanOrEqual => CLe, Expression,
      Literal}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
      UnresolvedFunction}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.sources._
    def fname(f: UnresolvedFunction): String =
      f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case f: UnresolvedFunction if fname(f) == "and" =>
        f.arguments.flatMap(conjuncts)
      case x => Seq(x)
    }
    def nameOf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        Some(a.name)
      case _ => None
    }
    def ext(l: Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)
    def cmp(op: String, a: Expression, l: Literal,
        flipped: Boolean): Option[Filter] = nameOf(a).flatMap { n =>
      (op, flipped) match {
        case ("=", _) | ("==", _) => Some(EqualTo(n, ext(l)))
        case (">", false) => Some(GreaterThan(n, ext(l)))
        case (">", true) => Some(LessThan(n, ext(l)))
        case (">=", false) => Some(GreaterThanOrEqual(n, ext(l)))
        case (">=", true) => Some(LessThanOrEqual(n, ext(l)))
        case ("<", false) => Some(LessThan(n, ext(l)))
        case ("<", true) => Some(GreaterThan(n, ext(l)))
        case ("<=", false) => Some(LessThanOrEqual(n, ext(l)))
        case ("<=", true) => Some(GreaterThanOrEqual(n, ext(l)))
        // unhandled comparator: not provable → callers fall back to the
        // exact scoped recompute instead of a MatchError (r17 hygiene)
        case _ => None
      }
    }
    val ops = Set("=", "==", ">", ">=", "<", "<=")
    def one(e: Expression): Option[Filter] = e match {
      case CEq(a, l: Literal) => cmp("=", a, l, flipped = false)
      case CEq(l: Literal, a) => cmp("=", a, l, flipped = true)
      case CGt(a, l: Literal) => cmp(">", a, l, flipped = false)
      case CGt(l: Literal, a) => cmp(">", a, l, flipped = true)
      case CGe(a, l: Literal) => cmp(">=", a, l, flipped = false)
      case CGe(l: Literal, a) => cmp(">=", a, l, flipped = true)
      case CLt(a, l: Literal) => cmp("<", a, l, flipped = false)
      case CLt(l: Literal, a) => cmp("<", a, l, flipped = true)
      case CLe(a, l: Literal) => cmp("<=", a, l, flipped = false)
      case CLe(l: Literal, a) => cmp("<=", a, l, flipped = true)
      case CIn(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        nameOf(a).map(In(_,
          vs.map(v => ext(v.asInstanceOf[Literal])).toArray))
      case f: UnresolvedFunction
        if ops(fname(f)) && f.arguments.size == 2 =>
        f.arguments match {
          case Seq(a, l: Literal) => cmp(fname(f), a, l, flipped = false)
          case Seq(l: Literal, a) => cmp(fname(f), a, l, flipped = true)
          case _ => None
        }
      case f: UnresolvedFunction
        if fname(f) == "in" && f.arguments.size >= 2 &&
          f.arguments.tail.forall(_.isInstanceOf[Literal]) =>
        nameOf(f.arguments.head).map(In(_,
          f.arguments.tail.map(v => ext(v.asInstanceOf[Literal])).toArray))
      case _ => None
    }
    val cs = conjuncts(org.apache.spark.sql.GraftExpressionBridge
      .catalystExpression(scope)).map(one)
    if (cs.nonEmpty && cs.forall(_.isDefined)) Some(cs.flatten) else None
  }

  /** SCOPED BM25 top-k — ranking statistics over a DECLARED sub-corpus:
    * the per-domain relevance shape (per-language IDF, per-tenant
    * ranking, "BM25 over the last 30 days"), where a term common in one
    * domain but rare in another must score against ITS domain's df, not
    * the corpus's. Index-served when every live file is PROVABLY inside
    * or outside the scope by its zone maps (partition-pure or
    * range-aligned layouts — the usual case when the scope is the
    * partition column): df/N/avgdl sum over exactly the in-scope files'
    * stat rows, candidates prune to in-scope posting files, and the
    * statistics scoping costs metadata reads only — at 100 TB a
    * per-domain ranking reads no row outside its domain. Any file the
    * zone maps cannot decide (a CUT file, or a scope conjunct outside
    * the provable subset) falls back to the exact scoped recompute —
    * same answer, no pruning: correctness never depends on layout
    * discipline. The scope re-applies row-level either way (a no-op on
    * provable files; it guards membership, not statistics). */
  def bm25TopKScoped(spark: SparkSession, table: String, colName: String,
      idCol: String, terms: Seq[String], k: Int,
      scope: org.apache.spark.sql.Column): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "BM25 SEARCH")
    applyStalePolicy(spark, mt.dir, colName, "BM25 SEARCH")
    val m = Manifest.read(mt.dir).getOrElse(
      throw new IllegalStateException(s"BM25 SEARCH: no manifest at ${mt.dir}"))
    def fallback(): DataFrame = {
      val all = spark.table(table).where(scope)
      val stats = all.agg(count(lit(1)),
        coalesce(sum(size(split(col(colName), " "))), lit(0L)))
        .collect().head
      val dfMap = terms.map { t =>
        t -> all.where(array_contains(split(col(colName), " "), t)).count()
      }.toMap
      bm25Rank(spark, dfMap, stats.getLong(0), stats.getLong(1), all,
        colName, idCol, terms, k)
    }
    // PIN ROUTE (r16 — the C221 pattern): a BY PARTITION index whose
    // scope is EXACTLY a partition pin serves the pinned slices'
    // df/N/avgdl from the sidecar's own part keys — per-domain ranking
    // statistics on ANY layout, no zone-map provability consulted (and
    // no per-file proof loop at metadata time: the sidecar rows are
    // already slice-keyed, the 100 TB date/tenant shape's fast path).
    val pinServe: Option[DataFrame] =
      freshIdxPart(spark, m, colName) match {
        case Some((idxName, Some(pc))) =>
          partPinsOf(m, scope, pc, strict = true).map { pins =>
            val idxDir = mt.dir.resolve(idxName)
            val posts = graft.Tables.sidecar(spark, idxDir.resolve("posts").toString)
              .where(col("token").isin(terms: _*) &&
                col("part").isin(pins: _*))
              .groupBy("token")
              .agg(sum(col("n_docs")).as("df"),
                collect_set(col("file")).as("files"))
              .collect()
            val stats = graft.Tables.sidecar(spark, idxDir.resolve("stats").toString)
              .where(col("part").isin(pins: _*))
              .agg(coalesce(sum(col("n_docs")), lit(0L)),
                coalesce(sum(col("sum_dl")), lit(0L)))
              .collect().head
            val cand = posts.flatMap(_.getSeq[String](2)).distinct.toSeq
            val dfMap = posts.map(r => r.getString(0) -> r.getLong(1)).toMap
            val rows =
              if (cand.isEmpty) spark.table(table).where(lit(false))
              else scanFiles(spark, mt.dir, cand).where(scope)
            bm25Rank(spark, dfMap, stats.getLong(0), stats.getLong(1),
              rows, colName, idCol, terms, k)
          }
        case _ => None
      }
    if (pinServe.isDefined) return pinServe.get
    (freshIdx(spark, m, colName), scopeFilters(scope)) match {
      case (Some(idxName), Some(fs)) =>
        val liveEntries = m.entries.filter(_.rows > 0)
        val inF = liveEntries.filter(e =>
          fs.forall(f => ManifestScanBuilder.mustMatchAll(f, e.stats)))
          .map(_.name)
        val inSet = inF.toSet
        val cut = liveEntries.exists(e => !inSet(e.name) &&
          fs.forall(f => ManifestScanBuilder.mightMatch(f, e.stats)))
        if (cut) fallback()
        else {
          val idxDir = mt.dir.resolve(idxName)
          val posts = graft.Tables.sidecar(spark, idxDir.resolve("posts").toString)
            .where(col("token").isin(terms: _*) &&
              col("file").isin(inF: _*))
            .groupBy("token")
            .agg(sum(col("n_docs")).as("df"),
              collect_set(col("file")).as("files"))
            .collect()
          val stats = graft.Tables.sidecar(spark, idxDir.resolve("stats").toString)
            .where(col("file").isin(inF: _*))
            .agg(coalesce(sum(col("n_docs")), lit(0L)),
              coalesce(sum(col("sum_dl")), lit(0L)))
            .collect().head
          val cand = posts.flatMap(_.getSeq[String](2)).distinct.toSeq
          val dfMap = posts.map(r => r.getString(0) -> r.getLong(1)).toMap
          val rows =
            if (cand.isEmpty) spark.table(table).where(lit(false))
            else scanFiles(spark, mt.dir, cand).where(scope)
          bm25Rank(spark, dfMap, stats.getLong(0), stats.getLong(1), rows,
            colName, idCol, terms, k)
        }
      case _ => fallback()
    }
  }

  /** TIME-TRAVEL-CONSISTENT BM25 — rank a TABLE SNAPSHOT with the index
    * version that covered it (the [[graft.sources.VectorIndex.searchAsOf]]
    * rule applied to the text tier): the snapshot manifest carries the
    * `tokenidx.` prop as of that commit, so df/N/avgdl come from the
    * HISTORICAL stat rows, candidates from the historical posting
    * lists, and the ranking scan pins both the files and the snapshot —
    * documents appended (or deletion-vectored) after the version
    * neither rank nor shift anyone's score. A snapshot whose index was
    * stale or reaped recomputes everything from the snapshot-pinned
    * scan (text has no trained state, so the fallback IS what a rebuild
    * at that version would answer — no index required at all). */
  def bm25TopKAsOf(spark: SparkSession, table: String, colName: String,
      idCol: String, terms: Seq[String], k: Int, version: Int): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "BM25 SEARCH AS OF")
    val m = Manifest.readSnapshot(mt.dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"BM25 SEARCH AS OF: snapshot $version expired or never existed " +
          s"at ${mt.dir}"))
    val names = m.entries.filter(_.rows > 0).map(_.name)
    def snapScan(fs: Seq[String]): DataFrame =
      spark.read.format("graft.sources.GraftManifestSink")
        .option("path", mt.dir.toString)
        .option("snapshot", version.toString)
        .option("files", fs.mkString(","))
        .load()
    val idx = m.props.collectFirst {
      case (kk, v) if kk.equalsIgnoreCase(PropPrefix + colName) => v
    }.flatMap { v =>
      val fields = v.split(";", -1)
      // servable = digest-fresh AND every sidecar this path reads
      // present (posts/ AND stats/) — a partially reaped historical dir
      // takes the retrain-from-snapshot fallback, not an opaque parquet
      // path error (r14 advice)
      if (fields(1) == digestOf(m) &&
        Files.exists(mt.dir.resolve(fields(0)).resolve("posts")) &&
        Files.exists(mt.dir.resolve(fields(0)).resolve("stats")))
        Some(fields(0))
      else None
    }
    val (dfs, nDocs, sumDl, rows) = idx match {
      case Some(idxName) =>
        val idxDir = mt.dir.resolve(idxName)
        val posts = graft.Tables.sidecar(spark, idxDir.resolve("posts").toString)
          .where(col("token").isin(terms: _*))
          .groupBy("token")
          .agg(sum(col("n_docs")).as("df"),
            collect_set(col("file")).as("files"))
          .collect()
        val stats = graft.Tables.sidecar(spark, idxDir.resolve("stats").toString)
          .agg(coalesce(sum(col("n_docs")), lit(0L)),
            coalesce(sum(col("sum_dl")), lit(0L)))
          .collect().head
        val cand = posts.flatMap(_.getSeq[String](2)).distinct.toSeq
        val dfMap = posts.map(r => r.getString(0) -> r.getLong(1)).toMap
        val rows =
          if (cand.isEmpty) spark.table(table).where(lit(false))
          else snapScan(cand)
        (dfMap, stats.getLong(0), stats.getLong(1), rows)
      case None =>
        val all = snapScan(names)
        val stats = all.agg(count(lit(1)),
          coalesce(sum(size(split(col(colName), " "))), lit(0L)))
          .collect().head
        val dfMap = terms.map { t =>
          t -> all.where(array_contains(split(col(colName), " "), t)).count()
        }.toMap
        (dfMap, stats.getLong(0), stats.getLong(1), all)
    }
    bm25Rank(spark, dfs, nDocs, sumDl, rows, colName, idCol, terms, k)
  }

  /** SCOPED time travel (r15 — the text tier's last AS OF refusal
    * lifted): [[bm25TopKScoped]]'s per-domain statistics served at a
    * VERSION — df/N/avgdl over the SNAPSHOT's scoped sub-corpus. The
    * zone maps that prove the scope come from the snapshot manifest's
    * own entries (a post-version file never enters `inF`), the
    * historical posting/stat rows restrict to the proven files, and the
    * ranking scan pins both the files and the snapshot's DV state. A
    * scope the snapshot's layout can't prove (or a stale/reaped index)
    * recomputes everything from the snapshot-pinned scoped scan — the
    * exact same answer, no pruning. */
  def bm25TopKScopedAsOf(spark: SparkSession, table: String,
      colName: String, idCol: String, terms: Seq[String], k: Int,
      scope: org.apache.spark.sql.Column, version: Int): DataFrame = {
    val mt = ManifestTable.resolve(spark, table, "BM25 SEARCH AS OF")
    val m = Manifest.readSnapshot(mt.dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"BM25 SEARCH AS OF: snapshot $version expired or never existed " +
          s"at ${mt.dir}"))
    val names = m.entries.filter(_.rows > 0).map(_.name)
    def snapScan(fs: Seq[String]): DataFrame =
      spark.read.format("graft.sources.GraftManifestSink")
        .option("path", mt.dir.toString)
        .option("snapshot", version.toString)
        .option("files", fs.mkString(","))
        .load()
    def fallback(): DataFrame = {
      val all = snapScan(names).where(scope)
      val stats = all.agg(count(lit(1)),
        coalesce(sum(size(split(col(colName), " "))), lit(0L)))
        .collect().head
      val dfMap = terms.map { t =>
        t -> all.where(array_contains(split(col(colName), " "), t)).count()
      }.toMap
      bm25Rank(spark, dfMap, stats.getLong(0), stats.getLong(1), all,
        colName, idCol, terms, k)
    }
    val idxWithPart = m.props.collectFirst {
      case (kk, v) if kk.equalsIgnoreCase(PropPrefix + colName) => v
    }.flatMap { v =>
      val fields = v.split(";", -1)
      if (fields(1) == digestOf(m) &&
        Files.exists(mt.dir.resolve(fields(0)).resolve("posts")) &&
        Files.exists(mt.dir.resolve(fields(0)).resolve("stats")))
        Some((fields(0), propPartCol(v)))
      else None
    }
    val idx = idxWithPart.map(_._1)
    // PIN ROUTE at the version (r16 — live/AS OF symmetry): a snapshot
    // whose index was BY PARTITION serves a strictly-pinned scope from
    // the HISTORICAL part-keyed stat/posting rows, the ranking scan
    // pinned to the snapshot — per-domain statistics at a version on
    // ANY layout, no zone maps consulted
    val pinServe: Option[DataFrame] = idxWithPart match {
      case Some((idxName, Some(pc))) =>
        partPinsOf(m, scope, pc, strict = true).map { pins =>
          val idxDir = mt.dir.resolve(idxName)
          val posts = graft.Tables.sidecar(spark, idxDir.resolve("posts").toString)
            .where(col("token").isin(terms: _*) &&
              col("part").isin(pins: _*))
            .groupBy("token")
            .agg(sum(col("n_docs")).as("df"),
              collect_set(col("file")).as("files"))
            .collect()
          val stats = graft.Tables.sidecar(spark, idxDir.resolve("stats").toString)
            .where(col("part").isin(pins: _*))
            .agg(coalesce(sum(col("n_docs")), lit(0L)),
              coalesce(sum(col("sum_dl")), lit(0L)))
            .collect().head
          val cand = posts.flatMap(_.getSeq[String](2)).distinct.toSeq
          val dfMap = posts.map(r => r.getString(0) -> r.getLong(1)).toMap
          val rows =
            if (cand.isEmpty) spark.table(table).where(lit(false))
            else snapScan(cand).where(scope)
          bm25Rank(spark, dfMap, stats.getLong(0), stats.getLong(1),
            rows, colName, idCol, terms, k)
        }
      case _ => None
    }
    if (pinServe.isDefined) return pinServe.get
    (idx, scopeFilters(scope)) match {
      case (Some(idxName), Some(fs)) =>
        val liveEntries = m.entries.filter(_.rows > 0)
        val inF = liveEntries.filter(e =>
          fs.forall(f => ManifestScanBuilder.mustMatchAll(f, e.stats)))
          .map(_.name)
        val inSet = inF.toSet
        val cut = liveEntries.exists(e => !inSet(e.name) &&
          fs.forall(f => ManifestScanBuilder.mightMatch(f, e.stats)))
        if (cut) fallback()
        else {
          val idxDir = mt.dir.resolve(idxName)
          val posts = graft.Tables.sidecar(spark, idxDir.resolve("posts").toString)
            .where(col("token").isin(terms: _*) &&
              col("file").isin(inF: _*))
            .groupBy("token")
            .agg(sum(col("n_docs")).as("df"),
              collect_set(col("file")).as("files"))
            .collect()
          val stats = graft.Tables.sidecar(spark, idxDir.resolve("stats").toString)
            .where(col("file").isin(inF: _*))
            .agg(coalesce(sum(col("n_docs")), lit(0L)),
              coalesce(sum(col("sum_dl")), lit(0L)))
            .collect().head
          val cand = posts.flatMap(_.getSeq[String](2)).distinct.toSeq
          val dfMap = posts.map(r => r.getString(0) -> r.getLong(1)).toMap
          val rows =
            if (cand.isEmpty) spark.table(table).where(lit(false))
            else snapScan(cand).where(scope)
          bm25Rank(spark, dfMap, stats.getLong(0), stats.getLong(1), rows,
            colName, idCol, terms, k)
        }
      case _ => fallback()
    }
  }

  /** The shared BM25 scoring tail: per-row tf/dl math against the given
    * df/N/sum_dl statistics, top-k with the deterministic (score, id)
    * tie-break — the q_text_bm25 formula (k1=1.2, b=0.75, fixed-point
    * 1e9 floor). */
  private def bm25Rank(spark: SparkSession, dfs: Map[String, Long],
      nDocs: Long, sumDl: Long, rows: DataFrame, colName: String,
      idCol: String, terms: Seq[String], k: Int): DataFrame = {
    val avgdl = sumDl.toDouble / math.max(1L, nDocs)
    val toks = split(col(colName), " ")
    val dl = size(toks).cast("double")
    val parts = terms.filter(t => dfs.getOrElse(t, 0L) > 0L).map { t =>
      val df = dfs(t).toDouble
      val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
      val tf = size(filter(toks, x => x === t)).cast("double")
      (floor(lit(1e9) * lit(idf) * (tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / lit(avgdl))))
        .cast("long"),
        when(tf > 0, 1L).otherwise(0L))
    }
    if (parts.isEmpty)
      return spark.range(0).select(col("id").as(idCol),
        lit(0L).as("n_terms"), lit(0.0).as("score")).limit(0)
    val scoreFx = parts.map { case (p, hit) => when(hit > 0, p).otherwise(0L) }
      .reduce(_ + _)
    val nTerms = parts.map(_._2).reduce(_ + _)
    rows
      .select(col(idCol), nTerms.as("n_terms"), scoreFx.as("score_fx"))
      .where(col("n_terms") > 0)
      .orderBy(desc("score_fx"), col(idCol))
      .limit(k)
      .select(col(idCol), col("n_terms"),
        (col("score_fx").cast("double") / 1e9).as("score"))
  }
}
