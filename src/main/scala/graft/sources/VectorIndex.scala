package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType,
  IntegerType, LongType, StringType}

import graft.llm.{Clustering, Dedup, Similarity}
import graft.llm.PortableHash.dotFixed

/** FILE-LEVEL IVF VECTOR INDEX over a managed table's `array<float>`
  * column — ANN with file skipping, the embedding twin of [[TextIndex]]:
  * the corpus is k-means-clustered once at build time, and a probe search
  * plans ONLY the files containing its cluster's members.
  *
  * The index stores two parquet sidecars under `_vecidx_<id>/` inside the
  * table directory:
  *  - `cents/` — the trained centroids `(c_id, c_emb)` (k×dim floats;
  *    plus a `part` column for BY PARTITION sub-indexes);
  *  - `posts/` — the list→file posting `(list_id, file)`: which files
  *    hold at least one vector of each cluster.
  * published by a props-only commit `vecidx.<col>` ([[Prop]]: index dir,
  * anchor column, SHA-256 digest over the indexed file names — the
  * [[TextIndex]] freshness contract — the assignment-algorithm version,
  * and the build's LISTS/SAMPLE/COARSE-PROBES/BY-PARTITION policy, so
  * serving always re-derives exactly as the build did).
  *
  * SEARCH SEMANTICS ARE EXACT IVF, file pruning is only I/O: a probe
  * assigns to its nearest stored centroid, candidate files come from the
  * posting list, and the scan re-derives each row's cluster from the SAME
  * broadcast centroids before filtering to the probe's list — so the
  * result equals the IVF query computed without any index (and the DuckDB
  * oracle replays it from the raw data). A stale index (file set changed)
  * RETRAINS on the fly from the declared anchor column — same output as a
  * fresh rebuild, no pruning — so correctness never depends on rebuild
  * discipline. Deletion vectors change no file names: the posting just
  * over-approximates and the scan-side filter is exact either way.
  *
  * Anchors are declared DDL-side (`CREATE VECTOR INDEX ON t (col)
  * ANCHORS (idCol)`): the k lowest idCol rows seed the one-refinement
  * Lloyd loop ([[graft.llm.Clustering.kmeansAssign]]), k corpus-derived
  * (n/64 capped at ⌈√n⌉, floor 8 — [[graft.llm.Clustering.kFor]]); row
  * assignment is the two-level coarse-quantizer join
  * ([[graft.llm.Similarity.assignListsHier]]), so build work is O(n·√k)
  * per Lloyd round and no broadcast exceeds the ≤√n-row centroid table.
  * Deterministic anchors are what make the trained geometry replayable
  * by an external oracle — the engine's reproducible-training-data story
  * applied to the index itself.
  *
  * Scale: build is the Lloyd loop's cost (broadcast assign + k×dim
  * fixed-point aggregate) plus one distinct over (list, file) — metadata
  * volume. Search reads k centroids and one posting list driver-side
  * (the usual planning class), then scans candidate files only: at 100 TB
  * a probe touches ~1/k of the table's files. */
object VectorIndex {
  private[sources] val PropPrefix = "vecidx."
  private val Iters = 1 // one Lloyd refinement — the IVF training standard

  /** Row-assignment algorithm version stamped into the prop: `h2` = the
    * two-level coarse-quantizer assignment
    * ([[graft.llm.Similarity.assignListsHier]]). Serving re-derives each
    * row's cluster with the CURRENT assigner, so an index whose postings
    * were written by a different assigner (the pre-h2 flat argmax) can
    * silently lose rows — a row in stored list A that re-derives to list
    * B never passes the list filter. A version mismatch therefore makes
    * the index STALE (the onStale policy applies) and [[refresh]]
    * migrates it with a full rebuild — the [[TextIndex]]
    * legacy-stats-format rule applied to geometry. */
  private[sources] val AssignVersion = "h2"

  /** Decoded `vecidx.<col>` prop. Legacy 3-field props (flat-assigner
    * builds) parse with `version = "flat"` and no build options; current
    * props carry the assignment version plus the build's
    * LISTS/SAMPLE/COARSE-PROBES policy so serve-time re-derivation and
    * stale in-query retrains replay what THIS build did, not the
    * defaults (a coarse-probe mismatch between build and serve would
    * silently drop rows, the same failure mode as the assigner-version
    * mismatch). */
  private[sources] final case class Prop(idxName: String, idCol: String,
      digest: String, version: String, lists: Option[Long],
      sample: Option[Long], coarse: Int = 2,
      partCol: Option[String] = None, dvDigest: Option[String] = None) {
    def isCurrent(curDigest: String): Boolean =
      digest == curDigest && version == AssignVersion
  }
  private[sources] def parseProp(v: String): Prop = v.split(";", -1) match {
    case Array(i, c, d) => Prop(i, c, d, "flat", None, None)
    case Array(i, c, d, ver, l, s) => Prop(i, c, d, ver,
      Some(l).filter(_ != "-").map(_.toLong),
      Some(s).filter(_ != "-").map(_.toLong))
    case Array(i, c, d, ver, l, s, cp) => Prop(i, c, d, ver,
      Some(l).filter(_ != "-").map(_.toLong),
      Some(s).filter(_ != "-").map(_.toLong), cp.toInt)
    case Array(i, c, d, ver, l, s, cp, pc) => Prop(i, c, d, ver,
      Some(l).filter(_ != "-").map(_.toLong),
      Some(s).filter(_ != "-").map(_.toLong), cp.toInt,
      Some(pc).filter(_ != "-"))
    case Array(i, c, d, ver, l, s, cp, pc, dvd) => Prop(i, c, d, ver,
      Some(l).filter(_ != "-").map(_.toLong),
      Some(s).filter(_ != "-").map(_.toLong), cp.toInt,
      Some(pc).filter(_ != "-"), Some(dvd).filter(_ != "-"))
    case _ => throw new IllegalStateException(
      s"unreadable vecidx prop '$v' — expected 3 (legacy) or 6-9 fields")
  }
  private def renderProp(idxName: String, idCol: String, digest: String,
      lists: Option[Long], sample: Option[Long], coarse: Int,
      partCol: Option[String] = None, dvDigest: String = "-"): String =
    Seq(idxName, idCol, digest, AssignVersion,
      lists.map(_.toString).getOrElse("-"),
      sample.map(_.toString).getOrElse("-"), coarse.toString,
      partCol.getOrElse("-"), dvDigest).mkString(";")

  /** The stale/legacy retrain shared by every in-query replay path:
    * exactly what a CREATE VECTOR INDEX rebuild would train — the
    * PERSISTED LISTS/SAMPLE policy (not the defaults), corpus-derived k
    * otherwise. */
  private def retrainGeometry(rows: DataFrame,
      p: Prop): (DataFrame, DataFrame) = retrainGeometry(rows, p, rows.count())

  private def retrainGeometry(rows: DataFrame, p: Prop,
      n: Long): (DataFrame, DataFrame) = {
    val k = p.lists.getOrElse(graft.llm.Clustering.kFor(n))
    p.sample match {
      case Some(cap) =>
        graft.llm.Clustering.kmeansAssignSampled(rows, k, Iters, cap, n,
          p.coarse)
      case None => graft.llm.Clustering.kmeansAssign(rows, k, Iters, p.coarse)
    }
  }

  /** The RANKED twin of [[retrainGeometry]] for BY PARTITION slices
    * (ranked seeds, sample-aware since r13) — what a slice rebuild
    * trains, replayed in-query by the stale paths. */
  private def retrainGeometryRanked(rows: DataFrame, p: Prop,
      n: Long): (DataFrame, DataFrame) = {
    val k = p.lists.getOrElse(graft.llm.Clustering.kFor(n))
    p.sample match {
      case Some(cap) =>
        graft.llm.Clustering.kmeansAssignRankedSampled(rows, k, Iters, cap,
          n, p.coarse)
      case None =>
        graft.llm.Clustering.kmeansAssignRanked(rows, k, Iters, p.coarse)
    }
  }

  /** What a QUERY does when it meets a stale index
    * (`spark.graft.index.onStale`): `retrain` (default) recomputes the
    * geometry from the declared anchors inside the query — always correct
    * and oracle-replayable from the current corpus, but at scale that is
    * a surprise full-table clustering per probe; `refresh` runs the
    * bounded incremental [[refresh]] first (dead postings drop, new files
    * assign against the stored geometry) and then serves from the index —
    * the production posture; `fail` refuses loudly, for deployments that
    * want rebuild discipline enforced rather than absorbed. */
  private[sources] def onStale(spark: SparkSession): String =
    spark.conf.get("spark.graft.index.onStale", "retrain") match {
      case p @ ("retrain" | "refresh" | "fail") => p
      case other => throw new IllegalArgumentException(
        s"spark.graft.index.onStale=$other — expected retrain|refresh|fail")
    }

  /** `onStale=refresh` makes a READ publish: the catch-up takes the
    * table's commit lock and writes a new `_manifest` version (index
    * prop swap) from inside a SELECT-shaped query. That is the intended
    * production posture — one reader absorbs the churn, every later
    * reader serves indexed — but it surprises deployments whose query
    * path holds read-only storage credentials (the publish would fail
    * halfway through a commit). `spark.graft.index.readOnly = true`
    * declares such a deployment: the refresh policy then refuses UP
    * FRONT with guidance, shared by both index tiers. */
  private[sources] def refuseRefreshIfReadOnly(spark: SparkSession,
      op: String): Unit =
    if (spark.conf.get("spark.graft.index.readOnly", "false").toBoolean)
      throw new IllegalStateException(
        s"$op: spark.graft.index.onStale=refresh would PUBLISH a new " +
          "index version from inside a read (commit lock + _manifest " +
          "write), but spark.graft.index.readOnly=true — use " +
          "onStale=retrain|fail, or run REFRESH … INDEX from a writer")

  private def staleRefused(op: String, table: String): Nothing =
    throw new IllegalStateException(
      s"$op: the vector index on $table is STALE and " +
        "spark.graft.index.onStale=fail — run REFRESH VECTOR INDEX (or " +
        "CREATE VECTOR INDEX to retrain) first")

  private def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
  private def digestOf(m: Manifest): String =
    sha256(m.entries.filter(_.rows > 0).map(_.name).sorted.mkString("\n"))

  /** DV-identity digest — the [[TextIndex.dvDigestOf]] contract shared
    * verbatim: serving freshness stays names-only (a DV'd row never
    * surfaces from a fetch, so pruning is always admissible), but a
    * dv-digest divergence tells [[refresh]] that posting/code/band rows
    * still carry dead vec_ids (wasting PQ rerank budget and candidate
    * fetches) until the touched files re-derive against the stored
    * geometry. */
  private def dvDigestOf(m: Manifest): String = TextIndex.dvDigestOf(m)

  /** The `(file, dv)` coverage sidecar — same two jobs as the text
    * tier's: drift attribution when the dv digest diverges, and coverage
    * for files whose rows are all deletion-vectored (no posting survives
    * the masked scan). */
  private def writeCovered(spark: SparkSession, idxDir: Path, m: Manifest,
      names: Seq[String]): Unit = {
    import spark.implicits._
    val byName = m.entries.map(e => e.name -> e.dv.map(_._1)).toMap
    names.map(n => (n, byName.get(n).flatten.orNull))
      .toDF("file", "dv")
      .coalesce(1).write.parquet(idxDir.resolve("covered").toString)
  }

  /** (covered files, drifted files) for a refresh: coverage from the
    * `covered/` sidecar when present (it alone records files whose rows
    * are ALL deletion-vectored), else `fallbackIndexed` (the legacy
    * posts-derived recovery); drift = covered files whose recorded dv
    * identity no longer matches (legacy fallback: any live indexed file
    * that currently carries a dv — conservative, bounded by the DV'd
    * files, and this refresh writes `covered/` so the next compares
    * exactly). */
  private def coverageAndDrift(spark: SparkSession, oldDir: Path,
      m: Manifest, fallbackIndexed: => Set[String])
      : (Set[String], Set[String]) = {
    val liveEntries = m.entries.filter(_.rows > 0)
    val coveredPath = oldDir.resolve("covered")
    if (java.nio.file.Files.exists(coveredPath)) {
      val rec = graft.Tables.sidecar(spark, coveredPath.toString).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      (rec.keySet, liveEntries.filter(e => rec.contains(e.name) &&
        rec(e.name) != e.dv.map(_._1).orNull).map(_.name).toSet)
    } else {
      val indexed = fallbackIndexed
      (indexed, liveEntries
        .filter(e => indexed(e.name) && e.dv.isDefined)
        .map(_.name).toSet)
    }
  }

  /** The named files of the table at `dir` — pinned to the snapshot (its
    * files AND deletion-vector state) when one is given. */
  private def scanFiles(spark: SparkSession, dir: Path, names: Seq[String],
      snapshot: Option[Int] = None): DataFrame = {
    val r = spark.read.format("graft.sources.GraftManifestSink")
      .option("path", dir.toString)
    snapshot.fold(r)(v => r.option("snapshot", v.toString))
      .option("files", names.mkString(","))
      .load()
  }

  private def checkCols(m: Manifest, colName: String, idCol: String): Unit = {
    def field(c: String) =
      m.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE VECTOR INDEX: column $c not in table schema " +
            s"(${m.schema.fieldNames.mkString(", ")})"))
    field(colName).dataType match {
      case ArrayType(FloatType, _) => ()
      case t => throw new IllegalArgumentException(
        s"CREATE VECTOR INDEX: column $colName is ${t.sql}, " +
          "only ARRAY<FLOAT> columns index")
    }
    field(idCol) // anchors column must exist; any orderable type works
  }

  /** Train (k-means, one refinement, anchors = k lowest `idCol` rows) and
    * publish. `lists` overrides the corpus-derived k
    * ([[graft.llm.Clustering.kFor]]) — the geometry is a POLICY: a
    * deployment whose SemDeDup/pair-join work dominates raises k for
    * smaller cells, one tuning recall-per-probe lowers it. `sample`
    * trains the quantizer on a deterministic ~sample-row subset and
    * assigns the full corpus once
    * ([[graft.llm.Clustering.kmeansAssignSampled]]) — the FAISS-style
    * build whose training cost is bounded regardless of corpus size.
    * `byPartition` trains ONE GEOMETRY PER PARTITION VALUE
    * ([[buildByPartition]]) so partition pruning composes with list
    * pruning. Returns (files indexed, clusters trained). */
  def build(spark: SparkSession, dir: Path, colName: String,
      idCol: String, lists: Option[Long] = None,
      sample: Option[Long] = None, coarse: Int = 2,
      byPartition: Boolean = false): (Long, Long) = {
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"CREATE VECTOR INDEX: no manifest at $dir"))
    checkCols(m, colName, idCol)
    if (byPartition)
      return buildByPartition(spark, dir, m, colName, idCol, lists, sample,
        coarse)
    val names = m.entries.filter(_.rows > 0).map(_.name)
    val idxName = s"_vecidx_${java.util.UUID.randomUUID.toString.take(8)}"
    val idxDir = dir.resolve(idxName)
    val k = if (names.isEmpty) {
      // the index invariant: published ⇒ cents/posts exist (empty here),
      // so fresh searches answer empty and refresh remaps cleanly
      emptyCents(spark, withPart = false)
        .write.parquet(idxDir.resolve("cents").toString)
      emptyPosts(spark, withPart = false)
        .write.parquet(idxDir.resolve("posts").toString)
      0L
    } else {
      val base = scanFiles(spark, dir, names)
        .select(col(idCol).as("vec_id"), lit(0).as("label"),
          col(colName).as("embedding"), col("_file").as("file"))
      val n = base.count()
      val k = lists.map { l =>
        if (l < 1) throw new IllegalArgumentException(
          s"CREATE VECTOR INDEX: LISTS $l is invalid — at least 1 cluster")
        l
      }.getOrElse(graft.llm.Clustering.kFor(n))
      // the Lloyd loop seeds from rows with id < k (what makes the trained
      // geometry replayable by an external oracle) — a sparse id column
      // that leaves the anchor range empty must fail loudly, not train a
      // zero-centroid index
      if (base.filter(col("vec_id") < k).limit(1).count() == 0L)
        throw new IllegalArgumentException(
          s"CREATE VECTOR INDEX: anchor column $idCol has no values below " +
            s"k=$k — anchors are the k lowest-id rows, so the id range " +
            "must start at 0 (dense ids; re-key or pick another column)")
      val rows = base.select("vec_id", "label", "embedding")
      val (assigned, cents) = sample match {
        case Some(cap) =>
          if (cap < 1) throw new IllegalArgumentException(
            s"CREATE VECTOR INDEX: SAMPLE $cap is invalid — at least 1 row")
          graft.llm.Clustering.kmeansAssignSampled(rows, k, Iters, cap, n,
            coarse)
        case None => graft.llm.Clustering.kmeansAssign(rows, k, Iters, coarse)
      }
      cents.write.parquet(idxDir.resolve("cents").toString)
      // MATERIALIZE the (vec_id, list_id) assignment once: both the
      // postings write and the PQ codes write consume it, and the
      // assignment lineage is a full O(n·√k) pass — without the cut the
      // codes write would re-run it over the whole corpus. Two narrow
      // columns, spill-capable.
      val listsDf = assigned.select(col("vec_id"), col("list_id"))
        .localCheckpoint()
      // re-join the assignment to its files via the id column (the Lloyd
      // helper's schema is fixed); one shuffle on the id, distinct postings
      listsDf
        .join(base.select(col("vec_id"), col("file")), "vec_id")
        .select(col("list_id"), col("file")).distinct()
        .write.parquet(idxDir.resolve("posts").toString)
      writePqSidecars(idxDir, base, listsDf, n)
      writeBandSidecars(idxDir, base, listsDf, n)
      k
    }
    writeCovered(spark, idxDir, m, names)
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(m)
      Manifest.write(dir, cur.copy(props = cur.props +
        (PropPrefix + colName.toLowerCase ->
          renderProp(idxName, idCol, digestOf(m), lists, sample, coarse,
            dvDigest = dvDigestOf(m)))))
    }
    (names.length.toLong, k)
  }

  /** PER-PARTITION SUB-INDEXES (`CREATE VECTOR INDEX … BY PARTITION`):
    * one trained geometry + posting set per partition VALUE of the
    * table's declared partition column, so partition pruning composes
    * with list pruning — a partition-pinned probe loads ~k_p centroids
    * and plans ~1/k_p of ONE partition's files, never touching the rest
    * of the table (the DiskANN/Milvus partition-key serving shape).
    * Storage: the same `cents/`/`posts/` sidecars with a `part` string
    * column (the partition value through Spark's string cast) — the
    * whole centroid table is Σ_p k_p rows, still metadata-class.
    * Seeding is RANKED ([[graft.llm.Clustering.kmeansAssignRanked]]):
    * a sub-corpus's ids need not start at 0, so anchors are the k_p
    * lowest-id rows by rank — deterministic and oracle-replayable like
    * the dense-anchor rule. The driver loop is bounded by the partition
    * count (the usual planning-class iteration); each partition's Lloyd
    * work is the standard O(n_p·√k_p). SAMPLE composes per partition
    * (r13 — the r12 refusal was wrong at scale: ONE partition of a
    * 100 TB table can be terabytes, where sampled training is exactly
    * what keeps the sub-index buildable): each slice trains on its own
    * ranked-seeded decimation
    * ([[graft.llm.Clustering.kmeansAssignRankedSampled]]) and assigns
    * its full slice once. PQ sidecars are built PER PARTITION (r13):
    * ranked-seeded codebooks + codes keyed by `part`, so `RERANK …
    * USING PQ` serves pinned, multi-pin and global searches — ADC
    * compression is what bounds candidate I/O inside a terabyte
    * partition. */
  private def buildByPartition(spark: SparkSession, dir: Path, m: Manifest,
      colName: String, idCol: String, lists: Option[Long],
      sample: Option[Long], coarse: Int): (Long, Long) = {
    sample.foreach { cap =>
      if (cap < 1) throw new IllegalArgumentException(
        s"CREATE VECTOR INDEX: SAMPLE $cap is invalid — at least 1 row")
    }
    val partCols = Manifest.partitionCols(dir)
    if (partCols.size != 1) throw new IllegalArgumentException(
      "CREATE VECTOR INDEX … BY PARTITION: the table must be PARTITIONED " +
        s"BY exactly one column (found: ${partCols.mkString(", ")})")
    val partCol = partCols.head
    val names = m.entries.filter(_.rows > 0).map(_.name)
    val idxName = s"_vecidx_${java.util.UUID.randomUUID.toString.take(8)}"
    val idxDir = dir.resolve(idxName)
    var totalK = 0L
    if (names.nonEmpty) {
      // ONE scan, every slice trained in one part-keyed dataflow (r14 —
      // the build itself no longer loops the driver over partitions);
      // the string form of the partition value is what the sidecars
      // store and the serve-time pin compares against
      val base = scanFiles(spark, dir, names)
        .select(col(idCol).as("vec_id"), lit(0).as("label"),
          col(colName).as("embedding"), col("_file").as("file"),
          col(partCol).cast("string").as("part"))
      val (cents, posts, cb, codes, lshanch, bands, k) =
        buildPartitionSlices(spark, base, lists, sample, coarse)
      totalK = k
      emptyCents(spark, withPart = true).unionByName(cents)
        .write.parquet(idxDir.resolve("cents").toString)
      emptyPosts(spark, withPart = true).unionByName(posts)
        .write.parquet(idxDir.resolve("posts").toString)
      // per-partition PQ sidecars — every non-empty slice has a ranked
      // codebook (never empty, unlike the global id-bounded rule), so
      // presence is all-or-nothing per index version
      cb.coalesce(1).write.parquet(idxDir.resolve("pqcb").toString)
      codes.write.parquet(idxDir.resolve("codes").toString)
      // per-partition incremental-dedup sidecars (r14): slice-keyed LSH
      // panels + corpus band rows — what lets semDedupIncremental serve
      // a date-partitioned corpus without a second global index
      lshanch.coalesce(1)
        .write.parquet(idxDir.resolve("lshanch").toString)
      bands.write.parquet(idxDir.resolve("bands").toString)
    } else {
      // a published index ALWAYS has cents/posts sidecars — an empty
      // table publishes empty ones, so fresh searches answer empty and
      // refreshes remap cleanly instead of dying on a missing path
      emptyCents(spark, withPart = true)
        .write.parquet(idxDir.resolve("cents").toString)
      emptyPosts(spark, withPart = true)
        .write.parquet(idxDir.resolve("posts").toString)
    }
    writeCovered(spark, idxDir, m, names)
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(m)
      Manifest.write(dir, cur.copy(props = cur.props +
        (PropPrefix + colName.toLowerCase ->
          renderProp(idxName, idCol, digestOf(m), lists, sample, coarse,
            Some(partCol), dvDigest = dvDigestOf(m)))))
    }
    (names.length.toLong, totalK)
  }

  /** Empty sidecar frames with the exact stored schemas — what an empty
    * table's build publishes (the index invariant: published ⇒ cents/
    * posts exist), and the schema anchor for the slice unions. */
  private def emptyCents(spark: SparkSession, withPart: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = Seq(StructField("c_id", IntegerType),
      StructField("c_emb", ArrayType(FloatType))) ++
      (if (withPart) Seq(StructField("part", StringType)) else Nil)
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[org.apache.spark.sql.Row], StructType(fields))
  }
  private def emptyPosts(spark: SparkSession, withPart: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = (if (withPart) Seq(StructField("part", StringType)) else Nil) ++
      Seq(StructField("list_id", IntegerType), StructField("file", StringType))
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[org.apache.spark.sql.Row], StructType(fields))
  }

  /** Train EVERY partition value's sub-geometry + sidecars from `base`
    * (vec_id, label, embedding, file, part) in ONE part-keyed dataflow
    * (r14 — formerly a sequential per-slice driver loop: per-slice
    * count + Lloyd + codebook + band jobs made the BUILD itself
    * O(parts) in driver round-trips at a daily-partitioned table).
    * Per part this trains exactly what the per-slice loop trained —
    * ranked SAMPLE-aware Lloyd ([[graft.llm.Clustering
    * .kmeansAssignRankedByPart]]), ranked PQ codebooks
    * ([[trainPqCodebookRankedByPart]]), per-slice size-derived LSH
    * geometry + RANKED panels — so the sidecar CONTENTS are
    * row-identical and every serve-path hash holds. The one driver
    * read is a bounded parts-row counts collect (it sizes each
    * slice's LSH geometry and the returned Σk). Returns
    * (cents, posts, pqcb, codes, lshanch, bands, Σ k_p). */
  private def buildPartitionSlices(spark: SparkSession, base: DataFrame,
      lists: Option[Long], sample: Option[Long], coarse: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
         Long) = {
    lists.foreach { l =>
      if (l < 1) throw new IllegalArgumentException(
        s"CREATE VECTOR INDEX: LISTS $l is invalid — at least 1 cluster")
    }
    val rows = base.select(col("part"), col("vec_id"), col("label"),
      col("embedding"))
    val (assigned, cents) = graft.llm.Clustering.kmeansAssignRankedByPart(
      rows, Iters, coarse, lists, sample)
    // MATERIALIZE the (part, vec_id, list_id) assignment once: postings,
    // PQ codes and band rows all consume it — three narrow columns,
    // spill-capable (the global build's materialization rule)
    val listsDf = assigned.select(col("part"), col("vec_id"),
      col("list_id")).localCheckpoint()
    // every assignment join below keys on (part, vec_id), never vec_id
    // alone (r15 advice): the ANCHORS id only has to be unique WITHIN a
    // partition, and a date-partitioned corpus commonly repeats ids
    // across slices — a vec_id-only join would cross-wire list_ids
    // between partitions silently
    val files = base.select(col("part"), col("vec_id"), col("file"))
    val posts = listsDf.join(files, Seq("part", "vec_id"))
      .select(col("part"), col("list_id"), col("file")).distinct()
    // per-part RANKED codebooks + codes (each slice's pair equals the
    // per-slice trainer's — the C242 stale-replay helper, reused);
    // MATERIALIZED once: the sidecar write and the encode broadcast
    // both consume it (Σ_p × PqCbK rows)
    val cb = trainPqCodebookRankedByPart(
      base.select(col("part"), col("vec_id"), col("embedding")))
      .coalesce(1).localCheckpoint()
    val codes = encodePqByPart(
        base.select(col("part"), col("vec_id"), col("embedding")),
        cbArrByPart(cb))
      .join(listsDf, Seq("part", "vec_id"))
      .join(files, Seq("part", "vec_id"))
      .select(Seq(col("part"), col("vec_id"), col("list_id"),
        col("file")) ++
        (0 until Similarity.PqM).map(b => col(s"code$b")): _*)
    // the incremental-dedup sidecar pair, every slice in one pass
    val (lshanch, counts) = lshPanelsByPart(spark, rows)
    val bands = graft.llm.Dedup.embeddingBandRowsByPart(
        base.select(col("part"), col("vec_id"), col("embedding"),
          col("file")),
        lshanch, carry = Seq("file"))
      .join(listsDf, Seq("part", "vec_id"))
      .select(col("part"), col("vec_id"), col("band"), col("bkey"),
        col("list_id"), col("file"))
    val totalK = counts.map { case (_, n) =>
      lists.getOrElse(graft.llm.Clustering.kFor(n))
    }.sum
    (cents.select(col("c_id"), col("c_emb"), col("part")), posts,
      cb.select(col("c_id"), col("c_emb"), col("part")), codes, lshanch,
      bands, totalK)
  }

  /** Per-slice LSH geometry from slice sizes (ONE bounded parts-row
    * collect) + RANKED anchor panels via a rank window, every slice in
    * one pass — what a partitioned build stores as `lshanch/` and what
    * the stale replay re-derives. `rows` carries (part, vec_id,
    * embedding). Returns the materialized one-row-per-part panel (part,
    * n_bands, bits, anchors) and the slice sizes. */
  private def lshPanelsByPart(spark: SparkSession,
      rows: DataFrame): (DataFrame, Array[(String, Long)]) = {
    val counts = rows.groupBy("part").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val geo0 = spark.createDataFrame(counts.toSeq.map { case (pv, n) =>
      val (nb, bt) = Dedup.embeddingLshParams(n)
      (pv, nb, bt)
    }).toDF("part", "n_bands", "bits")
    val anchByPart = rows.select(col("part"), col("vec_id"),
        col("embedding"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("part").orderBy("vec_id")))
      .join(broadcast(geo0.select(col("part"),
        (col("n_bands") * col("bits")).as("slots"))), "part")
      .where(col("rk") <= col("slots"))
      .groupBy("part")
      .agg(array_sort(collect_list(struct(col("vec_id").as("a_id"),
        col("embedding").as("a_emb")))).as("anchors"))
    (geo0.join(anchByPart, "part")
      .select(col("part"), col("n_bands"), col("bits"), col("anchors"))
      .coalesce(1).localCheckpoint(), counts)
  }

  /** The pin(s) a BY PARTITION probe must carry: some conjunct of the
    * predicate of shape `<partCol> = <literal>` (either side) or
    * `<partCol> IN (<literals>)` — the multi-pin serving shape ("search
    * these two dates"). Literals route to sub-indexes through the SAME
    * rendering the build used: cast to the TABLE's partition-column
    * type, then to string — so a DATE pin renders "2024-06-01" (not the
    * internal day count), and an integer literal against a DOUBLE
    * partition renders "1.0". A literal that cannot cast to the
    * partition type pins nothing (it can match no partition); a
    * predicate with no pinning conjunct returns None (the loud no-pin
    * refusal). */
  private[sources] def partitionPins(predicate: org.apache.spark.sql.Column,
      partCol: String,
      partType: org.apache.spark.sql.types.DataType): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo,
      Expression, In, Literal}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
      UnresolvedFunction}
    def fname(f: UnresolvedFunction): String =
      f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
    // the Column AST arrives two ways: parsed SQL (`EqualTo`/`In`/`And`)
    // or the operator DSL (ColumnNode → `UnresolvedFunction("=" | "in" |
    // "and")`)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
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
    def isPart(e: Expression): Boolean =
      nameOf(e).exists(_.equalsIgnoreCase(partCol))
    def lits(es: Seq[Expression]): Option[Seq[Literal]] =
      if (es.forall(_.isInstanceOf[Literal]))
        Some(es.map(_.asInstanceOf[Literal]))
      else None
    def pinsOf(e: Expression): Option[Seq[Literal]] = e match {
      case EqualTo(a, l: Literal) if isPart(a) => Some(Seq(l))
      case EqualTo(l: Literal, a) if isPart(a) => Some(Seq(l))
      case In(a, vs) if isPart(a) => lits(vs)
      case f: UnresolvedFunction
        if (fname(f) == "=" || fname(f) == "==") && f.arguments.size == 2 =>
        f.arguments match {
          case Seq(a, l: Literal) if isPart(a) => Some(Seq(l))
          case Seq(l: Literal, a) if isPart(a) => Some(Seq(l))
          case _ => None
        }
      case f: UnresolvedFunction
        if fname(f) == "in" && f.arguments.headOption.exists(isPart) =>
        lits(f.arguments.tail)
      case _ => None
    }
    // a pin literal that cannot cast to the partition type refuses
    // LOUDLY: a plain ANSI scan would raise the same cast error at
    // evaluation, and silently answering empty would hide the typo
    def litStr(l: Literal): String =
      try {
        val tz = Some(org.apache.spark.sql.internal.SQLConf.get
          .sessionLocalTimeZone)
        Option(org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Cast(l, partType, tz),
          org.apache.spark.sql.types.StringType, tz).eval(null))
          .map(_.toString).getOrElse(throw new IllegalArgumentException(""))
      } catch {
        case _: Exception => throw new IllegalArgumentException(
          s"VECTOR SEARCH: partition pin value $l does not cast to " +
            s"$partCol's type (${partType.sql})")
      }
    conjuncts(org.apache.spark.sql.GraftExpressionBridge
        .catalystExpression(predicate))
      .flatMap(pinsOf).headOption
      .map(_.map(litStr).distinct)
  }

  /** PQ candidate-compression sidecars ([[searchPq]]): `pqcb/` — the
    * TRAINED codebook ([[trainPqCodebook]]: per-subspace Lloyd over a
    * deterministic sample, seeded from the lowest-anchor rows, so the
    * compression is oracle-replayable like the centroids) — and
    * `codes/` — per-row `(vec_id, list_id, file, code0..7)`, ~PqM small
    * ints instead of dim floats. At 100 TB the ADC pre-rank reads this
    * narrow sidecar instead of the embedding column — the 4-16×
    * candidate-I/O cut of the standard IVF-PQ architecture. Skipped
    * (with no published marker) when the anchor id range has no rows
    * below PqCbK — [[searchPq]] then refuses loudly. */
  /** One-row codebook array from a (c_id, c_emb) relation. */
  private def pqCbArr(cb: DataFrame): DataFrame =
    cb.agg(
      array_sort(collect_list(struct(col("c_id"), col("c_emb")))).as("cents"))

  /** PQ-encode `rows` (needs an `embedding` column) against the one-row
    * codebook array — adds code0..code{PqM-1}. Shared by build, refresh
    * and the stale-retrain replay. */
  private def encodePq(rows: DataFrame, cbArr: DataFrame): DataFrame = {
    (0 until Similarity.PqM)
      .foldLeft(rows.crossJoin(broadcast(cbArr))) { (df, b) =>
        df.withColumn(s"code$b",
          Similarity.pqCode(col("cents"), col("embedding"), b))
      }
  }

  /** TRAIN the per-subspace PQ codebook: production PQ (Jégou et al.
    * 2011) runs k-means per 8-dim block; this is that, made
    * deterministic and oracle-replayable like every trained artifact in
    * the index tier. Seeds = the blocks of the PqCbK lowest-anchor rows;
    * training rows = a deterministic hash decimation to ~PqTrainCap rows
    * (anchors force-included — the C214 bounded-build rule, so codebook
    * training cost is constant at any corpus size); ONE Lloyd refinement:
    * every training row's block takes its min-L2 seed codeword (the same
    * fixed-point (x·x − 2·x·c) + c·c assembly as encoding, first-min
    * tie-break), then each (subspace, code) cell re-centers to its
    * fixed-point mean (float-narrowed); a codeword no training block
    * chose keeps its seed value. The codewords assemble back into
    * COMPOSITE 64-dim rows (row j's block b = codeword j of subspace b),
    * so the stored `pqcb/` sidecar, [[encodePq]] and the ADC scorer are
    * unchanged — only the geometry the codes quantize against improves.
    * Dataflow: one codegen pass over the sample + one (PqM × PqCbK)-cell
    * aggregate — never a per-row collect. Returns (c_id = 0-based
    * codeword position, c_emb); empty when no row sits below PqCbK. */
  private[sources] def trainPqCodebook(base: DataFrame, n: Long): DataFrame = {
    import graft.llm.Similarity.{PqCbK, PqTrainCap, PqTrainJ}
    import graft.llm.PortableHash.permute
    val seeds = base.filter(col("vec_id") < PqCbK)
      .select(col("vec_id").cast(IntegerType).as("c_id"),
        col("embedding").as("c_emb"))
    if (seeds.limit(1).count() == 0) return seeds
    val m = math.max(1L, n / PqTrainCap)
    trainPqCodebookFrom(seeds, base.where(
      permute(col("vec_id"), PqTrainJ) % m === 0 || col("vec_id") < PqCbK))
  }

  /** [[trainPqCodebook]] with RANKED seeding — the BY PARTITION slices'
    * rule: a sub-corpus's ids need not start at 0, so the codebook seeds
    * are the PqCbK LOWEST-id rows BY RANK (c_id = 0-based rank, the
    * [[graft.llm.Clustering.kmeansAssignRanked]] convention) and the
    * training decimation force-includes them through the ranked id cap.
    * Never empty for a non-empty slice — the id-bounded rule can come up
    * empty on sparse ranges; ranked cannot. */
  private[sources] def trainPqCodebookRanked(base: DataFrame,
      n: Long): DataFrame = {
    import graft.llm.Similarity.{PqCbK, PqTrainCap, PqTrainJ}
    import graft.llm.PortableHash.permute
    val seeds = base.orderBy("vec_id").limit(PqCbK)
      .withColumn("c_id",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("vec_id")) - 1).cast(IntegerType))
      .select(col("c_id"), col("embedding").as("c_emb"))
    val m = math.max(1L, n / PqTrainCap)
    val cap = graft.llm.Clustering.rankedIdCap(
      base.select(col("vec_id")), PqCbK)
    trainPqCodebookFrom(seeds, base.where(
      permute(col("vec_id"), PqTrainJ) % m === 0 || col("vec_id") <= cap))
  }

  /** The shared Lloyd refinement of a PQ codebook from explicit seeds +
    * training rows (one coding pass + one (PqM × PqCbK)-cell aggregate —
    * see [[trainPqCodebook]] for the full contract). */
  private def trainPqCodebookFrom(seeds: DataFrame,
      train: DataFrame): DataFrame = {
    import graft.llm.Similarity.{PqM, PqDim, pqBlock, pqCode}
    // one broadcast row, referenced by the coding pass AND the
    // empty-codeword fallback — materialize once
    val seedArr = pqCbArr(seeds).localCheckpoint()
    val coded = (0 until PqM).foldLeft(train.crossJoin(broadcast(seedArr))) {
      (df, b) => df.withColumn(s"code$b",
        pqCode(col("cents"), col("embedding"), b))
    }
    val flat = coded.select(posexplode(array((0 until PqM).map(b =>
        struct(lit(b).as("b"), col(s"code$b").as("code"),
          pqBlock(col("embedding"), b).as("blk"))): _*)).as(Seq("p", "s")))
      .select(col("s.b").as("b"), col("s.code").as("code"),
        col("s.blk").as("blk"))
    val means = flat.groupBy("b", "code")
      .agg(count(lit(1)).as("nv"),
        graft.functions.VectorSumFixed.sum(col("blk"), PqDim).as("vs"))
      .select(col("b"), col("code"),
        transform(col("vs"), x => (x / col("nv")).cast(FloatType)).as("c8"))
    val seedFlat = seedArr
      .select(posexplode(col("cents")).as(Seq("j", "st")))
      .select(col("j").cast(IntegerType).as("code"),
        col("st.c_emb").as("emb"))
      .select(col("code"), posexplode(array((0 until PqM).map(b =>
          struct(lit(b).as("b"), pqBlock(col("emb"), b).as("sblk"))): _*))
        .as(Seq("p", "s")))
      .select(col("code"), col("s.b").as("b"), col("s.sblk").as("sblk"))
    seedFlat.join(means, Seq("b", "code"), "left")
      .select(col("code"),
        struct(col("b"), coalesce(col("c8"), col("sblk")).as("cblk")).as("bb"))
      .groupBy("code")
      .agg(flatten(transform(array_sort(collect_list(col("bb"))),
        st => st.getField("cblk"))).as("c_emb"))
      .select(col("code").as("c_id"), col("c_emb"))
  }

  /** [[trainPqCodebookRanked]] for EVERY partition slice in ONE
    * part-keyed dataflow (r14 — the stale-replay path of the partitioned
    * PQ tier): per-part ranked seeds (the PqCbK lowest-id rows by rank),
    * per-part decimation with the ranked id cap, one coding pass + one
    * (part × PqM × PqCbK)-cell aggregate. Each slice's rows equal
    * [[trainPqCodebookRanked]] run per slice — the hash contract.
    * `base` carries (part, vec_id, embedding); output
    * (part, c_id, c_emb). */
  private def trainPqCodebookRankedByPart(base: DataFrame): DataFrame = {
    import graft.llm.Similarity.{PqCbK, PqTrainCap, PqTrainJ, PqM, PqDim,
      pqBlock, pqCode}
    import graft.llm.PortableHash.permute
    import org.apache.spark.sql.types.LongType
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy("vec_id")
    val ranked = base.select(col("part"), col("vec_id"), col("embedding"))
      .withColumn("rk", row_number().over(w))
    val seedRows = ranked.where(col("rk") <= PqCbK)
    // one row per part: the decimation modulus + ranked force-include cap
    val pol = base.groupBy("part").agg(count(lit(1)).as("n"))
      .select(col("part"), greatest(lit(1L),
        floor(col("n") / lit(PqTrainCap)).cast(LongType)).as("m"))
      .join(seedRows.groupBy("part")
        .agg(max(col("vec_id").cast(LongType)).as("idcap")), "part")
    val train = base.join(broadcast(pol), "part")
      .where(permute(col("vec_id"), PqTrainJ) % col("m") === 0 ||
        col("vec_id") <= col("idcap"))
      .select(col("part"), col("vec_id"), col("embedding"))
    // per-part seed arrays — consumed by the coding pass AND the
    // empty-codeword fallback; materialize once
    val seedArr = seedRows
      .select(col("part"), (col("rk") - 1).cast(IntegerType).as("c_id"),
        col("embedding").as("c_emb"))
      .groupBy("part")
      .agg(array_sort(collect_list(struct(col("c_id"), col("c_emb"))))
        .as("cents"))
      .coalesce(1).localCheckpoint()
    val coded = (0 until PqM).foldLeft(
        train.join(broadcast(seedArr), "part")) { (df, b) =>
      df.withColumn(s"code$b", pqCode(col("cents"), col("embedding"), b))
    }
    val flat = coded.select(col("part"),
        posexplode(array((0 until PqM).map(b =>
          struct(lit(b).as("b"), col(s"code$b").as("code"),
            pqBlock(col("embedding"), b).as("blk"))): _*)).as(Seq("px", "s")))
      .select(col("part"), col("s.b").as("b"), col("s.code").as("code"),
        col("s.blk").as("blk"))
    val means = flat.groupBy("part", "b", "code")
      .agg(count(lit(1)).as("nv"),
        graft.functions.VectorSumFixed.sum(col("blk"), PqDim).as("vs"))
      .select(col("part"), col("b"), col("code"),
        transform(col("vs"),
          x => (x / col("nv")).cast(FloatType)).as("c8"))
    val seedFlat = seedArr
      .select(col("part"), posexplode(col("cents")).as(Seq("j", "st")))
      .select(col("part"), col("j").cast(IntegerType).as("code"),
        col("st.c_emb").as("emb"))
      .select(col("part"), col("code"),
        posexplode(array((0 until PqM).map(b =>
          struct(lit(b).as("b"), pqBlock(col("emb"), b).as("sblk"))): _*))
        .as(Seq("px", "s")))
      .select(col("part"), col("code"), col("s.b").as("b"),
        col("s.sblk").as("sblk"))
    seedFlat.join(means, Seq("part", "b", "code"), "left")
      .select(col("part"), col("code"),
        struct(col("b"),
          coalesce(col("c8"), col("sblk")).as("cblk")).as("bb"))
      .groupBy("part", "code")
      .agg(flatten(transform(array_sort(collect_list(col("bb"))),
        st => st.getField("cblk"))).as("c_emb"))
      .select(col("part"), col("code").as("c_id"), col("c_emb"))
  }

  /** LSH band-key sidecars for the incremental-SemDeDup tier — the C69
    * stored-signature pattern applied to embeddings, so a daily batch
    * never re-hashes or re-clusters the corpus:
    *  - `lshanch/` — ONE row: the geometry (n_bands, bits, from
    *    [[graft.llm.Dedup.embeddingLshParams]] over the build corpus) and
    *    the stored anchor panel ([[graft.llm.Dedup.bandAnchorsRanked]] —
    *    RANKED, so sparse id ranges still fill every hyperplane slot);
    *  - `bands/` — per corpus row × band: (vec_id, band, bkey, list_id,
    *    file) — which sign-band buckets the row occupies, its stored
    *    cluster, and the file holding its embedding. Narrow like `codes/`
    *    (four ints/longs + the file name), written once per build and
    *    remapped file-bounded on refresh.
    * A batch then derives ITS band keys against the stored panel and
    * joins this sidecar — per-batch cost is O(\|batch\| × bucket), and
    * only candidate FILES are ever scanned for corpus embeddings. */
  private def writeBandSidecars(idxDir: Path, base: DataFrame,
      lists: DataFrame, n: Long): Unit = {
    val (nBands, bits) = graft.llm.Dedup.embeddingLshParams(n)
    // consumed twice (the sidecar write + the band derivation's
    // broadcast) — materialize the one-row panel
    val anch = graft.llm.Dedup.bandAnchorsRanked(
        base.select(col("vec_id"), col("embedding")), nBands, bits)
      .select(lit(nBands).as("n_bands"), lit(bits).as("bits"),
        col("anchors"))
      .localCheckpoint()
    anch.coalesce(1).write.parquet(idxDir.resolve("lshanch").toString)
    graft.llm.Dedup.embeddingBandRowsWith(
        base.select(col("vec_id"), col("embedding"), col("file")),
        anch.select(col("anchors")), nBands, bits, carry = Seq("file"))
      .join(lists, "vec_id")
      .select(col("vec_id"), col("band"), col("bkey"), col("list_id"),
        col("file"))
      .write.parquet(idxDir.resolve("bands").toString)
  }

  private def writePqSidecars(idxDir: Path,
      base: DataFrame, lists: DataFrame, n: Long): Unit = {
    val cb = trainPqCodebook(base, n)
    if (cb.limit(1).count() == 0) return
    cb.coalesce(1).write.parquet(idxDir.resolve("pqcb").toString)
    val coded = encodePq(base, pqCbArr(cb))
    coded.join(lists, "vec_id")
      .select(Seq(col("vec_id"), col("list_id"), col("file")) ++
        (0 until Similarity.PqM).map(b => col(s"code$b")): _*)
      .write.parquet(idxDir.resolve("codes").toString)
  }

  /** Refresh a stale index KEEPING the trained geometry — how a
    * production IVF index absorbs table churn without retraining.
    * Postings are (list, file) pairs, so ANY file-set divergence remaps
    * in one bounded pass: dead files' postings DROP (their rows left the
    * live set — OPTIMIZE/DELETE/MERGE rewrote or removed them), new
    * files' rows assign against the STORED centroids (per-row broadcast
    * math over the new files only) and their postings union in. Search
    * stays exact w.r.t. the stored centroids because rows re-derive
    * their cluster from the same array — after a pure compaction
    * (identical rows, new layout) the refreshed index answers exactly
    * what a full retrain would, at the cost of scanning only the
    * rewritten files. After a DELETE/MERGE the kept geometry is a
    * corpus-level approximation (standard IVF operations practice); the
    * oracle-certified recall audits monitor the drift, and CREATE VECTOR
    * INDEX retrains on demand. Returns (files newly indexed,
    * remapped-after-rewrite?). */
  def refresh(spark: SparkSession, dir: Path, colName: String): (Long, Boolean) = {
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"REFRESH VECTOR INDEX: no manifest at $dir"))
    val key = PropPrefix + colName.toLowerCase
    val prop = m.props.getOrElse(key, throw new IllegalStateException(
      s"REFRESH VECTOR INDEX: no vector index on $colName — CREATE it first"))
    val p = parseProp(prop)
    if (p.isCurrent(digestOf(m)) && p.dvDigest.contains(dvDigestOf(m)))
      return (0L, false)
    if (p.version != AssignVersion)
      // postings written by a different row assigner don't commute with
      // the serve-time re-derivation — migrate with a full rebuild under
      // the build's own LISTS/SAMPLE policy (the TextIndex
      // legacy-stats-format rule applied to geometry)
      return (build(spark, dir, colName, p.idCol, p.lists, p.sample,
        p.coarse, byPartition = p.partCol.isDefined)._1, true)
    if (p.partCol.isDefined)
      return refreshByPartition(spark, dir, key, colName, m, p)
    val (oldIdx, idCol) = (p.idxName, p.idCol)
    val oldDir = dir.resolve(oldIdx)
    val (indexedFiles, drift) = coverageAndDrift(spark, oldDir, m,
      graft.Tables.sidecar(spark, oldDir.resolve("posts").toString)
        .select(col("file")).distinct().collect().map(_.getString(0)).toSet)
    val live = m.entries.filter(_.rows > 0).map(_.name)
    val newFiles = live.filterNot(f => indexedFiles(f) && !drift(f))
    val dead = ((indexedFiles -- live.toSet) ++ drift).toSeq.sorted
    if (p.isCurrent(digestOf(m)) && newFiles.isEmpty && dead.isEmpty) {
      // names fresh, nothing drifted — the dv digest was just unknown
      // (pre-dv-digest prop): upgrade the prop (and missing coverage) in
      // place, no sidecar rewrite. The exists-check + write runs UNDER
      // the commit lock so concurrent auto-refresh readers never race
      // the covered/ parquet write (r14 advice).
      ManifestLock.withLock(dir) {
        if (!java.nio.file.Files.exists(oldDir.resolve("covered")))
          writeCovered(spark, oldDir, m, live)
        val cur = Manifest.read(dir).getOrElse(m)
        Manifest.write(dir, cur.copy(props = cur.props +
          (key -> renderProp(oldIdx, idCol, digestOf(m), p.lists, p.sample,
            p.coarse, dvDigest = dvDigestOf(m)))))
      }
      return (0L, false)
    }
    val cents = graft.Tables.sidecar(spark, oldDir.resolve("cents").toString)
    val kept = graft.Tables.sidecar(spark, oldDir.resolve("posts").toString)
      .where(!col("file").isin(dead: _*))
    val newRows =
      if (newFiles.isEmpty) None
      else Some(scanFiles(spark, dir, newFiles)
        .select(col(idCol).as("vec_id"), lit(0).as("label"),
          col(colName).as("embedding"), col("_file").as("file")))
    // MATERIALIZE the new-file assignment once (bounded by the new
    // files): the postings write and the PQ codes write both consume it
    val newLists = newRows.map { rows =>
      graft.llm.Similarity.assignListsHierLocal(
          rows.select("vec_id", "label", "embedding"), cents, p.coarse)
        .select(col("vec_id"), col("list_id"))
        .join(rows.select(col("vec_id"), col("file")), "vec_id")
        .localCheckpoint()
    }
    val posts = newLists.fold(kept)(nl =>
      kept.unionByName(nl.select(col("list_id"), col("file")).distinct()))
    val idxName = s"_vecidx_${java.util.UUID.randomUUID.toString.take(8)}"
    val idxDir = dir.resolve(idxName)
    cents.write.parquet(idxDir.resolve("cents").toString)
    posts.write.parquet(idxDir.resolve("posts").toString)
    // the PQ sidecars ride the refresh: the codebook is trained state
    // (carried, like the centroids); codes remap like postings — dead
    // files' rows drop, new files' rows code against the stored codebook
    if (java.nio.file.Files.exists(oldDir.resolve("pqcb"))) {
      val cbDf = graft.Tables.sidecar(spark, oldDir.resolve("pqcb").toString)
      cbDf.coalesce(1).write.parquet(idxDir.resolve("pqcb").toString)
      val keptCodes = graft.Tables.sidecar(spark, oldDir.resolve("codes").toString)
        .where(!col("file").isin(dead: _*))
      val codes = (newRows, newLists) match {
        case (Some(rows), Some(nl)) =>
          val coded = encodePq(rows, pqCbArr(cbDf))
          keptCodes.unionByName(
            coded.join(nl.select(col("vec_id"), col("list_id")), "vec_id")
              .select(Seq(col("vec_id"), col("list_id"), col("file")) ++
                (0 until Similarity.PqM).map(b => col(s"code$b")): _*))
        case _ => keptCodes
      }
      codes.write.parquet(idxDir.resolve("codes").toString)
    }
    // the band sidecars ride the refresh exactly like the PQ pair: the
    // anchor panel + geometry are trained state (carried, like the
    // centroids and the codebook); band rows remap like postings — dead
    // files' rows drop, new files' rows hash against the STORED panel
    // (an index built before the incremental tier has no sidecar and
    // stays without one until a full rebuild)
    if (java.nio.file.Files.exists(oldDir.resolve("lshanch"))) {
      val anchDf = graft.Tables.sidecar(spark, oldDir.resolve("lshanch").toString)
        .localCheckpoint()
      anchDf.coalesce(1).write.parquet(idxDir.resolve("lshanch").toString)
      val keptBands = graft.Tables.sidecar(spark, oldDir.resolve("bands").toString)
        .where(!col("file").isin(dead: _*))
      val bands = (newRows, newLists) match {
        case (Some(rows), Some(nl)) =>
          val meta = anchDf.select(col("n_bands"), col("bits"))
            .collect().head
          keptBands.unionByName(
            graft.llm.Dedup.embeddingBandRowsWith(
                rows.select(col("vec_id"), col("embedding")),
                anchDf.select(col("anchors")), meta.getInt(0), meta.getInt(1))
              .join(nl, "vec_id")
              .select(col("vec_id"), col("band"), col("bkey"),
                col("list_id"), col("file")))
        case _ => keptBands
      }
      bands.write.parquet(idxDir.resolve("bands").toString)
    }
    writeCovered(spark, idxDir, m, live)
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(m)
      Manifest.write(dir, cur.copy(props = cur.props +
        (key -> renderProp(idxName, idCol, digestOf(m), p.lists, p.sample,
          p.coarse, dvDigest = dvDigestOf(m)))))
    }
    (newFiles.length.toLong, dead.nonEmpty)
  }

  /** Partition-scoped refresh of a BY PARTITION index: only partitions
    * whose file set changed retrain (dead files' partitions ∪ new files'
    * partitions); every other partition's sub-geometry and postings
    * carry over untouched — the bounded-churn story specialized to
    * partitions: compacting or appending one day of a date-partitioned
    * table retrains ONE day's sub-index, never the table's. (Unlike the
    * global index, a changed partition RETRAINS rather than remaps: its
    * geometry is partition-local, so retraining it is already bounded by
    * the partition — the same argument that lets BY PARTITION skip
    * SAMPLE.) */
  private def refreshByPartition(spark: SparkSession, dir: Path,
      key: String, colName: String, m: Manifest, p: Prop): (Long, Boolean) = {
    val partCol = p.partCol.get
    val oldDir = dir.resolve(p.idxName)
    val oldCents = graft.Tables.sidecar(spark, oldDir.resolve("cents").toString)
    val oldPosts = graft.Tables.sidecar(spark, oldDir.resolve("posts").toString)
    val (indexedFiles, drift) = coverageAndDrift(spark, oldDir, m,
      oldPosts.select(col("file")).distinct()
        .collect().map(_.getString(0)).toSet)
    val live = m.entries.filter(_.rows > 0).map(_.name)
    val newFiles = live.filterNot(f => indexedFiles(f) && !drift(f))
    val dead = ((indexedFiles -- live.toSet) ++ drift).toSeq.sorted
    if (p.isCurrent(digestOf(m)) && newFiles.isEmpty && dead.isEmpty) {
      // names fresh, nothing drifted — upgrade the pre-dv-digest prop
      // (and missing coverage) in place, no slice retrain; the
      // exists-check + write runs UNDER the commit lock (r14 advice)
      ManifestLock.withLock(dir) {
        if (!java.nio.file.Files.exists(oldDir.resolve("covered")))
          writeCovered(spark, oldDir, m, live)
        val cur = Manifest.read(dir).getOrElse(m)
        Manifest.write(dir, cur.copy(props = cur.props +
          (key -> renderProp(p.idxName, p.idCol, digestOf(m), p.lists,
            p.sample, p.coarse, p.partCol, dvDigest = dvDigestOf(m)))))
      }
      return (0L, false)
    }
    val deadParts =
      if (dead.isEmpty) Seq.empty[String]
      else oldPosts.where(col("file").isin(dead: _*))
        .select("part").distinct().collect().map(_.getString(0)).toSeq
    val newParts =
      if (newFiles.isEmpty) Seq.empty[String]
      else scanFiles(spark, dir, newFiles)
        .select(col(partCol).cast("string").as("part"))
        .distinct().collect().map(_.getString(0)).toSeq
    val affected = (deadParts ++ newParts).distinct.sorted
    val keptCents = oldCents.where(!col("part").isin(affected: _*))
    val keptPosts = oldPosts.where(!col("part").isin(affected: _*))
    // the affected partitions' CURRENT rows: their surviving old files
    // plus the new files (each partition-pure by the clustering contract)
    val affOldFiles = oldPosts.where(col("part").isin(affected: _*))
      .select("file").distinct().collect().map(_.getString(0))
      .filter(live.contains).toSeq
    val affFiles = (affOldFiles ++ newFiles).distinct
    val rebuilt: Option[(DataFrame, DataFrame, DataFrame, DataFrame,
        DataFrame, DataFrame, Long)] =
      if (affFiles.isEmpty) None
      else Some(buildPartitionSlices(spark,
        scanFiles(spark, dir, affFiles)
          .select(col(p.idCol).as("vec_id"), lit(0).as("label"),
            col(colName).as("embedding"), col("_file").as("file"),
            col(partCol).cast("string").as("part"))
          // the affected values only: a surviving file that mixes an
          // unaffected partition's rows must not retrain that slice
          .where(col("part").isin(affected: _*)),
        p.lists, p.sample, p.coarse))
    val idxName = s"_vecidx_${java.util.UUID.randomUUID.toString.take(8)}"
    val idxDir = dir.resolve(idxName)
    rebuilt.fold(keptCents)(r => keptCents.unionByName(r._1))
      .write.parquet(idxDir.resolve("cents").toString)
    rebuilt.fold(keptPosts)(r => keptPosts.unionByName(r._2))
      .write.parquet(idxDir.resolve("posts").toString)
    // PQ rides the partition-scoped refresh: unaffected partitions'
    // codebooks + codes carry over byte-identical, affected partitions'
    // retrain with their slice (a pre-PQ partitioned index stays
    // without sidecars until a full rebuild — mixed per-partition
    // presence would break the all-or-nothing serve check)
    if (java.nio.file.Files.exists(oldDir.resolve("pqcb"))) {
      val keptCb = graft.Tables.sidecar(spark, oldDir.resolve("pqcb").toString)
        .where(!col("part").isin(affected: _*))
      val keptCodes = graft.Tables.sidecar(spark, oldDir.resolve("codes").toString)
        .where(!col("part").isin(affected: _*))
      rebuilt.fold(keptCb)(r => keptCb.unionByName(r._3)).coalesce(1)
        .write.parquet(idxDir.resolve("pqcb").toString)
      rebuilt.fold(keptCodes)(r => keptCodes.unionByName(r._4))
        .write.parquet(idxDir.resolve("codes").toString)
    }
    // the incremental-dedup sidecars ride like the PQ pair: unaffected
    // partitions' panels + band rows carry over, affected partitions'
    // retrain with their slice (a pre-r14 partitioned index stays
    // without them until a full rebuild — all-or-nothing presence)
    if (java.nio.file.Files.exists(oldDir.resolve("lshanch"))) {
      val keptAnch = graft.Tables.sidecar(spark, oldDir.resolve("lshanch").toString)
        .where(!col("part").isin(affected: _*))
      val keptBands = graft.Tables.sidecar(spark, oldDir.resolve("bands").toString)
        .where(!col("part").isin(affected: _*))
      rebuilt.fold(keptAnch)(r => keptAnch.unionByName(r._5)).coalesce(1)
        .write.parquet(idxDir.resolve("lshanch").toString)
      rebuilt.fold(keptBands)(r => keptBands.unionByName(r._6))
        .write.parquet(idxDir.resolve("bands").toString)
    }
    writeCovered(spark, idxDir, m, live)
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(m)
      Manifest.write(dir, cur.copy(props = cur.props +
        (key -> renderProp(idxName, p.idCol, digestOf(m), p.lists, p.sample,
          p.coarse, p.partCol, dvDigest = dvDigestOf(m)))))
    }
    (newFiles.length.toLong, dead.nonEmpty)
  }

  /** One resolved read of the index on `colName`: the table, its manifest
    * — current, or the snapshot at `version` — the decoded prop, and the
    * scan every serve leg reads table rows through. With a version the
    * scan pins the snapshot's files AND its deletion-vector state, so
    * later appends and deletes never leak backward, and the snapshot
    * manifest's OWN `vecidx.` prop names the historical sidecars. */
  private final case class View(spark: SparkSession, table: String,
      colName: String, op: String, version: Option[Int], mt: ManifestTable,
      m: Manifest, p: Prop) {
    val names: Seq[String] = m.entries.filter(_.rows > 0).map(_.name)
    val idxDir: Path = mt.dir.resolve(p.idxName)
    def scan(files: Seq[String]): DataFrame =
      scanFiles(spark, mt.dir, files, version)
    def sidecar(name: String): DataFrame =
      graft.Tables.sidecar(spark, idxDir.resolve(name).toString)
    /** (vec_id, label = 0, embedding) — the Lloyd helper's input schema. */
    def rekey(df: DataFrame): DataFrame =
      df.select(col(p.idCol).as("vec_id"), lit(0).as("label"),
        col(colName).as("embedding"))
    /** [[rekey]] plus the partition value (string form, as the sidecars
      * store it), kept to `pins` when given. */
    def partKey(df: DataFrame, pins: Option[Seq[String]]): DataFrame =
      pinned(df.select(col(p.idCol).as("vec_id"), lit(0).as("label"),
        col(colName).as("embedding"),
        col(p.partCol.get).cast("string").as("part")), pins)
    /** (vec_id, part) of `df`'s rows, kept to `pins` when given. */
    def partIds(df: DataFrame, pins: Option[Seq[String]]): DataFrame =
      pinned(df.select(col(p.idCol).as("vec_id"),
        col(p.partCol.get).cast("string").as("part")), pins)
    /** The predicate's partition pins on a BY PARTITION index. */
    def pinsOf(predicate: Option[Column]): Option[Seq[String]] =
      for (pc <- p.partCol; pred <- predicate;
           ps <- partitionPins(pred, pc, partTypeOf(pc))) yield ps
    def partTypeOf(pc: String): DataType =
      m.schema.fields.find(_.name.equalsIgnoreCase(pc)).map(_.dataType)
        .getOrElse(StringType)
    /** The id column's declared type (not a hard-coded BIGINT — callers
      * unioning across calls would hit a mismatch on an INT-keyed table). */
    def idType: DataType =
      m.schema.fields.find(_.name.equalsIgnoreCase(p.idCol))
        .map(_.dataType).getOrElse(LongType)
    /** The zero-candidate search result, in the ranked path's schema. */
    def empty: DataFrame =
      spark.range(0).select(col("id").cast(idType).as("vec_id"),
        lit(0).as("list_id"), lit(0.0).as("sim"))
  }

  /** The snapshot resolver: the named table's [[ManifestTable]], its
    * manifest (current, or the snapshot at `version` — the op then reads
    * "… AS OF") and the index prop on `colName`. */
  private def resolve(spark: SparkSession, table: String, colName: String,
      op0: String, version: Option[Int]): View = {
    val op = version.fold(op0)(_ => s"$op0 AS OF")
    val mt = ManifestTable.resolve(spark, table, op)
    val m = version match {
      case None => Manifest.read(mt.dir).getOrElse(
        throw new IllegalStateException(s"$op: no manifest at ${mt.dir}"))
      case Some(v) => Manifest.readSnapshot(mt.dir, v).getOrElse(
        throw new IllegalArgumentException(
          s"$op: snapshot $v expired or never existed at ${mt.dir}"))
    }
    val prop = m.props.getOrElse(PropPrefix + colName.toLowerCase,
      throw new IllegalStateException(version match {
        case None => s"$op: no vector index on $table ($colName) — " +
          s"CREATE VECTOR INDEX ON $table ($colName) ANCHORS (<idCol>) first"
        case Some(v) => s"$op: no vector index on $table ($colName) " +
          s"existed as of version $v — the snapshot carries no vecidx prop"
      }))
    View(spark, table, colName, op, version, mt, m, parseProp(prop))
  }

  /** THE serve-or-replay decision, shared by every operator. A view is
    * SERVABLE when its prop is current for its own file set and every
    * sidecar in `needs` is on disk: `fresh` serves from the stored index.
    * Otherwise:
    *  - a snapshot REPLAYS (`replay` retrains over the snapshot rows under
    *    the persisted policy — what a rebuild at that version would have
    *    answered; `refresh` would mutate CURRENT state to serve the past,
    *    and a partially reaped historical dir takes this path too);
    *  - a current index that is digest-fresh but lacks a needed sidecar
    *    predates that tier and refuses with `missing`;
    *  - a stale current index applies the onStale policy: `fail` refuses,
    *    `refresh` catches up once and re-resolves (if a concurrent writer
    *    re-stales the table meanwhile, the second attempt retrains instead
    *    of chasing the writer unboundedly), `retrain` replays in-query. */
  private def serve[A](view: View, needs: Seq[String], missing: => String)(
      fresh: View => A)(replay: View => A): A = {
    def attempt(v: View, allowRefresh: Boolean): A = {
      val spark = v.spark
      val current = v.p.isCurrent(digestOf(v.m))
      if (current &&
          needs.forall(s => java.nio.file.Files.exists(v.idxDir.resolve(s))))
        fresh(v)
      else if (v.version.isDefined) replay(v)
      else if (current) throw new IllegalStateException(missing)
      else onStale(spark) match {
        case "fail" => staleRefused(v.op, v.table)
        case "refresh" if allowRefresh =>
          refuseRefreshIfReadOnly(spark, v.op)
          refresh(spark, v.mt.dir, v.colName)
          attempt(resolve(spark, v.table, v.colName, v.op, None),
            allowRefresh = false)
        case _ => replay(v)
      }
    }
    attempt(view, allowRefresh = true)
  }

  private val FlatSidecars = Seq("cents", "posts")
  private val PqSidecars = Seq("cents", "posts", "pqcb", "codes")

  private def incomplete(v: View): String =
    s"${v.op}: the index on ${v.table} (${v.colName}) lacks a sidecar it " +
      "serves from — re-run CREATE VECTOR INDEX"

  private def pinned(df: DataFrame, pins: Option[Seq[String]]): DataFrame =
    pins.fold(df)(ps => df.where(col("part").isin(ps: _*)))

  /** Per-part codebook (or centroid) arrays from a (c_id, c_emb, part)
    * relation — the part-keyed twin of [[pqCbArr]]. */
  private def cbArrByPart(cb: DataFrame): DataFrame =
    cb.groupBy("part")
      .agg(array_sort(collect_list(struct(col("c_id"), col("c_emb"))))
        .as("cents"))

  /** PQ-encode part-keyed `rows` against each part's own codebook array. */
  private def encodePqByPart(rows: DataFrame, cbByPart: DataFrame): DataFrame =
    (0 until Similarity.PqM).foldLeft(rows.join(broadcast(cbByPart), "part")) {
      (df, b) => df.withColumn(s"code$b",
        Similarity.pqCode(col("cents"), col("embedding"), b))
    }

  /** Exact top-k of (vec_id, list_id, embedding) candidates against the
    * probe: sim desc, vec_id asc. */
  private def exactTop(cand: DataFrame, pv: Column, topK: Int): DataFrame =
    cand.select(col("vec_id"), col("list_id"),
        dotFixed(col("embedding"), pv).as("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(topK)

  /** [[exactTop]] per partition first, then over the ≤ pins×k union — the
    * multi-pin serving shape. */
  private def exactTopByPart(cand: DataFrame, pv: Column,
      topK: Int): DataFrame =
    cand.select(col("part"), col("vec_id"), col("list_id"),
        dotFixed(col("embedding"), pv).as("sim"))
      .withColumn("prk", row_number().over(
        Window.partitionBy("part").orderBy(desc("sim"), col("vec_id"))))
      .where(col("prk") <= topK)
      .select(col("vec_id"), col("list_id"), col("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(topK)

  /** Per batch row (`bid`), ranks 1..k of its (nn_id, sim) pairs. */
  private def rankPerRow(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .withColumn("rank", row_number().over(
          Window.partitionBy("bid").orderBy(desc("sim"), col("nn_id")))
        .cast(IntegerType))
      .filter(col("rank") <= k)
      .select(col("bid").as("vec_id"), col("rank"), col("nn_id"), col("sim"))
      .orderBy("vec_id", "rank")

  /** SemDeDup over the index's TRAINED geometry — the amortization story:
    * one clustering pays for search ([[search]]), diversity sampling, AND
    * near-dup pruning. No file pruning here (dedup reads every row); the
    * saving is skipping the Lloyd loop — a fresh index reduces dedup to
    * one broadcast assignment plus the bounded within-cluster pair join.
    * Stale index retrains on the fly (identical output to a rebuild).
    * BY PARTITION (r14) runs per slice against the stored sub-geometries
    * in one part-keyed dataflow — candidates require a shared partition
    * AND cluster AND sign-band bucket, each slice under its OWN
    * size-derived banding. Output: (vec_id, label, list_id, c2c)
    * survivors — the [[graft.llm.Clustering.semSurvivors]]
    * keep-the-outlier rule. */
  def semDedup(spark: SparkSession, table: String, colName: String,
      labelCol: String): DataFrame = {
    val (rows, cents, coarse, byPart) =
      rowsAndCents(spark, table, colName, labelCol, "SEMANTIC DEDUP")
    if (byPart)
      Clustering.semSurvivorsByPart(
        Similarity.assignListsHierByPartLocal(rows, cents, coarse), cents)
    // the corpus count sizes the banded pair join's LSH geometry — the
    // same pre-planning cardinality read the LSH dedup tier does
    else Clustering.semSurvivors(
      Similarity.assignListsHierLocal(rows, cents, coarse), cents,
      rows.count())
  }

  /** Diversity-balanced sampling over the index's TRAINED geometry — the
    * third leg of the amortization ([[search]], [[semDedup]]): each stored
    * cluster's capped hash-ordered members, with zero clustering work in
    * the query when the index is fresh. Stale index retrains (identical
    * output to a rebuild). BY PARTITION (r14): every SLICE's clusters
    * contribute, `part` rides the output (slice list ids collide across
    * partitions by construction). Output: (list_id, rk, vec_id, label). */
  def clusterSample(spark: SparkSession, table: String, colName: String,
      labelCol: String): DataFrame = {
    val (rows, cents, coarse, byPart) =
      rowsAndCents(spark, table, colName, labelCol, "CLUSTER SAMPLE")
    if (byPart)
      Clustering.clusterSampleByPart(
        Similarity.assignListsHierByPartLocal(rows, cents, coarse))
    else Clustering.clusterSample(
      Similarity.assignListsHierLocal(rows, cents, coarse))
  }

  /** Shared resolution for the trained-geometry compositions: all live
    * rows keyed (vec_id, label, embedding[, part]), the stored (fresh) or
    * retrained (stale; ranked and SAMPLE-aware per slice BY PARTITION)
    * centroids, the build's coarse-probe count (serve-time re-derivation
    * must assign exactly as the build did), and whether the index is BY
    * PARTITION. */
  private def rowsAndCents(spark: SparkSession, table: String,
      colName: String, labelCol: String, op: String)
      : (DataFrame, DataFrame, Int, Boolean) = {
    def rowsOf(v: View): DataFrame =
      v.scan(v.names).select(Seq(col(v.p.idCol).as("vec_id"),
        col(labelCol).as("label"), col(colName).as("embedding")) ++
        v.p.partCol.map(pc => col(pc).cast("string").as("part")): _*)
    val view = resolve(spark, table, colName, op, None)
    serve(view, Seq("cents"), incomplete(view)) { v =>
      (rowsOf(v), v.sidecar("cents"), v.p.coarse, v.p.partCol.isDefined)
    } { v =>
      val rows = rowsOf(v)
      val cents =
        if (v.p.partCol.isDefined) retrainGeometryRankedByPart(
          rows.select(col("part"), col("vec_id"), lit(0).as("label"),
            col("embedding")), v.p)._2
        else retrainGeometry(rows, v.p)._2
      (rows, cents, v.p.coarse, v.p.partCol.isDefined)
    }
  }

  /** INCREMENTAL SemDeDup against the index's STORED artifacts — the
    * daily-ingest shape with NOTHING corpus-sized recomputed per batch
    * (r12): batch rows assign against the stored centroids (per-row
    * broadcast math), derive band keys
    * against the stored anchor panel (`lshanch/`), and join the stored
    * corpus band sidecar (`bands/` — the C69 stored-signature pattern);
    * corpus embeddings are fetched ONLY from the candidate buckets' files
    * (the sidecar carries each row's file). A batch row is a dup iff some
    * corpus row in a shared (cluster ∩ sign-band bucket) sits within
    * cosine τ — the curated corpus always wins; min-id witness reported.
    * Per-batch cost: O(\|batch\| × bucket) join work + a scan of candidate
    * files only — at 100 TB a daily ingest touches ~\|batch\|/corpus of
    * the table's files, never the corpus.
    *
    * `batch` carries the table's own id + embedding columns (external
    * rows: ids are the caller's keys, reported back as-is). Output:
    * (vec_id, dup_of, is_dup) per batch row. Stale index: the onStale
    * policy applies; `retrain` replays geometry + panel + bands in-query
    * (exactly a rebuild's answer). */
  def semDedupIncremental(spark: SparkSession, table: String,
      colName: String, batch: DataFrame): DataFrame =
    semDedupIncrementalAt(spark, table, colName, batch, None)

  /** TIME-TRAVEL incremental SemDeDup (r15 — the C238 audit posture for
    * the curation tier): answer "which of these rows were near-dups of
    * the corpus AS OF version v" — reproducing an ingest batch's
    * admission verdicts exactly as they were computed, after the corpus
    * moved on. The snapshot's HISTORICAL sidecars (centroids, anchor
    * panel, band rows) serve, and the candidate-bucket fetch pins both
    * the files and the snapshot's DV state, so corpus rows added (or
    * deletion-vectored) after the version neither witness nor un-witness
    * any batch row. A snapshot whose index was stale or reaped replays
    * the build artifacts over the snapshot rows (per-slice ranked for BY
    * PARTITION). Output (vec_id, dup_of, is_dup) like
    * [[semDedupIncremental]]. */
  def semDedupIncrementalAsOf(spark: SparkSession, table: String,
      colName: String, batch: DataFrame, version: Int): DataFrame =
    semDedupIncrementalAt(spark, table, colName, batch, Some(version))

  private def semDedupIncrementalAt(spark: SparkSession, table: String,
      colName: String, batch: DataFrame, version: Option[Int]): DataFrame = {
    val view = resolve(spark, table, colName, "SEMANTIC DEDUP INCREMENTAL",
      version)
    def result(v: View, matched: DataFrame): DataFrame =
      v.rekey(batch).select(col("vec_id"))
        .join(matched, col("vec_id") === col("vn"), "left")
        .select(col("vec_id"), col("dup_of"),
          col("dup_of").isNotNull.as("is_dup"))
        .orderBy("vec_id")
    def fused(batchBands: DataFrame, corpusBands: DataFrame): DataFrame =
      batchBands.join(corpusBands,
          col("band") === col("oband") && col("bkey") === col("obkey") &&
            col("l_n") === col("l_o") &&
            dotFixed(col("e_n"), col("e_o")) >= Clustering.SemThreshold)
        .groupBy("vn").agg(min(col("vo")).as("dup_of"))
    def batchBandsOf(v: View, cents: DataFrame, anchorArr: DataFrame,
        nBands: Int, bits: Int): DataFrame =
      Dedup.embeddingBandRowsWith(
          Similarity.assignListsHierLocal(v.rekey(batch), cents, v.p.coarse),
          anchorArr, nBands, bits, carry = Seq("embedding", "list_id"))
        .select(col("vec_id").as("vn"), col("band"), col("bkey"),
          col("embedding").as("e_n"), col("list_id").as("l_n"))
    // the partitioned batch routes each row to ITS OWN partition's
    // geometry by the table's partition column — candidates (and dup
    // verdicts) stay within-partition, the date-partitioned corpus rule
    def batchBandsByPart(v: View, cents: DataFrame,
        geo: DataFrame): DataFrame =
      Dedup.embeddingBandRowsByPart(
          Similarity.assignListsHierByPartLocal(v.partKey(batch, None), cents,
            v.p.coarse),
          geo, carry = Seq("embedding", "list_id"))
        .select(col("part"), col("vec_id").as("vn"), col("band"),
          col("bkey"), col("embedding").as("e_n"),
          col("list_id").as("l_n"))
    // ONLY the candidate buckets' files are scanned for embeddings — the
    // bounded-fetch contract VectorIndexSpec pins; BY PARTITION the fetch
    // keys on (part, id), not id alone (r15 advice): ids only need be
    // unique within a partition, so the corpus row must come from the
    // candidate's OWN slice
    def matchedIn(v: View, cand: DataFrame): DataFrame = {
      val candFiles = cand.select("file").distinct()
        .collect().map(_.getString(0))
      if (candFiles.isEmpty)
        v.spark.range(0).select(col("id").cast(v.idType).as("vn"),
          col("id").cast(v.idType).as("dup_of"))
      else {
        val part = v.p.partCol.map(pc => col(pc).cast("string").as("part"))
        val corpusEmb = v.scan(candFiles.toSeq).select(part.toSeq ++
          Seq(col(v.p.idCol).as("vo"), col(colName).as("e_o")): _*)
        cand.join(corpusEmb, part.map(_ => "part").toSeq :+ "vo")
          .where(dotFixed(col("e_n"), col("e_o")) >= Clustering.SemThreshold)
          .groupBy("vn").agg(min(col("vo")).as("dup_of"))
      }
    }
    serve(view, Seq("cents", "lshanch", "bands"),
        s"${view.op}: the index on $table ($colName) predates the band " +
          "sidecars — re-run CREATE VECTOR INDEX to materialize them") { v =>
      if (v.p.partCol.isDefined) {
        // BY PARTITION (r14): batch rows assign against their own
        // partition's stored centroids, derive band keys against its
        // stored panel (per-slice geometry — the part-keyed fold), and
        // join the part-keyed bands sidecar. ONE dataflow, one bounded
        // driver collect — the C224 serving contract composed with
        // partition routing.
        val batchBands = batchBandsByPart(v, v.sidecar("cents"),
          v.sidecar("lshanch"))
        val corpusBands = spark.read
          .parquet(v.idxDir.resolve("bands").toString)
          .select(col("part").as("opart"), col("vec_id").as("vo"),
            col("band").as("oband"), col("bkey").as("obkey"),
            col("list_id").as("l_o"), col("file"))
        result(v, matchedIn(v, batchBands.join(corpusBands,
            col("part") === col("opart") &&
              col("band") === col("oband") &&
              col("bkey") === col("obkey") && col("l_n") === col("l_o"))
          .select(col("part"), col("vn"), col("e_n"), col("vo"),
            col("file"))
          .localCheckpoint()))
      } else {
        val anchDf = v.sidecar("lshanch")
          .localCheckpoint() // 1 row; read for meta AND the broadcast panel
        val meta = anchDf.select(col("n_bands"), col("bits")).collect().head
        val batchBands = batchBandsOf(v, v.sidecar("cents"),
          anchDf.select(col("anchors")), meta.getInt(0), meta.getInt(1))
        // candidate pairs straight off the sidecar (no corpus scan yet);
        // materialized once — they drive BOTH the candidate-file planning
        // and the embedding fetch join
        result(v, matchedIn(v, batchBands.join(
            v.sidecar("bands")
              .select(col("vec_id").as("vo"), col("band").as("oband"),
                col("bkey").as("obkey"), col("list_id").as("l_o"),
                col("file")),
            col("band") === col("oband") && col("bkey") === col("obkey") &&
              col("l_n") === col("l_o"))
          .select(col("vn"), col("e_n"), col("vo"), col("file"))
          .localCheckpoint()))
      }
    } { v =>
      if (v.p.partCol.isDefined) {
        // in-query replay of the PARTITIONED build artifacts (per-slice
        // ranked geometry + per-slice panel + bands), one part-keyed
        // dataflow — exactly a partitioned rebuild's answer, minus the
        // file-bounded fetch
        val rows = v.partKey(v.scan(v.names), None)
        val geo = lshPanelsByPart(spark, rows)._1
        val (corpusAssigned, cents) = retrainGeometryRankedByPart(rows, v.p)
        val corpusBands = Dedup.embeddingBandRowsByPart(corpusAssigned,
            geo, carry = Seq("embedding", "list_id"))
          .select(col("part").as("opart"), col("vec_id").as("vo"),
            col("band").as("oband"), col("bkey").as("obkey"),
            col("embedding").as("e_o"), col("list_id").as("l_o"))
        result(v, batchBandsByPart(v, cents, geo).join(corpusBands,
            col("part") === col("opart") && col("band") === col("oband") &&
              col("bkey") === col("obkey") && col("l_n") === col("l_o") &&
              dotFixed(col("e_n"), col("e_o")) >= Clustering.SemThreshold)
          .groupBy("vn").agg(min(col("vo")).as("dup_of")))
      } else {
        // in-query replay of the build artifacts (geometry + ranked
        // panel + corpus bands) — exactly a rebuild's answer, minus the
        // file-bounded fetch; the corpus side carries embeddings inline
        val rows = v.rekey(v.scan(v.names))
        val n = rows.count()
        val (corpusAssigned, cents) = retrainGeometry(rows, v.p, n)
        val (nBands, bits) = Dedup.embeddingLshParams(n)
        val anch = Dedup.bandAnchorsRanked(
          rows.select(col("vec_id"), col("embedding")), nBands, bits)
          .localCheckpoint() // broadcast by BOTH band derivations
        val corpusBands = Dedup.embeddingBandRowsWith(corpusAssigned, anch,
            nBands, bits, carry = Seq("embedding", "list_id"))
          .select(col("vec_id").as("vo"), col("band").as("oband"),
            col("bkey").as("obkey"), col("embedding").as("e_o"),
            col("list_id").as("l_o"))
        result(v, fused(batchBandsOf(v, cents, anch, nBands, bits),
          corpusBands))
      }
    }
  }

  /** INDEX-BACKED kNN JOIN — "for each batch row, its k nearest CORPUS
    * rows": the retrieval/augmentation join (RAG candidate fetch, label
    * propagation, hard-negative mining) served from the STORED geometry
    * with NOTHING corpus-sized recomputed per batch. Each batch row
    * takes its home list by per-row broadcast math against the stored
    * centroids (flat argmax — the probe rule [[search]] uses), corpus
    * candidates fetch from ONLY the probed lists' posting files (each
    * fetched row re-derives its stored cluster, so the list equi-join is
    * exact w.r.t. the kept geometry), and a ranked window per batch row
    * takes the top-k. IVF-approximate like [[search]]: a neighbor
    * outside a batch row's home list doesn't surface — the documented
    * recall trade the audits monitor. Per-batch cost: Σ probed-list
    * sizes of join work + a scan of the probed lists' files — a small
    * batch reads a handful of the corpus's files, never the corpus.
    * `batch` carries the table's own id + embedding columns; output
    * `(vec_id, rank, nn_id, sim)`, rank 1..k per batch row (no
    * self-exclusion: the batch is external — an exact corpus copy is
    * legitimately rank 1). Stale index: the onStale policy (`retrain`
    * replays geometry in-query — exactly a rebuild's answer, no pruning;
    * `refresh` = the bounded catch-up; `fail` refuses). */
  def knnJoin(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int): DataFrame =
    knnJoinAt(spark, table, colName, batch, k, None, None)

  /** FILTERED kNN JOIN — the predicate narrows the CANDIDATES before
    * each batch row's top-k (the filtered-ANN rule applied to the batch
    * join: filtering the output would under-fill every row's k). The
    * predicate references the table's own columns and evaluates
    * scan-side over the probed lists' files — pushdown and zone-map file
    * skipping stack with the posting pruning. */
  def knnJoinWhere(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int, predicate: Column): DataFrame =
    knnJoinAt(spark, table, colName, batch, k, Some(predicate), None)

  /** TIME-TRAVEL kNN JOIN (r14) — [[knnJoin]] against a TABLE SNAPSHOT
    * with the index version that covered it: reproducing yesterday's
    * RAG candidate fetch (the C238 motivation) needs the BATCH JOIN, not
    * just the single-probe search. A stale or reaped snapshot index
    * replays what a rebuild at that version would have trained; BY
    * PARTITION snapshots fan the batch out under every historical pin;
    * the optional predicate narrows the snapshot's candidates (r15).
    * Output (vec_id, rank, nn_id, sim) like [[knnJoin]]. */
  def knnJoinAsOf(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int, version: Int,
      predicate: Option[Column] = None): DataFrame =
    knnJoinAt(spark, table, colName, batch, k, predicate, Some(version))

  private def knnJoinAt(spark: SparkSession, table: String,
      colName: String, batch: DataFrame, k: Int, predicate: Option[Column],
      version: Option[Int]): DataFrame = {
    // per-(batch row[, part]) top-k candidate pairs — BY PARTITION each
    // pin contributes its own top-k before the global per-row top-k ranks
    // the ≤ pins×k union
    def topPairs(bAssigned: DataFrame, corpusAssigned: DataFrame,
        byPart: Boolean): DataFrame = {
      val pk = if (byPart) Seq("part") else Nil
      bAssigned.select(pk.map(col) ++ Seq(col("vec_id").as("bid"),
          col("embedding").as("e_n"), col("list_id")): _*)
        .join(corpusAssigned.select(pk.map(col) ++ Seq(col("list_id"),
          col("vec_id").as("nn_id"), col("embedding").as("e_o")): _*),
          pk :+ "list_id")
        .select(Seq(col("bid")) ++ pk.map(col) ++ Seq(col("nn_id"),
          dotFixed(col("e_n"), col("e_o")).as("sim")): _*)
        .withColumn("rk", row_number().over(
          Window.partitionBy(("bid" +: pk).map(col): _*)
            .orderBy(desc("sim"), col("nn_id"))))
        .filter(col("rk") <= k)
        .select(col("bid"), col("nn_id"), col("sim"))
    }
    val view = resolve(spark, table, colName, "KNN JOIN", version)
    serve(view, FlatSidecars, incomplete(view)) { v =>
      val b0 = v.rekey(batch)
      if (v.p.partCol.isDefined) {
        // BY PARTITION (r13): pins route to their OWN sub-geometries; NO
        // pin = all partitions (the C225 rule applied to the batch join).
        // ONE part-keyed dataflow for any pin count (r14): the batch
        // assigns under EVERY pin's geometry in one fan-out pass,
        // candidate files come from one posting-sidecar join (the single
        // driver collect), and the candidate scan re-derives each corpus
        // row under ITS OWN partition's geometry — job count independent
        // of the partition count.
        val pins = v.pinsOf(predicate)
        val centsP = pinned(v.sidecar("cents"), pins)
        // |batch| × pins rows; an unseen pin value has no centroids and
        // contributes nothing. MATERIALIZED once: it drives the
        // candidate-file planning AND the ranked candidate join.
        val bAssigned = assignBatchAllParts(b0, centsP).localCheckpoint()
        val cand = v.sidecar("posts").join(
            bAssigned.select("part", "list_id").distinct(),
            Seq("part", "list_id"))
          .select("file").distinct().collect().map(_.getString(0))
        if (cand.isEmpty)
          rankPerRow(b0.select(col("vec_id").as("bid"),
            col("vec_id").as("nn_id"), lit(0L).as("sim"))
            .where(lit(false)), k)
        else {
          val scan0 = v.scan(cand.toSeq)
          rankPerRow(topPairs(bAssigned,
            Similarity.assignListsHierByPartLocal(
              v.partKey(predicate.fold(scan0)(scan0.where), pins), centsP,
              v.p.coarse), byPart = true), k)
        }
      } else {
        val cents = v.sidecar("cents")
        // MATERIALIZE the batch assignment once: it drives BOTH the
        // probed-list planning and the candidate join (bounded by the
        // batch)
        val bAssigned = Similarity.assignLists(b0, cents).localCheckpoint()
        val probed = bAssigned.select("list_id").distinct()
          .collect().map(_.getInt(0)).toSeq
        val candFiles =
          if (probed.isEmpty) Seq.empty[String]
          else v.sidecar("posts").where(col("list_id").isin(probed: _*))
            .select("file").distinct().collect().map(_.getString(0)).toSeq
        // the predicate narrows the candidate rows INSIDE the probed
        // files' scan (pushdown + zone-map skipping apply) BEFORE the
        // re-derivation and the per-row top-k
        val candScan =
          if (candFiles.isEmpty) spark.table(table).where(lit(false))
          else v.scan(candFiles)
        rankPerRow(topPairs(bAssigned, Similarity.assignListsHierLocal(
          v.rekey(predicate.fold(candScan)(candScan.where)), cents,
          v.p.coarse), byPart = false), k)
      }
    } { v =>
      // in-query replay of the build geometry — exactly a rebuild's
      // answer, minus the file-bounded fetch; the geometry trains on the
      // FULL corpus (or, BY PARTITION, per pinned slice with ranked,
      // SAMPLE-aware seeding in ONE part-keyed dataflow — the sub-index
      // rule), the predicate narrows candidates only
      val b0 = v.rekey(batch)
      val all = v.scan(v.names)
      if (v.p.partCol.isDefined) {
        val pins = v.pinsOf(predicate)
        val cents = retrainGeometryRankedByPart(v.partKey(all, pins), v.p)._2
        rankPerRow(topPairs(assignBatchAllParts(b0, cents),
          Similarity.assignListsHierByPartLocal(
            v.partKey(predicate.fold(all)(all.where), pins), cents,
            v.p.coarse), byPart = true), k)
      } else {
        val rows = v.rekey(all)
        val (_, cents) = retrainGeometry(rows, v.p, rows.count())
        rankPerRow(topPairs(Similarity.assignLists(b0, cents),
          Similarity.assignListsHierLocal(
            v.rekey(predicate.fold(all)(all.where)), cents, v.p.coarse),
          byPart = false), k)
      }
    }
  }

  /** PQ-COMPRESSED kNN JOIN — [[knnJoin]] with the C213 two-stage
    * candidate cut applied per batch row: the ADC pre-rank runs over the
    * NARROW codes sidecar of the probed lists (embeddings unread), each
    * batch row keeps its ADC-top-`rerank` survivors, and ONLY the
    * survivors' rows fetch embeddings (their ≤ \|batch\|×rerank files,
    * broadcast id semi-join) for the exact fixed-point rerank. At 100 TB
    * the candidate scan is the batch join's whole cost — reading PqM
    * small ints per candidate instead of dim×4 B of floats is the same
    * 4-16× I/O cut searchPq makes, here amortized across the batch.
    * Approximation explicit and bounded exactly like [[searchPq]]: exact
    * top-k among each row's ADC-top-rerank. Output and policies match
    * [[knnJoin]]. */
  def knnJoinPq(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int, rerank: Int = 50): DataFrame =
    knnJoinPqAt(spark, table, colName, batch, k, rerank, None, None)

  /** FILTERED PQ kNN JOIN — the predicate semi-joins the codes BEFORE
    * each row's ADC rerank cutoff (the filtered-PQ rule per batch row: a
    * selective filter must never under-fill any row's rerank budget);
    * the probed lists' files scan for the predicate columns only. */
  def knnJoinPqWhere(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int, rerank: Int,
      predicate: Column): DataFrame =
    knnJoinPqAt(spark, table, colName, batch, k, rerank, Some(predicate),
      None)

  /** TIME-TRAVEL PQ kNN JOIN (r15 — completing the C238 matrix):
    * [[knnJoinPq]] against a TABLE SNAPSHOT — per-row ADC cutoff over the
    * snapshot's OWN `codes/` sidecar against its OWN stored codebook,
    * survivors' embeddings fetched through the snapshot-pinned scan for
    * the exact per-row rerank; a BY PARTITION snapshot serves each pin's
    * own historical codebook/codes. A stale or reaped snapshot index
    * replays geometry + codebook + codes over the snapshot rows. Output
    * (vec_id, rank, nn_id, sim). */
  def knnJoinAsOfPq(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int, version: Int, rerank: Int = 50,
      predicate: Option[Column] = None): DataFrame =
    knnJoinPqAt(spark, table, colName, batch, k, rerank, predicate,
      Some(version))

  private def knnJoinPqAt(spark: SparkSession, table: String,
      colName: String, batch: DataFrame, k: Int, rerank: Int,
      predicate: Option[Column], version: Option[Int]): DataFrame = {
    val wAdc = Window.partitionBy("bid")
      .orderBy(desc("sim_adc"), col("vec_id"))
    val wAdcP = Window.partitionBy("bid", "part")
      .orderBy(desc("sim_adc"), col("vec_id"))
    val view = resolve(spark, table, colName, "KNN JOIN PQ", version)
    serve(view, PqSidecars,
        s"${view.op}: the index on $table ($colName) has no PQ codebook — " +
          "re-run CREATE VECTOR INDEX, or use knnJoin") { v =>
      val b0 = v.rekey(batch)
      if (v.p.partCol.isDefined) {
        // BY PARTITION (r14): the batch fans out under every pin's
        // geometry, its ADC pre-rank runs per (batch row, pin) over that
        // pin's OWN codes against that pin's OWN ranked codebook (one
        // part-keyed join — no per-pin loop), and only the per-pin
        // survivors' files fetch embeddings for the exact per-row rerank
        // — the C226 part-keyed codebooks serving the batch join.
        val pins = v.pinsOf(predicate)
        val centsP = pinned(v.sidecar("cents"), pins)
        val bAssigned = assignBatchAllParts(b0, centsP).localCheckpoint()
        val bcodes = bAssigned
          .select(col("part"), col("vec_id").as("bid"),
            col("embedding").as("e_n"), col("list_id"))
          .join(v.sidecar("codes"), Seq("part", "list_id"))
        // the predicate narrows each pin's codes BEFORE the per-row
        // rerank cutoff (the filtered-PQ rule per batch row and pin)
        val bcodesF = predicate match {
          case None => bcodes
          case Some(pred) =>
            val pFiles = v.sidecar("posts").join(
                bAssigned.select("part", "list_id").distinct(),
                Seq("part", "list_id"))
              .select("file").distinct().collect().map(_.getString(0))
            if (pFiles.isEmpty) bcodes.where(lit(false))
            else bcodes.join(v.partIds(v.scan(pFiles.toSeq).where(pred),
              pins), Seq("part", "vec_id"), "left_semi")
        }
        val top = bcodesF.join(broadcast(cbArrByPart(v.sidecar("pqcb"))),
            "part")
          .withColumn("sim_adc",
            Similarity.pqAdc(col("cents"), col("e_n"), b => col(s"code$b")))
          .withColumn("rk", row_number().over(wAdcP))
          .filter(col("rk") <= rerank)
          .select(col("bid"), col("e_n"), col("part"), col("vec_id"),
            col("file"))
          .localCheckpoint()
        val candFiles = top.select("file").distinct()
          .collect().map(_.getString(0))
        rankPerRow(
          if (candFiles.isEmpty)
            top.select(col("bid"), col("vec_id").as("nn_id"),
              lit(0L).as("sim")).where(lit(false))
          // the fetch keys on (part, vec_id), not vec_id alone (r15
          // advice): ids only need be unique within a partition
          else v.scan(candFiles.toSeq)
            .select(col(v.p.partCol.get).cast("string").as("part"),
              col(v.p.idCol).as("vec_id"), col(colName).as("e_o"))
            .join(broadcast(top), Seq("part", "vec_id"))
            .select(col("bid"), col("vec_id").as("nn_id"),
              dotFixed(col("e_n"), col("e_o")).as("sim")), k)
      } else {
        val cents = v.sidecar("cents")
        val bAssigned = Similarity.assignLists(b0, cents).localCheckpoint()
        val probed = bAssigned.select("list_id").distinct()
          .collect().map(_.getInt(0)).toSeq
        val cbArr = pqCbArr(v.sidecar("pqcb"))
        // ADC pre-rank per batch row over the narrow codes of the probed
        // lists — embeddings unread; survivors MATERIALIZE once (≤
        // |batch|×rerank rows) to drive the file pruning and the fetch
        val codesAll =
          if (probed.isEmpty) v.sidecar("codes").where(lit(false))
          else v.sidecar("codes").where(col("list_id").isin(probed: _*))
        // the predicate narrows the codes BEFORE each row's rerank cutoff
        // (the filtered-PQ rule): the probed lists' files scan for the
        // predicate columns only, matching ids semi-join the codes
        val codes0 = predicate match {
          case None => codesAll
          case Some(pred) =>
            val pFiles =
              if (probed.isEmpty) Array.empty[String]
              else v.sidecar("posts").where(col("list_id").isin(probed: _*))
                .select("file").distinct().collect().map(_.getString(0))
            if (pFiles.isEmpty) codesAll.where(lit(false))
            else codesAll.join(v.scan(pFiles.toSeq).where(pred)
              .select(col(v.p.idCol).as("vec_id")), Seq("vec_id"), "left_semi")
        }
        val top = bAssigned
          .select(col("vec_id").as("bid"), col("embedding").as("e_n"),
            col("list_id"))
          .join(codes0, Seq("list_id"))
          .crossJoin(broadcast(cbArr))
          .withColumn("sim_adc",
            Similarity.pqAdc(col("cents"), col("e_n"), b => col(s"code$b")))
          .withColumn("rk", row_number().over(wAdc))
          .filter(col("rk") <= rerank)
          .select(col("bid"), col("e_n"), col("vec_id"), col("file"))
          .localCheckpoint()
        val candFiles = top.select("file").distinct()
          .collect().map(_.getString(0))
        rankPerRow(
          if (candFiles.isEmpty)
            top.select(col("bid"), col("vec_id").as("nn_id"),
              lit(0L).as("sim")).where(lit(false))
          else v.scan(candFiles.toSeq)
            .select(col(v.p.idCol).as("vec_id"), col(colName).as("e_o"))
            .join(broadcast(top), "vec_id")
            .select(col("bid"), col("vec_id").as("nn_id"),
              dotFixed(col("e_n"), col("e_o")).as("sim")), k)
      }
    } { v =>
      val b0 = v.rekey(batch)
      val all = v.scan(v.names)
      if (v.p.partCol.isDefined) {
        // in-query replay of the PARTITIONED pipeline (r14): every
        // pinned partition's ranked SAMPLE-aware geometry + ranked
        // codebook + codes in ONE part-keyed dataflow, per-(row, pin)
        // ADC cutoff, exact rerank, global per-row top-k — a
        // partitioned rebuild's answer, no pruning.
        val pins = v.pinsOf(predicate)
        val rowsP = v.partKey(all, pins)
        val (corpusAssigned, cents) = retrainGeometryRankedByPart(rowsP, v.p)
        val cbByPart = cbArrByPart(trainPqCodebookRankedByPart(
          rowsP.select(col("part"), col("vec_id"), col("embedding"))))
        val codedAll = encodePqByPart(corpusAssigned, cbByPart).drop("cents")
        val coded = predicate.fold(codedAll)(pred => codedAll.join(
          v.partKey(all.where(pred), pins).select(col("part"), col("vec_id")),
          Seq("part", "vec_id"), "left_semi"))
        val top = assignBatchAllParts(b0, cents)
          .select(col("part"), col("vec_id").as("bid"),
            col("embedding").as("e_n"), col("list_id"))
          .join(coded.drop("embedding", "label"), Seq("part", "list_id"))
          .join(broadcast(cbByPart), "part")
          .withColumn("sim_adc",
            Similarity.pqAdc(col("cents"), col("e_n"), b => col(s"code$b")))
          .withColumn("rk", row_number().over(wAdcP))
          .filter(col("rk") <= rerank)
          .select(col("bid"), col("e_n"), col("part"), col("vec_id"))
        // rerank keys on (part, vec_id), not vec_id alone (r15 advice):
        // ids only need be unique within a partition
        rankPerRow(top
          .join(corpusAssigned.select(col("part"), col("vec_id"),
            col("embedding").as("e_o")), Seq("part", "vec_id"))
          .select(col("bid"), col("vec_id").as("nn_id"),
            dotFixed(col("e_n"), col("e_o")).as("sim")), k)
      } else {
        // in-query replay: geometry + codebook training + codes under
        // the persisted policy — a fresh rebuild's answer, no pruning;
        // the predicate still narrows the coded candidates before each
        // row's cutoff
        val rows = v.rekey(all)
        val n = rows.count()
        val (corpusAssigned, cents) = retrainGeometry(rows, v.p, n)
        val cb = trainPqCodebook(
          rows.select(col("vec_id"), col("embedding")), n)
        if (cb.isEmpty) throw new IllegalStateException(
          s"${v.op}: no PQ codebook trains (no rows below the anchor " +
            "cap) — use knnJoin")
        val cbArr = pqCbArr(cb)
        val codedAll = encodePq(
          corpusAssigned.select(col("vec_id"), col("embedding"),
            col("list_id")), cbArr)
        val coded = predicate.fold(codedAll)(pred => codedAll.join(
          all.where(pred).select(col(v.p.idCol).as("vec_id")),
          Seq("vec_id"), "left_semi"))
        val top = Similarity.assignLists(b0, cents)
          .select(col("vec_id").as("bid"), col("embedding").as("e_n"),
            col("list_id"))
          .join(coded.drop("embedding", "cents"), Seq("list_id"))
          .crossJoin(broadcast(cbArr))
          .withColumn("sim_adc",
            Similarity.pqAdc(col("cents"), col("e_n"), b => col(s"code$b")))
          .withColumn("rk", row_number().over(wAdc))
          .filter(col("rk") <= rerank)
          .select(col("bid"), col("e_n"), col("vec_id"))
        rankPerRow(top
          .join(corpusAssigned.select(col("vec_id"), col("embedding")
            .as("e_o")), "vec_id")
          .select(col("bid"), col("vec_id").as("nn_id"),
            dotFixed(col("e_n"), col("e_o")).as("sim")), k)
      }
    }
  }

  /** The probe's `probes` nearest centroids of `cents` (dot desc, c_id
    * asc — the same first-max tie-break as row assignment). One small
    * driver-side collect; planning-class work. */
  private def probeListsOf(cents: DataFrame, probe: Array[Float],
      probes: Int): Seq[Int] = {
    val pv = typedLit(probe.toSeq)
    cents.select(col("c_id"), dotFixed(col("c_emb"), pv).as("pd"))
      .orderBy(desc("pd"), col("c_id")).limit(probes)
      .collect().map(_.getInt(0)).toSeq
  }

  /** The PART-KEYED twin of [[probeListsOf]] — EVERY partition's probe
    * lists in one relation (r14): a ranked window over `part` on the
    * cents sidecar yields (part, list_id) pairs with exactly the per-pin
    * rule (dot desc, c_id asc, top `probes`), as a FRAME rather than a
    * per-pin collect — the replacement for the sequential driver loop
    * the r13 verdict flagged. Zero Spark jobs; ≤ parts×probes rows. */
  private def probePairsOf(cents: DataFrame, probe: Array[Float],
      probes: Int): DataFrame = {
    val pv = typedLit(probe.toSeq)
    val w = Window.partitionBy("part").orderBy(desc("pd"), col("c_id"))
    cents.select(col("part"), col("c_id"),
        dotFixed(col("c_emb"), pv).as("pd"))
      .withColumn("prk", row_number().over(w))
      .where(col("prk") <= probes)
      .select(col("part"), col("c_id").as("list_id"))
  }

  /** Batch rows × EVERY partition's flat geometry, one fan-out dataflow
    * (r14, the BY PARTITION kNN-join batch assignment): each batch row
    * takes its max-dot home list per part's sorted centroid array — the
    * [[graft.llm.Similarity.assignLists]] argmax, replayed under every
    * sub-geometry at once. \|batch\| × parts rows (the semantics of an
    * unpinned partitioned batch join — every pin must be probed), with
    * zero driver round-trips. */
  private def assignBatchAllParts(b0: DataFrame,
      cents: DataFrame): DataFrame =
    b0.crossJoin(broadcast(cbArrByPart(cents)))
      // codegen single-pass argmax (r17) — value-identical to
      // transform(dots)+array_position(array_max)
      .withColumn("pos",
        graft.functions.TopTwoDotFixed.bestPos(col("embedding"), col("cents")))
      .withColumn("list_id",
        element_at(col("cents"), col("pos")).getField("c_id"))
      .select(col("part"), col("vec_id"), col("embedding"), col("list_id"))

  /** The stale-replay retrain for BY PARTITION indexes as ONE part-keyed
    * dataflow (r14) — every affected partition's ranked, SAMPLE-aware
    * sub-geometry ([[graft.llm.Clustering.kmeansAssignRankedByPart]])
    * under the persisted policy, replacing the per-pin sequential
    * kmeans loop (which also ignored the persisted SAMPLE — the r13
    * advice item). */
  private def retrainGeometryRankedByPart(rows: DataFrame,
      p: Prop): (DataFrame, DataFrame) =
    Clustering.kmeansAssignRankedByPart(rows, Iters, p.coarse, p.lists,
      p.sample)

  /** Drop the index prop (idempotent); the dir becomes VACUUM-reapable. */
  def drop(spark: SparkSession, dir: Path, colName: String): Unit =
    ManifestLock.withLock(dir) {
      Manifest.read(dir).foreach { cur =>
        val key = PropPrefix + colName.toLowerCase
        if (cur.props.contains(key))
          Manifest.write(dir, cur.copy(props = cur.props - key))
      }
    }

  /** IVF top-k for `probe` over the indexed column: rows of the probe's
    * `probes` nearest clusters ranked by exact fixed-point dot (multi-
    * probe is the standard IVF recall knob: boundary-straddling neighbors
    * surface at ~probes× candidate cost, still Σ\|list\| — never the
    * table). Fresh index → candidate files from the union of the probed
    * posting lists; stale → retrain on the fly (same result, no pruning).
    * Output: the id column, `sim`, `list_id`. */
  def search(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, probes: Int = 1): DataFrame =
    searchWhere(spark, table, colName, probe, topK, probes, lit(true))

  /** FILTERED IVF search — the predicate composes BEFORE the top-k (the
    * classic filtered-ANN correctness trap: filtering a top-k's output
    * under-fills the result; the filter must narrow the CANDIDATES). The
    * predicate references the table's own columns and is evaluated
    * scan-side over the probed lists' files — file pruning and metadata
    * filtering stack. */
  def searchWhere(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, probes: Int,
      predicate: Column): DataFrame =
    searchAt(spark, table, colName, probe, topK, probes, predicate, None)

  /** TIME-TRAVEL-CONSISTENT ANN — search a TABLE SNAPSHOT with the
    * index version that covered it: the snapshot manifest carries the
    * `vecidx.` prop AS OF that commit, so when its digest matches the
    * snapshot's own file set (and the sidecar dir hasn't been VACUUMed)
    * the HISTORICAL posting lists prune and the candidate scan pins
    * both the files and the snapshot — DV state as of the version, so a
    * later merge-on-read DELETE doesn't leak backward and a
    * since-deleted row still ranks where it did. The text tier's C200
    * guard solved the inverse hazard (a pinned scan must never prune
    * against the CURRENT posting list); this is the positive
    * capability: prune against the snapshot's OWN list. A snapshot
    * whose index is stale or whose sidecars were reaped retrains
    * in-query over the snapshot rows under the prop's persisted policy
    * — always correct, no pruning. BY PARTITION snapshots serve their
    * own sub-geometries (r14). Output: (vec_id, list_id, sim), like
    * [[search]]. */
  def searchAsOf(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, version: Int,
      probes: Int = 1): DataFrame =
    searchAt(spark, table, colName, probe, topK, probes, lit(true),
      Some(version))

  /** FILTERED time travel (r15): reproduce yesterday's FILTERED RAG serve
    * — the predicate narrows the snapshot's candidates BEFORE the top-k,
    * evaluated against the snapshot's own rows and DV state, so the
    * filter set is exactly what it was at the version. On a BY PARTITION
    * snapshot the predicate's partition pins route to the snapshot's own
    * sub-geometries, like [[searchWhere]]. */
  def searchAsOfWhere(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, version: Int, probes: Int,
      predicate: Column): DataFrame =
    searchAt(spark, table, colName, probe, topK, probes, predicate,
      Some(version))

  private def searchAt(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, probes: Int, predicate: Column,
      version: Option[Int]): DataFrame = {
    val pv = typedLit(probe.toSeq)
    def ranked(v: View, rows: DataFrame, cents: DataFrame,
        pLists: Seq[Int]): DataFrame =
      exactTop(Similarity.assignListsHierLocal(rows, cents, v.p.coarse)
        .where(col("list_id").isin(pLists: _*)), pv, topK)
    val view = resolve(spark, table, colName, "VECTOR SEARCH", version)
    serve(view, FlatSidecars, incomplete(view)) { v =>
      if (v.p.partCol.isDefined) {
        // BY PARTITION: route to each pinned partition's OWN
        // sub-geometry — its centroids probe, its postings prune, and
        // NOTHING of any other partition is read (partition pruning
        // composes with list pruning). Multi-pin (IN): per-pin top-k
        // first, global top-k over the ≤ pins×k union. NO pin = all
        // partitions (the same union generalized): corpus-wide search
        // over the sub-geometries without a second global index.
        // ONE part-keyed dataflow for ANY pin count (r14): probe lists
        // come from a ranked window over `part` on the cents sidecar,
        // candidate files from one posting-sidecar join (the single
        // driver collect — bounded metadata, job count independent of
        // the partition count), and the candidate scan assigns each row
        // against ITS OWN partition's geometry via the part-keyed
        // two-level assigner, part-local top-k before the global one.
        val pins = v.pinsOf(Some(predicate))
        val centsP = pinned(v.sidecar("cents"), pins)
        // (part, list_id) probe pairs — an unseen pin value has no
        // centroids and contributes nothing
        val probed = probePairsOf(centsP, probe, probes)
        val cand = v.sidecar("posts").join(probed, Seq("part", "list_id"))
          .select("file").distinct().collect().map(_.getString(0))
        if (cand.isEmpty) v.empty
        // the pin filter on the scanned rows matters for MULTI-pin: the
        // partition-pure layout is best-effort (an unclustered append can
        // mix values in one file), and the probed-pairs join alone keys
        // each row to its OWN partition's geometry — the pin filter
        // additionally drops unpinned partitions' rows riding in shared
        // files
        else exactTopByPart(Similarity.assignListsHierByPartLocal(
            v.partKey(v.scan(cand.toSeq).where(predicate), pins), centsP,
            v.p.coarse)
          .join(broadcast(probed), Seq("part", "list_id")), pv, topK)
      } else {
        val cents = v.sidecar("cents")
        // probe lists, then their posting files — two small metadata
        // reads
        val pLists = probeListsOf(cents, probe, probes)
        val cand = v.sidecar("posts").where(col("list_id").isin(pLists: _*))
          .select("file").distinct().collect().map(_.getString(0))
        if (cand.isEmpty) v.empty
        // the metadata predicate narrows CANDIDATES, before the top-k —
        // applied on the raw scan so it sees the table's own column names
        else ranked(v, v.rekey(v.scan(cand.toSeq).where(predicate)), cents,
          pLists)
      }
    } { v =>
      // retrain from the declared anchors over the view's rows under the
      // build's persisted LISTS/SAMPLE policy — exactly what a rebuild
      // would answer, minus the file pruning. The geometry trains on the
      // UNFILTERED corpus (it is a corpus-level artifact) — or, BY
      // PARTITION, on the pinned partitions' rows (ranked, SAMPLE-aware
      // seeding in ONE part-keyed dataflow, the sub-index rule); the
      // predicate narrows only the ranked candidates.
      val all = v.scan(v.names)
      if (v.p.partCol.isDefined) {
        val pins = v.pinsOf(Some(predicate))
        val cents = retrainGeometryRankedByPart(v.partKey(all, pins), v.p)._2
        exactTopByPart(Similarity.assignListsHierByPartLocal(
            v.partKey(all.where(predicate), pins), cents, v.p.coarse)
          .join(broadcast(probePairsOf(cents, probe, probes)),
            Seq("part", "list_id")), pv, topK)
      } else {
        val cents = retrainGeometry(v.rekey(all), v.p)._2
        ranked(v, v.rekey(all.where(predicate)), cents,
          probeListsOf(cents, probe, probes))
      }
    }
  }

  /** IVF-PQ top-k — the candidate-COMPRESSION path of the standard 100 TB
    * ANN architecture: the probe's `probes` lists' rows are pre-ranked by
    * the asymmetric (ADC) score over the stored PQ codes — a scan of the
    * NARROW `codes/` sidecar (PqM small ints per row), never the embedding
    * column — and only the top `rerank` survivors have their embeddings
    * fetched (broadcast id semi-join against the posting files) for the
    * exact fixed-point rerank. Approximation is explicit and bounded: the
    * result is the exact top-k AMONG the ADC-top-`rerank` candidates of
    * the probed lists (raise `rerank` toward the list size and it
    * converges on [[search]]); every step is deterministic — codebook =
    * the PqK lowest-anchor rows, first-min/first-max tie-breaks,
    * fixed-point scores — so the DuckDB oracle replays the whole pipeline
    * from raw data. Stale index: the onStale policy applies; `retrain`
    * replays geometry + codes in-query (same answer a rebuild would give,
    * no pruning). Deletion vectors (the BM25 deleted-docs rule's analog):
    * a DV'd row never RANKS — the exact-rerank scan drops it — but its
    * stored code can occupy a rerank slot until the next REFRESH, which
    * since the dv-digest tier sees DV-only churn and re-derives exactly
    * the touched files' codes (`t$indexes` reports the interim
    * `dv_drift`); result membership is always live-exact either way.
    * Output: (vec_id, list_id, sim). */
  def searchPq(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, probes: Int = 1,
      rerank: Int = 50): DataFrame =
    searchPqAt(spark, table, colName, probe, topK, probes, rerank, None, None)

  /** FILTERED IVF-PQ search — the RAG serving shape at 100 TB: a
    * metadata predicate AND compressed candidates in one query. The
    * predicate composes BEFORE the ADC rerank cutoff (the filtered-ANN
    * rule, applied at the compression tier: filtering the ADC top-r's
    * OUTPUT would under-fill the rerank budget whenever the filter is
    * selective). Dataflow: the probed lists' files are scanned once for
    * the predicate columns ONLY (pushdown applies; the embedding column
    * is not read), the matching ids semi-join the narrow codes sidecar,
    * ADC pre-ranks the survivors, and only the top-`rerank` fetch
    * embeddings for the exact rerank — so the result is the exact top-k
    * among the ADC-top-`rerank` of the PREDICATE-MATCHING rows of the
    * probed lists, deterministic and oracle-replayable. */
  def searchPqWhere(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, probes: Int, rerank: Int,
      predicate: Column): DataFrame =
    searchPqAt(spark, table, colName, probe, topK, probes, rerank,
      Some(predicate), None)

  /** PQ time travel (r15): the snapshot dir carries its OWN `pqcb/` +
    * `codes/` sidecars, so the compressed serve replays at the version —
    * ADC pre-rank over the historical codes, exact rerank pinned to the
    * snapshot scan. An optional predicate semi-joins the codes BEFORE
    * each cutoff (the filtered-PQ rule), evaluated against the
    * snapshot's rows. On a BY PARTITION snapshot every pin serves its
    * OWN historical codebook/codes (part-local ADC cutoff and top-k,
    * then the global top-k). */
  def searchAsOfPq(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, version: Int, probes: Int,
      rerank: Int, predicate: Option[Column] = None): DataFrame =
    searchPqAt(spark, table, colName, probe, topK, probes, rerank, predicate,
      Some(version))

  private def searchPqAt(spark: SparkSession, table: String,
      colName: String, probe: Array[Float], topK: Int, probes: Int,
      rerank: Int, predicate: Option[Column],
      version: Option[Int]): DataFrame = {
    val pv = typedLit(probe.toSeq)
    val wAdcP = Window.partitionBy("part")
      .orderBy(desc("sim_adc"), col("vec_id"))
    val view = resolve(spark, table, colName, "VECTOR SEARCH PQ", version)
    val noPqCodebook =
      s"${view.op}: the index on $table ($colName) has no PQ codebook — " +
        "either the anchor id range had no rows below " +
        s"${Similarity.PqCbK}, or a BY PARTITION index predates the " +
        "per-partition PQ tier; re-run CREATE VECTOR INDEX, or use " +
        "search/searchWhere"
    serve(view, PqSidecars, noPqCodebook) { v =>
      if (v.p.partCol.isDefined) {
        // BY PARTITION (r13): every pin ADC-ranks ITS OWN codes against
        // ITS OWN ranked codebook, reranks exactly within its files, and
        // the global top-k ranks the ≤ pins×k union — the same multi-pin
        // shape as searchWhere, with the compression tier's two-stage
        // candidate cut inside each pin. No pin = all partitions (the
        // C225 union). ONE part-keyed dataflow (r14): probe pairs from
        // the ranked cents window, per-part ADC cutoff via a (part)-keyed
        // window against per-part broadcast codebooks, one survivor-file
        // collect, one rerank scan with part-local then global top-k —
        // two driver collects total, independent of the partition count.
        val pins = v.pinsOf(predicate)
        val probed = probePairsOf(pinned(v.sidecar("cents"), pins), probe,
          probes)
        val codesProbed = v.sidecar("codes").join(broadcast(probed),
          Seq("part", "list_id"))
        // the predicate narrows each pin's codes BEFORE its rerank cutoff
        // (the filtered-PQ rule, per pin): the probed lists' files scan
        // for the predicate columns only, matching (part, id) pairs
        // semi-join the codes
        val codes = predicate match {
          case None => codesProbed
          case Some(pred) =>
            val pFiles = v.sidecar("posts").join(probed, Seq("part", "list_id"))
              .select("file").distinct().collect().map(_.getString(0))
            if (pFiles.isEmpty) codesProbed.where(lit(false))
            else codesProbed.join(v.partIds(v.scan(pFiles.toSeq).where(pred),
              pins), Seq("part", "vec_id"), "left_semi")
        }
        val top = codes.join(broadcast(cbArrByPart(v.sidecar("pqcb"))), "part")
          .withColumn("sim_adc",
            Similarity.pqAdc(col("cents"), pv, b => col(s"code$b")))
          .withColumn("ark", row_number().over(wAdcP))
          .where(col("ark") <= rerank)
          .select(col("part"), col("vec_id"), col("list_id"), col("file"))
          .localCheckpoint()
        val cand = top.select("file").distinct()
          .collect().map(_.getString(0))
        if (cand.isEmpty) v.empty
        else exactTopByPart(v.scan(cand.toSeq)
          .select(col(v.p.idCol).as("vec_id"), col(colName).as("embedding"),
            col(v.p.partCol.get).cast("string").as("part"))
          .join(broadcast(top.select(col("part"), col("vec_id"),
            col("list_id"))), Seq("part", "vec_id")), pv, topK)
      } else {
        val cents = v.sidecar("cents")
        val pLists = probeListsOf(cents, probe, probes)
        val cbArr = pqCbArr(v.sidecar("pqcb"))
        // ADC pre-rank over the NARROW codes sidecar (list filter pushed
        // to the parquet scan) — the embedding column is never read here.
        // A predicate narrows the codes FIRST (before the rerank cutoff):
        // the probed lists' files are scanned for the predicate columns
        // only and the matching ids semi-join the codes — at 100 TB that
        // scan touches ~1/k of the files and never the embedding column.
        val codes0 = v.sidecar("codes").where(col("list_id").isin(pLists: _*))
        val codes = predicate match {
          case None => Some(codes0)
          case Some(pred) =>
            val pFiles = v.sidecar("posts")
              .where(col("list_id").isin(pLists: _*))
              .select("file").distinct().collect().map(_.getString(0))
            if (pFiles.isEmpty) None
            // a snapshot-pinned scan evaluates the predicate against the
            // version's rows and DV state — a row deleted AFTER the
            // version still matches, a row appended after never does
            else Some(codes0.join(v.scan(pFiles.toSeq).where(pred)
              .select(col(v.p.idCol).as("vec_id")), Seq("vec_id"), "left_semi"))
        }
        codes.fold(v.empty) { codes =>
          // the survivors are MATERIALIZED (≤rerank rows): they drive
          // both the file pruning and the broadcast id semi-join below
          val top = codes
            .crossJoin(broadcast(cbArr))
            .withColumn("sim_adc",
              Similarity.pqAdc(col("cents"), pv, b => col(s"code$b")))
            .orderBy(desc("sim_adc"), col("vec_id")).limit(rerank)
            .select(col("vec_id"), col("list_id"), col("file"))
            .localCheckpoint()
          // exact rerank touches ONLY the survivors: their ≤rerank FILES
          // are the scan (codes carry the file column), and the broadcast
          // id semi-join narrows rows within them
          val cand = top.select("file").distinct()
            .collect().map(_.getString(0))
          if (cand.isEmpty) v.empty
          else exactTop(v.scan(cand.toSeq)
            .select(col(v.p.idCol).as("vec_id"), col(colName).as("embedding"))
            .join(broadcast(top.select(col("vec_id"), col("list_id"))),
              "vec_id"), pv, topK)
        }
      }
    } { v =>
      // in-query replay of the WHOLE pipeline (geometry + codebook
      // training + codes) under the build's persisted LISTS/SAMPLE
      // policy, so the answer matches a fresh rebuild's — no pruning,
      // same determinism; the predicate narrows candidates before the
      // cutoff, as in the fresh path
      val all = v.scan(v.names)
      if (v.p.partCol.isDefined) {
        // pinned partitions replay ranked slice retrain + ranked codebook
        // + codes + per-pin ADC cutoff + per-pin exact top-k + global
        // top-k in ONE part-keyed dataflow (r14)
        val pins = v.pinsOf(predicate)
        val rowsP = v.partKey(all, pins)
        val (assigned, cents) = retrainGeometryRankedByPart(rowsP, v.p)
        val cbByPart = cbArrByPart(trainPqCodebookRankedByPart(
          rowsP.select(col("part"), col("vec_id"), col("embedding"))))
        val inLists = assigned.join(
          broadcast(probePairsOf(cents, probe, probes)),
          Seq("part", "list_id"))
        val candRows = predicate.fold(inLists)(pred => inLists.join(
          v.partKey(all.where(pred), pins).select(col("part"), col("vec_id")),
          Seq("part", "vec_id"), "left_semi"))
        exactTopByPart(encodePqByPart(candRows, cbByPart)
          .withColumn("sim_adc",
            Similarity.pqAdc(col("cents"), pv, b => col(s"code$b")))
          .withColumn("ark", row_number().over(wAdcP))
          .where(col("ark") <= rerank), pv, topK)
      } else {
        val rows = v.rekey(all)
        val n = rows.count()
        val (assigned, cents) = retrainGeometry(rows, v.p, n)
        val cb = trainPqCodebook(rows, n)
        // same loud refusal as the fresh path: an empty codebook would
        // NULL every ADC score and silently rank garbage candidates
        if (cb.limit(1).count() == 0)
          throw new IllegalStateException(noPqCodebook)
        val inLists = assigned.where(col("list_id").isin(
          probeListsOf(cents, probe, probes): _*))
        val candRows = predicate.fold(inLists)(pred => inLists.join(
          all.where(pred).select(col(v.p.idCol).as("vec_id")),
          Seq("vec_id"), "left_semi"))
        exactTop(encodePq(candRows, pqCbArr(cb))
          .withColumn("sim_adc",
            Similarity.pqAdc(col("cents"), pv, b => col(s"code$b")))
          .orderBy(desc("sim_adc"), col("vec_id")).limit(rerank), pv, topK)
      }
    }
  }
}
