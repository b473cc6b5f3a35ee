package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.Tables
import graft.queries.QueryModule
import PortableHash._

/** Deduplication operator family for large-scale training-data pipelines
  * (SURVEY.md §2 B12-B13 + the north-star dedup mandate): exact keep-latest,
  * MinHash+LSH near-dup, SimHash, blocked n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale design (the whole point of these operators):
  *  - NOTHING is all-pairs. MinHash candidates come from banded LSH bucket
  *    equi-joins; SimHash pairs from signature-equality buckets; n-gram
  *    Jaccard from (lang, length-bucket) blocking; embedding pairs from
  *    hyperplane-sign buckets. Every self-join is an equi-join on a bucket
  *    key — a hash shuffle whose fan-in is bounded by band width, never
  *    O(n²).
  *  - Signatures are computed per-row inside whole-stage codegen
  *    ([[graft.functions.ShingleHashes]] — no explode, no shuffle, no
  *    interpreted lambda frames).
  *  - Exact dedup is the deterministic `row_number` form, not
  *    `dropDuplicates` (nondeterministic tie-break — SURVEY.md §7.5).
  *
  * Hashes are the engine-portable [[PortableHash]] family so every query has
  * a cell-exact DuckDB oracle; swap `xxhash64` in at cluster scale.
  */
object Dedup extends QueryModule {

  private[graft] val NumHashes = 16 // MinHash signature length
  private[graft] val BandRows = 2   // rows per LSH band → 8 bands
  private[graft] val MinhashJaccard = 0.05
  private val NgramJaccard = 0.06
  private val CosineThreshold = 0.35
  private val HammingK = 3   // q_dedup_simhash_k near-dup radius
  private val SpanK = 8      // q_dedup_spans duplicated-span gram length

  private val sqlShingles2 =
    "list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])"

  /** tokens → sorted distinct 2-gram shingle hashes: one codegen pass
    * ([[graft.functions.ShingleHashes]]) instead of millions of interpreted
    * `transform` lambda frames; sortedness unlocks the merge intersection. */
  private[llm] def hashedShingleSet(toks: Column): Column =
    array_sort(array_distinct(graft.functions.ShingleHashes.shingles(toks, 2)))

  /** doc_id + hashed shingle set (`hv`) + MinHash signature (`mh`).
    * Downstream Jaccard runs on the hashed-long sets, not the shingle
    * strings: long-array intersections are ~an order of magnitude cheaper
    * than string-set intersections in the candidate join, and the oracle
    * hashes identically so collisions (≈10⁻⁶ per pair) cannot diverge. */
  private def signatures(docs: DataFrame): DataFrame =
    minhashSignatureRows(docs, "text", Seq("doc_id"))

  /** (carry…, hv, mh) for an arbitrary frame/text column — the text
    * index's STORED-SIGNATURE sidecar rows ([[graft.sources.TextIndex]]):
    * the C69 "in production the corpus signatures live in a stored
    * table" made real. Pure per-row codegen, no geometry to persist. */
  private[graft] def minhashSignatureRows(docs: DataFrame, textCol: String,
      carry: Seq[String]): DataFrame =
    docs
      .select(carry.map(col) :+
        hashedShingleSet(split(col(textCol), " ")).as("hv"): _*)
      .withColumn("mh",
        graft.functions.ShingleHashes.minhashSignature(col("hv"), NumHashes))

  /** (carry…, band, bkey) LSH bucket rows off a STORED `mh` column — the
    * read-side half for signature sidecars; same banding arithmetic as
    * [[bandsOf]]. */
  private[graft] def minhashBandRows(sig: DataFrame,
      carry: Seq[String]): DataFrame = {
    val bandCols = array((0 until NumHashes / BandRows).map { b =>
      element_at(col("mh"), 2 * b + 1) * P + element_at(col("mh"), 2 * b + 2)
    }: _*)
    sig.select(carry.map(col) :+ posexplode(bandCols).as(Seq("band", "bkey")): _*)
  }

  /** Exact Jaccard between two SORTED distinct long-array columns:
    * codegen'd merge intersection, union size derived arithmetically
    * (|A|+|B|−|A∩B| — sets, so no union materialization). int/int double
    * division — bit-identical on both engines. */
  private[graft] def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.SortedArrayIntersectCount.count(a, b)
    inter.cast(DoubleType) / (size(a) + size(b) - inter)
  }

  /** Embedding-LSH geometry as a function of corpus size n. Integer-exact
    * (no floating log2 — the Spark plan and the DuckDB oracle must land on
    * the SAME integers, and `ceil(log2(2^k))` is float-noise territory):
    *  - bits/band = smallest b in [4, 16] with 32·2^b ≥ n → the per-band
    *    key space scales linearly with the corpus (~32 vectors per bucket
    *    in expectation), so within-bucket pair joins stay linear, never
    *    quadratic-in-n;
    *  - bands = smallest L in [2, 8] with 2^(8·L) ≥ n → more independent
    *    bands as bands get wider, recovering recall.
    * At sf0.01 (n = 500) this is the familiar 2 × 4-bit layout; at n = 10⁹
    * it becomes 4 × 16-bit bands — 65 536 buckets per band. */
  private[graft] def embeddingLshParams(n: Long): (Int, Int) = {
    val bits = (4 to 16).find(b => (32L << b) >= n).getOrElse(16)
    // probe stops at 7: 8·8 = 64 would overflow the Long shift on both engines
    val bands = (2 to 7).find(l => (1L << (8 * l)) >= n).getOrElse(8)
    (bands, bits)
  }

  /** Recall-audit probe panel target: the exact side of the audit collects
    * and broadcasts ~this many probe vectors regardless of corpus size. */
  private[llm] val ProbePanelTarget = 256L

  /** Corpus-size-derived probe modulus for the recall audit: the smallest
    * power of two m with n ≤ m·[[ProbePanelTarget]], so the panel
    * `vec_id ≡ 0 (mod m)` holds ~[[ProbePanelTarget]] probes (within 2×)
    * at ANY corpus size — the round-5 verdict's fix for the fixed mod-50
    * panel that grew linearly with the corpus (2 % of 100 TB is not a
    * "bounded panel"). Integer-exact linear search over shifts, the same
    * pattern as [[embeddingLshParams]], mirrored verbatim in the DuckDB
    * oracle; shifts cap at 50 (2^50 · 256 = 2^58 stays inside BIGINT on
    * both engines). */
  private[llm] def probePanelModulus(n: Long): Long =
    (0 to 50).map(1L << _).find(m => n <= m * ProbePanelTarget)
      .getOrElse(1L << 50)

  /** Hyperplane-sign LSH near-dup pairs over an embeddings frame with
    * size-derived geometry ([[embeddingLshParams]]): anchors broadcast,
    * sign bits per-row, band-bucket equi-join, exact fixed-point cosine ≥
    * [[CosineThreshold]] on candidates only. Shared by `q_dedup_embedding`
    * and its recall audit. The one driver-side `count()` sizing the
    * geometry is the pre-planning cardinality read a production indexer
    * does. Returns (vec_a, vec_b, cosine). */
  private def embeddingLshPairs(emb: DataFrame): DataFrame =
    embeddingLshPairs(emb, emb.count())

  /** (vec_id [, carry…], band, bkey) hyperplane-sign bucket rows for an
    * embeddings frame with size-derived geometry
    * ([[embeddingLshParams]]) — the per-row derivation shared by the
    * corpus-wide LSH dedup and the banded SemDeDup pair join
    * ([[Clustering.semSurvivors]], which buckets the same way but pairs
    * within clusters). `carry` columns of the input ride along through
    * the explode — band keys are pure per-row math, so a caller that
    * needs payloads on the bucket rows carries them here instead of
    * re-joining by id afterwards. */
  private[llm] def embeddingBandRows(emb: DataFrame, n: Long,
      carry: Seq[String] = Seq.empty): DataFrame = {
    val (nBands, bits) = embeddingLshParams(n)
    embeddingBandRowsWith(emb, bandAnchors(emb, nBands, bits), nBands, bits,
      carry)
  }

  /** The anchor panel for a band derivation: the `nBands × bits`
    * lowest-vec_id rows of `src` as ONE sorted struct array — what the
    * vector-index tier persists at build time (`lshanch/`) so incremental
    * batches band against the SAME hyperplanes the corpus did. */
  private[graft] def bandAnchors(src: DataFrame, nBands: Int,
      bits: Int): DataFrame =
    src.filter(col("vec_id") < nBands * bits)
      .agg(array_sort(collect_list(struct(col("vec_id").as("a_id"),
        col("embedding").as("a_emb")))).as("anchors"))

  /** RANKED anchor panel — the `nBands × bits` lowest-id rows BY RANK
    * (TakeOrdered, never a sort), for corpora whose id range is sparse:
    * the id-bounded rule above leaves hyperplane slots empty there (an
    * even-ids-only corpus fills half the panel and every row collides in
    * the degenerate all-zero band). This is what the vector-index build
    * PERSISTS (`lshanch/`) — the stored artifact rule is ranked, like the
    * per-partition sub-index seeds ([[Clustering.kmeansAssignRanked]]). */
  private[graft] def bandAnchorsRanked(src: DataFrame, nBands: Int,
      bits: Int): DataFrame =
    src.orderBy("vec_id").limit(nBands * bits)
      .agg(array_sort(collect_list(struct(col("vec_id").as("a_id"),
        col("embedding").as("a_emb")))).as("anchors"))

  /** The band derivation from an EXPLICIT anchor panel + geometry — the
    * per-row half of [[embeddingBandRows]], shared with the vector-index
    * incremental tier where the anchors are a STORED artifact (batch rows
    * must hash against the corpus's hyperplanes, not their own). */
  private[graft] def embeddingBandRowsWith(emb: DataFrame,
      anchorArr: DataFrame, nBands: Int, bits: Int,
      carry: Seq[String] = Seq.empty,
      keepKeys: Boolean = false): DataFrame = {
    val withAnchors = emb.crossJoin(broadcast(anchorArr))
    // try_element_at: an anchor slot past the collected array (corpus
    // smaller than bands × bits, or sparse vec_ids) yields NULL → the
    // NULL-propagated dot fails the `> 0` test → sign bit 0, exactly
    // DuckDB's out-of-bounds list semantics. Plain element_at would THROW
    // under Spark 4's ANSI mode while the oracle silently emits 0 bits.
    def bandKey(lo: Int): Column =
      (0 until bits).map { i =>
        when(dotFixed(col("embedding"),
          try_element_at(col("anchors"), lit(lo + i + 1)).getField("a_emb")) > 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    val sigs = withAnchors.select(
      (col("vec_id") +: carry.map(col)) :+
        array((0 until nBands).map(j => bandKey(j * bits)): _*).as("bks"): _*)
    // keepKeys rides the full key ARRAY on every exploded row (nBands ≤ 8
    // longs) — what lets a pair self-join test each pair ONCE, at its
    // first shared band, instead of once per shared band
    sigs.select(
      (col("vec_id") +: carry.map(col)) ++
        (if (keepKeys) Seq(col("bks")) else Nil) :+
        posexplode(col("bks")).as(Seq("band", "bkey")): _*)
  }

  /** PART-KEYED band derivation (r14): every partition's sign-band keys
    * in ONE pass, for the BY PARTITION incremental-dedup tier. `emb`
    * carries (part, vec_id, embedding [, carry…]); `geo` is one row per
    * part — (part, n_bands, bits, anchors), the per-slice
    * [[embeddingLshParams]] + RANKED panel the partitioned index stores
    * (`lshanch/`). Geometry VARIES per part, so the unrolled 1<<i sum of
    * [[embeddingBandRowsWith]] becomes a high-to-low `acc*2 + bit` fold
    * over `sequence(bits-1, 0, -1)` — identical integers (Σ bit_i·2^i),
    * no shifts by a column needed — and the per-row band array is a
    * `transform` over `sequence(0, n_bands-1)`. Same NULL-propagation
    * rule: an anchor slot past the panel yields sign bit 0 via
    * `try_element_at`. Per-part rows equal the unrolled derivation run
    * per slice — the hash contract of the serve paths built on it. */
  private[graft] def embeddingBandRowsByPart(emb: DataFrame, geo: DataFrame,
      carry: Seq[String] = Seq.empty,
      keepKeys: Boolean = false): DataFrame = {
    val withG = emb.join(broadcast(geo), "part")
    def bit(lo: Column, i: Column): Column =
      when(dotFixed(col("embedding"),
        try_element_at(col("anchors"), lo + i + 1).getField("a_emb")) > 0,
        lit(1L)).otherwise(lit(0L))
    def bandKey(lo: Column): Column =
      aggregate(sequence(col("bits") - 1, lit(0), lit(-1)), lit(0L),
        (acc, i) => acc * 2 + bit(lo, i))
    val sigs = withG.select(
      (col("part") +: col("vec_id") +: carry.map(col)) :+
        transform(sequence(lit(0), col("n_bands") - 1),
          j => bandKey(j * col("bits"))).as("bks"): _*)
    sigs.select(
      (col("part") +: col("vec_id") +: carry.map(col)) ++
        (if (keepKeys) Seq(col("bks")) else Nil) :+
        posexplode(col("bks")).as(Seq("band", "bkey")): _*)
  }

  /** Variant taking a pre-computed corpus count, so callers that already
    * sized something else from n (the recall audit's probe modulus) reuse
    * one scan instead of counting twice. r15 — the r14 SemDeDup fusion
    * applied to the raw-table LSH: embeddings RIDE the band rows (zero
    * re-fetch joins by id), the anchor panel is localized (its broadcast
    * launches no job inside the self-join), and the MIN-SHARED-BAND rule
    * tests each candidate pair exactly once, at its first shared band —
    * no materialized pair set, no distinct-then-refetch round trips. The
    * emitted pair set and cosines are unchanged (pair uniqueness is
    * structural under the rule). */
  private def embeddingLshPairs(emb: DataFrame, n: Long): DataFrame = {
    val (nBands, bits) = embeddingLshParams(n)
    val src = emb.select(col("vec_id"), col("embedding"))
    val bands = embeddingBandRowsWith(src,
      Clustering.localize(bandAnchors(src, nBands, bits)), nBands, bits,
      carry = Seq("embedding"), keepKeys = true)
    val xb = bands.select(col("vec_id").as("vec_a"), col("band"),
      col("bkey"), col("bks").as("x_bks"), col("embedding").as("e_a"))
    val yb = bands.select(col("vec_id").as("vec_b"),
      col("band").as("y_band"), col("bkey").as("y_bkey"),
      col("bks").as("y_bks"), col("embedding").as("e_b"))
    xb.join(yb,
        col("band") === col("y_band") && col("bkey") === col("y_bkey") &&
          col("vec_a") < col("vec_b") &&
          !graft.functions.BandPrefixCollides.collides(
            col("x_bks"), col("y_bks"), col("band")) &&
          dotFixed(col("e_a"), col("e_b")) >= CosineThreshold)
      .select(col("vec_a"), col("vec_b"),
        dotFixed(col("e_a"), col("e_b")).as("cosine"))
  }

  /** Banded-LSH candidate pairs from a (doc_id, mh) signature frame: band
    * the signature into `NumHashes / BandRows` keys, bucket equi-join on
    * (band, key), ordered pair per collision. The only shuffle is the
    * bucket join; fan-in bounded by band selectivity, never O(n²). Shared
    * by q_dedup_minhash and the composite corpus pipeline. */
  /** (doc_id, band, bkey) LSH bucket rows for a signature frame. */
  private def bandsOf(sig: DataFrame): DataFrame = {
    val bandCols = array((0 until NumHashes / BandRows).map { b =>
      element_at(col("mh"), 2 * b + 1) * P + element_at(col("mh"), 2 * b + 2)
    }: _*)
    sig.select(col("doc_id"), posexplode(bandCols).as(Seq("band", "bkey")))
  }

  private[llm] def minhashCandidates(sig: DataFrame): DataFrame = {
    val bands = bandsOf(sig)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** doc_id + 31-bit SimHash over BIGRAM shingles (duplicates kept — each
    * occurrence votes). Bigrams, not unigrams: on a small vocabulary the
    * unigram signature space collapses (most docs within hamming ~6); the
    * bigram vocabulary is quadratically larger, spreading signatures so a
    * small hamming radius is actually selective. */
  def simhashBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.ShingleHashes.simhash(
        graft.functions.ShingleHashes.shingles(split(col("text"), " "), 2)).as("simhash"))

  /** All pairs at hamming(simhash) ≤ k, WITHOUT an all-pairs join: the
    * 31-bit signature is cut into k+1 bands; two signatures within hamming k
    * must agree exactly on at least one band (pigeonhole — k differing bits
    * cannot touch all k+1 bands), so band-equality candidate generation has
    * GUARANTEED exact recall and the residual `bit_count(a^b) <= k` filter
    * restores precision. One hash shuffle keyed by (band, bits); fan-in
    * bounded by band selectivity (~31/(k+1) bits each), never O(n²). The
    * DuckDB oracle computes the brute-force all-pairs form — the gate
    * certifies the banded plan loses no pair. */
  def simhashPairsWithinK(sigs: DataFrame, k: Int): DataFrame = {
    val nBands = k + 1
    val w = (31 + nBands - 1) / nBands
    val bandArr = array((0 until nBands).map { b =>
      val width = math.min(w, 31 - b * w)
      shiftright(col("simhash"), b * w).bitwiseAND(lit((1L << width) - 1L))
    }: _*)
    val bands = sigs.select(col("doc_id"), col("simhash"),
      posexplode(bandArr).as(Seq("band", "bkey")))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast(IntegerType).as("hamming"))
      .filter(col("hamming") <= k)
  }

  /** Connected components over a near-dup pair list — LSH emits PAIRS, but
    * dedup needs CLUSTERS (pick one canonical doc per component; hamming/
    * Jaccard closeness is not transitive, so components ≠ equality groups).
    *
    * Algorithm: iterative min-label propagation with pointer jumping —
    * every node starts as its own label; each round takes the min of its
    * neighbors' labels, then shortcuts `l(v) ← min(l(v), l(l(v)))` (path
    * halving); fixpoint when no label changes. Each round is two keyed
    * joins + one per-node min, and `localCheckpoint` cuts the growing
    * lineage. Path halving makes the round count O(log diameter), so the
    * default iteration budget is DERIVED from the node count
    * (2·⌈log₂ n⌉ + 4) rather than a fixed constant — sufficient for any
    * graph on n nodes, adversarial long chains included. The DuckDB oracle
    * computes min-reachable-id per node with a recursive CTE: a genuinely
    * different algorithm (transitive closure) certifying the fixpoint.
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          maxIters: Int = 0): DataFrame =
    connectedComponentsWithStats(edges, nodes, maxIters)._1

  /** [[connectedComponents]] plus the executed round count (telemetry — a
    * production job logs it; DedupSpec pins the O(log n) bound).
    *
    * `maxIters` ≤ 0 (the default) derives the budget from the node count:
    * `2·⌈log₂ n⌉ + 4`. Path halving guarantees O(log diameter) rounds and
    * diameter ≤ n, so the derived budget is sufficient for ANY graph on n
    * nodes — including the adversarial long-chain case — not a tuning
    * constant to outgrow. If the budget is still exhausted (only possible
    * with an explicit too-small `maxIters`), the failure is diagnostic:
    * the exception reports rounds run and labels still moving, instead of
    * a bare `require` abort. */
  private[llm] def connectedComponentsWithStats(edges: DataFrame, nodes: DataFrame,
                                                maxIters: Int = 0): (DataFrame, Int) = {
    // materialize the symmetric edge list ONCE — its lineage (typically a
    // banded LSH self-join) must not recompute on every propagation round
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = nodes.select(col("doc_id"), col("doc_id").as("cluster_id"))
    val budget =
      if (maxIters > 0) maxIters
      else {
        val n = math.max(labels.count(), 2L)
        2 * (64 - java.lang.Long.numberOfLeadingZeros(n - 1)) + 4
      }
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < budget) {
      // (1) neighbor-min propagation: one edge⋈label join + per-node min
      val nbrMin = sym.join(labels, col("dst") === col("doc_id"))
        .groupBy(col("src")).agg(min("cluster_id").as("nbr_min"))
      val stepped = labels.join(nbrMin, col("doc_id") === col("src"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_label"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("l1"))
      // (2) pointer jumping (path halving): l(v) ← min(l(v), l(l(v))) — one
      // label⋈label self-join keyed by doc_id. Pure neighbor-min needs
      // rounds = component DIAMETER (a 1M-node chain at 100 TB would need
      // 1M shuffles); the shortcut halves every label path per round, so
      // convergence is O(log diameter) — the round-2/3 "documented upgrade
      // for long chains", now the default.
      val joined = stepped.as("a")
        .join(labels.select(col("doc_id").as("pid"), col("cluster_id").as("plabel")),
          col("a.l1") === col("pid"), "left")
        .select(col("a.doc_id"),
          least(col("a.l1"), coalesce(col("plabel"), col("a.l1"))).as("cluster_id"),
          when(least(col("a.l1"), coalesce(col("plabel"), col("a.l1"))) < col("a.old_label"), 1L)
            .otherwise(0L).as("chg"))
        .localCheckpoint()
      changed = joined.agg(sum("chg")).head().getLong(0)
      labels = joined.drop("chg")
      iter += 1
    }
    if (changed != 0) throw new IllegalStateException(
      s"connectedComponents exhausted its $budget-round budget with $changed " +
        s"labels still moving after round $iter — the graph needs more rounds " +
        "than the explicit maxIters allows; pass maxIters <= 0 to derive the " +
        "O(log n) budget from the node count")
    (labels, iter)
  }

  /** Cluster labels for the SimHash hamming ≤ k near-dup graph, computed
    * ONCE per (session, table dir) and reused — `q_dedup_clusters` and
    * `q_dedup_survivor` share the pair graph and the CC fixpoint instead
    * of each rebuilding both (round-4 advice: the two heaviest bench
    * entries were duplicating ~every shuffle). The fixpoint labels are
    * already `localCheckpoint`ed by [[connectedComponents]]' final round,
    * so the memo hands out a lineage-free frame; entries are keyed by the
    * SESSION REFERENCE itself (SparkSession has identity equality — unlike
    * an identity hash code, a reference can never collide with a different
    * session, and test corpora in fresh dirs never cross-pollute).
    * Staleness (round-5 advice): each entry carries a FINGERPRINT of the
    * table's file listing (path, length, mtime per file) taken at memo
    * time; a lookup whose fingerprint differs drops the stale frame and
    * recomputes, so a pipeline that rewrites `documents` under the same
    * dir in the same session gets fresh labels instead of silently stale
    * ones. The evicted frame's localCheckpoint blocks are freed by Spark's
    * ContextCleaner once the frame is unreferenced. Entries live for the
    * JVM (bounded by sessions × dirs — one frame of (doc_id, cluster_id)
    * each, at most one per dir). */
  private val ccMemo =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, DataFrame)]

  private def hammingClusterLabels(s: org.apache.spark.sql.SparkSession,
                                   d: String): DataFrame = {
    val fp = Tables.contentToken(Seq(s"$d/documents.parquet"))
    ccMemo.compute((s, d), (_, prev) =>
      if (prev != null && prev._1 == fp) prev
      else {
        val docs = Tables(s, d, "documents")
        val pairs = simhashPairsWithinK(simhashBigrams(docs), HammingK)
          .select("doc_a", "doc_b")
        (fp, connectedComponents(pairs, docs.select(col("doc_id"))))
      })._2
  }

  def queries: Map[String, Q] = Map(
    // Duplicated-SPAN detection (substring-level dedup à la "Deduplicating
    // Training Data Makes Language Models Better": find every SpanK-token
    // window shared across ≥2 documents and report, per doc, how much of
    // its text sits inside such spans). Pipeline: per-row codegen'd k-gram
    // hashes WITH positions (one Generate, no shuffle to form windows) →
    // grams shared by ≥2 distinct docs (one aggregate keyed by gram hash —
    // the shuffle is bounded by the distinct-gram vocabulary) → covered
    // token positions via an 8× map-side fan-out + per-doc distinct →
    // duplicated-token fraction in fixed point. At 100 TB every stage is
    // keyed (gram hash, then doc_id); nothing is all-pairs and no suffix
    // array needs to fit anywhere.
    "q_dedup_spans" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), size(col("tk")).cast(LongType).as("n_tok"),
          graft.functions.ShingleHashes.shingles(col("tk"), SpanK).as("gh"))
      val grams = docs.select(col("doc_id"), posexplode(col("gh")).as(Seq("p0", "h")))
      val shared = grams.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select("h")
      val dupTok = grams.join(shared, Seq("h"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("p0") + 1, col("p0") + SpanK)).as("tp"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("dup_tokens"))
      docs.join(dupTok, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tok"),
          size(col("gh")).cast(LongType).as("n_grams"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          floor(coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType) * 1e6
            / col("n_tok")).cast(LongType).as("dup_fp"))
        .orderBy("doc_id")
    }),

    // B12 — exact dedup keeping the latest event per (user_id, event_type):
    // deterministic row_number over a total order (ts DESC, event_id DESC).
    // One hash shuffle on the business key; scale-safe for any key cardinality.
    // URL canonicalization + dedup — the web-corpus ingest pass that
    // collapses scheme/host case, default ports, fragments, tracking
    // params and trailing slashes BEFORE any content hashing: the same
    // page crawled as HTTPS://Example.COM:443/a/?utm_source=x#top and
    // https://example.com/a must count once. URLs synthesize
    // deterministically from doc_id (the pii_redact pattern) so every
    // canonicalization rule is exercised; the whole pass is per-row
    // codegen'd regex/lower projections (no shuffle) followed by one
    // grouped count — at 100 TB the shuffle carries canonical keys, never
    // raw crawl records. No regex backreferences: the pattern chain stays
    // in the Java ∩ RE2 portable subset both engines compile identically.
    "q_dedup_url" -> ((s, d) => {
      val id = col("doc_id")
      val raw = concat(
        // scheme + host case varies by id; port/fragment/utm appear on cycles
        when(id % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
        when(id % 3 === 0, lit("Docs.Example.COM")).otherwise(lit("docs.example.com")),
        when(id % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/page/"), (id % 10).cast("string"),
        when(id % 5 === 0, lit("/")).otherwise(lit("")),
        lit("?id="), (id % 20).cast("string"),
        when(id % 2 === 0, lit("&utm_source=feed&utm_medium=rss")).otherwise(lit("")),
        when(id % 7 === 0, lit("#section-2")).otherwise(lit("")))
      val noFrag = regexp_replace(raw, "#.*", "")
      val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
      val host = regexp_replace( // lowercase host, strip default ports
        lower(regexp_extract(noFrag, "^[A-Za-z]+://([^/]+)", 1)),
        ":(443|80)$", "")
      val pathq0 = regexp_replace(noFrag, "^[A-Za-z]+://[^/]*", "")
      val noUtm = regexp_replace( // drop tracking params wherever they sit
        regexp_replace(pathq0, "utm_[a-z]+=[^&]*&?", ""), "[?&]$", "")
      // trailing slash before query / at end — literal replace + anchored
      // regex, NO backreferences ($1 vs \1 differs across engines)
      val pathq = regexp_replace(replace(noUtm, lit("/?"), lit("?")), "/$", "")
      val canon = concat(scheme, lit("://"), host, pathq)
      Tables(s, d, "documents")
        .select(id, canon.as("url"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_dups"), min("doc_id").as("first_doc"))
        .orderBy("url")
    }),

    "q_dedup_exact" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type")
        .orderBy(desc("ts"), desc("event_id"))
      Tables(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type")
    }),

    // B13 — MinHash + banded LSH near-dup detection:
    // shingle → 16-hash signature (per-row) → 8 bands of 2 → bucket
    // equi-join → exact Jaccard on candidates only. Never all-pairs.
    // WINDOWED dedup (duplicate-burst suppression): within each
    // (user, event_type) activity burst — a chain of repeats each ≤ 30 min
    // from the previous — only the FIRST event is kept (telemetry retry /
    // double-fire suppression). This is the batch analog of the stateful
    // first-seen streaming dedup with inactivity-based state expiry
    // (stream/StatefulDedup): state for a key "expires" when the key goes
    // quiet for 30 min, after which the next occurrence is new. One
    // session-style running window over a single (user, type) hash
    // exchange; no self-join.
    "q_dedup_windowed" -> ((s, d) => {
      val GapUs = 1800L * 1000000L
      val wOrd = Window.partitionBy("user_id", "event_type")
        .orderBy("ts_us", "event_id")
      val prev = lag(col("ts_us"), 1).over(wOrd)
      Tables(s, d, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("new_epoch",
          when(prev.isNull || col("ts_us") - prev > GapUs, 1).otherwise(0))
        .withColumn("epoch", sum("new_epoch").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("kept", row_number().over(
          Window.partitionBy("user_id", "event_type", "epoch")
            .orderBy("ts_us", "event_id")) === 1)
        .select(col("event_id"), col("user_id"), col("event_type"), col("kept"))
        .orderBy("event_id")
    }),

    // INCREMENTAL near-dedup — the shape a continuously-ingesting pipeline
    // actually runs: only the NEW batch (odd doc_ids here) is deduped
    // against the EXISTING corpus (even doc_ids), whose banded signatures
    // in production live in a stored signature table keyed by (band, bkey)
    // — the corpus text is never re-read and never re-hashed. The bucket
    // join is new-bands ⋈ existing-bands (fan-in bounded by band
    // selectivity, never |new| × |corpus|); Jaccard verifies candidates
    // only; each new doc reports its earliest duplicate-of target.
    "q_dedup_incremental" -> ((s, d) => {
      val sig = signatures(Tables(s, d, "documents"))
      val newSig = sig.filter(pmod(col("doc_id"), lit(2)) === 1)
      val oldSig = sig.filter(pmod(col("doc_id"), lit(2)) === 0)
      val cand = bandsOf(newSig).as("n").join(bandsOf(oldSig).as("o"),
          col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey"))
        .select(col("n.doc_id").as("doc_new"), col("o.doc_id").as("doc_old"))
        .distinct()
      val matched = cand
        .join(newSig.select(col("doc_id").as("doc_new"), col("hv").as("hv_n")), "doc_new")
        .join(oldSig.select(col("doc_id").as("doc_old"), col("hv").as("hv_o")), "doc_old")
        .filter(jaccard(col("hv_n"), col("hv_o")) >= MinhashJaccard)
        .groupBy("doc_new").agg(min("doc_old").as("dup_of"))
      newSig.select(col("doc_id"))
        .join(matched, col("doc_id") === col("doc_new"), "left")
        .select(col("doc_id"), col("dup_of"), col("dup_of").isNotNull.as("is_dup"))
        .orderBy("doc_id")
    }),

    "q_dedup_minhash" -> ((s, d) => {
      // fanned out + materialized once (r15): the one-row-group test
      // layout computed the per-doc signatures on ONE task, and the
      // THREE consumers below (band self-join + both hv join-backs)
      // each replayed the shingle/permutation pass through lineage
      val sig = signatures(Clustering.fanOut(Tables(s, d, "documents")))
        .localCheckpoint()
      // slim (doc_id, band, bkey) for the bucket join; shingle sets join
      // back in only for the surviving candidates.
      val cand = minhashCandidates(sig)
      cand
        .join(sig.select(col("doc_id").as("doc_a"), col("hv").as("hv_a")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("hv").as("hv_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          jaccard(col("hv_a"), col("hv_b")).as("jaccard"))
        .filter(col("jaccard") >= MinhashJaccard)
        .orderBy("doc_a", "doc_b")
    }),

    // SimHash: 31-bit signature from token-hash bit votes, computed entirely
    // per-row in one codegen pass (no explode, no shuffle).
    "q_dedup_simhash" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.ShingleHashes.simhash(
            graft.functions.ShingleHashes.shingles(split(col("text"), " "), 1)).as("simhash"))
        .orderBy("doc_id")),

    // SimHash duplicate pairs at hamming distance 0: a plain equi-self-join
    // on the signature — one hash shuffle keyed by simhash, cluster-bounded
    // fan-out. (The hamming ≤ k generalization is q_dedup_simhash_k below;
    // this unigram k = 0 form is kept because on the testdata's 31-token
    // vocabulary the unigram signature space is too dense for k ≥ 1.)
    "q_dedup_simhash_pairs" -> ((s, d) => {
      val sigs = Tables(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.ShingleHashes.simhash(
            graft.functions.ShingleHashes.shingles(split(col("text"), " "), 1)).as("simhash"))
      sigs.as("x").join(sigs.as("y"),
          col("x.simhash") === col("y.simhash") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.simhash").as("simhash"))
        .orderBy("doc_a", "doc_b")
    }),

    // SimHash near-dup pairs at hamming ≤ 3 over BIGRAM signatures — the
    // banded generalization ([[simhashPairsWithinK]]): k+1 = 4 bands of
    // ≤8 bits, candidate on band equality (exact recall by pigeonhole),
    // residual bit_count(a^b) ≤ k. The oracle is deliberately the
    // brute-force all-pairs SQL: hash-matching it proves the banded plan
    // finds every qualifying pair.
    "q_dedup_simhash_k" -> ((s, d) =>
      simhashPairsWithinK(simhashBigrams(Tables(s, d, "documents")), HammingK)
        .orderBy("doc_a", "doc_b")),

    // Near-dup CLUSTERS: connected components over the hamming ≤ k pair
    // graph (min-label propagation to fixpoint; the oracle's recursive-CTE
    // transitive closure must agree). Every document gets a cluster id —
    // the min doc_id of its component; singletons label themselves.
    "q_dedup_clusters" -> ((s, d) =>
      hammingClusterLabels(s, d).orderBy("doc_id")),

    // SURVIVORSHIP: clusters alone don't dedup a corpus — each cluster needs
    // ONE canonical record (the "golden record" step of entity resolution /
    // the "keep one copy" step of near-dedup). Canonical = the longest
    // document (n_chars), ties → min doc_id. Both per-cluster aggregates
    // (size + argmax) are windows over ONE hash partitioning on cluster_id
    // — no join of the labeled table against itself; first() over the
    // (n_chars DESC, doc_id) order is a total-order argmax, deterministic.
    "q_dedup_survivor" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val labeled = hammingClusterLabels(s, d)
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      val wOrd = w.orderBy(desc("n_chars"), col("doc_id"))
      labeled
        .select(col("doc_id"), col("cluster_id"),
          count(lit(1)).over(w).as("cluster_size"),
          first("doc_id").over(wOrd).as("canonical_id"))
        .withColumn("is_canonical",
          when(col("doc_id") === col("canonical_id"), 1).otherwise(0)
            .cast(IntegerType))
        .orderBy("doc_id")
    }),

    // Exact n-gram (3-gram) Jaccard near-dup with MINHASH-BANDED candidate
    // generation. Round-4 verdict finding #1: the previous
    // (lang, token-count-bucket) self-join degenerates at 100 TB — the
    // (en, common-length) block holds millions of docs so Σ|block|² goes
    // quadratic, and boundary-straddling near-dups (49 vs 51 tokens land in
    // different buckets) are silently missed. Candidates now come from the
    // SAME banded MinHash buckets q_dedup_minhash uses ([[minhashCandidates]]
    // — fan-in bounded by band selectivity, robust to length skew, no
    // bucket boundaries to straddle); exact 3-gram Jaccard on the candidate
    // pairs is the residual verifier, with same-lang as a cheap post-filter.
    "q_dedup_ngram" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val tri = docs.select(col("doc_id"), col("lang"),
          array_sort(array_distinct(
            graft.functions.ShingleHashes.shingles(split(col("text"), " "), 3))).as("sh"))
        .filter(size(col("sh")) > 0) // <3 tokens → no 3-grams, never a candidate
      minhashCandidates(signatures(docs))
        .join(tri.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"),
          col("sh").as("sh_a")), "doc_a")
        .join(tri.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
          col("sh").as("sh_b")), "doc_b")
        .filter(col("lang_a") === col("lang_b"))
        .select(col("doc_a"), col("doc_b"),
          jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= NgramJaccard)
        .orderBy("doc_a", "doc_b")
    }),

    // Embedding-cosine near-dup via hyperplane-sign LSH with SIZE-DERIVED
    // geometry (round-4 verdict finding #2: the fixed 2-band × 4-bit layout
    // caps the key space at 16 buckets, so within-bucket pair joins go
    // quadratic as the corpus grows). Bands/bits now come from
    // [[embeddingLshParams]] — bucket count scales linearly with corpus
    // size (~32 vectors per bucket in expectation), band count grows as
    // bands widen to recover recall. Anchors (bands × bits of them, from
    // the lowest vec_ids) are broadcast; sign bits are computed per-row
    // against the broadcast array (zero shuffle); exact fixed-point cosine
    // ≥ 0.35 on candidates only; unit-norm embeddings so cosine = dot. The
    // one driver-side `count()` that sizes the geometry is the same
    // pre-planning cardinality read a production indexer does.
    // fanned out (r15): the one-row-group test layout plans the band
    // derivation + pair join on ONE task otherwise
    "q_dedup_embedding" -> ((s, d) =>
      embeddingLshPairs(Clustering.fanOut(Tables(s, d, "embeddings")),
        graft.Tables.rowCount(d, "embeddings"))
        .orderBy("vec_a", "vec_b")),

    // RECALL AUDIT for the embedding LSH (the number a production near-dup
    // deployment monitors, declared through the oracle gate like
    // q_similarity_recall): ground truth = exact cosine ≥ threshold pairs
    // for a DETERMINISTIC probe sample (vec_id ≡ 0 mod probePanelModulus(n),
    // the corpus-size-derived power of two holding the panel at ~256
    // probes at ANY corpus size), computed by broadcasting the probe set against
    // the full table (the only honest exact side at 100 TB: a bounded
    // probe panel, never all-pairs); found = those ground-truth pairs the
    // banded LSH emits. One row: n_true, n_found, recall. This is the
    // feedback loop that tunes nBands: sign-LSH recall at a loose cosine
    // threshold is intentionally partial (borderline pairs rarely agree on
    // a whole band; near-identical pairs almost always do — DedupSpec pins
    // the planted-pair case), and a deployment raises bands until the
    // audited recall meets its bar. Keeping the audit oracle-certified
    // means a silent geometry regression fails the driver gate.
    "q_dedup_embedding_recall" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      // probe modulus derived from corpus size (round-5 verdict: the fixed
      // mod-50 panel collected 2 % of ALL vectors — linear in the corpus);
      // the panel now holds ~ProbePanelTarget probes at any n, so the
      // broadcast exact side stays a few hundred rows at 10⁹ vectors. The
      // cardinality also sizes the LSH geometry — footer metadata (r17),
      // no scan.
      val n = graft.Tables.rowCount(d, "embeddings")
      val probes = emb.filter(pmod(col("vec_id"), lit(probePanelModulus(n))) === 0)
        .agg(collect_list(struct(col("vec_id").as("p_id"), col("embedding").as("p_emb")))
          .as("ps"))
      val exact = emb.crossJoin(broadcast(probes))
        .select(col("vec_id"), col("embedding"), explode(col("ps")).as("p"))
        .filter(col("vec_id") =!= col("p.p_id") &&
          dotFixed(col("embedding"), col("p.p_emb")) >= CosineThreshold)
        .select(least(col("p.p_id"), col("vec_id")).as("vec_a"),
          greatest(col("p.p_id"), col("vec_id")).as("vec_b"))
        .distinct()
      // one pass: a left join marks found pairs, one aggregate counts both
      // sides — the exact scan and the LSH pipeline each run exactly once.
      // recall is NULL (both engines) when the audit finds no ground-truth
      // pairs: Spark 0/0 is NaN while DuckDB errors or yields NULL, so the
      // degenerate-corpus case is pinned to one defined value.
      exact.join(
          embeddingLshPairs(emb, n).select(col("vec_a"), col("vec_b"), lit(1).as("hit")),
          Seq("vec_a", "vec_b"), "left")
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"))
        .select(col("n_true"), col("n_found"),
          when(col("n_true") > 0,
            col("n_found").cast(DoubleType) / col("n_true")).as("recall"))
    })
  )

  // ------------------------------------------------------------- oracles

  private def simhashSql(alias: String): String =
    s"""hs AS (SELECT doc_id,
       |  [${sqlPolyChar("s")} for s in string_split(text, ' ')] AS hv FROM documents),
       |bits AS (SELECT doc_id,
       |  [list_sum([((h >> b) & 1) * 2 - 1 for h in hv]) for b in range(0, 31)] AS bs FROM hs),
       |$alias AS (SELECT doc_id,
       |  CAST(list_sum([CASE WHEN bs[b+1] > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
       |                 for b in range(0, 31)]) AS BIGINT) AS simhash FROM bits)""".stripMargin

  /** Bigram-shingle SimHash twin of [[simhashBigrams]] (duplicates kept —
    * no list_distinct — so every occurrence votes, like SimHashPack). */
  private def simhashBigramSql(alias: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |hs AS (SELECT doc_id,
       |  [${sqlPolyChar("s")} for s in [t[i] || ' ' || t[i+1] for i in range(1, len(t))]] AS hv
       |  FROM toks),
       |bits AS (SELECT doc_id,
       |  [list_sum([((h >> b) & 1) * 2 - 1 for h in hv]) for b in range(0, 31)] AS bs FROM hs),
       |$alias AS (SELECT doc_id,
       |  CAST(list_sum([CASE WHEN bs[b+1] > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
       |                 for b in range(0, 31)]) AS BIGINT) AS simhash FROM bits)""".stripMargin

  /** The sign-band derivation CTEs alone (`nn`/`prm`/`anchors`/`sigs`/
    * `bands`) — shared by the embedding-LSH dedup oracles here and the
    * banded-SemDeDup replay ([[Clustering.sqlSemDedup]]), which buckets
    * the SAME way but pairs within clusters instead of corpus-wide. */
  private[llm] def sqlEmbeddingBandCtes: String =
    sqlEmbeddingBandSides("embeddings", Seq(("", "embeddings")))

  /** The band derivation with the GEOMETRY + ANCHORS from `anchorSrc` and
    * one `sigs<alias>`/`bands<alias>` block pair per (alias, relation)
    * side — the SQL twin of [[embeddingBandRowsWith]]: the vector-index
    * incremental replay derives corpus and batch band keys against the
    * corpus's hyperplanes in one WITH. An anchor slot past the panel
    * (sparse ids) reads NULL → sign bit 0 on both engines. */
  private[graft] def sqlEmbeddingBandSides(anchorSrc: String,
      sides: Seq[(String, String)],
      rankedAnchors: Boolean = false, pfx: String = ""): String = {
    // `pfx` namespaces the geometry/panel blocks so SEVERAL derivations
    // — one per partition slice of the BY PARTITION incremental replay —
    // coexist in one WITH (the sqlKmeansRanked prefix rule)
    val (nn, prm, anchors) = (s"nn$pfx", s"prm$pfx", s"anchors$pfx")
    // ranked = the stored-artifact rule ([[bandAnchorsRanked]]): the
    // panel is the bands×bits LOWEST ids by row_number, not id-bounded
    val anchorsBlock =
      if (rankedAnchors)
        s"""$anchors AS (
           |  SELECT list(embedding ORDER BY vec_id) AS al
           |  FROM (SELECT e.vec_id, e.embedding,
           |          row_number() OVER (ORDER BY e.vec_id) AS a_rn
           |        FROM $anchorSrc e), $prm
           |  WHERE a_rn <= bands * bits)""".stripMargin
      else
        s"""$anchors AS (
           |  SELECT list(embedding ORDER BY vec_id) AS al
           |  FROM $anchorSrc, $prm WHERE vec_id < bands * bits)""".stripMargin
    val head =
      s"""$nn AS (SELECT COUNT(*) AS n FROM $anchorSrc),
         |$prm AS (
         |  SELECT
         |    COALESCE((SELECT MIN(b) FROM (SELECT unnest(range(4, 17)) AS b) rb, $nn
         |              WHERE (CAST(32 AS BIGINT) << b) >= n), 16) AS bits,
         |    COALESCE((SELECT MIN(l) FROM (SELECT unnest(range(2, 8)) AS l) rl, $nn
         |              WHERE (CAST(1 AS BIGINT) << (8 * l)) >= n), 8) AS bands),
         |$anchorsBlock""".stripMargin
    val sideBlocks = sides.map { case (alias, src) =>
      s"""sigs$alias AS (
         |  SELECT e.vec_id, e.embedding,
         |    [list_sum([CASE WHEN ${sqlDotFixed("e.embedding", "a.al[j * p.bits + i + 1]")} > 0
         |               THEN (CAST(1 AS BIGINT) << i) ELSE 0 END for i in range(0, p.bits)])
         |     for j in range(0, p.bands)] AS bks
         |  FROM $src e, $anchors a, $prm p),
         |bands$alias AS (
         |  SELECT vec_id, j AS band, bks[j + 1] AS bkey
         |  FROM sigs$alias, $prm, (SELECT unnest(range(0, 8)) AS j) r WHERE j < bands)""".stripMargin
    }
    (head +: sideBlocks).mkString(",\n")
  }

  /** Shared CTE chain for the embedding-LSH oracles: size-derived geometry
    * (same integer search as [[embeddingLshParams]]) → sign-bit band keys →
    * bucket candidates → `lshp` = (vec_a, vec_b, cosine ≥ threshold). */
  private def sqlEmbeddingLshCtes: String =
    s"""$sqlEmbeddingBandCtes,
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
       |lshp AS (
       |  SELECT c.vec_a, c.vec_b, ${sqlDotFixed("ea.embedding", "eb.embedding")} AS cosine
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.vec_a
       |  JOIN embeddings eb ON eb.vec_id = c.vec_b
       |  WHERE cosine >= $CosineThreshold)""".stripMargin

  /** The incremental near-dup replay (corpus = even doc_ids, batch =
    * odd): shared by the raw-table query (`q_dedup_incremental`, C69)
    * and its INDEX-BACKED twin
    * (`q_dedup_minhash_indexed_incremental`, C230 — served from the
    * stored signature sidecar) — one dedup semantics, two surfaces,
    * zero drift. */
  private[graft] lazy val sqlDedupIncremental: String =
    s"""WITH $sqlDedupIncrementalCtes
       |SELECT d.doc_id, m.dup_of, m.dup_of IS NOT NULL AS is_dup
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
       |LEFT JOIN m ON m.doc_new = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The WITHIN-PARTITION twin (r16 — the BY PARTITION text index's
    * admission rule): candidates must share `source`, so a batch doc
    * duplicated from ANOTHER slice's corpus is admitted — the
    * tenant/date-scoped dedup a partitioned 100 TB corpus wants. Same
    * signature chain, one added equality in the bucket join. The split
    * is mod-3 (corpus = doc_id % 3 <> 0, batch = % 3 = 0): testdata
    * doc_id parity equals source parity, so a parity split would have
    * zero same-source candidates and the rule would gate nothing. */
  private[graft] lazy val sqlDedupIncrementalPartitioned: String =
    s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, source, $sqlShingles2 AS shingles FROM toks),
       |hs AS (SELECT doc_id, source, list_sort(list_distinct([${sqlPolyChar("s")} for s in shingles])) AS hv FROM sh),
       |sig AS (SELECT doc_id, source, hv,
       |  [list_min([(h * (2*j+1) + 7*j + 13) % $P for h in hv]) for j in range(0, $NumHashes)] AS mh
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, source, b, mh[2*b+1] * $P + mh[2*b+2] AS bkey
       |  FROM sig, (SELECT unnest(range(0, ${NumHashes / BandRows})) AS b)),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
       |  FROM bands n JOIN bands o
       |    ON n.b = o.b AND n.bkey = o.bkey AND n.source = o.source
       |  WHERE n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0),
       |m AS (
       |  SELECT doc_new, min(doc_old) AS dup_of
       |  FROM cand c JOIN sig sn ON sn.doc_id = c.doc_new
       |              JOIN sig so ON so.doc_id = c.doc_old
       |  WHERE CAST(len(list_intersect(sn.hv, so.hv)) AS DOUBLE) /
       |        (len(sn.hv) + len(so.hv) - len(list_intersect(sn.hv, so.hv)))
       |        >= $MinhashJaccard
       |  GROUP BY doc_new)
       |SELECT d.doc_id, m.dup_of, m.dup_of IS NOT NULL AS is_dup
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
       |LEFT JOIN m ON m.doc_new = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The CTE chain through `m` (doc_new → min corpus witness) — shared
    * with the ingest-pipeline composition (`q_corpus_ingest_pipeline`). */
  private[graft] lazy val sqlDedupIncrementalCtes: String =
      s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles2 AS shingles FROM toks),
         |hs AS (SELECT doc_id, list_sort(list_distinct([${sqlPolyChar("s")} for s in shingles])) AS hv FROM sh),
         |sig AS (SELECT doc_id, hv,
         |  [list_min([(h * (2*j+1) + 7*j + 13) % $P for h in hv]) for j in range(0, $NumHashes)] AS mh
         |  FROM hs),
         |bands AS (
         |  SELECT doc_id, b, mh[2*b+1] * $P + mh[2*b+2] AS bkey
         |  FROM sig, (SELECT unnest(range(0, ${NumHashes / BandRows})) AS b)),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
         |  FROM bands n JOIN bands o ON n.b = o.b AND n.bkey = o.bkey
         |  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0),
         |m AS (
         |  SELECT doc_new, min(doc_old) AS dup_of
         |  FROM cand c JOIN sig sn ON sn.doc_id = c.doc_new
         |              JOIN sig so ON so.doc_id = c.doc_old
         |  WHERE CAST(len(list_intersect(sn.hv, so.hv)) AS DOUBLE) /
         |        (len(sn.hv) + len(so.hv) - len(list_intersect(sn.hv, so.hv)))
         |        >= $MinhashJaccard
         |  GROUP BY doc_new)""".stripMargin


  def oracles: Map[String, String] = Map(
    // Same gram hashing as ShinglePolyHashes: polyChar over the k tokens
    // joined with single spaces; p0 (0-based) + 1 … p0 + K token coverage.
    "q_dedup_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, tk,
         |    unnest(range(1, greatest(CAST(len(tk) AS BIGINT) - ${SpanK - 2}, 1))) AS p1
         |  FROM t),
         |g AS (
         |  SELECT doc_id, p1,
         |    ${sqlPolyChar(s"array_to_string(tk[p1 : p1 + ${SpanK - 1}], ' ')")} AS h
         |  FROM pos),
         |shared AS (SELECT h FROM (
         |    SELECT h, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY h) WHERE nd >= 2),
         |cover AS (
         |  SELECT doc_id, unnest(range(p1, p1 + $SpanK)) AS tp
         |  FROM g WHERE h IN (SELECT h FROM shared)),
         |cnt AS (
         |  SELECT doc_id, COUNT(*) AS dup_tokens
         |  FROM (SELECT DISTINCT doc_id, tp FROM cover) GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
         |  CAST(greatest(len(tk) - ${SpanK - 1}, 0) AS BIGINT) AS n_grams,
         |  COALESCE(c.dup_tokens, 0) AS dup_tokens,
         |  CAST(floor(CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) * 1000000.0
         |             / len(tk)) AS BIGINT) AS dup_fp
         |FROM t LEFT JOIN cnt c USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,
    // Same synthesis + canonicalization chain, mirrored step for step.
    // DuckDB's regexp_replace is first-match by default — the 'g' flag on
    // the utm strip matches Spark's replace-all semantics.
    "q_dedup_url" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'Docs.Example.COM' ELSE 'docs.example.com' END) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/page/' || CAST(doc_id % 10 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        |    '?id=' || CAST(doc_id % 20 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '&utm_source=feed&utm_medium=rss' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS u
        |  FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(u, '#.*', '') AS s FROM raw),
        |canon AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(s, '^([A-Za-z]+)://', 1)) || '://' ||
        |    regexp_replace(lower(regexp_extract(s, '^[A-Za-z]+://([^/]+)', 1)),
        |                   ':(443|80)$', '') ||
        |    regexp_replace(
        |      replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(s, '^[A-Za-z]+://[^/]*', ''),
        |            'utm_[a-z]+=[^&]*&?', '', 'g'),
        |          '[?&]$', ''),
        |        '/?', '?'),
        |      '/$', '') AS url
        |  FROM nf)
        |SELECT url, CAST(COUNT(*) AS BIGINT) AS n_dups, min(doc_id) AS first_doc
        |FROM canon GROUP BY url ORDER BY url""".stripMargin,
    "q_dedup_exact" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q_dedup_windowed" ->
      """WITH o AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |    lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |                 THEN 1 ELSE 0 END AS new_epoch
        |  FROM o),
        |s AS (
        |  SELECT *, SUM(new_epoch) OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
        |  FROM f)
        |SELECT event_id, user_id, event_type,
        |  row_number() OVER (
        |    PARTITION BY user_id, event_type, epoch
        |    ORDER BY ts_us, event_id) = 1 AS kept
        |FROM s ORDER BY event_id""".stripMargin,
    "q_dedup_incremental" -> sqlDedupIncremental,
    "q_dedup_minhash" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles2 AS shingles FROM toks),
         |hs AS (SELECT doc_id, list_distinct([${sqlPolyChar("s")} for s in shingles]) AS hv FROM sh),
         |sig AS (SELECT doc_id, hv,
         |  [list_min([(h * (2*j+1) + 7*j + 13) % $P for h in hv]) for j in range(0, $NumHashes)] AS mh
         |  FROM hs),
         |bands AS (
         |  SELECT doc_id, b, mh[2*b+1] * $P + mh[2*b+2] AS bkey
         |  FROM sig, (SELECT unnest(range(0, ${NumHashes / BandRows})) AS b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(len(list_intersect(sa.hv, sb.hv)) AS DOUBLE) /
         |    (len(sa.hv) + len(sb.hv) - len(list_intersect(sa.hv, sb.hv))) AS jaccard
         |FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
         |WHERE jaccard >= $MinhashJaccard
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH ${simhashSql("sig")}
         |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash_pairs" ->
      s"""WITH ${simhashSql("sig")}
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.simhash AS simhash
         |FROM sig x JOIN sig y ON x.simhash = y.simhash AND x.doc_id < y.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Brute-force all-pairs reference for the BANDED Spark plan: matching
    // hashes certify the band-candidate generation has perfect recall.
    "q_dedup_simhash_k" ->
      s"""WITH ${simhashBigramSql("sig")}
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
         |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= $HammingK
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Transitive closure by recursive CTE: min reachable doc_id per node ==
    // the label-propagation fixpoint.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE ${simhashBigramSql("sig")},
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= $HammingK),
         |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         |reach(n, r) AS (
         |  SELECT doc_id AS n, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.a AS n, reach.r FROM edges e JOIN reach ON reach.n = e.b)
         |SELECT n AS doc_id, MIN(r) AS cluster_id
         |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin,
    // Same transitive-closure clusters; canonical via ranked window
    // (first_value over the same total order).
    "q_dedup_survivor" ->
      s"""WITH RECURSIVE ${simhashBigramSql("sig")},
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= $HammingK),
         |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         |reach(n, r) AS (
         |  SELECT doc_id AS n, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.a AS n, reach.r FROM edges e JOIN reach ON reach.n = e.b),
         |cl AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n),
         |j AS (
         |  SELECT c.doc_id, c.cluster_id, d.n_chars
         |  FROM cl c JOIN documents d USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  first_value(doc_id) OVER (
         |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS canonical_id,
         |  CAST(CASE WHEN doc_id = first_value(doc_id) OVER (
         |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id)
         |    THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
         |FROM j ORDER BY doc_id""".stripMargin,
    // Mirrors the banded-candidate plan: MinHash bands over 2-gram shingles
    // generate candidates; exact 3-gram Jaccard + same-lang is the residual.
    "q_dedup_ngram" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
         |hs AS (SELECT doc_id, list_distinct([${sqlPolyChar("s")} for s in $sqlShingles2]) AS hv
         |  FROM base),
         |sig AS (SELECT doc_id,
         |  [list_min([(h * (2*j+1) + 7*j + 13) % $P for h in hv]) for j in range(0, $NumHashes)] AS mh
         |  FROM hs),
         |bands AS (
         |  SELECT doc_id, b, mh[2*b+1] * $P + mh[2*b+2] AS bkey
         |  FROM sig, (SELECT unnest(range(0, ${NumHashes / BandRows})) AS b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |tri AS (
         |  SELECT doc_id, lang,
         |    list_distinct([${sqlPolyChar("s")}
         |      for s in [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]]) AS sh
         |  FROM base WHERE len(t) >= 3)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
         |    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
         |FROM cand c JOIN tri x ON x.doc_id = c.doc_a JOIN tri y ON y.doc_id = c.doc_b
         |WHERE x.lang = y.lang AND jaccard >= $NgramJaccard
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Mirrors the size-derived geometry with the SAME integer search:
    // smallest b in [4,16] with 32·2^b ≥ n, smallest L in [2,8] with
    // 2^(8L) ≥ n — no floating log2 on either engine.
    "q_dedup_embedding" ->
      s"""WITH $sqlEmbeddingLshCtes
         |SELECT vec_a, vec_b, cosine FROM lshp
         |ORDER BY vec_a, vec_b""".stripMargin,
    // Exact side = probe panel (vec_id ≡ 0 mod pmod, the corpus-size-derived
    // probePanelModulus — smallest power of two holding the panel at
    // ~ProbePanelTarget probes) broadcast against all vectors; found =
    // ground-truth pairs present in the banded LSH output.
    "q_dedup_embedding_recall" ->
      s"""WITH $sqlEmbeddingLshCtes,
         |pm AS (
         |  SELECT COALESCE((SELECT MIN(CAST(1 AS BIGINT) << s)
         |                   FROM (SELECT unnest(range(0, 51)) AS s) rs, nn
         |                   WHERE n <= (CAST(1 AS BIGINT) << s) * $ProbePanelTarget),
         |                  CAST(1 AS BIGINT) << 50) AS pmod),
         |probes AS (
         |  SELECT vec_id AS p_id, embedding AS p_emb
         |  FROM embeddings, pm WHERE vec_id % pmod = 0),
         |exact AS (
         |  SELECT DISTINCT least(p.p_id, e.vec_id) AS vec_a,
         |         greatest(p.p_id, e.vec_id) AS vec_b
         |  FROM embeddings e, probes p
         |  WHERE e.vec_id <> p.p_id
         |    AND ${sqlDotFixed("e.embedding", "p.p_emb")} >= $CosineThreshold),
         |f AS (
         |  SELECT COUNT(*) AS n_true, COUNT(l.vec_a) AS n_found
         |  FROM exact x LEFT JOIN (SELECT vec_a, vec_b FROM lshp) l
         |    USING (vec_a, vec_b))
         |SELECT n_true, n_found,
         |       CASE WHEN n_true > 0 THEN CAST(n_found AS DOUBLE) / n_true END AS recall
         |FROM f""".stripMargin
  )
}
