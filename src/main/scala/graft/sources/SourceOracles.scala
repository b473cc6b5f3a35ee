package graft.sources

/** The DuckDB oracle SQL of [[SourceQueries]]: per declared query, the
  * statement `scripts/check_oracle.py` replays over the ORIGINAL parquet
  * (via `graft.Verify`'s `oracle_sql.json`). The index
  * oracles unroll the engine's deterministic Lloyd / IVF / PQ / BM25
  * arithmetic in plain SQL, so a result is checked cell-for-cell
  * without trusting any engine code. */
private[sources] object SourceOracles {
  private val oracleSelect =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** The probe's searched list in the index oracles: the FLAT argmax of
    * the probe vector over ALL stored centroids (ref1 — exactly
    * `VectorIndex.probeLists` with probes = 1). Under the two-level row
    * assignment this can differ from the probe ROW's own list_id in a1,
    * so the oracle must derive it the way the engine's probe planner
    * does, not read it off the assignment. Emits `probe(pv, p_list)`. */
  /** The hybrid-retrieval replay (both rankers from raw parquet, RRF
    * fusion) — shared by `q_search_hybrid_indexed` and its time-travel
    * twin `q_search_hybrid_asof` (the snapshot IS the raw corpus). */
  private lazy val sqlHybridOracle: String = {
    val joinedBm25 = graft.llm.Text.sqlBm25PerDoc.replace(
      "FROM documents",
      "FROM (SELECT d.doc_id, d.text FROM documents d " +
        "JOIN embeddings e ON d.doc_id = e.vec_id)")
    graft.llm.PortableHash.sqlMat(s"""WITH ${graft.llm.Clustering.sqlKmeans(1)},
       |${sqlProbeFlat("probe")},
       |cosr AS (
       |  SELECT vec_id AS id,
       |    CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS r_cos
       |  FROM (
       |    SELECT a.vec_id,
       |      ${graft.llm.PortableHash.sqlDotFixed("a.embedding", "p.pv")} AS sim
       |    FROM a1 a JOIN probe p ON a.list_id = p.p_list
       |    ORDER BY sim DESC, a.vec_id LIMIT 50)),
       |bmr AS (
       |  SELECT doc_id AS id,
       |    CAST(row_number() OVER (ORDER BY score_fx DESC, doc_id) AS INTEGER) AS r_bm25
       |  FROM (SELECT * FROM ($joinedBm25) pd
       |        ORDER BY score_fx DESC, doc_id LIMIT 50))
       |SELECT COALESCE(b.id, c.id) AS id, b.r_bm25, c.r_cos,
       |  COALESCE(1.0 / (60 + b.r_bm25), 0.0) +
       |    COALESCE(1.0 / (60 + c.r_cos), 0.0) AS rrf
       |FROM bmr b FULL OUTER JOIN cosr c ON b.id = c.id
       |ORDER BY rrf DESC, id LIMIT 10""".stripMargin)
  }

  private def sqlProbeFlat(alias: String): String = {
    val dot = graft.llm.PortableHash.sqlDotFixed("e0.embedding", "r0.cl[ci]")
    s"""$alias AS (
       |  SELECT e.pv, r.ids[list_position(e.dots, list_max(e.dots))] AS p_list
       |  FROM (SELECT e0.embedding AS pv,
       |          [$dot for ci in range(1, len(r0.cl) + 1)] AS dots
       |        FROM embeddings e0, ref1 r0 WHERE e0.vec_id = 0) e, ref1 r)""".stripMargin
  }

  /** One pinned-partition ranked-seed search chain for the BY PARTITION
    * oracles: `p<label>` = the partition's rows, a `pfx`-prefixed ranked
    * Lloyd chain, `pl<label>` = the probe's list from ITS trained
    * geometry, `c<label>` = the per-pin top-10. Shared by the multi-pin
    * (2 chains) and the global / pins-are-all-partitions (10 chains)
    * replays; `pv` (the probe row) is the caller's shared block. */
  private def sqlPartChain(label: Int, pfx: String): String = {
    val pdot = graft.llm.PortableHash.sqlDotFixed(
      "e0.embedding", "r0.cl[ci]")
    s"""p$label AS (
       |  SELECT vec_id, label, embedding FROM embeddings
       |  WHERE label = $label),
       |${graft.llm.Clustering.sqlKmeansRanked(1, s"p$label", pfx = pfx)},
       |pl$label AS (
       |  SELECT r.ids[list_position(e.dots, list_max(e.dots))] AS p_list
       |  FROM (SELECT [$pdot for ci in range(1, len(r0.cl) + 1)] AS dots
       |        FROM embeddings e0, ref${pfx}1 r0
       |        WHERE e0.vec_id = 0) e, ref${pfx}1 r),
       |c$label AS (
       |  SELECT * FROM (
       |    SELECT a.vec_id, a.list_id,
       |      ${graft.llm.PortableHash.sqlDotFixed("a.embedding", "pv.pv")} AS sim
       |    FROM a${pfx}1 a JOIN pl$label ON a.list_id = pl$label.p_list,
       |         pv
       |    ORDER BY sim DESC, a.vec_id LIMIT 10))""".stripMargin
  }

  /** The pins-are-all-partitions union replay (ONE ranked chain per
    * label, per-pin top-10, global top-10) — shared by the live global
    * search over a BY PARTITION index and its AS OF twin (the snapshot
    * state IS the raw corpus). */
  private lazy val sqlPartitionedGlobalOracle: String =
    graft.llm.PortableHash.sqlMat(
      s"""WITH pv AS (
         |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |${(0 to 9).map(l => sqlPartChain(l, s"g${l}x")).mkString(",\n")}
         |SELECT vec_id, list_id, sim
         |FROM (${(0 to 9).map(l => s"SELECT * FROM c$l")
               .mkString(" UNION ALL ")})
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)

  /** One partition's ranked chain + batch assignment + per-(row, pin)
    * top-3 for the partitioned kNN-join oracles — shared by the
    * two-pin and the ten-way unpinned unions. Expects a `b` CTE
    * (bid, embedding) in scope. */
  private def sqlKnnPartChain(label: Int, pfx: String): String = {
    val dot = graft.llm.PortableHash.sqlDotFixed _
    s"""p$label AS (
       |  SELECT vec_id, label, embedding FROM embeddings
       |  WHERE label = $label),
       |${graft.llm.Clustering.sqlKmeansRanked(1, s"p$label", pfx = pfx)},
       |bd$pfx AS (
       |  SELECT b.bid, b.embedding,
       |    [${dot("b.embedding", "r0.cl[ci]")} for ci in range(1, len(r0.cl) + 1)] AS dots
       |  FROM b, ref${pfx}1 r0),
       |ba$pfx AS (
       |  SELECT bd.bid, bd.embedding,
       |    r.ids[list_position(bd.dots, list_max(bd.dots))] AS p_list
       |  FROM bd$pfx bd, ref${pfx}1 r),
       |c$pfx AS (
       |  SELECT bid, nn_id, sim FROM (
       |    SELECT ba.bid, a.vec_id AS nn_id,
       |      row_number() OVER (PARTITION BY ba.bid
       |        ORDER BY ${dot("ba.embedding", "a.embedding")} DESC,
       |          a.vec_id) AS rk,
       |      ${dot("ba.embedding", "a.embedding")} AS sim
       |    FROM ba$pfx ba JOIN a${pfx}1 a ON a.list_id = ba.p_list)
       |  WHERE rk <= 3)""".stripMargin
  }

  /** The unpinned partitioned kNN-join replay (TEN prefixed chains,
    * per-(row, pin) top-3s unioned, global per-row top-3) — shared by
    * the live unpinned batch join and its AS OF twin (the snapshot
    * state IS the raw corpus). */
  private lazy val sqlKnnPartitionedAllOracle: String =
    graft.llm.PortableHash.sqlMat(
      s"""WITH b AS (
         |  SELECT vec_id + 1000000 AS bid, embedding
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |${(0 to 9).map(l => sqlKnnPartChain(l, s"ka$l")).mkString(",\n")},
         |u AS (${(0 to 9).map(l => s"SELECT * FROM cka$l")
               .mkString(" UNION ALL ")})
         |SELECT vec_id, rank, nn_id, sim FROM (
         |  SELECT bid AS vec_id, nn_id,
         |    CAST(row_number() OVER (PARTITION BY bid
         |      ORDER BY sim DESC, nn_id) AS INTEGER) AS rank, sim
         |  FROM u) t
         |WHERE rank <= 3
         |ORDER BY vec_id, rank""".stripMargin)

  /** One partition's ranked chain with a THREE-list probe (r14 — PROBES
    * 3 composed into the partitioned union): the pin's nearest sub-list
    * plus two masked-max runners-up all rank (each mask step replays
    * the first-position tie-break, the sequential twin of the engine's
    * ranked window), per-pin top-10 as in [[sqlPartChain]]. */
  private def sqlPartChainMp(label: Int, pfx: String): String = {
    val pdot = graft.llm.PortableHash.sqlDotFixed(
      "e0.embedding", "r0.cl[ci]")
    s"""p$label AS (
       |  SELECT vec_id, label, embedding FROM embeddings
       |  WHERE label = $label),
       |${graft.llm.Clustering.sqlKmeansRanked(1, s"p$label", pfx = pfx)},
       |pd$label AS (
       |  SELECT r0.ids AS ids,
       |    [$pdot for ci in range(1, len(r0.cl) + 1)] AS dots
       |  FROM embeddings e0, ref${pfx}1 r0 WHERE e0.vec_id = 0),
       |pl$label AS (
       |  SELECT ids[p1] AS l1, ids[p2] AS l2,
       |    ids[list_position(md2, list_max(md2))] AS l3
       |  FROM (SELECT ids, p1, p2,
       |      [CASE WHEN i = p1 OR i = p2 THEN -1e18 ELSE dots[i] END
       |       for i in range(1, len(dots) + 1)] AS md2
       |    FROM (SELECT ids, dots, p1,
       |        list_position(md, list_max(md)) AS p2
       |      FROM (SELECT ids, dots, p1,
       |          [CASE WHEN i = p1 THEN -1e18 ELSE dots[i] END
       |           for i in range(1, len(dots) + 1)] AS md
       |        FROM (SELECT ids, dots,
       |            list_position(dots, list_max(dots)) AS p1
       |          FROM pd$label))))),
       |c$label AS (
       |  SELECT * FROM (
       |    SELECT a.vec_id, a.list_id,
       |      ${graft.llm.PortableHash.sqlDotFixed("a.embedding", "pv.pv")} AS sim
       |    FROM a${pfx}1 a JOIN pl$label
       |      ON a.list_id IN (pl$label.l1, pl$label.l2, pl$label.l3), pv
       |    ORDER BY sim DESC, a.vec_id LIMIT 10))""".stripMargin
  }

  /** The IVF search replay shared by the Scala-API query
    * (`q_vector_search`) and its SQL-statement twin
    * (`q_vector_search_sql[_filtered]`) — one search semantics, two
    * engine surfaces, one oracle. */
  private def sqlVectorSearchOracle(where: String,
      cols: String = "a.vec_id, a.list_id"): String =
    graft.llm.PortableHash.sqlMat(
      s"""WITH ${graft.llm.Clustering.sqlKmeans(1)},
         |${sqlProbeFlat("probe")}
         |SELECT $cols,
         |  ${graft.llm.PortableHash.sqlDotFixed("a.embedding", "p.pv")} AS sim
         |FROM a1 a JOIN probe p ON a.list_id = p.p_list
         |$where
         |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin)

  /** The IVF-PQ replay shared by the Scala-API query
    * (`q_vector_search_pq`) and its SQL-statement twin
    * (`q_vector_search_sql_pq`): same geometry (a1), same deterministic
    * codebook (the PqK lowest-anchor rows), same (x·x − 2·x·c) + c·c code
    * assembly and left-assoc ADC sum as q_embed_pq, ADC-top-50 cutoff
    * (sim_adc DESC, vec_id), exact fixed-point rerank of the survivors. */
  /** The IVF-PQ pipeline's WITH-blocks through `survivors` (the
    * ADC-top-50 candidates), shared by the search twins and the PQ
    * recall audit. Replays the TRAINED codebook
    * ([[VectorIndex.trainPqCodebook]]) block for block: seed composite
    * rows = the PqCbK lowest-anchor rows (`cb0`), training sample = the
    * deterministic decimation with anchors force-included (`pqtr`),
    * per-subspace min-L2 assignment against the seeds (`pqk0`, same
    * (x·x − 2·x·c) + c·c fixed-point assembly as encoding), per-(b, code)
    * fixed-point means float-narrowed (`pqc8`), empty codewords keep the
    * seed block (`pqseed`/`pqrow`), composite rows reassemble into the
    * ordered codebook `cbl` — then codes, ADC and the rerank cutoff as
    * before. `where` (a predicate over `a.…` columns) narrows the
    * candidates BEFORE the ADC cutoff — the filtered-PQ rule. `probes`
    * (1 or 2) sets the candidate lists: at 2 the runner-up probe list
    * derives via the masked-max pattern (the q_vector_search_mp rule)
    * and candidates union BOTH lists before the ADC cutoff. */
  /** The PQ building blocks shared by the single-probe search oracles
    * ([[sqlPqBlocks]]) and the batch kNN-join oracle
    * ([[sqlPqKnnJoinOracle]]): subspace slicing, per-block code
    * assignment text (len-derived codeword count — the same text codes
    * against seed and trained rows), and the ADC sum against a caller-
    * chosen query-vector expression. */
  private def pqBlk(e: String, b: Int): String = {
    import graft.llm.Similarity.PqDim
    s"$e[${b * PqDim + 1} : ${(b + 1) * PqDim}]"
  }
  private def pqD2s(b: Int): String = {
    val dot = graft.llm.PortableHash.sqlDotFixed _
    val xb = pqBlk("e.embedding", b); val cb = pqBlk("c.cl[pq_ci]", b)
    s"[(${dot(xb, xb)} - 2 * ${dot(xb, cb)}) + ${dot(cb, cb)} " +
      s"for pq_ci in range(1, len(c.cl) + 1)]"
  }
  private lazy val pqCodeCols: String = {
    import graft.llm.Similarity.PqM
    (0 until PqM).map(b =>
      s"CAST(list_position(${pqD2s(b)}, list_min(${pqD2s(b)})) - 1 AS INTEGER) AS code$b")
      .mkString(",\n    ")
  }
  private def pqAdcExpr(pv: String): String = {
    import graft.llm.Similarity.PqM
    val dot = graft.llm.PortableHash.sqlDotFixed _
    (0 until PqM).map(b =>
      dot(pqBlk(pv, b), pqBlk(s"c.cl[k.code$b + 1]", b))).mkString(" + ")
  }
  /** The trained-codebook chain (`cb0` seeds → decimated training rows →
    * per-cell fixed-point means → seed fallback → composite `cbl`) — the
    * [[VectorIndex.trainPqCodebook]] replay, corpus-parameterized only
    * through `embeddings`. */
  private lazy val sqlPqCbChain: String = {
    import graft.llm.Similarity.{PqM, PqDim, PqCbK, PqTrainCap, PqTrainJ}
    val caseCode = (0 until PqM).map(b => s"WHEN $b THEN k.code$b")
      .mkString(" ")
    s"""cb0 AS (
       |  SELECT list(embedding ORDER BY vec_id) AS cl
       |  FROM embeddings WHERE vec_id < $PqCbK),
       |pqm AS (SELECT GREATEST(1, COUNT(*) // $PqTrainCap) AS m
       |        FROM embeddings),
       |pqtr AS (
       |  SELECT e.vec_id, e.embedding FROM embeddings e, pqm
       |  WHERE ${graft.llm.PortableHash.sqlPermute("e.vec_id", PqTrainJ)} % pqm.m = 0
       |     OR e.vec_id < $PqCbK),
       |pqk0 AS (
       |  SELECT e.vec_id, e.embedding,
       |    $pqCodeCols
       |  FROM pqtr e, cb0 c),
       |pqflat AS (
       |  SELECT bb.b AS b, CASE bb.b $caseCode END AS code, ii.i AS i,
       |    CAST(floor(CAST(k.embedding[bb.b * $PqDim + ii.i] AS DOUBLE)
       |               * 1000000000000) AS BIGINT) AS v
       |  FROM pqk0 k, (SELECT unnest(range(0, $PqM)) AS b) bb,
       |       (SELECT unnest(range(1, ${PqDim + 1})) AS i) ii),
       |pqsv AS (
       |  SELECT b, code, i, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS nv
       |  FROM pqflat GROUP BY b, code, i),
       |pqc8 AS (
       |  SELECT b, code,
       |    list(CAST((CAST(s AS DOUBLE) / 1000000000000) / nv AS FLOAT)
       |         ORDER BY i) AS c8
       |  FROM pqsv GROUP BY b, code),
       |pqseed AS (
       |  SELECT jj.j - 1 AS code, bb.b AS b,
       |    c.cl[jj.j][bb.b * $PqDim + 1 : (bb.b + 1) * $PqDim] AS sblk
       |  FROM cb0 c, (SELECT unnest(range(1, $PqCbK + 1)) AS j) jj,
       |       (SELECT unnest(range(0, $PqM)) AS b) bb
       |  WHERE jj.j <= len(c.cl)),
       |pqrow AS (
       |  SELECT s.code AS c_id,
       |    flatten(list(COALESCE(t.c8, s.sblk) ORDER BY s.b)) AS c_emb
       |  FROM pqseed s LEFT JOIN pqc8 t ON t.b = s.b AND t.code = s.code
       |  GROUP BY s.code),
       |cbl AS (SELECT list(c_emb ORDER BY c_id) AS cl FROM pqrow)""".stripMargin
  }

  private def sqlPqBlocks(where: String = "", probes: Int = 1): String = {
      val dot = graft.llm.PortableHash.sqlDotFixed _
      val codeCols = pqCodeCols
      val adc = pqAdcExpr("p.pv")
      val probeBlocks =
        if (probes == 1) sqlProbeFlat("probe")
        else {
          // the TWO-list probe (masked-max runner-up — the
          // q_vector_search_mp rule); `probe` carries pv only
          val pdot = dot("e0.embedding", "r0.cl[ci]")
          s"""pqpd AS (
             |  SELECT r0.ids AS ids,
             |    [$pdot for ci in range(1, len(r0.cl) + 1)] AS dots
             |  FROM embeddings e0, ref1 r0 WHERE e0.vec_id = 0),
             |pqpm AS (
             |  SELECT ids, dots, list_position(dots, list_max(dots)) AS p1
             |  FROM pqpd),
             |pqpl AS (
             |  SELECT ids[p1] AS l1, ids[list_position(md, list_max(md))] AS l2
             |  FROM (SELECT ids, p1,
             |      [CASE WHEN i = p1 THEN -1e18 ELSE dots[i] END
             |       for i in range(1, len(dots) + 1)] AS md
             |    FROM pqpm)),
             |probe AS (
             |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)""".stripMargin
        }
      val candJoin =
        if (probes == 1) "FROM a1 a JOIN probe p ON a.list_id = p.p_list"
        else "FROM a1 a JOIN pqpl ON a.list_id = pqpl.l1 OR a.list_id = pqpl.l2"
        s"""${graft.llm.Clustering.sqlKmeans(1)},
           |$probeBlocks,
           |$sqlPqCbChain,
           |candpq AS (
           |  SELECT a.vec_id, a.list_id, a.embedding
           |  $candJoin
           |  $where),
           |kc AS (
           |  SELECT e.vec_id, e.list_id, e.embedding,
           |    $codeCols
           |  FROM candpq e, cbl c),
           |adct AS (
           |  SELECT k.vec_id, k.list_id, k.embedding, $adc AS sim_adc
           |  FROM kc k, cbl c, probe p),
           |survivors AS (
           |  SELECT vec_id, list_id, embedding FROM adct
           |  ORDER BY sim_adc DESC, vec_id LIMIT 50)""".stripMargin
  }

  /** The exact kNN-join replay shared by the one-shot query
    * (`q_vector_knn_join`) and its streaming twin (`q_stream_knn_join`
    * — neighbor sets are batch-vs-corpus independent, so the drained
    * micro-batch log must hash identically). */
  private lazy val sqlKnnJoinOracle: String = sqlKnnJoinOracleWhere("")

  private def sqlKnnJoinOracleWhere(where: String): String = {
    val dot = graft.llm.PortableHash.sqlDotFixed _
    graft.llm.PortableHash.sqlMat(
      s"""WITH ${graft.llm.Clustering.sqlKmeans(1)},
         |b AS (
         |  SELECT vec_id + 1000000 AS bid, embedding
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |bd AS (
         |  SELECT b.bid, b.embedding,
         |    [${dot("b.embedding", "r0.cl[ci]")} for ci in range(1, len(r0.cl) + 1)] AS dots
         |  FROM b, ref1 r0),
         |ba AS (
         |  SELECT bd.bid, bd.embedding,
         |    r.ids[list_position(bd.dots, list_max(bd.dots))] AS p_list
         |  FROM bd, ref1 r)
         |SELECT vec_id, rank, nn_id, sim FROM (
         |  SELECT ba.bid AS vec_id, a.vec_id AS nn_id,
         |    CAST(row_number() OVER (PARTITION BY ba.bid
         |      ORDER BY ${dot("ba.embedding", "a.embedding")} DESC, a.vec_id)
         |      AS INTEGER) AS rank,
         |    ${dot("ba.embedding", "a.embedding")} AS sim
         |  FROM ba JOIN a1 a ON a.list_id = ba.p_list $where) t
         |WHERE rank <= 3
         |ORDER BY vec_id, rank""".stripMargin)
  }

  /** The PQ kNN-join replay (`q_vector_knn_join_pq`): the trained chain
    * (a1) + the trained codebook chain + per-batch-row flat probe
    * assignment, per-candidate codes, the ADC sum against EACH batch
    * row's own vector, a per-batch-row ADC-top-`rerank` cutoff, and the
    * exact per-row rerank — [[sqlPqBlocks]]'s pipeline with the probe
    * generalized to a batch relation. */
  private lazy val sqlPqKnnJoinOracle: String = sqlPqKnnJoinOracleWhere("")

  private def sqlPqKnnJoinOracleWhere(where: String): String = {
    val dot = graft.llm.PortableHash.sqlDotFixed _
    val bdot = dot("b.embedding", "r0.cl[ci]")
    graft.llm.PortableHash.sqlMat(
      s"""WITH ${graft.llm.Clustering.sqlKmeans(1)},
         |b AS (
         |  SELECT vec_id + 1000000 AS bid, embedding
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |bd AS (
         |  SELECT b.bid, b.embedding,
         |    [$bdot for ci in range(1, len(r0.cl) + 1)] AS dots
         |  FROM b, ref1 r0),
         |ba AS (
         |  SELECT bd.bid, bd.embedding AS bemb,
         |    r.ids[list_position(bd.dots, list_max(bd.dots))] AS p_list
         |  FROM bd, ref1 r),
         |$sqlPqCbChain,
         |candpq AS (
         |  SELECT ba.bid, ba.bemb, a.vec_id, a.embedding
         |  FROM a1 a JOIN ba ON a.list_id = ba.p_list $where),
         |kc AS (
         |  SELECT e.bid, e.bemb, e.vec_id, e.embedding,
         |    $pqCodeCols
         |  FROM candpq e, cbl c),
         |adct AS (
         |  SELECT k.bid, k.bemb, k.vec_id, k.embedding,
         |    ${pqAdcExpr("k.bemb")} AS sim_adc
         |  FROM kc k, cbl c),
         |surv AS (
         |  SELECT bid, bemb, vec_id, embedding FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY bid ORDER BY sim_adc DESC, vec_id) AS rk
         |    FROM adct) WHERE rk <= 50)
         |SELECT vec_id, rank, nn_id, sim FROM (
         |  SELECT s.bid AS vec_id, s.vec_id AS nn_id,
         |    CAST(row_number() OVER (PARTITION BY s.bid
         |      ORDER BY ${dot("s.bemb", "s.embedding")} DESC, s.vec_id)
         |      AS INTEGER) AS rank,
         |    ${dot("s.bemb", "s.embedding")} AS sim
         |  FROM surv s) t
         |WHERE rank <= 3
         |ORDER BY vec_id, rank""".stripMargin)
  }

  /** The RANKED trained-codebook chain for a partition slice `src` —
    * `cb0` = the slice's PqCbK lowest ids BY RANK, ranked-cap
    * decimation, per-cell fixed-point means, seed fallback, composite
    * `cbl` — the [[VectorIndex.trainPqCodebookRanked]] replay, shared
    * by the pinned PQ search ([[sqlPqRankedOracle]]) and the pinned PQ
    * kNN join (r14). */
  private def sqlPqRankedCbChain(src: String): String = {
    import graft.llm.Similarity.{PqM, PqDim, PqCbK, PqTrainCap, PqTrainJ}
    s"""cb0 AS (
       |  SELECT list(embedding ORDER BY vec_id) AS cl
       |  FROM (SELECT vec_id, embedding FROM $src
       |        ORDER BY vec_id LIMIT $PqCbK)),
       |pqm AS (SELECT GREATEST(1, COUNT(*) // $PqTrainCap) AS m
       |        FROM $src),
       |pqthr AS (
       |  SELECT MAX(vec_id) AS t FROM (
       |    SELECT vec_id FROM $src ORDER BY vec_id LIMIT $PqCbK)),
       |pqtr AS (
       |  SELECT e.vec_id, e.embedding FROM $src e, pqm, pqthr
       |  WHERE ${graft.llm.PortableHash.sqlPermute("e.vec_id", PqTrainJ)} % pqm.m = 0
       |     OR e.vec_id <= pqthr.t),
       |pqk0 AS (
       |  SELECT e.vec_id, e.embedding,
       |    $pqCodeCols
       |  FROM pqtr e, cb0 c),
       |pqflat AS (
       |  SELECT bb.b AS b, CASE bb.b ${(0 until PqM)
         .map(b => s"WHEN $b THEN k.code$b").mkString(" ")} END AS code,
       |    ii.i AS i,
       |    CAST(floor(CAST(k.embedding[bb.b * $PqDim + ii.i] AS DOUBLE)
       |               * 1000000000000) AS BIGINT) AS v
       |  FROM pqk0 k, (SELECT unnest(range(0, $PqM)) AS b) bb,
       |       (SELECT unnest(range(1, ${PqDim + 1})) AS i) ii),
       |pqsv AS (
       |  SELECT b, code, i, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS nv
       |  FROM pqflat GROUP BY b, code, i),
       |pqc8 AS (
       |  SELECT b, code,
       |    list(CAST((CAST(s AS DOUBLE) / 1000000000000) / nv AS FLOAT)
       |         ORDER BY i) AS c8
       |  FROM pqsv GROUP BY b, code),
       |pqseed AS (
       |  SELECT jj.j - 1 AS code, bb.b AS b,
       |    c.cl[jj.j][bb.b * $PqDim + 1 : (bb.b + 1) * $PqDim] AS sblk
       |  FROM cb0 c, (SELECT unnest(range(1, $PqCbK + 1)) AS j) jj,
       |       (SELECT unnest(range(0, $PqM)) AS b) bb
       |  WHERE jj.j <= len(c.cl)),
       |pqrow AS (
       |  SELECT s.code AS c_id,
       |    flatten(list(COALESCE(t.c8, s.sblk) ORDER BY s.b)) AS c_emb
       |  FROM pqseed s LEFT JOIN pqc8 t ON t.b = s.b AND t.code = s.code
       |  GROUP BY s.code),
       |cbl AS (SELECT list(c_emb ORDER BY c_id) AS cl FROM pqrow)""".stripMargin
  }

  /** The per-partition IVF-PQ replay (`q_vector_search_partitioned_pq`):
    * one pinned partition's RANKED-seeded Lloyd chain, its RANKED PQ
    * codebook (seeds = the PqCbK lowest ids BY RANK; the training
    * decimation force-includes them via the ranked id cap), codes, ADC
    * cutoff and exact rerank — the engine's per-pin pipeline from raw
    * parquet. Probe = the pinned partition's lowest-id row. */
  private def sqlPqRankedOracle(label: Int): String = {
    val dot = graft.llm.PortableHash.sqlDotFixed _
    val pfx = s"q${label}x"
    val src = s"p$label"
    val adc = pqAdcExpr("p.pv")
    val pdot = dot("e0.embedding", "r0.cl[ci]")
    graft.llm.PortableHash.sqlMat(
      s"""WITH $src AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE label = $label),
         |${graft.llm.Clustering.sqlKmeansRanked(1, src, pfx = pfx)},
         |probe AS (
         |  SELECT e.pv, r.ids[list_position(e.dots, list_max(e.dots))] AS p_list
         |  FROM (SELECT e0.embedding AS pv,
         |          [$pdot for ci in range(1, len(r0.cl) + 1)] AS dots
         |        FROM $src e0, ref${pfx}1 r0
         |        WHERE e0.vec_id = (SELECT MIN(vec_id) FROM $src)) e,
         |       ref${pfx}1 r),
         |${sqlPqRankedCbChain(src)},
         |candpq AS (
         |  SELECT a.vec_id, a.list_id, a.embedding
         |  FROM a${pfx}1 a JOIN probe p ON a.list_id = p.p_list),
         |kc AS (
         |  SELECT e.vec_id, e.list_id, e.embedding,
         |    $pqCodeCols
         |  FROM candpq e, cbl c),
         |adct AS (
         |  SELECT k.vec_id, k.list_id, k.embedding, $adc AS sim_adc
         |  FROM kc k, cbl c, probe p),
         |survivors AS (
         |  SELECT vec_id, list_id, embedding FROM adct
         |  ORDER BY sim_adc DESC, vec_id LIMIT 50)
         |SELECT t.vec_id, t.list_id,
         |  ${dot("t.embedding", "p.pv")} AS sim
         |FROM survivors t, probe p
         |ORDER BY sim DESC, t.vec_id LIMIT 10""".stripMargin)
  }

  /** The pinned PQ kNN-join replay (`q_vector_knn_join_pq_partitioned`,
    * r14): the pinned slice's RANKED chain + RANKED codebook, the batch
    * assigned flat against the slice's trained geometry, per-candidate
    * codes, per-batch-row ADC-top-50 cutoff against each row's own
    * vector, exact per-row rerank — [[sqlPqKnnJoinOracleWhere]]'s
    * pipeline with the slice's ranked artifacts. */
  private def sqlPqRankedKnnJoinOracle(label: Int): String = {
    val dot = graft.llm.PortableHash.sqlDotFixed _
    val pfx = "kq"
    val src = s"p$label"
    val bdot = dot("b.embedding", "r0.cl[ci]")
    graft.llm.PortableHash.sqlMat(
      s"""WITH $src AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE label = $label),
         |${graft.llm.Clustering.sqlKmeansRanked(1, src, pfx = pfx)},
         |b AS (
         |  SELECT vec_id + 1000000 AS bid, embedding
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |bd AS (
         |  SELECT b.bid, b.embedding,
         |    [$bdot for ci in range(1, len(r0.cl) + 1)] AS dots
         |  FROM b, ref${pfx}1 r0),
         |ba AS (
         |  SELECT bd.bid, bd.embedding AS bemb,
         |    r.ids[list_position(bd.dots, list_max(bd.dots))] AS p_list
         |  FROM bd, ref${pfx}1 r),
         |${sqlPqRankedCbChain(src)},
         |candpq AS (
         |  SELECT ba.bid, ba.bemb, a.vec_id, a.embedding
         |  FROM a${pfx}1 a JOIN ba ON a.list_id = ba.p_list),
         |kc AS (
         |  SELECT e.bid, e.bemb, e.vec_id, e.embedding,
         |    $pqCodeCols
         |  FROM candpq e, cbl c),
         |adct AS (
         |  SELECT k.bid, k.bemb, k.vec_id, k.embedding,
         |    ${pqAdcExpr("k.bemb")} AS sim_adc
         |  FROM kc k, cbl c),
         |surv AS (
         |  SELECT bid, bemb, vec_id, embedding FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY bid ORDER BY sim_adc DESC, vec_id) AS rk
         |    FROM adct) WHERE rk <= 50)
         |SELECT vec_id, rank, nn_id, sim FROM (
         |  SELECT s.bid AS vec_id, s.vec_id AS nn_id,
         |    CAST(row_number() OVER (PARTITION BY s.bid
         |      ORDER BY ${dot("s.bemb", "s.embedding")} DESC, s.vec_id)
         |      AS INTEGER) AS rank,
         |    ${dot("s.bemb", "s.embedding")} AS sim
         |  FROM surv s) t
         |WHERE rank <= 3
         |ORDER BY vec_id, rank""".stripMargin)
  }

  /** The IVF-PQ replay shared by the Scala-API query
    * (`q_vector_search_pq`) and its SQL-statement twin
    * (`q_vector_search_sql_pq`): same geometry (a1), same deterministic
    * codebook (the PqK lowest-anchor rows), same (x·x − 2·x·c) + c·c code
    * assembly and left-assoc ADC sum as q_embed_pq, ADC-top-50 cutoff
    * (sim_adc DESC, vec_id), exact fixed-point rerank of the survivors. */
  private lazy val sqlVectorSearchPqOracle: String =
    graft.llm.PortableHash.sqlMat(
      s"""WITH ${sqlPqBlocks()}
         |SELECT t.vec_id, t.list_id,
         |  ${graft.llm.PortableHash.sqlDotFixed("t.embedding", "p.pv")} AS sim
         |FROM survivors t, probe p
         |ORDER BY sim DESC, t.vec_id LIMIT 10""".stripMargin)

  /** Filtered-PQ replay: the SAME pipeline with the predicate applied to
    * the probed lists' candidates BEFORE the ADC rerank cutoff — the
    * engine's searchPqWhere order, so a post-filter regression (cutoff
    * before predicate) under-fills the survivor set and hash-fails. */
  private lazy val sqlVectorSearchPqFilteredOracle: String =
    graft.llm.PortableHash.sqlMat(
      s"""WITH ${sqlPqBlocks("WHERE a.label % 2 = 0")}
         |SELECT t.vec_id, t.list_id,
         |  ${graft.llm.PortableHash.sqlDotFixed("t.embedding", "p.pv")} AS sim
         |FROM survivors t, probe p
         |ORDER BY sim DESC, t.vec_id LIMIT 10""".stripMargin)

  /** Recall@10 of the PQ path vs the exact brute-force top-10 — the
    * compression tier's quality number as oracle-certified data (the
    * C208 audit pattern). */
  private lazy val sqlVectorSearchPqRecallOracle: String = {
    val dot = graft.llm.PortableHash.sqlDotFixed _
    graft.llm.PortableHash.sqlMat(
      s"""WITH ${sqlPqBlocks()},
         |pqtop AS (
         |  SELECT vec_id FROM (
         |    SELECT t.vec_id, ${dot("t.embedding", "p.pv")} AS sim
         |    FROM survivors t, probe p
         |    ORDER BY sim DESC, t.vec_id LIMIT 10)),
         |exact AS (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id, ${dot("e.embedding", "p.pv")} AS sim
         |    FROM embeddings e, probe p
         |    ORDER BY sim DESC, vec_id LIMIT 10))
         |SELECT COUNT(*) AS n_true,
         |  COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS n_found,
         |  CAST(COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS DOUBLE)
         |    / COUNT(*) AS recall
         |FROM exact LEFT JOIN pqtop x ON exact.vec_id = x.vec_id""".stripMargin)
  }

  def oracles: Map[String, String] = Map(
    "q_source_csv_roundtrip" -> oracleSelect,
    "q_source_json_roundtrip" -> oracleSelect,
    "q_source_orc_roundtrip" -> oracleSelect,
    "q_sink_manifest" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    "q_join_bucketed" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  ${graft.queries.Det.sqlSum("o_totalprice")} AS sum_total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_file_lineage" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS file_year, COUNT(*) AS n,
         |  ${graft.queries.Det.sqlSum("o_totalprice")} AS sum_total
         |FROM orders GROUP BY 1 ORDER BY file_year""".stripMargin,
    "q_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(NULL AS TIMESTAMP) AS o_orderdate, CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,
    "q_source_dsv2" ->
      """SELECT doc_id, 'src' || CAST(doc_id % 20 AS VARCHAR) AS source,
        |  array_to_string([
        |    ['the','quick','spark','engine','reads','row','group','stats','and','prunes']
        |      [CAST((doc_id*31 + i*7) % 10 AS INT) + 1]
        |    for i in range(0, 12)], ' ') AS text
        |FROM (SELECT range AS doc_id FROM range(100, 400))
        |ORDER BY doc_id""".stripMargin,
    // The streamed-through-manifest table must equal the batch generator.
    "q_stream_sink_manifest" ->
      """SELECT 'src' || CAST(doc_id % 20 AS VARCHAR) AS source,
        |  COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_id
        |FROM (SELECT range AS doc_id FROM range(0, 300))
        |GROUP BY 1 ORDER BY source""".stripMargin,
    "q_delete_rows" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE NOT (lang = 'en' AND n_chars < 250)
        |  AND NOT (source = 'src7' AND n_chars > 300)
        |ORDER BY doc_id""".stripMargin,
    // The deletion-vector tier must produce the exact same complement.
    "q_delete_dv" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE NOT (lang = 'en' AND n_chars < 250)
        |  AND NOT (source = 'src7' AND n_chars > 300)
        |ORDER BY doc_id""".stripMargin,
    // The tag pins the PRE-divergence snapshot: the plain documents
    // projection, untouched by the later append and delete.
    "q_tag_read" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // The managed array<float> table must reproduce the raw parquet's
    // exact fixed-point cosine top-k — one lost float bit hash-fails.
    "q_embed_table" ->
      s"""WITH probe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  ${graft.llm.PortableHash.sqlDotFixed("embedding", "pv")} AS sim
         |FROM embeddings, probe
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    // Per-source counts are per-FILE physical metadata in the fixture.
    "q_meta_files" ->
      """SELECT count(*) AS n_rows,
        |       count(CASE WHEN NOT (source = 'src3' AND n_chars < 300)
        |                  THEN 1 END) AS live_rows,
        |       count(CASE WHEN source = 'src3' AND n_chars < 300
        |                  THEN 1 END) > 0 AS has_dv
        |FROM documents GROUP BY source
        |ORDER BY n_rows, live_rows""".stripMargin,
    // The staged base's one published vector index, as constants.
    "q_meta_indexes" ->
      """SELECT 'vector' AS kind, 'embedding' AS col, TRUE AS fresh,
        |  'anchors=vec_id pq=true' AS details""".stripMargin,
    // One vector-part row per label: k derives per slice (the kFor
    // policy over the label's count), one label-pure file each, fresh.
    "q_meta_indexes_partitioned" ->
      """SELECT 'vector-part' AS kind, 'embedding' AS col, TRUE AS fresh,
        |  'part=' || CAST(label AS VARCHAR) || ' k=' ||
        |  CAST(GREATEST(8, LEAST(c // 64,
        |    CAST(CEIL(SQRT(c)) AS BIGINT))) AS VARCHAR) ||
        |  ' files=1' AS details
        |FROM (SELECT label, COUNT(*) AS c FROM embeddings GROUP BY label)
        |ORDER BY details""".stripMargin,
    // One text-part row per source, one file each; the staged churn
    // append flips exactly the FIRST source's row stale (r15).
    "q_meta_indexes_text_partitioned" ->
      """SELECT 'text-part' AS kind, 'text' AS col,
        |  source != (SELECT min(source) FROM documents) AS fresh,
        |  'part=' || source || ' files=1' AS details
        |FROM (SELECT DISTINCT source FROM documents)
        |ORDER BY details""".stripMargin,
    // One file per source value → degenerate per-file ranges.
    "q_meta_partitions" ->
      """SELECT 'source' AS col, 'partition' AS kind,
        |       source AS min_value, source AS max_value,
        |       TRUE AS complete, count(*) AS live_rows
        |FROM documents GROUP BY source
        |ORDER BY min_value""".stripMargin,
    // The IVF result replayed from the raw parquet: same deterministic
    // Lloyd loop (shared unrolled generator), same probe list, same
    // fixed-point ranking — file layout and index never enter the answer.
    "q_vector_search" -> sqlVectorSearchOracle(""),
    // The SQL-statement surface answers EXACTLY what the Scala API does —
    // same oracle, zero drift between the two surfaces.
    "q_vector_search_sql" -> sqlVectorSearchOracle(""),
    // The composable form: search + label join in one statement — the
    // oracle selects the label straight off the assignment (a1 carries
    // it), which IS the join's result on a unique id.
    "q_vector_search_join" ->
      sqlVectorSearchOracle("", "a.vec_id, a.label, a.list_id"),
    // BY PARTITION replay: ranked-seed Lloyd over ONLY the pinned
    // partition's rows (sub-corpus ids need not start at 0), probe =
    // the partition's lowest-id row, probe list from the trained
    // sub-geometry — file layout and the sub-index never enter.
    "q_vector_search_partitioned" -> {
      val pdot = graft.llm.PortableHash.sqlDotFixed("e0.embedding", "r0.cl[ci]")
      val sdot = graft.llm.PortableHash.sqlDotFixed("a.embedding", "p.pv")
      graft.llm.PortableHash.sqlMat(
        s"""WITH p3 AS (
           |  SELECT vec_id, label, embedding FROM embeddings WHERE label = 3),
           |${graft.llm.Clustering.sqlKmeansRanked(1, "p3")},
           |probe AS (
           |  SELECT e.pv, r.ids[list_position(e.dots, list_max(e.dots))] AS p_list
           |  FROM (SELECT e0.embedding AS pv,
           |          [$pdot for ci in range(1, len(r0.cl) + 1)] AS dots
           |        FROM p3 e0, ref1 r0
           |        WHERE e0.vec_id = (SELECT MIN(vec_id) FROM p3)) e, ref1 r)
           |SELECT a.vec_id, a.list_id, $sdot AS sim
           |FROM a1 a JOIN probe p ON a.list_id = p.p_list
           |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin)
    },
    // Multi-pin replay: TWO independent ranked-seed chains (prefixed
    // block names), each pinned partition's probe list from ITS trained
    // geometry, per-pin top-10, global top-10 over the union.
    "q_vector_search_partitioned_multi" -> graft.llm.PortableHash.sqlMat(
      s"""WITH pv AS (
         |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |${sqlPartChain(3, "m3x")},
         |${sqlPartChain(5, "m5x")}
         |SELECT vec_id, list_id, sim
         |FROM (SELECT * FROM c3 UNION ALL SELECT * FROM c5)
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
    // Per-partition PQ replay: the pinned slice's ranked chain, ranked
    // codebook, codes, ADC cutoff and exact rerank from raw parquet.
    "q_vector_search_partitioned_pq" -> sqlPqRankedOracle(3),
    // Per-slice sampled-training replay: ranked decimation (force-include
    // via the ranked id cap), ranked Lloyd over the sample, one full-
    // slice assignment, probe list from the trained sub-geometry.
    "q_vector_search_partitioned_sampled" -> {
      val pdot = graft.llm.PortableHash.sqlDotFixed(
        "e0.embedding", "r0.cl[ci]")
      val sdot = graft.llm.PortableHash.sqlDotFixed(
        "a.embedding", "p.pv")
      val pfx = "s3x"
      graft.llm.PortableHash.sqlMat(
        s"""WITH p3 AS (
           |  SELECT vec_id, label, embedding FROM embeddings
           |  WHERE label = 3),
           |${graft.llm.Clustering.sqlKmeansRankedSampled(1, "p3", 20,
                pfx = pfx)},
           |probe AS (
           |  SELECT e.pv, r.ids[list_position(e.dots, list_max(e.dots))] AS p_list
           |  FROM (SELECT e0.embedding AS pv,
           |          [$pdot for ci in range(1, len(r0.cl) + 1)] AS dots
           |        FROM p3 e0, ref${pfx}1 r0
           |        WHERE e0.vec_id = (SELECT MIN(vec_id) FROM p3)) e,
           |       ref${pfx}1 r)
           |SELECT a.vec_id, a.list_id, $sdot AS sim
           |FROM a${pfx}f a JOIN probe p ON a.list_id = p.p_list
           |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin)
    },
    // Global replay: ONE chain PER PARTITION VALUE (labels 0-9 in the
    // testdata at every SF), per-pin top-10, global top-10 over the
    // 10-way union — the engine's pins-are-all-partitions union.
    "q_vector_search_partitioned_global" -> sqlPartitionedGlobalOracle,
    // The AS OF partitioned union answers the same replay over the raw
    // corpus (= the snapshot state; the decoys live only after v).
    "q_vector_search_asof_partitioned" -> sqlPartitionedGlobalOracle,
    // Recall@10 of the 10-way union vs the exact brute-force top-10.
    "q_vector_search_partitioned_recall" -> graft.llm.PortableHash.sqlMat(
      s"""WITH pv AS (
         |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |${(0 to 9).map(l => sqlPartChain(l, s"r${l}x")).mkString(",\n")},
         |approx AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, sim
         |    FROM (${(0 to 9).map(l => s"SELECT * FROM c$l")
                   .mkString(" UNION ALL ")})
         |    ORDER BY sim DESC, vec_id LIMIT 10)),
         |exact AS (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id,
         |      ${graft.llm.PortableHash.sqlDotFixed("e.embedding", "pv.pv")} AS sim
         |    FROM embeddings e, pv
         |    ORDER BY sim DESC, vec_id LIMIT 10))
         |SELECT COUNT(*) AS n_true,
         |  COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS n_found,
         |  CAST(COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS DOUBLE)
         |    / COUNT(*) AS recall
         |FROM exact LEFT JOIN approx x ON exact.vec_id = x.vec_id""".stripMargin),
    // Recall@10 of the TWO-probe partitioned union vs exact brute force.
    "q_vector_search_partitioned_recall_mp" -> graft.llm.PortableHash.sqlMat(
      s"""WITH pv AS (
         |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |${(0 to 9).map(l => sqlPartChainMp(l, s"h${l}x")).mkString(",\n")},
         |approx AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, sim
         |    FROM (${(0 to 9).map(l => s"SELECT * FROM c$l")
                   .mkString(" UNION ALL ")})
         |    ORDER BY sim DESC, vec_id LIMIT 10)),
         |exact AS (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id,
         |      ${graft.llm.PortableHash.sqlDotFixed("e.embedding", "pv.pv")} AS sim
         |    FROM embeddings e, pv
         |    ORDER BY sim DESC, vec_id LIMIT 10))
         |SELECT COUNT(*) AS n_true,
         |  COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS n_found,
         |  CAST(COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS DOUBLE)
         |    / COUNT(*) AS recall
         |FROM exact LEFT JOIN approx x ON exact.vec_id = x.vec_id""".stripMargin),
    "q_vector_search_sql_filtered" ->
      sqlVectorSearchOracle("WHERE a.label % 2 = 0"),
    // The full SemDeDup pipeline replayed at the index's training depth.
    "q_dedup_semantic_indexed" -> graft.llm.Clustering.sqlSemDedup(1),
    // Ten per-slice SemDeDup replays (ranked chain + per-slice banding),
    // unioned — the part-keyed composition over a BY PARTITION index.
    "q_dedup_semantic_partitioned" ->
      graft.llm.Clustering.sqlSemDedupPartitioned,
    // Ten per-slice diversity-sample replays, unioned.
    "q_sample_cluster_partitioned" ->
      graft.llm.Clustering.sqlClusterSamplePartitioned,
    // The incremental serve path replayed from raw parquet: corpus-only
    // depth-1 Lloyd (k sized from the corpus), batch assignment block,
    // ranked anchor panel, both band derivations against the corpus's
    // hyperplanes, batch×corpus bucket∩cluster candidates, min-id witness.
    "q_dedup_semantic_indexed_incremental" ->
      graft.llm.Clustering.sqlSemDedupIndexedIncremental,
    // Ten per-slice replays (ranked chain + per-slice band geometry per
    // label), unioned — the BY PARTITION incremental serve's oracle.
    "q_dedup_semantic_indexed_incremental_partitioned" ->
      graft.llm.Clustering.sqlSemDedupIndexedIncrementalPartitioned,
    // The streamed surface answers exactly the one-shot incremental query
    // (per-row decisions are batch-vs-corpus independent): shared replay.
    "q_stream_semantic_dedup" ->
      graft.llm.Clustering.sqlSemDedupIndexedIncremental,
    // The index-backed surface answers exactly the raw-table C69 query
    // (the sidecar is a materialization, not a semantics change).
    "q_dedup_minhash_indexed_incremental" ->
      graft.llm.Dedup.sqlDedupIncremental,
    // The SQL statement form answers exactly the Scala-API query (the
    // statement lowers to the same serve path): shared replay (r15).
    "q_dedup_minhash_incremental_sql" -> graft.llm.Dedup.sqlDedupIncremental,
    "q_dedup_semantic_incremental_sql" ->
      graft.llm.Clustering.sqlSemDedupIndexedIncremental,
    // The AS OF dedups answer the snapshot's verdicts = the plain
    // incremental replays; the post-version decoys must move nothing.
    "q_dedup_semantic_incremental_asof_sql" ->
      graft.llm.Clustering.sqlSemDedupIndexedIncremental,
    "q_dedup_minhash_incremental_asof_sql" ->
      graft.llm.Dedup.sqlDedupIncremental,
    // All three curation stages — stored-signature dedup, the NB
    // language gate, the token floor — replayed in ONE statement.
    "q_corpus_ingest_pipeline" ->
      s"""WITH ${graft.llm.Dedup.sqlDedupIncrementalCtes},
         |${graft.llm.Text.sqlNbCtes},
         |ntok AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id % 2 = 1)
         |SELECT d.doc_id,
         |  m.dup_of IS NOT NULL AS is_dup,
         |  nbp.pred AS pred_lang,
         |  ntok.n_tokens,
         |  (m.dup_of IS NULL AND COALESCE(nbp.pred = 'en', FALSE)
         |    AND ntok.n_tokens >= 20) AS kept
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
         |LEFT JOIN m ON m.doc_new = d.doc_id
         |LEFT JOIN nbp ON nbp.doc_id = d.doc_id
         |JOIN ntok ON ntok.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // The drained streaming log equals the one-shot incremental dedup.
    "q_stream_minhash_dedup" -> graft.llm.Dedup.sqlDedupIncremental,
    // The drained streaming CURATION log equals the one-shot composed
    // pipeline (per-row verdicts are batch-vs-corpus independent) — the
    // same three-stage oracle gates both surfaces.
    "q_stream_corpus_ingest" ->
      s"""WITH ${graft.llm.Dedup.sqlDedupIncrementalCtes},
         |${graft.llm.Text.sqlNbCtes},
         |ntok AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id % 2 = 1)
         |SELECT d.doc_id,
         |  m.dup_of IS NOT NULL AS is_dup,
         |  nbp.pred AS pred_lang,
         |  ntok.n_tokens,
         |  (m.dup_of IS NULL AND COALESCE(nbp.pred = 'en', FALSE)
         |    AND ntok.n_tokens >= 20) AS kept
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
         |LEFT JOIN m ON m.doc_new = d.doc_id
         |LEFT JOIN nbp ON nbp.doc_id = d.doc_id
         |JOIN ntok ON ntok.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // The full diversity-sample replay at the index's training depth.
    "q_sample_cluster_indexed" -> graft.llm.Clustering.sqlClusterSample(1),
    // Exact top-10 vs the IVF replay's top-10, joined — recall as data.
    "q_vector_search_recall" -> {
      val dot = graft.llm.PortableHash.sqlDotFixed("embedding", "p.pv")
      val ivf = graft.llm.PortableHash.sqlDotFixed("a.embedding", "p.pv")
      graft.llm.PortableHash.sqlMat(s"""WITH ${graft.llm.Clustering.sqlKmeans(1)},
         |${sqlProbeFlat("p")},
         |exact AS (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id, $dot AS sim FROM embeddings e, p
         |    ORDER BY sim DESC, vec_id LIMIT 10)),
         |approx AS (
         |  SELECT vec_id FROM (
         |    SELECT a.vec_id, $ivf AS sim
         |    FROM a1 a JOIN p ON a.list_id = p.p_list
         |    ORDER BY sim DESC, a.vec_id LIMIT 10))
         |SELECT COUNT(*) AS n_true,
         |  COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS n_found,
         |  CAST(COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS DOUBLE)
         |    / COUNT(*) AS recall
         |FROM exact LEFT JOIN approx x ON exact.vec_id = x.vec_id""".stripMargin)
    },
    // Exact top-10 vs the TWO-LIST replay's top-10 (masked-max runner-up).
    "q_vector_search_recall_mp" -> {
      val dot = graft.llm.PortableHash.sqlDotFixed("embedding", "pl.pv")
      val ivf = graft.llm.PortableHash.sqlDotFixed("a.embedding", "pl.pv")
      val pdot = graft.llm.PortableHash.sqlDotFixed("e.embedding", "r.cl[ci]")
      graft.llm.PortableHash.sqlMat(s"""WITH ${graft.llm.Clustering.sqlKmeans(1)},
         |pd AS (
         |  SELECT r.ids AS ids,
         |    [$pdot for ci in range(1, len(r.cl) + 1)] AS dots
         |  FROM embeddings e, ref1 r WHERE e.vec_id = 0),
         |pm AS (
         |  SELECT ids, dots, list_position(dots, list_max(dots)) AS p1
         |  FROM pd),
         |pl2 AS (
         |  SELECT ids[p1] AS l1,
         |    ids[list_position(md, list_max(md))] AS l2
         |  FROM (SELECT ids, p1,
         |      [CASE WHEN i = p1 THEN -1e18 ELSE dots[i] END
         |       for i in range(1, len(dots) + 1)] AS md
         |    FROM pm)),
         |pl AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |exact AS (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id, $dot AS sim FROM embeddings e, pl
         |    ORDER BY sim DESC, vec_id LIMIT 10)),
         |approx AS (
         |  SELECT vec_id FROM (
         |    SELECT a.vec_id, $ivf AS sim
         |    FROM a1 a, pl, pl2
         |    WHERE a.list_id = pl2.l1 OR a.list_id = pl2.l2
         |    ORDER BY sim DESC, a.vec_id LIMIT 10))
         |SELECT COUNT(*) AS n_true,
         |  COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS n_found,
         |  CAST(COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS DOUBLE)
         |    / COUNT(*) AS recall
         |FROM exact LEFT JOIN approx x ON exact.vec_id = x.vec_id""".stripMargin)
    },
    // Filtered IVF replay: predicate before the top-k, as the engine.
    "q_vector_search_filtered" ->
      sqlVectorSearchOracle("WHERE a.label % 2 = 0"),
    // IVF-PQ replay: same geometry (a1), same deterministic codebook (the
    // PqK lowest-anchor rows), same (x·x − 2·x·c) + c·c code assembly and
    // left-assoc ADC sum as q_embed_pq, ADC-top-50 cutoff (sim_adc DESC,
    // vec_id), exact fixed-point rerank of the survivors.
    "q_vector_search_pq" -> sqlVectorSearchPqOracle,
    // Multi-probe + PQ: the two-list candidate union before the ADC
    // cutoff, then the exact rerank — the knobs' composition replayed.
    "q_vector_search_pq_mp" -> graft.llm.PortableHash.sqlMat(
      s"""WITH ${sqlPqBlocks(probes = 2)}
         |SELECT t.vec_id, t.list_id,
         |  ${graft.llm.PortableHash.sqlDotFixed("t.embedding", "p.pv")} AS sim
         |FROM survivors t, probe p
         |ORDER BY sim DESC, t.vec_id LIMIT 10""".stripMargin),
    "q_vector_search_sql_pq" -> sqlVectorSearchPqOracle,
    "q_vector_search_sql_pq_filtered" -> sqlVectorSearchPqFilteredOracle,
    "q_vector_search_recall_pq" -> sqlVectorSearchPqRecallOracle,
    // Sampled-build replay: Lloyd over the deterministic decimation
    // (anchors force-included), ONE full-corpus assignment (af), probe
    // list from the trained centroids — file layout never enters.
    "q_vector_search_sampled" -> graft.llm.PortableHash.sqlMat(
      s"""WITH ${graft.llm.Clustering.sqlKmeansSampled(1, 200)},
         |${sqlProbeFlat("probe")}
         |SELECT a.vec_id, a.list_id,
         |  ${graft.llm.PortableHash.sqlDotFixed("a.embedding", "p.pv")} AS sim
         |FROM af a JOIN probe p ON a.list_id = p.p_list
         |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin),
    // Multi-probe IVF replay: the runner-up list via the masked-max
    // pattern (first-position tie-break both times, as the engine).
    "q_vector_search_mp" -> {
      val dot = graft.llm.PortableHash.sqlDotFixed("e.embedding", "r.cl[ci]")
      graft.llm.PortableHash.sqlMat(s"""WITH ${graft.llm.Clustering.sqlKmeans(1)},
         |pd AS (
         |  SELECT r.ids AS ids,
         |    [$dot for ci in range(1, len(r.cl) + 1)] AS dots
         |  FROM embeddings e, ref1 r WHERE e.vec_id = 0),
         |pm AS (
         |  SELECT ids, dots, list_position(dots, list_max(dots)) AS p1
         |  FROM pd),
         |pl AS (
         |  SELECT ids[p1] AS l1,
         |    ids[list_position(md, list_max(md))] AS l2
         |  FROM (SELECT ids, p1,
         |      [CASE WHEN i = p1 THEN -1e18 ELSE dots[i] END
         |       for i in range(1, len(dots) + 1)] AS md
         |    FROM pm)),
         |probe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
         |SELECT a.vec_id, a.list_id,
         |  ${graft.llm.PortableHash.sqlDotFixed("a.embedding", "p.pv")} AS sim
         |FROM a1 a, probe p, pl
         |WHERE a.list_id = pl.l1 OR a.list_id = pl.l2
         |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin)
    },
    // Both rankers replayed from raw parquet and RRF-fused. The BM25 side
    // reads the JOINED corpus (the hybrid table's definition — at sf0.1
    // only embedded docs participate); the vector side is plain
    // embeddings (every vec_id has a doc at all SFs, so the join is the
    // identity there).
    "q_search_hybrid_indexed" -> sqlHybridOracle,
    // The AS OF fusion equals the plain replay (the snapshot IS the
    // raw corpus; the double-poisoned post-version decoys must move
    // neither ranker) — shared oracle (r16).
    "q_search_hybrid_asof" -> sqlHybridOracle,
    // Rarest-attested-bigram phrase match recomputed from raw parquet:
    // same bigram derivation, same contiguity semantics.
    "q_text_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))
        |            if t[i] <> '' and t[i+1] <> '']) AS bigram
        |  FROM toks WHERE len(t) > 1),
        |rb AS (
        |  SELECT bigram FROM (
        |    SELECT bigram, COUNT(DISTINCT doc_id) AS df FROM bg GROUP BY bigram)
        |  ORDER BY df, bigram LIMIT 1)
        |SELECT d.doc_id, d.source FROM documents d, rb
        |WHERE contains(' ' || d.text || ' ', ' ' || rb.bigram || ' ')
        |ORDER BY doc_id""".stripMargin,
    // The full BM25 recomputation — identical to q_text_bm25's oracle:
    // the index only changes WHICH files scan, never the answer.
    "q_text_bm25_indexed" ->
      s"""SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
         |FROM (${graft.llm.Text.sqlBm25PerDoc}) per_doc
         |ORDER BY score_fx DESC, doc_id LIMIT 10""".stripMargin,
    // The AS OF ranking equals the plain pre-append replay.
    "q_text_bm25_asof" ->
      s"""SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
         |FROM (${graft.llm.Text.sqlBm25PerDoc}) per_doc
         |ORDER BY score_fx DESC, doc_id LIMIT 10""".stripMargin,
    // The SQL statement shares the Scala-API time-travel replay.
    "q_text_bm25_asof_sql" ->
      s"""SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
         |FROM (${graft.llm.Text.sqlBm25PerDoc}) per_doc
         |ORDER BY score_fx DESC, doc_id LIMIT 10""".stripMargin,
    // The SQL statements share the Scala-API replays (C212's rule).
    "q_text_bm25_sql" ->
      s"""SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
         |FROM (${graft.llm.Text.sqlBm25PerDoc}) per_doc
         |ORDER BY score_fx DESC, doc_id LIMIT 10""".stripMargin,
    "q_text_bm25_sql_scoped" ->
      s"""SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
         |FROM (${graft.llm.Text.sqlBm25PerDocOver(
               "SELECT doc_id, text FROM documents " +
                 "WHERE source = 'src3'")}) per_doc
         |ORDER BY score_fx DESC, doc_id LIMIT 10""".stripMargin,
    // The batch BM25 join replayed per query from raw parquet (r16) —
    // the same fixed-point score, ranked per query.
    "q_text_bm25_join" -> graft.llm.Text.sqlBm25Join,
    // The AS OF batch join equals the plain pre-append replay (the
    // snapshot IS the raw corpus; the post-version decoys shift
    // N/avgdl for every current score and must move nothing AS OF).
    "q_text_bm25_join_asof" -> graft.llm.Text.sqlBm25Join,
    // The SQL statements share the Scala-API replays (C212's rule).
    "q_text_bm25_join_sql" -> graft.llm.Text.sqlBm25Join,
    "q_text_bm25_join_asof_sql" -> graft.llm.Text.sqlBm25Join,
    // Per-source BM25 over the mod-3 partitioned corpus — candidates,
    // df, N and avgdl all restricted to each query's own source (r16).
    "q_text_bm25_join_partitioned" ->
      graft.llm.Text.sqlBm25JoinPartitioned,
    // The drained streaming log equals the one-shot batch join
    // (rankings are batch-row-independent) — shared oracle (r16).
    "q_stream_bm25_join" -> graft.llm.Text.sqlBm25Join,
    // BM25 recomputed from raw parquet over the SCOPED corpus — the
    // per-domain statistics the index-served scoping must equal.
    "q_text_bm25_scoped" ->
      s"""SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
         |FROM (${graft.llm.Text.sqlBm25PerDocOver(
               "SELECT doc_id, text FROM documents " +
                 "WHERE source = 'src3'")}) per_doc
         |ORDER BY score_fx DESC, doc_id LIMIT 10""".stripMargin,
    // The scoped ranking AT THE VERSION equals the live scoped replay
    // (the snapshot IS the raw corpus; the post-version src3-claiming
    // decoys must move nothing) — shared scoped oracle (r15).
    "q_text_bm25_asof_scoped_sql" ->
      s"""SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
         |FROM (${graft.llm.Text.sqlBm25PerDocOver(
               "SELECT doc_id, text FROM documents " +
                 "WHERE source = 'src3'")}) per_doc
         |ORDER BY score_fx DESC, doc_id LIMIT 10""".stripMargin,
    // BM25 recomputed from raw parquet over EXACTLY the slice's
    // sub-corpus (even-id src3 docs) — the per-partition statistics the
    // part-keyed sidecar serve must equal (r16).
    "q_text_bm25_partitioned" ->
      s"""SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
         |FROM (${graft.llm.Text.sqlBm25PerDocOver(
               "SELECT doc_id, text FROM documents " +
                 "WHERE source = 'src3' AND doc_id % 3 <> 0")}) per_doc
         |ORDER BY score_fx DESC, doc_id LIMIT 10""".stripMargin,
    // Term choice AND membership recomputed over the even-id src3
    // sub-corpus — what the pin-routed search must answer (r16).
    "q_text_search_partitioned" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 3 <> 0 AND source = 'src3'),
        |term AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
        |    WHERE token <> '' GROUP BY token)
        |  ORDER BY df, token LIMIT 1)
        |SELECT DISTINCT t.doc_id, t.source
        |FROM toks t, term WHERE t.token = term.token
        |ORDER BY doc_id""".stripMargin,
    // The full MinHash chain with the source equality in the bucket
    // join — the within-partition admission rule (r16).
    "q_text_dedup_incremental_partitioned" ->
      graft.llm.Dedup.sqlDedupIncrementalPartitioned,
    // Membership over raw parquet — the snapshot IS the raw corpus, so
    // the AS OF search equals the plain replay and the post-version
    // decoys move nothing (r16).
    "q_text_search_asof" ->
      """SELECT doc_id, source FROM documents
        |WHERE list_contains(string_split(text, ' '), 'vector')
        |ORDER BY doc_id""".stripMargin,
    // Plain SQL shares the Scala-API time-travel replay (C212's rule).
    "q_text_search_asof_sql" ->
      """SELECT doc_id, source FROM documents
        |WHERE list_contains(string_split(text, ' '), 'vector')
        |ORDER BY doc_id""".stripMargin,
    // Contiguity over raw parquet — same phrase semantics as
    // q_text_phrase_search, pinned at the version (r16).
    "q_text_phrase_search_asof" ->
      """SELECT doc_id, source FROM documents
        |WHERE contains(' ' || text || ' ', ' vector join ')
        |ORDER BY doc_id""".stripMargin,
    // The full BM25 recomputation over the LIVE complement — what the
    // dv-drift refresh must converge the stored stats to.
    "q_text_bm25_dv" ->
      s"""SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score_fx AS DOUBLE) / 1000000000 AS score
         |FROM (${graft.llm.Text.sqlBm25PerDocOver(
               "SELECT doc_id, text FROM documents " +
                 "WHERE NOT (lang = 'en' AND n_chars < 250)")}) per_doc
         |ORDER BY score_fx DESC, doc_id LIMIT 10""".stripMargin,
    // The pre-delete Lloyd chain (the geometry the refresh KEPT) with
    // the deleted label filtered from the candidates.
    "q_vector_search_dv" -> sqlVectorSearchOracle("WHERE a.label <> 3"),
    "q_vector_knn_join_pq" -> sqlPqKnnJoinOracle,
    // The drained streaming log equals the one-shot join — zero drift
    // between the batch API and the streaming loop.
    "q_stream_knn_join" -> sqlKnnJoinOracle,
    // The SQL statement shares the Scala-API replay (C212's rule).
    "q_vector_knn_join_sql" -> sqlKnnJoinOracle,
    // The same ranked join with the predicate on the candidate side.
    "q_vector_knn_join_filtered" ->
      sqlKnnJoinOracleWhere("WHERE a.label % 2 = 0"),
    // The PQ pipeline with the predicate before each row's cutoff.
    "q_vector_knn_join_pq_filtered" ->
      sqlPqKnnJoinOracleWhere("WHERE a.label % 2 = 0"),
    // The AS OF search must equal the plain pre-append replay — the
    // snapshot IS the original corpus.
    "q_vector_search_asof" -> sqlVectorSearchOracle(""),
    // Filtered/PQ time travel (r15): the snapshot IS the raw corpus, so
    // the composed clauses share the plain filtered/PQ replay oracles —
    // the decoys appended after the version must not move the hash.
    "q_vector_search_asof_filtered" ->
      sqlVectorSearchOracle("WHERE a.label % 2 = 0"),
    "q_vector_search_asof_pq" -> sqlVectorSearchPqOracle,
    "q_vector_knn_join_asof_pq" -> sqlPqKnnJoinOracle,
    // The pinned slice's ranked chain + ranked codebook + codes + ADC
    // cutoff + exact rerank, replayed from raw parquet — identical to
    // the live partitioned-PQ oracle (the snapshot IS the raw corpus).
    "q_vector_search_asof_partitioned_pq" -> sqlPqRankedOracle(3),
    "q_vector_knn_join_asof_partitioned_pq" -> sqlPqRankedKnnJoinOracle(3),
    "q_vector_knn_join_asof_filtered" ->
      sqlKnnJoinOracleWhere("WHERE a.label % 2 = 0"),
    // The SQL statement shares the Scala-API replay.
    "q_vector_search_asof_sql" -> sqlVectorSearchOracle(""),
    // The AS OF batch join answers the plain kNN join over the raw
    // corpus (= the snapshot state; the decoys live only after v).
    "q_vector_knn_join_asof" -> sqlKnnJoinOracle,
    "q_vector_knn_join_asof_sql" -> sqlKnnJoinOracle,
    // The pinned slice's ranked chain + batch probe + ranked join.
    "q_vector_knn_join_partitioned" -> {
      val dot = graft.llm.PortableHash.sqlDotFixed _
      graft.llm.PortableHash.sqlMat(
        s"""WITH p3 AS (
           |  SELECT vec_id, label, embedding FROM embeddings
           |  WHERE label = 3),
           |${graft.llm.Clustering.sqlKmeansRanked(1, "p3", pfx = "kj")},
           |b AS (
           |  SELECT vec_id + 1000000 AS bid, embedding
           |  FROM embeddings WHERE vec_id % 100 = 0),
           |bd AS (
           |  SELECT b.bid, b.embedding,
           |    [${dot("b.embedding", "r0.cl[ci]")} for ci in range(1, len(r0.cl) + 1)] AS dots
           |  FROM b, refkj1 r0),
           |ba AS (
           |  SELECT bd.bid, bd.embedding,
           |    r.ids[list_position(bd.dots, list_max(bd.dots))] AS p_list
           |  FROM bd, refkj1 r)
           |SELECT vec_id, rank, nn_id, sim FROM (
           |  SELECT ba.bid AS vec_id, a.vec_id AS nn_id,
           |    CAST(row_number() OVER (PARTITION BY ba.bid
           |      ORDER BY ${dot("ba.embedding", "a.embedding")} DESC,
           |        a.vec_id) AS INTEGER) AS rank,
           |    ${dot("ba.embedding", "a.embedding")} AS sim
           |  FROM ba JOIN akj1 a ON a.list_id = ba.p_list) t
           |WHERE rank <= 3
           |ORDER BY vec_id, rank""".stripMargin)
    },
    // The pinned slice's ranked chain + ranked codebook + per-row ADC
    // cutoff + exact rerank — the PQ batch join on a BY PARTITION index.
    "q_vector_knn_join_pq_partitioned" -> sqlPqRankedKnnJoinOracle(3),
    // TWO prefixed ranked chains, per-pin batch assignment + per-row
    // top-3, global top-3 over the union.
    "q_vector_knn_join_partitioned_multi" -> graft.llm.PortableHash.sqlMat(
      s"""WITH b AS (
         |  SELECT vec_id + 1000000 AS bid, embedding
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |${sqlKnnPartChain(3, "k3")},
         |${sqlKnnPartChain(5, "k5")},
         |u AS (SELECT * FROM ck3 UNION ALL SELECT * FROM ck5)
         |SELECT vec_id, rank, nn_id, sim FROM (
         |  SELECT bid AS vec_id, nn_id,
         |    CAST(row_number() OVER (PARTITION BY bid
         |      ORDER BY sim DESC, nn_id) AS INTEGER) AS rank, sim
         |  FROM u) t
         |WHERE rank <= 3
         |ORDER BY vec_id, rank""".stripMargin),
    // TEN prefixed ranked chains — the unpinned union for the batch
    // join, each batch row probing every partition's sub-geometry.
    "q_vector_knn_join_partitioned_all" -> sqlKnnPartitionedAllOracle,
    // The AS OF partitioned batch join answers the same replay over
    // the raw corpus (= the snapshot state; decoys live only after v).
    "q_vector_knn_join_asof_partitioned" -> sqlKnnPartitionedAllOracle,
    // Pooled recall@3 of the batch join vs per-row exact brute force.
    "q_vector_knn_join_recall" -> {
      val dot = graft.llm.PortableHash.sqlDotFixed _
      graft.llm.PortableHash.sqlMat(
        s"""WITH ${graft.llm.Clustering.sqlKmeans(1)},
           |b AS (
           |  SELECT vec_id + 1000000 AS bid, embedding
           |  FROM embeddings WHERE vec_id % 100 = 0),
           |bd AS (
           |  SELECT b.bid, b.embedding,
           |    [${dot("b.embedding", "r0.cl[ci]")} for ci in range(1, len(r0.cl) + 1)] AS dots
           |  FROM b, ref1 r0),
           |ba AS (
           |  SELECT bd.bid, bd.embedding,
           |    r.ids[list_position(bd.dots, list_max(bd.dots))] AS p_list
           |  FROM bd, ref1 r),
           |exact AS (
           |  SELECT bid, vec_id FROM (
           |    SELECT b.bid, e.vec_id,
           |      row_number() OVER (PARTITION BY b.bid
           |        ORDER BY ${dot("b.embedding", "e.embedding")} DESC,
           |          e.vec_id) AS rk
           |    FROM embeddings e, b) WHERE rk <= 3),
           |approx AS (
           |  SELECT bid, vec_id FROM (
           |    SELECT ba.bid, a.vec_id,
           |      row_number() OVER (PARTITION BY ba.bid
           |        ORDER BY ${dot("ba.embedding", "a.embedding")} DESC,
           |          a.vec_id) AS rk
           |    FROM ba JOIN a1 a ON a.list_id = ba.p_list) WHERE rk <= 3)
           |SELECT COUNT(*) AS n_true,
           |  COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS n_found,
           |  CAST(COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS DOUBLE)
           |    / COUNT(*) AS recall
           |FROM exact LEFT JOIN approx x
           |  ON exact.bid = x.bid AND exact.vec_id = x.vec_id""".stripMargin)
    },
    // The trained chain + per-batch-row flat probe assignment + ranked
    // candidate join — the kNN-join replay.
    "q_vector_knn_join" -> sqlKnnJoinOracle,
    // Rarest-token search recomputed from the raw parquet: same
    // tokenizer, same term choice, same result set.
    "q_text_search_indexed" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |term AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
        |    WHERE token <> '' GROUP BY token)
        |  ORDER BY df, token LIMIT 1)
        |SELECT DISTINCT t.doc_id, t.source
        |FROM toks t, term WHERE t.token = term.token
        |ORDER BY doc_id""".stripMargin,
    // Same recomputation as q_text_search_indexed — the two queries differ
    // only in the engine path (search API vs transparent SQL rewrite).
    "q_text_search_sql" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |term AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
        |    WHERE token <> '' GROUP BY token)
        |  ORDER BY df, token LIMIT 1)
        |SELECT DISTINCT t.doc_id, t.source
        |FROM toks t, term WHERE t.token = term.token
        |ORDER BY doc_id""".stripMargin,
    // The limit's deterministic aggregate (which rows is the scan's
    // choice; the in-query asserts pin distinctness + membership).
    "q_limit_pushdown" ->
      """SELECT count(*) AS n_rows
        |FROM (SELECT doc_id FROM documents LIMIT 100)""".stripMargin,
    // Consecutive snapshot totals difference back to per-source counts.
    "q_meta_snapshots" ->
      """WITH per AS (SELECT source, count(*) AS added
        |             FROM documents GROUP BY source)
        |SELECT CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS step,
        |       added
        |FROM per ORDER BY step""".stripMargin,
    // The purge must re-emit exactly the vectors' complement.
    "q_reorg_purge" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE NOT (source = 'src3' AND n_chars < 300)
        |ORDER BY doc_id""".stripMargin,
    // The evolved star merge: every source value applies on match, the
    // new score column is s.score everywhere (NULL off-match).
    "q_merge_evolve" ->
      """WITH src AS (
        |  SELECT doc_id, 'xx' AS lang, source, n_chars + 10000 AS n_chars,
        |         CAST(n_chars * 0.5 AS DOUBLE) AS score
        |  FROM documents WHERE doc_id % 10 = 2
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, source, n_chars + 1,
        |         CAST(2.5 AS DOUBLE)
        |  FROM documents WHERE doc_id % 10 = 5)
        |SELECT COALESCE(t.doc_id, s.doc_id) AS doc_id,
        |       CASE WHEN s.doc_id IS NOT NULL THEN s.lang ELSE t.lang END AS lang,
        |       COALESCE(t.source, s.source) AS source,
        |       CASE WHEN s.doc_id IS NOT NULL THEN s.n_chars
        |            ELSE t.n_chars END AS n_chars,
        |       s.score AS score
        |FROM documents t FULL OUTER JOIN src s ON t.doc_id = s.doc_id
        |ORDER BY doc_id""".stripMargin,
    // The clone-divergence twin: src = documents verbatim; dev = documents
    // minus the deleted slice plus the appended batch.
    "q_clone_diverge" ->
      """SELECT doc_id, lang, source, n_chars, 'src' AS tbl FROM documents
        |UNION ALL
        |SELECT doc_id, lang, source, n_chars, 'dev' FROM documents
        |WHERE NOT (lang = 'en' AND n_chars < 250)
        |UNION ALL
        |SELECT doc_id + 5000000, lang, source, n_chars + 7, 'dev'
        |FROM documents WHERE doc_id % 10 = 9
        |ORDER BY tbl, doc_id""".stripMargin,

    // The FULL OUTER JOIN + CASE statement of the bounded merge: matched
    // rows (doc_id % 10 = 2) take the update, source-only rows insert.
    "q_merge_bounded" ->
      """WITH src AS (
        |  SELECT doc_id AS k, 'xx' AS lg, source AS sc,
        |         n_chars + 10000 AS nc
        |  FROM documents WHERE doc_id % 10 = 2
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, source, n_chars + 1
        |  FROM documents WHERE doc_id % 10 = 5)
        |SELECT COALESCE(t.doc_id, s.k) AS doc_id,
        |       CASE WHEN s.k IS NOT NULL THEN s.lg ELSE t.lang END AS lang,
        |       COALESCE(t.source, s.sc) AS source,
        |       CASE WHEN s.k IS NOT NULL THEN s.nc ELSE t.n_chars END AS n_chars
        |FROM documents t FULL OUTER JOIN src s ON t.doc_id = s.k
        |ORDER BY doc_id""".stripMargin,

    // The deletion-vector merge must produce the exact same statement.
    "q_merge_dv" ->
      """WITH src AS (
        |  SELECT doc_id AS k, 'xx' AS lg, source AS sc,
        |         n_chars + 10000 AS nc
        |  FROM documents WHERE doc_id % 10 = 2
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, source, n_chars + 1
        |  FROM documents WHERE doc_id % 10 = 5)
        |SELECT COALESCE(t.doc_id, s.k) AS doc_id,
        |       CASE WHEN s.k IS NOT NULL THEN s.lg ELSE t.lang END AS lang,
        |       COALESCE(t.source, s.sc) AS source,
        |       CASE WHEN s.k IS NOT NULL THEN s.nc ELSE t.n_chars END AS n_chars
        |FROM documents t FULL OUTER JOIN src s ON t.doc_id = s.k
        |ORDER BY doc_id""".stripMargin,

    // The FULL OUTER JOIN + CASE statement of the conditional MERGE:
    // matched op='D' rows drop, surviving matched rows take the update
    // (every matched survivor is op='U' — insert keys never match),
    // source-only rows insert, target-only rows hit the NMBS clause iff
    // o_custkey % 7 = 0.
    "q_merge_conditional" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_custkey AS ck,
        |         o_totalprice * CAST(1.2 AS DOUBLE) AS price, 'U' AS op
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, 'D'
        |  FROM orders WHERE o_orderkey % 10 = 4
        |  UNION ALL
        |  SELECT o_orderkey + 200000000, o_custkey,
        |         o_totalprice + CAST(5.0 AS DOUBLE), 'I'
        |  FROM orders WHERE o_orderkey % 10 = 7),
        |j AS (
        |  SELECT t.o_orderkey AS tk, t.o_custkey AS tck,
        |         t.o_totalprice AS tprice, t.o_orderstatus AS tstat,
        |         s.k, s.ck, s.price, s.op
        |  FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.k)
        |SELECT COALESCE(tk, k) AS o_orderkey,
        |       COALESCE(tck, ck) AS o_custkey,
        |       CASE WHEN k IS NOT NULL THEN price ELSE tprice END AS o_totalprice,
        |       CASE WHEN tk IS NOT NULL AND k IS NOT NULL THEN 'M'
        |            WHEN tk IS NULL THEN 'N'
        |            WHEN tck % 7 = 0 THEN 'X'
        |            ELSE tstat END AS o_orderstatus
        |FROM j
        |WHERE NOT (tk IS NOT NULL AND k IS NOT NULL AND op = 'D')
        |  AND NOT (tk IS NULL AND op <> 'I')
        |ORDER BY o_orderkey""".stripMargin,
    "q_update_rows" ->
      """SELECT doc_id,
        |  CASE WHEN source = 'src3' THEN upper(lang) ELSE lang END AS lang,
        |  source,
        |  CASE WHEN source = 'src3' THEN -n1 ELSE n1 END AS n_chars
        |FROM (SELECT doc_id, lang, source,
        |        CASE WHEN lang = 'en' AND n_chars < 200
        |             THEN n_chars + 1000 ELSE n_chars END AS n1
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_optimize_roundtrip" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // DuckDB evaluates the generation expressions over the raw parquet;
    // the table must have computed the same values at write time.
    "q_generated_cols" ->
      """SELECT doc_id, lang, n_chars, upper(lang) AS lang_up,
        |  n_chars * 2 + 1 AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_copy_into" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_cluster_by" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // The id each commit assigned: rank within the sorted half, offset by
    // the first half's row count for the second commit; DV survivors
    // keep theirs.
    "q_row_tracking" ->
      """WITH ranked AS (
        |  SELECT doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 2
        |                            ORDER BY doc_id) - 1 AS BIGINT) AS rk,
        |    doc_id % 2 AS half
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  rk + CASE WHEN half = 1 THEN (SELECT CAST(count(*) AS BIGINT)
        |                                FROM documents WHERE doc_id % 2 = 0)
        |       ELSE CAST(0 AS BIGINT) END AS row_id
        |FROM ranked WHERE n_chars >= 150 ORDER BY doc_id""".stripMargin,
    // Pre-evolution rows read the evolved column as NULL; post-evolution
    // rows carry their written values.
    "q_append_evolve" ->
      """SELECT doc_id, source,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE NULL END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The post-DML rollup recomputed from scratch: survivors of the
    // DELETE, src1 shifted by the UPDATE, grouped per source.
    "q_mv_cdf_refresh" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars + CASE WHEN source = 'src1' THEN 10 ELSE 0 END)
        |       AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars >= 150
        |GROUP BY source ORDER BY source""".stripMargin,
    // The deterministic top-100 by doc_id (unique key ⇒ unique order).
    "q_topn_pushdown" ->
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY doc_id DESC LIMIT 100""".stripMargin,
    // Per-batch defaulting replayed over the raw parquet: %3=0 rows took
    // the CREATE-time defaults, %3=1 explicit values, %3=2 the post-ALTER
    // default; the UPDATE then reset every pt row's boost to its default.
    "q_default_cols" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 3 = 0 THEN 'unreviewed'
        |       WHEN doc_id % 3 = 1 THEN 'reviewed'
        |       ELSE 'auto' END AS quality,
        |  CASE WHEN lang = 'pt' THEN CAST(1.0 AS DOUBLE)
        |       WHEN doc_id % 3 = 1 THEN CAST(2.0 AS DOUBLE)
        |       ELSE CAST(1.0 AS DOUBLE) END AS boost
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Identity values are partitioning-dependent; the deterministic facts
    // are the row count, one DISTINCT id per row, and the START WITH floor
    // (partition 0's first row takes exactly `start`).
    "q_identity_cols" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_ids,
        |  CAST(1 AS BIGINT) AS min_id
        |FROM documents""".stripMargin,
    // The change window (2nd → 5th non-empty version) is the 3rd-5th
    // sources in sorted order.
    "q_table_changes" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE source IN (
        |  SELECT source FROM (
        |    SELECT source, row_number() OVER (ORDER BY source) AS rk
        |    FROM (SELECT DISTINCT source FROM documents))
        |  WHERE rk BETWEEN 3 AND 5)
        |ORDER BY doc_id""".stripMargin,
    // One history row per per-source commit: cumulative doc counts in
    // source order.
    "q_table_history" ->
      """SELECT CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS step,
        |  CAST(SUM(cnt) OVER (ORDER BY source ROWS UNBOUNDED PRECEDING)
        |       AS BIGINT) AS n_rows
        |FROM (SELECT source, count(*) AS cnt FROM documents GROUP BY source)
        |ORDER BY step""".stripMargin,
    // The shuffle-free join's rows, straight off the source parquet — a
    // writer/scan bucket disagreement (rows joined against the wrong
    // bucket's partition) or a dropped bucket loses rows and hash-fails.
    "q_join_spj" ->
      """SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,
    // The refreshed MV's rows, recomputed from scratch off the source
    // parquet — a wrong incremental merge hash-fails.
    "q_mv_incremental" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin,
    // The refreshed JOIN MV's rows, recomputed from scratch off the source
    // parquet (dim derived from the same sources) — a wrong delta join or
    // partial fold hash-fails.
    "q_mv_incremental_join" ->
      """SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS max_id
        |FROM (SELECT doc_id, n_chars,
        |        'tier' || CAST(CAST(SUBSTR(source, 4) AS INT) % 3 AS VARCHAR) AS tier
        |      FROM documents)
        |GROUP BY tier ORDER BY tier""".stripMargin,
    // The coarse join-aggregate recomputed from scratch (dim derived from
    // the sources) — a wrong MV fold or a stale serve hash-fails.
    "q_mv_rewrite_join_rollup" ->
      """SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS max_id,
        |  CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS avg_chars
        |FROM (SELECT doc_id, n_chars,
        |        'tier' || CAST(CAST(SUBSTR(source, 4) AS INT) % 3 AS VARCHAR) AS tier
        |      FROM documents)
        |GROUP BY tier ORDER BY tier""".stripMargin,
    // The two-source refreshed MV, recomputed from scratch — after both
    // appends the dim is COMPLETE, so the join-aggregate equals the plain
    // derived-tier aggregate over all documents.
    "q_mv_incremental_2src" ->
      """SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS max_id
        |FROM (SELECT doc_id, n_chars,
        |        'tier' || CAST(CAST(SUBSTR(source, 4) AS INT) % 3 AS VARCHAR) AS tier
        |      FROM documents)
        |GROUP BY tier ORDER BY tier""".stripMargin,
    // The MV-served aggregate, recomputed from scratch — a wrong or stale
    // stored result hash-fails.
    "q_mv_rewrite" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin,
    // The published (post-fast-forward) state, derived from the raw
    // parquet: base plus the branch's appends, minus the branch's delete —
    // the delete ran AFTER the append on the branch, so the predicate
    // filters the union (appended rows that match it are deleted too).
    "q_branch_wap" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 7000000, lang, source, n_chars * 2
        |  FROM documents WHERE doc_id % 10 = 4
        |) WHERE NOT (lang = 'en' AND n_chars < 200)
        |ORDER BY doc_id""".stripMargin,
    // Both images of every changed row, derived from the raw parquet —
    // a carried row leaking through the diff, or a wrong image, hash-fails.
    // The recorded mixed-commit feed: exact per-clause attribution.
    "q_table_changes_merge" ->
      """SELECT doc_id, lang, source, n_chars,
        |       'update_preimage' AS _change_type
        |FROM documents WHERE doc_id % 10 = 2
        |UNION ALL
        |SELECT doc_id, 'xx', source, n_chars + 10000, 'update_postimage'
        |FROM documents WHERE doc_id % 10 = 2
        |UNION ALL
        |SELECT doc_id + 1000000, lang, source, n_chars + 1, 'insert'
        |FROM documents WHERE doc_id % 10 = 5
        |ORDER BY _change_type, doc_id""".stripMargin,
    // The post-rebuild state: every non-src3 row untouched, src3 replaced
    // by its transformed twin.
    "q_replace_where" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE source <> 'src3'
        |UNION ALL
        |SELECT doc_id + 4000000, lang, source, n_chars * 2
        |FROM documents WHERE source = 'src3'
        |ORDER BY doc_id""".stripMargin,
    // The streamed feed: every initial insert, plus both images of the
    // updated slice — nothing else.
    "q_stream_cdf" ->
      """SELECT doc_id, source, n_chars, 'insert' AS _change_type
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, source, n_chars, 'update_preimage'
        |FROM documents WHERE doc_id % 2 = 0 AND source = 'src4'
        |UNION ALL
        |SELECT doc_id, source, n_chars + 500000, 'update_postimage'
        |FROM documents WHERE doc_id % 2 = 0 AND source = 'src4'
        |ORDER BY doc_id, _change_type""".stripMargin,
    // Scalar derivations of the complex cells, straight off the raw
    // parquet — any codec loss in payload/struct/map hash-fails.
    "q_complex_table" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(substring(text, 1, 16) AS BLOB)) AS INTEGER)
        |    AS payload_len,
        |  CAST(n_chars % 640 AS INT) + CAST(n_chars % 480 AS INT) AS wh,
        |  lang AS label, source AS src
        |FROM documents WHERE doc_id % 7 <> 3
        |ORDER BY doc_id""".stripMargin,
    // The expression-delete complement: NULL/FALSE predicate rows survive.
    "q_delete_expr" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE NOT coalesce(doc_id % 3 = 0 AND length(source) + n_chars % 7 > 6,
        |                   FALSE)
        |ORDER BY doc_id""".stripMargin,
    // The same mixed commit attributed by the DECLARED KEY (no recorded
    // CDC): key anti/semi joins on the delta sides must reproduce the
    // exact per-clause attribution.
    "q_table_changes_mixed" ->
      """SELECT doc_id, lang, source, n_chars,
        |       'update_preimage' AS _change_type
        |FROM documents WHERE doc_id % 10 = 2
        |UNION ALL
        |SELECT doc_id, 'xx', source, n_chars + 10000, 'update_postimage'
        |FROM documents WHERE doc_id % 10 = 2
        |UNION ALL
        |SELECT doc_id + 1000000, lang, source, n_chars + 1, 'insert'
        |FROM documents WHERE doc_id % 10 = 5
        |ORDER BY _change_type, doc_id""".stripMargin,
    "q_table_changes_update" ->
      """SELECT doc_id, source, n_chars, 'update_preimage' AS _change_type
        |FROM documents WHERE doc_id % 5 <> 0 AND source = 'src3'
        |UNION ALL
        |SELECT doc_id, source, n_chars + 1000000, 'update_postimage'
        |FROM documents WHERE doc_id % 5 <> 0 AND source = 'src3'
        |ORDER BY doc_id, _change_type""".stripMargin,
    // The rolled-up aggregate, recomputed from scratch off the source
    // parquet — a wrong partial fold hash-fails.
    "q_mv_rewrite_rollup" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  avg(n_chars) AS avg_chars
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin,
    // The bloom probe's rows, straight off the source parquet — a false
    // negative (lost row) or over-prune hash-fails.
    "q_bloom_lookup" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id IN (3, 141, 297)
        |ORDER BY doc_id""".stripMargin,
    // The rows surviving the partition predicate, straight off the source
    // parquet — a clustering bug that loses/duplicates rows, or pruning
    // that drops a live file, hash-fails.
    "q_partitioned_table" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE source IN ('src2', 'src5') AND n_chars >= 100
        |ORDER BY doc_id""".stripMargin,
    // The drained stream must equal the batch generator — same range,
    // grouped per source.
    "q_stream_dsv2" ->
      """SELECT 'src' || CAST(doc_id % 20 AS VARCHAR) AS source,
        |  COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_id,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM (SELECT range AS doc_id FROM range(0, 300))
        |GROUP BY 1 ORDER BY source""".stripMargin
  )
}
