package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Html
import graft.operators.{Affinity, CorpusOps, Fleet, Ingestion, Multimodal, Parsing, Relational, SellerMerge, Sketches, TextOps, VectorOps}

/** Registry of every driver-checkable query: name → Spark builder +
  * (when SQL-expressible) the ANSI-SQL oracle that DuckDB runs over the
  * same parquet tables.
  *
  * INVARIANT: Spark output column names/types and the oracle's aliases
  * must match exactly — the driver sorts columns by name and hashes
  * values. Cross-engine float determinism is handled by the exact-decimal
  * -sum derivations in [[graft.functions.F]]; every query ends in a total
  * ORDER BY.
  */
object QueryCatalog {

  final case class Spec(
      builder: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private val D = "DECIMAL(20,4)"
  private def sumDec(x: String) = s"CAST(sum(CAST($x AS $D)) AS DOUBLE)"
  // Half-up rounding via pure IEEE ops — must stay in lockstep with
  // F.roundHalfUp (engine-native round() diverges at .5 boundaries).
  private def rnd(x: String, s: Int) = s"floor(($x) * 1e$s + 0.5) / 1e$s"

  // Shared CTE chain parsing seller rows out of the golden page HTML
  // (ends in `dom_sellers`), used by q_parse_sellers and as the DOM
  // stage of the q_offers_fallback source-priority chain.
  private lazy val domSellersCtes: String = {
    val monthCase = Html.RuMonths
      .map { case (n, m) => s"WHEN mon = '$n' THEN $m" }
      .mkString("CASE ", " ", " ELSE NULL END")
    s"""chunks AS (
          SELECT unnest(string_split(content, '<li')) AS chunk,
                 generate_subscripts(string_split(content, '<li'), 1) AS row_idx
          FROM read_text('${operators.Ingestion.FixturesDir}/product_page.html')),
        fchunks AS (SELECT row_idx, chunk FROM chunks WHERE chunk LIKE '%seller-row%'),
        xsell AS (
          SELECT CAST(row_idx AS INTEGER) AS row_idx,
                 trim(regexp_extract(chunk, 'class="name">([^<]*)<', 1)) AS seller,
                 TRY_CAST(regexp_replace(regexp_extract(chunk, 'class="price">([^<]*)<', 1), '[^0-9]', '', 'g') AS BIGINT) AS price,
                 regexp_extract(regexp_extract(chunk, 'class="delivery">([^<]*)<', 1), '([0-9]{1,2})', 1) AS d,
                 regexp_extract(regexp_extract(chunk, 'class="delivery">([^<]*)<', 1), '([а-яё]+)', 1) AS mon
          FROM fchunks),
        ysell AS (
          SELECT row_idx, seller, price,
                 strftime(try_strptime(d || '.' || CAST(($monthCase) AS VARCHAR) || '.2025', '%d.%m.%Y'), '%Y-%m-%d') AS delivery_date
          FROM xsell),
        dom_sellers AS (
          SELECT row_idx, seller, price, delivery_date FROM ysell
          WHERE price > 0)"""
  }

  // Shared base CTEs of every banded-MinHash oracle (shingle sets →
  // signatures → band rows), generated from the SAME constants
  // (TextOps.MinhashK/Bands/minhashPerms) the Spark plans use; ends in
  // `bands`. Used by minhashPairCtes and the incremental-dedup oracle.
  private def minhashSigCtes(src: String = "documents"): String = {
    val r = TextOps.RowsPerBand
    val prime = TextOps.MinhashPrime
    val mhCols = TextOps.minhashPerms.zipWithIndex
      .map { case ((a, b), p) => s"min(($a * h + $b) % $prime) AS mh$p" }
      .mkString(", ")
    val bandList = (0 until TextOps.Bands)
      .map(b => "md5(" + (0 until r)
        .map(i => s"CAST(mh${b * r + i} AS VARCHAR)")
        .mkString(" || '_' || ") + ")")
      .mkString("[", ", ", "]")
    s"""base AS (
          SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)]) AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $src)
          WHERE len(ws) >= 3),
        mh AS (SELECT doc_id, $mhCols
               FROM (SELECT doc_id,
                            CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $prime AS h
                     FROM (SELECT doc_id, unnest(sh) AS shingle FROM base))
               GROUP BY doc_id),
        bands AS (
          SELECT doc_id, unnest($bandList) AS band_hash,
                 generate_subscripts($bandList, 1) AS band_idx
          FROM mh)"""
  }

  private val bpeDD = "chr(1) || chr(1)"

  // Shared unrolled-BPE CTE chain (word counts → self-delimited symbol
  // strings → TextOps.BpeRounds greedy merge rounds), ending in
  // b0..b{R-1} (per-round winners) and s{R} (the final word → pieces
  // vocabulary). Used by q_bpe_train and q_bpe_encode.
  private lazy val bpeCtes: String = {
    val roundCtes = (0 until TextOps.BpeRounds).map { r =>
      s"""p$r AS (
        SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
        FROM (SELECT unnest([chr(1) || ws[i] || chr(1) || chr(1) || ws[i+1] || chr(1)
                             FOR i IN range(1, len(ws))]) AS pair, wcnt
              FROM (SELECT string_split(substr(sym, 2, len(sym) - 2), $bpeDD) AS ws,
                           wcnt
                    FROM s$r))
        GROUP BY pair),
      b$r AS (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
      s${r + 1} AS (
        SELECT word, replace(sym, b$r.pair, replace(b$r.pair, $bpeDD, '')) AS sym,
               wcnt
        FROM s$r, b$r)"""
    }.mkString(",\n")
    s"""w0 AS (
          SELECT word, CAST(count(*) AS BIGINT) AS wcnt
          FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          WHERE word <> '' GROUP BY word),
        s0 AS (
          SELECT word,
                 array_to_string([chr(1) || substr(word, i, 1) || chr(1)
                                  FOR i IN range(1, len(word) + 1)], '') AS sym,
                 wcnt
          FROM w0),
        $roundCtes"""
  }

  // CDC compaction oracle — shared verbatim by the batch query
  // (q_cdc_compact) and its streaming twin (q_cdc_stream): the
  // strongest stream/batch contract is the same hash under one SQL.
  private lazy val cdcOracleSql: String = """
        WITH ops AS (
          SELECT user_id AS key, event_id AS seq,
                 CASE event_type WHEN 'signup' THEN 'I'
                                 WHEN 'click' THEN 'U'
                                 ELSE 'D' END AS op,
                 value
          FROM events WHERE event_type IN ('signup', 'click', 'error')),
        rk AS (
          SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn,
                 CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n_ops
          FROM ops)
        SELECT key AS user_id, value AS current_value, op AS last_op, n_ops
        FROM rk WHERE rn = 1 AND op <> 'D' ORDER BY user_id"""

  // Shared CTE chain of the add-one-smoothed bigram LM; ends in
  // `agg(doc_id, n_bigrams, sumdec)`. Used by q_bigram_lm and the
  // CCNet perplexity-bucket query.
  private lazy val bigramLmCtes: String =
    s"""base AS (
          SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
          FROM documents),
        bgl AS (
          SELECT doc_id,
                 unnest(list_transform(list_zip(ws[1:len(ws)-1], ws[2:len(ws)]),
                        p -> p[1] || ' ' || p[2])) AS bigram
          FROM base),
        dbt AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS dcnt
                FROM bgl GROUP BY doc_id, bigram),
        cb AS (SELECT bigram, CAST(sum(dcnt) AS BIGINT) AS cnt
               FROM dbt GROUP BY bigram),
        ctx AS (SELECT split_part(bigram, ' ', 1) AS w1,
                       CAST(sum(cnt) AS BIGINT) AS ctx
                FROM cb GROUP BY w1),
        voc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
                FROM (SELECT unnest(ws) AS t FROM base)),
        sc AS (
          SELECT doc_id, dcnt,
                 CAST(${rnd("log2(CAST(ctx + v AS DOUBLE) / CAST(cnt + 1 AS DOUBLE))", 6)} AS DECIMAL(20,6)) AS s
          FROM dbt JOIN cb USING (bigram)
          JOIN ctx ON ctx.w1 = split_part(bigram, ' ', 1), voc),
        agg AS (SELECT doc_id, CAST(sum(dcnt) AS BIGINT) AS n_bigrams,
                       sum(dcnt * s) AS sumdec
                FROM sc GROUP BY doc_id)"""

  // Shared CTE chain of the banded-MinHash near-dup pipeline; ends in
  // `pairs` (confirmed near-dup pairs). Used by q_doc_minhash_neardup
  // and the clustering query.
  private def minhashPairCtes(src: String = "documents"): String =
    s"""${minhashSigCtes(src)},
        hot AS (
          SELECT band_idx, band_hash FROM bands
          GROUP BY band_idx, band_hash
          HAVING count(*) > ${TextOps.MaxBandFrequency}),
        kept AS (
          SELECT b.* FROM bands b
          WHERE NOT EXISTS (SELECT 1 FROM hot h
                            WHERE h.band_idx = b.band_idx
                              AND h.band_hash = b.band_hash)),
        cand AS (
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS n_shared_bands
          FROM kept x JOIN kept y
            ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
               AND x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id),
        j AS (
          SELECT doc_a, doc_b, n_shared_bands,
                 ${rnd("CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)", 6)} AS jaccard
          FROM cand JOIN base a ON doc_a = a.doc_id JOIN base b ON doc_b = b.doc_id),
        pairs AS (
          SELECT doc_a, doc_b, n_shared_bands, jaccard FROM j
          WHERE jaccard >= ${TextOps.JaccardThreshold})"""

  // Two unrolled Lloyd iterations (KmeansIters is a FIXED constant — the
  // unroll count must stay in lockstep with VectorOps.KmeansIters), ending
  // in cent1 (the trained centroids) and a2 (the assignment computed
  // against them). Shared by q_ivf_kmeans and the trained-quantizer
  // search oracle q_ann_ivf_trained.
  // Parameterized over the source relation and a CTE-name suffix so the
  // SAME chain trains the full-dimension quantizer (src=embeddings,
  // sfx="") and each PQ subspace codebook (src=es<m>, sfx=_s<m>).
  // Training CTEs (a0/a1) read the TrainCap-bounded md5 sample `tr` —
  // the VectorOps.trainSample rule verbatim (a subspace's `tr` holds
  // the sub-vectors of the same vectors) — while the final assignment
  // a2 (the index encode) sweeps the full source.
  // `encodeSrc` decouples the encoded relation from the training one
  // (VectorOps.lloyd's `encode`: the add-after-train oracle trains on
  // the base subset but encodes the whole corpus); null = same as src.
  private def lloydChain(src: String, sfx: String, seed: String = "label",
      encodeSrc: String = null): String = {
    val mean = rnd("CAST(sum(CAST(v::DOUBLE AS DECIMAL(25,10))) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)
    val simOf = (cent: String) =>
      rnd(s"list_dot_product(e.embedding::DOUBLE[], $cent.centroid::DOUBLE[])", 6)
    def assignStep(from: String, cent: String, out: String) = s"""
        $out AS (
          SELECT vec_id, label, embedding, cluster, sim FROM (
            SELECT e.vec_id, e.label, e.embedding, c.cluster,
                   ${simOf("c")} AS sim,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${simOf("c")} DESC, c.cluster) AS rn
            FROM $from e, $cent c)
          WHERE rn = 1)"""
    def centStep(src0: String, comp: String, cent: String) = s"""
        $comp AS (
          SELECT cluster, dim, $mean AS c
          FROM (SELECT cluster, unnest(embedding) AS v,
                       generate_subscripts(embedding, 1) AS dim
                FROM $src0)
          GROUP BY cluster, dim),
        $cent AS (SELECT cluster, list(c ORDER BY dim) AS centroid FROM $comp GROUP BY cluster)"""
    s"""tr$sfx AS (SELECT * FROM $src
          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT ${VectorOps.TrainCap}),
        a0$sfx AS (SELECT vec_id, label, embedding, $seed AS cluster FROM tr$sfx),
        ${centStep(s"a0$sfx", s"comp0$sfx", s"cent0$sfx")},
        ${assignStep(s"tr$sfx", s"cent0$sfx", s"a1$sfx")},
        ${centStep(s"a1$sfx", s"comp1$sfx", s"cent1$sfx")},
        ${assignStep(Option(encodeSrc).getOrElse(src), s"cent1$sfx", s"a2$sfx")}"""
  }

  private lazy val lloydCtes: String = lloydChain("embeddings", "")

  // IVF-PQ search chain (coarse Lloyd cells + per-subspace PQ Lloyd
  // codebooks + LUT scoring), ending in `r` — the approx-ranked
  // candidate frame (q_id, cell, cell_sim, neighbor_id, approx_sim,
  // rank). q_ann_ivfpq cuts it at TopKPq; q_ann_ivfpq_rerank cuts at
  // RerankDepth and re-scores the nominees exactly. Also exposes `q`
  // (q_id, q_emb) for the rerank tail.
  private lazy val ivfPqRankedCtes: String = ivfPqRankedCtesExcluding("FALSE")

  // Same chain with candidates additionally EXCLUDED by a predicate
  // over a2's vec_id — the tombstone-delete oracle: every quantizer
  // trains on (and every sub-vector encodes) the FULL corpus exactly
  // as the engine's stored artifacts do, but retracted ids never enter
  // `cand` — delete-then-search ≡ encode-all-except-deleted.
  // `nprobe` widens `best` to the top-N coarse cells per query — the
  // stored-index serve-time dial (q_ann_index_search_probe2).
  private def ivfPqRankedCtesExcluding(
      deadPred: String, nprobe: Int = 1): String = {
    val m = VectorOps.PqSubspaces
    val d = VectorOps.PqSubDim
    val cellSim = rnd("list_dot_product(q_emb::DOUBLE[], centroid::DOUBLE[])", 6)
    val subViews = (0 until m).map(i =>
      s"es$i AS (SELECT vec_id, label, embedding[${i * d + 1}:${(i + 1) * d}] AS embedding FROM embeddings)")
      .mkString(",\n        ")
    val chains = (0 until m)
      .map(i => lloydChain(s"es$i", s"_s$i", s"vec_id % ${VectorOps.PqCodebooks}"))
      .mkString(",\n        ")
    val codes = (0 until m)
      .map(i => s"SELECT vec_id, $i AS sub, cluster AS code FROM a2_s$i")
      .mkString(" UNION ALL ")
    val cents = (0 until m)
      .map(i => s"SELECT $i AS sub, cluster AS code, centroid FROM cent1_s$i")
      .mkString(" UNION ALL ")
    s"""$lloydCtes,
        $subViews,
        $chains,
        codes AS ($codes),
        cents AS ($cents),
        q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id < ${VectorOps.NQueries}),
        cells AS (
          SELECT q_id, q_emb, cluster, $cellSim AS cell_sim,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY $cellSim DESC, cluster) AS rn
          FROM q, cent1),
        best AS (SELECT q_id, q_emb, cluster, cell_sim FROM cells WHERE rn <= $nprobe),
        lut AS (
          SELECT q_id, sub, code,
                 ${rnd(s"list_dot_product(list_slice(q_emb, sub * $d + 1, (sub + 1) * $d)::DOUBLE[], centroid::DOUBLE[])", 6)} AS part
          FROM q, cents),
        cand AS (
          SELECT b.q_id, a.cluster AS cell, b.cell_sim, a.vec_id
          FROM best b JOIN a2 a ON a.cluster = b.cluster
          WHERE a.vec_id <> b.q_id AND NOT ($deadPred)),
        s AS (
          SELECT c.q_id, c.cell, c.cell_sim, c.vec_id AS neighbor_id,
                 CAST(sum(CAST(part AS DECIMAL(20,10))) AS DOUBLE) AS approx_sim
          FROM cand c
          JOIN codes co ON co.vec_id = c.vec_id
          JOIN lut l ON l.q_id = c.q_id AND l.sub = co.sub AND l.code = co.code
          GROUP BY 1, 2, 3, 4),
        r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY approx_sim DESC, neighbor_id) AS INTEGER) AS rank
              FROM s)"""
  }

  // Add-after-train IVF-PQ chain (q_ann_index_add): every quantizer —
  // the coarse Lloyd AND all 16 PQ codebooks — trains on the BASE
  // corpus only (vec_id % AddModulus <> AddResidue: the rows that
  // existed when the index was built), while the final assignment /
  // encode CTEs sweep the FULL corpus — exactly what the engine's
  // stored-quantizer delta encode produces (base lists ∪ delta lists ≡
  // everything encoded against base-trained artifacts). Ends in `r`
  // like ivfPqRankedCtes.
  private lazy val ivfPqAddRankedCtes: String =
    ivfPqAddRankedCtesFor(
      s"vec_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue}")

  // Same chain with the held-out (post-build) rows given by any
  // predicate — the chained two-batch row holds out both residues.
  // `deadPred` (over a2's vec_id, alias `a`) additionally excludes
  // tombstoned ids from the candidates — the masked delta-union read:
  // train on base, encode everything, serve all except the deleted.
  // `nprobe` widens `best` like ivfPqRankedCtesExcluding's; the
  // recall-chain row probes at depth 2 and derives the depth-1 ranking
  // from the candidates' probe rank in its own tail.
  private def ivfPqAddRankedCtesFor(
      deltaPred: String, deadPred: String = "FALSE",
      nprobe: Int = 1): String = {
    val m = VectorOps.PqSubspaces
    val d = VectorOps.PqSubDim
    val cellSim = rnd("list_dot_product(q_emb::DOUBLE[], centroid::DOUBLE[])", 6)
    val subViews = (0 until m).flatMap(i => Seq(
      s"es$i AS (SELECT vec_id, label, embedding[${i * d + 1}:${(i + 1) * d}] AS embedding FROM embeddings)",
      s"esb$i AS (SELECT * FROM es$i WHERE NOT ($deltaPred))"))
      .mkString(",\n        ")
    val chains = (0 until m)
      .map(i => lloydChain(s"esb$i", s"_s$i",
        s"vec_id % ${VectorOps.PqCodebooks}", encodeSrc = s"es$i"))
      .mkString(",\n        ")
    val codes = (0 until m)
      .map(i => s"SELECT vec_id, $i AS sub, cluster AS code FROM a2_s$i")
      .mkString(" UNION ALL ")
    val cents = (0 until m)
      .map(i => s"SELECT $i AS sub, cluster AS code, centroid FROM cent1_s$i")
      .mkString(" UNION ALL ")
    s"""ebase AS (SELECT * FROM embeddings WHERE NOT ($deltaPred)),
        ${lloydChain("ebase", "", encodeSrc = "embeddings")},
        $subViews,
        $chains,
        codes AS ($codes),
        cents AS ($cents),
        q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id < ${VectorOps.NQueries}),
        cells AS (
          SELECT q_id, q_emb, cluster, $cellSim AS cell_sim,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY $cellSim DESC, cluster) AS rn
          FROM q, cent1),
        best AS (SELECT q_id, q_emb, cluster, cell_sim FROM cells WHERE rn <= $nprobe),
        lut AS (
          SELECT DISTINCT q_id, sub, code,
                 ${rnd(s"list_dot_product(list_slice(q_emb, sub * $d + 1, (sub + 1) * $d)::DOUBLE[], centroid::DOUBLE[])", 6)} AS part
          FROM best, cents),
        cand AS (
          SELECT b.q_id, a.cluster AS cell, b.cell_sim, a.vec_id
          FROM best b JOIN a2 a ON a.cluster = b.cluster
          WHERE a.vec_id <> b.q_id AND NOT ($deadPred)),
        s AS (
          SELECT c.q_id, c.cell, c.cell_sim, c.vec_id AS neighbor_id,
                 CAST(sum(CAST(part AS DECIMAL(20,10))) AS DOUBLE) AS approx_sim
          FROM cand c
          JOIN codes co ON co.vec_id = c.vec_id
          JOIN lut l ON l.q_id = c.q_id AND l.sub = co.sub AND l.code = co.code
          GROUP BY 1, 2, 3, 4),
        r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY approx_sim DESC, neighbor_id) AS INTEGER) AS rank
              FROM s)"""
  }

  // Multi-probe LSH embedding near-dup pair chain, ending in
  // `epairs(vec_a, vec_b, cos_sim)` — shared by q_embed_neardup and the
  // cross-modal q_dedup_ensemble. The plane count is CORPUS-DERIVED with
  // the same pure-integer rule as VectorOps.derivedPlanes (npv CTE:
  // smallest p in [NPlanes, MaxPlanes] with count(*) <= occ·2^p), the
  // full MaxPlanes hyperplane family is embedded as literals, and both
  // the bucket bits and the probe fan-out are masked to the derived
  // count — so the scaling dial itself is inside the hash gate.
  private lazy val embedPairCtes: String = {
    val occ = VectorOps.TargetOccupancy
    val maxP = VectorOps.MaxPlanes
    val planes = VectorOps.planeIntsFor(maxP)
    val bucketExpr = (0 until maxP).map { p =>
      val arr = planes(p).map(k => s"$k/500.0").mkString("[", ", ", "]")
      s"(CASE WHEN $p < np AND list_dot_product(embedding::DOUBLE[], $arr) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val probeFull = ("bucket" +: (0 until maxP)
      .map(p => s"xor(bucket, ${1L << p})")).mkString("[", ", ", "]")
    s"""npv AS (
          SELECT coalesce(min(p), $maxP) AS np
          FROM (SELECT unnest(generate_series(${VectorOps.NPlanes}, $maxP)) AS p),
               (SELECT count(*) AS n FROM embeddings)
          WHERE n <= $occ * (CAST(1 AS BIGINT) << p)),
        eb AS (SELECT vec_id, embedding, CAST($bucketExpr AS BIGINT) AS bucket
               FROM embeddings, npv),
        ep AS (SELECT vec_id, embedding,
                      unnest(list_slice($probeFull, 1, np + 1)) AS probe_bucket
               FROM eb, npv),
        es AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
                      ${rnd("list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])", 6)} AS cos_sim
               FROM ep x JOIN eb y ON x.probe_bucket = y.bucket AND x.vec_id < y.vec_id),
        epairs AS (SELECT vec_a, vec_b, cos_sim FROM es
                   WHERE cos_sim >= ${VectorOps.NearDupCosine})"""
  }

  // Image dHash near-dup channel (q_image_neardup + the ensemble's
  // third channel): replay the pixel FORMULA — token md5 → palette →
  // luminance → sampled-grid dHash bits → 4×16-bit bands → banded
  // pairs + exact Hamming — entirely in SQL, no codec anywhere. The
  // engine's PNG encode→decode roundtrip therefore sits inside the
  // hash gate: a lossy or misindexed decode breaks the match. Ends in
  // `ipairs(media_a, media_b, hamming, n_shared_bands)`.
  private lazy val imagePairCtes: String = {
    import graft.operators.Multimodal._
    val wh = ImgW * ImgH
    s"""imgd AS (
          SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents
          WHERE CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 3 = 0),
        icell AS (
          SELECT doc_id, cy, cx,
                 299*g + 587*((g*7)%256) + 114*((g*13)%256) AS gray
          FROM (
            SELECT d.doc_id, cy.range AS cy, cx.range AS cx,
                   CAST('0x' || substr(md5(toks[
                     (((cy.range * $ImgH // $DHashRows) * $ImgW
                       + cx.range * $ImgW // $DHashCols) * len(toks)) // $wh + 1
                   ]), 1, 2) AS INT) AS g
            FROM imgd d, range(0, $DHashRows) cy, range(0, $DHashCols) cx)),
        ibits AS (
          SELECT a.doc_id, a.cy * ${DHashCols - 1} + a.cx AS idx,
                 CASE WHEN b.gray > a.gray THEN 1 ELSE 0 END AS bit
          FROM icell a JOIN icell b
            ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
          WHERE a.cx < ${DHashCols - 1}),
        ibands AS (
          SELECT doc_id, idx // $ImgBandBits AS band_idx,
                 CAST(sum(bit << (idx % $ImgBandBits)) AS INT) AS band_val
          FROM ibits GROUP BY 1, 2),
        ient AS (
          SELECT doc_id, CAST(count(DISTINCT gray) AS INT) AS n_gray
          FROM icell GROUP BY 1),
        ihs AS (
          SELECT doc_id,
                 max(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
                 max(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
                 max(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
                 max(CASE WHEN band_idx = 3 THEN band_val END) AS b3
          FROM ibands GROUP BY 1),
        ikept AS (
          SELECT doc_id FROM ient WHERE n_gray >= $ImgMinEntropy),
        icand AS (
          SELECT x.doc_id AS media_a, y.doc_id AS media_b,
                 CAST(count(*) AS BIGINT) AS n_shared_bands
          FROM (SELECT b.* FROM ibands b JOIN ikept USING (doc_id)) x
          JOIN (SELECT b.* FROM ibands b JOIN ikept USING (doc_id)) y
            ON x.band_idx = y.band_idx AND x.band_val = y.band_val
               AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
        ipairs AS (
          SELECT media_a, media_b,
                 CAST(bit_count(xor(ax.b0, ay.b0)) + bit_count(xor(ax.b1, ay.b1))
                    + bit_count(xor(ax.b2, ay.b2)) + bit_count(xor(ax.b3, ay.b3))
                   AS INT) AS hamming,
                 n_shared_bands
          FROM icand c JOIN ihs ax ON c.media_a = ax.doc_id
                       JOIN ihs ay ON c.media_b = ay.doc_id
          WHERE bit_count(xor(ax.b0, ay.b0)) + bit_count(xor(ax.b1, ay.b1))
              + bit_count(xor(ax.b2, ay.b2)) + bit_count(xor(ax.b3, ay.b3))
              <= $ImgMaxHamming)"""
  }

  // Same chain at any plane count (the q_embed_neardup_8p dial row
  // regenerates the hyperplane literals from the same md5 family).
  private def embedPairCtesAt(nPlanes: Int): String = {
    val planes = VectorOps.planeIntsFor(nPlanes)
    val bucketExpr = (0 until nPlanes).map { p =>
      val arr = planes(p).map(k => s"$k/500.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $arr) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val probeList = ("bucket" +: (0 until nPlanes)
      .map(p => s"xor(bucket, ${1L << p})")).mkString("[", ", ", "]")
    s"""eb AS (SELECT vec_id, embedding, CAST($bucketExpr AS BIGINT) AS bucket
               FROM embeddings),
        ep AS (SELECT vec_id, embedding, unnest($probeList) AS probe_bucket FROM eb),
        es AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
                      ${rnd("list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])", 6)} AS cos_sim
               FROM ep x JOIN eb y ON x.probe_bucket = y.bucket AND x.vec_id < y.vec_id),
        epairs AS (SELECT vec_a, vec_b, cos_sim FROM es
                   WHERE cos_sim >= ${VectorOps.NearDupCosine})"""
  }

  // IVF search oracle, parameterized by probe depth (shared by
  // q_ann_ivf at nprobe=1 and q_ann_ivf_probe2).
  // The seed-centroid IVF search as a CTE chain, name-suffixed so two
  // probe depths can coexist in one statement (q_ann_recall); ends in
  // `r<sfx>` (ranked in-cell neighbors). sfx="" keeps the original
  // q_ann_ivf / q_ann_ivf_probe2 statements.
  private def ivfCtes(nprobe: Int, sfx: String): String = s"""comp$sfx AS (
          SELECT label, dim,
                 ${rnd("CAST(sum(CAST(v::DOUBLE AS DECIMAL(25,10))) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS c
          FROM (SELECT label, unnest(embedding) AS v,
                       generate_subscripts(embedding, 1) AS dim
                FROM embeddings)
          GROUP BY label, dim),
        cent$sfx AS (SELECT label, list(c ORDER BY dim) AS centroid FROM comp$sfx GROUP BY label),
        q$sfx AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id < ${VectorOps.NQueries}),
        cells$sfx AS (
          SELECT q_id, q_emb, label,
                 ${rnd("list_dot_product(q_emb::DOUBLE[], centroid::DOUBLE[])", 6)} AS cell_sim,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY ${rnd("list_dot_product(q_emb::DOUBLE[], centroid::DOUBLE[])", 6)} DESC, label) AS rn
          FROM q$sfx, cent$sfx),
        best$sfx AS (SELECT q_id, q_emb, label, cell_sim FROM cells$sfx WHERE rn <= $nprobe),
        s$sfx AS (
          SELECT q_id, b.label AS cell, cell_sim, e.vec_id AS neighbor_id,
                 ${rnd("list_dot_product(q_emb::DOUBLE[], e.embedding::DOUBLE[])", 6)} AS cos_sim
          FROM best$sfx b JOIN embeddings e ON e.label = b.label
          WHERE e.vec_id <> b.q_id),
        r$sfx AS (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY cos_sim DESC, neighbor_id) AS rank FROM s$sfx)"""

  private def ivfSql(nprobe: Int): String = s"""
        WITH ${ivfCtes(nprobe, "")}
        SELECT q_id, cell, cell_sim, rank, neighbor_id, cos_sim FROM r
        WHERE rank <= ${VectorOps.TopKIvf} ORDER BY q_id, rank"""

  // Shared CTE chain of the SimHash fingerprint computation, generated
  // from TextOps.SimhashBits; ends in `sh(doc_id, n_distinct_tokens,
  // simhash)`. Used by q_doc_simhash and the Hamming near-dup query.
  private def simhashCtesAt(bits: Int): String = {
    val sums = (0 until bits)
      .map(j => s"sum(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val fp = (0 until bits)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""t AS (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
          FROM documents),
        h AS (SELECT doc_id, CAST('0x' || substr(md5(token), 1, ${bits / 4}) AS BIGINT) AS hv FROM t),
        s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_tokens, $sums
              FROM h GROUP BY doc_id),
        sh AS (SELECT doc_id, n_distinct_tokens, CAST($fp AS BIGINT) AS simhash FROM s)"""
  }

  private lazy val simhashCtes: String = simhashCtesAt(TextOps.SimhashBits)

  // Banded Hamming near-dup SQL at any fingerprint width (shared by the
  // 32-bit default row and the 60-bit wide-dial row).
  private def simhashNearDupSqlAt(bits: Int): String = {
    val bandBits = bits / 4
    val mask = (1L << bandBits) - 1
    val bandList = (0 until 4)
      .map(b => s"(simhash >> ${bandBits * b}) & $mask")
      .mkString("[", ", ", "]")
    s"""
        WITH ${simhashCtesAt(bits)},
        bands AS (
          SELECT doc_id, simhash, unnest($bandList) AS band_val,
                 generate_subscripts($bandList, 1) AS band_idx
          FROM sh)
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming,
               CAST(count(*) AS BIGINT) AS n_shared_bands
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_val = y.band_val
             AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id, x.simhash, y.simhash
        HAVING bit_count(xor(x.simhash, y.simhash)) <= ${TextOps.SimhashMaxHamming}
        ORDER BY doc_a, doc_b"""
  }

  // Corpus-derived-width banded Hamming near-dup SQL (the
  // q_simhash_neardup default row): the band width bb is derived inside
  // SQL with TextOps.derivedSimhashBandBits' pure-integer rule (bbv
  // CTE), the md5-hex fingerprint prefix is taken at the DYNAMIC length
  // bb (hex chars = band bits, since width = 4·bb), and the per-bit
  // sign sums / fingerprint terms are generated statically for the full
  // 60-bit cap — bits at or above the derived width see only zero hv
  // bits, so their sums are -n and their fingerprint terms vanish,
  // which makes the static 60-term expression exact at EVERY derived
  // width. Band extraction shifts/masks by bb dynamically. Mirrors the
  // embedPairCtes derived-planes construction.
  private def simhashNearDupDerivedSql: String = {
    val maxBits = 4 * TextOps.SimhashMaxBandBits
    val sums = (0 until maxBits)
      .map(j => s"sum(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val fp = (0 until maxBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val bandList = (0 until 4)
      .map(b => s"(simhash >> (bb * $b)) & ((CAST(1 AS BIGINT) << bb) - 1)")
      .mkString("[", ", ", "]")
    s"""
        WITH bbv AS (
          SELECT coalesce(min(bb), ${TextOps.SimhashMaxBandBits}) AS bb
          FROM (SELECT unnest(generate_series(${TextOps.SimhashMinBandBits},
                  ${TextOps.SimhashMaxBandBits})) AS bb),
               (SELECT count(*) AS n FROM documents)
          WHERE n <= ${TextOps.SimhashTargetOccupancy} * (CAST(1 AS BIGINT) << bb)),
        t AS (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
          FROM documents),
        h AS (SELECT doc_id, CAST('0x' || substr(md5(token), 1, bb) AS BIGINT) AS hv
              FROM t, bbv),
        s AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
        sh AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM s),
        bands AS (
          SELECT doc_id, simhash, unnest($bandList) AS band_val,
                 generate_subscripts($bandList, 1) AS band_idx
          FROM sh, bbv)
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming,
               CAST(count(*) AS BIGINT) AS n_shared_bands
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_val = y.band_val
             AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id, x.simhash, y.simhash
        HAVING bit_count(xor(x.simhash, y.simhash)) <= ${TextOps.SimhashMaxHamming}
        ORDER BY doc_a, doc_b"""
  }

  // Two-long 120-bit fingerprint near-dup SQL (q_simhash_neardup_128):
  // hv_hi/hv_lo are the first/second 15-hex-char md5 slices (each a
  // sign-safe 60-bit BIGINT), 4 bands of 30 bits sit exactly two per
  // long, hamming = bit_count(xor hi) + bit_count(xor lo). This is the
  // production form past the single-long derivation cap — all integer
  // arithmetic stays 64-bit on both engines.
  private def simhashNearDup128Sql: String = {
    val bb = TextOps.Simhash128BandBits
    val mask = (1L << bb) - 1
    def sums(c: String) = (0 until 60)
      .map(j => s"sum(CASE WHEN ($c >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS ${c}_s$j")
      .mkString(", ")
    def fp(c: String) = (0 until 60)
      .map(j => s"(CASE WHEN ${c}_s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val bandList = Seq(
      s"fp_lo & $mask", s"(fp_lo >> $bb) & $mask",
      s"fp_hi & $mask", s"(fp_hi >> $bb) & $mask").mkString("[", ", ", "]")
    s"""
        WITH t AS (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
          FROM documents),
        h AS (SELECT doc_id,
                     CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS hv_hi,
                     CAST('0x' || substr(md5(token), 16, 15) AS BIGINT) AS hv_lo
              FROM t),
        s AS (SELECT doc_id, ${sums("hv_hi")}, ${sums("hv_lo")}
              FROM h GROUP BY doc_id),
        sh AS (SELECT doc_id, CAST(${fp("hv_hi")} AS BIGINT) AS fp_hi,
                      CAST(${fp("hv_lo")} AS BIGINT) AS fp_lo FROM s),
        bands AS (
          SELECT doc_id, fp_hi, fp_lo, unnest($bandList) AS band_val,
                 generate_subscripts($bandList, 1) AS band_idx
          FROM sh)
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST(bit_count(xor(x.fp_hi, y.fp_hi))
                    + bit_count(xor(x.fp_lo, y.fp_lo)) AS INTEGER) AS hamming,
               CAST(count(*) AS BIGINT) AS n_shared_bands
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_val = y.band_val
             AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id, x.fp_hi, x.fp_lo, y.fp_hi, y.fp_lo
        HAVING bit_count(xor(x.fp_hi, y.fp_hi)) + bit_count(xor(x.fp_lo, y.fp_lo))
               <= ${TextOps.SimhashMaxHamming}
        ORDER BY doc_a, doc_b"""
  }

  // Shared CTE chain of the size-recommendation pipeline (J8/W5); used
  // by q_size_recommend and the X25 message-rendering query.
  private val sizeCtes = """
        chart(h_min, h_max, w_min, w_max, size) AS (
          VALUES (140,155,40,55,'XS'), (150,165,50,65,'S'), (160,175,60,75,'M'),
                 (170,185,70,85,'L'), (180,195,80,95,'XL'), (190,210,90,120,'XXL')),
        cust AS (
          SELECT c_custkey, CAST(150 + c_custkey % 50 AS INT) AS height,
                 CAST(50 + c_custkey % 60 AS INT) AS weight
          FROM customer),
        cand AS (
          SELECT c_custkey, height, weight, size,
                 -(abs((h_min + h_max) / 2.0 - height)
                   + abs((w_min + w_max) / 2.0 - weight)) AS score
          FROM cust JOIN chart
            ON height BETWEEN h_min AND h_max AND weight BETWEEN w_min AND w_max),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY c_custkey
                      ORDER BY score DESC, size) AS rn
          FROM cand),
        agg AS (
          SELECT c_custkey,
                 max(CASE WHEN rn = 1 THEN size END) AS best_size,
                 count(*) AS n_candidates,
                 coalesce(string_agg(CASE WHEN rn BETWEEN 2 AND 4 THEN size END,
                   ',' ORDER BY rn), '') AS alt_sizes
          FROM ranked GROUP BY c_custkey),
        rec AS (
          SELECT c.c_custkey, height, weight,
                 coalesce(best_size, 'NONE') AS best_size,
                 coalesce(n_candidates, 0) AS n_candidates,
                 coalesce(alt_sizes, '') AS alt_sizes
          FROM cust c LEFT JOIN agg USING (c_custkey))"""

  // Shared sketch oracles: each is used VERBATIM by a batch query and by
  // its streaming-maintenance twin (q_*_stream) — the merge laws are
  // exact, so the streamed sketch table equals the one-shot batch sketch
  // and one SQL text checks both paths.
  private lazy val kmvSql: String = {
    val P = Sketches.P
    val hv = s"(CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % $P)"
    s"""
    WITH kk AS (SELECT o_custkey AS key FROM orders),
    u AS (SELECT DISTINCT ($hv / CAST($P AS DOUBLE)) AS u FROM kk
          ORDER BY u LIMIT ${Sketches.KmvK}),
    a AS (SELECT max(u) AS u_k, count(*) AS k FROM u),
    t AS (SELECT count(DISTINCT key) AS true_distinct FROM kk)
    SELECT k, ${rnd("u_k", 6)} AS u_k,
           ${rnd("(k - 1) / u_k", 2)} AS kmv_estimate,
           true_distinct,
           ${rnd("abs((k - 1) / u_k - true_distinct) / true_distinct", 4)} AS rel_error
    FROM a, t"""
  }

  private lazy val hllSql: String = {
    val P = Sketches.P
    val m = Sketches.HllBuckets
    val maxRho = Sketches.HllMaxRho
    val pow = 1L << maxRho
    val num = Sketches.HllNumerator
    val thr = 2.5 * m
    val hv = s"(CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % $P)"
    s"""
    WITH kk AS (SELECT o_custkey AS key FROM orders),
    b AS (SELECT hv % $m AS bucket, hv // $m AS w
          FROM (SELECT $hv AS hv FROM kk)),
    r AS (SELECT bucket,
                 max(CASE WHEN w = 0 THEN $maxRho
                          ELSE bit_count((w & -w) - 1) + 1 END) AS m
          FROM b GROUP BY bucket),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n_registers_used,
                 CAST(sum(CAST(1 AS BIGINT) << ($maxRho - m)) AS BIGINT) AS s_present
          FROM r),
    t AS (SELECT count(DISTINCT key) AS true_distinct FROM kk),
    s AS (SELECT n_registers_used,
                 s_present + ($m - n_registers_used) * $pow AS harmonic_scaled,
                 true_distinct
          FROM a, t),
    e AS (SELECT *,
                 CASE WHEN $num / CAST(harmonic_scaled AS DOUBLE) <= $thr
                           AND n_registers_used < $m
                      THEN $m * ln($m / CAST($m - n_registers_used AS DOUBLE))
                      ELSE $num / CAST(harmonic_scaled AS DOUBLE) END AS est
          FROM s)
    SELECT n_registers_used, harmonic_scaled,
           ${rnd("est", 2)} AS hll_estimate, true_distinct,
           ${rnd("abs(est - true_distinct) / true_distinct", 4)} AS rel_error
    FROM e"""
  }

  private lazy val cmsSql: String = {
    val P = Sketches.P
    val W = Sketches.Width
    def bucketList(hv: String) = Sketches.cmsParams
      .map { case (a, b) => s"($a * $hv + $b) % $P % $W" }
      .mkString("[", ", ", "]")
    val hv = s"CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % $P"
    s"""
    WITH k AS (SELECT l_partkey AS key FROM lineitem),
    h AS (SELECT key, $hv AS hv FROM k),
    cellrows AS (
      SELECT unnest(${bucketList("hv")}) AS bucket,
             generate_subscripts(${bucketList("hv")}, 1) AS d
      FROM h),
    cells AS (SELECT d, bucket, count(*) AS cnt FROM cellrows GROUP BY d, bucket),
    tt AS (SELECT key, count(*) AS true_count FROM k GROUP BY key
           ORDER BY true_count DESC, key LIMIT ${Sketches.TopN}),
    pr AS (
      SELECT key, true_count,
             unnest(${bucketList("hv")}) AS bucket,
             generate_subscripts(${bucketList("hv")}, 1) AS d
      FROM (SELECT key, true_count, $hv AS hv FROM tt)),
    est AS (
      SELECT key, true_count, min(cnt) AS cms_estimate
      FROM pr JOIN cells USING (d, bucket) GROUP BY key, true_count)
    SELECT key, true_count, cms_estimate,
           cms_estimate >= true_count AS never_undercounts
    FROM est ORDER BY true_count DESC, key"""
  }

  val specs: Map[String, Spec] = Map(

    "q_pricing_summary" -> Spec(
      Relational.pricingSummary,
      Some(s"""
        WITH a AS (
          SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                 sum(CAST(l_quantity AS $D)) AS sq,
                 sum(CAST(l_extendedprice AS $D)) AS sg,
                 sum(CAST(l_extendedprice * (1.0 - l_discount) AS $D)) AS sn,
                 sum(CAST(l_extendedprice * l_extendedprice AS $D)) AS sg2
          FROM lineitem GROUP BY l_returnflag, l_linestatus)
        SELECT l_returnflag, l_linestatus, n_rows,
               CAST(sq AS DOUBLE) AS sum_qty,
               CAST(sg AS DOUBLE) AS sum_gross,
               CAST(sn AS DOUBLE) AS sum_net,
               ${rnd("CAST(sg AS DOUBLE) / CAST(n_rows AS DOUBLE)", 6)} AS avg_price,
               ${rnd("""sqrt(greatest(0.0,
                 CAST(sg2 AS DOUBLE) / CAST(n_rows AS DOUBLE)
                 - (CAST(sg AS DOUBLE) / CAST(n_rows AS DOUBLE))
                   * (CAST(sg AS DOUBLE) / CAST(n_rows AS DOUBLE))))""", 6)} AS stddev_price
        FROM a ORDER BY l_returnflag, l_linestatus""")),

    "q_margin_by_sku" -> Spec(
      Relational.marginBySku,
      Some(s"""
        SELECT l_partkey AS sku,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                 - ((CASE WHEN l_extendedprice >= 15000 THEN 0
                          WHEN l_extendedprice >= 10000 THEN 699
                          WHEN l_extendedprice >= 5000 THEN 799
                          ELSE 999 END)
                    + greatest(0, CAST(ceil(p_size * 0.3) AS BIGINT) - 3) * 399)
                 AS $D)) AS DOUBLE) AS margin_kzt,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY l_partkey ORDER BY margin_kzt DESC, sku""")),

    "q_daily_demand" -> Spec(
      Relational.dailyDemand,
      Some(s"""
        SELECT l_partkey AS sku, ${rnd(s"${sumDec("l_quantity")} / 30.0", 6)} AS daily_demand
        FROM lineitem
        WHERE l_shipdate >= (SELECT max(l_shipdate) FROM lineitem) - INTERVAL 30 DAY
        GROUP BY l_partkey ORDER BY sku""")),

    "q_inventory_reorder" -> Spec(
      Relational.inventoryReorder,
      Some(s"""
        WITH demand AS (
          SELECT l_partkey AS sku, ${rnd(s"${sumDec("l_quantity")} / 30.0", 6)} AS daily_demand
          FROM lineitem
          WHERE l_shipdate >= (SELECT max(l_shipdate) FROM lineitem) - INTERVAL 30 DAY
          GROUP BY l_partkey),
        s AS (
          SELECT p_partkey AS sku, CAST(p_size * 10 AS BIGINT) AS qty_on_hand,
                 coalesce(daily_demand, 0.0) AS daily_demand
          FROM part LEFT JOIN demand ON p_partkey = demand.sku)
        SELECT sku, qty_on_hand, daily_demand,
               CAST(ceil(daily_demand * 14.0
                 + 1.65 * (daily_demand * 0.2) * sqrt(14)) AS BIGINT) AS reorder_point,
               qty_on_hand <= CAST(ceil(daily_demand * 14.0
                 + 1.65 * (daily_demand * 0.2) * sqrt(14)) AS BIGINT) AS need_reorder
        FROM s ORDER BY need_reorder DESC, sku""")),

    "q_brand_value_counts" -> Spec(
      Relational.brandValueCounts,
      Some("""
        SELECT p_brand, count(*) AS n FROM part
        GROUP BY p_brand ORDER BY n DESC, p_brand LIMIT 5""")),

    "q_conditional_counts" -> Spec(
      Relational.conditionalCounts,
      Some(s"""
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
               ${sumDec("o_totalprice")} AS sum_total
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    "q_global_kpis" -> Spec(
      Relational.globalKpis,
      Some(s"""
        SELECT count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers,
               ${sumDec("o_totalprice")} AS revenue,
               ${rnd(s"${sumDec("o_totalprice")} / CAST(count(*) AS DOUBLE)", 6)} AS avg_order_value
        FROM orders""")),

    "q_seller_stats" -> Spec(
      Relational.sellerStats,
      Some(s"""
        WITH a AS (
          SELECT l_partkey AS sku, count(*) AS n_offers,
                 min(l_extendedprice) AS min_price,
                 max(l_extendedprice) AS max_price,
                 median(l_extendedprice) AS median_price,
                 sum(CAST(l_extendedprice AS $D)) AS sp,
                 sum(CAST(l_extendedprice * l_extendedprice AS $D)) AS sp2
          FROM lineitem GROUP BY l_partkey)
        SELECT sku, n_offers, min_price, max_price, spread, median_price,
               avg_price, stddev_price,
               CAST(${rnd("(1.0 - least(1.0, stddev_price / min_price)) * 100", 0)}
                 AS BIGINT) AS stability
        FROM (
          SELECT sku, n_offers, min_price, max_price,
                 max_price - min_price AS spread, median_price,
                 ${rnd("CAST(sp AS DOUBLE) / CAST(n_offers AS DOUBLE)", 6)} AS avg_price,
                 ${rnd("""sqrt(greatest(0.0,
                   CAST(sp2 AS DOUBLE) / CAST(n_offers AS DOUBLE)
                   - (CAST(sp AS DOUBLE) / CAST(n_offers AS DOUBLE))
                     * (CAST(sp AS DOUBLE) / CAST(n_offers AS DOUBLE))))""", 6)} AS stddev_price
          FROM a)
        ORDER BY sku""")),

    "q_unique_suppliers_per_brand" -> Spec(
      Relational.uniqueSuppliersPerBrand,
      Some("""
        SELECT p_brand, count(DISTINCT l_suppkey) AS n_suppliers, count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand""")),

    "q_global_analytics" -> Spec(
      Relational.globalAnalytics,
      Some(s"""
        WITH s AS (
          SELECT l_partkey AS sku,
                 min(l_extendedprice) AS min_price,
                 max(l_extendedprice) - min(l_extendedprice) AS spread
          FROM lineitem GROUP BY l_partkey)
        SELECT count(*) AS n_skus,
               ${rnd(s"${sumDec("spread")} / CAST(count(*) AS DOUBLE)", 6)} AS avg_spread,
               median(spread) AS median_spread,
               max(spread) AS max_spread,
               ${rnd("""CAST(sum(CASE WHEN spread <= 1000.0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)""", 6)} AS tight_share,
               min(min_price) AS best_entry_price
        FROM s""")),

    "q_delta_vs_min" -> Spec(
      Relational.deltaVsMin,
      Some(s"""
        SELECT l_orderkey, l_linenumber, sku, price, min_price,
               price - min_price AS delta,
               ${rnd("(price - min_price) / min_price * 100.0", 4)} AS delta_pct
        FROM (SELECT l_orderkey, l_linenumber, l_partkey AS sku,
                     l_extendedprice AS price,
                     min(l_extendedprice) OVER (PARTITION BY l_partkey) AS min_price
              FROM lineitem)
        ORDER BY l_orderkey, l_linenumber""")),

    "q_top3_cheapest_per_sku" -> Spec(
      Relational.top3CheapestPerSku,
      Some("""
        SELECT l_partkey AS sku, rank, l_suppkey AS seller, l_extendedprice AS price
        FROM (SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                     row_number() OVER (PARTITION BY l_partkey
                       ORDER BY l_extendedprice, l_suppkey, l_orderkey, l_linenumber) AS rank
              FROM lineitem)
        WHERE rank <= 3 ORDER BY sku, rank""")),

    // Same SQL as q_top3_cheapest_per_sku — the bounded-aggregator plan
    // must produce byte-identical output to the window-rank plan.
    "q_top3_agg" -> Spec(
      operators.TopK.top3Agg,
      Some("""
        SELECT l_partkey AS sku, rank, l_suppkey AS seller, l_extendedprice AS price
        FROM (SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                     row_number() OVER (PARTITION BY l_partkey
                       ORDER BY l_extendedprice, l_suppkey, l_orderkey, l_linenumber) AS rank
              FROM lineitem)
        WHERE rank <= 3 ORDER BY sku, rank""")),

    "q_size_recommend" -> Spec(
      Relational.sizeRecommend,
      Some(s"""
        WITH $sizeCtes
        SELECT c_custkey, height, weight, best_size, n_candidates, alt_sizes
        FROM rec ORDER BY c_custkey""")),

    "q_sliding_undercut" -> Spec(
      Relational.slidingUndercut,
      Some("""
        WITH b AS (
          SELECT event_id, user_id,
                 CASE WHEN value <= min(value) OVER (PARTITION BY user_id) + 50.0
                      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS undercut
          FROM events),
        s AS (
          SELECT event_id, user_id, undercut,
                 CAST(sum(undercut) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS sliding_hits
          FROM b)
        SELECT event_id, user_id, undercut, sliding_hits,
               sliding_hits >= 3 AS is_bot
        FROM s ORDER BY user_id, event_id""")),

    "q_dedup_merge" -> Spec(
      Relational.dedupMerge,
      Some("""
        SELECT l_partkey AS sku, l_suppkey AS seller,
               min(l_extendedprice) AS best_price,
               strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship_date,
               count(*) AS n_merged
        FROM lineitem GROUP BY l_partkey, l_suppkey ORDER BY sku, seller""")),

    "q_first_order_per_customer_day" -> Spec(
      Relational.firstOrderPerCustomerDay,
      Some("""
        SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               min(o_orderkey) AS first_order, count(*) AS n_dups
        FROM orders GROUP BY o_custkey, strftime(o_orderdate, '%Y-%m-%d')
        ORDER BY o_custkey, order_date""")),

    "q_union_all_flags" -> Spec(
      Relational.unionAllFlags,
      Some(s"""
        SELECT l_returnflag, count(*) AS n, ${sumDec("l_quantity")} AS sum_qty
        FROM (SELECT * FROM lineitem WHERE l_returnflag = 'A'
              UNION ALL
              SELECT * FROM lineitem WHERE l_returnflag = 'R')
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    "q_customers_without_orders" -> Spec(
      Relational.customersWithoutOrders,
      Some("""
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE NOT EXISTS (
          SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= (SELECT max(o_orderdate) FROM orders) - INTERVAL 90 DAY)
        ORDER BY c_custkey""")),

    "q_orders_with_customer_name" -> Spec(
      Relational.ordersWithCustomerName,
      Some("""
        SELECT o_orderkey,
               coalesce(c_name, 'UNKNOWN-' || CAST(o_custkey AS VARCHAR)) AS cust_name,
               o_totalprice
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        ORDER BY o_orderkey""")),

    "q_target_prices" -> Spec(
      Relational.targetPrices,
      Some(s"""
        WITH comp AS (
          SELECT l_partkey, min(l_extendedprice) AS lowest_comp
          FROM lineitem GROUP BY l_partkey),
        t AS (
          SELECT p_partkey, p_retailprice, lowest_comp,
                 CASE WHEN lowest_comp IS NULL
                      THEN least(greatest(p_retailprice, ${rnd("p_retailprice * 0.8", 2)}),
                                 ${rnd("p_retailprice * 1.2", 2)})
                      ELSE least(greatest(lowest_comp - 50.0, ${rnd("p_retailprice * 0.8", 2)}),
                                 ${rnd("p_retailprice * 1.2", 2)}) END AS tgt
          FROM part LEFT JOIN comp ON p_partkey = l_partkey)
        SELECT p_partkey AS sku, p_retailprice AS current_price, lowest_comp,
               CASE WHEN abs(tgt - p_retailprice) <= 50.0 THEN p_retailprice
                    ELSE tgt END AS target_price
        FROM t ORDER BY sku""")),

    "q_bot_flags" -> Spec(
      Relational.botFlags,
      Some("""
        WITH offers AS (
          SELECT l_partkey AS sku, l_suppkey AS seller, min(l_extendedprice) AS price
          FROM lineitem GROUP BY l_partkey, l_suppkey),
        g AS (
          SELECT sku, min(price) AS mn, median(price) AS md
          FROM offers GROUP BY sku)
        SELECT o.sku AS sku, o.seller, o.price,
               ((o.price - g.mn >= 0 AND o.price - g.mn <= 100.0)
                OR (o.price - g.mn >= 0 AND
                    (CASE WHEN g.mn > 0 THEN (o.price - g.mn) / g.mn ELSE 0 END) <= 0.0025))
               AND (g.md - g.mn <= 3000.0) AS is_bot
        FROM offers o JOIN g ON o.sku = g.sku ORDER BY sku, seller""")),

    "q_price_floor" -> Spec(
      Relational.priceFloor,
      Some("""
        WITH offers AS (
          SELECT l_partkey AS sku, l_suppkey AS seller, min(l_extendedprice) AS price
          FROM lineitem GROUP BY l_partkey, l_suppkey),
        g AS (
          SELECT sku, min(price) AS mn, median(price) AS md
          FROM offers GROUP BY sku),
        f AS (
          SELECT o.sku AS sku, o.price,
                 ((o.price - g.mn >= 0 AND o.price - g.mn <= 100.0)
                  OR (o.price - g.mn >= 0 AND
                      (CASE WHEN g.mn > 0 THEN (o.price - g.mn) / g.mn ELSE 0 END) <= 0.0025))
                 AND (g.md - g.mn <= 3000.0) AS is_bot
          FROM offers o JOIN g ON o.sku = g.sku)
        SELECT sku,
               CAST(sum(CASE WHEN is_bot THEN 1 ELSE 0 END) AS BIGINT) AS n_bots,
               min(price) AS min_price,
               CASE WHEN CAST(sum(CASE WHEN is_bot THEN 1 ELSE 0 END) AS BIGINT) >= 2
                    THEN greatest(0.0, min(price) - 200.0) ELSE min(price) END
                 AS predicted_min_24h,
               CASE WHEN CAST(sum(CASE WHEN is_bot THEN 1 ELSE 0 END) AS BIGINT) >= 2
                    THEN greatest(0.0, min(price) - 400.0) ELSE min(price) END
                 AS predicted_min_7d
        FROM f GROUP BY sku ORDER BY sku""")),

    // ── LLM-data-pipeline suite (documents + embeddings) ──────────────
    // Oracle hashes are md5-based on both engines; the SQL below is
    // GENERATED from the same constants (TextOps.MinhashK/Bands/…,
    // VectorOps.planeInts) the Spark plans use, so banding, signatures
    // and hyperplanes match bit-for-bit.

    "q_doc_token_stats" -> Spec(
      TextOps.tokenStats,
      Some(s"""
        SELECT doc_id, lang,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_tokens,
               ${rnd("CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE)", 6)} AS ttr,
               ${rnd("CAST(list_sum(list_transform(ws, t -> length(t))) AS DOUBLE) / CAST(len(ws) AS DOUBLE)", 6)} AS avg_token_len
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)
        ORDER BY doc_id""")),

    // Per-token surprisal rounded then fixed to DECIMAL(20,6) before the
    // weighted per-doc sum, so the aggregate is exact on both engines.
    "q_doc_surprisal" -> Spec(
      TextOps.surprisalScores,
      Some(s"""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents),
        dt AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS dcnt
               FROM tok GROUP BY doc_id, token),
        vocab AS (SELECT token, CAST(sum(dcnt) AS BIGINT) AS cnt
                  FROM dt GROUP BY token),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab),
        j AS (SELECT doc_id, dcnt,
                     CAST(${rnd("log2(CAST(n_total AS DOUBLE) / CAST(cnt AS DOUBLE))", 6)} AS DECIMAL(20,6)) AS s
              FROM dt JOIN vocab USING (token), tot),
        p AS (SELECT doc_id, CAST(sum(dcnt) AS BIGINT) AS n_tokens,
                     sum(dcnt * s) AS sumdec
              FROM j GROUP BY doc_id)
        SELECT doc_id, n_tokens,
               ${rnd("CAST(sumdec AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 4)} AS mean_surprisal
        FROM p ORDER BY doc_id""")),

    // Bigram LM one order up: bigrams from one array zip per doc (both
    // engines build "w1 w2" strings the same way), add-one smoothing,
    // decimal-exact weighted sum — the surprisal recipe on sequences.
    "q_bigram_lm" -> Spec(
      TextOps.bigramSurprisal,
      Some(s"""
        WITH $bigramLmCtes
        SELECT doc_id, n_bigrams,
               ${rnd("CAST(sumdec AS DOUBLE) / CAST(n_bigrams AS DOUBLE)", 4)} AS mean_bigram_surprisal
        FROM agg ORDER BY doc_id""")),

    // Scores rounded BEFORE ranking + token-byte tie-break → the top-k
    // membership itself is deterministic, not just the score values.
    "q_doc_keywords" -> Spec(
      TextOps.docKeywords,
      Some(s"""
        WITH dt AS (
          SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents)
          WHERE token <> '' GROUP BY doc_id, token),
        dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY token),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        sc AS (SELECT doc_id, token,
                      ${rnd("tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))", 6)} AS score
               FROM dt JOIN dft USING (token), n),
        rk AS (SELECT doc_id, token, score,
                      CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, token) AS INTEGER) AS kw_rank
               FROM sc)
        SELECT doc_id, kw_rank, token, score FROM rk
        WHERE kw_rank <= ${TextOps.KeywordsPerDoc}
        ORDER BY doc_id, kw_rank""")),

    "q_doc_lang_stats" -> Spec(
      TextOps.langStats,
      Some {
        val stopPred = TextOps.Stopwords.map(w => s"t = '$w'").mkString("(", " OR ", ")")
        s"""
        WITH perdoc AS (
          SELECT lang, source, CAST(len(ws) AS BIGINT) AS n_tokens,
                 ${rnd(s"CAST(len(list_filter(ws, t -> $stopPred)) AS DOUBLE) / CAST(len(ws) AS DOUBLE)", 6)} AS stop_ratio
          FROM (SELECT lang, source, string_split(text, ' ') AS ws FROM documents)),
        bylang AS (
          SELECT lang, count(*) AS n_docs, count(DISTINCT source) AS n_sources,
                 CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                 sum(CAST(stop_ratio AS DECIMAL(20,10))) AS sr
          FROM perdoc GROUP BY lang),
        tfc AS (
          SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        tcnt AS (SELECT lang, token, count(*) AS c FROM tfc GROUP BY lang, token),
        top AS (
          SELECT lang, token AS top_token, c AS top_token_count
          FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY c DESC, token) AS rn
                FROM tcnt)
          WHERE rn = 1)
        SELECT b.lang, n_docs, n_sources, total_tokens,
               ${rnd("CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS avg_tokens,
               ${rnd("CAST(sr AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS avg_stop_ratio,
               top_token, top_token_count
        FROM bylang b JOIN top USING (lang) ORDER BY lang"""
      }),

    "q_doc_quality" -> Spec(
      TextOps.qualityScores,
      Some {
        val stopPred = TextOps.Stopwords.map(w => s"t = '$w'").mkString("(", " OR ", ")")
        val quality = rnd(
          """0.4 * (least(1.0, n / 20.0) * least(1.0, 80.0 / greatest(n, 80.0)))
             + 0.3 * (CASE WHEN nstop / n BETWEEN 0.02 AND 0.3 THEN 1.0 ELSE 0.5 END)
             + 0.3 * (nd / n)""", 6)
        s"""
        WITH s AS (
          SELECT doc_id, lang,
                 CAST(len(ws) AS DOUBLE) AS n,
                 CAST(len(list_filter(ws, t -> $stopPred)) AS DOUBLE) AS nstop,
                 CAST(len(list_distinct(ws)) AS DOUBLE) AS nd
          FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents))
        SELECT doc_id, lang, CAST(n AS BIGINT) AS n_tokens,
               ${rnd("nstop / n", 6)} AS stop_ratio,
               ${rnd("nd / n", 6)} AS ttr,
               $quality AS quality_score,
               $quality >= 0.5 AS keep
        FROM s ORDER BY doc_id"""
      }),

    // The derived per-language orthography (letter rotation keyed by the
    // lang code) is replayed with the identical translate expression, so
    // the confusion matrix hashes a REAL separation measurement.
    "q_doc_langid" -> Spec(
      TextOps.langId,
      Some(s"""
        WITH d0 AS (
          SELECT doc_id, lang,
                 translate(text, 'abcdefghijklmnopqrstuvwxyz',
                   concat(
                     substr('abcdefghijklmnopqrstuvwxyz',
                       (ascii(substr(lang, 1, 1)) * 7 + ascii(substr(lang, 2, 1)) * 3) % 25 + 2, 26),
                     substr('abcdefghijklmnopqrstuvwxyz', 1,
                       (ascii(substr(lang, 1, 1)) * 7 + ascii(substr(lang, 2, 1)) * 3) % 25 + 1))) AS dtext
          FROM documents WHERE length(text) >= 3),
        dt AS (
          SELECT doc_id, lang,
                 unnest(list_distinct([substring(dtext, i, 3) FOR i IN range(1, length(dtext) - 1)])) AS tri
          FROM d0),
        prof AS (
          SELECT plang, tri FROM (
            SELECT lang AS plang, tri, count(*) AS c,
                   row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tri) AS rn
            FROM dt GROUP BY lang, tri)
          WHERE rn <= ${TextOps.LangIdProfileSize}),
        sc AS (
          SELECT doc_id, lang, plang, count(*) AS overlap
          FROM dt JOIN prof USING (tri) GROUP BY doc_id, lang, plang),
        pred AS (
          SELECT doc_id, lang, plang FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY overlap DESC, plang) AS rn FROM sc)
          WHERE rn = 1)
        SELECT lang AS actual_lang, plang AS predicted_lang, count(*) AS n_docs
        FROM pred GROUP BY lang, plang ORDER BY actual_lang, predicted_lang""")),

    // Concat-and-chunk packing manifest: the oracle replays the global
    // running total directly (one window is fine for DuckDB); the
    // engine computes the same prefix sums in the two-phase distributed
    // form, so value equality here proves the decomposition exact.
    // Sliding-window chunking with overlap — per-row explode only, no
    // shuffle; the chunk content hash (the vector-store key) is md5 of
    // the identical joined token slice in both engines.
    "q_doc_chunks" -> Spec(
      TextOps.docChunks,
      Some {
        val (sz, ov) = (TextOps.ChunkTokens, TextOps.ChunkOverlap)
        val stride = sz - ov
        s"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                   WHERE len(string_split(text, ' ')) >= 1),
        c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, ws,
                     unnest(range(0, greatest(len(ws) - $ov - 1, 0) + 1, $stride)) AS start_tok,
                     generate_subscripts(range(0, greatest(len(ws) - $ov - 1, 0) + 1, $stride), 1) - 1 AS chunk_idx
              FROM d)
        SELECT doc_id, n_tokens, CAST(chunk_idx AS INTEGER) AS chunk_idx,
               CAST(start_tok AS BIGINT) AS start_tok,
               CAST(least(start_tok + $sz, n_tokens) AS BIGINT) AS end_tok,
               md5(array_to_string(ws[start_tok + 1 : start_tok + $sz], ' ')) AS chunk_hash
        FROM c ORDER BY doc_id, chunk_idx"""
      }),

    "q_doc_packing" -> Spec(
      TextOps.docPacking,
      Some {
        val cap = TextOps.PackCapacity
        s"""
        WITH t AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents),
        c AS (SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS gend
              FROM t),
        g AS (SELECT doc_id, n, gend - n AS gstart, gend FROM c),
        e AS (SELECT doc_id, n, gstart, gend,
                     unnest([x FOR x IN range(gstart // $cap, (gend - 1) // $cap + 1)]) AS chunk_id
              FROM g)
        SELECT doc_id, n AS n_tokens, chunk_id,
               least(gend, (chunk_id + 1) * $cap) - greatest(gstart, chunk_id * $cap) AS tokens_in_chunk,
               (gend - 1) // $cap > gstart // $cap AS is_split
        FROM e ORDER BY doc_id, chunk_id"""
      }),

    "q_doc_exact_dedup" -> Spec(
      TextOps.exactDedup,
      Some("""
        WITH t AS (
          SELECT doc_id, lang, md5(text) AS content_hash,
                 md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_hash
          FROM documents)
        SELECT bow_hash, min(doc_id) AS canonical_doc_id, count(*) AS n_docs,
               count(DISTINCT content_hash) AS n_distinct_texts,
               count(DISTINCT lang) AS n_langs
        FROM t GROUP BY bow_hash ORDER BY canonical_doc_id""")),

    "q_doc_fingerprint" -> Spec(
      TextOps.fingerprints,
      Some(s"""
        SELECT doc_id, md5(text) AS content_hash,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_hash,
               coalesce(list_aggregate(list_transform(sh, s -> md5(s)), 'min'), '') AS min_shingle_hash,
               list_reduce(
                 list_transform(ws, w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % ${TextOps.MinhashPrime}),
                 (acc, x) -> (acc * 31 + x) % ${TextOps.MinhashPrime}) AS rolling_hash
        FROM (SELECT doc_id, text, ws,
                     CASE WHEN len(ws) >= 3
                          THEN list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)])
                          ELSE CAST([] AS VARCHAR[]) END AS sh
              FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents))
        ORDER BY doc_id""")),

    // BPE training unrolled: the oracle replays the SAME fixed number of
    // merge rounds (TextOps.BpeRounds — the Lloyd convention) over the
    // same self-delimited symbol strings, so greedy replace semantics
    // and the (count desc, bytes asc) tie-break match byte-for-byte.
    "q_bpe_train" -> Spec(
      TextOps.bpeTrain,
      Some {
        val outRows = (0 until TextOps.BpeRounds).map { r =>
          s"""SELECT $r AS merge_round, ls[1] AS left_sym, ls[2] AS right_sym,
                     ls[1] || ls[2] AS merged, cnt AS pair_count
              FROM (SELECT string_split(substr(pair, 2, len(pair) - 2), $bpeDD) AS ls,
                           cnt
                    FROM b$r)"""
        }.mkString("\nUNION ALL\n")
        s"""
        WITH $bpeCtes
        SELECT * FROM ($outRows)
        ORDER BY merge_round"""
      }),

    // Encoding = a vocabulary join against the trained piece map, so the
    // oracle reuses the identical unrolled rounds and joins docs by word.
    "q_bpe_encode" -> Spec(
      TextOps.bpeEncode,
      Some(s"""
        WITH $bpeCtes,
        wp AS (SELECT word,
                      CAST(len(string_split(substr(sym, 2, len(sym) - 2), $bpeDD)) AS BIGINT) AS n_pieces
               FROM s${TextOps.BpeRounds}),
        dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents),
        per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(n_pieces) AS BIGINT) AS n_pieces
                FROM dw JOIN wp USING (word)
                WHERE word <> '' GROUP BY doc_id)
        SELECT doc_id, n_words, n_pieces,
               ${rnd("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)", 6)} AS pieces_per_word
        FROM per ORDER BY doc_id""")),

    "q_doc_subwords" -> Spec(
      TextOps.subwordStats,
      Some(s"""
        WITH p AS (
          SELECT doc_id, regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]+') AS pieces
          FROM documents)
        SELECT doc_id,
               CAST(len(pieces) AS BIGINT) AS n_pieces,
               CAST(len(list_distinct(pieces)) AS BIGINT) AS n_distinct_pieces,
               ${rnd("CAST(list_sum(list_transform(pieces, x -> length(x))) AS DOUBLE) / CAST(len(pieces) AS DOUBLE)", 6)} AS avg_piece_len
        FROM p ORDER BY doc_id""")),

    "q_doc_minhash_neardup" -> Spec(
      TextOps.minhashNearDup,
      Some(s"""
        WITH ${minhashPairCtes()}
        SELECT doc_a, doc_b, n_shared_bands, jaccard FROM pairs
        ORDER BY doc_a, doc_b""")),

    // The SAME banded-LSH near-dup pipeline restated as pure spark.sql
    // text over the registered combinator surface (functions.TextSql) —
    // same oracle as the DataFrame form, so SQL and Scala users are
    // pinned to one answer.
    "q_minhash_neardup_sql" -> Spec(
      TextOps.minhashNearDupSql,
      Some(s"""
        WITH ${minhashPairCtes()}
        SELECT doc_a, doc_b, n_shared_bands, jaccard FROM pairs
        ORDER BY doc_a, doc_b""")),

    // band_idx - 1: generate_subscripts is 1-based, posexplode 0-based.
    "q_minhash_band_stats" -> Spec(
      TextOps.minhashBandStats,
      Some(s"""
        WITH ${minhashPairCtes()},
        freq AS (
          SELECT band_idx AS bi, band_hash, CAST(count(*) AS BIGINT) AS f
          FROM bands GROUP BY band_idx, band_hash)
        SELECT CAST(bi - 1 AS INTEGER) AS band_idx,
               count(*) AS n_buckets,
               CAST(sum(f) AS BIGINT) AS n_docs,
               max(f) AS max_bucket,
               CAST(sum(CASE WHEN f > ${TextOps.MaxBandFrequency} THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_buckets,
               CAST(sum(CASE WHEN f > ${TextOps.MaxBandFrequency} THEN f ELSE 0 END) AS BIGINT) AS n_docs_capped
        FROM freq GROUP BY bi ORDER BY bi""")),

    // New-batch admission against the corpus index: corpus/batch split,
    // cap on corpus buckets only, per-batch-doc admission row.
    "q_incremental_dedup" -> Spec(
      TextOps.incrementalDedup,
      Some(s"""
        WITH ${minhashSigCtes()},
        corpus AS (SELECT * FROM bands
                   WHERE doc_id % ${TextOps.BatchMod} <> ${TextOps.BatchRem}),
        nb AS (SELECT * FROM bands
               WHERE doc_id % ${TextOps.BatchMod} = ${TextOps.BatchRem}),
        hot AS (
          SELECT band_idx, band_hash FROM corpus
          GROUP BY band_idx, band_hash
          HAVING count(*) > ${TextOps.MaxBandFrequency}),
        keptc AS (
          SELECT c.* FROM corpus c
          WHERE NOT EXISTS (SELECT 1 FROM hot h
                            WHERE h.band_idx = c.band_idx
                              AND h.band_hash = c.band_hash)),
        cand AS (
          SELECT n.doc_id AS batch_doc, c.doc_id AS corpus_doc
          FROM nb n JOIN keptc c
            ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash
          GROUP BY n.doc_id, c.doc_id),
        j AS (
          SELECT batch_doc,
                 ${rnd("CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)", 6)} AS jaccard
          FROM cand JOIN base a ON batch_doc = a.doc_id
                    JOIN base b ON corpus_doc = b.doc_id),
        per AS (
          SELECT batch_doc AS doc_id,
                 CAST(count(*) AS BIGINT) AS n_candidates,
                 CAST(count(*) FILTER (WHERE jaccard >= ${TextOps.JaccardThreshold}) AS BIGINT) AS n_matches,
                 max(jaccard) AS best_jaccard
          FROM j GROUP BY batch_doc),
        allb AS (SELECT doc_id FROM base
                 WHERE doc_id % ${TextOps.BatchMod} = ${TextOps.BatchRem})
        SELECT a.doc_id,
               coalesce(n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
               coalesce(n_matches, CAST(0 AS BIGINT)) AS n_matches,
               coalesce(best_jaccard, -1.0) AS best_jaccard,
               coalesce(n_matches, CAST(0 AS BIGINT)) = 0 AS admitted
        FROM allb a LEFT JOIN per p ON a.doc_id = p.doc_id
        ORDER BY a.doc_id""")),

    // Two-batch admission WITH index write-back: the oracle replays
    // batch 1 against the corpus index, adds batch 1's ADMITTED docs to
    // the index, then replays batch 2 against the grown index — so a
    // batch-2 doc duplicating a batch-1 admission must come out
    // rejected, which is exactly what the row hashes.
    "q_incremental_dedup_chain" -> Spec(
      TextOps.incrementalDedupChain,
      Some {
        val cap = TextOps.MaxBandFrequency
        val thr = TextOps.JaccardThreshold
        val jac = rnd("CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)", 6)
        // one admission round: batch `nb` vs index `cx` -> decision rows
        def round(no: Int, cx: String, rem: Int) = s"""
        nb$no AS (SELECT * FROM bands
                  WHERE doc_id % ${TextOps.BatchMod} = $rem),
        hot$no AS (
          SELECT band_idx, band_hash FROM $cx
          GROUP BY band_idx, band_hash HAVING count(*) > $cap),
        kc$no AS (
          SELECT c.* FROM $cx c
          WHERE NOT EXISTS (SELECT 1 FROM hot$no h
                            WHERE h.band_idx = c.band_idx
                              AND h.band_hash = c.band_hash)),
        cd$no AS (
          SELECT n.doc_id AS batch_doc, c.doc_id AS corpus_doc
          FROM nb$no n JOIN kc$no c
            ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash
          GROUP BY n.doc_id, c.doc_id),
        jj$no AS (
          SELECT batch_doc, $jac AS jaccard
          FROM cd$no JOIN base a ON batch_doc = a.doc_id
                     JOIN base b ON corpus_doc = b.doc_id),
        pp$no AS (
          SELECT batch_doc AS doc_id,
                 CAST(count(*) AS BIGINT) AS n_candidates,
                 CAST(count(*) FILTER (WHERE jaccard >= $thr) AS BIGINT) AS n_matches,
                 max(jaccard) AS best_jaccard
          FROM jj$no GROUP BY batch_doc),
        dd$no AS (
          SELECT CAST($no AS INTEGER) AS batch_no, a.doc_id,
                 coalesce(n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
                 coalesce(n_matches, CAST(0 AS BIGINT)) AS n_matches,
                 coalesce(best_jaccard, -1.0) AS best_jaccard,
                 coalesce(n_matches, CAST(0 AS BIGINT)) = 0 AS admitted
          FROM (SELECT doc_id FROM base
                WHERE doc_id % ${TextOps.BatchMod} = $rem) a
          LEFT JOIN pp$no p ON a.doc_id = p.doc_id)"""
        s"""
        WITH ${minhashSigCtes()},
        cx0 AS (SELECT * FROM bands
                WHERE doc_id % ${TextOps.BatchMod}
                  NOT IN (${TextOps.ChainRem1}, ${TextOps.ChainRem2})),
        ${round(1, "cx0", TextOps.ChainRem1)},
        cx1 AS (SELECT * FROM cx0
                UNION ALL
                SELECT b.* FROM bands b
                WHERE b.doc_id IN (SELECT doc_id FROM dd1 WHERE admitted)),
        ${round(2, "cx1", TextOps.ChainRem2)}
        SELECT * FROM dd1 UNION ALL SELECT * FROM dd2
        ORDER BY batch_no, doc_id"""
      }),

    "q_neardup_clusters" -> Spec(
      TextOps.nearDupClusters,
      Some(s"""
        WITH RECURSIVE ${minhashPairCtes()},
        e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
        members AS (SELECT DISTINCT a AS doc FROM e),
        reach(a, b) AS (
          SELECT doc, doc FROM members
          UNION
          SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
        SELECT c.doc_id, c.cluster_id, s.cluster_size
        FROM comp c JOIN (SELECT cluster_id, count(*) AS cluster_size
                          FROM comp GROUP BY cluster_id) s USING (cluster_id)
        ORDER BY doc_id""")),

    "q_doc_sample" -> Spec(
      TextOps.hashSample,
      Some(s"""
        SELECT lang, count(*) AS n_docs,
               CAST(count(*) FILTER (WHERE
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
                   < ${TextOps.SampleBucketMax}) AS BIGINT) AS n_sampled,
               ${rnd(s"""CAST(count(*) FILTER (WHERE
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
                   < ${TextOps.SampleBucketMax}) AS DOUBLE) / CAST(count(*) AS DOUBLE)""", 6)}
                 AS sample_rate
        FROM documents GROUP BY lang ORDER BY lang""")),

    // Shared inverted-index CTE: distinct word-3-shingle instances per doc.
    // (Used by the exact-Jaccard and decontamination oracles.)
    "q_ngram_jaccard_neardup" -> Spec(
      TextOps.ngramJaccardNearDup,
      Some(s"""
        WITH inst AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)])) AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
          WHERE len(ws) >= 3),
        dfreq AS (
          SELECT shingle, count(*) AS df FROM inst
          GROUP BY shingle HAVING count(*) <= ${TextOps.MaxShingleDf}),
        kept AS (SELECT doc_id, i.shingle, df FROM inst i JOIN dfreq USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
          FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          WHERE a.df >= 2
          GROUP BY 1, 2),
        j AS (
          SELECT i.doc_a, i.doc_b, i.n_shared, sa.n AS na, sb.n AS nb
          FROM inter i
          JOIN sizes sa ON i.doc_a = sa.doc_id
          JOIN sizes sb ON i.doc_b = sb.doc_id)
        SELECT doc_a, doc_b, n_shared,
               ${rnd("CAST(n_shared AS DOUBLE) / CAST(na + nb - n_shared AS DOUBLE)", 6)} AS jaccard
        FROM j
        WHERE CAST(n_shared AS DOUBLE) / CAST(na + nb - n_shared AS DOUBLE) >= ${TextOps.JaccardThreshold}
        ORDER BY doc_a, doc_b""")),

    "q_decontam_overlap" -> Spec(
      TextOps.decontamOverlap,
      Some(s"""
        WITH inst AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
                   < ${TextOps.SampleBucketMax} AS is_eval,
                 unnest(list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)])) AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
          WHERE len(ws) >= 3),
        train AS (SELECT DISTINCT shingle FROM inst WHERE NOT is_eval),
        ev AS (
          SELECT i.doc_id, count(*) AS n_shingles, count(t.shingle) AS n_overlap
          FROM inst i LEFT JOIN train t ON i.shingle = t.shingle
          WHERE i.is_eval GROUP BY i.doc_id)
        SELECT doc_id, n_shingles, n_overlap,
               ${rnd("CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE)", 6)} AS overlap_frac,
               CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE)
                 >= ${TextOps.ContaminationThreshold} AS contaminated
        FROM ev ORDER BY doc_id""")),

    "q_doc_repetition" -> Spec(
      TextOps.repetitionStats,
      Some(s"""
        WITH p AS (
          SELECT doc_id, ws,
                 CASE WHEN len(ws) >= 2
                      THEN [array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))]
                      ELSE CAST([] AS VARCHAR[]) END AS bg,
                 CASE WHEN len(ws) >= 3
                      THEN [array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)]
                      ELSE CAST([] AS VARCHAR[]) END AS tg
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               CASE WHEN len(ws) > 0 THEN ${rnd("CAST(list_max(list_transform(list_distinct(ws), t -> len(list_filter(ws, x -> x = t)))) AS DOUBLE) / CAST(len(ws) AS DOUBLE)", 6)} ELSE 0.0 END AS top_token_frac,
               CASE WHEN len(bg) > 0 THEN ${rnd("CAST(list_max(list_transform(list_distinct(bg), t -> len(list_filter(bg, x -> x = t)))) AS DOUBLE) / CAST(len(bg) AS DOUBLE)", 6)} ELSE 0.0 END AS top_bigram_frac,
               CASE WHEN len(tg) > 0 THEN ${rnd("CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / CAST(len(tg) AS DOUBLE)", 6)} ELSE 0.0 END AS dup_trigram_frac
        FROM p ORDER BY doc_id""")),

    "q_doc_stratified" -> Spec(
      TextOps.stratifiedSample,
      Some(s"""
        SELECT doc_id, lang, sample_rank FROM (
          SELECT doc_id, lang,
                 CAST(row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS sample_rank
          FROM documents) t
        WHERE sample_rank <= ${TextOps.StratumCap}
        ORDER BY lang, sample_rank""")),

    // Composes the per-signal oracles of q_doc_quality, q_doc_repetition,
    // q_doc_exact_dedup, q_doc_minhash_neardup and q_doc_sample into the
    // one-row-per-doc decision table.
    "q_doc_scorecard" -> Spec(
      TextOps.docScorecard,
      Some {
        val stopPred = TextOps.Stopwords.map(w => s"t = '$w'").mkString("(", " OR ", ")")
        val quality = rnd(
          """0.4 * (least(1.0, n / 20.0) * least(1.0, 80.0 / greatest(n, 80.0)))
             + 0.3 * (CASE WHEN nstop / n BETWEEN 0.02 AND 0.3 THEN 1.0 ELSE 0.5 END)
             + 0.3 * (nd / n)""", 6)
        s"""
        WITH ${minhashPairCtes()},
        qv AS (
          SELECT doc_id, lang, ws,
                 CAST(len(ws) AS DOUBLE) AS n,
                 CAST(len(list_filter(ws, t -> $stopPred)) AS DOUBLE) AS nstop,
                 CAST(len(list_distinct(ws)) AS DOUBLE) AS nd
          FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)),
        rep AS (
          SELECT doc_id,
                 CASE WHEN len(ws) > 0 THEN ${rnd("CAST(list_max(list_transform(list_distinct(ws), t -> len(list_filter(ws, x -> x = t)))) AS DOUBLE) / CAST(len(ws) AS DOUBLE)", 6)} ELSE 0.0 END AS top_token_frac,
                 CASE WHEN len(tg) > 0 THEN ${rnd("CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / CAST(len(tg) AS DOUBLE)", 6)} ELSE 0.0 END AS dup_trigram_frac
          FROM (SELECT doc_id, ws,
                       CASE WHEN len(ws) >= 3
                            THEN [array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)]
                            ELSE CAST([] AS VARCHAR[]) END AS tg
                FROM qv)),
        dupf AS (
          SELECT doc_id,
                 count(*) OVER (PARTITION BY bh) > 1 AS is_exact_dup,
                 doc_id = min(doc_id) OVER (PARTITION BY bh) AS is_canonical
          FROM (SELECT doc_id,
                       md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS bh
                FROM qv)),
        ndd AS (SELECT DISTINCT doc FROM (
          SELECT doc_a AS doc FROM pairs UNION ALL SELECT doc_b FROM pairs) u)
        SELECT q.doc_id, q.lang, CAST(q.n AS BIGINT) AS n_tokens,
               $quality AS quality_score, $quality >= 0.5 AS keep,
               r.top_token_frac, r.dup_trigram_frac,
               d.is_exact_dup, d.is_canonical,
               ndd.doc IS NOT NULL AS is_near_dup,
               CAST('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 2) AS INTEGER)
                 < ${TextOps.SampleBucketMax} AS in_sample
        FROM qv q
        JOIN rep r USING (doc_id)
        JOIN dupf d USING (doc_id)
        LEFT JOIN ndd ON ndd.doc = q.doc_id
        ORDER BY q.doc_id"""
      }),

    "q_curation_funnel" -> Spec(
      TextOps.curationFunnel,
      Some {
        val stopPred = TextOps.Stopwords.map(w => s"t = '$w'").mkString("(", " OR ", ")")
        val quality = rnd(
          """0.4 * (least(1.0, n / 20.0) * least(1.0, 80.0 / greatest(n, 80.0)))
             + 0.3 * (CASE WHEN nstop / n BETWEEN 0.02 AND 0.3 THEN 1.0 ELSE 0.5 END)
             + 0.3 * (nd / n)""", 6)
        s"""
        WITH qv AS (
          SELECT doc_id, text,
                 CAST(len(ws) AS DOUBLE) AS n,
                 CAST(len(list_filter(ws, t -> $stopPred)) AS DOUBLE) AS nstop,
                 CAST(len(list_distinct(ws)) AS DOUBLE) AS nd,
                 md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS bh
          FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)),
        flags0 AS (
          SELECT doc_id, text, bh, ($quality >= 0.5) AS q_keep FROM qv),
        flags AS (
          SELECT *, (q_keep AND doc_id = min(CASE WHEN q_keep THEN doc_id END)
                       OVER (PARTITION BY bh)) AS is_canon
          FROM flags0),
        survivors AS (SELECT doc_id, text FROM flags WHERE is_canon),
        ${minhashPairCtes("survivors")},
        losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
        SELECT CAST(count(*) AS BIGINT) AS n_raw,
               CAST(count(*) FILTER (WHERE f.q_keep) AS BIGINT) AS n_quality,
               CAST(count(*) FILTER (WHERE f.is_canon) AS BIGINT) AS n_exact_canonical,
               CAST(count(*) FILTER (WHERE f.is_canon AND l.doc_id IS NULL) AS BIGINT) AS n_curated
        FROM flags f LEFT JOIN losers l ON f.doc_id = l.doc_id"""
      }),

    "q_doc_simhash" -> Spec(
      TextOps.simhash,
      Some(s"""
        WITH $simhashCtes
        SELECT doc_id, n_distinct_tokens, simhash FROM sh ORDER BY doc_id""")),

    // Default row: the fingerprint width is corpus-derived (floor =
    // the historical 32-bit dial, which is what the sf0.01 driver
    // corpus sits at; sf10 derives the 60-bit cap). The oracle replays
    // the derivation inside SQL, so the dial is hash-gated.
    "q_simhash_neardup" -> Spec(
      TextOps.simhashNearDup,
      Some(simhashNearDupDerivedSql)),

    // The wide-fingerprint production dial, end-to-end: same pigeonhole
    // chain at 60 bits / 4×15-bit bands — 128× wider band keyspace, so
    // band-bucket occupancy (and the quadratic candidate join) shrinks
    // accordingly at a given corpus. Own hash gate, like the LSH
    // q_embed_neardup_8p row.
    "q_simhash_neardup_wide" -> Spec(
      TextOps.simhashNearDupWide,
      Some(simhashNearDupSqlAt(TextOps.SimhashWideBits))),

    // The form PAST the single-long derivation cap: a 120-bit
    // fingerprint as two sign-safe 60-bit longs, 4×30-bit bands (two
    // per long, no cross-long stitching) — keyspace headroom to ~4
    // billion docs at the same occupancy target. Own hash gate;
    // Simhash128Spec pins hamming additivity and the subset law vs the
    // 60-bit form.
    "q_simhash_neardup_128" -> Spec(
      TextOps.simhashNearDup128,
      Some(simhashNearDup128Sql)),

    // Recall@k of IVF vs brute force, both probe depths in ONE
    // statement via the suffixed IVF chain; the exact VALUES gate.
    "q_ann_recall" -> Spec(
      VectorOps.annRecall,
      Some {
        val k = VectorOps.TopKIvf
        s"""
        WITH qb AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
                    WHERE vec_id < ${VectorOps.NQueries}),
        sb AS (SELECT q_id, e.vec_id AS neighbor_id,
                      ${rnd("list_dot_product(q_emb::DOUBLE[], e.embedding::DOUBLE[])", 6)} AS cos_sim
               FROM qb, embeddings e WHERE e.vec_id <> q_id),
        rb AS (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rank FROM sb),
        exact AS (SELECT q_id, neighbor_id FROM rb WHERE rank <= $k),
        ${ivfCtes(1, "_p1")},
        sel_p1 AS (SELECT q_id, neighbor_id FROM r_p1 WHERE rank <= $k),
        ${ivfCtes(VectorOps.IvfNProbe, "_p2")},
        sel_p2 AS (SELECT q_id, neighbor_id FROM r_p2 WHERE rank <= $k),
        h1 AS (SELECT q_id, CAST(count(*) AS BIGINT) AS hits_probe1
               FROM exact JOIN sel_p1 USING (q_id, neighbor_id) GROUP BY 1),
        h2 AS (SELECT q_id, CAST(count(*) AS BIGINT) AS hits_probe2
               FROM exact JOIN sel_p2 USING (q_id, neighbor_id) GROUP BY 1),
        qq AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact
               FROM exact GROUP BY 1)
        SELECT qq.q_id, n_exact,
               coalesce(hits_probe1, 0) AS hits_probe1,
               coalesce(hits_probe2, 0) AS hits_probe2,
               ${rnd(s"CAST(coalesce(hits_probe1, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE)", 6)} AS recall_probe1,
               ${rnd(s"CAST(coalesce(hits_probe2, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE)", 6)} AS recall_probe2,
               coalesce(hits_probe2, 0) >= coalesce(hits_probe1, 0) AS probe2_improves
        FROM qq LEFT JOIN h1 USING (q_id) LEFT JOIN h2 USING (q_id)
        ORDER BY q_id"""
      }),

    "q_ann_topk" -> Spec(
      VectorOps.annBruteForce,
      Some(s"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
                   WHERE vec_id < ${VectorOps.NQueries}),
        s AS (SELECT q_id, e.vec_id AS neighbor_id,
                     ${rnd("list_dot_product(q_emb::DOUBLE[], e.embedding::DOUBLE[])", 6)} AS cos_sim
              FROM q, embeddings e WHERE e.vec_id <> q_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM s)
        SELECT q_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= ${VectorOps.TopK}
        ORDER BY q_id, rank""")),

    "q_bloom_join" -> Spec(
      Sketches.bloomJoin,
      Some {
        val P = Sketches.P
        val B = Sketches.BloomBits
        def hv(k: String) = s"(CAST('0x' || substr(md5(CAST($k AS VARCHAR)), 1, 15) AS BIGINT) % $P)"
        val posList = Sketches.cmsParams.take(Sketches.BloomHashes)
          .map { case (a, b) => s"($a * hv + $b) % $P % $B" }
          .mkString("[", ", ", "]")
        val existsAll = Sketches.cmsParams.take(Sketches.BloomHashes)
          .map { case (a, b) =>
            s"EXISTS (SELECT 1 FROM bits WHERE pos = ($a * hv + $b) % $P % $B)" }
          .mkString(" AND ")
        s"""
        WITH o AS (SELECT o_orderkey, o_custkey FROM orders),
        dim AS (SELECT c_custkey AS key FROM customer WHERE c_nationkey = 7),
        dh AS (SELECT ${hv("key")} AS hv FROM dim),
        bits AS (SELECT DISTINCT unnest($posList) AS pos FROM dh),
        oh AS (SELECT o_orderkey, o_custkey, ${hv("o_custkey")} AS hv FROM o),
        cand AS (SELECT * FROM oh WHERE $existsAll),
        c AS (
          SELECT (SELECT count(*) FROM o) AS n_orders,
                 (SELECT count(*) FROM cand) AS n_candidates,
                 (SELECT count(*) FROM o WHERE o_custkey IN (SELECT key FROM dim)) AS n_plain_join,
                 (SELECT count(*) FROM cand WHERE o_custkey IN (SELECT key FROM dim)) AS n_filtered_join)
        SELECT n_orders, n_candidates, n_plain_join, n_filtered_join,
               n_filtered_join = n_plain_join AS no_false_negatives
        FROM c"""
      }),

    "q_kmv_distinct" -> Spec(Sketches.kmvDistinct, Some(kmvSql)),

    // The STREAMING maintenance paths, oracle-checked on their streamed
    // results: the engine lands the table as NDJSON micro-batches, runs
    // the AvailableNow maintenance job to completion, and reads the
    // RUNNING sketch table back. The merges are exact (cell add /
    // register max / union-sort-take-k / cell add), so the streamed
    // sketch equals the one-shot batch sketch and each stream row
    // shares its batch twin's oracle verbatim.
    "q_kmv_stream" -> Spec(streaming.StreamOracle.kmvStream, Some(kmvSql)),
    "q_hll_stream" -> Spec(streaming.StreamOracle.hllStream, Some(hllSql)),
    "q_cms_stream" -> Spec(streaming.StreamOracle.cmsStream, Some(cmsSql)),

    // Fixed-bounds histogram maintenance: bounds are configuration (a
    // stream cannot two-pass), so the oracle replays the clamped binning
    // with the same embedded [lo, hi] literals; percentile read-off and
    // the exact-rank truth match the batch sketch's arithmetic.
    "q_histogram_stream" -> Spec(
      streaming.StreamOracle.histogramStream,
      Some {
        val bins = Sketches.QuantileBins
        val pcts = Sketches.QuantilePcts.mkString("[", ", ", "]")
        val lo = Sketches.StreamHistLoCents
        val hi = Sketches.StreamHistHiCents
        val span = hi - lo + 1
        s"""
        WITH c0 AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
                    FROM lineitem),
        hist AS (SELECT least(greatest((c - $lo) * $bins // $span, 0), ${bins - 1}) AS bin,
                        CAST(count(*) AS BIGINT) AS cnt
                 FROM c0 GROUP BY 1),
        nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
        ch AS (SELECT bin, cnt, CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cm
               FROM hist),
        tg AS (SELECT pct, n, (n * pct + 99) // 100 AS t
               FROM (SELECT unnest($pcts) AS pct), nn),
        pick AS (SELECT pct, n, t, min(bin) AS bin
                 FROM tg JOIN ch ON cm >= t
                 GROUP BY pct, n, t),
        pe AS (SELECT p.*, c.cnt, c.cm - c.cnt AS cumb,
                      $lo + $span * bin // $bins AS bl,
                      $lo + $span * (bin + 1) // $bins AS bh
               FROM pick p JOIN ch c USING (bin)),
        est AS (SELECT pct, t, n,
                       (CAST(bl AS DOUBLE) + CAST(t - cumb AS DOUBLE) / CAST(cnt AS DOUBLE) * CAST(bh - bl AS DOUBLE)) / 100.0 AS est_raw
                FROM pe),
        vc AS (SELECT c, CAST(sum(vcnt) OVER (ORDER BY c) AS BIGINT) AS vcum
               FROM (SELECT c, count(*) AS vcnt FROM c0 GROUP BY c)),
        ex AS (SELECT pct, min(c) AS exact_cents
               FROM (SELECT pct, t FROM tg) g JOIN vc ON vcum >= t
               GROUP BY pct)
        SELECT e.pct, t AS target_rank, n AS n_rows,
               ${rnd("est_raw", 4)} AS est_price,
               CAST(exact_cents AS DOUBLE) / 100.0 AS exact_price,
               ${rnd("abs(est_raw - CAST(exact_cents AS DOUBLE) / 100.0)", 4)} AS abs_err
        FROM est e JOIN ex USING (pct)
        ORDER BY pct"""
      }),

    // Streaming exact dedup, projected to the arrival-order-free key
    // set: the oracle is the distinct normalized-bag-of-words hash.
    "q_dedup_stream" -> Spec(
      streaming.StreamOracle.dedupStream,
      Some("""
        SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_hash
        FROM documents ORDER BY bow_hash""")),

    // Streaming multi-probe LSH admission over the embeddings table,
    // oracle-checked on the streamed pair set itself: with constant
    // event time and buckets under the resident cap, the emitted set
    // equals the batch pair chain. Both deploy knobs are CORPUS-SIZED
    // at stream-start time: the plane count by the same derivedPlanes
    // rule as batch q_embed_neardup (replayed by the oracle's npv CTE)
    // and the resident cap from the measured max home-bucket occupancy
    // with 4x headroom (exact clones share a bucket at any plane
    // count, so skewed corpora need the cap sized, not just the
    // planes). A pinned 4-plane count put 18k residents in one sf10
    // home bucket; the sized form runs any SF under the same oracle.
    "q_embed_stream" -> Spec(
      streaming.StreamOracle.embedStream,
      Some(s"""
        WITH $embedPairCtes
        SELECT vec_a, vec_b, cos_sim FROM epairs
        ORDER BY vec_a, vec_b""")),

    // The widened-plane deploy setting of the admission stream (the
    // streaming twin of the batch q_embed_neardup_8p dial): same batch
    // pair SQL, evaluated at NPlanesWide.
    "q_embed_stream_wide" -> Spec(
      streaming.StreamOracle.embedStreamWide,
      Some(s"""
        WITH ${embedPairCtesAt(VectorOps.NPlanesWide)}
        SELECT vec_a, vec_b, cos_sim FROM epairs
        ORDER BY vec_a, vec_b""")),

    // The resident cap deliberately BINDING (CappedResidents, single
    // landing file => arrival order is vec_id order): the oracle
    // replays the online suppression rule — a pair survives iff fewer
    // than cap home arrivals preceded the later vector in the earlier
    // vector's home bucket (the count also covers the suppress-then-
    // clear path: once a bucket has seen cap home arrivals, everything
    // after is cut).
    "q_embed_stream_capped" -> Spec(
      streaming.StreamOracle.embedStreamCapped,
      Some(s"""
        WITH ${embedPairCtesAt(VectorOps.NPlanes)},
        hb AS (SELECT p.vec_a, p.vec_b, p.cos_sim, x.bucket AS ha
               FROM epairs p JOIN eb x ON x.vec_id = p.vec_a),
        cnt AS (SELECT p.vec_a, p.vec_b, p.cos_sim,
                       count(h.vec_id) AS nprior
                FROM hb p LEFT JOIN eb h
                  ON h.bucket = p.ha AND h.vec_id < p.vec_b
                GROUP BY 1, 2, 3)
        SELECT vec_a, vec_b, cos_sim FROM cnt
        WHERE nprior < ${streaming.StreamEmbed.CappedResidents}
        ORDER BY vec_a, vec_b""")),

    // Streaming MinHash near-dup pairs: the oracle replays the banding
    // plus the ONLINE bucket rule — within a bucket, docs take arrival
    // positions (constant landing event time => doc_id order) and a pair
    // emits iff the later doc arrived while the bucket was below the
    // residency cap; exact Jaccard confirms. One row per shared band
    // (the stream's at-least-once-per-band contract). band_idx - 1:
    // generate_subscripts is 1-based, the engine's posexplode 0-based.
    "q_neardup_stream" -> Spec(
      streaming.StreamOracle.neardupStream,
      Some(s"""
        WITH ${minhashSigCtes()},
        rk AS (SELECT doc_id, band_idx, band_hash,
                      row_number() OVER (PARTITION BY band_idx, band_hash
                        ORDER BY doc_id) AS rn
               FROM bands),
        pr AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                      CAST(x.band_idx - 1 AS INTEGER) AS band_idx
               FROM rk x JOIN rk y
                 ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
                AND x.doc_id < y.doc_id
               WHERE y.rn <= ${TextOps.MaxBandFrequency}),
        j AS (SELECT doc_a, doc_b, band_idx,
                     ${rnd("CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)", 6)} AS jaccard
              FROM pr JOIN base a ON doc_a = a.doc_id
                      JOIN base b ON doc_b = b.doc_id)
        SELECT doc_a, doc_b, band_idx, jaccard FROM j
        WHERE jaccard >= ${TextOps.JaccardThreshold}
        ORDER BY doc_a, doc_b, band_idx""")),

    // The full price-watch pipeline (T1 file source -> T2 explode ->
    // T3/T6 stateful sliding window -> T4 partitioned append),
    // oracle-checked on the streamed sink content: running-min undercut
    // and the 5-flag window replayed as SQL windows over event order.
    "q_watch_stream" -> Spec(
      streaming.StreamOracle.watchStream,
      Some("""
        WITH w AS (
          SELECT event_id, user_id,
                 CASE WHEN value <= min(value) OVER (PARTITION BY user_id
                        ORDER BY event_id ROWS UNBOUNDED PRECEDING) + 50.0
                      THEN 1 ELSE 0 END AS undercut
          FROM events),
        s AS (
          SELECT event_id, user_id, CAST(undercut AS BIGINT) AS undercut,
                 CAST(sum(undercut) OVER (PARTITION BY user_id
                   ORDER BY event_id ROWS 4 PRECEDING) AS BIGINT) AS sliding_hits
          FROM w)
        SELECT event_id, user_id, undercut, sliding_hits,
               sliding_hits >= 3 AS is_bot
        FROM s ORDER BY event_id""")),

    // Stream-stream interval join, oracle-checked on the streamed
    // matches themselves: with both sides landed in one micro-batch
    // nothing is ever late, and an inner interval join then emits
    // exactly the batch join's matches — which is what the oracle
    // restates over the same residue split of events.
    "q_interval_join_stream" -> Spec(
      streaming.StreamOracle.intervalJoinStream,
      Some(s"""
        WITH obs AS (
          SELECT event_id AS obs_id, CAST(ts AS TIMESTAMP) AS t,
                 user_id % 100 AS product_id, event_type AS seller,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS price
          FROM events WHERE event_id % 5 <> 0),
        act AS (
          SELECT event_id AS action_id, CAST(ts AS TIMESTAMP) AS t,
                 user_id % 100 AS product_id,
                 CAST(floor(value * 90 + 0.5) AS BIGINT) AS new_price
          FROM events WHERE event_id % 5 = 0)
        SELECT obs_id, action_id, o.product_id, seller, price, new_price,
               epoch_us(a.t) // 1000000 - epoch_us(o.t) // 1000000 AS response_secs
        FROM obs o JOIN act a ON o.product_id = a.product_id
          AND a.t >= o.t
          AND a.t <= o.t + INTERVAL '${streaming.StreamJoin.ResponseWindow}'
        ORDER BY obs_id, action_id""")),

    // The response-window DIAL's second measured setting: the same
    // stream-stream interval join at 2 minutes instead of 10 — match
    // volume (the rate² term) scales ~linearly with the width, so the
    // pair q_interval_join_stream / _narrow prices the dial end-to-end
    // the way the LSH plane-count pair does (docs/SCALE.md).
    "q_interval_join_stream_narrow" -> Spec(
      streaming.StreamOracle.intervalJoinStreamNarrow,
      Some(s"""
        WITH obs AS (
          SELECT event_id AS obs_id, CAST(ts AS TIMESTAMP) AS t,
                 user_id % 100 AS product_id, event_type AS seller,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS price
          FROM events WHERE event_id % 5 <> 0),
        act AS (
          SELECT event_id AS action_id, CAST(ts AS TIMESTAMP) AS t,
                 user_id % 100 AS product_id,
                 CAST(floor(value * 90 + 0.5) AS BIGINT) AS new_price
          FROM events WHERE event_id % 5 = 0)
        SELECT obs_id, action_id, o.product_id, seller, price, new_price,
               epoch_us(a.t) // 1000000 - epoch_us(o.t) // 1000000 AS response_secs
        FROM obs o JOIN act a ON o.product_id = a.product_id
          AND a.t >= o.t
          AND a.t <= o.t + INTERVAL '${streaming.StreamJoin.ResponseWindowNarrow}'
        ORDER BY obs_id, action_id""")),

    // The pre-aggregated interval-join twin: observations collapse to
    // per-(product, 10-min-bin) minima BEFORE the stream-stream join
    // (the repricer only chases the window minimum), so state/output
    // grow ~rate·bins instead of ~rate². The oracle is the batch
    // bin-min join restricted to bins the final global watermark
    // (min across the two sources' maxima, ms-floored, minus 1 h)
    // finalized — matches of unfinalized tail bins never reach the
    // join and must be absent.
    "q_interval_join_binned_stream" -> Spec(
      streaming.StreamOracle.binnedJoinStream,
      Some {
        val binUs = 10L * 60L * 1000000L
        val delayMs = 3600L * 1000L
        s"""
        WITH obs AS (
          SELECT CAST(ts AS TIMESTAMP) AS t, user_id % 100 AS product_id,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS price
          FROM events WHERE event_id % 5 <> 0),
        act AS (
          SELECT event_id AS action_id, CAST(ts AS TIMESTAMP) AS t,
                 user_id % 100 AS product_id,
                 CAST(floor(value * 90 + 0.5) AS BIGINT) AS new_price
          FROM events WHERE event_id % 5 = 0),
        fwm AS (
          SELECT (least((SELECT max(epoch_us(t)) FROM obs),
                        (SELECT max(epoch_us(t)) FROM act)) // 1000
                  - $delayMs) * 1000 AS w),
        bins AS (
          SELECT product_id, epoch_us(t) // $binUs * $binUs AS bs,
                 min(price) AS min_price
          FROM obs GROUP BY 1, 2),
        fin AS (SELECT b.* FROM bins b, fwm WHERE bs + $binUs <= w)
        SELECT b.product_id,
               strftime(make_timestamp(bs), '%Y-%m-%d %H:%M:%S') AS bin_start,
               min_price, action_id, new_price,
               epoch_us(a.t) // 1000000 - bs // 1000000 AS response_secs
        FROM fin b JOIN act a ON b.product_id = a.product_id
          AND epoch_us(a.t) >= bs AND epoch_us(a.t) < bs + 2 * $binUs
        ORDER BY 1, 2, 4"""
      }),

    // Streaming tumbling windows: batch aggregation restricted to the
    // windows the final watermark finalized (wm = ms-floored max event
    // time minus the delay; a window is emitted once its end <= wm).
    "q_windows_stream" -> Spec(
      streaming.StreamOracle.windowsStream,
      Some(s"""
        WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS t,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS us
                   FROM events),
        wm AS (SELECT (max(us) // 1000 - ${2L * 3600L * 1000L}) * 1000 AS w FROM e),
        g AS (SELECT time_bucket(INTERVAL '1 hour', t) AS ws, event_type,
                     CAST(count(*) AS BIGINT) AS n_events
              FROM e GROUP BY 1, 2)
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, n_events
        FROM g, wm
        WHERE epoch_us(ws) + ${3600L * 1000000L} <= w
        ORDER BY window_start, event_type""")),

    // ── Late/out-of-order arrival rows ──────────────────────────────
    // The rows above land orderly (one file or constant event time) so
    // nothing is ever late; these four land deliberately OUT-OF-ORDER,
    // cross-batch, past-watermark files (StreamLate scaladoc has the
    // class/margin design) and the oracles apply the watermark rule
    // EXPLICITLY: per-batch watermark progression computed in SQL from
    // the same id arithmetic that built the landing.

    // Tumbling windows under late arrival: too-late rows (12 h behind)
    // must vanish; 150-min-behind rows must still merge into windows
    // earlier batches opened; the sentinel finalizes everything real.
    "q_windows_stream_late" -> Spec(
      graft.streaming.StreamLate.windowsStreamLate,
      Some(s"""
        WITH ${graft.streaming.StreamLate.eventsKeptCtes},
        g AS (SELECT us // ${3600L * 1000000L} * ${3600L * 1000000L} AS ws,
                     event_type, CAST(count(*) AS BIGINT) AS n_events
              FROM kept GROUP BY 1, 2)
        SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, n_events
        FROM g, fw WHERE ws + ${3600L * 1000000L} <= w
        ORDER BY window_start, event_type""")),

    // Sessionization under late arrival: same landing; sessions opened
    // by batch b are EXTENDED by batch b+1's out-of-order-kept rows
    // (the cross-batch merge single-file landings can't exercise), and
    // dropped rows must not found sessions of their own.
    "q_event_sessions_stream_late" -> Spec(
      graft.streaming.StreamLate.sessionsStreamLate,
      Some(s"""
        WITH ${graft.streaming.StreamLate.eventsKeptCtes},
        x AS (SELECT *, lag(us) OVER (PARTITION BY event_type
                          ORDER BY us, event_id) AS prev_us
              FROM kept),
        y AS (SELECT *, CASE WHEN prev_us IS NULL
                               OR us - prev_us > ${graft.streaming.Sessions.GapMicros}
                             THEN 1 ELSE 0 END AS new_s
              FROM x),
        z AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY event_type
                          ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
              FROM y),
        g AS (SELECT event_type, session_seq,
                     strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S') AS session_start,
                     CAST(count(*) AS BIGINT) AS n_events, max(us) AS end_us
              FROM z GROUP BY event_type, session_seq)
        SELECT event_type, session_start, n_events
        FROM g, fw WHERE end_us + ${graft.streaming.Sessions.GapMicros} <= w
        ORDER BY event_type, session_start""")),

    // Bounded-state dedup under late arrival: batch-1's 12-h-late keys
    // KEPT at their old event time (the watermark propagation lag made
    // visible — WatermarkLagSpec), batch-2/3's too-late keys absent,
    // expired duplicates re-emit (the at-least-once contract), live
    // duplicates suppressed — the oracle enumerates the classes from
    // the same doc_id arithmetic that built the landing.
    "q_dedup_stream_late" -> Spec(
      graft.streaming.StreamLate.dedupStreamLate,
      Some {
        val base = graft.streaming.StreamLate.BaseUs
        val slot = graft.streaming.StreamLate.SlotUs
        val minu = graft.streaming.StreamLate.MinuteUs
        val late = graft.streaming.StreamLate.LateShiftUs
        s"""
        WITH d AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_hash
          FROM documents),
        canon AS (SELECT bow_hash, min(doc_id) AS doc_id FROM d GROUP BY bow_hash),
        base AS (
          SELECT bow_hash, doc_id,
                 $base + (doc_id % 4) * $slot + (doc_id % 45) * $minu
                   + CASE WHEN doc_id % 10 = 7 AND doc_id % 4 = 1
                          THEN -$late ELSE 0 END AS us
          FROM canon
          WHERE NOT (doc_id % 10 = 7 AND doc_id % 4 >= 2)),
        dup AS (
          SELECT bow_hash, doc_id + 10000000 AS doc_id,
                 $base + 4 * $slot + (doc_id % 45) * $minu AS us
          FROM canon
          WHERE doc_id % 20 = 0)
        SELECT bow_hash, doc_id,
               strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS ts
        FROM (SELECT * FROM base UNION ALL SELECT * FROM dup)
        ORDER BY bow_hash, doc_id"""
      }),

    // CDC compaction fed newest-first across four quartile files: the
    // oracle is the batch compaction SQL VERBATIM — the adversarial
    // arrival order must not change a single byte of the result.
    "q_cdc_stream_late" -> Spec(
      graft.streaming.StreamLate.cdcStreamLate, Some(cdcOracleSql)),

    // HLL registers replayed in SQL: same 60-bit hash, LSB-rank rho in
    // pure integer arithmetic, harmonic sum kept scaled-integer so the
    // only doubles are the final division + linear-counting branch (the
    // numerator literal is computed once in Scala and embedded in both).
    "q_hll_distinct" -> Spec(Sketches.hllDistinct, Some(hllSql)),

    // Histogram quantiles replayed in SQL: integer cents, integer bin
    // and rank arithmetic (// == Spark's DIV), doubles only in the final
    // interpolation — same expression text on both engines.
    "q_quantile_sketch" -> Spec(
      Sketches.quantileSketch,
      Some {
        val bins = Sketches.QuantileBins
        val pcts = Sketches.QuantilePcts.mkString("[", ", ", "]")
        s"""
        WITH c0 AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
                    FROM lineitem),
        mm AS (SELECT min(c) AS lo, max(c) AS hi, CAST(count(*) AS BIGINT) AS n
               FROM c0),
        hist AS (SELECT (c - lo) * $bins // (hi - lo + 1) AS bin,
                        CAST(count(*) AS BIGINT) AS cnt
                 FROM c0, mm GROUP BY 1),
        ch AS (SELECT bin, cnt, CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cm
               FROM hist),
        tg AS (SELECT pct, lo, hi, n, (n * pct + 99) // 100 AS t
               FROM (SELECT unnest($pcts) AS pct), mm),
        pick AS (SELECT pct, lo, hi, n, t, min(bin) AS bin
                 FROM tg JOIN ch ON cm >= t
                 GROUP BY pct, lo, hi, n, t),
        pe AS (SELECT p.*, c.cnt, c.cm - c.cnt AS cumb,
                      lo + (hi - lo + 1) * bin // $bins AS bl,
                      lo + (hi - lo + 1) * (bin + 1) // $bins AS bh
               FROM pick p JOIN ch c USING (bin)),
        est AS (SELECT pct, t, n,
                       (CAST(bl AS DOUBLE) + CAST(t - cumb AS DOUBLE) / CAST(cnt AS DOUBLE) * CAST(bh - bl AS DOUBLE)) / 100.0 AS est_raw
                FROM pe),
        vc AS (SELECT c, CAST(sum(vcnt) OVER (ORDER BY c) AS BIGINT) AS vcum
               FROM (SELECT c, count(*) AS vcnt FROM c0 GROUP BY c)),
        ex AS (SELECT pct, min(c) AS exact_cents
               FROM (SELECT pct, t FROM tg) g JOIN vc ON vcum >= t
               GROUP BY pct)
        SELECT e.pct, t AS target_rank, n AS n_rows,
               ${rnd("est_raw", 4)} AS est_price,
               CAST(exact_cents AS DOUBLE) / 100.0 AS exact_price,
               ${rnd("abs(est_raw - CAST(exact_cents AS DOUBLE) / 100.0)", 4)} AS abs_err
        FROM est e JOIN ex USING (pct)
        ORDER BY pct"""
      }),

    "q_cms_heavy_hitters" -> Spec(Sketches.cmsHeavyHitters, Some(cmsSql)),

    "q_ivf_kmeans" -> Spec(
      VectorOps.ivfKmeans,
      Some(s"""
        WITH $lloydCtes
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
               ${rnd("CAST(sum(CAST(sim AS DECIMAL(20,10))) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS avg_cos,
               CAST(count(*) FILTER (WHERE cluster <> label) AS BIGINT) AS n_moved
        FROM a2 GROUP BY cluster ORDER BY cluster""")),

    // SemDeDup replayed: the oracle re-trains the same two unrolled
    // Lloyd iterations, excludes cells over the MaxCellSize cap exactly
    // as the engine does, self-joins within the surviving cells only,
    // and applies the same lowest-id-canonical removal rule.
    "q_sem_dedup" -> Spec(
      VectorOps.semDedup,
      Some {
        val sim = rnd("list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])", 6)
        s"""
        WITH $lloydCtes,
        okc AS (SELECT cluster FROM a2 GROUP BY cluster
                HAVING count(*) <= ${VectorOps.MaxCellSize}),
        sp AS (
          SELECT x.cluster AS cell, y.vec_id AS vec_id, $sim AS cos_sim
          FROM a2 x JOIN a2 y
            ON x.cluster = y.cluster AND x.vec_id < y.vec_id
          JOIN okc ON x.cluster = okc.cluster)
        SELECT vec_id, cell,
               CAST(count(*) AS BIGINT) AS n_better,
               max(cos_sim) AS best_sim
        FROM sp WHERE cos_sim >= ${VectorOps.NearDupCosine}
        GROUP BY vec_id, cell
        ORDER BY vec_id"""
      }),

    // The cap's observability twin: per trained cell, members, the skip
    // decision and the pair budget it contributes — what makes the
    // MaxCellSize guard non-silent at any scale.
    "q_semdedup_cells" -> Spec(
      VectorOps.semDedupCells,
      Some(s"""
        WITH $lloydCtes,
        s AS (SELECT cluster AS cell, CAST(count(*) AS BIGINT) AS n_members
              FROM a2 GROUP BY cluster)
        SELECT cell, n_members,
               n_members > ${VectorOps.MaxCellSize} AS skipped,
               CASE WHEN n_members > ${VectorOps.MaxCellSize}
                    THEN CAST(0 AS BIGINT)
                    ELSE n_members * (n_members - 1) // 2 END AS n_pair_candidates
        FROM s ORDER BY cell""")),

    // External clustering evaluation: per-cell purity vs the ground-
    // truth label, majority ties broken on the smaller label id.
    "q_cluster_purity" -> Spec(
      VectorOps.clusterPurity,
      Some(s"""
        WITH $lloydCtes,
        cl AS (SELECT cluster, label, CAST(count(*) AS BIGINT) AS c
               FROM a2 GROUP BY cluster, label),
        m AS (SELECT cluster, CAST(sum(c) AS BIGINT) AS n_members,
                     CAST(count(*) AS BIGINT) AS n_labels
              FROM cl GROUP BY cluster),
        mj AS (SELECT cluster, label, c,
                      row_number() OVER (PARTITION BY cluster
                        ORDER BY c DESC, label) AS rn
               FROM cl)
        SELECT m.cluster AS cell, m.n_members, m.n_labels,
               mj.label AS majority_label, mj.c AS n_majority,
               ${rnd("CAST(mj.c AS DOUBLE) / CAST(m.n_members AS DOUBLE)", 6)} AS purity
        FROM m JOIN mj ON mj.cluster = m.cluster AND mj.rn = 1
        ORDER BY cell""")),

    // Topic labeling of the trained cells (c-TF-IDF): tf·log2(k/df)
    // is one IEEE multiply of exact ints with a correctly-rounded log2
    // quotient — bit-identical cross-engine before the 6-dp rounding.
    "q_topic_terms" -> Spec(
      VectorOps.topicTerms,
      Some(s"""
        WITH $lloydCtes,
        dt AS (SELECT a.cluster, t AS token
               FROM documents d
               JOIN a2 a ON a.vec_id = d.doc_id,
               unnest(string_split(d.text, ' ')) AS u(t)
               WHERE t != ''),
        tf AS (SELECT cluster, token, CAST(count(*) AS BIGINT) AS tf
               FROM dt GROUP BY cluster, token),
        dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df_clusters
                FROM tf GROUP BY token),
        kv AS (SELECT CAST(count(DISTINCT cluster) AS DOUBLE) AS k FROM tf),
        sc AS (SELECT cluster, token, tf, df_clusters,
                      ${rnd("CAST(tf AS DOUBLE) * log2(k / CAST(df_clusters AS DOUBLE))", 6)} AS score
               FROM tf JOIN dfc USING (token), kv),
        rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY cluster
                 ORDER BY score DESC, token) AS INTEGER) AS rank FROM sc)
        SELECT cluster, rank, token, tf, df_clusters, score
        FROM rk WHERE rank <= ${VectorOps.TopicTermsPerCluster}
        ORDER BY cluster, rank""")),

    "q_ann_ivf_trained" -> Spec(
      VectorOps.annIvfTrained,
      Some {
        val cellSim = rnd("list_dot_product(q_emb::DOUBLE[], centroid::DOUBLE[])", 6)
        s"""
        WITH $lloydCtes,
        q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id < ${VectorOps.NQueries}),
        cells AS (
          SELECT q_id, q_emb, cluster, $cellSim AS cell_sim,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY $cellSim DESC, cluster) AS rn
          FROM q, cent1),
        best AS (SELECT q_id, q_emb, cluster, cell_sim FROM cells WHERE rn <= 1),
        s AS (
          SELECT q_id, a.cluster AS cell, cell_sim, a.vec_id AS neighbor_id,
                 ${rnd("list_dot_product(q_emb::DOUBLE[], a.embedding::DOUBLE[])", 6)} AS cos_sim
          FROM best b JOIN a2 a ON a.cluster = b.cluster
          WHERE a.vec_id <> b.q_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY cos_sim DESC, neighbor_id) AS rank FROM s)
        SELECT q_id, cell, cell_sim, rank, neighbor_id, cos_sim FROM r
        WHERE rank <= ${VectorOps.TopKIvf} ORDER BY q_id, rank"""
      }),

    "q_ann_pq" -> Spec(
      VectorOps.annPq,
      Some {
        val m = VectorOps.PqSubspaces
        val d = VectorOps.PqSubDim
        val subViews = (0 until m).map(i =>
          s"es$i AS (SELECT vec_id, label, embedding[${i * d + 1}:${(i + 1) * d}] AS embedding FROM embeddings)")
          .mkString(",\n        ")
        val chains = (0 until m)
          .map(i => lloydChain(s"es$i", s"_s$i", s"vec_id % ${VectorOps.PqCodebooks}"))
          .mkString(",\n        ")
        val codes = (0 until m)
          .map(i => s"SELECT vec_id, $i AS sub, cluster AS code FROM a2_s$i")
          .mkString(" UNION ALL ")
        val cents = (0 until m)
          .map(i => s"SELECT $i AS sub, cluster AS code, centroid FROM cent1_s$i")
          .mkString(" UNION ALL ")
        s"""
        WITH $subViews,
        $chains,
        codes AS ($codes),
        cents AS ($cents),
        q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id < ${VectorOps.NQueries}),
        lut AS (
          SELECT q_id, sub, code,
                 ${rnd(s"list_dot_product(list_slice(q_emb, sub * $d + 1, (sub + 1) * $d)::DOUBLE[], centroid::DOUBLE[])", 6)} AS part
          FROM q, cents),
        s AS (
          SELECT l.q_id, c.vec_id AS neighbor_id,
                 CAST(sum(CAST(part AS DECIMAL(20,10))) AS DOUBLE) AS approx_sim
          FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
          WHERE c.vec_id <> l.q_id
          GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY approx_sim DESC, neighbor_id) AS rank FROM s)
        SELECT q_id, rank, neighbor_id, approx_sim FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank"""
      }),

    "q_ann_ivfpq" -> Spec(
      VectorOps.annIvfPq,
      Some(s"""
        WITH $ivfPqRankedCtes
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    "q_ann_ivfpq_rerank" -> Spec(
      VectorOps.annIvfPqRerank,
      Some(s"""
        WITH $ivfPqRankedCtes,
        nom AS (SELECT q_id, neighbor_id, approx_sim FROM r
                WHERE rank <= ${VectorOps.RerankDepth}),
        rr AS (SELECT n.q_id, n.neighbor_id, n.approx_sim,
                      ${rnd("list_dot_product(q.q_emb::DOUBLE[], e.embedding::DOUBLE[])", 6)} AS cos_sim
               FROM nom n
               JOIN q ON q.q_id = n.q_id
               JOIN embeddings e ON e.vec_id = n.neighbor_id),
        rr2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
                FROM rr)
        SELECT q_id, rank, neighbor_id, cos_sim, approx_sim FROM rr2
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // The faiss write_index/read_index split: train+encode once, write
    // the index as parquet tables (inverted lists = hive partitions by
    // cell), search from the STORED artifacts with dynamic partition
    // pruning at the lists scan. Result is byte-identical to the
    // in-session q_ann_ivfpq, so the roundtrip rides its oracle SQL —
    // what the row gates is the on-disk index contract (layout, types
    // through parquet, partition-column round trip).
    "q_ann_index_roundtrip" -> Spec(
      VectorOps.ivfPqIndexRoundtrip,
      Some(s"""
        WITH $ivfPqRankedCtes
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // The faiss add-after-train half of the index lifecycle: the index
    // is built over the BASE corpus only, the held-out 10% batch is
    // added against the STORED quantizers (zero Lloyd iterations —
    // IvfPqAddSpec meters it), and the search reads base ∪ delta lists
    // with both scans partition-pruned to the probed cells. The oracle
    // trains every quantizer on the base subset but encodes the whole
    // corpus — the algebraic identity add-then-search ≡
    // encode-all-then-search makes that the exact replay.
    "q_ann_index_add" -> Spec(
      VectorOps.ivfPqIndexAdd,
      Some(s"""
        WITH $ivfPqAddRankedCtes
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim,
               neighbor_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue} AS from_delta
        FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // CHAINED adds: two successive batches absorbed against the same
    // stored quantizers (each in its own delta table), search over
    // base ∪ both deltas — add-add-then-search ≡ encode-all-then-search
    // with training held out on BOTH batches.
    "q_ann_index_add_chain" -> Spec(
      VectorOps.ivfPqIndexAddChain,
      Some(s"""
        WITH ${ivfPqAddRankedCtesFor(
          s"vec_id % ${VectorOps.AddModulus} IN (${VectorOps.AddResidue}, ${VectorOps.AddResidue2})")}
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim,
               CASE WHEN neighbor_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue} THEN 1
                    WHEN neighbor_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue2} THEN 2
                    ELSE 0 END AS from_batch
        FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // The merge verb completing the chain row's lifecycle: both delta
    // batches folded back into the base lists (pure partition rewrite,
    // zero Lloyd, zero re-encode) before a single-scan search. The
    // codes are unchanged, only their location — so the oracle is the
    // chain's verbatim: compact-then-search ≡ add-add-then-search.
    "q_ann_index_compact" -> Spec(
      VectorOps.ivfPqIndexCompact,
      Some(s"""
        WITH ${ivfPqAddRankedCtesFor(
          s"vec_id % ${VectorOps.AddModulus} IN (${VectorOps.AddResidue}, ${VectorOps.AddResidue2})")}
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim,
               CASE WHEN neighbor_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue} THEN 1
                    WHEN neighbor_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue2} THEN 2
                    ELSE 0 END AS from_batch
        FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // The lifecycle run THROUGH Structured Streaming: the two held-out
    // batches arrive as micro-batches of the AnnIngest maintenance
    // stream (per-batch delta admission against the stored quantizers,
    // threshold-triggered compaction), then one search. The stream only
    // changes who SCHEDULES the verbs, never the codes — so the row
    // rides the chain oracle verbatim: stream-ingest-then-search ≡
    // add-add-then-search ≡ encode-all-then-search.
    "q_ann_ingest_stream" -> Spec(
      streaming.AnnIngest.annIngestStream,
      Some(s"""
        WITH ${ivfPqAddRankedCtesFor(
          s"vec_id % ${VectorOps.AddModulus} IN (${VectorOps.AddResidue}, ${VectorOps.AddResidue2})")}
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim,
               CASE WHEN neighbor_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue} THEN 1
                    WHEN neighbor_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue2} THEN 2
                    ELSE 0 END AS from_batch
        FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // The nprobe dial at its SECOND setting on the STORED index: each
    // query probes its IvfNProbe best coarse cells, the lists scan
    // prunes to exactly those partitions — the pure read-side
    // recall/latency knob (zero index mutation, shared build gate with
    // the probe-1 row). Own oracle: the probe-2 CTE chain.
    "q_ann_index_search_probe2" -> Spec(
      VectorOps.ivfPqIndexSearchProbe2,
      Some(s"""
        WITH ${ivfPqRankedCtesExcluding("FALSE", VectorOps.IvfNProbe)}
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // Read-only search against the persisted index: builds at most once
    // per corpus (committed tables + matching corpus stamp skip the
    // build entirely), so the benched repeats measure the steady-state
    // serving cost alone — probe + LUT + DPP-pruned lists scan. Same
    // artifacts as the roundtrip row, so the same oracle SQL.
    "q_ann_index_search" -> Spec(
      VectorOps.ivfPqIndexSearch,
      Some(s"""
        WITH $ivfPqRankedCtes
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // The serving path restated as PURE SQL TEXT over the stored index
    // tables — the dual-surface proof for the steady-state search: three
    // views + the injected vector_dot compose probe → LUT → DPP-pruned
    // scan → ADC-sum with nothing but spark.sql. Same stored artifacts
    // and same plan shape as q_ann_index_search (IvfPqSearchRowSpec pins
    // hash-equality and DPP on THIS plan), so the same oracle SQL.
    // Held out of the r11 catalog purely for bench/correctness row-set
    // parity; promoted r12 in the same cycle as the bench archives.
    "q_ann_index_search_sql" -> Spec(
      VectorOps.ivfPqIndexSearchSql,
      Some(s"""
        WITH $ivfPqRankedCtes
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // Index observability: per-cell occupancy + the faiss imbalance
    // factor nlist*sum(n_i^2)/n^2, read from the STORED lists behind
    // the serving rows' build-at-most-once gate. n_cells = the trained
    // nlist (count of centroids, cent1 here / the stored centroids
    // table in the engine), NOT the count of non-empty lists — faiss's
    // factor counts empty cells. The oracle replays the coarse
    // assignment from scratch (the lloydCtes a2 sweep), so a drifted
    // stored layout fails the hash even when searches still look
    // plausible.
    // Tombstone DELETE (faiss remove_ids, LSM-style): the retracted
    // tenth of the ids never reaches the scorer — the search carries a
    // broadcast anti-join mask until the next compaction makes the
    // delete physical. The oracle trains and encodes the FULL corpus
    // (the stored artifacts' exact state) and filters candidates on
    // the residue: delete-then-search ≡ encode-all-except-deleted.
    "q_ann_index_delete" -> Spec(
      VectorOps.ivfPqIndexDelete,
      Some(s"""
        WITH ${ivfPqRankedCtesExcluding(
          s"a.vec_id % ${VectorOps.AddModulus} = ${VectorOps.DeleteResidue}")}
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // The masked DELTA-UNION read as pure SQL text: base lists + a
    // pending add delta + pending tombstones composed with nothing but
    // spark.sql (per-scan broadcast probe joins below the UNION ALL for
    // DPP, one LEFT ANTI JOIN mask above it). The oracle trains on the
    // base corpus, encodes everything, excludes the deleted residue —
    // the add and delete laws composed in one statement.
    "q_ann_index_masked_sql" -> Spec(
      VectorOps.ivfPqIndexMaskedSql,
      Some(s"""
        WITH ${ivfPqAddRankedCtesFor(
          s"vec_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue}",
          s"a.vec_id % ${VectorOps.AddModulus} = ${VectorOps.DeleteResidue}")}
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim,
               neighbor_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue} AS from_delta
        FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    // Recall@k of the PERSISTED index's masked serving path vs exact
    // brute force over the LIVE (post-tombstone) corpus — the stored
    // index's QUALITY gate, beside the hash-equality laws that gate its
    // layout. Rides the delete row's lifecycle (same gated index); the
    // oracle replays both sides: the excluded-candidate IVF-PQ chain
    // and a live-corpus brute-force top-k.
    "q_ann_index_recall" -> Spec(
      VectorOps.ivfPqIndexRecall,
      Some {
        val k = VectorOps.TopKPq
        val dead = s"% ${VectorOps.AddModulus} = ${VectorOps.DeleteResidue}"
        s"""
        WITH ${ivfPqRankedCtesExcluding(s"a.vec_id $dead")},
        ak AS (SELECT q_id, neighbor_id FROM r WHERE rank <= $k),
        qb AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < ${VectorOps.NQueries}),
        sb AS (SELECT q_id, e.vec_id AS neighbor_id,
                      ${rnd("list_dot_product(q_emb::DOUBLE[], e.embedding::DOUBLE[])", 6)} AS cos_sim
               FROM qb, embeddings e
               WHERE e.vec_id <> q_id AND NOT (e.vec_id $dead)),
        rb AS (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_sim DESC, neighbor_id) AS xrank FROM sb),
        exk AS (SELECT q_id, neighbor_id FROM rb WHERE xrank <= $k),
        h AS (SELECT q_id, CAST(count(*) AS BIGINT) AS hits
              FROM exk JOIN ak USING (q_id, neighbor_id) GROUP BY 1),
        qq AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact
               FROM exk GROUP BY 1)
        SELECT qq.q_id, qq.n_exact,
               coalesce(hits, 0) AS hits,
               ${rnd("CAST(coalesce(hits, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE)", 6)} AS recall
        FROM qq LEFT JOIN h USING (q_id)
        ORDER BY q_id"""
      }),

    // Recall-under-MUTATION sweep with the nprobe dial: the quality
    // metric at TWO lifecycle points of the full verb chain (add →
    // delete masked serving; compact → fresh add), each at probe depths
    // 1 and 2, with n_exact measured per (stage, query). The oracle
    // replays ONE encode-all chain at probe depth 2 (compaction never
    // changes codes or cells, so both stages share the scored frame) and
    // derives each stage × depth ranking by predicate: stage masks drop
    // the deleted residue always and the not-yet-arrived second batch in
    // stage 1; depth-1 rankings keep only candidates whose home cell is
    // the query's top probe. Exact sides are brute-force top-k over each
    // stage's live corpus.
    "q_ann_index_recall_chain" -> Spec(
      VectorOps.ivfPqIndexRecallChain,
      Some {
        val k = VectorOps.TopKPq
        val mod = VectorOps.AddModulus
        val del = VectorOps.DeleteResidue
        val b2 = VectorOps.AddResidue2
        s"""
        WITH ${ivfPqAddRankedCtesFor(
          s"vec_id % $mod IN (${VectorOps.AddResidue}, $b2)",
          "FALSE", VectorOps.IvfNProbe)},
        scored AS (
          SELECT s.q_id, s.neighbor_id, s.approx_sim, c.rn
          FROM s JOIN cells c ON c.q_id = s.q_id AND c.cluster = s.cell),
        stg AS (SELECT * FROM (VALUES ('masked'), ('compacted_add')) t(stage)),
        pr AS (SELECT * FROM (VALUES (1), (${VectorOps.IvfNProbe})) t(np)),
        ak AS (
          SELECT stage, np, q_id, neighbor_id FROM (
            SELECT st.stage, p.np, sc.q_id, sc.neighbor_id,
                   row_number() OVER (PARTITION BY st.stage, p.np, sc.q_id
                     ORDER BY sc.approx_sim DESC, sc.neighbor_id) AS rk
            FROM scored sc, stg st, pr p
            WHERE sc.rn <= p.np
              AND sc.neighbor_id % $mod <> $del
              AND NOT (st.stage = 'masked' AND sc.neighbor_id % $mod = $b2))
          WHERE rk <= $k),
        sb AS (SELECT q.q_id, e.vec_id AS neighbor_id,
                      ${rnd("list_dot_product(q_emb::DOUBLE[], e.embedding::DOUBLE[])", 6)} AS cos_sim
               FROM q, embeddings e WHERE e.vec_id <> q.q_id),
        exk AS (
          SELECT stage, q_id, neighbor_id FROM (
            SELECT st.stage, sb.q_id, sb.neighbor_id,
                   row_number() OVER (PARTITION BY st.stage, sb.q_id
                     ORDER BY sb.cos_sim DESC, sb.neighbor_id) AS rk
            FROM sb, stg st
            WHERE sb.neighbor_id % $mod <> $del
              AND NOT (st.stage = 'masked' AND sb.neighbor_id % $mod = $b2))
          WHERE rk <= $k),
        h1 AS (SELECT e.stage, e.q_id, CAST(count(*) AS BIGINT) AS hits_probe1
               FROM exk e JOIN ak a ON a.stage = e.stage AND a.np = 1
                 AND a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
               GROUP BY 1, 2),
        h2 AS (SELECT e.stage, e.q_id, CAST(count(*) AS BIGINT) AS hits_probe2
               FROM exk e JOIN ak a ON a.stage = e.stage
                 AND a.np = ${VectorOps.IvfNProbe}
                 AND a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
               GROUP BY 1, 2),
        nn AS (SELECT stage, q_id, CAST(count(*) AS BIGINT) AS n_exact
               FROM exk GROUP BY 1, 2)
        SELECT nn.stage, nn.q_id, nn.n_exact,
               coalesce(hits_probe1, 0) AS hits_probe1,
               coalesce(hits_probe2, 0) AS hits_probe2,
               ${rnd("CAST(coalesce(hits_probe1, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE)", 6)} AS recall_probe1,
               ${rnd("CAST(coalesce(hits_probe2, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE)", 6)} AS recall_probe2
        FROM nn LEFT JOIN h1 USING (stage, q_id)
        LEFT JOIN h2 USING (stage, q_id)
        ORDER BY stage, q_id"""
      }),

    "q_ann_index_stats" -> Spec(
      VectorOps.ivfPqIndexStats,
      Some(s"""
        WITH $lloydCtes,
        occ AS (SELECT cluster AS cell, count(*) AS n_vectors
                FROM a2 GROUP BY cluster),
        tot AS (SELECT sum(n_vectors) AS n,
                       (SELECT count(*) FROM cent1) AS n_cells,
                       sum(n_vectors * n_vectors) AS sq FROM occ)
        SELECT cell, n_vectors,
               ${rnd("CAST(n_vectors AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS share,
               ${rnd("CAST(sq AS DOUBLE) * CAST(n_cells AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))", 6)} AS imbalance
        FROM occ, tot ORDER BY cell""")),

    // Add-only steady state: the nightly-ingest verb measured against a
    // PREBUILT index (built at most once behind the committed-tables +
    // corpus-stamp gate), so the timed repeats price one batch's
    // broadcast assign + encode (zero Lloyd) + the two-scan DPP search —
    // the serving ladder's rung beside search-only. Row-identical to
    // q_ann_index_add (same training set, same arriving batch), so the
    // same oracle SQL, from_delta law included.
    "q_ann_index_add_batch" -> Spec(
      VectorOps.ivfPqIndexAddBatchRow,
      Some(s"""
        WITH $ivfPqAddRankedCtes
        SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim,
               neighbor_id % ${VectorOps.AddModulus} = ${VectorOps.AddResidue} AS from_delta
        FROM r
        WHERE rank <= ${VectorOps.TopKPq} ORDER BY q_id, rank""")),

    "q_ann_sq8" -> Spec(
      VectorOps.annSq8,
      Some(s"""
        WITH e AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb FROM embeddings),
        ex AS (
          SELECT unnest(emb) AS v, generate_subscripts(emb, 1) AS dim FROM e),
        stats AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim),
        arr AS (
          SELECT list(mn ORDER BY dim) AS mns, list(mx - mn ORDER BY dim) AS spans
          FROM stats),
        enc AS (
          SELECT vec_id,
                 [CASE WHEN spans[i] = 0 THEN mns[i]
                       ELSE mns[i] + floor((emb[i] - mns[i]) / spans[i] * ${VectorOps.QLevels} + 0.5) * spans[i] / ${VectorOps.QLevels} END
                  FOR i IN range(1, ${VectorOps.Dim + 1})] AS deq
          FROM e, arr),
        q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < ${VectorOps.NQueries}),
        s AS (SELECT q_id, enc.vec_id AS neighbor_id,
                     ${rnd("list_dot_product(q_emb, deq)", 6)} AS cos_sim
              FROM enc, q WHERE enc.vec_id <> q_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM s)
        SELECT q_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= ${VectorOps.TopK}
        ORDER BY q_id, rank""")),

    // Approximate all-node kNN graph over the derived-plane LSH
    // buckets: candidates from the pre-threshold `es` chain,
    // symmetrized (the bucket relation is symmetric), per-node top-k,
    // reciprocity from a self-join of the k·n edge set.
    "q_knn_graph" -> Spec(
      VectorOps.knnGraph,
      Some(s"""
        WITH $embedPairCtes,
        sym AS (SELECT vec_a AS vec_id, vec_b AS neighbor_id, cos_sim FROM es
                UNION ALL
                SELECT vec_b AS vec_id, vec_a AS neighbor_id, cos_sim FROM es),
        rk AS (SELECT vec_id, neighbor_id, cos_sim,
                      CAST(row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
               FROM sym),
        tk AS (SELECT * FROM rk WHERE rank <= ${VectorOps.KnnK})
        SELECT t.vec_id, t.rank, t.neighbor_id, t.cos_sim,
               (r.vec_id IS NOT NULL) AS reciprocal
        FROM tk t LEFT JOIN tk r
          ON r.vec_id = t.neighbor_id AND r.neighbor_id = t.vec_id
        ORDER BY t.vec_id, t.rank""")),

    "q_embed_outliers" -> Spec(
      VectorOps.embedOutliers,
      Some(s"""
        WITH $embedPairCtes,
        sym AS (SELECT vec_a AS vec_id, vec_b AS neighbor_id, cos_sim FROM es
                UNION ALL
                SELECT vec_b AS vec_id, vec_a AS neighbor_id, cos_sim FROM es),
        rk AS (SELECT vec_id, neighbor_id, cos_sim,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos_sim DESC, neighbor_id) AS rank
               FROM sym),
        tk AS (SELECT vec_id, cos_sim FROM rk WHERE rank <= ${VectorOps.KnnK}),
        agg AS (SELECT vec_id, count(*) AS n_neighbors,
                       ${rnd("CAST(sum(CAST(cos_sim AS DECIMAL(20,10))) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS mean_knn_cos
                FROM tk GROUP BY vec_id)
        SELECT e.vec_id,
               coalesce(a.n_neighbors, 0) AS n_neighbors,
               a.mean_knn_cos,
               (a.mean_knn_cos IS NULL
                OR a.mean_knn_cos < ${VectorOps.OutlierMinCos}) AS is_outlier
        FROM embeddings e LEFT JOIN agg a USING (vec_id)
        ORDER BY e.vec_id""")),

    "q_semantic_clusters" -> Spec(
      VectorOps.semanticClusters,
      Some(s"""
        WITH RECURSIVE $embedPairCtes,
        sym AS (SELECT vec_a AS vec_id, vec_b AS neighbor_id, cos_sim FROM es
                UNION ALL
                SELECT vec_b AS vec_id, vec_a AS neighbor_id, cos_sim FROM es),
        rk AS (SELECT vec_id, neighbor_id,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos_sim DESC, neighbor_id) AS rank
               FROM sym),
        tk AS (SELECT vec_id, neighbor_id FROM rk WHERE rank <= ${VectorOps.KnnK}),
        mut AS (SELECT t.vec_id AS a, t.neighbor_id AS b
                FROM tk t JOIN tk r2
                  ON r2.vec_id = t.neighbor_id AND r2.neighbor_id = t.vec_id
                WHERE t.vec_id < t.neighbor_id),
        e AS (SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut),
        members AS (SELECT DISTINCT a AS v FROM e),
        reach(a, b) AS (
          SELECT v, v FROM members
          UNION
          SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        comp AS (SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a),
        lab AS (SELECT em.vec_id, coalesce(c.cluster_id, em.vec_id) AS cluster_id
                FROM embeddings em LEFT JOIN comp c USING (vec_id)),
        sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
        SELECT l.vec_id, l.cluster_id, s.cluster_size, s.cluster_size > 1 AS clustered
        FROM lab l JOIN sz s USING (cluster_id)
        ORDER BY l.vec_id""")),

    "q_embed_neardup" -> Spec(
      VectorOps.embedNearDup,
      Some(s"""
        WITH $embedPairCtes
        SELECT vec_a, vec_b, cos_sim FROM epairs
        ORDER BY vec_a, vec_b""")),

    // The LSH dial at its wide setting (2^8 buckets): same plan, 16x
    // lower occupancy — the scale remedy for the one super-linear
    // family, proven end-to-end with its own oracle hash.
    "q_embed_neardup_8p" -> Spec(
      VectorOps.embedNearDupWide,
      Some(s"""
        WITH ${embedPairCtesAt(VectorOps.NPlanesWide)}
        SELECT vec_a, vec_b, cos_sim FROM epairs
        ORDER BY vec_a, vec_b""")),

    // Per-image dHash table: value-gates render -> PNG encode -> real
    // decode -> sampled-grid hash for EVERY image at every scale.
    "q_image_dhash" -> Spec(
      operators.Multimodal.imageDHashTable,
      Some(s"""
        WITH $imagePairCtes
        SELECT h.doc_id AS media_id, b0, b1, b2, b3, n_gray,
               n_gray >= ${operators.Multimodal.ImgMinEntropy} AS kept
        FROM ihs h JOIN ient USING (doc_id)
        ORDER BY media_id""")),

    // The image channel standalone: rendered PNG -> real decode ->
    // dHash -> Hamming banding (entropy-guarded); oracle replays the
    // formulas codec-free.
    "q_image_neardup" -> Spec(
      operators.Multimodal.imageNearDup,
      Some(s"""
        WITH $imagePairCtes
        SELECT media_a, media_b, hamming, n_shared_bands FROM ipairs
        ORDER BY media_a, media_b""")),

    "q_dedup_ensemble" -> Spec(
      TextOps.dedupEnsemble,
      Some(s"""
        WITH ${minhashPairCtes()},
        $embedPairCtes,
        $imagePairCtes,
        te AS (
          SELECT coalesce(p.doc_a, e.vec_a) AS doc_a,
                 coalesce(p.doc_b, e.vec_b) AS doc_b,
                 p.jaccard, e.cos_sim
          FROM pairs p
          FULL JOIN epairs e ON p.doc_a = e.vec_a AND p.doc_b = e.vec_b)
        SELECT coalesce(t.doc_a, i.media_a) AS doc_a,
               coalesce(t.doc_b, i.media_b) AS doc_b,
               t.jaccard, t.cos_sim, i.hamming AS img_hamming,
               concat_ws('+',
                 CASE WHEN t.jaccard IS NOT NULL THEN 'text' END,
                 CASE WHEN t.cos_sim IS NOT NULL THEN 'embed' END,
                 CASE WHEN i.hamming IS NOT NULL THEN 'image' END) AS method
        FROM te t
        FULL JOIN ipairs i ON t.doc_a = i.media_a AND t.doc_b = i.media_b
        ORDER BY doc_a, doc_b""")),

    "q_ann_lsh" -> Spec(
      VectorOps.annLsh,
      Some {
        val bucketExpr = (0 until VectorOps.NPlanes).map { p =>
          val arr = VectorOps.planeInts(p).map(k => s"$k/500.0").mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $arr) > 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""
        WITH b AS (SELECT vec_id, embedding, CAST($bucketExpr AS BIGINT) AS bucket
                   FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b
              WHERE vec_id < ${VectorOps.NQueries}),
        s AS (SELECT q_id, bucket, e.vec_id AS neighbor_id,
                     ${rnd("list_dot_product(q_emb::DOUBLE[], e.embedding::DOUBLE[])", 6)} AS cos_sim
              FROM q JOIN b e USING (bucket) WHERE e.vec_id <> q_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM s)
        SELECT q_id, bucket, rank, neighbor_id, cos_sim FROM r
        WHERE rank <= ${VectorOps.TopKLsh}
        ORDER BY q_id, rank"""
      }),

    "q_asof_attribution" -> Spec(
      Relational.asOfAttribution,
      Some("""
        WITH t AS (
          SELECT event_id, user_id, event_type, value,
                 CASE WHEN event_type = 'click' THEN value END AS click_value
          FROM events WHERE event_type IN ('click', 'purchase')),
        s AS (
          SELECT event_id, user_id, event_type, value,
                 last_value(click_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_click_value
          FROM t)
        SELECT event_id, user_id, value AS purchase_value, asof_click_value,
               asof_click_value IS NOT NULL AS has_prior_click
        FROM s WHERE event_type = 'purchase' ORDER BY event_id""")),

    "q_attractiveness" -> Spec(
      Relational.attractiveness,
      Some(s"""
        WITH offers AS (
          SELECT l_partkey AS sku, l_suppkey AS seller, min(l_extendedprice) AS price
          FROM lineitem GROUP BY l_partkey, l_suppkey),
        g AS (
          SELECT sku, seller, price,
                 min(price) OVER (PARTITION BY sku) AS mn,
                 median(price) OVER (PARTITION BY sku) AS md
          FROM offers),
        f AS (
          SELECT sku, price,
                 ((price - mn >= 0 AND price - mn <= 100.0)
                  OR (price - mn >= 0 AND
                      (CASE WHEN mn > 0 THEN (price - mn) / mn ELSE 0 END) <= 0.0025))
                 AND (md - mn <= 3000.0) AS is_bot
          FROM g),
        per AS (
          SELECT sku, count(*) AS n_sellers,
                 CAST(sum(CASE WHEN is_bot THEN 1 ELSE 0 END) AS BIGINT) AS n_bots,
                 max(price) - min(price) AS spread
          FROM f GROUP BY sku),
        a AS (SELECT median(spread) AS med_spread FROM per)
        SELECT sku, n_sellers, n_bots, spread,
               ${rnd("CAST(n_bots AS DOUBLE) / CAST(n_sellers AS DOUBLE)", 6)} AS bot_share,
               ${rnd("""0.4 * ((CASE WHEN med_spread > 0
                                     THEN least(spread / med_spread, 2.0)
                                     ELSE 0.0 END) / 2.0)
                 + 0.3 * (1.0 - CAST(n_bots AS DOUBLE) / CAST(n_sellers AS DOUBLE))
                 + 0.3 / (1.0 + CAST(n_sellers AS DOUBLE) / 10.0)""", 6)} AS attractiveness
        FROM per, a ORDER BY sku""")),

    "q_running_undercut" -> Spec(
      Relational.runningUndercut,
      Some("""
        WITH b AS (
          SELECT event_id, user_id, value,
                 min(value) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_min
          FROM events),
        c AS (
          SELECT event_id, user_id,
                 CASE WHEN value <= running_min + 50.0
                      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS undercut
          FROM b),
        s AS (
          SELECT event_id, user_id, undercut,
                 CAST(sum(undercut) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS sliding_hits
          FROM c)
        SELECT event_id, user_id, undercut, sliding_hits,
               sliding_hits >= 3 AS is_bot
        FROM s ORDER BY user_id, event_id""")),

    "q_dedup_policy" -> Spec(
      SellerMerge.dedupPolicy,
      Some("""
        WITH obs AS (
          SELECT l_partkey AS sku,
                 l_orderkey * 10 + l_linenumber AS seq,
                 CASE WHEN l_linenumber % 2 = 1 THEN upper(s_name) ELSE s_name END AS name_raw,
                 l_extendedprice AS price,
                 CASE WHEN l_returnflag = 'N' THEN '' ELSE 'return-' || l_returnflag END AS delivery
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey)
        SELECT sku, lower(trim(name_raw)) AS seller_key,
               arg_min(name_raw, seq) AS seller_name,
               min(price) AS best_price,
               arg_min(delivery,
                 CASE WHEN delivery = '' THEN 9223372036854775806 ELSE seq END) AS delivery,
               count(*) AS n_merged
        FROM obs GROUP BY sku, lower(trim(name_raw))
        ORDER BY sku, seller_key""")),

    // ── Ingestion layer (committed raw CSV fixtures) ──────────────────
    // The oracle reads the SAME fixture files via DuckDB read_csv and
    // replicates the cleaning chain (comma decimals, currency junk,
    // day-first dates, coercion-to-null) expression for expression.

    "q_ingest_orders" -> Spec(
      Ingestion.ordersFromRaw,
      Some(s"""
        WITH raw AS (
          SELECT * FROM read_csv('${Ingestion.FixturesDir}/raw_orders.csv',
                                 delim=';', header=true, all_varchar=true)),
        t AS (
          SELECT TRY_CAST("№ заказа" AS BIGINT) AS order_id,
                 coalesce(try_strptime(trim("Дата заказа"), '%d.%m.%Y'),
                          try_strptime(trim("Дата заказа"), '%Y-%m-%d')) AS d,
                 trim("Статус") AS status,
                 upper(trim("Наименование товара")) AS sku_key,
                 coalesce(nullif(trim("Количество"), ''), nullif(trim("Кол-во итого"), '')) AS qty_raw,
                 TRY_CAST(regexp_replace(replace("Сумма", ',', '.'), '[^0-9.]', '', 'g') AS DOUBLE) AS gross_d,
                 TRY_CAST(regexp_replace(replace("Вес кг", ',', '.'), '[^0-9.]', '', 'g') AS DOUBLE) AS w_kg
          FROM raw)
        SELECT order_id,
               strftime(d, '%Y-%m-%d') AS order_date,
               d IS NOT NULL AS date_ok,
               status, sku_key,
               coalesce(TRY_CAST(regexp_replace(qty_raw, '[^0-9]', '', 'g') AS INTEGER), 0) AS qty,
               CAST(floor(gross_d) AS BIGINT) AS gross_price_kzt,
               gross_d IS NOT NULL AS price_ok,
               w_kg * 1000 AS weight_g
        FROM t WHERE order_id IS NOT NULL ORDER BY order_id""")),

    "q_ingest_catalog" -> Spec(
      Ingestion.catalogFromRaw,
      Some(s"""
        WITH raw AS (
          SELECT * FROM read_csv('${Ingestion.FixturesDir}/raw_catalog.csv',
                                 delim=';', header=true, all_varchar=true)),
        t AS (
          SELECT nullif(trim("SKU_ID"), '') AS sku_id,
                 "Store name" AS store,
                 coalesce(nullif(trim(Brand), ''), '') AS brand,
                 TRY_CAST(regexp_replace(replace("Weight_kg", ',', '.'), '[^0-9.]', '', 'g') AS DOUBLE) AS weight_kg,
                 TRY_CAST(regexp_replace(replace("Initial KSP Price", ',', '.'), '[^0-9.]', '', 'g') AS DOUBLE) AS price_d,
                 "Stock entered" AS stock_raw
          FROM raw)
        SELECT sku_id, store, brand, weight_kg,
               CAST(floor(price_d) AS BIGINT) AS price_kzt,
               coalesce(TRY_CAST(regexp_replace(stock_raw, '[^0-9]', '', 'g') AS INTEGER), 0) AS stock,
               (CASE WHEN weight_kg IS NULL THEN 1 ELSE 0 END
                + CASE WHEN price_d IS NULL THEN 1 ELSE 0 END) AS n_warnings
        FROM t WHERE sku_id IS NOT NULL ORDER BY sku_id""")),

    // ── Excel ingestion (S6; committed own-authored .xlsx fixtures with
    //    semicolon-CSV twins written from the same row data) ───────────

    "q_excel_orders" -> Spec(
      Ingestion.ordersFromExcel,
      Some(s"""
        WITH raw AS (
          SELECT * FROM read_csv('${Ingestion.FixturesDir}/xlsx/orders_twin.csv',
                                 delim=';', header=true, all_varchar=true)),
        t AS (
          SELECT TRY_CAST("№ заказа" AS BIGINT) AS order_id,
                 coalesce(try_strptime(trim("Дата поступления заказа"), '%d.%m.%Y'),
                          try_strptime(trim("Дата поступления заказа"), '%Y-%m-%d')) AS d,
                 coalesce(try_strptime(trim("Дата изменения статуса"), '%d.%m.%Y'),
                          try_strptime(trim("Дата изменения статуса"), '%Y-%m-%d')) AS sd,
                 nullif(trim("Статус"), '') AS status,
                 nullif(trim("Название товара в Kaspi Магазине"), '') AS sku_name_raw,
                 "Количество" AS qty_raw,
                 TRY_CAST(regexp_replace(replace("Сумма", ',', '.'), '[^0-9.]', '', 'g') AS DOUBLE) AS gross_d
          FROM raw)
        SELECT order_id,
               strftime(d, '%Y-%m-%d') AS order_date,
               strftime(sd, '%Y-%m-%d') AS status_date,
               status, sku_name_raw,
               coalesce(TRY_CAST(regexp_replace(qty_raw, '[^0-9]', '', 'g') AS INTEGER), 0) AS qty,
               CAST(floor(gross_d) AS BIGINT) AS gross_price_kzt,
               CAST(0.12 AS DOUBLE) AS kaspi_fee_pct
        FROM t WHERE order_id IS NOT NULL ORDER BY order_id""")),

    "q_excel_purchases" -> Spec(
      Ingestion.purchasesFromExcel,
      Some(s"""
        WITH raw AS (
          SELECT * FROM read_csv('${Ingestion.FixturesDir}/xlsx/purchase_twin.csv',
                                 delim=';', header=true, all_varchar=true)),
        t AS (
          SELECT nullif(trim("PO_Id"), '') AS po_id,
                 nullif(trim("SKU_KEY"), '') AS sku_key,
                 coalesce(try_strptime(trim("PO_Date"), '%d.%m.%Y'),
                          try_strptime(trim("PO_Date"), '%Y-%m-%d')) AS od,
                 coalesce(try_strptime(trim("Ast_arrival_date"), '%d.%m.%Y'),
                          try_strptime(trim("Ast_arrival_date"), '%Y-%m-%d')) AS ad,
                 TRY_CAST("Qty" AS INTEGER) AS qty,
                 TRY_CAST("Unit_COGS_KZT" AS DOUBLE) AS unit_cogs_kzt,
                 TRY_CAST("Total_Model_DeliveryCost_KZT" AS DOUBLE) AS freight_kzt,
                 TRY_CAST("Total_Model_FreightCost_KZT" AS DOUBLE) AS total_cogs_kzt,
                 TRY_CAST("Paid" AS BOOLEAN) AS paid,
                 "_file" AS f, TRY_CAST("_row" AS BIGINT) AS rr
          FROM raw),
        d AS (
          SELECT *, row_number() OVER (PARTITION BY po_id, sku_key ORDER BY f, rr) AS rn
          FROM t)
        SELECT po_id, sku_key,
               strftime(od, '%Y-%m-%d') AS order_date,
               strftime(ad, '%Y-%m-%d') AS arrival_date,
               qty, unit_cogs_kzt, freight_kzt, total_cogs_kzt, paid
        FROM d WHERE rn = 1 ORDER BY po_id, sku_key""")),

    "q_api_pages" -> Spec(
      Ingestion.ordersFromApiPages,
      Some(s"""
        WITH p AS (
          SELECT * FROM read_json('${Ingestion.FixturesDir}/api_pages/*.json',
            columns={page_number: 'INTEGER', total_pages: 'INTEGER',
                     total_count: 'INTEGER',
                     data: 'STRUCT(order_id BIGINT, state VARCHAR, total_price DOUBLE)[]'})),
        integ AS (
          SELECT CAST(count(*) AS INTEGER) AS n_pages,
                 CAST(count(DISTINCT page_number) AS INTEGER) AS d_pages,
                 min(page_number) AS mn, max(page_number) AS mx,
                 max(total_pages) AS tp,
                 CAST(count(DISTINCT total_pages) AS INTEGER) AS dtp,
                 max(total_count) AS tc
          FROM p),
        items AS (SELECT page_number, unnest(data) AS it FROM p),
        ic AS (SELECT count(*) AS n_items FROM items)
        SELECT it.order_id AS order_id, it.state AS state,
               it.total_price AS total_price, page_number,
               (n_pages = tp AND d_pages = n_pages AND mn = 0
                  AND mx = tp - 1 AND dtp = 1) AS chain_ok,
               (n_items = tc) AS count_ok
        FROM items, integ, ic ORDER BY order_id""")),

    // ── Parser pack (committed golden HTML fixture) ───────────────────

    "q_parse_sellers" -> Spec(
      Parsing.parseSellers,
      Some(s"""
        WITH $domSellersCtes
        SELECT row_idx, seller, price, delivery_date FROM dom_sellers
        ORDER BY row_idx""")),

    "q_delivery_norm" -> Spec(
      Parsing.deliveryNorm,
      Some {
        def monthCase(c: String) = Html.RuMonths
          .map { case (n, m) => s"WHEN '$n' THEN $m" }
          .mkString(s"CASE $c ", " ", " ELSE NULL END")
        // day+month extracted with the SAME combined pattern the engine
        // uses (month must follow the day number)
        val pat = """([0-9]{1,2})\s*([а-яё]+)"""
        def fmt(dCol: String, mCol: String) =
          s"""coalesce(strftime(try_strptime($dCol || '.' ||
              CAST((${monthCase(mCol)}) AS VARCHAR) || '.2025', '%d.%m.%Y')
              , '%-d.%-m.%Y'), '—')"""
        s"""
        WITH r AS (
          SELECT * FROM read_json('${Ingestion.FixturesDir}/delivery_texts.jsonl',
                                  format='newline_delimited',
                                  columns={id: 'BIGINT', text: 'VARCHAR'})),
        x AS (SELECT id, string_split(text, chr(10)) AS lines FROM r),
        p AS (SELECT id,
                list_filter(lines, l -> contains(lower(l), 'постамат'))[1] AS pl,
                list_filter(lines, l -> contains(lower(l), 'доставка'))[1] AS dl
              FROM x),
        e AS (SELECT id,
                regexp_extract(pl, '$pat', 1) AS pday,
                regexp_extract(pl, '$pat', 2) AS pmon,
                regexp_extract(dl, '$pat', 1) AS dday,
                regexp_extract(dl, '$pat', 2) AS dmon
              FROM p)
        SELECT id, printf('postamat - %s, delivery - %s',
                 ${fmt("pday", "pmon")}, ${fmt("dday", "dmon")}) AS delivery_norm
        FROM e ORDER BY id"""
      }),

    "q_offers_fallback" -> Spec(
      Parsing.offersWithFallback,
      Some(s"""
        WITH $domSellersCtes,
        cap AS (
          SELECT * FROM read_json('${Ingestion.FixturesDir}/offers_captured.jsonl',
                                  format='newline_delimited',
                                  columns={idx: 'BIGINT', product_id: 'VARCHAR',
                                           seller: 'VARCHAR', price: 'BIGINT',
                                           delivery_date: 'VARCHAR'})),
        unioned AS (
          SELECT product_id, idx, seller, price, delivery_date,
                 'captured_json' AS source, 1 AS pr
          FROM cap
          UNION ALL
          SELECT 'P200', CAST(row_idx AS BIGINT), seller, price, delivery_date,
                 'dom', 2
          FROM dom_sellers),
        kept AS (
          SELECT *, nullif(delivery_date, '') AS dd
          FROM (SELECT *, min(pr) OVER (PARTITION BY product_id) AS best
                FROM unioned)
          WHERE pr = best)
        SELECT product_id, lower(trim(seller)) AS seller_key,
               arg_min(trim(seller), idx) AS seller,
               min(source) AS source,
               coalesce(min(CASE WHEN price > 0 THEN price END), 0) AS price,
               arg_min(dd, idx) FILTER (WHERE dd IS NOT NULL) AS delivery_date,
               count(*) AS n_merged
        FROM kept GROUP BY product_id, lower(trim(seller))
        ORDER BY product_id, seller_key""")),

    // EP3 end-to-end composition: landed capture → fallback+merge →
    // positive-price filter → bot flags → floors → the A9 global
    // aggregate, replayed as one chained-CTE oracle (the integration
    // pin on top of the per-stage rows).
    "q_analyze_pipeline" -> Spec(
      Parsing.analyzePipeline,
      Some(s"""
        WITH $domSellersCtes,
        cap AS (
          SELECT * FROM read_json('${Ingestion.FixturesDir}/offers_captured.jsonl',
                                  format='newline_delimited',
                                  columns={idx: 'BIGINT', product_id: 'VARCHAR',
                                           seller: 'VARCHAR', price: 'BIGINT',
                                           delivery_date: 'VARCHAR'})),
        unioned AS (
          SELECT product_id, idx, seller, price, 1 AS pr
          FROM cap
          UNION ALL
          SELECT 'P200', CAST(row_idx AS BIGINT), seller, price, 2
          FROM dom_sellers),
        kept AS (
          SELECT * FROM (SELECT *, min(pr) OVER (PARTITION BY product_id) AS best
                         FROM unioned)
          WHERE pr = best),
        merged AS (
          SELECT product_id,
                 coalesce(min(CASE WHEN price > 0 THEN price END), 0) AS price
          FROM kept GROUP BY product_id, lower(trim(seller))),
        off AS (SELECT product_id, price FROM merged WHERE price > 0),
        fl AS (SELECT product_id, price,
                      min(price) OVER (PARTITION BY product_id) AS mn,
                      median(price) OVER (PARTITION BY product_id) AS md
               FROM off),
        fb AS (SELECT product_id, price,
                      ((price - mn >= 0 AND price - mn <= 100.0)
                       OR (price - mn >= 0 AND
                           (CASE WHEN mn > 0
                                 THEN CAST(price - mn AS DOUBLE) / mn
                                 ELSE 0 END) <= 0.0025))
                      AND (md - mn <= 3000.0) AS is_bot
               FROM fl),
        pp AS (SELECT product_id, count(*) AS n_offers, min(price) AS min_price,
                      max(price) - min(price) AS spread,
                      CAST(sum(CASE WHEN is_bot THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_bots
               FROM fb GROUP BY product_id),
        pf AS (SELECT *, CASE WHEN n_bots >= 2
                              THEN greatest(0.0, CAST(min_price AS DOUBLE) - 200.0)
                              ELSE CAST(min_price AS DOUBLE) END
                           AS predicted_min_24h
               FROM pp)
        SELECT CAST(count(*) AS BIGINT) AS n_products,
               CAST(sum(n_offers) AS BIGINT) AS n_offers,
               CAST(sum(n_bots) AS BIGINT) AS n_bots,
               ${rnd("CAST(sum(n_bots) AS DOUBLE) / CAST(sum(n_offers) AS DOUBLE)", 6)} AS bot_share,
               ${rnd(s"${sumDec("spread")} / CAST(count(*) AS DOUBLE)", 6)} AS avg_spread,
               median(spread) AS median_spread,
               max(spread) AS max_spread,
               min(min_price) AS best_entry_price,
               min(predicted_min_24h) AS best_floor_24h
        FROM pf""")),

    "q_extract_config" -> Spec(
      Parsing.extractConfig,
      Some {
        val balanced3 = """BACKEND\.components\.configurator = (\{([^{}]|\{([^{}]|\{[^{}]*\})*\})*\})"""
        s"""
        WITH c AS (
          SELECT regexp_extract(content, '$balanced3', 1) AS cfg
          FROM read_text('${Ingestion.FixturesDir}/product_page.html'))
        SELECT cfg AS config_json,
               json_extract_string(cfg, '$$.title') AS title,
               json_extract_string(cfg, '$$.meta.brand') AS brand,
               CAST(json_array_length(cfg, '$$.variants') AS BIGINT) AS n_variants,
               json_extract_string(cfg, '$$.variants[0].code') AS first_code,
               TRY_CAST(regexp_extract(json_extract_string(cfg, '$$.variants[0].size'), '([0-9]{2,3})', 1) AS INTEGER) AS first_size_num,
               concat(upper(substr(json_extract_string(cfg, '$$.color'), 1, 1)),
                      substr(json_extract_string(cfg, '$$.color'), 2)) AS color
        FROM c"""
      }),

    "q_config_variants" -> Spec(
      Parsing.configVariants,
      Some {
        val balanced3 = """BACKEND\.components\.configurator = (\{([^{}]|\{([^{}]|\{[^{}]*\})*\})*\})"""
        s"""
        WITH c AS (
          SELECT regexp_extract(content, '$balanced3', 1) AS cfg
          FROM read_text('${Ingestion.FixturesDir}/product_page.html')),
        i AS (
          SELECT cfg, unnest(range(CAST(json_array_length(cfg, '$$.variants') AS INTEGER))) AS idx
          FROM c)
        SELECT CAST(idx + 1 AS INTEGER) AS variant_idx,
               json_extract_string(cfg, '$$.variants[' || idx || '].code') AS code,
               json_extract_string(cfg, '$$.variants[' || idx || '].size') AS size,
               TRY_CAST(regexp_extract(json_extract_string(cfg, '$$.variants[' || idx || '].size'),
                 '([0-9]{2,3})', 1) AS INTEGER) AS size_num,
               CAST(json_extract(cfg, '$$.variants[' || idx || '].stock.count') AS INTEGER) AS stock_count
        FROM i ORDER BY variant_idx"""
      }),

    // Unbounded-depth walk: the oracle mirrors the engine's DFS with a
    // recursive CTE — children enumerated by zipped unnest (DuckDB's
    // range() cannot take lateral args), path = zero-padded DFS
    // position on both engines so arg_max(label, path) = last write in
    // document order (the reference's out[pid] = label semantics).
    "q_matrix_walk" -> Spec(
      Parsing.matrixWalk,
      Some(s"""
        WITH RECURSIVE
        src AS (
          SELECT regexp_extract(content, 'BACKEND\\.components\\.configurator = (\\{.*\\});', 1) AS cfg
          FROM read_text('${Ingestion.FixturesDir}/product_page_matrix.html')),
        nodes(js, depth, path) AS (
          SELECT unnest([json_extract(cfg, '$$.matrix[' || x || ']')
                         FOR x IN range(CAST(coalesce(json_array_length(cfg, '$$.matrix'), 0) AS BIGINT))]),
                 1,
                 unnest([printf('%04d', x)
                         FOR x IN range(CAST(coalesce(json_array_length(cfg, '$$.matrix'), 0) AS BIGINT))])
          FROM src
          UNION ALL
          SELECT unnest([json_extract(n.js, '$$.matrix[' || x || ']')
                         FOR x IN range(CAST(coalesce(json_array_length(n.js, '$$.matrix'), 0) AS BIGINT))]),
                 n.depth + 1,
                 unnest([n.path || '.' || printf('%04d', x)
                         FOR x IN range(CAST(coalesce(json_array_length(n.js, '$$.matrix'), 0) AS BIGINT))])
          FROM nodes n),
        m AS (
          SELECT js, depth, path,
                 coalesce(nullif(json_extract_string(js, '$$.characteristic.title'), ''),
                          json_extract_string(js, '$$.characteristic.id'), '') AS title,
                 trim(coalesce(json_extract_string(js, '$$.characteristic.id'), '')) AS size_id,
                 trim(coalesce(nullif(json_extract_string(js, '$$.characteristic.values[0].dimension'), ''),
                               json_extract_string(js, '$$.characteristic.dimension'), '')) AS dim,
                 json_extract_string(js, '$$.productCode') AS pid
          FROM nodes),
        hits AS (
          SELECT pid, size_id || CASE WHEN dim <> '' THEN ' ' || dim ELSE '' END AS size_label, depth, path
          FROM m
          WHERE regexp_matches(title, '(?i)размер|size') AND nullif(pid, '') IS NOT NULL AND size_id <> '')
        SELECT pid AS product_code, arg_max(size_label, path) AS size_label,
               CAST(count(*) AS BIGINT) AS n_matches, CAST(max(depth) AS INTEGER) AS max_depth
        FROM hits GROUP BY pid ORDER BY product_code""")),

    // ── Fleet / glob / attribute / template operators ─────────────────

    "q_glob_orders" -> Spec(
      Fleet.globOrders,
      Some(s"""
        WITH raw AS (
          SELECT regexp_extract(filename, '([^/]+)\\.csv', 1) AS source_file, qty, amount
          FROM read_csv('${Ingestion.FixturesDir}/shards/*orders*.csv',
                        delim=';', header=true, all_varchar=true, filename=true))
        SELECT source_file, count(*) AS n_rows,
               CAST(sum(coalesce(TRY_CAST(regexp_replace(qty, '[^0-9]', '', 'g') AS INTEGER), 0)) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(coalesce(CAST(floor(TRY_CAST(regexp_replace(replace(amount, ',', '.'), '[^0-9.]', '', 'g') AS DOUBLE)) AS BIGINT), 0) AS DECIMAL(20,4))) AS DOUBLE) AS sum_amount
        FROM raw GROUP BY source_file ORDER BY source_file""")),

    "q_fleet_stats" -> Spec(
      Fleet.fleetStats,
      Some("""
        WITH offers AS (
          SELECT l_partkey AS sku, count(DISTINCT l_suppkey) AS n_sellers,
                 min(l_extendedprice) AS lowest_comp,
                 max(CASE WHEN l_suppkey = 7 THEN 1 ELSE 0 END) AS has_us
          FROM lineitem GROUP BY l_partkey),
        st AS (
          SELECT p_partkey AS sku, (p_partkey % 5 <> 0) AS active,
                 CASE WHEN p_partkey % 7 = 0 THEN 0
                      ELSE CAST(p_size * 10 AS BIGINT) END AS stock
          FROM part)
        SELECT count(*) AS total_skus,
               CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS active_skus,
               CAST(sum(CASE WHEN stock = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_stock,
               CAST(sum(CASE WHEN n_sellers > 1 THEN 1 ELSE 0 END) AS BIGINT) AS competing_skus,
               CAST(sum(has_us) AS BIGINT) AS skus_with_us,
               CAST(sum(CAST(lowest_comp AS DECIMAL(20,4))) AS DOUBLE) AS sum_lowest
        FROM offers JOIN st USING (sku)""")),

    "q_color_size_sort" -> Spec(
      Fleet.colorSizeSort,
      Some("""
        SELECT p_partkey, p_name,
               CASE WHEN regexp_extract(p_name, '^([a-z]+) ', 1)
                         IN ('red','blue','green','yellow','black','white')
                    THEN regexp_extract(p_name, '^([a-z]+) ', 1)
                    ELSE '' END AS color,
               p_size AS size_num
        FROM part ORDER BY color, size_num DESC, p_partkey""")),

    "q_brand_attributes" -> Spec(
      Fleet.brandAttributes,
      Some("""
        SELECT p_brand,
               array_to_string(list_sort(list(DISTINCT p_type)), ',') AS types_all,
               array_to_string(list_sort(list(DISTINCT CAST(p_size AS VARCHAR))), ',') AS sizes_all,
               count(DISTINCT p_type) AS n_types
        FROM part GROUP BY p_brand ORDER BY p_brand""")),

    "q_event_props" -> Spec(
      Fleet.eventProps,
      Some(s"""
        WITH t AS (
          SELECT CASE event_type
                   WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
                   WHEN 'signup' THEN 'conversion' WHEN 'purchase' THEN 'revenue'
                   WHEN 'error' THEN 'ops' ELSE 'other' END AS event_class,
                 TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
                 value
          FROM events)
        SELECT event_class, count(*) AS n_events,
               CAST(sum(k) AS BIGINT) AS sum_k,
               ${rnd(s"${sumDec("value")} / CAST(count(*) AS DOUBLE)", 6)} AS avg_value
        FROM t GROUP BY event_class ORDER BY event_class""")),

    "q_event_windows" -> Spec(
      Fleet.eventWindows,
      Some(s"""
        SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                 '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n_events,
               ${sumDec("value")} AS sum_value
        FROM events
        GROUP BY time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), event_type
        ORDER BY window_start, event_type""")),

    "q_event_sessions" -> Spec(
      Fleet.eventSessions,
      Some(s"""
        WITH e AS (
          SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
        x AS (
          SELECT *, epoch_us(t) AS us,
                 lag(epoch_us(t)) OVER (PARTITION BY event_type ORDER BY t, event_id) AS prev_us
          FROM e),
        y AS (
          SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > ${graft.streaming.Sessions.GapMicros}
                         THEN 1 ELSE 0 END AS new_s
          FROM x),
        z AS (
          SELECT *, CAST(sum(new_s) OVER (PARTITION BY event_type ORDER BY t, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          FROM y)
        SELECT event_type, session_seq,
               strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n_events,
               (max(us) - min(us)) // 1000000 AS duration_secs
        FROM z GROUP BY event_type, session_seq
        ORDER BY event_type, session_seq""")),

    // The STREAMING sessionization path itself, oracle-checked: the
    // engine runs the session_window job to completion and returns what
    // append mode emitted; the oracle is the batch gap-islands chain
    // restricted to sessions finalized by the last watermark. Spark
    // tracks watermarks in MILLISECONDS (max event time ms-floored,
    // minus the 2 h delay), and a session finalizes once its end
    // (last event + gap) is at or before it — the wm CTE mirrors that
    // arithmetic exactly.
    "q_event_sessions_stream" -> Spec(
      graft.streaming.Sessions.eventSessionsStream,
      Some(s"""
        WITH e AS (
          SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
        x AS (
          SELECT *, epoch_us(t) AS us,
                 lag(epoch_us(t)) OVER (PARTITION BY event_type ORDER BY t, event_id) AS prev_us
          FROM e),
        y AS (
          SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > ${graft.streaming.Sessions.GapMicros}
                         THEN 1 ELSE 0 END AS new_s
          FROM x),
        z AS (
          SELECT *, CAST(sum(new_s) OVER (PARTITION BY event_type ORDER BY t, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          FROM y),
        g AS (
          SELECT event_type, session_seq,
                 strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
                 CAST(count(*) AS BIGINT) AS n_events,
                 max(us) AS end_us
          FROM z GROUP BY event_type, session_seq),
        wm AS (
          SELECT (max(us) // 1000 - ${2L * 3600L * 1000L}) * 1000 AS w FROM x)
        SELECT event_type, session_start, n_events
        FROM g, wm
        WHERE end_us + ${graft.streaming.Sessions.GapMicros} <= w
        ORDER BY event_type, session_start""")),

    "q_size_messages" -> Spec(
      Fleet.sizeMessages,
      Some(s"""
        WITH $sizeCtes
        SELECT c_custkey,
               printf('Customer %d: recommended size %s (alternatives: %s)',
                      c_custkey, best_size,
                      CASE WHEN alt_sizes = '' THEN 'none' ELSE alt_sizes END) AS message
        FROM rec ORDER BY c_custkey""")),

    "q_salted_sku_stats" -> Spec(
      Relational.saltedSkuStats,
      Some(s"""
        SELECT l_partkey AS sku, count(*) AS n_lines,
               ${sumDec("l_quantity")} AS sum_qty,
               min(l_extendedprice) AS min_price
        FROM lineitem GROUP BY l_partkey ORDER BY sku""")),

    // The salted FACT-FACT join must be multiset-identical to the plain
    // join — the oracle is the unsalted SQL.
    "q_salted_order_revenue" -> Spec(
      Relational.saltedOrderRevenue,
      Some(s"""
        SELECT o_orderstatus, count(*) AS n_lines,
               ${sumDec("l_extendedprice * (1.0 - l_discount)")} AS sum_revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Sink round trips: the builders write through the real sinks and
    // return the READ-BACK frame; the oracles state the final on-disk
    // contract purely from the input tables.
    "q_upsert_rerun" -> Spec(
      sources.SinkRoundTrips.upsertRerun,
      Some("""
        SELECT o_orderkey, o_orderstatus, 'v2' AS src FROM orders
        WHERE o_orderkey % 7 BETWEEN 2 AND 5
        UNION ALL
        SELECT o_orderkey, o_orderstatus, 'v1' AS src FROM orders
        WHERE o_orderkey % 7 BETWEEN 0 AND 1
        ORDER BY o_orderkey""")),

    // K1: partial v1 summary overwritten by the full v2 summary — the
    // read-back must hold ONLY v2 (an appending or part-file-leaking
    // overwrite surfaces as extra rows / the v1 tag).
    "q_overwrite_rerun" -> Spec(
      sources.SinkRoundTrips.overwriteRerun,
      Some(s"""
        SELECT o_orderstatus, count(*) AS n_orders,
               ${sumDec("o_totalprice")} AS total, 'v2' AS ver
        FROM orders GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),

    // K3: two disjoint appended batches — the read-back is their exact
    // union (overwrite loses batch0; duplication doubles rows).
    "q_append_rerun" -> Spec(
      sources.SinkRoundTrips.appendRerun,
      Some("""
        SELECT o_orderkey, o_orderstatus, 'batch0' AS src FROM orders
        WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, 'batch1' AS src FROM orders
        WHERE o_orderkey % 3 = 1
        ORDER BY o_orderkey""")),

    // K6: per-brand settings document through the JSON sink and back.
    "q_json_sink_roundtrip" -> Spec(
      sources.SinkRoundTrips.jsonSinkRoundtrip,
      Some("""
        SELECT p_brand AS brand, count(*) AS n_parts,
               printf('%.2f', min(p_retailprice)) AS min_retail
        FROM part GROUP BY p_brand
        ORDER BY brand""")),

    // S3: newest-by-mtime snapshot selection — the stale snapshot is
    // written LAST but stamped older, so only mtime ordering (not write
    // order) yields the fresh rows.
    "q_newest_snapshot" -> Spec(
      sources.SinkRoundTrips.newestSnapshot,
      Some("""
        SELECT o_orderkey, o_orderstatus, 'fresh' AS snapshot FROM orders
        WHERE o_orderkey % 3 = 1
        ORDER BY o_orderkey""")),

    // S5: typed-schema CSV read with DROPMALFORMED row validation over
    // the committed stock fixture (3 planted malformed rows must drop).
    "q_typed_stock" -> Spec(
      Ingestion.stockFromTyped,
      Some(s"""
        SELECT sku, qty, price
        FROM read_csv('${Ingestion.FixturesDir}/raw_stock.csv', header=true,
               columns={'sku': 'BIGINT', 'qty': 'INTEGER', 'price': 'DOUBLE'},
               ignore_errors=true)
        ORDER BY sku""")),

    // X12: trailing-id href extraction incl. the no-match -> '' contract.
    "q_href_ids" -> Spec(
      Parsing.hrefIds,
      Some("""
        WITH h AS (
          SELECT p_partkey AS sku,
                 CASE CAST(p_partkey % 3 AS INT)
                   WHEN 0 THEN '/p/item-' || CAST(p_partkey * 7 AS VARCHAR) || '/'
                   WHEN 1 THEN '/shop/item-' || CAST(p_partkey * 7 AS VARCHAR)
                   ELSE '/p/items/' || CAST(p_partkey AS VARCHAR) END AS href
          FROM part)
        SELECT sku, href, regexp_extract(href, '-(\d+)/?$', 1) AS href_id
        FROM h ORDER BY sku""")),

    "q_export_roundtrip" -> Spec(
      sources.SinkRoundTrips.exportRoundtrip,
      Some("""
        SELECT l_partkey AS sku, printf('%.2f', min(l_extendedprice)) AS min_price
        FROM lineitem WHERE l_partkey <= 200
        GROUP BY l_partkey ORDER BY sku""")),

    "q_orc_roundtrip" -> Spec(
      sources.SinkRoundTrips.orcRoundtrip,
      Some("""
        SELECT l_partkey AS sku, min(l_extendedprice) AS min_price,
               count(*) AS n_rows
        FROM lineitem GROUP BY 1 HAVING sku <= 200 ORDER BY sku""")),

    // Training-shard writer: the oracle recomputes the md5-shuffle
    // order, global token offsets and shard membership STRAIGHT from
    // the documents table — so the hash gate proves the partitioned
    // write+read-back landed exactly the shards the rule defines.
    "q_train_shards" -> Spec(
      sources.SinkRoundTrips.trainShardsRoundtrip,
      Some(s"""
        WITH d AS (SELECT doc_id,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
                          md5(CAST(doc_id AS VARCHAR)) AS key
                   FROM documents),
        o AS (SELECT *, sum(nt) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING) AS gend
              FROM d),
        s AS (SELECT doc_id, nt, key,
                     (gend - nt) // ${sources.SinkRoundTrips.ShardTokenBudget} AS shard_id
              FROM o)
        SELECT CAST(shard_id AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               min(key) AS first_key,
               md5(array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY key), ',')) AS docs_hash
        FROM s GROUP BY shard_id ORDER BY shard_id""")),

    "q_partitioned_roundtrip" -> Spec(
      sources.SinkRoundTrips.partitionedRoundtrip,
      Some(s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE strftime(l_shipdate, '%Y-%m') = '${sources.SinkRoundTrips.PartitionMonth}'
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Z-order clustered layout (sources.ZOrder): lineitem rewritten on
    // the Morton curve of (l_partkey, l_suppkey), read back through the
    // statistics-pruned scan with the box filter. Oracle recomputes the
    // box aggregate from the flat source; ZOrderSpec proves the
    // row-group skipping from the parquet footers.
    "q_zorder_layout" -> Spec(
      sources.ZOrder.zorderRoundtrip,
      Some(s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
               ${sumDec("l_extendedprice")} AS revenue
        FROM lineitem
        WHERE l_partkey BETWEEN ${sources.ZOrder.PartLo} AND ${sources.ZOrder.PartHi}
          AND l_suppkey BETWEEN ${sources.ZOrder.SuppLo} AND ${sources.ZOrder.SuppHi}
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Small-file compaction (sources.Compact): lineitem landed as 64
    // tiny files, rewritten to ~target-size files by the scan packer's
    // bin plan (zero shuffle, one task per output file), aggregated
    // from the compacted read-back. Oracle recomputes from the flat
    // source; CompactSpec pins the bin plan and size bounds.
    "q_compact_small_files" -> Spec(
      sources.Compact.compactRoundtrip,
      Some(s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
               ${sumDec("l_extendedprice")} AS revenue
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Bucketed-layout join (sources.Sinks.bucketedJoinRoundtrip): both
    // sides persisted bucketBy(orderkey), joined exchange-free (plan
    // pinned by BucketedJoinSpec); the oracle recomputes the join
    // aggregate from the flat tables.
    "q_bucketed_join" -> Spec(
      sources.Sinks.bucketedJoinRoundtrip,
      Some(s"""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
               ${sumDec("l_extendedprice")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    "q_xlsx_roundtrip" -> Spec(
      sources.SinkRoundTrips.xlsxRoundtrip,
      Some("""
        SELECT l_partkey AS sku, printf('%.2f', min(l_extendedprice)) AS min_price
        FROM lineitem WHERE l_partkey <= 200
        GROUP BY l_partkey ORDER BY sku""")),

    // Distributed multi-workbook export (K5 at 100×): 4 task-written
    // shards + manifest, read back through the distributed reader; the
    // builder asserts manifest/read-back agreement, the oracle pins the
    // union's values — a lost or torn shard fails either way.
    "q_xlsx_sharded" -> Spec(
      sources.SinkRoundTrips.xlsxSharded,
      Some("""
        SELECT l_partkey AS sku, printf('%.2f', min(l_extendedprice)) AS min_price
        FROM lineitem WHERE l_partkey <= 200
        GROUP BY l_partkey ORDER BY sku""")),

    // ── failure-surface rows (sources.Resilience): corrupt input in,
    // skip/coerce conventions out, each against a real corrupt artifact.

    // Directory scan with a planted torn-footer parquet shard: the two
    // intact slices survive, the torn shard is skipped (per-reader
    // ignoreCorruptFiles); oracle recomputes the intact slices.
    "q_corrupt_parquet_scan" -> Spec(
      sources.Resilience.corruptParquetScan,
      Some(s"""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
               ${sumDec("o_totalprice")} AS total
        FROM orders WHERE o_orderkey % 3 IN (0, 1)
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // NDJSON with garbage lines mid-stream (committed crashed-scraper
    // fixture): DROPMALFORMED + key-presence keeps the recoverable rows;
    // the oracle reads the SAME fixture with DuckDB's ignore_errors.
    "q_malformed_ndjson" -> Spec(
      sources.Resilience.malformedNdjson,
      Some(s"""
        SELECT sku, seller, price, stock
        FROM read_json('${operators.Ingestion.FixturesDir}/corrupt/offers_bad_lines.ndjson',
          format='newline_delimited',
          columns={sku:'BIGINT', seller:'VARCHAR', price:'BIGINT', stock:'BIGINT'},
          ignore_errors=true)
        WHERE sku IS NOT NULL ORDER BY sku""")),

    // Workbook whose shared-string table is missing (committed fixture):
    // t="s" refs coerce to null, numeric/inline cells untouched. DuckDB
    // cannot read xlsx, so the oracle states the expected rows as
    // literals — exact because the fixture is byte-pinned in git.
    "q_xlsx_missing_sst" -> Spec(
      sources.Resilience.xlsxMissingSharedStrings,
      Some("""
        SELECT * FROM (VALUES
          (CAST(101 AS BIGINT), CAST(NULL AS VARCHAR), CAST(5 AS BIGINT)),
          (102, NULL, 7),
          (103, 'inline ok', 9)) AS t(sku, name, qty)
        ORDER BY sku""")),

    // End-to-end STREAMING repricer: the builder lands offers, runs the
    // AvailableNow stream, and returns the JSONL decision log; the
    // oracle restates the reprice rule (ignored merchant 7, lowest comp,
    // clamp to ±20% with half-up cents, 50.0 hysteresis, changed only).
    "q_repricer_actions" -> Spec(
      streaming.Repricer.repricerActions,
      Some(s"""
        WITH comp AS (
          SELECT l_partkey AS sku, min(l_extendedprice) AS lowest_comp
          FROM lineitem WHERE l_extendedprice > 0 AND l_suppkey <> 7
          GROUP BY l_partkey),
        t AS (
          SELECT p_partkey AS sku, p_retailprice AS current_price, lowest_comp,
                 least(greatest(lowest_comp - 50.0, ${rnd("p_retailprice * 0.8", 2)}),
                       ${rnd("p_retailprice * 1.2", 2)}) AS tgt
          FROM part JOIN comp ON p_partkey = comp.sku),
        f AS (
          SELECT sku, current_price, lowest_comp,
                 CASE WHEN abs(tgt - current_price) <= 50.0
                      THEN current_price ELSE tgt END AS target_price
          FROM t)
        SELECT sku, current_price, lowest_comp, target_price
        FROM f WHERE target_price <> current_price
        ORDER BY sku""")),

    // MULTI-BATCH streaming repricer (A12 + T5 cadence): three offer
    // batches at staged trigger times t0 / t0+30s / t0+60s with a
    // 1-minute per-SKU interval — the oracle replays the fold: batch 0
    // acts on every changed price, batch 1 only on SKUs batch 0 did not
    // act on (inside the interval), batch 2 on SKUs not acted on in
    // batch 1 (30 s elapsed — still gated) INCLUDING those acted on in
    // batch 0 (EXACTLY interval_min elapsed — eligible per the >=
    // equality); batch_id and action_ts stamps are part of the hash.
    "q_repricer_stream" -> Spec(
      streaming.Repricer.repricerStream,
      Some {
        val ts = streaming.Repricer.StreamTimes
        def cohort(k: Int) = s"""
          c$k AS (
            SELECT l_partkey AS sku, min(l_extendedprice) AS lowest_comp
            FROM lineitem
            WHERE l_extendedprice > 0 AND l_suppkey <> 7 AND l_orderkey % 3 = $k
            GROUP BY l_partkey),
          t$k AS (
            SELECT s.sku, s.cur, lowest_comp,
                   least(greatest(lowest_comp - 50.0, s.mn), s.mx) AS tgt
            FROM s JOIN c$k ON s.sku = c$k.sku),
          a$k AS (
            SELECT sku, cur AS current_price, lowest_comp,
                   CASE WHEN abs(tgt - cur) <= 50.0 THEN cur ELSE tgt END
                     AS target_price
            FROM t$k)"""
        s"""
        WITH s AS (
          SELECT p_partkey AS sku, p_retailprice AS cur,
                 ${rnd("p_retailprice * 0.8", 2)} AS mn,
                 ${rnd("p_retailprice * 1.2", 2)} AS mx
          FROM part),
        ${cohort(0)},
        f0 AS (SELECT sku, CAST(0 AS BIGINT) AS batch_id,
                      CAST(${ts(0)} AS BIGINT) AS action_ts,
                      current_price, lowest_comp, target_price
               FROM a0 WHERE target_price <> current_price),
        ${cohort(1)},
        f1 AS (SELECT sku, CAST(1 AS BIGINT) AS batch_id,
                      CAST(${ts(1)} AS BIGINT) AS action_ts,
                      current_price, lowest_comp, target_price
               FROM a1 WHERE target_price <> current_price
                 AND sku NOT IN (SELECT sku FROM f0)),
        ${cohort(2)},
        f2 AS (SELECT sku, CAST(2 AS BIGINT) AS batch_id,
                      CAST(${ts(2)} AS BIGINT) AS action_ts,
                      current_price, lowest_comp, target_price
               FROM a2 WHERE target_price <> current_price
                 AND sku NOT IN (SELECT sku FROM f1))
        SELECT sku, batch_id, action_ts, current_price, lowest_comp,
               target_price
        FROM (SELECT * FROM f0 UNION ALL SELECT * FROM f1
              UNION ALL SELECT * FROM f2)
        ORDER BY sku, batch_id"""
      }),

    "q_ann_ivf" -> Spec(VectorOps.annIvf, Some(ivfSql(1))),

    "q_ann_ivf_probe2" -> Spec(
      VectorOps.annIvfProbe2, Some(ivfSql(VectorOps.IvfNProbe))),

    "q_media_stats" -> Spec(
      Multimodal.mediaStats,
      Some(s"""
        WITH m AS (
          SELECT CASE TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER) % 3
                   WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                 CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                 md5(CAST(encode(text) AS VARCHAR)) AS content_hash,
                 CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE)
                   / ${Multimodal.FrameBytes}) AS BIGINT) AS n_frames
          FROM documents)
        SELECT kind, count(*) AS n_items,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
               ${rnd(s"${sumDec("n_bytes")} / CAST(count(*) AS DOUBLE)", 6)} AS avg_bytes,
               CAST(sum(n_frames) AS BIGINT) AS total_frames,
               count(DISTINCT content_hash) AS n_distinct_contents
        FROM m GROUP BY kind ORDER BY kind""")),

    "q_media_frames" -> Spec(
      Multimodal.mediaFrames,
      Some(s"""
        WITH m AS (
          SELECT doc_id AS media_id,
                 CASE TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER) % 3
                   WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                 text, CAST(strlen(text) AS BIGINT) AS n_bytes
          FROM documents),
        f AS (SELECT *, (n_bytes + ${Multimodal.FrameBytes} - 1) // ${Multimodal.FrameBytes} AS n_frames FROM m),
        g AS (SELECT *, 2 * ((n_frames - 1) // 2) AS li FROM f)
        SELECT media_id, kind, n_bytes, n_frames,
               (n_frames + 1) // 2 AS n_sampled,
               least(64, n_bytes) AS thumb_bytes,
               md5(text[1:64]) AS thumb_hash,
               CASE WHEN li = n_frames - 1
                    THEN n_bytes - li * ${Multimodal.FrameBytes}
                    ELSE CAST(${Multimodal.FrameBytes} AS BIGINT) END AS last_sampled_bytes
        FROM g ORDER BY media_id""")),

    // REAL-codec decode over the committed PNG fixtures: the oracle
    // recomputes dimensions and channel sums from the fixture
    // GENERATOR's pixel formulas (tools/MakeMediaFixtures), so the
    // javax.imageio decode inside the mapPartitions stage is checked
    // against ground truth that never touches javax.imageio.
    "q_media_decode" -> Spec(
      Multimodal.mediaDecode,
      Some(s"""
        WITH imgs AS (SELECT CAST(t.range AS BIGINT) AS i
                      FROM range(0, ${Multimodal.MediaFixtureCount}) t),
        xs AS (SELECT i, unnest([v FOR v IN range(0, 16 + i)]) AS x FROM imgs),
        px AS (SELECT i, x, unnest([v FOR v IN range(0, 12 + i)]) AS y FROM xs)
        SELECT i AS media_id,
               CAST(16 + i AS INTEGER) AS width,
               CAST(12 + i AS INTEGER) AS height,
               CAST(count(*) AS BIGINT) AS n_pixels,
               CAST(sum((x * 7 + y * 13 + i * 31) % 256) AS BIGINT) AS sum_r,
               CAST(sum((x * 3 + y * 5 + i * 17) % 256) AS BIGINT) AS sum_g,
               CAST(sum((x * 11 + y * 2 + i * 7) % 256) AS BIGINT) AS sum_b
        FROM px GROUP BY i ORDER BY media_id""")),

    // Audio twin of q_media_decode: every value recomputed from the WAV
    // generator's PCM sample formula (MakeAudioFixtures), never from a
    // sound API — the decode itself is what the hash checks. RMS is the
    // one derived double: long→double division and sqrt are both
    // IEEE-correctly-rounded single ops, so the engines agree bitwise
    // before the lockstep half-up rounding.
    "q_media_audio" -> Spec(
      Multimodal.mediaAudio,
      Some(s"""
        WITH a AS (SELECT CAST(t.range AS BIGINT) AS i
                   FROM range(0, ${Multimodal.AudioFixtureCount}) t),
        fr AS (SELECT i, unnest([v FOR v IN range(0, 400 + 80 * i)]) AS f FROM a),
        sm AS (SELECT i, f, unnest([v FOR v IN range(0, 1 + i % 2)]) AS c FROM fr),
        s AS (SELECT i, ((f * 17 + c * 5 + i * 29) % 2003) - 1001 AS v FROM sm)
        SELECT i AS media_id,
               CAST(8000 + 500 * i AS INTEGER) AS sample_rate,
               CAST(1 + i % 2 AS INTEGER) AS n_channels,
               CAST(400 + 80 * i AS BIGINT) AS n_frames,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(v) AS BIGINT) AS sum_samples,
               CAST(sum(v * v) AS BIGINT) AS sum_squares,
               ${rnd("sqrt(CAST(sum(v * v) AS DOUBLE) / count(*))", 6)} AS rms
        FROM s GROUP BY i ORDER BY media_id""")),

    // Video twin: per-frame channel sums recomputed from the GIF
    // generator's palette/pixel formulas (MakeVideoFixtures) — the
    // multi-frame demux AND the LZW pixel decode are inside the hash.
    "q_media_video" -> Spec(
      Multimodal.mediaVideo,
      Some(s"""
        WITH v AS (SELECT CAST(t.range AS BIGINT) AS i
                   FROM range(0, ${Multimodal.VideoFixtureCount}) t),
        fr AS (SELECT i, unnest([f FOR f IN range(0, 3 + i)]) AS f FROM v),
        xs AS (SELECT i, f, unnest([x FOR x IN range(0, 12 + i)]) AS x FROM fr),
        px AS (SELECT i, f, x, unnest([y FOR y IN range(0, 10 + i)]) AS y FROM xs),
        p AS (SELECT i, f, (x * 5 + y * 11 + f * 23 + i * 13) % 256 AS p FROM px)
        SELECT i AS media_id,
               CAST(f AS INTEGER) AS frame_idx,
               CAST(12 + i AS INTEGER) AS width,
               CAST(10 + i AS INTEGER) AS height,
               CAST(count(*) AS BIGINT) AS n_pixels,
               CAST(sum(p) AS BIGINT) AS sum_r,
               CAST(sum((p * 7) % 256) AS BIGINT) AS sum_g,
               CAST(sum((p * 13) % 256) AS BIGINT) AS sum_b
        FROM p GROUP BY i, f ORDER BY media_id, frame_idx""")),

    "q_media_features" -> Spec(
      Multimodal.mediaFeatures,
      Some {
        // The documents corpus is pure ASCII (verified at both SFs), so
        // per-byte arithmetic over the payload is per-character ord().
        val lanes = (0 until 8).map { j =>
          s"CAST(coalesce(list_sum([ord(text[i]) FOR i IN range(1, CAST(strlen(text) AS INTEGER) + 1) IF (i - 1) % 8 = $j]), 0) AS BIGINT) AS lane$j"
        }.mkString(",\n               ")
        s"""
        WITH m AS (
          SELECT doc_id AS media_id,
                 CASE TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER) % 3
                   WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                 text, CAST(strlen(text) AS BIGINT) AS n_bytes
          FROM documents)
        SELECT media_id, kind, n_bytes,
               CAST(32 + n_bytes % 97 AS INTEGER) AS width,
               CAST(32 + (n_bytes * 31) % 89 AS INTEGER) AS height,
               $lanes
        FROM m ORDER BY media_id"""
      }),

    // C4-style cross-document segment dedup: first-wins is ordered by
    // (doc_id, seg_idx), so the window tie-break — and therefore every
    // per-doc count and the reassembled-text hash — is deterministic.
    "q_segment_dedup" -> Spec(
      CorpusOps.segmentDedup,
      Some {
        val st = CorpusOps.SegTokens
        s"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        seg AS (
          SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
                 array_to_string(list_slice(ws, i * $st + 1,
                   least((i + 1) * $st, len(ws))), ' ') AS seg_text,
                 CAST(least((i + 1) * $st, len(ws)) - i * $st AS BIGINT) AS n_seg_tokens
          FROM d, unnest(range(0, (len(ws) + ${st - 1}) // $st)) AS t(i)),
        f AS (
          SELECT *, row_number() OVER (PARTITION BY md5(seg_text)
                   ORDER BY doc_id, seg_idx) = 1 AS kept
          FROM seg)
        SELECT doc_id, count(*) AS n_segments,
               CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
               CAST(count(*) FILTER (NOT kept) AS BIGINT) AS n_removed,
               CAST(coalesce(sum(n_seg_tokens) FILTER (kept), 0) AS BIGINT) AS kept_tokens,
               CAST(coalesce(sum(n_seg_tokens) FILTER (NOT kept), 0) AS BIGINT) AS removed_tokens,
               md5(coalesce(array_to_string(list(seg_text ORDER BY seg_idx)
                 FILTER (kept), ' '), '')) AS cleaned_hash
        FROM f GROUP BY doc_id ORDER BY doc_id"""
      }),

    // Cross-document duplicated-span excision: grams shared by ≥ 2
    // docs mark covered token positions; the cleaned reassembly and
    // maximal-span count are recomputed independently from the same
    // 60-bit md5 gram keys. cov[i-1] at i=1 is NULL in DuckDB (OR
    // absorbs it); Spark guards index 0 with `when`.
    "q_span_removal" -> Spec(
      CorpusOps.spanRemoval,
      Some {
        val k = CorpusOps.SpanGramK
        s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        occ AS (
          SELECT doc_id, CAST(i AS BIGINT) AS start,
                 CAST('0x' || substr(md5(array_to_string(ws[i:i+${k - 1}], ' ')), 1, 15) AS BIGINT) AS gh
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - ${k - 2})) AS i
                FROM t WHERE len(ws) >= $k)),
        dup AS (SELECT gh FROM occ GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
        cov AS (
          SELECT doc_id, list_sort(list(DISTINCT p)) AS cov
          FROM (SELECT doc_id, unnest(range(start, start + $k)) AS p
                FROM occ JOIN dup USING (gh))
          GROUP BY doc_id)
        SELECT t.doc_id,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(len(cov) AS BIGINT) AS n_removed,
               CAST(len([i FOR i IN range(1, len(cov) + 1)
                         IF i = 1 OR cov[i] != cov[i-1] + 1]) AS BIGINT) AS n_spans,
               md5(coalesce(array_to_string([ws[i] FOR i IN range(1, len(ws) + 1)
                                    IF NOT list_contains(cov, i)], ' '), '')) AS clean_hash
        FROM t JOIN cov ON t.doc_id = cov.doc_id
        ORDER BY t.doc_id"""
      }),

    // Source-level curation: the keep verdict compares ROUNDED
    // aggregates against the shared threshold constants, so it is
    // cross-engine stable; qsum sums 6-dp decimals exactly.
    "q_source_curation" -> Spec(
      CorpusOps.sourceCuration,
      Some {
        val stopPred = TextOps.Stopwords.map(w => s"t = '$w'").mkString("(", " OR ", ")")
        val quality = rnd(
          """0.4 * (least(1.0, n / 20.0) * least(1.0, 80.0 / greatest(n, 80.0)))
             + 0.3 * (CASE WHEN nstop / n BETWEEN 0.02 AND 0.3 THEN 1.0 ELSE 0.5 END)
             + 0.3 * (nd / n)""", 6)
        s"""
        WITH s AS (
          SELECT doc_id, source,
                 md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS bh,
                 CAST(len(ws) AS DOUBLE) AS n,
                 CAST(len(list_filter(ws, t -> $stopPred)) AS DOUBLE) AS nstop,
                 CAST(len(list_distinct(ws)) AS DOUBLE) AS nd
          FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)),
        q AS (SELECT doc_id, source, bh, CAST(n AS BIGINT) AS nt,
                     CAST($quality AS DECIMAL(20,6)) AS q FROM s),
        c AS (SELECT bh, count(*) AS n FROM q GROUP BY bh),
        a AS (SELECT source, count(*) AS n_docs,
                     CAST(sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
                     sum(q.q) AS qsum, sum(q.nt) AS tok_sum
              FROM q JOIN c USING (bh) GROUP BY source)
        SELECT source, n_docs, dup_docs,
               ${rnd("CAST(dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS dup_rate,
               ${rnd("CAST(qsum AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS mean_quality,
               ${rnd("CAST(tok_sum AS DOUBLE) / CAST(n_docs AS DOUBLE)", 4)} AS mean_tokens,
               (dup_rate <= ${CorpusOps.MaxSourceDupRate}
                AND mean_quality >= ${CorpusOps.MinSourceQuality}) AS keep
        FROM a ORDER BY source"""
      }),

    // Mixture weights under temperature 1/2: sqrt is IEEE-correctly-
    // rounded on both engines, each group's sqrt is rounded to 6 dp
    // and summed as an exact decimal — the denominator is bit-identical.
    "q_mixture_weights" -> Spec(
      CorpusOps.mixtureWeights,
      Some(s"""
        $mixtureCtes
        SELECT lang, n_docs, n_tokens, raw_share, mix_weight,
               ${rnd("mix_weight * CAST(total_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 4)} AS epochs
        FROM mixw ORDER BY lang""")),

    // Deterministic materialization of the mixture: floor(epochs)
    // copies plus one more iff the doc's md5 bucket clears the rounded
    // fractional threshold — a pure key function, like q_doc_sample.
    "q_mixture_resample" -> Spec(
      CorpusOps.mixtureResample,
      Some(s"""
        $mixtureCtes,
        e AS (SELECT lang,
                     ${rnd("mix_weight * CAST(total_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 4)} AS epochs
              FROM mixw)
        SELECT d.doc_id, d.lang, e.epochs,
               CAST(floor(epochs) + CASE WHEN
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
                     < floor((epochs - floor(epochs)) * 256 + 0.5)
                 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        FROM documents d JOIN e USING (lang) ORDER BY doc_id""")),

    // PII planting is doc_id-keyed and replayed verbatim, so the
    // hash-checked counts measure real extraction (langid convention).
    "q_pii_redact" -> Spec(
      CorpusOps.piiRedact,
      Some(s"""
        WITH p AS (
          SELECT doc_id, text ||
            CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
            CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
            CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS pt
          FROM documents),
        c AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(pt, '${CorpusOps.EmailRe}')) AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(pt, '${CorpusOps.PhoneRe}')) AS BIGINT) AS n_phones,
                 CAST(len(regexp_extract_all(pt, '${CorpusOps.IpRe}')) AS BIGINT) AS n_ips,
                 md5(regexp_replace(regexp_replace(regexp_replace(pt,
                   '${CorpusOps.EmailRe}', '<EMAIL>', 'g'),
                   '${CorpusOps.PhoneRe}', '<PHONE>', 'g'),
                   '${CorpusOps.IpRe}', '<IP>', 'g')) AS redacted_hash
          FROM p)
        SELECT doc_id, n_emails, n_phones, n_ips,
               n_emails + n_phones + n_ips AS n_pii, redacted_hash
        FROM c ORDER BY doc_id""")),

    // Naive-Bayes learned quality filter: labels are "above the
    // corpus-median q_doc_quality score"; every token's log-likelihood
    // ratio is log2 of a ratio of exact-integer doubles, rounded to
    // 6 dp and summed as an exact decimal (surprisal recipe), so the
    // confusion matrix and per-cell means hash identically.
    "q_nb_quality" -> Spec(
      CorpusOps.nbQualityFilter,
      Some {
        val stopPred = TextOps.Stopwords.map(w => s"t = '$w'").mkString("(", " OR ", ")")
        val quality = rnd(
          """0.4 * (least(1.0, n / 20.0) * least(1.0, 80.0 / greatest(n, 80.0)))
             + 0.3 * (CASE WHEN nstop / n BETWEEN 0.02 AND 0.3 THEN 1.0 ELSE 0.5 END)
             + 0.3 * (nd / n)""", 6)
        s"""
        WITH s AS (
          SELECT doc_id, ws, CAST(len(ws) AS DOUBLE) AS n,
                 CAST(len(list_filter(ws, t -> $stopPred)) AS DOUBLE) AS nstop,
                 CAST(len(list_distinct(ws)) AS DOUBLE) AS nd
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        qv AS (SELECT doc_id, ws, $quality AS q FROM s),
        med AS (SELECT ${rnd("quantile_cont(q, 0.5)", 6)} AS m FROM qv),
        lab AS (SELECT doc_id, ws, q >= m AS label_keep FROM qv, med),
        dtt AS (SELECT doc_id, label_keep, token, CAST(count(*) AS BIGINT) AS dcnt
                FROM (SELECT doc_id, label_keep, unnest(ws) AS token FROM lab)
                WHERE token <> '' GROUP BY doc_id, label_keep, token),
        dlf AS (SELECT doc_id, label_keep,
                       unnest(['#len' || CAST(CAST(floor(len(ws) / 10.0) AS INTEGER) AS VARCHAR),
                               '#ttr' || CAST(CAST(floor(CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE) * 10) AS INTEGER) AS VARCHAR)]) AS token,
                       CAST(1 AS BIGINT) AS dcnt
                FROM lab),
        dt AS (SELECT * FROM dtt UNION ALL SELECT * FROM dlf),
        cc AS (SELECT token,
                      CAST(coalesce(sum(dcnt) FILTER (label_keep), 0) AS BIGINT) AS c1,
                      CAST(coalesce(sum(dcnt) FILTER (NOT label_keep), 0) AS BIGINT) AS c0
               FROM dt GROUP BY token),
        voc AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c0) AS BIGINT) AS n0,
                       CAST(count(*) AS BIGINT) AS v FROM cc),
        model AS (SELECT token,
                         CAST(${rnd("log2(CAST((c1 + 1) * (n0 + v) AS DOUBLE) / CAST((c0 + 1) * (n1 + v) AS DOUBLE))", 6)} AS DECIMAL(20,6)) AS llr
                  FROM cc, voc),
        pri AS (SELECT CAST(${rnd("log2(CAST(count(*) FILTER (label_keep) + 1 AS DOUBLE) / CAST(count(*) FILTER (NOT label_keep) + 1 AS DOUBLE))", 6)} AS DECIMAL(20,6)) AS prior
                FROM lab),
        sc AS (SELECT doc_id, label_keep, sum(dcnt * llr) AS sum_llr
               FROM dt JOIN model USING (token) GROUP BY doc_id, label_keep)
        SELECT label_keep, score > 0 AS pred_keep, count(*) AS n_docs,
               ${rnd("CAST(sum(score) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS mean_score
        FROM (SELECT doc_id, label_keep, sum_llr + prior AS score FROM sc, pri)
        GROUP BY label_keep, pred_keep ORDER BY label_keep, pred_keep"""
      }),

    // Winnowing: every hash is an exact integer, the window minima and
    // the distinct selected set are integer ops — no float anywhere.
    "q_winnow_fingerprint" -> Spec(
      CorpusOps.winnowFingerprints,
      Some(s"""
        $winnowCtes
        SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
               CAST(len(list_distinct(wins)) AS BIGINT) AS n_fingerprints,
               md5(array_to_string(list_transform(list_sort(list_distinct(wins)),
                 x -> CAST(x AS VARCHAR)), ',')) AS fp_hash
        FROM win ORDER BY doc_id""")),

    // ROLLUP subtotals: grouping bitmask + exact-decimal sums; both
    // engines share the SQL-standard GROUPING() bit order.
    "q_sales_rollup" -> Spec(
      Relational.salesRollup,
      Some(s"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(*) AS n_rows,
               ${sumDec("l_quantity")} AS sum_qty,
               ${sumDec("l_extendedprice * (1.0 - l_discount)")} AS sum_revenue
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus""")),

    // SCD2 history: lag-change detection, run numbering, lead-closed
    // validity intervals — identical windows on both engines.
    "q_price_history_scd2" -> Spec(
      Relational.priceHistoryScd2,
      Some("""
        WITH obs AS (
          SELECT l_partkey AS sku, l_shipdate AS day, min(l_extendedprice) AS price
          FROM lineitem WHERE l_partkey < 100 GROUP BY sku, day),
        ch AS (
          SELECT *, CASE WHEN lag(price) OVER w IS NULL
                          OR lag(price) OVER w <> price THEN 1 ELSE 0 END AS changed
          FROM obs WINDOW w AS (PARTITION BY sku ORDER BY day)),
        runs AS (
          SELECT *, CAST(sum(changed) OVER (PARTITION BY sku ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
          FROM ch),
        ver AS (
          SELECT sku, version, min(price) AS price, min(day) AS from_day,
                 count(*) AS n_days
          FROM runs GROUP BY sku, version)
        SELECT sku, version, price,
               strftime(from_day, '%Y-%m-%d') AS valid_from,
               strftime(lead(from_day) OVER wv, '%Y-%m-%d') AS valid_to,
               lead(from_day) OVER wv IS NULL AS is_current, n_days
        FROM ver WINDOW wv AS (PARTITION BY sku ORDER BY version)
        ORDER BY sku, version""")),

    // Date-spine gap fill: generate_series spine, grid completion,
    // IGNORE NULLS last_value — DuckDB's window form of Spark's
    // last(ignoreNulls) over the same running frame.
    "q_daily_price_fill" -> Spec(
      Relational.dailyPriceFill,
      Some("""
        WITH obs AS (
          SELECT l_partkey AS sku, l_shipdate AS d, min(l_extendedprice) AS p
          FROM lineitem
          WHERE l_partkey < 30 AND l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'
          GROUP BY sku, d),
        spine AS (
          SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-12-31',
            INTERVAL 1 DAY)) AS DATE) AS d),
        grid AS (SELECT sku, d FROM (SELECT DISTINCT sku FROM obs), spine),
        j AS (SELECT g.sku, g.d, o.p FROM grid g
              LEFT JOIN obs o ON g.sku = o.sku AND g.d = o.d)
        SELECT strftime(d, '%Y-%m-%d') AS day, sku,
               last_value(p IGNORE NULLS) OVER (PARTITION BY sku ORDER BY d
                 ROWS UNBOUNDED PRECEDING) AS price,
               p IS NOT NULL AS is_observed
        FROM j ORDER BY sku, day""")),

    // Rolling z-score: the oracle mirrors the exact-decimal rolling sums
    // and the rounded mean/std derivations (q_seller_stats shapes) over
    // the same trailing frame; the z division runs on the ROUNDED mean
    // and std in both engines, so one IEEE division matches bit-exactly.
    "q_price_anomalies" -> Spec(
      Relational.priceAnomalies,
      Some {
        val look = Relational.AnomalyLookback
        val minObs = Relational.AnomalyMinObs
        val z = Relational.AnomalyZ
        s"""
        WITH daily AS (
          SELECT l_partkey AS sku, l_shipdate AS d, min(l_extendedprice) AS p
          FROM lineitem GROUP BY sku, d),
        w AS (
          SELECT sku, d, p,
                 count(p) OVER h AS n_prior,
                 sum(CAST(p AS $D)) OVER h AS sp,
                 sum(CAST(p * p AS $D)) OVER h AS sp2
          FROM daily
          WINDOW h AS (PARTITION BY sku ORDER BY d
                       ROWS BETWEEN $look PRECEDING AND 1 PRECEDING)),
        s AS (
          SELECT sku, d, p, CAST(n_prior AS BIGINT) AS n_prior,
                 CASE WHEN n_prior >= $minObs
                      THEN ${rnd("CAST(sp AS DOUBLE) / CAST(n_prior AS DOUBLE)", 6)}
                      END AS mean_prior,
                 CASE WHEN n_prior >= $minObs
                      THEN ${rnd("""sqrt(greatest(0.0,
                        CAST(sp2 AS DOUBLE) / CAST(n_prior AS DOUBLE)
                        - (CAST(sp AS DOUBLE) / CAST(n_prior AS DOUBLE))
                          * (CAST(sp AS DOUBLE) / CAST(n_prior AS DOUBLE))))""", 6)}
                      END AS std_prior
          FROM w),
        t AS (
          SELECT sku, d, p, n_prior, mean_prior, std_prior,
                 CASE WHEN n_prior >= $minObs AND std_prior > 0.0
                      THEN ${rnd("(p - mean_prior) / std_prior", 6)}
                      END AS z_score
          FROM s)
        SELECT sku, strftime(d, '%Y-%m-%d') AS day, p AS price, n_prior,
               mean_prior, z_score,
               coalesce(n_prior >= $minObs AND std_prior > 0.0
                        AND abs(z_score) >= $z, false) AS is_anomaly
        FROM t ORDER BY sku, day"""
      }),

    // CUBE: all four grouping combinations in one pass; gid via the
    // SQL-standard GROUPING() bit order both engines share.
    "q_sales_cube" -> Spec(
      Relational.salesCube,
      Some(s"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n_orders,
               ${sumDec("o_totalprice")} AS sum_total
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY gid, o_orderstatus, o_orderpriority""")),

    // Long→wide pivot with a FIXED value list (no discovery scan):
    // the oracle is the conditional-aggregation expansion the pivot
    // compiles to.
    "q_event_pivot" -> Spec(
      Relational.eventPivot,
      Some {
        val cols = Relational.EventTypes
          .map(t => s"count(*) FILTER (event_type = '$t') AS n_$t")
          .mkString(",\n               ")
        s"""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               $cols
        FROM events GROUP BY 1 ORDER BY day"""
      }),

    // Wide→long unpivot of the same matrix — explicit zero cells
    // included, which a plain group-by can never emit.
    "q_event_unpivot" -> Spec(
      Relational.eventUnpivot,
      Some {
        val cols = Relational.EventTypes
          .map(t => s"count(*) FILTER (event_type = '$t') AS n_$t")
          .mkString(",\n                 ")
        val arms = Relational.EventTypes
          .map(t => s"SELECT day, '$t' AS event_type, n_$t AS n_events FROM wide")
          .mkString("\n        UNION ALL ")
        s"""
        WITH wide AS (
          SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 $cols
          FROM events GROUP BY 1)
        $arms
        ORDER BY day, event_type"""
      }),

    // Binned interval join: the oracle runs the plain θ range join
    // (fine in DuckDB at sf0.01); the engine runs the bin-bucketed
    // equi-join + residual filter — value equality proves the binning
    // decomposition exact.
    "q_range_join_binned" -> Spec(
      Relational.rangeJoinBinned,
      Some(s"""
        WITH p AS (
          SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, value
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s, value AS cv
          FROM events WHERE event_type = 'click'),
        m AS (
          SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_prior_clicks,
                 ${sumDec("cv")} AS sum_click_value
          FROM p JOIN c ON p.user_id = c.user_id
            AND c.s < p.t AND c.s >= p.t - ${Relational.RangeJoinWindowUs}
          GROUP BY 1)
        SELECT p.event_id, p.user_id, p.value AS purchase_value,
               coalesce(n_prior_clicks, 0) AS n_prior_clicks,
               coalesce(sum_click_value, 0.0) AS sum_click_value
        FROM p LEFT JOIN m USING (event_id) ORDER BY event_id""")),

    // DSIR importance weights: hashed-bigram models replayed bucket
    // for bucket (md5 feature hash, add-one smoothing); per-bucket
    // log-ratios fixed to DECIMAL(20,6) before the per-doc weighted
    // sum, selection predicate on the exact decimal.
    "q_dsir_weights" -> Spec(
      CorpusOps.dsirWeights,
      Some {
        val b = CorpusOps.DsirBuckets
        val tgtPred = CorpusOps.DsirTargetSources
          .map(s => s"'$s'").mkString("source IN (", ", ", ")")
        s"""
        WITH base AS (
          SELECT doc_id, source,
                 list_filter(string_split(text, ' '), t -> t <> '') AS ws
          FROM documents),
        bgl AS (
          SELECT doc_id, source,
                 unnest(list_transform(list_zip(ws[1:len(ws)-1], ws[2:len(ws)]),
                        p -> p[1] || ' ' || p[2])) AS bigram
          FROM base),
        pb AS (
          SELECT doc_id, source,
                 CAST('0x' || substr(md5(bigram), 1, 15) AS BIGINT) % $b AS bucket,
                 CAST(count(*) AS BIGINT) AS dcnt
          FROM bgl GROUP BY 1, 2, 3),
        raw AS (SELECT bucket, CAST(sum(dcnt) AS BIGINT) AS raw_cnt
                FROM pb GROUP BY 1),
        tgt AS (SELECT bucket, CAST(sum(dcnt) AS BIGINT) AS tgt_cnt
                FROM pb WHERE $tgtPred GROUP BY 1),
        tot AS (SELECT CAST(sum(dcnt) AS BIGINT) AS rawn,
                       CAST(coalesce(sum(dcnt) FILTER ($tgtPred), 0) AS BIGINT) AS tgtn
                FROM pb),
        model AS (
          SELECT bucket,
                 CAST(${rnd(
                   s"""log2(CAST(coalesce(tgt_cnt, 0) + 1 AS DOUBLE)
                           / CAST(tgtn + $b AS DOUBLE))
                      - log2(CAST(raw_cnt + 1 AS DOUBLE)
                           / CAST(rawn + $b AS DOUBLE))""", 6)} AS DECIMAL(20,6)) AS lr
          FROM raw LEFT JOIN tgt USING (bucket), tot),
        agg AS (
          SELECT doc_id, source, CAST(sum(dcnt) AS BIGINT) AS n_bigrams,
                 sum(dcnt * lr) AS wdec
          FROM pb JOIN model USING (bucket) GROUP BY 1, 2)
        SELECT doc_id, $tgtPred AS is_target, n_bigrams,
               ${rnd("CAST(wdec AS DOUBLE)", 4)} AS dsir_weight,
               wdec > 0 AS more_target_like
        FROM agg ORDER BY doc_id"""
      }),

    // Grouped boxplot: exact cent-granular quartiles from value-count
    // cumulatives, ceil-rank convention, integer Tukey fences.
    "q_price_boxplot" -> Spec(
      Relational.priceBoxplot,
      Some(s"""
        WITH cents AS (
          SELECT l_returnflag AS flag,
                 CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
          FROM lineitem),
        vc AS (SELECT flag, c, CAST(count(*) AS BIGINT) AS vcnt
               FROM cents GROUP BY 1, 2),
        cum AS (SELECT *, CAST(sum(vcnt) OVER (PARTITION BY flag ORDER BY c
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vcum,
                      CAST(sum(vcnt) OVER (PARTITION BY flag) AS BIGINT) AS n
                FROM vc),
        qs AS (SELECT flag, max(n) AS n_rows,
                      min(CASE WHEN vcum >= (n * 25 + 99) // 100 THEN c END) AS q25c,
                      min(CASE WHEN vcum >= (n * 50 + 99) // 100 THEN c END) AS q50c,
                      min(CASE WHEN vcum >= (n * 75 + 99) // 100 THEN c END) AS q75c
               FROM cum GROUP BY 1),
        f AS (SELECT *, q75c - q25c AS iqrc,
                     q25c - (3 * (q75c - q25c)) // 2 AS lof,
                     q75c + (3 * (q75c - q25c)) // 2 AS hif
              FROM qs),
        o AS (SELECT vc.flag,
                     CAST(coalesce(sum(CASE WHEN c < lof THEN vcnt ELSE 0 END), 0) AS BIGINT) AS n_low_outliers,
                     CAST(coalesce(sum(CASE WHEN c > hif THEN vcnt ELSE 0 END), 0) AS BIGINT) AS n_high_outliers
              FROM vc JOIN f ON vc.flag = f.flag GROUP BY 1)
        SELECT f.flag AS flag, n_rows,
               CAST(q25c AS DOUBLE) / 100.0 AS q25,
               CAST(q50c AS DOUBLE) / 100.0 AS median,
               CAST(q75c AS DOUBLE) / 100.0 AS q75,
               CAST(iqrc AS DOUBLE) / 100.0 AS iqr,
               n_low_outliers, n_high_outliers
        FROM f JOIN o ON f.flag = o.flag
        ORDER BY f.flag""")),

    // CDC compaction: keep-last-per-key with delete semantics, both
    // windows riding one key partitioning.
    "q_cdc_compact" -> Spec(Relational.cdcCompact, Some(cdcOracleSql)),

    // Streaming CDC compaction: the SAME oracle SQL as the batch twin
    // — stream and batch must hash identically.
    "q_cdc_stream" -> Spec(streaming.StreamOracle.cdcStream, Some(cdcOracleSql)),

    // DQ audit: every constraint an exact conditional count; the
    // referential check is NOT IN / left-anti on both engines.
    "q_dq_audit" -> Spec(
      Relational.dqAudit,
      Some("""
        WITH oa AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
                 CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_cust,
                 CAST(coalesce(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS bad_price,
                 CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END), 0) AS BIGINT) AS bad_status
          FROM orders),
        la AS (SELECT CAST(count(*) AS BIGINT) AS n_li FROM lineitem),
        orph AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans
                 FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        checks AS (
          SELECT 'orders.o_orderkey unique' AS "constraint",
                 n AS n_checked, n - n_keys AS n_violations FROM oa
          UNION ALL SELECT 'orders.o_custkey not null', n, null_cust FROM oa
          UNION ALL SELECT 'orders.o_totalprice positive', n, bad_price FROM oa
          UNION ALL SELECT 'orders.o_orderstatus in (O,F,P)', n, bad_status FROM oa
          UNION ALL SELECT 'lineitem.l_orderkey references orders', n_li, n_orphans
                    FROM la, orph)
        SELECT "constraint", n_checked, n_violations,
               n_violations = 0 AS passed
        FROM checks ORDER BY "constraint" """)),

    // Benford audit: digit via integer/string extraction (no log near
    // the bucketing); expected shares are shared compile-time literals.
    "q_benford" -> Spec(
      Relational.benfordDigits,
      Some {
        val arms = Relational.BenfordExpected.zipWithIndex
          .map { case (p, i) => s"WHEN ${i + 1} THEN CAST($p AS DOUBLE)" }
          .mkString(" ")
        s"""
        WITH d AS (
          SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
          FROM orders WHERE o_totalprice >= 1.0),
        c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
        t AS (SELECT *, CAST(sum(n_obs) OVER () AS BIGINT) AS n_total FROM c),
        e AS (SELECT digit, n_obs,
                     ${rnd("CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE)", 6)} AS obs_share,
                     CASE digit $arms END AS exp_share
              FROM t)
        SELECT digit, n_obs, obs_share, exp_share,
               ${rnd("abs(obs_share - exp_share)", 6)} AS abs_dev
        FROM e ORDER BY digit"""
      }),

    // Star rollup (TPC-H Q5 shape): dimension chain pruned by the
    // region filter before any fact-table work.
    "q_star_revenue" -> Spec(
      Relational.starRevenue,
      Some(s"""
        SELECT n_name, CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS order_year,
               count(*) AS n_lineitems,
               ${sumDec("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM region
        JOIN nation ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE r_name = 'ASIA'
        GROUP BY 1, 2 ORDER BY n_name, order_year""")),

    // A-ES weighted sample: md5 uniforms and the ln(u)/w key replayed
    // verbatim; top-k membership is deterministic (rounded key +
    // doc_id tie-break).
    "q_weighted_sample" -> Spec(
      CorpusOps.weightedSample,
      Some(s"""
        WITH d AS (
          SELECT doc_id, n_chars,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS h
          FROM documents WHERE n_chars > 0),
        k AS (
          SELECT doc_id, n_chars AS weight,
                 ${rnd(
                   "ln(CAST(h + 1 AS DOUBLE) / 4503599627370496.0) / CAST(n_chars AS DOUBLE)",
                   8)} AS es_key
          FROM d),
        top AS (SELECT * FROM k
                ORDER BY es_key DESC, doc_id LIMIT ${CorpusOps.WeightedSampleK})
        SELECT doc_id, weight, es_key,
               CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS INTEGER) AS rank
        FROM top ORDER BY rank""")),

    // Grouped OLS: five exact sums per group, two IEEE chains for the
    // coefficients; intercept derives from the ROUNDED slope.
    "q_price_trend" -> Spec(
      Relational.priceTrend,
      Some(s"""
        WITH obs AS (
          SELECT l_partkey AS sku, l_shipdate AS d, min(l_extendedprice) AS p
          FROM lineitem GROUP BY 1, 2),
        xy AS (
          SELECT sku,
                 CAST(date_diff('day', DATE '1995-01-01', CAST(d AS DATE)) AS BIGINT) AS x,
                 p FROM obs),
        s AS (
          SELECT sku, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(x * x) AS BIGINT) AS sx2,
                 sum(CAST(p AS $D)) AS sy,
                 sum(x * CAST(p AS $D)) AS sxy
          FROM xy GROUP BY 1),
        t AS (
          SELECT sku, n,
                 CASE WHEN n >= 2 AND n * sx2 - sx * sx <> 0
                      THEN ${rnd(
                        """(n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
                           / CAST(n * sx2 - sx * sx AS DOUBLE)""", 6)} END AS slope,
                 sx, sy
          FROM s)
        SELECT sku, n AS n_days, slope,
               CASE WHEN slope IS NOT NULL
                    THEN ${rnd(
                      "(CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)",
                      6)} END AS intercept,
               CASE WHEN slope > 0.01 THEN 'up'
                    WHEN slope < -0.01 THEN 'down'
                    WHEN slope IS NOT NULL THEN 'flat' END AS trend
        FROM t ORDER BY sku""")),

    // Multi-touch attribution: the oracle pairs via the θ range join,
    // the engine via the binned equi-join; decay weights and credit
    // shares are decimal-fixed at 6/4 dp before every sum.
    "q_multi_touch" -> Spec(
      Relational.multiTouchAttribution,
      Some(s"""
        WITH p AS (
          SELECT event_id AS p_id, user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS t, value
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT event_id AS c_id, user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS s
          FROM events WHERE event_type = 'click'),
        pr AS (
          SELECT p_id, c_id, t, s, value,
                 CAST(${rnd(
                   s"pow(2.0, -(CAST(t - s AS DOUBLE) / 1000000.0) / ${Relational.DecayHalfLifeSecs})",
                   6)} AS DECIMAL(20,6)) AS w
          FROM p JOIN c ON p.user_id = c.user_id
            AND c.s < p.t AND c.s >= p.t - ${Relational.RangeJoinWindowUs}),
        nw AS (SELECT *, CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n,
                      sum(w) OVER (PARTITION BY p_id) AS sw
               FROM pr),
        cr AS (SELECT c_id,
                      CAST(${rnd("value / CAST(n AS DOUBLE)", 4)} AS DECIMAL(20,4)) AS lin,
                      CAST(${rnd("value * CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)", 4)} AS DECIMAL(20,4)) AS dc
               FROM nw)
        SELECT c_id AS click_id, CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(lin) AS DOUBLE) AS credit_linear,
               CAST(sum(dc) AS DOUBLE) AS credit_decay
        FROM cr GROUP BY 1 ORDER BY click_id""")),

    // CCNet buckets: the tertile split replayed at bin granularity
    // with all-integer boundary arithmetic — no engine percentile
    // function (they interpolate differently) anywhere near the cut.
    "q_ccnet_buckets" -> Spec(
      CorpusOps.ccnetBuckets,
      Some(s"""
        WITH $bigramLmCtes,
        sc2 AS (
          SELECT doc_id,
                 ${rnd("CAST(sumdec AS DOUBLE) / CAST(n_bigrams AS DOUBLE)", 4)} AS score
          FROM agg),
        binned AS (
          SELECT doc_id, score, CAST(floor(score * 10) AS BIGINT) AS bin
          FROM sc2),
        bc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM binned GROUP BY 1),
        cum AS (SELECT bin, CAST(sum(n) OVER (ORDER BY bin
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
                       (SELECT CAST(count(*) AS BIGINT) FROM binned) AS tot
                FROM bc),
        lbl AS (SELECT bin, CASE WHEN 3 * c <= tot THEN 'head'
                                 WHEN 3 * c <= 2 * tot THEN 'middle'
                                 ELSE 'tail' END AS bucket
                FROM cum)
        SELECT doc_id, score, b.bin, bucket
        FROM binned b JOIN lbl USING (bin)
        ORDER BY doc_id""")),

    // Contrastive triplets: positives replay the banded-MinHash pair
    // chain; negatives replay the md5 bucket/exemplar pick — both
    // engines derive identical triplets from the corpus alone.
    "q_contrastive_triplets" -> Spec(
      CorpusOps.contrastiveTriplets,
      Some {
        val b = CorpusOps.TripletNegBuckets
        s"""
        WITH ${minhashPairCtes()},
        dd AS (
          SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % $b AS bucket
          FROM documents),
        rk AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rk
               FROM dd),
        ex AS (SELECT bucket,
                      min(CASE WHEN rk = 1 THEN doc_id END) AS ex1,
                      min(CASE WHEN rk = 2 THEN doc_id END) AS ex2
               FROM rk WHERE rk <= 2 GROUP BY 1),
        tri AS (
          SELECT doc_a AS anchor_id, doc_b AS positive_id,
                 CASE WHEN ex1 <> doc_a AND ex1 <> doc_b THEN ex1
                      WHEN ex2 <> doc_a AND ex2 <> doc_b THEN ex2 END AS negative_id,
                 jaccard AS pos_jaccard
          FROM pairs JOIN ex
            ON CAST('0x' || substr(md5('neg' || CAST(doc_a AS VARCHAR)), 1, 15) AS BIGINT) % $b = ex.bucket)
        SELECT anchor_id, positive_id, negative_id, pos_jaccard
        FROM tri WHERE negative_id IS NOT NULL
        ORDER BY anchor_id, positive_id"""
      }),

    // PIT join: the oracle runs the naive range join of facts to SCD2
    // validity intervals; the engine runs the union + ignore-nulls
    // window as-of plan — value equality proves the linear-scan
    // decomposition implements interval semantics exactly.
    "q_pit_join" -> Spec(
      Relational.pitJoin,
      Some("""
        WITH obs AS (
          SELECT l_partkey AS sku, l_shipdate AS day, min(l_extendedprice) AS price
          FROM lineitem WHERE l_partkey < 100 GROUP BY sku, day),
        ch AS (
          SELECT *, CASE WHEN lag(price) OVER w IS NULL
                          OR lag(price) OVER w <> price THEN 1 ELSE 0 END AS changed
          FROM obs WINDOW w AS (PARTITION BY sku ORDER BY day)),
        runs AS (
          SELECT *, CAST(sum(changed) OVER (PARTITION BY sku ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
          FROM ch),
        ver AS (
          SELECT sku, version, min(price) AS price, min(day) AS from_day
          FROM runs GROUP BY sku, version),
        hist AS (
          SELECT sku, version, price, from_day,
                 lead(from_day) OVER (PARTITION BY sku ORDER BY version) AS to_day
          FROM ver),
        f AS (
          SELECT l_orderkey, l_linenumber, l_partkey AS sku, l_shipdate AS d
          FROM lineitem WHERE l_partkey < 100)
        SELECT f.l_orderkey, f.l_linenumber, f.sku,
               strftime(f.d, '%Y-%m-%d') AS ship_day,
               hist.version AS asof_version, hist.price AS asof_price
        FROM f JOIN hist ON f.sku = hist.sku AND f.d >= hist.from_day
          AND (hist.to_day IS NULL OR f.d < hist.to_day)
        ORDER BY l_orderkey, l_linenumber""")),

    // Cohort retention: both engines truncate to Monday weeks; the
    // distinct-before-join keeps the joined frame at users × weeks.
    "q_cohort_retention" -> Spec(
      Relational.cohortRetention,
      Some(s"""
        WITH e AS (
          SELECT user_id,
                 CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w
          FROM events),
        cohort AS (SELECT user_id, min(w) AS cw FROM e GROUP BY 1),
        act AS (
          SELECT DISTINCT user_id, cw,
                 CAST((w - cw) // 7 AS BIGINT) AS week_index
          FROM (SELECT DISTINCT user_id, w FROM e) JOIN cohort USING (user_id)),
        cells AS (SELECT cw, week_index, CAST(count(*) AS BIGINT) AS n_active
                  FROM act GROUP BY 1, 2),
        sizes AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
                  FROM cohort GROUP BY 1)
        SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, week_index, n_active,
               cohort_size,
               ${rnd("CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)", 6)} AS retention
        FROM cells JOIN sizes USING (cw)
        ORDER BY cohort_week, week_index""")),

    // Markov transitions: deterministic (ts, event_id) ordering pins
    // the lead() pairing; the matrix is |types|² rows on any corpus.
    "q_event_transitions" -> Spec(
      Relational.eventTransitions,
      Some(s"""
        WITH s AS (
          SELECT user_id, event_id, event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
          FROM events),
        t AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
              FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        w AS (SELECT *, CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
              FROM t)
        SELECT from_type, to_type, n,
               ${rnd("CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE)", 6)} AS p
        FROM w ORDER BY from_type, to_type""")),

    // Market-basket lift: exact co-occurrence counts from the bounded
    // basket self-join; the one derived double is a single IEEE
    // multiply-divide chain.
    "q_basket_lift" -> Spec(
      Affinity.basketLift,
      Some(s"""
        WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM it),
        ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item FROM it GROUP BY 1),
        pc AS (SELECT a.pk AS part_a, b.pk AS part_b,
                      CAST(count(*) AS BIGINT) AS n_pair
               FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= ${Affinity.BasketMinSupport})
        SELECT part_a, part_b, n_pair, ia.n_item AS n_a, ib.n_item AS n_b,
               ${rnd("CAST(n_pair AS DOUBLE) * n_orders / (ia.n_item * ib.n_item)", 6)} AS lift
        FROM pc JOIN ic ia ON part_a = ia.pk JOIN ic ib ON part_b = ib.pk, n
        ORDER BY part_a, part_b""")),

    // PageRank, unrolled: both engines run the SAME fixed iteration
    // chain with per-edge contributions rounded at 1e-10 and fixed to
    // DECIMAL before summing — an iterative fixpoint under the exact-
    // decimal recipe. Literals are printed from the Scala doubles so
    // the bits match.
    "q_item_pagerank" -> Spec(
      Affinity.itemPagerank,
      Some {
        val d = Affinity.PrDamping
        val iterCtes = (1 to Affinity.PrIters).map { k =>
          val prev = s"r${k - 1}"
          s"""c$k AS (
          SELECT e.dst AS node,
                 sum(CAST(${rnd(s"$d * CAST(r AS DOUBLE) / CAST(deg AS DOUBLE)", 10)} AS DECIMAL(20,10))) AS s
          FROM e JOIN $prev ON e.src = $prev.node GROUP BY 1),
        r$k AS (
          SELECT nodes.node, nodes.deg, nodes.nn,
                 CAST(${rnd(s"${1.0 - d} / CAST(nn AS DOUBLE)", 10)} AS DECIMAL(20,10))
                   + coalesce(s, CAST(0 AS DECIMAL(20,10))) AS r
          FROM nodes LEFT JOIN c$k ON nodes.node = c$k.node)"""
        }.mkString(",\n        ")
        s"""
        WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        pc AS (SELECT a.pk AS part_a, b.pk AS part_b
               FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= ${Affinity.BasketMinSupport}),
        e AS (SELECT part_a AS src, part_b AS dst FROM pc
              UNION ALL SELECT part_b, part_a FROM pc),
        degf AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        nf AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM degf),
        nodes AS (SELECT src AS node, deg, nn FROM degf, nf),
        r0 AS (SELECT node, deg, nn,
                      CAST(${rnd("1.0 / CAST(nn AS DOUBLE)", 10)} AS DECIMAL(20,10)) AS r
               FROM nodes),
        $iterCtes
        SELECT node, deg, ${rnd("CAST(r AS DOUBLE)", 8)} AS pagerank
        FROM r${Affinity.PrIters} ORDER BY node"""
      }),

    // Budget selection: the oracle replays the global running sum in
    // one window (fine for DuckDB); the engine computes the same
    // prefix sums in the two-phase bucketed form, so value equality
    // proves the decomposition exact (the q_doc_packing precedent).
    "q_token_budget" -> Spec(
      CorpusOps.tokenBudget,
      Some {
        val stopPred = TextOps.Stopwords.map(w => s"t = '$w'").mkString("(", " OR ", ")")
        val quality = rnd(
          """0.4 * (least(1.0, n / 20.0) * least(1.0, 80.0 / greatest(n, 80.0)))
             + 0.3 * (CASE WHEN nstop / n BETWEEN 0.02 AND 0.3 THEN 1.0 ELSE 0.5 END)
             + 0.3 * (nd / n)""", 6)
        s"""
        WITH s AS (
          SELECT doc_id, CAST(len(ws) AS DOUBLE) AS n,
                 CAST(len(list_filter(ws, t -> $stopPred)) AS DOUBLE) AS nstop,
                 CAST(len(list_distinct(ws)) AS DOUBLE) AS nd
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        qv AS (SELECT doc_id, $quality AS q, CAST(n AS BIGINT) AS n_tokens FROM s),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM qv),
        o AS (SELECT *, coalesce(CAST(sum(n_tokens)
                   OVER (ORDER BY q DESC, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                 0) AS cum_start
              FROM qv)
        SELECT doc_id, q AS quality_score, n_tokens, cum_start,
               cum_start < total // 2 AS selected,
               (cum_start < total // 2 AND cum_start + n_tokens > total // 2) AS is_cut
        FROM o, tot ORDER BY doc_id"""
      }),

    // Ordered funnel: the running conditional minima replay as the
    // same windows in SQL; (ts, event_id) ordering makes ties exact.
    "q_event_funnel" -> Spec(Fleet.eventFunnel, Some(funnelSql)),

    // The STREAMING funnel (per-user monotone CEP state machine) must
    // hash-match the batch funnel's own oracle — same SQL verbatim.
    "q_funnel_stream" -> Spec(
      streaming.StreamOracle.funnelStream, Some(funnelSql)),

    // MOSS match step over the winnowing index: the df cap and the
    // ≥2-df join guard replicate bit-for-bit, so the pair set and the
    // containment scores hash exactly.
    "q_shared_passages" -> Spec(
      CorpusOps.sharedPassages,
      Some(s"""
        $winnowCtes,
        fp AS (SELECT doc_id, unnest(list_distinct(wins)) AS f FROM win),
        dfc AS (SELECT f, count(*) AS c FROM fp GROUP BY f),
        kept AS (SELECT fp.doc_id, fp.f, dfc.c FROM fp JOIN dfc USING (f)
                 WHERE c <= ${CorpusOps.MaxFpDf}),
        sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
          WHERE a.c >= 2 GROUP BY doc_a, doc_b)
        SELECT doc_a, doc_b, n_shared,
               ${rnd("CAST(n_shared AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)", 6)} AS containment
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_shared >= ${CorpusOps.MinSharedFp}
        ORDER BY doc_a, doc_b""")),

    // BM25 "more-like-this": query docs' top TF-IDF keywords probe the
    // inverted index; Okapi scoring with the Lucene idf, per-term
    // contributions rounded at 6 dp and decimal-summed, ranks tie-broken
    // on doc_id — the formula text is kept in IDENTICAL shape on both
    // engines (never refactor 1.2*(1.0-0.75) into 0.3: the folded IEEE
    // value differs from the literal).
    "q_bm25_mlt" -> Spec(
      CorpusOps.bm25MoreLikeThis,
      Some(s"""
        WITH $bm25Ctes
        SELECT q_id, rank, doc_id, n_terms, CAST(s AS DOUBLE) AS bm25
        FROM rk WHERE rank <= ${CorpusOps.Bm25TopK}
        ORDER BY q_id, rank""")),

    // Hybrid dense+sparse retrieval: BM25 ranks fused with brute-cosine
    // dense ranks by reciprocal-rank fusion (k=60). Each channel's
    // contribution is one 6-dp-rounded double summed as exact decimals;
    // the full outer join keeps single-channel hits.
    "q_hybrid_rrf" -> Spec(
      CorpusOps.hybridRrf,
      Some(s"""
        WITH $bm25Ctes,
        dq AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < ${VectorOps.NQueries}),
        ds AS (SELECT q_id, e.vec_id AS neighbor_id,
                      ${rnd("list_dot_product(q_emb::DOUBLE[], e.embedding::DOUBLE[])", 6)} AS cos_sim
               FROM dq, embeddings e WHERE e.vec_id <> q_id),
        dr AS (SELECT q_id, neighbor_id,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY cos_sim DESC, neighbor_id) AS drank
               FROM ds),
        dtop AS (SELECT q_id, neighbor_id AS id, CAST(drank AS INTEGER) AS dense_rank
                 FROM dr WHERE drank <= ${VectorOps.TopK}),
        stop AS (SELECT q_id, doc_id AS id, rank AS sparse_rank FROM rk
                 WHERE rank <= ${CorpusOps.Bm25TopK} AND q_id < ${VectorOps.NQueries}),
        f AS (SELECT coalesce(d.q_id, st.q_id) AS q_id, coalesce(d.id, st.id) AS id,
                     d.dense_rank, st.sparse_rank,
                     (CASE WHEN d.dense_rank IS NOT NULL
                           THEN CAST(${rnd(s"1.0 / (${CorpusOps.RrfK}.0 + CAST(d.dense_rank AS DOUBLE))", 6)} AS DECIMAL(20,6))
                           ELSE CAST(0 AS DECIMAL(20,6)) END +
                      CASE WHEN st.sparse_rank IS NOT NULL
                           THEN CAST(${rnd(s"1.0 / (${CorpusOps.RrfK}.0 + CAST(st.sparse_rank AS DOUBLE))", 6)} AS DECIMAL(20,6))
                           ELSE CAST(0 AS DECIMAL(20,6)) END) AS rrf
              FROM dtop d FULL JOIN stop st ON d.q_id = st.q_id AND d.id = st.id),
        h AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY rrf DESC, id) AS INTEGER) AS rank FROM f)
        SELECT q_id, rank, id, dense_rank, sparse_rank, CAST(rrf AS DOUBLE) AS rrf
        FROM h WHERE rank <= ${CorpusOps.HybridTopK}
        ORDER BY q_id, rank"""))
  )

  /** BM25 oracle CTEs (base → … → rk), shared VERBATIM by q_bm25_mlt
    * and the hybrid-fusion row so the sparse channel cannot drift.
    */
  private lazy val bm25Ctes: String = s"""base AS (
          SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
          FROM documents),
        dt AS (
          SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, token,
                 CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, ws, unnest(ws) AS token FROM base)
          GROUP BY doc_id, len(ws), token),
        dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY token),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
          FROM (SELECT doc_id, max(dl) AS dl FROM dt GROUP BY doc_id)),
        kw AS (
          SELECT doc_id AS q_id, token,
                 ${rnd("tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))", 6)} AS score,
                 ${rnd(s"ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)", 6)} AS idf
          FROM dt JOIN dft USING (token), stats
          WHERE doc_id < ${CorpusOps.Bm25Queries}),
        qt AS (
          SELECT q_id, token, idf
          FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY score DESC, token) AS kw_rank FROM kw)
          WHERE kw_rank <= ${TextOps.KeywordsPerDoc}),
        sc AS (
          SELECT q_id, doc_id,
                 CAST(${rnd(s"idf * (CAST(tf AS DOUBLE) * (${CorpusOps.Bm25K1} + 1.0)) / (CAST(tf AS DOUBLE) + ${CorpusOps.Bm25K1} * (1.0 - ${CorpusOps.Bm25B}) + ${CorpusOps.Bm25K1} * ${CorpusOps.Bm25B} * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))", 6)} AS DECIMAL(20,6)) AS c
          FROM dt JOIN qt USING (token), stats
          WHERE doc_id <> q_id),
        agg AS (
          SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms, sum(c) AS s
          FROM sc GROUP BY q_id, doc_id),
        rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY s DESC, doc_id) AS INTEGER) AS rank FROM agg)"""

  // The ordered-funnel oracle (running conditional minima over the
  // (ts, event_id) per-user order) — shared VERBATIM by the batch row
  // (q_event_funnel) and the streaming row (q_funnel_stream).
  private lazy val funnelSql: String = s"""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 CAST(ts AS TIMESTAMP) AS t,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        x AS (
          SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
                      OVER (PARTITION BY user_id ORDER BY t, event_id
                            ROWS UNBOUNDED PRECEDING) AS v_us
          FROM e),
        y AS (
          SELECT *, min(CASE WHEN event_type = 'click' AND v_us IS NOT NULL THEN us END)
                      OVER (PARTITION BY user_id ORDER BY t, event_id
                            ROWS UNBOUNDED PRECEDING) AS c_us
          FROM x),
        per AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN us END) AS view_us,
                 min(CASE WHEN event_type = 'click' AND v_us IS NOT NULL THEN us END) AS click_us,
                 min(CASE WHEN event_type = 'purchase' AND c_us IS NOT NULL THEN us END) AS purchase_us
          FROM y GROUP BY user_id)
        SELECT user_id,
               CAST(CASE WHEN purchase_us IS NOT NULL THEN 3
                         WHEN click_us IS NOT NULL THEN 2
                         WHEN view_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
               strftime(make_timestamp(view_us), '%Y-%m-%d %H:%M:%S') AS view_time,
               strftime(make_timestamp(click_us), '%Y-%m-%d %H:%M:%S') AS click_time,
               strftime(make_timestamp(purchase_us), '%Y-%m-%d %H:%M:%S') AS purchase_time,
               (click_us - view_us) // 1000000 AS view_to_click_secs,
               (purchase_us - click_us) // 1000000 AS click_to_purchase_secs
        FROM per ORDER BY user_id"""

  // Shared winnowing CTE chain (positional gram hashes → window
  // minima); ends in `win` (doc_id, hs, wins). Constants in lockstep
  // with CorpusOps.WinnowWindow.
  private lazy val winnowCtes: String = {
    val w = CorpusOps.WinnowWindow
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        g AS (SELECT doc_id,
                     CASE WHEN len(ws) >= 3
                          THEN [CAST('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 8) AS BIGINT)
                                FOR i IN range(1, len(ws) - 1)]
                          ELSE CAST([] AS BIGINT[]) END AS hs
              FROM d),
        win AS (SELECT doc_id, hs,
                       CASE WHEN len(hs) >= $w
                            THEN [list_min(list_slice(hs, j, j + ${w - 1}))
                                  FOR j IN range(1, len(hs) - ${w - 2})]
                            WHEN len(hs) >= 1 THEN [list_min(hs)]
                            ELSE CAST([] AS BIGINT[]) END AS wins
                FROM g)"""
  }

  // Shared CTE chain of the mixture queries: per-language token totals
  // → 6-dp-rounded sqrt summed as exact decimal → rounded shares; ends
  // in `mixw` (lang, n_docs, n_tokens, total_tokens, raw_share,
  // mix_weight). Generated from the same constants CorpusOps uses.
  private lazy val mixtureCtes: String =
    s"""WITH gl AS (
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY lang),
        sq AS (SELECT *, CAST(${rnd("sqrt(CAST(n_tokens AS DOUBLE))", 6)} AS DECIMAL(20,6)) AS sqv FROM gl),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens, sum(sqv) AS total_sq FROM sq),
        mixw AS (
          SELECT lang, n_docs, n_tokens, total_tokens,
                 ${rnd("CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)", 6)} AS raw_share,
                 ${rnd("CAST(sqv AS DOUBLE) / CAST(total_sq AS DOUBLE)", 6)} AS mix_weight
          FROM sq, tot)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map { case (k, s) => k -> s.builder }

  def oracleSql: Map[String, String] =
    specs.collect { case (k, Spec(_, Some(sql))) =>
      k -> sql.stripMargin.linesIterator.map(_.trim).mkString(" ").trim
    }
}
