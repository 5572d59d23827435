package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Out, Scratch, Tables}
import graft.functions.F
import graft.sources.{ParquetMeta, Publish}

/** Similarity search over the `embeddings` table (64-dim unit-norm
  * float vectors): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale design:
  *   - The dot product is a sequential fold over zip_with — pure
  *     whole-stage-codegen expressions, no UDF. Left-to-right IEEE
  *     summation is deterministic, so any engine reproduces it
  *     bit-for-bit (the DuckDB oracle's list_dot_product is verified to
  *     fold identically).
  *   - Brute force broadcasts the QUERY side (small) against the full
  *     corpus: one scan, no shuffle of the corpus, top-k per query via
  *     window rank. Right for "few queries × huge corpus".
  *   - The LSH variant buckets every vector by the sign pattern of
  *     [[Planes]] projections and joins queries to candidates ON THE
  *     BUCKET KEY — at 100 TB no stage is all-pairs, and the bucket join
  *     shuffles each side once. Recall is tuned by planes-per-table and
  *     multi-probe; the harness uses 4 planes / 16 buckets, sized to the
  *     testdata.
  *   - Ranking ties are broken on (rounded similarity, neighbor id), so
  *     ordering is reproducible across engines even where float noise
  *     could reorder near-equal similarities.
  */
object VectorOps {

  /** Number of query vectors (vec_id < NQueries) and neighbors returned. */
  val NQueries = 8
  val TopK = 10
  val TopKLsh = 5

  /** Random-hyperplane count (bucket space = 2^NPlanes). */
  val NPlanes = 4
  val Dim = 64

  /** Plane-derivation dial for the near-dup channel: the bucket space
    * GROWS with the corpus so per-bucket occupancy stays ~constant.
    * [[derivedPlanes]] picks the smallest plane count in
    * [[NPlanes]]..[[MaxPlanes]] whose expected occupancy
    * N / 2^planes is at or under [[TargetOccupancy]] — pure integer
    * comparisons, so the SQL oracle reproduces the choice exactly
    * (no float log2 edge cases at powers of two).
    */
  val TargetOccupancy = 128
  val MaxPlanes = 24

  /** Smallest p in [[[NPlanes]], [[MaxPlanes]]] with n <= occ·2^p. */
  def derivedPlanes(n: Long): Int =
    (NPlanes to MaxPlanes)
      .find(p => n <= (TargetOccupancy.toLong << p))
      .getOrElse(MaxPlanes)

  /** Deterministic pseudo-random hyperplane coefficients, derived from
    * md5("p_d") so they are reproducible anywhere: integer k in
    * [-500, 500], used as the double k/500.0. Exposed as integers so the
    * SQL oracle can embed the exact same "k/500.0" expression.
    * [[planeIntsFor]] extends the same family to any plane count — the
    * scaling dial ([[embedNearDup]]'s note) uses planes beyond the
    * oracle-pinned first [[NPlanes]].
    */
  def planeIntsFor(nPlanes: Int): IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    IndexedSeq.tabulate(nPlanes, Dim) { (p, d) =>
      val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 1001 - 500).toInt
    }
  }

  lazy val planeInts: IndexedSeq[IndexedSeq[Int]] = planeIntsFor(NPlanes)

  private def emb(spark: SparkSession, dir: String) =
    Tables.load(spark, dir, "embeddings")

  /** The embeddings table spread over the cores (the TextOps
    * docsDistributed twin): the corpus can land as ONE parquet row
    * group, so Spark's scan gives one task and every per-vector map
    * stage (64-dim dots against centroids/hyperplanes, posexplode
    * stats, content hashing) runs single-threaded no matter how many
    * cores exist. One cheap keyed shuffle of (id + 64 floats) spreads
    * the compute, with an EXPLICIT partition count so AQE's size-based
    * coalescing cannot fold the tiny-in-bytes/huge-in-CPU exchange back
    * to one partition. At 100 TB the scan has thousands of splits and
    * this collapses into the partitioning the downstream joins need
    * anyway.
    */
  private[graft] def embDistributed(spark: SparkSession, dir: String) =
    emb(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))

  /** Left-to-right dot product in doubles — the native codegen
    * [[graft.functions.VectorDot]] expression (bit-identical to a
    * zip_with+aggregate fold, minus the interpreted HOF overhead that
    * dominates candidate-join stages).
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorDot(
      org.apache.spark.sql.SparkSession.active, a, b)

  // ---- Probe-and-rank kernel ----------------------------------------
  // Every ANN search path below is composed from these steps, so a
  // change to probing, ranking, ADC scoring or a serving/recall tail is
  // a change to one function. Tie-breaks are fixed here: cells by
  // (cell_sim desc, cell asc), neighbors by (sim desc, neighbor_id asc);
  // ranks restart per q_id. KernelTieBreakSpec pins all three.

  /** The query frame (q_id, q_emb, carry…): vectors with vec_id <
    * [[NQueries]], their `emb` column as the query vector.
    */
  private def queries(e: DataFrame, emb: String = "embedding",
      carry: Seq[String] = Nil): DataFrame =
    e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id") +: col(emb).as("q_emb") +:
        carry.map(col): _*)

  /** Rounded cosine of the query vector against a vector column (unit
    * norm, so cosine = dot). */
  private def qSim(emb: String): Column =
    F.roundHalfUp(dot(col("q_emb"), col(emb)), 6)

  /** Exact brute-force cosine frame (q_id, neighbor_id, cos_sim): every
    * query against every corpus vector except itself — the query side
    * broadcast, the corpus scanned once and never shuffled.
    */
  private def exactSims(corpus: DataFrame, q: DataFrame,
      emb: String = "embedding"): DataFrame =
    corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        qSim(emb).as("cos_sim"))

  /** Each query's `nprobe` best cells of a coarse quantizer `cents`
    * (`cell`, centroid): centroid similarity, then [[bestCells]].
    * Output (q_id, q_emb, `cell`, cell_sim).
    */
  private[graft] def probeCells(q: DataFrame, cents: DataFrame,
      cell: String, nprobe: Int): DataFrame =
    bestCells(q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("q_emb"), col(cell),
        qSim("centroid").as("cell_sim")), cell, nprobe)

  /** Keep the `nprobe` rows per q_id with the highest cell_sim, ties to
    * the smaller `cell` id.
    */
  private def bestCells(f: DataFrame, cell: String, nprobe: Int): DataFrame =
    f.withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(desc("cell_sim"), asc(cell))))
      .filter(col("rn") <= nprobe)
      .drop("rn")

  /** Per-query `rank` by (`sim` desc, neighbor_id asc); `k` keeps the
    * top k, None keeps every candidate ranked.
    */
  private[graft] def ranked(
      f: DataFrame, sim: String, k: Option[Int] = None): DataFrame = {
    val r = f.withColumn("rank", row_number().over(
      Window.partitionBy(col("q_id")).orderBy(desc(sim), asc("neighbor_id"))))
    k.fold(r)(n => r.filter(col("rank") <= n))
  }

  /** ADC scoring of candidate code rows already joined to the broadcast
    * per-query LUT ([[pqLut]]): the partials sum decimal-exact per
    * (q_id, carry…, neighbor) into `approx_sim`, ranked unbounded.
    */
  private def adcRanked(joined: DataFrame, carry: String*): DataFrame =
    ranked(joined
      .groupBy(col("q_id") +: carry.map(col) :+ col("vec_id").as("neighbor_id"): _*)
      .agg(F.sumDecAsDouble(col("part"), 10).as("approx_sim")), "approx_sim")

  /** The IVF-PQ serving tail: the top [[TopKPq]] of a ranked search in
    * the output column order, plus an optional provenance label
    * ([[fromDelta]], [[fromBatch]]).
    */
  private[graft] def served(r: DataFrame, label: Column*): DataFrame =
    Out.sorted(r.filter(col("rank") <= TopKPq)
      .select(Seq("q_id", "cell", "cell_sim", "rank", "neighbor_id",
        "approx_sim").map(col) ++ label: _*))(col("q_id"), col("rank"))

  /** Neighbors that entered through the single add batch. */
  private def fromDelta: Column =
    (col("neighbor_id") % AddModulus === AddResidue).as("from_delta")

  /** Which add batch a neighbor arrived in: 0 = built in, 1 or 2. */
  private[graft] def fromBatch: Column =
    when(col("neighbor_id") % AddModulus === AddResidue, 1)
      .when(col("neighbor_id") % AddModulus === AddResidue2, 2)
      .otherwise(0).as("from_batch")

  /** Recall@k tail: per query, the measured exact-set size `n_exact`
    * (< k when the corpus has fewer than k+1 non-self vectors — a
    * constant-k denominator would understate recall), then for each
    * (suffix, approximate (q_id, neighbor_id) frame) the hits of the
    * exact set it recovers and their rounded share.
    */
  private def recallOf(
      exact: DataFrame, approx: (String, DataFrame)*): DataFrame = {
    val joined = approx.foldLeft(
      exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))) {
      case (acc, (s, a)) =>
        acc.join(exact.join(a, Seq("q_id", "neighbor_id"), "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as(s"hits$s")), Seq("q_id"), "left")
    }
    val counted = joined.select(col("q_id") +: col("n_exact") +:
      approx.map { case (s, _) =>
        coalesce(col(s"hits$s"), lit(0L)).as(s"hits$s") }: _*)
    approx.foldLeft(counted) { case (acc, (s, _)) =>
      acc.withColumn(s"recall$s", F.roundHalfUp(col(s"hits$s").cast("double") /
        col("n_exact").cast("double"), 6))
    }
  }

  // ---- ANN search ladder ---------------------------------------------

  /** ANN baseline — exact brute-force cosine top-k: for each query vector
    * (vec_id < [[NQueries]]) the [[TopK]] nearest neighbors by cosine
    * (vectors are unit-norm, so cosine = dot).
    */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val e = embDistributed(spark, dir)
    val r = ranked(exactSims(e, queries(e)), "cos_sim", Some(TopK))
      .select("q_id", "rank", "neighbor_id", "cos_sim")
    Out.sorted(r)(col("q_id"), col("rank"))
  }

  /** Neighbors returned per query by the IVF paths (the in-cell k).
    * The probe depth is the `nprobe` argument: 1, or [[IvfNProbe]]. */
  val TopKIvf = 5

  /** Cosine threshold for embedding near-duplicate pairs. */
  val NearDupCosine = 0.45

  /** Embedding-cosine near-duplicate pairs at scale: candidates come
    * from MULTI-PROBE LSH — each vector probes its own bucket plus all
    * Hamming-distance-1 buckets, so a pair is compared iff their sign
    * patterns differ in at most one hyperplane. No all-pairs stage; the
    * exact cosine runs only on bucket-matched candidates. (Single-bucket
    * LSH at this plane count has ~20% recall at cos 0.45; the H≤1 probe
    * set roughly triples it. Recall tuning = planes/probes, and the
    * oracle replicates the probing exactly, so the gate stays
    * deterministic.)
    *
    * Scaling contract: the plane count is CORPUS-DERIVED —
    * [[derivedPlanes]] of the parquet-footer row count (a metadata
    * read, [[graft.sources.ParquetMeta]]; zero Spark jobs) — so the
    * bucket space grows with the corpus and per-bucket occupancy stays
    * at ~[[TargetOccupancy]]. A FIXED bucket space is the classic LSH
    * scale defect: occupancy grows linearly with N and the bucket
    * self-join quadratically (measured here before the derivation
    * landed: ~90× wall at 10× vectors at a pinned 2^4). With the
    * derivation, sf0.001/sf0.01 sit at the floor (4 planes — buckets
    * stay populated so recall is exercised), sf1's 20 k vectors derive
    * 8 planes (the dial setting BENCH_sf1.json measured at 7.9 s vs
    * 54.2 s pinned-4), and 10^10 rows derive ~23 — each +1 plane
    * halves occupancy at constant per-row cost (one more sign bit);
    * only the H≤1 probe fan-out grows linearly in planes. The oracle
    * SQL derives the SAME count from count(*) with the same integer
    * comparisons and embeds the full [[MaxPlanes]] hyperplane family
    * as literals, so the dial itself is hash-checked, not just spec'd.
    */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    Out.sorted(embedNearDupPairs(spark, dir))(col("vec_a"), col("vec_b"))

  /** Unsorted pair core of [[embedNearDup]] — also one channel of
    * [[TextOps.dedupEnsemble]], which composes it with the MinHash
    * text channel (a terminal sort inside a composed plan would be
    * dead weight Catalyst cannot always eliminate).
    */
  private[graft] def embedNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val n = ParquetMeta.rowCount(spark, s"$dir/embeddings.parquet")
    embedNearDupCollapsed(
      emb(spark, dir).select(col("vec_id"), col("embedding")),
      derivedPlanes(n), spark.sparkContext.defaultParallelism)
  }

  /** The production dial setting for [[embedNearDupWide]]: 2^8 = 256
    * buckets, 16× lower expected occupancy than [[NPlanes]] = 4 — the
    * "planes grow with the corpus" prescription made concrete. */
  val NPlanesWide = 8

  /** [[embedNearDup]] at a STATICALLY pinned wide setting — the SAME
    * plan at exactly [[NPlanesWide]] hyperplanes regardless of corpus
    * size, oracle-checked end-to-end. [[embedNearDup]] itself now
    * derives its plane count from the corpus ([[derivedPlanes]]); this
    * row pins one fixed point of the dial so the widening effect —
    * occupancy per bucket drops 16× vs the floor, bucket self-join
    * cost ~256× at equal corpus size, trading H≤1-probe recall
    * (LshDialSpec measures both sides) — stays proven with hashes at
    * an SF where the derivation would sit at the floor. */
  def embedNearDupWide(spark: SparkSession, dir: String): DataFrame =
    Out.sorted(
      embedNearDupCollapsed(
        emb(spark, dir).select(col("vec_id"), col("embedding")),
        NPlanesWide, spark.sparkContext.defaultParallelism))(
      col("vec_a"), col("vec_b"))

  /** Clone-collapsed near-dup pair builder — the embed-channel twin of
    * the text banders' exact-clone pre-collapse ([[knnEdgesFrom]] has
    * the kNN form). Candidacy (bucket Hamming ≤ 1) and the rounded
    * cosine are pure functions of vector CONTENT, so banding one
    * CANONICAL per distinct vector and re-expanding pairs through group
    * membership emits a pair set byte-identical to banding the raw
    * corpus (EmbedCloneCollapseSpec pins the law) while the bucket
    * self-join — quadratic in clone multiplicity on the flat build —
    * runs over distinct geometry only. On replica-planted corpora
    * (sf10: ~100 byte-identical copies of every vector) this is the
    * difference between a constant-size candidate stage and a 10⁴×
    * within-family dot-product blow-up. Within-group pairs carry the
    * canonical's REAL self-cosine (stored arrays need not be exactly
    * unit-norm), thresholded like every cross pair.
    */
  private[graft] def embedNearDupCollapsed(
      e: DataFrame, nPlanes: Int, par: Int): DataFrame = {
    val (canon, members) = vecCloneCollapsed(e)
    val cpairs = candidatesFrom(
      canon.select(col("vec_id"), col("embedding")), nPlanes, par)
      .filter(col("cos_sim") >= NearDupCosine)
    // Cross-group expansion: a canonical pair's cos_sim is group-
    // invariant, so members inherit it; least/greatest restores the
    // flat build's vec_a < vec_b orientation.
    val ma = members.select(col("cvec").as("vec_a"), col("vec_id").as("va"))
    val mb = members.select(col("cvec").as("vec_b"), col("vec_id").as("vb"))
    val cross = cpairs.join(ma, Seq("vec_a")).join(mb, Seq("vec_b"))
      .select(least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"), col("cos_sim"))
    // Within-group pairs: a clone family shares its home bucket in the
    // flat build (Hamming 0 → always candidates) at the canonical's
    // self-cosine. Only gsize>1 groups emit anything, so the self-join
    // runs over CLONE members alone — empty on a clone-free corpus.
    val self = canon.filter(col("gsize") > 1L)
      .select(col("vec_id").as("cvec"),
        F.roundHalfUp(dot(col("embedding"), col("embedding")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= NearDupCosine)
    val cm = members.join(
      self.select("cvec"), Seq("cvec"))
    val within = cm.as("x").join(cm.as("y"),
        col("x.cvec") === col("y.cvec") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        col("x.cvec").as("cvec"))
      .join(self, Seq("cvec"))
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
    cross.unionByName(within)
  }

  /** The FLAT (un-collapsed) near-dup pair build — the reference
    * implementation EmbedCloneCollapseSpec holds [[embedNearDupCollapsed]]
    * to on clone-planted corpora. Quadratic in clone multiplicity at
    * the bucket join; kept spec-side only.
    */
  private[graft] def embedNearDupFlatFrom(
      e: DataFrame, nPlanes: Int, par: Int): DataFrame =
    candidatesFrom(e, nPlanes, par).filter(col("cos_sim") >= NearDupCosine)

  /** Bucket-matched candidate pairs (pre-threshold) at an arbitrary
    * plane count — the scaling dial made callable: more planes = more
    * buckets = lower per-bucket occupancy = fewer candidates per
    * corpus row (LshDialSpec measures the shrink and that precision is
    * untouched). The oracle SQL embeds the [[MaxPlanes]]-deep
    * hyperplane family as literals and masks to the same derived count.
    */
  private[graft] def embedNearDupCandidates(
      spark: SparkSession, dir: String, nPlanes: Int): DataFrame =
    candidatesFrom(
      emb(spark, dir).select(col("vec_id"), col("embedding")),
      nPlanes, spark.sparkContext.defaultParallelism)

  /** [[embedNearDupCandidates]] over an arbitrary (vec_id, embedding)
    * frame — the entry the clone-collapsed kNN path feeds canonical
    * vectors through. Candidacy (bucket Hamming ≤ 1) and the rounded
    * cosine are both pure functions of vector CONTENT, which is what
    * makes group-level candidate generation output-equivalent.
    */
  private def candidatesFrom(
      e: DataFrame, nPlanes: Int, par: Int): DataFrame = {
    // Explicit-N repartitions on the join key: the shuffled bytes are
    // small (ids + 64-float arrays) so AQE would coalesce the bucket
    // join down to ~1 partition — serializing the pair enumeration and
    // its dot products, the single expensive stage of every consumer
    // (measured 22 s -> 9 s wall on q_knn_graph at sf1). A
    // user-specified partition count is exempt from AQE coalescing;
    // on a real multi-split scan this collapses into the partitioning
    // the join needs anyway.
    val b = e
      .select(col("vec_id"), col("embedding"),
        bucketOfN(col("embedding"), nPlanes).as("bucket"))
      .repartition(par, col("bucket"))
    val probes = b.select(col("vec_id"), col("embedding"),
      explode(hamming1Probes(col("bucket"), nPlanes)).as("probe_bucket"))
      .repartition(par, col("probe_bucket"))
    probes.as("x")
      .join(b.as("y"),
        col("x.probe_bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(
        col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        F.roundHalfUp(dot(col("x.embedding"), col("y.embedding")), 6).as("cos_sim"))
  }

  /** A bucket id followed by its Hamming-distance-1 neighbors over the
    * first `nPlanes` planes — the multi-probe list of the batch
    * candidate join and of the streaming admission
    * ([[graft.streaming.StreamEmbed]]).
    */
  private[graft] def hamming1Probes(bucket: Column, nPlanes: Int): Column =
    array(bucket +: (0 until nPlanes).map(p =>
      bucket.bitwiseXOR(lit(1L << p))): _*)

  /** ANN scale path #2 — IVF (inverted-file) search: vectors are
    * assigned to coarse cells, a query ranks cells by centroid
    * similarity and searches only its best cell. The `label` column
    * plays the coarse quantizer (at scale the cells come from k-means —
    * the search-side plan is identical).
    *
    * Centroids are per-dimension means computed from exact decimal sums
    * and rounded with [[graft.functions.F.roundHalfUp]] — a plain double
    * mean is shuffle-order-dependent, which would make the cell ranking
    * (and therefore the result set) nondeterministic across runs and
    * engines.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfProbed(spark, dir, 1)

  /** Probe depth of the multi-cell IVF variant (q_ann_ivf_probe2). */
  val IvfNProbe = 2

  /** IVF with nprobe=[[IvfNProbe]]: identical plan, the query searches
    * its top-[[IvfNProbe]] cells by centroid similarity — recall
    * strictly improves over the single-cell probe (IvfRecallSpec pins
    * it against the exact brute-force baseline) at nprobe× the in-cell
    * scan cost, the standard IVF recall/latency dial.
    */
  def annIvfProbe2(spark: SparkSession, dir: String): DataFrame =
    annIvfProbed(spark, dir, IvfNProbe)

  private[graft] def annIvfProbed(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val e = embDistributed(spark, dir)
    val comp = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(F.avgFromSums(sum(col("v").cast("decimal(25,10)")), count(lit(1))).as("c"))
    val centroids = comp.groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("centroid"))
    ivfSearch(e, probeCells(queries(e), centroids, "label", nprobe), "label")
  }

  /** In-cell exact search shared by the IVF paths: the corpus rows of
    * each query's probed cells (the probed frame broadcast, so the
    * corpus is scanned once and never shuffled), exact cosine,
    * top-[[TopKIvf]] per query.
    */
  private def ivfSearch(
      corpus: DataFrame, probed: DataFrame, cell: String): DataFrame = {
    val sims = corpus.join(broadcast(probed), Seq(cell))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col(cell).as("cell"), col("cell_sim"),
        col("vec_id").as("neighbor_id"), qSim("embedding").as("cos_sim"))
    val r = ranked(sims, "cos_sim", Some(TopKIvf))
      .select("q_id", "cell", "cell_sim", "rank", "neighbor_id", "cos_sim")
    Out.sorted(r)(col("q_id"), col("rank"))
  }

  /** Sign-pattern LSH bucket id of an embedding column. */
  private def bucketOf(e: Column): Column = bucketOfN(e, NPlanes)

  /** Same, over the first `n` planes of the shared md5-derived family. */
  private[graft] def bucketOfN(e: Column, n: Int): Column = {
    val planes = planeIntsFor(n)
    (0 until n).map { p =>
      val plane = array(planes(p).map(k => lit(k / 500.0)): _*)
      when(dot(e, plane) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN scale path — LSH-bucketed cosine top-k: bucket all vectors by
    * hyperplane sign pattern, join queries to same-bucket candidates,
    * rank within bucket. The join key is the bucket id — candidate
    * generation never compares a query to vectors outside its bucket.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = embDistributed(spark, dir)
      .select(col("vec_id"), col("embedding"), bucketOf(col("embedding")).as("bucket"))
    val q = queries(bucketed, carry = Seq("bucket"))
    val sims = bucketed.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("bucket"), col("vec_id").as("neighbor_id"),
        qSim("embedding").as("cos_sim"))
    val r = ranked(sims, "cos_sim", Some(TopKLsh))
      .select("q_id", "bucket", "rank", "neighbor_id", "cos_sim")
    Out.sorted(r)(col("q_id"), col("rank"))
  }

  /** Lloyd iterations of the trained coarse quantizer (fixed, so the
    * oracle can unroll them).
    */
  val KmeansIters = 2

  /** Plan-build-time count of Lloyd iterations composed since the last
    * reset — the instrument behind IvfPqAddSpec's zero-retrain law: the
    * incremental index ADD path must construct NO k-means step (its
    * quantizers come from the stored artifacts), and the meter proves
    * it at the level the code can't fake (every Lloyd step in the
    * engine is composed inside [[lloydOnSplit]] / [[pqIndexSplit]]).
    */
  private[graft] object LloydMeter {
    val iterations = new java.util.concurrent.atomic.AtomicLong(0L)
    def reset(): Unit = iterations.set(0L)
  }

  /** Quantizer TRAINING-SAMPLE cap — the faiss discipline: codebooks
    * and coarse centroids train on a bounded, deterministic sample of
    * the corpus (smallest [[TrainCap]] md5(vec_id) values — a
    * distributed top-N, no corpus shuffle), and only the final
    * assignment/encoding pass touches every vector. Untrained, Lloyd
    * cost grows linearly with the corpus per iteration — measured
    * ~5.9× on 10× vectors for the PQ chain — which is exactly the
    * "can't Lloyd 100 TB" wall; sampled, training is O(cap) at any
    * corpus size and the scale cost is the single inherent encode
    * pass. 2048 ≥ the 39·k points-per-centroid faiss floor for every
    * codebook here, and ≥ the whole corpus at the oracle-gated SFs, so
    * small-SF results are unchanged while the asymptote is fixed.
    */
  val TrainCap = 2048

  /** Trained IVF coarse quantizer — [[KmeansIters]] Lloyd iterations
    * refining the label seed: assign every vector to its
    * highest-similarity centroid (ties to the smaller cluster id),
    * recompute centroids as decimal-exact per-dimension means, repeat.
    * Closes the "label plays the coarse quantizer" simplification of
    * [[annIvf]]: the cells the search probes now come from the data.
    *
    * Scale shape per iteration: one broadcast of the k×dim centroid
    * table against the corpus scan (no shuffle of the corpus for
    * assignment) + one explode/groupBy for the mean update — the
    * canonical distributed Lloyd step. Iterations are a FIXED small
    * constant composed lazily; no driver-side convergence loop, so the
    * whole refinement is one deterministic plan.
    *
    * Determinism: rounded similarities with id tie-breaks, decimal-exact
    * means (shuffle-order-proof), fixed iteration count — the DuckDB
    * oracle unrolls the identical two steps and the output hash-matches.
    */
  def ivfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val (_, assigned) = trainedIndex(spark, dir)
    val r = assigned.groupBy(col("cluster")).agg(
      count(lit(1)).as("n_members"),
      F.avgFromSums(sum(col("sim").cast("decimal(20,10)")), count(lit(1)))
        .as("avg_cos"),
      sum(when(col("cluster") =!= col("label"), 1L).otherwise(0L)).as("n_moved"))
    Out.sorted(r)(col("cluster"))
  }

  /** Decimal-exact per-dimension mean centroids of a (cluster, embedding)
    * assignment — one explode/groupBy, combines map-side.
    */
  private def centroidsOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cluster", "dim")
      .agg(F.avgFromSums(sum(col("v").cast("decimal(25,10)")), count(lit(1))).as("c"))
      .groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("centroid"))

  /** One Lloyd assignment step: every vector to its highest-similarity
    * centroid (ties to the smaller cluster id), via a broadcast of the
    * tiny k×dim centroid table — the corpus never shuffles.
    *
    * The argmax is a hash aggregate over max(struct(sim, -cluster)) —
    * lexicographic struct comparison gives highest sim, ties to the
    * smaller cluster id, exactly the rank-1 window it replaces — so the
    * k-fanned candidate rows partial-aggregate map-side instead of
    * feeding a per-group sort (guide §2.3/§2.4: aggregate before the
    * exchange, no corpus-sized Sort). embedding/label are constant per
    * vec_id, so first() over the group is deterministic.
    */
  private def assignTo(e: DataFrame, centroids: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("label"), col("cluster"),
        F.roundHalfUp(dot(col("embedding"), col("centroid")), 6).as("sim"))
      .groupBy("vec_id")
      .agg(first(col("embedding")).as("embedding"),
        first(col("label")).as("label"),
        max(struct(col("sim"), (-col("cluster")).as("negc"),
          col("cluster"))).as("best"))
      .select(col("vec_id"), col("embedding"), col("label"),
        col("best").getField("cluster").as("cluster"),
        col("best").getField("sim").as("sim"))

  /** The trained IVF index after [[KmeansIters]] Lloyd iterations:
    * (final centroids, final assignment). The returned centroids are
    * exactly the ones the final assignment was computed against, so the
    * cells are Voronoi-consistent — what [[annIvfTrained]] probes.
    */
  private[graft] def trainedIndex(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    lloydOn(
      embDistributed(spark, dir)
        .select(col("vec_id"), col("embedding"), col("label")),
      col("label"))

  /** [[KmeansIters]] Lloyd iterations over any (vec_id, embedding,
    * label) frame from the given seed assignment — shared by the
    * full-dimension coarse quantizer (label seed) and the per-subspace
    * PQ codebooks (vec_id-hash seed, which sets the codebook size
    * independently of label cardinality).
    *
    * Training runs on the [[TrainCap]]-bounded md5 sample; only the
    * LAST assignment (the index encode) sweeps the full frame — so the
    * per-iteration cost is corpus-size-independent while the returned
    * (centroids, assignment) stay Voronoi-consistent over the whole
    * corpus. Identical to unsampled training whenever the corpus fits
    * the cap (every oracle-gated SF).
    */
  private def lloydOn(e: DataFrame, seed: Column): (DataFrame, DataFrame) =
    lloydOnSplit(e, e, seed)

  /** [[lloydOn]] with the training source and the encode (final
    * assignment) source decoupled — the faiss add-after-train shape:
    * quantizers train on one frame (the BASE corpus's md5 sample) while
    * the index encode sweeps another (base ∪ later-arrived vectors).
    * `lloydOn(e, seed)` is the `train == encode` special case.
    */
  private def lloydOnSplit(
      trainSrc: DataFrame, encodeSrc: DataFrame,
      seed: Column): (DataFrame, DataFrame) = {
    val train = Out.eager(
      trainSrc.orderBy(md5(col("vec_id").cast("string"))).limit(TrainCap))
    var assigned = train.withColumn("cluster", seed)
    var centroids: DataFrame = null
    (1 to KmeansIters).foreach { i =>
      LloydMeter.iterations.incrementAndGet()
      centroids = centroidsOf(assigned)
      // The FINAL centroid table is consumed twice by every build
      // (written/scanned as the quantizer AND broadcast into the
      // corpus-sized encode pass); lazily it carries the whole
      // iteration chain, so each consumer re-ran every Lloyd step.
      // Materialize the tiny k×dim table once (guide §1.2 don't
      // recompute, §3.3 truncate grown plans) — the encode pass then
      // broadcasts a checkpoint scan instead of the chain.
      if (i == KmeansIters) centroids = Out.eager(centroids)
      assigned = assignTo(if (i == KmeansIters) encodeSrc else train, centroids)
    }
    (centroids, assigned)
  }

  /** Semantic dedup over the TRAINED quantizer cells (the SemDeDup
    * recipe: cluster the embedding space, then compare pairs only
    * WITHIN a cell — the cells bound the quadratic term, so corpus
    * pair-comparison cost is Σ|cell|², never |corpus|²). A vector is
    * flagged for removal iff some in-cell neighbor with a SMALLER id
    * clears [[NearDupCosine]] — the deterministic lowest-id-canonical
    * variant of the paper's keep-one-per-group rule (random or
    * centroid-distance keeps would make the output seed-dependent and
    * unverifiable cross-engine). Output: one row per removed vector
    * with its cell, how many better-ranked near-dups it has, and the
    * strongest similarity that condemned it.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val (_, assigned) = trainedIndex(spark, dir)
    val pairs = semDedupPairsOn(
      assigned.select(col("cluster"), col("vec_id"), col("embedding")),
      MaxCellSize)
    val r = pairs.groupBy("vec_id", "cell")
      .agg(count(lit(1)).as("n_better"), max(col("cos_sim")).as("best_sim"))
    Out.sorted(r)(col("vec_id"))
  }

  /** Oversized-cell cap of the SemDeDup pairwise stage: pair cost is
    * Σ|cell|², so ONE skewed cell reintroduces the all-pairs blowup the
    * clustering exists to prevent. Cells above this size are excluded
    * from the pairwise join entirely (the [[TextOps.MaxBandFrequency]]
    * pattern: a cell this overgrown signals a degenerate quantizer
    * region — boilerplate embeddings — not actionable duplication, and
    * the production response is to re-train / sub-cluster it, not to
    * pay |cell|² anyway). Never silent: [[semDedupCells]] is the
    * oracle-checked per-cell accounting (q_semdedup_cells) that surfaces
    * exactly which cells were skipped and what pair budget each cell
    * costs, and the q_sem_dedup oracle replays the cap bit-for-bit.
    * Sized to never bind at the tested SFs (max observed cell ≈ 200
    * members at sf0.1, ≈ 2000 at the derived sf1) while bounding any
    * single cell's pair cost at ~12.5M comparisons; SemDedupGuardSpec
    * proves the bound on a deliberately hot cell.
    */
  val MaxCellSize = 5000

  /** Guarded within-cell near-dup pairs of a (cluster, vec_id,
    * embedding) assignment — the SemDeDup pairwise stage with cells
    * above `maxCell` members excluded (broadcast anti-join; the hot
    * list is ≤ k rows).
    */
  private[graft] def semDedupPairsOn(a: DataFrame, maxCell: Int): DataFrame = {
    val hot = a.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxCell)
      .select("cluster")
    val kept = a.join(broadcast(hot), Seq("cluster"), "left_anti")
    kept.as("x").join(kept.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.cluster").as("cell"),
        col("y.vec_id").as("vec_id"),
        F.roundHalfUp(dot(col("x.embedding"), col("y.embedding")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= NearDupCosine)
  }

  /** Per-cell pair-budget accounting of the guarded SemDeDup — the
    * observability query that makes the [[MaxCellSize]] cap non-silent
    * (q_semdedup_cells): members, skip decision, and the pair
    * comparisons the cell contributes to the Σ|cell|² budget (0 when
    * skipped).
    */
  def semDedupCells(spark: SparkSession, dir: String): DataFrame = {
    val (_, assigned) = trainedIndex(spark, dir)
    val r = assigned.groupBy(col("cluster").as("cell"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("cell"), col("n_members"),
        (col("n_members") > MaxCellSize).as("skipped"),
        when(col("n_members") > MaxCellSize, lit(0L))
          .otherwise(expr("n_members * (n_members - 1) DIV 2"))
          .as("n_pair_candidates"))
    Out.sorted(r)(col("cell"))
  }

  /** Neighbors kept per node in the approximate kNN graph. */
  val KnnK = 5

  /** Approximate all-node kNN GRAPH over the multi-probe LSH buckets —
    * the batch substrate of graph-based curation (kNN-graph community
    * detection, graph-connected dedup, link-based outlier pruning).
    * Unlike the ANN ladder (few queries × corpus), EVERY vector is a
    * query here, and the all-pairs trap is avoided the same way the
    * near-dup path does it: candidates only from H≤1 probe-bucket
    * matches, symmetrized (the bucket relation is symmetric, so the
    * reversed candidate set IS the other direction — no second join),
    * then a per-node window top-[[KnnK]]. Each edge carries whether it
    * is RECIPROCAL (both endpoints rank each other) — the signal
    * mutual-kNN clustering cuts on.
    *
    * Scale shape: candidate fan-out per node is bucket occupancy ×
    * (planes+1) with the corpus-derived plane count holding occupancy
    * constant; the top-k window partitions on vec_id (Partial
    * WindowGroupLimit applies); the reciprocity check is a self-join
    * of the top-k EDGE set (k·n rows), never of the corpus.
    */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    Out.sorted(knnEdges(spark, dir))(col("vec_id"), col("rank"))

  /** Unsorted edge frame of [[knnGraph]] (vec_id, rank, neighbor_id,
    * cos_sim, reciprocal) — also the substrate [[semanticClusters]]
    * cuts its mutual-kNN graph from (a terminal sort inside a composed
    * plan would be dead weight).
    */
  private[graft] def knnEdges(spark: SparkSession, dir: String): DataFrame = {
    val n = ParquetMeta.rowCount(spark, s"$dir/embeddings.parquet")
    knnEdgesFrom(
      emb(spark, dir).select(col("vec_id"), col("embedding")),
      derivedPlanes(n), spark.sparkContext.defaultParallelism)
  }

  /** Exact-clone pre-collapse of a (vec_id, embedding) frame:
    * (canonical frame (vec_id, embedding, gsize), membership map
    * (vec_id, cvec)). Canonical = min vec_id per distinct vector
    * content (md5 of the exact float-array JSON form — content
    * equality, engine-side only, never replayed by the oracle).
    * Shared by the kNN edge builder and the near-dup pair builder;
    * both re-expand group-invariant results through the membership
    * map afterward.
    */
  private def vecCloneCollapsed(e: DataFrame): (DataFrame, DataFrame) = {
    // ONE ids-only corpus pass derives the whole group geometry (the
    // TextOps.cloneCollapsed shape): the window shuffles (vec_id,
    // vgkey) pairs — never embeddings — and the eager'd
    // three-longs-per-vector membership map is what every downstream
    // reference reads (the pair expansions reference it up to three
    // times; re-deriving it per reference re-ran the md5-of-array pass
    // once per join side, measured 5.1→16.1 s on q_embed_neardup at
    // sf10). Canonical VECTORS come back via a vec_id join against the
    // materialized id list (AQE broadcasts it at test SFs) — the
    // corpus-sized canon frame itself is never checkpointed (the r8
    // lesson: localCheckpoint only k·n or ids-only frames).
    val w = Window.partitionBy("vgkey")
    // the vgkey spread: md5-of-JSON'd-array is per-vector CPU that
    // would otherwise run below the window's exchange, i.e. inside a
    // possibly single-split scan stage
    val members = Out.eager(
      e.repartition(
          e.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), md5(to_json(col("embedding"))).as("vgkey"))
        .withColumn("cvec", min(col("vec_id")).over(w))
        .withColumn("gsize", count(lit(1)).over(w))
        .select(col("vec_id"), col("cvec"), col("gsize")))
    val canon = e.join(
      members.filter(col("vec_id") === col("cvec"))
        .select(col("vec_id"), col("gsize")),
      Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("gsize"))
    (canon, members.select(col("vec_id"), col("cvec")))
  }

  /** Clone-collapsed kNN edge builder. Exact-duplicate vectors (the
    * embeddings of exact-duplicate documents — byte-identical arrays)
    * are the vector-space twin of the text banders' clone problem:
    * clones share their home bucket AND every probe bucket at any
    * plane count, so a clone family of size m contributes m² candidate
    * pairs to the bucket join while carrying exactly one distinct
    * geometry. The corpus-derived plane count holds AVERAGE occupancy
    * flat but cannot thin clones apart (identical signs), which is
    * what kept the kNN family ~12×/decade at sf10's planted ~100-member
    * families. Collapse: group vectors by content, run the bucket join
    * over one CANONICAL per group, then re-expand — a group's members
    * all see the SAME member-level neighbor list (their candidate set
    * is a pure function of content), so the group takes top-(k+1) ONCE
    * and each member drops itself and keeps k. Emitted edges are
    * byte-identical to the flat build ([[knnEdgesFlatFrom]] pins the
    * law on a clone-planted corpus in KnnCloneCollapseSpec); within-
    * group cosines come from the canonical's real self-dot, never an
    * assumed 1.0 (stored float arrays need not be exactly unit-norm).
    */
  private[graft] def knnEdgesFrom(
      e: DataFrame, nPlanes: Int, par: Int): DataFrame = {
    val (canon, members) = vecCloneCollapsed(e)
    // Canonical candidate pairs, symmetrized INSIDE the join's
    // projection (each undirected pair explodes into its two directed
    // edges) so the pair enumeration runs ONCE in one streamed pass —
    // nothing corpus×occupancy is ever stored (the r8 lesson: a
    // localCheckpoint of the unthresholded pair set was 235M rows and
    // 130 s at sf10; streaming it into the top-k runs in 31 s).
    val cand = candidatesFrom(
      canon.select(col("vec_id"), col("embedding")), nPlanes, par)
    val sym = cand.select(explode(array(
        struct(col("vec_a").as("cg"), col("vec_b").as("ng"), col("cos_sim")),
        struct(col("vec_b").as("cg"), col("vec_a").as("ng"), col("cos_sim"))))
        .as("e"))
      .select(col("e.cg"), col("e.ng"), col("e.cos_sim"))
    // Within-group edge: a clone family is its own candidate bucket
    // (flat build: every clone pair shares the home bucket), at the
    // canonical's self-cosine, computed with the same dot + rounding
    // as every cross pair.
    val self = canon.filter(col("gsize") > 1L)
      .select(col("vec_id").as("cg"), col("vec_id").as("ng"),
        F.roundHalfUp(dot(col("embedding"), col("embedding")), 6).as("cos_sim"))
    val gEdges = sym.unionByName(self)
    // Member-level neighbor list per GROUP: expand only the neighbor
    // side, rank once per group, keep k+1 — dropping a member's own
    // row (it appears at most once) still leaves its full top-k.
    val nbr = gEdges.join(
      members.select(col("cvec").as("ng"), col("vec_id").as("neighbor_id")),
      Seq("ng"))
    val wg = Window.partitionBy("cg")
      .orderBy(desc("cos_sim"), asc("neighbor_id"))
    val gTop = nbr.withColumn("grank", row_number().over(wg))
      .filter(col("grank") <= KnnK + 1)
      .select(col("cg"), col("neighbor_id"), col("cos_sim"))
    // Node-side expansion: n·(k+1) rows, self-excluded, final rank.
    val w = Window.partitionBy("vec_id")
      .orderBy(desc("cos_sim"), asc("neighbor_id"))
    // The reciprocity join references the top-k frame twice (probe +
    // reversed build); eager the k·n-row edge set so the window isn't
    // executed once per side.
    val topk = Out.eager(
      members.select(col("vec_id"), col("cvec").as("cg"))
        .join(gTop, Seq("cg"))
        .filter(col("neighbor_id") =!= col("vec_id"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= KnnK)
        .select(col("vec_id"), col("rank"), col("neighbor_id"),
          col("cos_sim")))
    val rev = topk.select(
      col("neighbor_id").as("vec_id"), col("vec_id").as("neighbor_id"),
      lit(true).as("reciprocal"))
    topk.join(rev, Seq("vec_id", "neighbor_id"), "left")
      .select(col("vec_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"), coalesce(col("reciprocal"), lit(false)).as("reciprocal"))
  }

  /** The FLAT (un-collapsed) kNN edge build — the reference
    * implementation KnnCloneCollapseSpec holds [[knnEdgesFrom]] to on
    * clone-planted corpora. Quadratic in clone multiplicity at the
    * bucket join; kept spec-side only.
    */
  private[graft] def knnEdgesFlatFrom(
      e: DataFrame, nPlanes: Int, par: Int): DataFrame = {
    val cand = candidatesFrom(e, nPlanes, par)
    val sym = cand.select(explode(array(
        struct(col("vec_a").as("vec_id"), col("vec_b").as("neighbor_id"),
          col("cos_sim")),
        struct(col("vec_b").as("vec_id"), col("vec_a").as("neighbor_id"),
          col("cos_sim")))).as("e"))
      .select(col("e.vec_id"), col("e.neighbor_id"), col("e.cos_sim"))
    val w = Window.partitionBy("vec_id")
      .orderBy(desc("cos_sim"), asc("neighbor_id"))
    val topk = Out.eager(
      sym.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= KnnK))
    val rev = topk.select(
      col("neighbor_id").as("vec_id"), col("vec_id").as("neighbor_id"),
      lit(true).as("reciprocal"))
    topk.join(rev, Seq("vec_id", "neighbor_id"), "left")
      .select(col("vec_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"), coalesce(col("reciprocal"), lit(false)).as("reciprocal"))
  }

  /** Mean-kNN-cosine floor below which a vector is flagged an outlier
    * (see [[embedOutliers]]). */
  val OutlierMinCos = 0.30

  /** EMBEDDING OUTLIER PRUNING by kNN link strength — the curation
    * filter dual of near-dup removal: a vector whose approximate
    * k-nearest neighbors are all far away (mean kNN cosine under
    * [[OutlierMinCos]]), or that found NO bucket partner at all, sits
    * in empty embedding space — classic signals of mis-embedded,
    * corrupt, or off-distribution documents that a training-data
    * pipeline drops (or routes to review) before sampling. Per vector:
    * neighbor count, deterministic mean kNN cosine (exact decimal sum
    * of the already-rounded sims), and the outlier verdict — lonely
    * vectors (no candidate within Hamming≤1 of any probe) are the
    * strongest outliers and flag with a NULL mean.
    *
    * Scale shape: one aggregate over the k·n-row [[knnEdges]] frame
    * (itself bucket-bounded), then a broadcast-free left join back to
    * the corpus id list — nothing all-pairs, nothing collected.
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val agg = knnEdges(spark, dir)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_neighbors"),
        F.avgFromSums(sum(col("cos_sim").cast("decimal(20,10)")),
          count(lit(1))).as("mean_knn_cos"))
    val r = emb(spark, dir).select("vec_id")
      .join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        col("mean_knn_cos"),
        (col("mean_knn_cos").isNull ||
          col("mean_knn_cos") < OutlierMinCos).as("is_outlier"))
    Out.sorted(r)(col("vec_id"))
  }

  /** SEMANTIC CLUSTERS by mutual-kNN: connected components over the
    * RECIPROCAL edges of [[knnGraph]] — the standard robust clustering
    * of an approximate kNN graph (a one-directional edge is how a hub
    * vector attaches to everything; requiring reciprocity cuts hubs
    * out, leaving tight semantic groups). Every vector gets a label:
    * members inherit their component's minimum vec_id, vectors with no
    * mutual neighbor become singleton clusters of themselves.
    *
    * Scale shape: the CC frame holds only vectors that HAVE a mutual
    * edge (a fraction of the corpus; the corpus-sized remainder joins
    * in once at the end as singletons), rounds are O(log diameter) via
    * the pointer-jumping [[TextOps.connectedComponents]], and the
    * size/label joins shuffle on cluster_id — no broadcast of the
    * O(n)-row size frame, AQE may still choose one when it fits.
    */
  def semanticClusters(spark: SparkSession, dir: String): DataFrame = {
    val mut = Out.eager(
      knnEdges(spark, dir)
        .filter(col("reciprocal") && col("vec_id") < col("neighbor_id"))
        .select(col("vec_id").as("doc_a"), col("neighbor_id").as("doc_b")))
    val (labels, _) = TextOps.connectedComponents(mut)
    try {
      val lab = emb(spark, dir).select("vec_id")
        .join(labels.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      val sizes = lab.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      val r = lab.join(sizes, Seq("cluster_id"))
        .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
          (col("cluster_size") > 1L).as("clustered"))
      Out.eager(Out.sorted(r)(col("vec_id")))
    } finally labels.unpersist()
  }

  /** External clustering evaluation of the trained k-means cells
    * against the embeddings' ground-truth `label` column: per cell,
    * its size, distinct-label spread, majority label and purity
    * (majority count / size — ties broken on the smaller label id so
    * the verdict is deterministic). The corpus-level purity is the
    * member-weighted mean of these rows; keeping per-cell grain makes
    * the metric actionable (WHICH cells are impure → re-train or
    * sub-cluster exactly there, the [[MaxCellSize]] remediation).
    *
    * Scale shape: one map-side-combinable (cluster, label) count
    * (output ≤ cells × labels rows — sketch-sized), then windows over
    * that tiny frame. The corpus is touched once, by the encode pass
    * the trained index already pays.
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val (_, assigned) = trainedIndex(spark, dir)
    val cl = assigned.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("cluster").orderBy(desc("c"), asc("label"))
    val r = cl
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", sum(col("c")).over(Window.partitionBy("cluster")))
      .withColumn("n_labels", count(lit(1)).over(Window.partitionBy("cluster")))
      .filter(col("rn") === 1)
      .select(col("cluster").as("cell"),
        col("n_members"), col("n_labels").cast("long").as("n_labels"),
        col("label").as("majority_label"), col("c").as("n_majority"),
        F.roundHalfUp(col("c").cast("double") /
          col("n_members").cast("double"), 6).as("purity"))
    Out.sorted(r)(col("cell"))
  }

  /** Terms reported per topic cluster. */
  val TopicTermsPerCluster = 5

  /** Topic labeling of the trained k-means cells — the BERTopic c-TF-IDF
    * move: treat each embedding cluster as one "class document", score
    * every token by `tf_{t,c} · log2(k / df_clusters(t))` (class term
    * frequency × cluster-level inverse document frequency — a token in
    * every cluster scores 0, so corpus-wide boilerplate self-suppresses
    * without a stopword list), and report each cluster's top
    * [[TopicTermsPerCluster]] terms. This is the human-readable face of
    * the semantic index: the same cells SemDeDup prunes and IVF probes
    * get names.
    *
    * Scale shape: the doc↔cell join is key-partitioned on the id, the
    * (cluster, token) count combines map-side, the df/k frames are
    * |vocab| and 1 rows (k broadcast), and the per-cluster top-k is a
    * window Spark 4 executes with a Partial WindowGroupLimit (map-side
    * k·|cells| discard). Nothing is all-pairs; nothing shuffles the
    * corpus twice.
    *
    * Determinism: score is one IEEE multiply of an exact-int tf with a
    * correctly-rounded log2 quotient of exact ints — bit-identical
    * cross-engine — then 6-dp rounded for the output; ranks tie-break
    * on token bytes.
    */
  def topicTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val (_, assigned) = trainedIndex(spark, dir)
    val dt = docs.join(assigned.select(col("vec_id"), col("cluster")),
        docs("doc_id") === col("vec_id"))
      .select(col("cluster"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("token"))
    val tf = dt.groupBy("cluster", "token").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("token")
      .agg(count(lit(1)).as("df_clusters"))
    val k = tf.select(countDistinct(col("cluster")).as("k"))
    val sc = tf.join(dfc, Seq("token")).crossJoin(broadcast(k))
      .select(col("cluster"), col("token"), col("tf"), col("df_clusters"),
        F.roundHalfUp(col("tf").cast("double") *
          log2(col("k").cast("double") / col("df_clusters").cast("double")),
          6).as("score"))
    val w = Window.partitionBy("cluster")
      .orderBy(desc("score"), asc("token"))
    val r = sc.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= TopicTermsPerCluster)
      .select("cluster", "rank", "token", "tf", "df_clusters", "score")
    Out.sorted(r)(col("cluster"), col("rank"))
  }

  /** IVF search over the TRAINED quantizer — closes the loop between
    * [[ivfKmeans]] (which trains centroids) and [[annIvf]] (which probed
    * the label-seeded cells): queries rank the Lloyd centroids, probe
    * their best cell, and scan only the vectors the final assignment
    * placed there. Same plan shape as [[annIvfProbed]] — centroids
    * broadcast to the queries, probed cells broadcast to the corpus-side
    * join — so the corpus is scanned once and never shuffled.
    */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val (centroids, assigned) = trainedIndex(spark, dir)
    ivfSearch(assigned.select(col("vec_id"), col("embedding"), col("cluster")),
      probeCells(queries(emb(spark, dir)), centroids, "cluster", 1), "cluster")
  }

  /** Quantization levels of the SQ8 path (8-bit codes). */
  val QLevels = 255

  /** ANN scale path #3 — SQ8 scalar quantization with asymmetric
    * scoring: the corpus is compressed to 8-bit per-dimension codes
    * (uniform grid between the corpus per-dimension min/max), queries
    * stay full-precision, and candidates score as
    * dot(raw query, dequantized corpus vector) — faiss's ADC scheme.
    * At 100 TB this is the memory/IO dial: the corpus scan reads 1 byte
    * per dimension instead of 4, at a recall cost Sq8RecallSpec
    * measures against the exact baseline.
    *
    * Scale shape: the per-dimension stats are ONE tiny aggregate
    * (64 rows → one array row, broadcast) — no driver collect, so the
    * whole plan is lazy and the stats stay consistent with the scanned
    * corpus snapshot. Encode and dequantize are per-ROW map expressions
    * (interpreted HOF cost is per vector, once); the per-PAIR hot loop
    * stays the codegen [[graft.functions.VectorDot]].
    *
    * Determinism: all arithmetic is double (floats widened first), the
    * quantizer is the pure-IEEE `floor(x + 0.5)` grid, and ranking ties
    * break on neighbor id — the DuckDB oracle replicates the exact
    * dequantized grid, so the gate is hash-exact despite quantization.
    */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = embDistributed(spark, dir).select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("emb"))
    // per-dimension (min, span) packed into two broadcastable arrays
    val stats = e.select(posexplode(col("emb")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(min(col("v")).as("mn"), (max(col("v")) - min(col("v"))).as("span"))
    val statsRow = stats.agg(
      transform(array_sort(collect_list(struct(col("dim"), col("mn")))),
        x => x.getField("mn")).as("mns"),
      transform(array_sort(collect_list(struct(col("dim"), col("span")))),
        x => x.getField("span")).as("spans"))
    // encode→decode in one step: snap each component to its 8-bit grid
    // point (storing the int code and dequantizing later is the same
    // arithmetic; the grid point IS what ADC scores against)
    val enc = e.crossJoin(broadcast(statsRow)).select(col("vec_id"),
      transform(col("emb"), (v, i) => {
        val mn = element_at(col("mns"), i + 1)
        val span = element_at(col("spans"), i + 1)
        when(span === 0d, mn)
          .otherwise(mn + floor((v - mn) / span * QLevels + lit(0.5)) * span / QLevels)
      }).as("deq"))
    val r = ranked(exactSims(enc, queries(e, "emb"), "deq"), "cos_sim", Some(TopK))
      .select("q_id", "rank", "neighbor_id", "cos_sim")
    Out.sorted(r)(col("q_id"), col("rank"))
  }

  /** Product-quantization geometry: [[PqSubspaces]] sub-vectors of
    * [[PqSubDim]] dims each; one label-seeded Lloyd codebook per
    * subspace (k = label cardinality), [[KmeansIters]] iterations.
    */
  val PqSubspaces = 16
  val PqSubDim: Int = Dim / PqSubspaces
  val TopKPq = 5

  /** Codebook size per subspace (Lloyd seeded by vec_id mod k — label
    * cardinality is 10, far too coarse for sub-vector codebooks; real
    * PQ uses 256). */
  val PqCodebooks = 32

  /** The trained PQ index: per subspace, the final codebook
    * (sub, code, centroid) and the corpus codes (vec_id, sub, code) —
    * codes are Voronoi-consistent with the codebook they are scored
    * against, exactly as in [[trainedIndex]].
    *
    * All [[PqSubspaces]] codebooks train JOINTLY: sub-vectors become
    * rows keyed by `sub`, and each Lloyd step is ONE centroid aggregate
    * + ONE broadcast-and-rank pass over the (vec_id, sub) rows —
    * 2 shuffle pairs total, not 2 per subspace (the per-subspace
    * composition ran 16 independent chains = 64 tiny stages whose
    * scheduling latency dominated the query ~6×; the oracle unrolls
    * per subspace, which is arithmetic-identical).
    */
  private def pqIndex(subs: DataFrame): (DataFrame, DataFrame) =
    pqIndexSplit(subs, subs)

  /** [[pqIndex]] with the codebook-training sub-rows and the encoded
    * sub-rows decoupled (see [[lloydOnSplit]] — same add-after-train
    * shape, per subspace).
    */
  private def pqIndexSplit(
      trainSubs: DataFrame, encodeSubs: DataFrame): (DataFrame, DataFrame) = {
    // codebooks train on the TrainCap-bounded md5 sample (whole-vector
    // granularity: all of a sampled vector's sub-rows); only the final
    // encode pass — the index build itself — sweeps the full corpus
    val trainIds = trainSubs.select("vec_id").dropDuplicates("vec_id")
      .orderBy(md5(col("vec_id").cast("string"))).limit(TrainCap)
    val train = Out.eager(
      trainSubs.join(broadcast(trainIds), Seq("vec_id"), "left_semi"))
    var assigned = train.withColumn("cluster", col("vec_id") % PqCodebooks)
    var cents: DataFrame = null
    (1 to KmeansIters).foreach { i =>
      LloydMeter.iterations.incrementAndGet()
      cents = assigned
        .select(col("sub"), col("cluster"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("sub", "cluster", "dim")
        .agg(F.avgFromSums(sum(col("v").cast("decimal(25,10)")), count(lit(1))).as("c"))
        .groupBy("sub", "cluster")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          x => x.getField("c")).as("centroid"))
      // final codebook table eager'd for the same reason as
      // lloydOnSplit's final centroids: it is both written and
      // broadcast into the corpus encode, and lazily each consumer
      // re-ran the whole per-subspace Lloyd chain
      if (i == KmeansIters) cents = Out.eager(cents)
      // argmax as a hash aggregate (max of (sim, -cluster) structs) —
      // the same highest-sim/ties-to-smaller-code pick as the rank-1
      // window it replaced, but the codebook-fanned rows (k per
      // sub-vector row) partial-aggregate map-side instead of feeding a
      // corpus×k-row per-group Sort (guide §2.3: aggregate before the
      // exchange). embedding is constant per (vec_id, sub).
      assigned = (if (i == KmeansIters) encodeSubs else train)
        .join(broadcast(cents), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("embedding"), col("cluster"),
          F.roundHalfUp(dot(col("embedding"), col("centroid")), 6).as("sim"))
        .groupBy("vec_id", "sub")
        .agg(first(col("embedding")).as("embedding"),
          max(struct(col("sim"), (-col("cluster")).as("negc"),
            col("cluster"))).as("best"))
        .select(col("vec_id"), col("sub"), col("embedding"),
          col("best").getField("cluster").as("cluster"))
    }
    (cents.select(col("sub"), col("cluster").as("code"), col("centroid")),
      assigned.select(col("vec_id"), col("sub"), col("cluster").as("code")))
  }

  /** Sub-vector rows (vec_id, sub, embedding) — eagerly materialized:
    * they feed every Lloyd step and the code table (at warehouse scale
    * this frame is the written PQ index).
    */
  private def pqSubs(spark: SparkSession, dir: String): DataFrame =
    Out.eager(subsOf(spark, emb(spark, dir)))

  /** Sub-vector rows of ANY (vec_id, embedding, …) frame — [[pqSubs]]
    * for the whole corpus, and the per-frame form the split-trained
    * index build ([[ivfPqPersistFrames]]) and the delta encode
    * ([[ivfPqAddBatch]]) reuse. Lazy: a caller that reads the frame
    * more than once (a Lloyd loop) checkpoints it itself.
    */
  private def subsOf(spark: SparkSession, e: DataFrame): DataFrame = {
    val chunks = transform(sequence(lit(0), lit(PqSubspaces - 1)),
      m => slice(col("embedding"), m * PqSubDim + 1, lit(PqSubDim)))
    // Explicit spread: the encode pass is a map-side broadcast join
    // over this frame, so its partition count IS the encode parallelism
    // — a single-split scan would serialize the corpus × codebook
    // argmin (measured 5.8 s -> 3.0 s wall on q_ann_pq at sf1,
    // similarly IVF-PQ; on a real multi-split scan this collapses into
    // the partitioning the downstream windows need anyway).
    e.repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), posexplode(chunks).as(Seq("sub", "embedding")))
  }

  /** Per-subspace dot LUT of every query against a PQ codebook frame. */
  private[graft] def pqLut(q: DataFrame, cents: DataFrame): DataFrame =
    q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("sub"), col("code"),
        F.roundHalfUp(
          dot(slice(col("q_emb"), col("sub") * PqSubDim + 1, lit(PqSubDim)),
            col("centroid")), 6).as("part"))

  /** ANN scale path #4 — product quantization with asymmetric distance
    * (IVFADC's scoring half, faiss PQ): the corpus is compressed to
    * [[PqSubspaces]] small integer codes per vector (one per sub-vector,
    * from a per-subspace Lloyd codebook), queries stay full-precision,
    * and a candidate's score is the sum over subspaces of
    * dot(query sub-vector, codebook centroid) — a lookup-table add, no
    * full-width arithmetic per pair. At 100 TB this is the memory
    * compression dial past [[annSq8]]: 64 floats (256 B) become 16
    * byte-sized codes (16 B, 16×), the scan reads codes only, and the per-query work is a
    * k×[[PqSubspaces]] lookup table plus one grouped add per candidate.
    * (Composing with the [[trainedIndex]] cells — scan only the probed
    * cell's codes — is IVF-PQ; the cell restriction is exactly
    * [[annIvfTrained]]'s join.)
    *
    * Plan shape: codebooks are tiny (k × [[PqSubspaces]] rows) so the
    * query LUT is a broadcast cross join; the corpus-side work is one
    * join of the code table against the broadcast LUT and a
    * (q_id, vec_id) sum — the corpus never shuffles full vectors.
    *
    * Determinism: LUT partials are rounded then summed as exact
    * decimals (addition-order-proof), ranking ties break on neighbor
    * id, and the oracle unrolls the identical per-subspace Lloyd
    * chains — hash-exact despite double quantization.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val (cents, codes) = pqIndex(pqSubs(spark, dir))
    val lut = pqLut(queries(emb(spark, dir)), cents)
    val r = adcRanked(codes.join(broadcast(lut), Seq("sub", "code"))
        .filter(col("vec_id") =!= col("q_id")))
      .filter(col("rank") <= TopKPq)
      .select("q_id", "rank", "neighbor_id", "approx_sim")
    Out.sorted(r)(col("q_id"), col("rank"))
  }

  /** ANN scale path #5 — IVF-PQ, the faiss IVFADC architecture whole:
    * the [[trainedIndex]] coarse quantizer restricts the search to each
    * query's best Voronoi cell, and within the cell candidates score by
    * the [[annPq]] lookup-table scheme over their compressed codes. At
    * 100 TB this is THE standard billion-vector layout: the corpus
    * lives as (cell, 16-byte code) rows, a query reads one cell's codes
    * (IVF cuts the scan by the cell count) and never touches a raw
    * vector (PQ cuts the bytes per candidate 16×).
    *
    * Plan shape: both quantizers are tiny and broadcast; the cell
    * restriction is a broadcast join of the probed cells against the
    * assignment, and the per-candidate scoring joins the code table
    * against the broadcast (q_id-aware) LUT — the corpus-sized frames
    * (assignment, codes) are never shuffled by the search.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPqWithCeiling(spark, dir, IvfPqBroadcastCeiling)

  /** Broadcast ceiling (estimated CANDIDATE rows) of the IVF-PQ scoring
    * join: the candidate set is queries × nprobe × probed-cell members,
    * which is tiny for an interactive query batch but UNBOUNDED in
    * general — at billion-vector scale with √N-sized cells and a bulk
    * query batch it can exceed any driver broadcast limit. Above the
    * ceiling the scoring join runs as a plain shuffle join on `vec_id`
    * (both sides hash-partition; the codes table shuffles 16-byte rows).
    * 100k candidate rows ≈ tens of MB broadcast — comfortably inside
    * Spark's default ceilings; IvfPqJoinGateSpec plan-asserts both
    * regimes.
    */
  val IvfPqBroadcastCeiling = 100000L

  /** Nominal cell count of the coarse quantizer for the size estimate.
    * In a production IVF index this is the build-time `nlist` config;
    * here the label-seeded quantizer yields the label cardinality (10
    * on this corpus at every SF).
    */
  val IvfNominalCells = 10L

  private[graft] def annIvfPqWithCeiling(
      spark: SparkSession, dir: String, ceiling: Long): DataFrame =
    served(ivfPqRanked(spark, dir, ceiling))

  /** The full approx-ranked IVF-PQ candidate frame (rank unbounded) —
    * [[annIvfPqWithCeiling]] cuts it at [[TopKPq]]; [[annIvfPqRerank]]
    * cuts deeper ([[RerankDepth]]) and re-scores exactly.
    */
  private[graft] def ivfPqRanked(
      spark: SparkSession, dir: String, ceiling: Long): DataFrame = {
    val (coarseCents, assigned) = trainedIndex(spark, dir)
    val (cents, codes) = pqIndex(pqSubs(spark, dir))
    val probed = probeCells(queries(emb(spark, dir)), coarseCents, "cluster", 1)
    val lut = pqLut(probed.select(col("q_id"), col("q_emb")), cents)
    val cand = assigned.select(col("vec_id"), col("cluster"))
      .join(broadcast(probed.select(col("q_id"), col("cluster"), col("cell_sim"))),
        Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cluster").as("cell"), col("cell_sim"), col("vec_id"))
    // Size gate: estimated candidate rows = queries × nprobe × avg cell
    // size. The corpus row count is a parquet-footer metadata read
    // (cached; zero Spark jobs), not an eager count() action inside
    // the query builder.
    val corpusRows =
      ParquetMeta.rowCount(spark, s"$dir/embeddings.parquet")
    val estCandidates =
      NQueries.toLong * 1L * math.max(1L, corpusRows / IvfNominalCells)
    val candSide = if (estCandidates <= ceiling) broadcast(cand) else cand
    adcRanked(codes.join(candSide, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "sub", "code")), "cell", "cell_sim")
  }

  /** Candidates kept per query for the exact re-scoring pass of
    * [[annIvfPqRerank]] (faiss's `k_factor`: rerank depth = 4× the
    * final k). */
  val RerankDepth: Int = 4 * TopKPq

  /** ANN scale path #6 — IVF-PQ with EXACT RERANKING (faiss's
    * IndexRefineFlat over IVFADC): the compressed index nominates
    * [[RerankDepth]] candidates per query by LUT-approximate score,
    * then ONLY those rows' raw vectors are fetched and re-scored with
    * the exact dot product, and the final top-[[TopKPq]] ranks on the
    * exact value. This is the standard production answer to PQ's
    * quantization error: recall at the approximate stage only has to
    * put the true neighbors somewhere in the top R, not order them —
    * the refine stage fixes the order at the cost of R full-width
    * vector reads per query instead of |cell|.
    *
    * Scale shape: the nomination is [[annIvfPq]]'s plan unchanged (the
    * corpus never shuffles); the refine joins the R·|queries|-row
    * nominee frame (broadcast — it is queries × a constant) against
    * the raw-vector table, so the corpus side of the rerank is a
    * broadcast-probe scan too. Output rank re-orders by exact cosine
    * with the approx score carried alongside (the pair a monitoring
    * dashboard plots quantization error from).
    */
  def annIvfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val nominees = ivfPqRanked(spark, dir, IvfPqBroadcastCeiling)
      .filter(col("rank") <= RerankDepth)
      .select("q_id", "neighbor_id", "approx_sim")
    val e = emb(spark, dir)
    val fetched = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(nominees), Seq("neighbor_id"))
    val rr = fetched.join(broadcast(queries(e)), Seq("q_id"))
      .select(col("q_id"), col("neighbor_id"), col("approx_sim"),
        qSim("embedding").as("cos_sim"))
    val r = ranked(rr, "cos_sim", Some(TopKPq))
      .select("q_id", "rank", "neighbor_id", "cos_sim", "approx_sim")
    Out.sorted(r)(col("q_id"), col("rank"))
  }

  /** PERSISTED-INDEX round trip — the faiss `write_index` /
    * `read_index` production split made Spark-native: training (Lloyd
    * over the md5 sample) and encoding (the full-corpus code sweep)
    * run ONCE and land on disk as three parquet tables; the search
    * side then runs against the stored artifacts with zero Lloyd
    * iterations — the shape a production deployment actually has
    * (index built nightly by one job, queried all day by others).
    *
    * On-disk layout (the IVF inverted lists made physical):
    *   - `centroids/`  (cluster, centroid)            — k rows
    *   - `codebooks/`  (sub, code, centroid)          — k·16 rows
    *   - `lists/`      (vec_id, sub, code) PARTITIONED BY cell —
    *     a query's probed cell is a HIVE PARTITION, so the cell
    *     restriction is dynamic partition pruning at the SCAN: the
    *     search reads only the probed cells' files, never the corpus
    *     (IvfPqIndexSpec pins the pruning in the executed plan). This
    *     is exactly the faiss invlist layout expressed as a parquet
    *     table — at 10⁹ vectors a probe touches |cell| ≈ N/nlist rows
    *     of 16-byte codes per query, the same IO the native index does.
    *
    * The search result is byte-identical to [[annIvfPq]] (same trained
    * artifacts, same joins — the round trip through parquet preserves
    * every double exactly), so the roundtrip row rides q_ann_ivfpq's
    * oracle SQL unchanged.
    *
    * Bench note: the row's wall is BUILD + search (train, encode,
    * partitioned write, then the probe) — it gates the whole
    * write_index/read_index contract, not read-only search latency.
    * The read-only path in isolation is [[annIvfPqFromIndex]]
    * (IvfPqIndexSpec drives it against a pre-built index).
    */
  def ivfPqIndexRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val base = indexBase(dir)
    ivfPqPersist(spark, dir, base)
    served(annIvfPqFromIndex(spark, dir, base))
  }

  /** The index location, a [[Scratch.dir]]: repeated bench/verify runs
    * overwrite one location instead of leaking copies. `tag` separates
    * independent index lifecycles over the same corpus (the roundtrip
    * row and the add row must not race each other's lists/).
    *
    * SINGLE-WRITER assumption: the path is keyed on (corpus dir, tag)
    * only, so two concurrent JVMs running the same catalog row against
    * the same corpus would overwrite lists/ under each other's search.
    * The driver runs verify and bench sequentially, and a production
    * deployment gives the index build its own job + location; when
    * concurrent same-corpus runs are possible, suffix `tag` with a
    * session token.
    */
  private[graft] def indexBase(dir: String, tag: String = "index"): String =
    Scratch.dir(dir, s"ivfpq_$tag")

  /** Train + encode + write the IVF-PQ index tables (see
    * [[ivfPqIndexRoundtrip]] for the layout). The lists table stores
    * each vector's 16 codes under its coarse cell; at warehouse scale
    * this single partitioned write IS the index build job.
    */
  private[graft] def ivfPqPersist(
      spark: SparkSession, dir: String, base: String): Unit = {
    val e = emb(spark, dir)
    ivfPqPersistFrames(spark, e, e, base)
  }

  /** [[ivfPqPersist]] with the TRAINING corpus and the ENCODED corpus
    * decoupled: quantizers (coarse centroids + PQ codebooks) Lloyd on
    * `train`'s md5 sample, while the written inverted lists cover
    * `encode` — the frame pair [[ivfPqIndexAdd]]'s equality spec uses
    * to build the "encoded everything against base-trained quantizers"
    * reference index in one shot.
    */
  private[graft] def ivfPqPersistFrames(
      spark: SparkSession, train: DataFrame, encode: DataFrame,
      base: String): Unit = withWriterLease(spark, base) {
    def dist(f: DataFrame) = f
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding"), col("label"))
    val (coarseCents, assigned) =
      lloydOnSplit(dist(train), dist(encode), col("label"))
    // the Lloyd loop reads the exploded sub-vector frame once per
    // step, so the build materializes it (a localCheckpoint job over
    // the corpus); when the caller trains and encodes the SAME frame —
    // every in-place build — reuse one materialization instead of
    // paying the explode+checkpoint twice
    def subs(f: DataFrame) = Out.eager(subsOf(spark, f))
    val trainSubs = subs(train)
    val encodeSubs = if (encode eq train) trainSubs else subs(encode)
    val (cents, codes) = pqIndexSplit(trainSubs, encodeSubs)
    coarseCents.write.mode("overwrite").parquet(s"$base/centroids")
    cents.write.mode("overwrite").parquet(s"$base/codebooks")
    codes.join(assigned.select(col("vec_id"), col("cluster").as("cell")),
        Seq("vec_id"))
      // cluster by cell before the partitioned write (guide §6, the
      // hash write-distribution mode): without it every upstream task
      // opens a file per cell it happens to hold — tasks × cells tiny
      // files per build; with it AQE sizes a few writer partitions per
      // cell and the index lands as O(cells) statistics-tight files,
      // which is also what the probed-cell search scans want to open
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$base/lists")
  }

  /** Deterministic "new batch" split of the corpus for the incremental
    * index-add row: vectors with vec_id ≡ [[AddResidue]] (mod
    * [[AddModulus]]) arrive AFTER the index was built — 10% of the
    * corpus at every SF, id-interleaved so every cell sees additions.
    */
  val AddModulus = 10L
  val AddResidue = 7L

  /** Second arriving batch of the CHAINED add row (q_ann_index_add_chain):
    * a further 10% lands after the first add — the index absorbs
    * batch after batch against the same stored quantizers, the full
    * incrementalDedupChain shape on the vector side.
    */
  val AddResidue2 = 3L

  private[graft] def embBase(spark: SparkSession, dir: String): DataFrame =
    embDistributed(spark, dir)
      .filter(col("vec_id") % AddModulus =!= AddResidue)

  private def embDelta(spark: SparkSession, dir: String): DataFrame =
    embDistributed(spark, dir)
      .filter(col("vec_id") % AddModulus === AddResidue)

  /** Encode sub-vector rows against a STORED codebook frame
    * (sub, code, centroid) — the final [[pqIndexSplit]] assignment step
    * with zero training: argmax rounded dot, ties to the smaller code.
    */
  private def encodeAgainst(subs: DataFrame, codebooks: DataFrame): DataFrame =
    // argmax as a hash aggregate (max of (sim, -code) structs): highest
    // sim, ties to the smaller code — identical to the rank-1 window it
    // replaced, minus the per-group Sort of the k-fanned rows (§2.3).
    subs.join(broadcast(codebooks), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code"),
        F.roundHalfUp(dot(col("embedding"), col("centroid")), 6).as("sim"))
      .groupBy("vec_id", "sub")
      .agg(max(struct(col("sim"), (-col("code")).as("negc"),
        col("code"))).as("best"))
      .select(col("vec_id"), col("sub"),
        col("best").getField("code").as("code"))

  /** Incremental ADD to a persisted IVF-PQ index — the faiss
    * add-after-train half of the write_index lifecycle: a new-vector
    * batch is assigned to cells against the STORED coarse centroids
    * and encoded against the STORED codebooks (zero Lloyd iterations,
    * zero codebook retrain — IvfPqAddSpec meters it), and the codes
    * land as a DELTA lists table partitioned by cell beside the base
    * lists — the [[graft.operators.TextOps]] incrementalDedupChain
    * delta-append shape applied to the vector index. Overwrite of the
    * delta location makes re-admitting the same batch idempotent.
    *
    * At 100 TB this is the continuous-ingest story: the nightly build
    * trains + encodes once; each arriving batch pays ONE broadcast
    * assign + ONE broadcast encode over just its own rows and one
    * partitioned append — never a corpus re-train, never a corpus
    * rewrite. Searches pick the delta up with the same probed-cell
    * partition pruning as the base (both tables are hive-partitioned
    * by cell).
    */
  private[graft] def ivfPqAdd(
      spark: SparkSession, dir: String, base: String): Unit =
    ivfPqAddBatch(spark, dir, base,
      embDelta(spark, dir), "lists_delta")

  /** One add batch: encode `delta` against the STORED quantizers (zero
    * Lloyd) and land it as its own cell-partitioned delta table under
    * `sub` — the batch-addressed form the CHAIN row uses (each arriving
    * batch gets its own location, so re-admitting any one batch is an
    * overwrite of just that batch, exactly the incrementalDedupChain
    * delta-parquet shape).
    *
    * An EMPTY batch is a no-op admission, not a zero-row table: a
    * partitioned overwrite of nothing writes no part files, and the
    * subsequent read would die on schema inference instead of treating
    * the batch as absent. Overwrite semantics are preserved exactly by
    * DELETING the location (the last admitted content of this batch is
    * "nothing"), which [[searchStored]]'s committed-table filter then
    * skips. The emptiness probe reads the delta without its
    * repartitions (a spread delta, e.g. from [[embDistributed]], would
    * otherwise run a shuffle map stage just to find one row).
    */
  private[graft] def ivfPqAddBatch(
      spark: SparkSession, dir: String, base: String,
      deltaFrame: DataFrame, sub: String): Unit =
      withWriterLease(spark, base) {
    val delta = deltaFrame.select(col("vec_id"), col("embedding"), col("label"))
    if (org.apache.spark.sql.graftbridge.withoutRepartitions(delta).isEmpty) {
      val p = new org.apache.hadoop.fs.Path(s"$base/$sub")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(p, true)
      return
    }
    val coarseCents = ParquetMeta.read(spark, s"$base/centroids")
    val codebooks = ParquetMeta.read(spark, s"$base/codebooks")
    val cells = assignTo(delta, coarseCents)
      .select(col("vec_id"), col("cluster").as("cell"))
    val codes = encodeAgainst(subsOf(spark, delta), codebooks)
    codes.join(cells, Seq("vec_id"))
      .repartition(col("cell")) // one delta file per cell, not tasks × cells
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$base/$sub")
  }

  /** Deterministic "deleted" split for the tombstone-delete row: after
    * the index is built over the FULL corpus, vectors with vec_id ≡
    * [[DeleteResidue]] (mod [[AddModulus]]) are retracted — 10% of the
    * corpus at every SF, id-interleaved so every cell loses members.
    * Disjoint from the add residues so the verbs compose in specs.
    */
  val DeleteResidue = 1L

  /** The tombstone table of the persisted index. APPEND-ONLY: each
    * [[ivfPqDelete]] batch appends its ids and readers dedup, so no
    * read-then-overwrite swap protocol is needed; the physical purge
    * (and the table's reset) happens at the next [[ivfPqCompact]].
    */
  private[graft] val DeletesTable = "deletes"

  /** Tombstone DELETE — the faiss remove_ids verb, LSM-style: the ids
    * land in an append-only [[DeletesTable]] beside the lists (one tiny
    * partitioned-nothing write, the corpus is never touched), every
    * [[searchStored]] masks candidates with a broadcast anti-join, and
    * the next [[ivfPqCompact]] makes the delete PHYSICAL by dropping
    * tombstoned rows from the merged rewrite and resetting the table.
    * This is the 100-TB retraction story: a delete costs one id-list
    * append now and rides the compaction the ingest cadence already
    * pays — never a synchronous corpus rewrite. Idempotent by content:
    * re-admitting any delete batch appends duplicate ids that the
    * read-side distinct collapses. A torn append (crash mid-write)
    * half-applies at worst and is healed by re-running the same batch
    * — the documented retry, same as every append sink here.
    *
    * Content-stable batches append NOTHING: ids the committed table
    * already covers are anti-joined away before the write (the table
    * is tombstone-tiny, so the pre-read costs one small scan), and a
    * fully-covered batch skips the write entirely. Re-admitting the
    * same delete batch — the driver rows' timed repeats, a retried
    * stream trigger — therefore leaves the table's file set unchanged
    * instead of growing it one duplicate file per repeat.
    */
  private[graft] def ivfPqDelete(
      spark: SparkSession, base: String, ids: DataFrame): Unit =
      withWriterLease(spark, base) {
    val batch = ids.select(col("vec_id").cast("long").as("vec_id")).distinct()
    val fresh = tombstones(spark, base)
      .fold(batch)(t => batch.join(t, Seq("vec_id"), "left_anti"))
    if (!fresh.isEmpty)
      fresh.coalesce(1)
        .write.mode("append").parquet(s"$base/$DeletesTable")
  }

  /** The committed tombstone id set, deduped — None when no delete has
    * ever been admitted (or the table was reset by a compaction).
    */
  private def tombstones(
      spark: SparkSession, base: String): Option[DataFrame] =
    if (committed(spark, s"$base/$DeletesTable"))
      Some(ParquetMeta.read(spark, s"$base/$DeletesTable")
        .select(col("vec_id")).distinct())
    else None

  /** True iff a committed table sits at `path`: the `_SUCCESS` marker
    * the parquet committer writes last. A missing OR uncommitted
    * (crashed-mid-write) table reads as absent — searches and
    * compaction skip it rather than failing on schema inference or
    * folding in a torn write.
    */
  private def committed(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Committed delta lists tables under `base` whose directory name
    * starts with `prefix`, in name order — the discovery verb a
    * maintenance job uses to decide when the per-search scan count has
    * crossed its compaction threshold and exactly which tables to fold
    * ([[graft.streaming.AnnIngest]] calls it after every admitted
    * batch). Only COMMITTED tables are returned, so a torn batch write
    * or a delta retired by a concurrent heal reads as absent here the
    * same way it does in [[searchStored]].
    */
  private[graft] def committedDeltas(
      spark: SparkSession, base: String, prefix: String): Seq[String] = {
    val fs = fsOf(spark, base)
    val bp = new org.apache.hadoop.fs.Path(base)
    if (!fs.exists(bp)) Nil
    else fs.listStatus(bp).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .filter(s => committed(spark, s"$base/$s"))
      .sorted
  }

  /** The compaction manifest — the COMMIT POINT of [[ivfPqCompact]]'s
    * swap. Written (temp file + atomic rename) only after the merged
    * table at `lists_compacting` is fully committed, naming exactly the
    * delta tables it folded. Its presence means "the merged table is
    * authoritative"; its absence means the old `lists` + committed
    * deltas are. Completion is idempotent, so any reader
    * ([[searchStored]], the build-skip gates) or a re-run compact can
    * finish an interrupted swap via [[healCompaction]] — no manual
    * rename step anywhere in the lifecycle.
    */
  private def manifestPath(base: String) =
    new org.apache.hadoop.fs.Path(base, "_compaction_manifest.json")

  /** Delta tables admitted by the STREAMING scheduler are named by
    * their micro-batch id ([[graft.streaming.AnnIngest]] appends the id
    * to this prefix). Compaction recognizes the pattern to maintain the
    * folded-batch watermark below.
    */
  private[graft] val StreamDeltaPrefix = "lists_delta_s"
  private val StreamDeltaName = s"^$StreamDeltaPrefix(\\d+)$$".r

  private def foldedWatermarkPath(base: String) =
    new org.apache.hadoop.fs.Path(base, "_folded_watermark.json")

  /** Monotone high-water mark of stream micro-batch ids whose delta
    * tables a COMPLETED compaction has folded into the base lists; -1
    * when no stream delta was ever folded. This is what closes the
    * stream's exactly-once crash window: if the JVM dies after a
    * compaction commits but before the stream checkpoint records the
    * batch offset, the restarted stream re-delivers the batch — without
    * the watermark, re-admission would re-commit the folded delta and
    * every (vec_id, sub) code row of the batch would exist in BOTH the
    * merged lists and the delta. [[graft.streaming.AnnIngest.admit]]
    * skips any batch at or below the watermark. Published through
    * [[Publish.file]] inside [[completeCompaction]] BEFORE the folded
    * deltas' markers retire, so [[healCompaction]] finishing an
    * interrupted swap re-establishes it.
    */
  private[graft] def foldedWatermark(
      spark: SparkSession, base: String): Long =
    try Publish.read(fsOf(spark, base), foldedWatermarkPath(base))
      .flatMap(""""watermark"\s*:\s*(-?\d+)""".r.findFirstMatchIn(_))
      .map(_.group(1).toLong).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }

  private def advanceFoldedWatermark(
      spark: SparkSession, base: String, folded: Seq[String]): Unit = {
    val streamIds = folded.collect { case StreamDeltaName(id) => id.toLong }
    if (streamIds.isEmpty) return
    val cur = foldedWatermark(spark, base)
    val hw = streamIds.max
    if (hw <= cur) return
    Publish.file(fsOf(spark, base), foldedWatermarkPath(base),
      s"""{"watermark":$hw}\n""")
  }

  /** Finish a committed compaction swap: retire each folded delta's
    * `_SUCCESS` FIRST — from that point the deltas read as absent via
    * [[committed]], so no crash inside the swap can leave a delta both
    * folded into the merged table AND still searchable (the
    * double-count window) — then swap `lists` to the merged table,
    * then drop the retired delta directories and the manifest.
    *
    * CONCURRENCY-TOLERANT, not just crash-tolerant: once the manifest
    * (the commit point) exists, ANY reader's heal may run this method
    * — including while the compactor that committed it is still alive
    * and completing, or while another reader heals too. Two rules make
    * racing completers of the same committed swap converge instead of
    * destroying the index: (1) the lists swap is RENAME-based (retire
    * the old lists by rename, rename the merged table in — each rename
    * is atomic, exactly one contender wins it, and the loser verifies
    * the winner's end state), never delete-then-rename, which would
    * open a window with no authoritative lists that a racing loser
    * could be left holding; (2) deletes tolerate "already gone"
    * ([[Publish.remove]]). Hadoop
    * reports rename/delete failure by returning false, not throwing,
    * so every mutation checks its boolean against the converged state.
    * (Single WRITER is still the contract — what races here are
    * readers' heals, which mutate only toward the committed swap's
    * unique end state.)
    */
  private def completeCompaction(
      spark: SparkSession, base: String, folded: Seq[String],
      purged: Boolean): Unit = {
    val fs = fsOf(spark, base)
    // the stream's folded-batch watermark lands FIRST: once the markers
    // below retire, a replayed micro-batch could only learn "already
    // folded" from this file — and heal re-runs this whole method, so a
    // crash at any point re-establishes it (monotone + atomic rename)
    advanceFoldedWatermark(spark, base, folded)
    folded.foreach(s => Publish.remove(fs,
      new org.apache.hadoop.fs.Path(s"$base/$s/_SUCCESS"), false))
    // tombstones retire FIRST, like the delta markers: once the merged
    // table (which already lacks the purged rows) is authoritative,
    // the tombstone list's job is done — dropping it before the swap
    // means no window serves the merged table with a stale mask (the
    // mask is a no-op on it anyway), and a crash here re-heals to the
    // same end state
    if (purged) Publish.remove(fs,
      new org.apache.hadoop.fs.Path(s"$base/$DeletesTable"), true)
    val lists = new org.apache.hadoop.fs.Path(s"$base/lists")
    val compacting = new org.apache.hadoop.fs.Path(s"$base/lists_compacting")
    val retired = new org.apache.hadoop.fs.Path(s"$base/lists_retired")
    Publish.remove(fs, retired, true)
    if (fs.exists(lists) && fs.exists(compacting) &&
        !fs.rename(lists, retired))
      require(!fs.exists(lists) || !fs.exists(compacting),
        s"retire rename failed: $lists -> $retired")
    if (!fs.rename(compacting, lists))
      require(!fs.exists(compacting) && committed(spark, lists.toString),
        s"compaction swap rename failed: $compacting -> $lists")
    Publish.remove(fs, retired, true)
    folded.foreach(s =>
      Publish.remove(fs, new org.apache.hadoop.fs.Path(s"$base/$s"), true))
    Publish.remove(fs, manifestPath(base), false)
  }

  /** This process's in-process locks for one index location.
    *
    * `heal` serializes heal/complete within this process: concurrent
    * READERS (every search heals before trusting the layout) and the
    * single maintenance writer all pass through it, so in-process
    * interleavings of the swap protocol are serialized at statement
    * granularity — the rename-based [[completeCompaction]] additionally
    * converges benign races, but the lock removes the remaining TOCTOU
    * window (a late healer observing pre-swap state and retiring the
    * freshly swapped lists). CROSS-process readers racing a live
    * writer's completion are outside this engine's contract (single
    * maintenance process per index location, as [[indexBase]]
    * documents) — a multi-process deployment puts the swap behind its
    * table-format catalog (Iceberg-style snapshot commit), not bare
    * directory renames.
    *
    * `compact` serializes whole compactions ([[ivfPqCompact]]). It is
    * distinct from `heal`, so reader heals never wait on a merge. Lock
    * order: the writer lease, then `compact`, then `heal`.
    *
    * `leases` counts this process's in-flight maintenance verbs
    * ([[withWriterLease]]); its own monitor guards the lease file.
    */
  private[graft] final class IndexLocks {
    val heal = new Object
    val compact = new Object
    val leases = new java.util.concurrent.atomic.AtomicInteger(0)
  }

  private val indexLocks =
    new java.util.concurrent.ConcurrentHashMap[String, IndexLocks]()

  /** The locks of the index at `base`, keyed by its NORMALIZED location:
    * two spellings of one index (trailing slash, `./` segments,
    * relative vs absolute) must take the SAME locks or the
    * serialization above is bypassed. `Path` squashes slashes and dot
    * segments and the session filesystem's `makeQualified` pins scheme
    * + working directory, so only genuinely distinct locations key
    * distinct entries (symlinked aliases of one directory remain
    * outside the contract, like cross-process writers). The map grows
    * one entry per distinct index location for the JVM's life —
    * unbounded in principle, irrelevant in practice.
    */
  private[graft] def locksOf(spark: SparkSession, base: String): IndexLocks = {
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    indexLocks.computeIfAbsent(
      fs.makeQualified(p).toUri.toString, _ => new IndexLocks)
  }

  /** Self-heal an interrupted compaction before reading or compacting.
    * Manifest present + merged table committed = the swap reached its
    * commit point: complete it (idempotent — every step of
    * [[completeCompaction]] tolerates having already run). Manifest
    * present WITHOUT a committed merged table = a torn manifest/merge
    * write: roll back — the old `lists` + still-committed deltas are
    * intact and authoritative; retired (marker-less) delta leftovers
    * from an already-swapped run are dropped, committed ones are never
    * touched. An unparseable manifest rolls back too: completing with a
    * guessed fold set could leave a folded delta committed beside the
    * merged rows and double-count it in [[searchStored]]'s ADC sum.
    */
  private[graft] def healCompaction(spark: SparkSession, base: String): Unit =
    locksOf(spark, base).heal.synchronized {
      healCompactionLocked(spark, base)
    }

  private def healCompactionLocked(
      spark: SparkSession, base: String): Unit = {
    val fs = fsOf(spark, base)
    val mp = manifestPath(base)
    // an unreadable manifest reads as an empty body: no fold set, so it
    // rolls back below
    val body = try Publish.read(fs, mp)
      catch { case _: java.io.IOException => Some("") }
    if (body.isEmpty) return
    val txt = body.get
    // manifest bodies are written by this module only: a flat
    // {"folded":["lists_delta_b1",...],"purged":bool}; manifests
    // from before the delete verb carry no purged field = false
    val parsed: Option[(Seq[String], Boolean)] =
      """"folded"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(txt)
        .map { m =>
          (m.group(1).split(",").toSeq
            .map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty),
            """"purged"\s*:\s*true""".r.findFirstIn(txt).isDefined)
        }
    val folded = parsed.map(_._1)
    parsed match {
      case Some((f, purged)) if committed(spark, s"$base/lists_compacting") =>
        completeCompaction(spark, base, f, purged)
      case _ =>
        // tolerant deletes, like completeCompaction's: a concurrent
        // healer rolling back the same torn manifest may have removed
        // the path first — "already gone" is the converged state
        Publish.remove(fs,
          new org.apache.hadoop.fs.Path(s"$base/lists_compacting"), true)
        // a retired delta (marker already gone) only exists here if the
        // swap completed and cleanup crashed — its rows live in `lists`
        folded.getOrElse(Nil).foreach { s =>
          val p = new org.apache.hadoop.fs.Path(s"$base/$s")
          if (fs.exists(p) && !committed(spark, s"$base/$s"))
            Publish.remove(fs, p, true)
        }
        Publish.remove(fs, mp, false)
    }
  }

  /** Fold every committed delta lists table back into the base lists —
    * the faiss merge verb completing the train/add lifecycle. Pure
    * partition rewrite against the SAME stored quantizers: the codes
    * and cell assignments were fixed when each batch was encoded, so
    * compaction reads (vec_id, sub, code, cell) rows and rewrites them
    * under one location — ZERO Lloyd iterations, zero re-encode
    * (IvfPqCompactSpec meters it). This is what bounds the search cost
    * under continuous ingest: N chained adds leave N+1 pruned scans +
    * N+1 broadcast probe joins in every search ([[searchStored]]);
    * compacting restores the single-scan plan without touching a
    * single embedding.
    *
    * Swap protocol (crash-safe at every step, IvfPqCompactSpec drives
    * the windows): (1) the merged table lands at `lists_compacting`;
    * (2) the manifest naming the folded deltas lands by atomic rename —
    * the COMMIT POINT; (3) [[completeCompaction]] retires the folded
    * deltas' `_SUCCESS` markers, swaps `lists`, and drops the leftovers.
    * A crash before (2) leaves the old state authoritative (re-compact
    * simply redoes the merge); a crash after (2) is finished by
    * [[healCompaction]] on the next read or compact — a scheduled
    * maintenance job can retry this verb blindly. Missing deltas are
    * skipped, so re-running compaction after recovery — or with nothing
    * to fold — is a no-op, not a rewrite.
    *
    * Compactor-vs-compactor (the writer-vs-writer law): within one
    * process, whole compactions serialize on a per-index WRITER lock —
    * distinct from the heal monitor, so reader heals (every search)
    * never stall behind a running merge. The second compactor of a
    * race therefore starts after the first completed its swap, finds
    * the folded deltas retired ([[committed]] reads them as absent)
    * and no tombstones, and is the documented NO-OP — the fold happens
    * exactly once under any in-process interleaving
    * (IvfPqCompactSpec drives the race). CROSS-process compactors stay
    * outside the contract, like cross-process readers racing a writer
    * ([[healCompaction]]'s note): one maintenance process per index
    * location, or a table-format catalog owns the swap.
    */
  private[graft] def ivfPqCompact(
      spark: SparkSession, base: String, deltas: Seq[String]): Unit =
    withWriterLease(spark, base) {
      locksOf(spark, base).compact.synchronized {
        ivfPqCompactLocked(spark, base, deltas)
      }
    }

  private def leasePath(base: String) =
    new org.apache.hadoop.fs.Path(base, "_writer_lease.json")

  /** This process's maintenance-writer identity: pid@host plus the JVM
    * start time (pid reuse across restarts would otherwise alias two
    * writers). Stable for the JVM's life — every verb this process
    * runs claims and recognizes the same identity.
    */
  private[graft] lazy val writerId: String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    s"${rt.getName}/${rt.getStartTime}"
  }

  /** CROSS-PROCESS writer fence for the persisted index — the
    * enforcement of docs/SCALE.md's single-maintenance-writer contract
    * (previously documented only). Every maintenance verb
    * ([[ivfPqAddBatch]], [[ivfPqDelete]], [[ivfPqCompact]]) runs inside
    * this: the outermost verb CREATE-EXCLUSIVEs `_writer_lease.json`
    * (atomic on HDFS and local FS — the loser of a simultaneous
    * acquire gets FileAlreadyExists and re-reads) stamped with
    * [[writerId]]; a lease held by a FOREIGN process fails loudly
    * instead of letting two writers corrupt the swap; the process's
    * last in-flight verb deletes it. A crash mid-verb leaves the lease
    * behind BY DESIGN: the next writer must decide whether the holder
    * is dead (delete the lease; [[healCompaction]] finishes any
    * interrupted swap) rather than silently co-writing with a live
    * one. Reader paths (search, heal-on-read) take no lease — a
    * cross-process reader racing a writer's completion stays outside
    * the contract as documented.
    */
  private[graft] def withWriterLease[T](
      spark: SparkSession, base: String)(f: => T): T = {
    val p = leasePath(base)
    val fs = fsOf(spark, base)
    def holder(): Option[String] =
      try Publish.read(fs, p).flatMap(
        """"writer"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(_).map(_.group(1)))
      catch { case _: java.io.IOException => None }
    def refuse(other: String): Nothing = throw new IllegalStateException(
      s"index at $base is being maintained by writer $other (this " +
        s"process is $writerId): a second maintenance writer would " +
        "corrupt the compaction swap. Stop the other process, or — if " +
        s"it is dead — delete ${leasePath(base)}; an interrupted swap " +
        "is finished automatically by the next heal.")
    // outermost-verb refcount: the lease file exists exactly while ≥1
    // maintenance verb of this process is inside the index, so composed
    // verbs (admit = add + threshold compact) hold ONE claim and
    // concurrent same-process verbs (an add racing a compaction —
    // legal, IvfPqCompactSpec's window case) don't drop the fence early
    val refs = locksOf(spark, base).leases
    refs.synchronized {
      if (refs.get() == 0) {
        holder() match {
          case Some(id) if id != writerId => refuse(id)
          case Some(_) => () // ours from a failed delete — keep it
          case None =>
            fs.mkdirs(new org.apache.hadoop.fs.Path(base))
            try {
              val out = fs.create(p, false) // create-exclusive: atomic claim
              try out.write(s"""{"writer":"$writerId"}\n""".getBytes("UTF-8"))
              finally out.close()
            } catch {
              case _: java.io.IOException =>
                holder() match {
                  case Some(id) if id != writerId => refuse(id)
                  case Some(_) => ()
                  case None => throw new java.io.IOException(
                    s"could not claim writer lease at $p")
                }
            }
        }
      }
      refs.incrementAndGet()
    }
    try f
    finally refs.synchronized {
      if (refs.decrementAndGet() == 0)
        try { if (holder().contains(writerId)) fs.delete(p, false) }
        catch { case _: java.io.IOException => () } // stale ours: re-claimed next verb
    }
  }

  /** A stored lists table (vec_id, sub, code, cell): the partition
    * column reads back via directory-name inference; the cast restores
    * the stored assignment's int type exactly.
    */
  private def listsAt(spark: SparkSession, path: String): DataFrame =
    ParquetMeta.read(spark, path)
      .select(col("vec_id"), col("sub"), col("code"),
        col("cell").cast("int").as("cell"))

  private def ivfPqCompactLocked(
      spark: SparkSession, base: String, deltas: Seq[String]): Unit = {
    healCompaction(spark, base)
    val present = deltas.filter(s => committed(spark, s"$base/$s"))
    // the merge is ALSO the physical-delete pass: tombstoned rows are
    // dropped from the rewrite and the tombstone table retires with
    // the swap — so a compaction with nothing to fold but pending
    // deletes still rewrites (that rewrite IS the purge); with neither,
    // it is a no-op that never touches the lists
    val dead = tombstones(spark, base)
    if (present.isEmpty && dead.isEmpty) return
    val merged = ("lists" +: present)
      .map(s => listsAt(spark, s"$base/$s"))
      .reduce(_ unionByName _)
    dead.map(t => merged.join(broadcast(t), Seq("vec_id"), "left_anti"))
      .getOrElse(merged)
      .repartition(col("cell")) // the compaction IS the small-file fix
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$base/lists_compacting")
    Publish.file(fsOf(spark, base), manifestPath(base),
      s"""{"folded":[${present.map(graft.Json.quote).mkString(",")}],""" +
        s""""purged":${dead.nonEmpty}}\n""")
    locksOf(spark, base).heal.synchronized {
      completeCompaction(spark, base, present, dead.nonEmpty)
    }
  }

  /** IVF-PQ search against a PERSISTED index (no training, no encode):
    * probe each query's best cell against the stored centroids, build
    * the LUT from the stored codebooks, and score only the probed
    * cells' stored codes. The broadcast join on the `cell` partition
    * column is what lets Spark prune the lists scan to the probed
    * partitions (dynamic partition pruning).
    */
  private[graft] def annIvfPqFromIndex(
      spark: SparkSession, dir: String, base: String): DataFrame =
    searchStored(spark, dir, base, Nil)

  /** [[annIvfPqFromIndex]] over base lists ∪ delta lists (post-add
    * search). Each lists table joins the broadcast probe frame
    * SEPARATELY — a join above the union would sit on a Union node and
    * dynamic partition pruning fires per scan, so probing each side
    * then unioning keeps EVERY scan pruned to the probed cells.
    */
  private[graft] def annIvfPqFromIndexWithDelta(
      spark: SparkSession, dir: String, base: String): DataFrame =
    searchStored(spark, dir, base, Seq("lists_delta"))

  /** `nprobe` is the faiss SERVE-TIME dial: how many coarse cells each
    * query probes. More probes = more candidate lists scanned (still
    * DPP-pruned to exactly the probed cells) = higher recall at higher
    * latency — a pure read-side knob, the index is never touched. The
    * LUT depends on the query alone, so it is built from the query
    * frame (one row per (q_id, sub, code) at any probe depth) and the
    * plan computes the probe once, for the candidate join.
    */
  private[graft] def searchStored(
      spark: SparkSession, dir: String, base: String,
      deltas: Seq[String], nprobe: Int = 1): DataFrame = {
    // finish (or roll back) an interrupted compaction swap before
    // trusting the table layout: a crashed maintenance job must never
    // make the serving path 404 on `lists`
    healCompaction(spark, base)
    // a named delta that was never written (empty admission), already
    // compacted away, or torn mid-write is ABSENT, not an error — the
    // committed-table filter is what makes add/compact/search verbs
    // composable in any order
    val presentDeltas = deltas.filter(s => committed(spark, s"$base/$s"))
    val coarseCents = ParquetMeta.read(spark, s"$base/centroids")
    val cents = ParquetMeta.read(spark, s"$base/codebooks")
    val q = queries(emb(spark, dir))
    val probed = probeCells(q, coarseCents, "cluster", nprobe)
      .withColumnRenamed("cluster", "cell")
    val lut = pqLut(q, cents)
    val probeKeys = probed.select(col("q_id"), col("cell"), col("cell_sim"))
    def candOf(lists: DataFrame) = lists
      .join(broadcast(probeKeys), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
    val unmasked = ("lists" +: presentDeltas)
      .map(s => candOf(listsAt(spark, s"$base/$s")))
      .reduce(_ unionByName _)
    // tombstoned ids never reach the scorer: one broadcast anti-join
    // above the union (the DPP cell joins live below it, per scan).
    // The tombstone set is bounded by the compaction cadence — the
    // next merge makes these deletes physical and resets the table.
    val cand = tombstones(spark, base)
      .map(t => unmasked.join(broadcast(t), Seq("vec_id"), "left_anti"))
      .getOrElse(unmasked)
    adcRanked(cand.join(broadcast(lut), Seq("q_id", "sub", "code")),
      "cell", "cell_sim")
  }

  /** INCREMENTAL-ADD round trip (q_ann_index_add) — the full faiss
    * add-after-train lifecycle as one oracle-gated row: (1) build and
    * persist the index over the BASE corpus only (vec_id ≢
    * [[AddResidue]] mod [[AddModulus]] — training sample AND inverted
    * lists both base-only); (2) [[ivfPqAdd]] the held-out 10% as an
    * arriving batch, encoded against the STORED quantizers with zero
    * Lloyd iterations; (3) search base ∪ delta lists, both scans
    * pruned to the probed cells. `from_delta` marks neighbors that
    * entered through the add path — the oracle recomputes it from the
    * id rule, so delta rows surviving into the top-k are themselves
    * hash-gated.
    *
    * Equality law (IvfPqAddSpec): this search is row-identical to a
    * one-shot index that trains on base and encodes everything
    * ([[ivfPqPersistFrames]]) — add-then-search ≡ encode-all-then-
    * search, the property that makes incremental maintenance safe.
    * Like the roundtrip row, the benched wall is build + add + search,
    * not search alone.
    */
  def ivfPqIndexAdd(spark: SparkSession, dir: String): DataFrame = {
    val base = indexBase(dir, "add")
    val baseCorpus = embBase(spark, dir)
    ivfPqPersistFrames(spark, baseCorpus, baseCorpus, base)
    ivfPqAdd(spark, dir, base)
    served(annIvfPqFromIndexWithDelta(spark, dir, base), fromDelta)
  }

  /** Add-only steady-state row (q_ann_index_add_batch) — the
    * nightly-ingest cost measured against a PREBUILT index, the serving
    * ladder's rung beside [[ivfPqIndexSearch]]'s search-only wall. The
    * base-corpus index builds AT MOST ONCE per corpus (the same
    * committed-tables + corpus-stamp gate as the search row), so every
    * timed repeat measures the add verb + the base∪delta search alone:
    * one broadcast assign + one broadcast encode over just the arriving
    * 10% batch — zero Lloyd iterations, zero codebook retrain
    * (IvfPqAddBatchRowSpec meters the steady state) — plus the
    * DPP-pruned two-scan search. Re-admitting the same batch each
    * repeat IS [[ivfPqAddBatch]]'s idempotent-overwrite contract; an
    * add-path regression (a lost zero-Lloyd, a re-encode creeping in)
    * shows up in THIS wall instead of hiding inside the build
    * composites. Result is row-identical to [[ivfPqIndexAdd]] (same
    * quantizer training set, same arriving batch), so the row rides the
    * same oracle SQL; add-cost ≈ this wall minus the search-only wall.
    */
  def ivfPqIndexAddBatchRow(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureIndex(spark, dir, "addbatch", embBase(spark, dir))
    ivfPqAdd(spark, dir, base)
    served(annIvfPqFromIndexWithDelta(spark, dir, base), fromDelta)
  }

  /** CHAINED adds (q_ann_index_add_chain) — the full continuous-ingest
    * lifecycle: build once over the base (vec_id ≢ {[[AddResidue]],
    * [[AddResidue2]]} mod [[AddModulus]]), then absorb TWO successive
    * 10% batches against the SAME stored quantizers, each landing in
    * its own delta table (re-admitting either batch overwrites just
    * that batch — the incrementalDedupChain shape whole). The search
    * reads base ∪ delta₁ ∪ delta₂, all three scans pruned to the
    * probed cells; `from_batch` (0 = built-in, 1/2 = which add)
    * hash-gates which arrivals surface in the top-k. The oracle trains
    * on the two-batch-held-out base and encodes everything —
    * add-add-then-search ≡ encode-all-then-search, the associativity
    * that makes batch-at-a-time maintenance safe indefinitely.
    *
    * The base build runs AT MOST ONCE per corpus (the [[ensureIndex]]
    * committed-tables + corpus-stamp gate — safe here because nothing
    * in this row mutates `lists`): the benched repeats measure the
    * lifecycle's RECURRING cost — two adds + the three-scan search —
    * not the nightly train the roundtrip row already prices.
    */
  def ivfPqIndexAddChain(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureIndex(spark, dir, "addchain",
      embDistributed(spark, dir)
        .filter(col("vec_id") % AddModulus =!= AddResidue &&
          col("vec_id") % AddModulus =!= AddResidue2))
    def batch(residue: Long) = embDistributed(spark, dir)
      .filter(col("vec_id") % AddModulus === residue)
    ivfPqAddBatch(spark, dir, base, batch(AddResidue), "lists_delta_b1")
    ivfPqAddBatch(spark, dir, base, batch(AddResidue2), "lists_delta_b2")
    served(searchStored(spark, dir, base,
      Seq("lists_delta_b1", "lists_delta_b2")), fromBatch)
  }

  /** COMPACTION round trip (q_ann_index_compact) — the chain row's
    * lifecycle completed by the merge verb: build over the two-batch-
    * held-out base, absorb both batches as deltas, then [[ivfPqCompact]]
    * folds the deltas back into the base lists (pure partition rewrite,
    * zero Lloyd, zero re-encode) and the search runs against ONE lists
    * table again — one pruned scan, one broadcast probe join, however
    * many adds preceded it. The result is row-identical to
    * [[ivfPqIndexAddChain]]'s union search (the codes never change,
    * only their location), so the row rides the chain's oracle SQL —
    * what it gates is the merge step's losslessness
    * (compact-then-search ≡ add-add-then-search ≡
    * encode-all-then-search, the chain law extended one verb).
    */
  def ivfPqIndexCompact(spark: SparkSession, dir: String): DataFrame = {
    val base = indexBase(dir, "compact")
    val baseCorpus = embDistributed(spark, dir)
      .filter(col("vec_id") % AddModulus =!= AddResidue &&
        col("vec_id") % AddModulus =!= AddResidue2)
    ivfPqPersistFrames(spark, baseCorpus, baseCorpus, base)
    def batch(residue: Long) = embDistributed(spark, dir)
      .filter(col("vec_id") % AddModulus === residue)
    ivfPqAddBatch(spark, dir, base, batch(AddResidue), "lists_delta_b1")
    ivfPqAddBatch(spark, dir, base, batch(AddResidue2), "lists_delta_b2")
    ivfPqCompact(spark, base, Seq("lists_delta_b1", "lists_delta_b2"))
    // EMPTY-delta re-compact inside the gated row: both deltas are
    // already folded (absent), no tombstones pend — the verb must be a
    // no-op that never touches the lists. Riding it here puts the
    // boundary inside the driver hash at every scale (a rewrite that
    // drops or duplicates rows would fail the oracle), beside
    // IvfPqCompactSpec's files-untouched pin.
    ivfPqCompact(spark, base, Seq("lists_delta_b1", "lists_delta_b2"))
    served(searchStored(spark, dir, base, Nil), fromBatch)
  }

  /** Provenance stamp of the corpus an index was built from: path +
    * file count + total length + newest mtime of the embeddings table,
    * written beside the stored quantizers at build time. The build-skip
    * gates compare it so a corpus swapped under the digest-keyed
    * location forces a rebuild instead of serving a stale index.
    *
    * When the table is a DIRECTORY (the normal multi-file Spark
    * layout), the stamp folds over the data files' statuses rather
    * than the directory's own: a directory's len is 0 and its mtime
    * only moves on child create/delete, so a corpus rewritten in place
    * with preserved names (rsync -a, snapshot restore) would otherwise
    * serve a stale index.
    */
  private def corpusStamp(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    val (n, len, mtime) =
      if (st.isDirectory) {
        val kids = fs.listStatus(p).filter(_.isFile)
        (kids.length,
          kids.map(_.getLen).sum,
          (st.getModificationTime +: kids.map(_.getModificationTime).toSeq).max)
      } else (1, st.getLen, st.getModificationTime)
    s"""{"path":${graft.Json.quote(p.toString)},"n":$n,"mtime":$mtime,"len":$len}"""
  }

  private def stampPath(base: String) =
    new org.apache.hadoop.fs.Path(base, "_corpus_stamp.json")

  /** READ-ONLY search wall for the persisted index
    * (q_ann_index_search): the steady-state serving cost — the number
    * a capacity planner needs for "index built nightly, queried all
    * day". The build runs AT MOST ONCE per corpus: when all three
    * index tables are committed and the corpus stamp matches, the call
    * goes straight to [[annIvfPqFromIndex]] with zero Lloyd iterations
    * and zero writes (IvfPqSearchRowSpec meters the skip), so the
    * bench's timed repeats — and every run after the first — measure
    * the search path alone: probe + LUT + the DPP-pruned lists scan.
    * Result is byte-identical to [[ivfPqIndexRoundtrip]]'s search
    * (same corpus, same trained artifacts), so the row rides the same
    * oracle SQL; a regression unique to THIS row's wall is a
    * search-path regression (e.g. DPP silently lost), not build noise.
    */
  def ivfPqIndexSearch(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureSearchIndex(spark, dir)
    served(annIvfPqFromIndex(spark, dir, base))
  }

  /** Probe-2 serving row (q_ann_index_search_probe2) — the faiss nprobe
    * dial proven at a SECOND setting on the STORED index, completing
    * the dial story the in-memory ladder already has (q_ann_ivf /
    * q_ann_ivf_probe2): each query probes its [[IvfNProbe]] best coarse
    * cells and the lists scan prunes to exactly those partitions — a
    * pure read-side recall/latency knob, zero index mutation, sharing
    * [[ensureSearchIndex]]'s build-at-most-once gate with the probe-1
    * row. The candidate set is a SUPERSET of probe-1's (spec-pinned),
    * which is what makes the dial safe to turn up under load: serving
    * quality is monotone in probes while cost stays bounded by the
    * probed-cell row count. Own oracle (the probe-2 CTE chain), own
    * hash gate.
    */
  def ivfPqIndexSearchProbe2(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureSearchIndex(spark, dir)
    served(searchStored(spark, dir, base, Nil, nprobe = IvfNProbe))
  }

  /** Build-at-most-once gate shared by the steady-state rows: returns
    * the digest-keyed index location for `tag`, building from `corpus`
    * (training AND encoding it) only when any of the three tables is
    * uncommitted or the corpus stamp mismatches. Heals an interrupted
    * compaction first — the committed-tables check must see the final
    * layout, not a mid-swap one.
    */
  private[graft] def ensureIndex(
      spark: SparkSession, dir: String, tag: String,
      corpus: => DataFrame): String = {
    val base = indexBase(dir, tag)
    healCompaction(spark, base)
    val stamp = corpusStamp(spark, dir)
    val fs = fsOf(spark, base)
    val built = Seq("centroids", "codebooks", "lists")
      .forall(t => committed(spark, s"$base/$t")) &&
      // an unreadable/corrupt stamp is a MISMATCH (rebuild), not a
      // crash — the stamp gates staleness, it must never gate liveness
      (try Publish.read(fs, stampPath(base)).exists(_.trim == stamp)
       catch { case _: java.io.IOException => false })
    // a REBUILD (corpus swapped under the digest-keyed location) is a
    // maintenance write like any other, so it runs under the writer
    // lease — a foreign writer is refused before anything is touched
    if (!built) withWriterLease(spark, base) {
      // it starts from nothing: stale tombstones would silently mask
      // rows of the rebuilt index, stale deltas would be unioned into
      // its searches, and a stale stream watermark would skip fresh
      // batches
      val bp = new org.apache.hadoop.fs.Path(base)
      if (fs.exists(bp)) {
        val stale = fs.listStatus(bp).toSeq.map(_.getPath).filter { p =>
          val n = p.getName
          n == DeletesTable || n.startsWith("lists_delta") ||
            n.startsWith("_folded_watermark") ||
            n.startsWith("_stream_identity")
        }
        stale.foreach(Publish.remove(fs, _, true))
      }
      val c = corpus
      ivfPqPersistFrames(spark, c, c, base)
      Publish.file(fs, stampPath(base), stamp + "\n")
    }
    base
  }

  private def ensureSearchIndex(spark: SparkSession, dir: String): String =
    ensureIndex(spark, dir, "search", emb(spark, dir))

  /** Tombstone DELETE row (q_ann_index_delete) — the faiss remove_ids
    * verb under the driver gate: the index is built over the FULL
    * corpus (at most once — the same committed-tables + corpus-stamp
    * gate as the serving rows), the [[DeleteResidue]] tenth of the ids
    * is retracted through [[ivfPqDelete]] (one id-list append, the
    * corpus untouched), and the search runs with the tombstone mask in
    * the plan — the steady-state "serve while deletes are pending"
    * cost, the rung between search-only and add-only in the ladder.
    * Timed repeats re-append the same delete batch (idempotent by
    * content: the read-side distinct collapses duplicates) and re-run
    * the masked search.
    *
    * Equality law (IvfPqDeleteSpec): delete-then-search ≡
    * encode-all-EXCEPT-deleted against the same quantizers — the add
    * law mirrored — and the oracle replays exactly that (full-corpus
    * training, candidates filtered on the residue), so a tombstone
    * leak (mask lost, purge dropping the wrong rows) fails the hash.
    * The physical half — the next compact purges the rows and retires
    * the table, after which the same search runs maskless and
    * hash-equal — is spec-pinned.
    */
  def ivfPqIndexDelete(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureIndex(spark, dir, "delete", emb(spark, dir))
    import spark.implicits._
    // the delete batch also carries two NEVER-INDEXED sentinel ids: the
    // faiss remove_ids contract says unknown ids are no-ops, and riding
    // them in the gated row proves it against the oracle at every scale
    // (a mask that over-matches, or a purge that joins on the wrong
    // key, would change the hash) — not just in IvfPqDeleteSpec
    val unknown = Seq(Long.MaxValue - 1, Long.MaxValue - 2).toDF("vec_id")
    ivfPqDelete(spark, base, embDistributed(spark, dir)
      .filter(col("vec_id") % AddModulus === DeleteResidue)
      .select(col("vec_id"))
      .unionByName(unknown))
    served(searchStored(spark, dir, base, Nil))
  }

  /** Index OBSERVABILITY row (q_ann_index_stats) — faiss's
    * imbalance-factor stats promoted to an oracle-checked query: per
    * probed cell, how many vectors the stored inverted lists hold, the
    * cell's share of the corpus, and the global imbalance factor
    * nlist·Σnᵢ²/n² (1.0 = perfectly balanced lists; the number that
    * says whether probed-cell pruning actually bounds search work, or
    * one hot cell is carrying the corpus). Reads ONLY the stored lists
    * table behind the same build-at-most-once gate as the serving rows
    * — the scan groups (vec_id, sub) rows by partition value, so at
    * 100 TB this is a metadata-cheap aggregation over the index
    * layout, never a touch of the embeddings. The oracle replays the
    * coarse assignment from scratch, so a drifted stored layout (cells
    * written under the wrong assignment, rows lost in a compaction)
    * fails the hash even when searches still return plausible
    * neighbors.
    */
  def ivfPqIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureSearchIndex(spark, dir)
    val occ = ParquetMeta.read(spark, s"$base/lists")
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(countDistinct(col("vec_id")).as("n_vectors"))
    // n_cells is the TRAINED nlist (the stored centroids table), not the
    // count of non-empty lists: faiss's imbalance factor nlist·Σnᵢ²/n²
    // counts empty cells — an index where one centroid captured nothing
    // is MORE imbalanced, and occupied-cell counting would understate it
    val nCells = ParquetMeta.read(spark, s"$base/centroids")
      .agg(count(lit(1)).as("n_cells"))
    val tot = occ.agg(
      sum(col("n_vectors")).as("n"),
      sum(col("n_vectors") * col("n_vectors")).as("sq"))
      .crossJoin(nCells)
    val r = occ.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        F.roundHalfUp(
          col("n_vectors").cast("double") / col("n").cast("double"), 6)
          .as("share"),
        F.roundHalfUp(
          col("sq").cast("double") * col("n_cells").cast("double") /
            (col("n").cast("double") * col("n").cast("double")), 6)
          .as("imbalance"))
    Out.sorted(r)(col("cell"))
  }

  /** [[ivfPqIndexSearch]] restated as PURE SQL TEXT over the STORED
    * index tables (q_ann_index_search_sql) — the dual-surface proof for
    * the serving path: a `spark.sql` user points three views at the
    * persisted centroids/codebooks/lists parquet and composes the whole
    * probe → LUT → pruned-scan → ADC-sum pipeline with nothing but SQL
    * and `vector_dot` (registered by [[graft.functions.Registry]]). The
    * text compiles to the SAME plan shape as the DataFrame form —
    * broadcast probe join against the hive-partitioned lists view, so
    * dynamic partition pruning fires at the scan exactly as in
    * [[searchStored]] (IvfPqSearchRowSpec asserts it on THIS plan) —
    * and the row is pinned hash-equal to q_ann_index_search by the
    * same oracle SQL. Shares [[ensureSearchIndex]]'s build-at-most-once
    * gate (same single-writer assumption as [[indexBase]]).
    */
  def ivfPqIndexSearchSql(spark: SparkSession, dir: String): DataFrame =
    storedSearchSql(spark, dir, ensureSearchIndex(spark, dir), masked = false)

  /** The masked DELTA-UNION read restated as PURE SQL TEXT
    * (q_ann_index_masked_sql) — the serving state a continuously
    * maintained index actually sits in between compactions: base lists
    * + a pending add delta + pending tombstones. q_ann_index_search_sql
    * proves the steady-state read is SQL-expressible; this row proves
    * the MAINTENANCE-WINDOW read is too — a spark.sql user points views
    * at the stored tables and composes probe → LUT → per-scan pruned
    * candidates (each lists table joins the broadcast probe frame
    * SEPARATELY, below the UNION ALL, so dynamic partition pruning
    * fires per scan exactly as in [[searchStored]]) → one LEFT ANTI
    * JOIN tombstone mask above the union → ADC sum. Lifecycle verbs
    * ride their own gates: the base index builds at most once per
    * corpus (tag-isolated, so this row's tombstones never leak into the
    * other serving rows' indices), the delta re-admission is
    * [[ivfPqAddBatch]]'s idempotent overwrite, the delete re-append
    * collapses in the read-side DISTINCT. The oracle trains on the
    * base corpus, encodes everything, and excludes the deleted residue
    * from candidates — add-then-delete-then-search ≡
    * encode-all-except-deleted against base-trained quantizers, the add
    * and delete laws composed in one SQL statement.
    */
  def ivfPqIndexMaskedSql(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureIndex(spark, dir, "sqlmask", embBase(spark, dir))
    ivfPqAdd(spark, dir, base)
    ivfPqDelete(spark, base, embDistributed(spark, dir)
      .filter(col("vec_id") % AddModulus === DeleteResidue)
      .select(col("vec_id")))
    storedSearchSql(spark, dir, base, masked = true)
  }

  /** The one CTE template behind both SQL serving rows: views over the
    * stored tables, then probe → LUT → per-scan pruned candidates →
    * ADC sum → rank. `masked` adds the delta scan (its own probe join,
    * below the UNION ALL), the tombstone LEFT ANTI JOIN above the union,
    * and the `from_delta` label.
    */
  private def storedSearchSql(spark: SparkSession, dir: String, base: String,
      masked: Boolean): DataFrame = {
    graft.functions.VectorDot.register(spark)
    Tables.load(spark, dir, "embeddings")
      .createOrReplaceTempView("graft_ann_embeddings")
    val views = Seq("centroids" -> "centroids", "codebooks" -> "codebooks",
      "lists" -> "lists") ++
      (if (masked) Seq("lists_delta" -> "delta", DeletesTable -> "deletes")
       else Nil)
    views.foreach { case (table, view) =>
      ParquetMeta.read(spark, s"$base/$table")
        .createOrReplaceTempView(s"graft_ann_$view")
    }
    val r6 = (x: String) => s"CAST(floor(($x) * 1.0E6 + 0.5) AS DOUBLE) / 1.0E6"
    val d = PqSubDim
    val scans = (if (masked) Seq("lists", "delta") else Seq("lists")).map(v =>
      s"""SELECT /*+ BROADCAST(p) */ l.vec_id, l.sub, l.code,
               p.q_id, p.cell, p.cell_sim
        FROM graft_ann_$v l
        JOIN probed p ON CAST(l.cell AS INT) = p.cell
        WHERE l.vec_id <> p.q_id""")
    val live = if (!masked) "" else """
      live AS (
        SELECT c.* FROM cand c
        LEFT ANTI JOIN (SELECT DISTINCT vec_id FROM graft_ann_deletes) dd
          ON c.vec_id = dd.vec_id),"""
    val label =
      if (masked) s",\n             neighbor_id % $AddModulus = $AddResidue AS from_delta"
      else ""
    spark.sql(s"""
      WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM graft_ann_embeddings WHERE vec_id < $NQueries),
      cells AS (
        SELECT q_id, q_emb, cluster, cell_sim,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cell_sim DESC, cluster ASC) AS rn
        FROM (SELECT /*+ BROADCAST(c) */ q.q_id, q.q_emb, c.cluster,
                     ${r6("vector_dot(q.q_emb, c.centroid)")} AS cell_sim
              FROM q CROSS JOIN graft_ann_centroids c)),
      probed AS (
        SELECT q_id, q_emb, cluster AS cell, cell_sim FROM cells WHERE rn <= 1),
      lut AS (
        SELECT /*+ BROADCAST(cb) */ q.q_id, cb.sub, cb.code,
               ${r6(s"vector_dot(slice(q.q_emb, cb.sub * $d + 1, $d), cb.centroid)")} AS part
        FROM q CROSS JOIN graft_ann_codebooks cb),
      cand AS (
        ${scans.mkString("\n        UNION ALL\n        ")}),$live
      scored AS (
        SELECT /*+ BROADCAST(lut) */ c.q_id, c.cell, c.cell_sim,
               c.vec_id AS neighbor_id,
               CAST(sum(CAST(lut.part AS DECIMAL(20,10))) AS DOUBLE) AS approx_sim
        FROM ${if (masked) "live" else "cand"} c
        JOIN lut ON lut.q_id = c.q_id AND lut.sub = c.sub AND lut.code = c.code
        GROUP BY c.q_id, c.cell, c.cell_sim, c.vec_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY approx_sim DESC, neighbor_id ASC) AS rank
        FROM scored)
      SELECT q_id, cell, cell_sim, rank, neighbor_id, approx_sim$label
      FROM ranked WHERE rank <= $TopKPq
      ORDER BY q_id, rank""")
  }

  /** Recall@k of the IVF approximation against the exact brute-force
    * ranking, per query and per probe depth — the index-quality metric
    * (faiss's own acceptance number) promoted to a first-class,
    * oracle-checked query. IvfRecallSpec asserts the monotonicity law
    * (probe 2 ≥ probe 1); this query pins the exact VALUES under the
    * driver gate, so a silent recall regression (a quantizer change, a
    * tie-break drift) fails the round even when the law still holds.
    *
    * Scale shape: three top-k frames (queries × k rows each — tiny,
    * whatever the corpus), two semi-join + count passes, one left
    * join. The expensive parts are the searches themselves, already
    * scale-shaped (brute = the one quadratic baseline, gated to
    * [[NQueries]] probes; IVF = celled).
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = annBruteForce(spark, dir)
      .filter(col("rank") <= TopKIvf)
      .select(col("q_id"), col("neighbor_id"))
    def approx(nprobe: Int) = annIvfProbed(spark, dir, nprobe)
      .select(col("q_id"), col("neighbor_id"))
    val r = recallOf(exact,
        "_probe1" -> approx(1), "_probe2" -> approx(IvfNProbe))
      .withColumn("probe2_improves",
        col("hits_probe2") >= col("hits_probe1"))
    Out.sorted(r)(col("q_id"))
  }

  /** Recall@k of the PERSISTED index's serving path against exact brute
    * force over the LIVE corpus — the quality metric for the index as
    * it actually exists on disk, post-mutation (q_ann_index_recall).
    * [[annRecall]] gates the in-memory IVF path; this row rides the
    * tombstone-delete lifecycle (the same gated "delete" index as
    * [[ivfPqIndexDelete]]: full-corpus build + [[DeleteResidue]]
    * retraction), searches through [[searchStored]] — stored
    * quantizers, DPP-pruned lists scan, broadcast tombstone mask — and
    * counts how many of the exact top-k (computed over the live,
    * non-tombstoned corpus) the masked approximate search recovers. The
    * hash-equality laws (IvfPqDeleteSpec/IvfPqCompactSpec) prove the
    * index serves exactly what its layout encodes; THIS row catches a
    * quality regression those laws cannot see — a quantizer drift, a
    * probe-depth loss, a mutation cycle that degrades the lists — as a
    * changed recall value under the driver gate.
    *
    * Scale shape: the two searches are already scale-shaped (stored
    * probe + pruned scan; brute = the one quadratic baseline, gated to
    * [[NQueries]] probes); the recall tail is two tiny queries×k
    * frames, one semi-join, one left join.
    */
  def ivfPqIndexRecall(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureIndex(spark, dir, "delete", emb(spark, dir))
    ivfPqDelete(spark, base, embDistributed(spark, dir)
      .filter(col("vec_id") % AddModulus === DeleteResidue)
      .select(col("vec_id")))
    val approx = searchStored(spark, dir, base, Nil)
      .filter(col("rank") <= TopKPq)
      .select(col("q_id"), col("neighbor_id"))
    val live = embDistributed(spark, dir)
      .filter(col("vec_id") % AddModulus =!= DeleteResidue)
    val exact = ranked(exactSims(live, queries(emb(spark, dir))), "cos_sim",
        Some(TopKPq))
      .select(col("q_id"), col("neighbor_id"))
    Out.sorted(recallOf(exact, "" -> approx))(col("q_id"))
  }

  /** Recall-under-MUTATION sweep with the nprobe dial
    * (q_ann_index_recall_chain): [[ivfPqIndexRecall]] gates ONE
    * lifecycle point; this row walks the full verb chain — add →
    * delete (the MASKED serving state: base lists ∪ delta, tombstone
    * anti-join) → compact (physical purge) → add (a fresh delta on the
    * compacted base) — and measures recall@k against exact brute force
    * over each stage's LIVE corpus, at BOTH probe depths (nprobe 1 and
    * [[IvfNProbe]]). A compaction that silently drops or duplicates
    * list rows, a probe-depth loss, or a mutation cycle that degrades
    * the lists now fails a QUALITY gate at the exact lifecycle point
    * that broke, and the probe dial's recall/latency trade is a pair
    * of measured numbers per stage, not a superset law alone.
    *
    * Fresh lifecycle root per call (like the ingest-stream row): the
    * verbs must RUN, not be found built. Stage-1 rows are eagerly
    * materialized (localCheckpoint) BEFORE the compaction mutates the
    * layout the lazy search plans would otherwise re-read post-swap.
    *
    * n_exact is measured per (stage, query) — stage 1's live corpus
    * excludes the not-yet-arrived second batch AND the retracted ids,
    * so its exact sets can be smaller than stage 2's.
    */
  def ivfPqIndexRecallChain(spark: SparkSession, dir: String): DataFrame = {
    val k = TopKPq
    val base = indexBase(dir, "recallchain")
    val fs = fsOf(spark, base)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val corpus = embDistributed(spark, dir)
    val res = col("vec_id") % AddModulus
    val baseCorpus = corpus.filter(!res.isin(AddResidue, AddResidue2))
    ivfPqPersistFrames(spark, baseCorpus, baseCorpus, base)
    ivfPqAddBatch(spark, dir, base,
      corpus.filter(res === AddResidue), "lists_delta_b1")
    ivfPqDelete(spark, base,
      corpus.filter(res === DeleteResidue).select(col("vec_id")))
    // ONE exact similarity table for the whole chain (guide §1.2):
    // both stages' exact top-k are residue FILTERS of the same
    // corpus × queries cosine frame, and ranking after the filter is
    // identical to ranking a pre-filtered cross join — so the brute
    // pass (the chain's only corpus-sized similarity job) runs once
    // instead of once per stage. Tiny: corpus × NQueries rows.
    val exactAll = Out.eager(exactSims(corpus, queries(emb(spark, dir))))
    val nres = col("neighbor_id") % AddModulus
    def stageRecall(stage: String, deltas: Seq[String],
        livePred: Column): DataFrame = {
      // ONE stored search per stage, at the deeper probe: the
      // nprobe=1 result is derived EXACTLY from the nprobe=2 candidate
      // set (searchStored ranks without truncating) by restricting to
      // each query's top-ranked cell and re-ranking — candidates and
      // LUT scores are probe-count-independent, so the restriction IS
      // the shallow search. Halves the chain's search cost; the
      // derivation runs searchStored's own kernel steps (bestCells,
      // ranked), so its tie-breaks are the same by construction.
      val scored = searchStored(spark, dir, base, deltas, IvfNProbe)
        .select(col("q_id"), col("cell"), col("cell_sim"),
          col("neighbor_id"), col("approx_sim"), col("rank"))
        .persist()
      try {
        val topCell = bestCells(
            scored.select(col("q_id"), col("cell"), col("cell_sim")).distinct(),
            "cell", 1)
          .select(col("q_id"), col("cell"))
        val shallow = ranked(scored.join(topCell, Seq("q_id", "cell")),
          "approx_sim", Some(k))
        val exact = ranked(exactAll.filter(livePred), "cos_sim", Some(k))
          .select(col("q_id"), col("neighbor_id"))
        val r = recallOf(exact,
          "_probe1" -> shallow.select(col("q_id"), col("neighbor_id")),
          "_probe2" -> scored.filter(col("rank") <= k)
            .select(col("q_id"), col("neighbor_id")))
        // The stage result is eager'd (localCheckpoint): it pins the
        // stage's rows BEFORE the next lifecycle verb mutates the
        // layout the lazy search plans would otherwise re-read
        // post-swap, and it lets `scored`'s cache be released here
        // instead of leaking past the builder.
        Out.eager(r.select(lit(stage).as("stage"), col("*")))
      } finally { scored.unpersist(false); () }
    }
    // stage-1 pinning that used to be a parquet sidecar write + read
    // is the Out.eager inside stageRecall — same materialize-before-
    // compaction contract, minus one write job and one read-back scan
    val stage1 = stageRecall("masked", Seq("lists_delta_b1"),
      nres =!= AddResidue2 && nres =!= DeleteResidue)
    ivfPqCompact(spark, base, Seq("lists_delta_b1"))
    ivfPqAddBatch(spark, dir, base,
      corpus.filter(res === AddResidue2), "lists_delta_b2")
    val stage2 = stageRecall("compacted_add", Seq("lists_delta_b2"),
      nres =!= DeleteResidue)
    val r = stage1.unionByName(stage2)
    Out.sorted(r)(col("stage"), col("q_id"))
  }
}
