package graft.operators

import graft.functions.VectorFunctions.{cosineSim, l2Dist}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor scaffolding over an embedding column.
  *
  * Brute-force exact scan (see [[Search]]) is the semantic baseline —
  * and genuinely the right plan at the reference's scale (7 vectors;
  * reference server.js:45-61). The scale path is IVF: partition vectors
  * into Voronoi cells around centroids, search only the cells nearest
  * the query. Both stay pure DataFrame plans.
  *
  * The graph index (a persisted k-NN graph, [[buildKnnGraph]]) is
  * served by ONE batched beam-walk loop, [[beamWalk]], and one
  * ranked-top-k tail, [[walkTopK]]; the cosine walks over one shared
  * graph go through [[cosineSearch]], which collects the graph and
  * vectors in one Spark job and walks on the driver ([[DriverWalk]])
  * when they fit the session's broadcast bound. The public walks are
  * wrappers that differ only in the entries frame and scorer they pass:
  * [[graphBeamSearch]], [[graphBeamSearchPerBucket]] and
  * [[graphBeamSearchFiltered]] (one query, cosine),
  * [[graphBeamWalkPq]], [[graphBeamWalkBq]] and
  * [[graphBeamSearchPqRerank]] (one query, on PQ or binary codes),
  * [[graphBeamSearchBatch]], [[graphBeamSearchBatchVarBeam]] and
  * [[graphBeamSearchMultiIndex]] (many queries in one plan per round).
  *
  * Graph maintenance keeps one definition per rule. The bucket
  * occupancy table is computed by [[occupancyTable]] (distributed,
  * behind [[bucketOccupancy]], [[occupancyFromHistogram]] and
  * [[occupancyAndCount]]) and by [[occupancyFromCollected]] (the
  * driver twin for a histogram the caller already holds). Every
  * verdict collect is [[occupancyAndCount]]; [[chooseFromOcc]] is the
  * choose rule ([[chooseBucketBits]] applies it to a table the caller
  * also reports) and [[maintenanceFromOcc]] the verdict rule. Deltas
  * enter through [[updateKnnGraph]] (re-sketches base ∪ delta) or
  * [[updateKnnGraphIncremental]] (reads the persisted index and
  * histogram, returns the verdict and the next snapshot's pieces).
  */
object Ann {

  /** Deterministic centroid seed set: the `nCentroids` lowest-id vectors.
    * (k-means would converge better but needs iterative driver control;
    * seeded selection keeps the pipeline a single declarative plan and is
    * deterministic for the oracle. Swap-in point for MLlib KMeans.)
    */
  def seedCentroids(emb: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int): DataFrame =
    emb.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid"))

  /** Learned IVF centroids: MLlib k-means (k-means|| init, fixed seed)
    * over the embedding column — the production replacement for
    * [[seedCentroids]], behind the same (centroid_id, centroid) shape.
    * Real IVF recall depends on centroids tracking the data's density;
    * the reference has no ANN at all (brute force, server.js:45-61), so
    * this is strictly beyond-reference capability.
    *
    * Deterministic by construction: the seed is fixed AND the input is
    * hash-repartitioned by id first — k-means|| samples per partition,
    * so the physical layout is effectively part of the seed; without the
    * repartition the learned centers would vary with file-split count
    * (i.e. with the host's core count). The model fit collects k×dim
    * doubles to the driver — centroids are tiny by definition; the
    * training passes themselves are distributed MLlib jobs.
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int, maxIter: Int = 8,
                      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = emb
      .select(col(idCol), array_to_vector(col(vecCol).cast("array<double>"))
        .as("features"))
      .repartition(8, col(idCol))
    val model = new KMeans()
      .setK(nCentroids).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features")
      .fit(feats)
    val spark = emb.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }
      .toDF("centroid_id", "centroid")
  }

  /** Assign every vector to its nearest centroid (min L2, ties to the
    * lower centroid id). Broadcast nested-loop against the tiny centroid
    * set, then argmin as a partial-aggregating min_by: each vector's
    * |centroids| candidate rows combine map-side, so the exchange moves
    * one row per vector — a ranking-window formulation would shuffle the
    * full |emb|×|centroids| scored set.
    */
  def ivfAssign(emb: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String): DataFrame =
    emb.crossJoin(broadcast(centroids))
      .select(col(idCol), col(vecCol),
        col("centroid_id"), l2Dist(col(vecCol), col("centroid")).as("dist"))
      .groupBy(col(idCol))
      .agg(min_by(
        struct(col(vecCol), col("centroid_id")),
        struct(col("dist"), col("centroid_id"))).as("best"))
      .select(col(idCol), col(s"best.$vecCol").as(vecCol),
        col("best.centroid_id").as("centroid_id"))

  /** IVF search: rank centroids by distance to the query vector, keep the
    * `nProbe` nearest cells, then exact cosine top-k within those cells
    * only. At scale the assignment is precomputed/partitioned by
    * centroid_id, so the probe is a partition-pruned scan.
    */
  def ivfSearch(assigned: DataFrame, centroids: DataFrame, query: DataFrame,
                idCol: String, vecCol: String, queryVecCol: String,
                nProbe: Int, k: Int): DataFrame = {
    val probed = centroids.crossJoin(broadcast(query))
      .select(col("centroid_id"),
        l2Dist(col("centroid"), col(queryVecCol)).as("qdist"))
      .orderBy(col("qdist").asc, col("centroid_id"))
      .limit(nProbe)
      .select("centroid_id")
    assigned
      .join(broadcast(probed), Seq("centroid_id"))
      .crossJoin(broadcast(query))
      .select(col(idCol),
        cosineSim(col(vecCol), col(queryVecCol)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** SRP binary-sketch shortlist search (the FAISS fast-scan pattern):
    * rank the whole index by HAMMING distance between 16-60-bit
    * sign-random-projection sketches (a bit_count over longs — ~100×
    * cheaper than a d-dim float dot product), keep the `shortlist`
    * closest, then exact-cosine re-rank only those. Recall is governed
    * by shortlist size and sketch width, and the approximation is
    * PINNED by the oracle (which rebuilds the identical md5-derived
    * hyperplanes — see [[graft.expressions.CosineLshBits]]).
    *
    * Scale shape: sketching is a narrow projection; both the hamming
    * shortlist and the final top-k are TakeOrderedAndProject
    * (per-partition heaps, no shuffle of the scored set); the full
    * vectors of non-shortlisted rows are never touched after the
    * sketch pass — at 100 TB the hamming scan can run off a sketch-only
    * column (8 bytes/vector) with the vector column pruned away.
    *
    * `query` must be at most one row (qe, qsketch) — a 2-row frame
    * would interleave two queries' hamming ranks into one corrupted
    * shortlist, so the plan aborts via `raise_error` (the same guard
    * convention as [[cosineNearDupPairs]]); an EMPTY query frame yields
    * an empty result (nothing to search for). Returns
    * (idCol, hamming, score) — the exact cosine, ranked.
    */
  def srpShortlistKnn(index: DataFrame, query: DataFrame, idCol: String,
                      vecCol: String, bits: Int, shortlist: Int,
                      k: Int): DataFrame = {
    val sketched = index.select(col(idCol), col(vecCol),
      graft.functions.HashFunctions.cosineLshBits(col(vecCol), bits)
        .as("sketch"))
    // one-row guard rides the (tiny, pre-broadcast) query side: the
    // count-over-all window sees every query row, and the filter keeps
    // the raise_error from being pruned away as an unused column
    // (boundedGlobalWindow: the frame is the ≤1-row query by contract)
    val qGuarded = query
      .withColumn("_qn", count(lit(1)).over(
        Search.boundedGlobalWindow(size(col("qe")))
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .filter(when(col("_qn") === 1, lit(true))
        .otherwise(raise_error(lit(
          "srpShortlistKnn: query must have exactly one row"))
          .cast("boolean")))
      .drop("_qn")
    val short = sketched.crossJoin(broadcast(qGuarded))
      .withColumn("hamming",
        bit_count(col("sketch").bitwiseXOR(col("qsketch"))).cast("long"))
      .orderBy(col("hamming"), col(idCol))
      .limit(shortlist)
    short
      .select(col(idCol), col("hamming"),
        graft.functions.VectorFunctions
          .cosineSim(col(vecCol), col("qe")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Batched [[srpShortlistKnn]]: many query vectors against one index
    * in a single plan. Queries (small by contract) broadcast with their
    * sketches; the per-query hamming shortlist and the exact-cosine
    * rerank are BOTH row_number windows keyed by `queryIdCol`, so ONE
    * shuffle serves the whole pipeline (the second window reuses the
    * first's partitioning) and Spark's rank-limit pushdown
    * (WindowGroupLimit) keeps per-partition state at shortlist/k rows.
    * Returns (queryIdCol, idCol, hamming, score, rank), rank ≤ k.
    */
  def srpShortlistKnnBatch(index: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String,
                           queryIdCol: String, bits: Int, shortlist: Int,
                           k: Int): DataFrame = {
    require(Seq(queryIdCol, "qe", "qsketch")
        .forall(queries.columns.contains),
      s"srpShortlistKnnBatch: queries must carry ($queryIdCol, qe, " +
        s"qsketch), got ${queries.columns.mkString(", ")}")
    val sketched = index.select(col(idCol), col(vecCol),
      graft.functions.HashFunctions.cosineLshBits(col(vecCol), bits)
        .as("sketch"))
    // unique-id guard on the (tiny, pre-broadcast) query side — the
    // batch twin of srpShortlistKnn's one-row guard: two query rows
    // sharing an id would silently interleave their hamming ranks into
    // one corrupted shortlist
    val qGuarded = queries
      .withColumn("_qn",
        count(lit(1)).over(Window.partitionBy(col(queryIdCol))))
      .filter(when(col("_qn") === 1, lit(true))
        .otherwise(raise_error(concat(
          lit(s"srpShortlistKnnBatch: duplicate $queryIdCol "),
          col(queryIdCol).cast("string"))).cast("boolean")))
      .drop("_qn")
    val candidates = sketched.join(broadcast(qGuarded))
      .withColumn("hamming",
        bit_count(col("sketch").bitwiseXOR(col("qsketch"))).cast("long"))
    val wHam = Window.partitionBy(queryIdCol)
      .orderBy(col("hamming"), col(idCol))
    val short = candidates
      .withColumn("hrank", row_number().over(wHam))
      .filter(col("hrank") <= shortlist)
      .select(col(queryIdCol), col(idCol), col("hamming"),
        cosineSim(col(vecCol), col("qe")).as("score"))
    Search.topKPerQuery(short, queryIdCol, idCol, k)
  }

  /** Route every index vector to exactly ONE bucket — the low
    * `bucketBits` bits of its SRP sketch — yielding
    * (idCol, vecCol, bucket). The bucket is an EQUI-JOIN key, which is
    * what makes SRP search legal where ranking is not: a streaming plan
    * may not sort/window a per-query hamming shortlist
    * ([[srpShortlistKnn]]'s shape), but it may equi-join a query's
    * probe buckets against a static bucketed index and aggregate with
    * the bounded-heap top-k UDAF. At 100 TB the index side of that
    * join is this frame persisted bucketed/partitioned BY `bucket`, so
    * the per-micro-batch join is bucket-pruned — and never broadcast.
    */
  def srpBucketIndex(index: DataFrame, idCol: String, vecCol: String,
                     bits: Int, bucketBits: Int): DataFrame = {
    require(bucketBits > 0 && bucketBits <= bits,
      s"srpBucketIndex: bucketBits=$bucketBits must be in [1, bits=$bits]")
    // deliberately NOT Kernels.fanOut: the bits×d sketch is ~5 flops
    // per input byte — measured at sf0.1, repartitioning the wide
    // embedding rows (plus round-robin's sort-before-repartition)
    // costs more than the kernel parallelism buys (v75 1.65→3.25 s,
    // v78 7.8→15.8 s with fanOut here); the matvec/encode kernels
    // (~100 flops/byte) are where fanOut pays
    index.select(col(idCol), col(vecCol),
      graft.functions.HashFunctions.cosineLshBits(col(vecCol), bits)
        .bitwiseAND(lit((1L << bucketBits) - 1)).as("bucket"))
  }

  /** Multi-probe expansion for [[srpBucketIndex]]'s bucket space: each
    * query row fans out to its own bucket plus every bucket at hamming
    * distance 1 within the `bucketBits` prefix (bucketBits + 1 rows) —
    * the multi-probe LSH trick that recovers the recall a single-bucket
    * probe loses to boundary flips. The probe buckets of one query are
    * DISTINCT by construction (xor with distinct single bits), and an
    * index vector lives in exactly one bucket, so the downstream
    * equi-join emits each (query, candidate) pair at most once — no
    * stateful dedup needed before the top-k aggregation (a second
    * stateful operator a streaming plan could not legally chain).
    */
  def srpProbeBuckets(queries: DataFrame, queryVecCol: String,
                      bits: Int, bucketBits: Int): DataFrame = {
    require(bucketBits > 0 && bucketBits <= bits,
      s"srpProbeBuckets: bucketBits=$bucketBits must be in [1, bits=$bits]")
    val qb = graft.functions.HashFunctions
      .cosineLshBits(col(queryVecCol), bits)
      .bitwiseAND(lit((1L << bucketBits) - 1))
    val probes = col("_qb") +:
      (0 until bucketBits).map(b => col("_qb").bitwiseXOR(lit(1L << b)))
    queries.withColumn("_qb", qb)
      .withColumn("bucket", explode(array(probes: _*)))
      .drop("_qb")
  }

  /** CAPPED multi-probe expansion — [[srpProbeBuckets]] with the probe
    * count held CONSTANT as bucketBits scales (Lv et al. 2007
    * multi-probe LSH): each query probes its own bucket plus the
    * hamming-1 flips of only the `maxProbes` hyperplanes it sits
    * closest to (smallest |dot| margin, bit-index tiebreak — the bits
    * most likely to have flipped for a true neighbor). Uncapped
    * hamming-1 probing fans out 1 + bucketBits buckets, and bucketBits
    * must grow ∝ log n to hold |bucket| flat — so uncapped
    * candidates/vector is a log n factor at 100 TB; capped, it is
    * (1 + maxProbes) · mean-|bucket|, a geometry constant. With
    * `maxProbes ≥ bucketBits` the probe SET equals [[srpProbeBuckets]]
    * exactly (all flips, order immaterial to the downstream equi-join).
    *
    * `bits` is accepted and validated only for signature parity with
    * [[srpProbeBuckets]] — the kernel derives buckets from the low
    * `bucketBits` planes directly. That is correct because
    * [[graft.expressions.CosineLshBits]] plane j depends only on
    * (j, i) (prefix-stable: the low-plane signs are identical at any
    * `bits`), a property AnnSpec's capped-vs-full equality test pins;
    * if the sketch derivation ever became bits-dependent the two probe
    * paths would diverge and that spec would catch it.
    */
  def srpProbeBucketsCapped(queries: DataFrame, queryVecCol: String,
                            bits: Int, bucketBits: Int,
                            maxProbes: Int): DataFrame = {
    require(bucketBits > 0 && bucketBits <= bits,
      s"srpProbeBucketsCapped: bucketBits=$bucketBits must be in " +
        s"[1, bits=$bits]")
    queries.withColumn("bucket", explode(
      graft.functions.HashFunctions.srpProbeBucketsCapped(
        col(queryVecCol), bucketBits, maxProbes)))
  }

  /** Exact cosine near-duplicate pairs above `threshold`. All-pairs is
    * expressed as an id-ordered self-join so each unordered pair is
    * scored once. This is the EXACT SEMANTIC BASELINE, O(n²) by
    * construction — the scale formulation is [[bucketedNearDupPairs]]
    * (same downstream plan, IVF-cell equi-join blocking).
    *
    * Because an accidental call on a real corpus would be a cluster
    * killer, the plan aborts via `raise_error` when the input exceeds
    * `maxInputRows` (same convention as the degenerate-LSH-geometry
    * guard in [[Dedup]]): the guard count rides a broadcast 1-row
    * aggregate and is checked before the cross join fans out.
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         threshold: Double,
                         maxInputRows: Long = 100000L): DataFrame = {
    val guard = emb.agg(count("*").as("_n"))
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
      .crossJoin(broadcast(guard))
      .filter(when(col("_n") > maxInputRows,
          raise_error(concat(lit("cosineNearDupPairs: all-pairs input "),
            col("_n"),
            lit(s" rows exceeds maxInputRows=$maxInputRows; " +
              "use bucketedNearDupPairs"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("_n")
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineSim(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Bucketed near-dup: vectors are first routed to their IVF cell, then
    * only same-cell pairs are scored — the quadratic term becomes
    * sum over cells of |cell|², the standard blocking trick.
    */
  def bucketedNearDupPairs(emb: DataFrame, centroids: DataFrame,
                           idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    val assigned = ivfAssign(emb, centroids, idCol, vecCol)
    val a = assigned.select(col("centroid_id"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"))
    a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineSim(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Contrastive triplet mining — the (anchor, positive, hard-negative)
    * export an embedder fine-tune trains on (public recipe: DPR mines
    * hard negatives from a retriever's top results, Karpukhin et al.
    * 2020 §3.2; ANCE from the live ANN index, Xiong et al. 2021;
    * Sentence-BERT consumes exactly this triplet shape). For each
    * anchor vector:
    *   - positive  = its most-similar neighbor with cosine ≥ `tau`
    *     (the near-dup evidence the dedup family already trusts),
    *   - hard negative = its most-similar neighbor with cosine < `tau`
    *     — the closest vector the pair criterion REJECTS, i.e. the
    *     most informative negative, not a random one;
    * ties break to the smaller id, anchors lacking either side drop.
    *
    * Shape: ONE directed scored frame feeds a single partial-aggregable
    * groupBy(anchor) — both argmaxes live in [[tripletsFromScored]] as
    * conditional `min(struct(-cos, id))` aggregates (min of the struct
    * = max cos, tie → min id — an ordering that is correct for ANY
    * orderable id type, numeric or string), so there is no per-anchor
    * window and no second pass. The n² scoring frame here is the exact
    * baseline, guarded by `maxInputRows` raise_error (the
    * [[cosineNearDupPairs]] convention — an accidental call on a real
    * corpus must abort, not fan out a cartesian); at deployment scale
    * the SAME aggregate consumes a retriever-shortlist scored frame
    * instead — [[srpTripletCandidates]] is the built-in producer
    * (mining from a retriever shortlist is precisely the published
    * ANCE recipe).
    */
  def contrastiveTriplets(emb: DataFrame, idCol: String, vecCol: String,
                          tau: Double,
                          maxInputRows: Long = 100000L): DataFrame = {
    val guard = emb.agg(count("*").as("_n"))
    val a = emb.select(col(idCol).as("anchor_id"), col(vecCol).as("vec_a"))
      .crossJoin(broadcast(guard))
      .filter(when(col("_n") > maxInputRows,
          raise_error(concat(lit("contrastiveTriplets: all-pairs input "),
            col("_n"),
            lit(s" rows exceeds maxInputRows=$maxInputRows; score a " +
              "shortlist frame (srpTripletCandidates) and aggregate " +
              "with tripletsFromScored"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("_n")
    val b = emb.select(col(idCol).as("cand"), col(vecCol).as("vec_b"))
    val scored = a.crossJoin(b)
      .filter(col("anchor_id") =!= col("cand"))
      .select(col("anchor_id"), col("cand"),
        cosineSim(col("vec_a"), col("vec_b")).as("cos"))
    tripletsFromScored(scored, tau)
  }

  /** The triplet two-argmax over an ALREADY-SCORED directed candidate
    * frame `(anchor_id, cand, cos)` — the aggregate half of
    * [[contrastiveTriplets]], factored out so any candidate producer
    * (the guarded all-pairs baseline, [[srpTripletCandidates]]'s
    * LSH-bucketed shortlist, an IVF-PQ retriever's top-k) feeds the
    * identical mining step. One partial-aggregable groupBy; tie-breaks
    * are `min(struct(-cos, cand))` so they hold for any orderable id
    * type (a negated STRING id would silently null out — the reason
    * this is not `max(struct(cos, -cand))`). Anchors lacking either a
    * ≥τ positive or a <τ hard negative drop, matching the exact
    * semantics on whatever candidate set was supplied.
    */
  def tripletsFromScored(scored: DataFrame, tau: Double): DataFrame =
    scored.groupBy("anchor_id")
      .agg(
        min(when(col("cos") >= tau,
          struct((-col("cos")).as("ncos"), col("cand").as("cid"))))
          .as("p"),
        min(when(col("cos") < tau,
          struct((-col("cos")).as("ncos"), col("cand").as("cid"))))
          .as("h"))
      .filter(col("p").isNotNull && col("h").isNotNull)
      .select(col("anchor_id"),
        col("p.cid").as("pos_id"), round(-col("p.ncos"), 6).as("pos_cos"),
        col("h.cid").as("neg_id"), round(-col("h.ncos"), 6).as("neg_cos"))
      .orderBy("anchor_id")

  /** The SCALE producer for [[tripletsFromScored]]: every vector
    * anchors a multi-probe SRP-bucket candidate set (own bucket +
    * hamming-1 flips, the v23 k-NN-graph routing) scored by exact
    * cosine — sum-over-buckets |bucket|·(probes·|bucket|) work instead
    * of n², every join an equi-join on the bucket key. A candidate
    * lives in exactly one bucket and an anchor's probe buckets are
    * distinct, so each directed pair is emitted at most once (no
    * dedup pass). Hard negatives stay HARD: bucket blocking surfaces
    * precisely the nearest vectors, which is where both the ≥τ
    * positives and the most informative <τ negatives live.
    */
  def srpTripletCandidates(emb: DataFrame, idCol: String, vecCol: String,
                           bits: Int, bucketBits: Int): DataFrame = {
    val anchors = srpProbeBuckets(
      emb.select(col(idCol).as("anchor_id"), col(vecCol).as("vec_a")),
      "vec_a", bits, bucketBits)
    val index = srpBucketIndex(emb, idCol, vecCol, bits, bucketBits)
      .select(col("bucket"), col(idCol).as("cand"), col(vecCol).as("vec_b"))
    anchors.join(index, Seq("bucket"))
      .filter(col("anchor_id") =!= col("cand"))
      .select(col("anchor_id"), col("cand"),
        cosineSim(col("vec_a"), col("vec_b")).as("cos"))
  }

  /** Entry points derived FROM THE GRAPH, not from id assignment: the
    * `n` highest in-degree nodes (deterministic id tie-break) — the
    * hub/medoid heuristic every graph-ANN paper's serving tier uses in
    * some form (HNSW's top layer, NSG's navigating node). One
    * aggregate over the model-sized edge artifact + an n-row collect,
    * so serving keeps working under arbitrary re-keying of the corpus.
    */
  def topDegreeEntries(graph: DataFrame, n: Int): Seq[Long] =
    graph.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("dst"))
      .limit(n).collect().map(_.getLong(0)).toSeq

  /** Entry points ROUTED BY REGION: the `perBucket` highest in-degree
    * graph nodes of EACH SRP bucket (deg desc, id tiebreak) — the fix
    * for the navigability failure [[topDegreeEntries]] has on
    * CLUSTERED corpora, where the k-NN graph decomposes into
    * near-disconnected per-cluster components and global hubs all sit
    * in a few of them: a walk started from hubs of the wrong cluster
    * never reaches the query's (v54 measures recall 0.39 from 4
    * global hubs vs ≥ 0.9 with per-bucket entries on the 8-cluster
    * fixture). This is the flat-graph analog of HNSW's upper layers /
    * NSG's navigating node: a constant-size entry set that covers
    * every region. One aggregate over the model-sized edge artifact
    * joined with the bucket index, then a ≤ perBucket·2^bucketBits-row
    * collect — entry derivation stays graph-derived and re-keying-
    * proof. Buckets whose nodes have no in-edges contribute none
    * (unreachable-by-edges regions are entered only if some bucket
    * mate has in-degree).
    */
  def topDegreeEntriesPerBucket(graph: DataFrame, index: DataFrame,
                                idCol: String,
                                perBucket: Int): Seq[Long] =
    topDegreeEntriesPerBucketFrame(graph, index, idCol, perBucket)
      .collect().map(_.getLong(0)).toSeq.sorted

  /** [[topDegreeEntriesPerBucket]] WITHOUT the driver collect: the
    * same per-bucket top-in-degree aggregate as a one-column (idCol)
    * FRAME, consumable inside the plan — the form the walk uses above
    * [[EntryLiteralMaxBits]], where `perBucket·2^bucketBits` entry
    * ids no longer belong in a driver Seq or a plan literal (the
    * round-17 watch note: fine at bb = 7, a liability at bb ≥ 20). */
  def topDegreeEntriesPerBucketFrame(graph: DataFrame,
                                     index: DataFrame, idCol: String,
                                     perBucket: Int): DataFrame = {
    val deg = graph.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
    index.select(col(idCol).as("dst"), col("bucket"))
      .join(deg, Seq("dst"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("deg").desc, col("dst"))))
      .filter(col("_rn") <= perBucket)
      .select(col("dst").as(idCol))
  }

  /** Widths up to this many bucket bits collect their per-bucket
    * entries to a driver Seq / plan literal (tiny, keeps the walk's
    * round-0 a codegen'd isin filter); above it the entries stay a
    * broadcast FRAME inside the plan — no driver-size liability at
    * any width. */
  val EntryLiteralMaxBits: Int = 11

  /** Greedy BEAM search over a prebuilt k-NN graph — the graph-index
    * ANN family (HNSW/NSG-class serving; Malkov & Yashunin 2018 is the
    * published ancestor) the IVF/PQ/LSH operators don't cover. THE
    * walk loop: every graph-walk entry point below is a wrapper that
    * builds an `entries` frame of (queryIdCol, idCol) pairs and a
    * `score` function mapping such pairs to (queryIdCol, idCol, score),
    * larger = closer, then calls this and [[walkTopK]] (the cosine
    * walks through [[cosineSearch]], which may take the one-job
    * [[DriverWalk]] instead). The walk is
    * fully deterministic so an oracle can replay it in SQL: score the
    * entries, and for `rounds` iterations rank each query's scored
    * nodes (score DESC, id ties) as `_r`, keep the rows `beamCut`
    * passes, expand them through their out-edges, and re-score every
    * node seen so far. The graph joins on (queryIdCol, src) when it
    * carries a queryIdCol column — each query walks its own index
    * ([[graphBeamSearchMultiIndex]]) — and on src otherwise.
    *
    * Scale shape: the frontier is ≤ beam·degree ids per query per
    * round — every round is a point-lookup equi-join of a TINY pair
    * frame against the id-partitioned graph and vector stores
    * (bucket-pruned at rest, no corpus scan, no corpus shuffle), and
    * `rounds` bounds total work. Per-round lineage is cut with
    * localCheckpoint (the [[Graph.connectedComponents]] iterative
    * idiom). Visited nodes are RE-scored each round instead of
    * carrying running state — the visited set is beam·degree·rounds
    * rows per query (hundreds), and re-scoring keeps every round a
    * pure stateless plan.
    */
  private def beamWalk(graph: DataFrame, entries: DataFrame,
                       queryIdCol: String, idCol: String,
                       beamCut: DataFrame => DataFrame, rounds: Int)
                      (score: DataFrame => DataFrame): DataFrame = {
    val keys =
      if (graph.columns.contains(queryIdCol)) Seq(queryIdCol, "src")
      else Seq("src")
    var scored = score(entries).localCheckpoint()
    for (_ <- 1 to rounds) {
      val wq = Window.partitionBy(queryIdCol)
        .orderBy(col("score").desc, col(idCol))
      val beamIds = beamCut(scored.withColumn("_r", row_number().over(wq)))
        .select(col(queryIdCol), col(idCol).as("src"))
      val expanded = beamIds.join(graph, keys)
        .select(col(queryIdCol), col("dst").as(idCol))
      val visited = scored.select(col(queryIdCol), col(idCol))
        .unionByName(expanded)
        .distinct()
      scored = score(visited).localCheckpoint()
    }
    scored
  }

  /** A fixed beam width: a literal rank cut, which the planner turns
    * into per-query WindowGroupLimit heaps (the v21 shape). */
  private def beamOf(beam: Int): DataFrame => DataFrame =
    _.filter(col("_r") <= beam)

  /** The ranked-top-k tail every walk shares: each query's `k` best
    * `candidates` (score desc, id asc) with that query's visited-set
    * size — the work metric graph-ANN trades against recall — as
    * `nodes_touched`. `candidates` is the walk's scored visited set,
    * or what a filter or rerank made of it. */
  private def walkTopK(visited: DataFrame, candidates: DataFrame,
                       queryIdCol: String, idCol: String, k: Int)
      : DataFrame = {
    val touched = visited.groupBy(queryIdCol)
      .agg(count(lit(1)).as("nodes_touched"))
    Search.topKPerQuery(candidates, queryIdCol, idCol, k)
      .join(touched, Seq(queryIdCol))
      .select(col(queryIdCol), col("rank").cast("long").as("rank"),
        col(idCol), col("score"), col("nodes_touched"))
  }

  /** Cosine scorer against the broadcast query vectors `q`
    * (queryIdCol, qe); `vecKeys` joins the pairs to `vectors` — idCol,
    * or (queryIdCol, idCol) when each query has its own vector set. */
  private def cosineScore(vectors: DataFrame, vecKeys: Seq[String],
                          q: DataFrame, queryIdCol: String,
                          idCol: String, vecCol: String)
                         (pairs: DataFrame): DataFrame =
    pairs.join(vectors.select((vecKeys :+ vecCol).map(col): _*), vecKeys)
      .join(q, Seq(queryIdCol))
      .select(col(queryIdCol), col(idCol),
        cosineSim(col(vecCol), col("qe")).as("score"))

  /** The cosine walk over ONE shared graph and vector set with its
    * top-k tail — what every cosine entry point but
    * [[graphBeamSearchMultiIndex]] runs. Every query of `q`
    * (queryIdCol, qe, and the beam column when `beam` is Right) starts
    * at every entry node: the ids of `entries` present in `vectors`
    * (Left), or a one-column idCol frame (Right). `beam` is a fixed
    * width (Left) or the name of `q`'s per-query width column (Right).
    * With `pred`, top-k ranks only the visited nodes passing it and
    * each row also carries `passed_visited`.
    *
    * THE SIZE SWITCH: with entry ids and a graph plus vectors that fit
    * the session's broadcast bound, the walk is ONE collect job and a
    * walk on the driver ([[DriverWalk]]); otherwise — the 100 TB
    * path — it is the per-round loop [[beamWalk]] and [[walkTopK]].
    * Both give the same rows under the same schema. */
  private def cosineSearch(graph: DataFrame, vectors: DataFrame,
                           q: DataFrame, entries: Either[Seq[Long], DataFrame],
                           queryIdCol: String, idCol: String,
                           vecCol: String, beam: Either[Int, String],
                           rounds: Int, k: Int,
                           pred: Option[Column] = None): DataFrame = {
    val oneJob = entries.swap.toOption.flatMap(ids =>
      DriverWalk.search(graph, vectors, q, nonEmpty(ids), queryIdCol,
        idCol, vecCol, beam, rounds, k, pred))
    oneJob.getOrElse {
      val entryNodes = entries.fold(literalEntries(vectors, idCol, _),
        identity)
      val beamCut: DataFrame => DataFrame = beam.fold(beamOf,
        b => _.join(q.select(col(queryIdCol), col(b)), Seq(queryIdCol))
          .filter(col("_r") <= col(b)))
      val scored = beamWalk(graph, entryNodes.join(q.select(col(queryIdCol))),
        queryIdCol, idCol, beamCut, rounds)(
        cosineScore(vectors, Seq(idCol), q.select(col(queryIdCol), col("qe")),
          queryIdCol, idCol, vecCol))
      pred match {
        case None => walkTopK(scored, scored, queryIdCol, idCol, k)
        case Some(p) =>
          val passing = scored
            .join(vectors.filter(p).select(col(idCol)), Seq(idCol))
          val nPass = passing.groupBy(queryIdCol)
            .agg(count(lit(1)).as("passed_visited"))
          walkTopK(scored, passing, queryIdCol, idCol, k)
            .join(nPass, Seq(queryIdCol))
      }
    }
  }

  /** The entry ids present in `nodes`, as a literal isin filter. */
  private def literalEntries(nodes: DataFrame, idCol: String,
                             entryIds: Seq[Long]): DataFrame =
    nodes.select(col(idCol)).filter(col(idCol).isin(nonEmpty(entryIds): _*))

  private def nonEmpty(entryIds: Seq[Long]): Seq[Long] = {
    require(entryIds.nonEmpty, "beam walk: entryIds must be non-empty")
    entryIds
  }

  /** The query-id column of a single-query walk: it runs as a batch of
    * one on a constant id, dropped from the output. */
  private val OneQuery = "_walk_query"

  /** A single-row `query` frame (qe) as a one-query batch. */
  private def oneQuery(query: DataFrame): DataFrame =
    broadcast(query.select(lit(0L).as(OneQuery), col("qe")))

  /** A single-query walk scored by a per-node expression over the
    * code table `codes` (larger = closer). */
  private def codeWalk(graph: DataFrame, codes: DataFrame, idCol: String,
                       entryIds: Seq[Long], beam: Int, rounds: Int,
                       score: Column): DataFrame =
    beamWalk(graph, literalEntries(codes, idCol, entryIds)
        .select(lit(0L).as(OneQuery), col(idCol)),
      OneQuery, idCol, beamOf(beam), rounds) { pairs =>
      pairs.join(codes, Seq(idCol))
        .select(col(OneQuery), col(idCol), score.as("score"))
    }.drop(OneQuery)

  /** DiskANN-style serving (Subramanya et al. 2019): the beam walk
    * TRAVERSES on PQ asymmetric distance against the compressed code
    * table — never touching a raw vector — then exact-reranks only the
    * final `shortlist` against the float store. This is the 100 TB
    * memory story at the reference width: a 1536-d float32 vector is
    * 6,144 B, its m-byte PQ code fits hundreds of times over, so the
    * graph+codes working set stays RAM-resident at corpus sizes where
    * the float store lives on disk/object storage and is touched
    * `shortlist` rows per query (a broadcast semi-join here, a point
    * read there). Scoring convention: score = −ADC (larger = closer),
    * so beam selection and tie-breaks (score desc, id asc) are
    * bit-compatible with the cosine walk's ordering rules and the SQL
    * replay orders by the same key.
    *
    * [[graphBeamWalkPq]] is the traversal alone — the scored visited
    * set (idCol, score), each visit one m-lookup ADC evaluation, never
    * a 1536-wide cosine; [[graphBeamSearchPqRerank]] composes it with
    * the exact rerank tail into the deployment-shaped answer.
    */
  def graphBeamWalkPq(graph: DataFrame, codes: DataFrame,
                      query: Array[Float], model: Pq.PqModel,
                      idCol: String, entryIds: Seq[Long],
                      beam: Int, rounds: Int): DataFrame =
    codeWalk(graph, codes, idCol, entryIds, beam, rounds,
      negate(Pq.adcDistance(col("codes"), query, model)))

  /** The beam walk TRAVERSING on binary (sign-bit) hamming distance —
    * [[graphBeamWalkPq]]'s contract at [[Bq]]'s 32× compression rung:
    * each visit costs d/32 XOR+popcount word ops against the packed
    * code table, never a d-wide float pass; score = −hamming
    * (larger = closer, ties by id — the family's ordering rules).
    * Hamming collapses magnitude and quantizes angle to bit flips, so
    * the rerank tail restores true cosine scores — though v62's
    * measurement shows 1,536 sign bits already resolve this corpus's
    * replica mates (hamming-only recall 0.9), unlike PQ's 8-byte
    * codes (ADC-only 0.3).
    */
  def graphBeamWalkBq(graph: DataFrame, codes: DataFrame,
                      qWords: Seq[Long], idCol: String,
                      entryIds: Seq[Long], beam: Int,
                      rounds: Int): DataFrame =
    codeWalk(graph, codes, idCol, entryIds, beam, rounds,
      Bq.negHammingCol(col("code"), qWords))

  /** Exact-cosine rerank of the walk's `shortlist` best-by-ADC against
    * the raw float store — only these rows' full vectors are ever
    * fetched (broadcast semi-join). See [[graphBeamWalkPq]]. */
  def graphBeamSearchPqRerank(graph: DataFrame, codes: DataFrame,
                              raw: DataFrame, query: Array[Float],
                              model: Pq.PqModel, idCol: String,
                              vecCol: String, entryIds: Seq[Long],
                              beam: Int, rounds: Int, shortlist: Int,
                              k: Int): DataFrame = {
    val scored = graphBeamWalkPq(graph, codes, query, model, idCol,
      entryIds, beam, rounds).withColumn(OneQuery, lit(0L))
    val short = Search.topKPerQuery(scored, OneQuery, idCol, shortlist)
      .select(col(idCol))
    val qLit = array(query.map(x => lit(x)).toIndexedSeq: _*)
    val reranked = raw.join(broadcast(short), Seq(idCol))
      .select(lit(0L).as(OneQuery), col(idCol),
        cosineSim(col(vecCol), qLit).as("score"))
    walkTopK(scored, reranked, OneQuery, idCol, k).drop(OneQuery)
  }

  /** Single-query cosine search: the single-row `query` frame's `qe`
    * walked from the fixed `entryIds`; returns the ranked top-`k` of
    * the visited set (rank, idCol, score, nodes_touched). */
  def graphBeamSearch(graph: DataFrame, vectors: DataFrame,
                      query: DataFrame, idCol: String, vecCol: String,
                      entryIds: Seq[Long], beam: Int, rounds: Int,
                      k: Int): DataFrame =
    cosineSearch(graph, vectors, oneQuery(query), Left(entryIds),
      OneQuery, idCol, vecCol, Left(beam), rounds, k).drop(OneQuery)

  /** The per-bucket-entries walk BEHIND THE SIZE SWITCH (the
    * round-17 watch note made structural): derive the per-bucket
    * top-in-degree entries and walk — at widths ≤
    * [[EntryLiteralMaxBits]] the entries collect to a tiny literal
    * (codegen'd isin, the historical plan shape, byte-identical
    * results); above it they stay an in-plan frame
    * ([[topDegreeEntriesPerBucketFrame]]) and round 0 is a broadcast
    * semi-join — per-bucket entry derivation at bb = 20 is ~2M rows,
    * which belongs in a broadcast join, not a driver Seq. The two
    * sides differ only in the entries frame. */
  def graphBeamSearchPerBucket(graph: DataFrame, vectors: DataFrame,
                               query: DataFrame, idCol: String,
                               vecCol: String, index: DataFrame,
                               perBucket: Int, bucketBits: Int,
                               beam: Int, rounds: Int, k: Int)
      : DataFrame = {
    val entries =
      if (bucketBits <= EntryLiteralMaxBits)
        Left(topDegreeEntriesPerBucket(graph, index, idCol, perBucket))
      else Right(vectors.select(col(idCol)).join(
        broadcast(topDegreeEntriesPerBucketFrame(graph, index, idCol,
          perBucket)), Seq(idCol), "left_semi"))
    cosineSearch(graph, vectors, oneQuery(query), entries, OneQuery,
      idCol, vecCol, Left(beam), rounds, k).drop(OneQuery)
  }

  /** FILTERED graph serving — the metadata-constrained search every
    * vector store exposes (the v05/v29 filtered family completed for
    * the graph index): the walk TRAVERSES the graph unfiltered (a
    * filtered traversal disconnects under selective predicates — the
    * ACORN observation; failing nodes still route), then top-k selects
    * only among visited nodes satisfying `pred` (evaluated against the
    * vectors frame's metadata columns). Reports both cost meters:
    * nodes_touched (traversal work) and passed_visited (the effective
    * candidate pool — selectivity × visited, the number a deployment
    * watches to decide when to over-retrieve with a wider beam).
    */
  def graphBeamSearchFiltered(graph: DataFrame, vectors: DataFrame,
                              query: DataFrame, idCol: String,
                              vecCol: String, entryIds: Seq[Long],
                              beam: Int, rounds: Int, k: Int,
                              pred: Column): DataFrame =
    cosineSearch(graph, vectors, oneQuery(query), Left(entryIds),
      OneQuery, idCol, vecCol, Left(beam), rounds, k, Some(pred))
      .drop(OneQuery)

  /** Batched [[graphBeamSearch]]: Q queries walk ONE shared graph in a
    * single plan per round — the serving shape a production graph-ANN
    * tier runs (the v33-batched-IVF-PQ economics applied to the graph
    * index: the graph and vector stores are scanned per ROUND, not per
    * query). `queries` is a small (queryIdCol, qe) frame and rides
    * every join as a broadcast; per-query beams are rank windows keyed
    * by `queryIdCol` (WindowGroupLimit heaps, the v21 shape), so each
    * round is: beam window → frontier equi-join against the graph →
    * visited-set union/distinct → point-lookup re-score. Per-round
    * state is (query, visited-node) pairs — Q·beam·degree·rounds rows,
    * never corpus-scale. Every query starts at every entry. Returns
    * per-query ranked top-k with that query's visited-set size.
    */
  def graphBeamSearchBatch(graph: DataFrame, vectors: DataFrame,
                           queries: DataFrame, idCol: String,
                           vecCol: String, queryIdCol: String,
                           entryIds: Seq[Long], beam: Int, rounds: Int,
                           k: Int): DataFrame =
    cosineSearch(graph, vectors,
      broadcast(queries.select(col(queryIdCol), col("qe"))),
      Left(entryIds), queryIdCol, idCol, vecCol, Left(beam), rounds, k)

  /** [[graphBeamSearchBatch]] with a PER-QUERY beam width — the
    * capacity-sweep shape (v50): N operating points walk the one
    * shared graph in a single plan per round, each query's rank window
    * cut at ITS `beamCol` value instead of a global constant. Same
    * economics as the fixed-beam batch (graph and vector stores
    * scanned per round, not per query, per-round state =
    * Σ per-query visited rows); the only difference is the window
    * filter comparing against the broadcast beam column.
    */
  def graphBeamSearchBatchVarBeam(graph: DataFrame, vectors: DataFrame,
                                  queries: DataFrame, idCol: String,
                                  vecCol: String, queryIdCol: String,
                                  beamCol: String, entryIds: Seq[Long],
                                  rounds: Int, k: Int): DataFrame =
    cosineSearch(graph, vectors,
      broadcast(queries.select(col(queryIdCol), col("qe"), col(beamCol))),
      Left(entryIds), queryIdCol, idCol, vecCol, Right(beamCol), rounds,
      k)

  /** The MULTI-INDEX batched walk: each query walks ITS OWN graph over
    * ITS OWN vector set — the serving shape of a tier answering across
    * index versions in one plan (v49 walks the compacted graph and the
    * LSM base graph simultaneously; the same machinery serves N
    * snapshot versions, the v39 time-travel idea applied to the graph
    * family). `graph` is (queryIdCol, src, dst), `vectors`
    * (queryIdCol, idCol, vecCol), `entries` (queryIdCol, idCol),
    * `queries` (queryIdCol, qe): every join keys on
    * (queryIdCol, node), so indexes stay disjoint inside one shared
    * round — rounds-many join stages TOTAL, per-round state
    * Σ per-index visited rows, never corpus-scale.
    */
  def graphBeamSearchMultiIndex(graph: DataFrame, vectors: DataFrame,
                                queries: DataFrame, entries: DataFrame,
                                idCol: String, vecCol: String,
                                queryIdCol: String, beam: Int,
                                rounds: Int, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol), col("qe")))
    val scored = beamWalk(graph,
      entries.select(col(queryIdCol), col(idCol)), queryIdCol, idCol,
      beamOf(beam), rounds)(
      cosineScore(vectors, Seq(queryIdCol, idCol), q, queryIdCol, idCol,
        vecCol))
    walkTopK(scored, scored, queryIdCol, idCol, k)
  }

  /** Build the k-NN graph artifact (src, dst) every graph-ANN serving
    * operator walks: each vector's top-`degree` neighbors by exact
    * cosine among its multi-probe SRP bucket candidates (own bucket +
    * hamming-1 flips — the v23 routing; sum-|bucket|² work, every join
    * an equi-join). Snapshot-time cost, paid once per index version;
    * [[graphBeamSearch]]/[[graphBeamSearchBatch]] then touch
    * beam·degree·rounds nodes per query regardless of corpus size.
    *
    * GEOMETRY CONTRACT: `bucketBits` must scale with the corpus
    * (bucketBits ≈ log2(n / targetBucketSize), the SemDeDup k ∝ n
    * rule) — held fixed, |bucket| grows ∝ n and the blocked self-join
    * goes quadratic. The bench queries pin bucketBits=4 for their
    * fixed corpora.
    *
    * PROBE CONTRACT: the per-vector probe count is capped at
    * 1 + `maxProbes` buckets regardless of bucketBits
    * ([[srpProbeBucketsCapped]], margin-ranked flips) — so
    * candidates/vector stays (1 + maxProbes) · mean-|bucket|, a
    * geometry CONSTANT, where uncapped hamming-1 probing would grow it
    * ∝ bucketBits ∝ log n. At the bench geometry (bucketBits = 4,
    * maxProbes = 4) the cap doesn't bind and the probe set equals the
    * full hamming-1 expansion.
    *
    * SKEW CONTRACT: the probe cap bounds how many buckets a vector
    * probes, not how big a probed bucket is — and both the own-bucket
    * term (size-biased: a vector in a hot bucket sees the whole hot
    * bucket) and the margin-ranked flips (small margins cluster where
    * vectors cluster, so flips preferentially TARGET dense buckets)
    * grow with bucket skew even when mean-|bucket| is flat (round-11
    * measurement: cand/vec 630→798 across 1×→32× with mean-|bucket|
    * +7% but max-|bucket| 225→480). [[saltedBucketJoin]] bounds the
    * per-probe contribution at ~`maxBucketGroup` rows regardless of
    * skew; the default (2 · the ~128-row target bucket size of the
    * bucketBits ≈ log2(n/128) schedule) never binds at the bench
    * corpora (hottest bench bucket: 227 rows at sf0.1) so the pinned
    * graph queries are byte-identical, and engages exactly where the
    * measured superlinearity lives.
    */
  def buildKnnGraph(emb: DataFrame, idCol: String, vecCol: String,
                    bits: Int, bucketBits: Int,
                    degree: Int, maxProbes: Int = DefaultMaxProbes,
                    maxBucketGroup: Long = DefaultMaxBucketGroup)
      : DataFrame = {
    val scoredPairs = knnGraphCandidates(emb, emb, idCol, vecCol,
      bits, bucketBits, maxProbes, maxBucketGroup)
    Search.topKPerQuery(scoredPairs, "src", idCol, degree)
      .select(col("src"), col(idCol).as("dst"))
  }

  /** The probe fan-out of [[buildKnnGraph]]/[[updateKnnGraph]]: one
    * constant for both builders' defaults. */
  val DefaultMaxProbes: Int = 4

  /** Default bucket-group cap for [[saltedBucketJoin]]: 2× the ~128-row
    * target bucket size the bucketBits ≈ log2(n/128) geometry schedule
    * aims for — buckets inside 2× of target join whole (zero behavior
    * change), only genuinely hot buckets get split. */
  val DefaultMaxBucketGroup: Long = 256L

  /** [[buildKnnGraph]] at OCCUPANCY-DRIVEN geometry: derive bucketBits
    * from the measured histogram ([[occupancyBucketBits]]) instead of
    * a row-count schedule, then build — the one-call form of the
    * round-14 fix for in-place cluster densification (SCALING.md:
    * cand/vec flat at 142/148/124 across 40×/160×/640× where the
    * log2(n/128) schedule grew it to 586). Costs one extra corpus
    * sketch pass at snapshot-build time; v69 hash-gates the chooser.
    */
  def buildKnnGraphAdaptive(emb: DataFrame, idCol: String,
                            vecCol: String, bits: Int, bbMin: Int,
                            bbMax: Int, degree: Int,
                            targetSizeBiased: Double =
                              DefaultTargetSizeBiased,
                            maxProbes: Int = DefaultMaxProbes,
                            maxBucketGroup: Long = DefaultMaxBucketGroup)
      : DataFrame =
    buildKnnGraph(emb, idCol, vecCol, bits,
      occupancyBucketBits(emb, vecCol, bits, bbMin, bbMax,
        targetSizeBiased),
      degree, maxProbes, maxBucketGroup)

  /** The OCCUPANCY TABLE behind [[occupancyBucketBits]] — one row per
    * candidate bucketBits in [bbMin, bbMax]: bucket count, hottest
    * bucket, and the SIZE-BIASED mean bucket size Σ|b|²/n (the
    * expected size of the bucket a RANDOM VECTOR sits in — exactly
    * the per-probe candidate contribution of [[buildKnnGraph]]'s
    * own-bucket term, which is what the row-count schedule
    * bucketBits ≈ log2(n/128) silently mis-estimates on clustered
    * corpora: replica mates concentrate in few buckets, so the
    * size-biased mean grows with n while the plain mean stays flat —
    * the round-13 d=1536 superlinearity, cand/vec 142→344→586).
    *
    * Scale shape: ONE corpus pass sketches every vector at the finest
    * width and reduces to the ≤min(n, 2^bbMax)-row fine histogram
    * (map-side combined groupBy); each candidate width is then a
    * re-aggregation of that model-sized frame (coarser buckets are
    * prefixes of finer ones), never another corpus scan. Σ|b|² stays
    * exact in Long up to |b| ~ 3·10⁹ — beyond any per-bucket count a
    * sane geometry permits (and 2^bbMax buckets bound the sum's terms).
    */
  def bucketOccupancy(emb: DataFrame, vecCol: String, bits: Int,
                      bbMin: Int, bbMax: Int): DataFrame = {
    require(0 < bbMin && bbMin <= bbMax && bbMax <= bits,
      s"bucketOccupancy: need 0 < bbMin=$bbMin <= bbMax=$bbMax <= " +
        s"bits=$bits")
    occupancyFromHistogram(
      fineOccupancyHistogram(emb, vecCol, bits, bbMax), bbMin, bbMax)
  }

  /** The FINE occupancy histogram — [[bucketOccupancy]]'s one corpus
    * pass as a standalone, PERSISTABLE frame: per-bucket counts
    * (fb, cnt) at the finest candidate width `bbMax` of the
    * `bits`-plane SRP sketch. This is the mergeable-sketch form (the
    * t36/t38 discipline applied to index maintenance): the bucket of
    * an existing vector NEVER changes — the hyperplane signs are fixed
    * md5 functions of (plane, component) — so the histogram is purely
    * ADDITIVE, and a store that persists it per snapshot folds each
    * delta batch's histogram in ([[foldOccupancyHistogram]]) instead
    * of re-sketching the base corpus: the occupancy half of LSM
    * maintenance becomes O(delta). ≤ min(n, 2^bbMax) rows —
    * model-sized at any corpus scale. */
  def fineOccupancyHistogram(emb: DataFrame, vecCol: String, bits: Int,
                             bbMax: Int): DataFrame = {
    require(0 < bbMax && bbMax <= bits,
      s"fineOccupancyHistogram: need 0 < bbMax=$bbMax <= bits=$bits")
    // no fanOut: see srpBucketIndex — the sketch's flops/byte don't
    // cover the exchange of the wide embedding rows
    emb.select(
        graft.functions.HashFunctions.cosineLshBits(col(vecCol), bits)
          .bitwiseAND(lit((1L << bbMax) - 1)).as("fb"))
      .groupBy("fb").agg(count(lit(1)).as("cnt"))
  }

  /** Additive fold of two fine histograms — base snapshot + delta
    * batch → the combined corpus's exact histogram, per-bucket sum
    * (no approximation: the underlying sketch is deterministic and
    * bucket membership immutable). O(distinct buckets) work, never a
    * corpus pass. */
  def foldOccupancyHistogram(base: DataFrame, delta: DataFrame)
      : DataFrame =
    base.unionByName(delta).groupBy("fb").agg(sum("cnt").as("cnt"))

  /** [[bucketOccupancy]]'s per-width decision table from an
    * already-computed fine histogram — ZERO corpus passes: each
    * candidate width is a prefix re-aggregation of the model-sized
    * (fb, cnt) frame (coarser buckets are mask-prefixes of finer
    * ones, the AnnSpec-pinned property). The input is
    * localCheckpoint-ed so a lazily-built histogram is materialized
    * once, not once per width. */
  def occupancyFromHistogram(fine: DataFrame, bbMin: Int, bbMax: Int)
      : DataFrame = {
    require(0 < bbMin && bbMin <= bbMax,
      s"occupancyFromHistogram: need 0 < bbMin=$bbMin <= bbMax=$bbMax")
    occupancyTable(fine, bbMin to bbMax)
  }

  /** The occupancy plan over an EXPLICIT width list — the core of
    * [[occupancyFromHistogram]], also consumed with a width-0 pseudo
    * row by [[occupancyAndCount]] (at width 0 every fb masks to one
    * bucket, so that row's max_bucket IS the corpus total — the count
    * rides the verdict's aggregation for free). */
  private def occupancyTable(fine: DataFrame, widths: Seq[Int])
      : DataFrame = {
    // ALL candidate widths in ONE two-aggregation plan: each (fb, cnt)
    // row fans out to its (bbMax−bbMin+1) mask prefixes (coarser
    // buckets are mask-prefixes of finer ones — the AnnSpec-pinned
    // property), then (width, bucket) partial sums reduce to the
    // per-width row. The previous per-width UNION planned 2 exchanges
    // PER WIDTH (36 shuffle materializations at the 3..20 sweep, ~2 s
    // of fixed stage overhead per call — the round-18 profile's
    // hottest maintenance line); this is the identical table, same
    // arithmetic and rounding, in 2 exchanges total. Fan-out rows:
    // |histogram| × widths — model-sized at any corpus scale.
    fine.select(explode(array(widths.map(lit): _*))
        .as("bucket_bits"), col("fb"), col("cnt"))
      .groupBy(col("bucket_bits"),
        expr("fb & (shiftleft(cast(1 as bigint), bucket_bits) - 1)")
          .as("bucket"))
      .agg(sum("cnt").as("bn"))
      .groupBy(col("bucket_bits"))
      .agg(count(lit(1)).as("n_buckets"),
        max("bn").as("max_bucket"),
        round(sum(col("bn") * col("bn")).cast("double") /
          sum(col("bn")), 4).as("size_biased"))
      .select(col("bucket_bits"), col("n_buckets"),
        col("max_bucket"), col("size_biased"))
  }

  /** OCCUPANCY-DRIVEN bucket geometry: the smallest bucketBits in
    * [bbMin, bbMax] whose measured size-biased mean bucket size is ≤
    * `targetSizeBiased`, else bbMax (the densest geometry available —
    * [[saltedBucketJoin]]'s cap remains the backstop there, and the
    * caller can see the miss in [[bucketOccupancy]]'s table).
    *
    * A bbMax return WITH the load still above target is usually not a
    * data floor but the SKETCH saying it is too narrow: plane j's
    * bucket bit is independent of how many planes exist, so `bits` is
    * nothing but this chooser's ceiling, widening it costs d·Δbits
    * multiplies per vector at sketch time, and every bb ≤ the old
    * width masks to the IDENTICAL buckets (same planes). Measured on
    * the 2560× d=1536 corpus (SCALING.md round 15): bits 20 → 40
    * moves the chosen geometry from (bb 20, load 124, cand/vec 286)
    * to (bb 25, load 36) — flat again; the residual max bucket at the
    * full 40-bit width (59 near-identical cluster-core members) is
    * the salting cap's territory. Replaces
    * the row-count schedule log2(n/128) for [[buildKnnGraph]]: derived
    * from the measured bucket HISTOGRAM, it holds the own-bucket
    * candidate contribution — and with the probe cap, total cand/vec —
    * at a geometry CONSTANT as the corpus grows, where the row-count
    * schedule lets in-place cluster densification grow it superlinearly
    * (the round-13 SCALING.md finding). Smallest-first keeps recall:
    * coarser buckets see MORE candidates, so the chooser only refines
    * as far as the cost target forces it. Deterministic (the sketch
    * and histogram are), driver-side only the (bbMax−bbMin+1)-row
    * table — at 100 TB this is a snapshot-build-time planning query
    * over the fine histogram, model-sized state end to end.
    */
  def occupancyBucketBits(emb: DataFrame, vecCol: String, bits: Int,
                          bbMin: Int, bbMax: Int,
                          targetSizeBiased: Double = DefaultTargetSizeBiased)
      : Int =
    chooseBucketBits(bucketOccupancy(emb, vecCol, bits, bbMin, bbMax),
      targetSizeBiased)

  /** The decision half of [[occupancyBucketBits]], over an
    * already-computed [[bucketOccupancy]] table — split out so a
    * caller that also REPORTS the table (v69) pays the sketch pass
    * once. Driver-side: the table is (bbMax−bbMin+1) rows. */
  def chooseBucketBits(occ: DataFrame, targetSizeBiased: Double): Int =
    chooseFromOcc(occ.select("bucket_bits", "size_biased")
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq, targetSizeBiased)

  /** [[chooseBucketBits]]'s decision rule over an already-COLLECTED
    * (bucket_bits, size_biased) table — split out so a caller that
    * needs the geometry choice AND the maintenance verdict from the
    * same histogram ([[maintenanceFromOcc]]) collects the
    * (bbMax−bbMin+1)-row occupancy table once (s27's snapshot
    * bootstrap previously paid a second corpus sketch pass for it). */
  def chooseFromOcc(occ: Seq[(Int, Double)],
                    targetSizeBiased: Double = DefaultTargetSizeBiased)
      : Int = {
    require(occ.nonEmpty, "chooseFromOcc: empty occupancy table")
    val rows = occ.sortBy(_._1)
    rows.find(_._2 <= targetSizeBiased).map(_._1).getOrElse(rows.last._1)
  }

  /** The occupancy-drift verdict rule ([[GraphMaintenance]]) over a
    * collected (bucket_bits, size_biased) table: the load at the
    * store's frozen `currentBits` against [[chooseFromOcc]]'s pick.
    * The table comes from [[occupancyAndCount]] (distributed) or
    * [[occupancyFromCollected]] (driver-held histogram); requiring
    * `currentBits` in the table also bounds it to [bbMin, bbMax]. */
  def maintenanceFromOcc(occ: Seq[(Int, Double)], currentBits: Int,
                         targetSizeBiased: Double =
                           DefaultTargetSizeBiased): GraphMaintenance = {
    val m = occ.toMap
    require(m.contains(currentBits),
      s"maintenanceFromOcc: currentBits=$currentBits not in the " +
        s"occupancy table (widths ${occ.map(_._1).sorted})")
    val chosen = chooseFromOcc(occ, targetSizeBiased)
    GraphMaintenance(currentBits, m(currentBits), chosen, m(chosen),
      targetSizeBiased)
  }

  /** [[occupancyFromHistogram]] computed DRIVER-SIDE over an
    * already-collected fine histogram — identical arithmetic (exact
    * Long sums, IEEE double division, the same HALF_UP 4-dp rounding
    * Spark's `round` applies via BigDecimal.valueOf) with zero Spark
    * jobs. ONLY for histograms a caller already holds on the driver
    * (v80 folds per-snapshot histograms from one collected
    * (fb, step, cnt) frame — re-distributing each fold to run a
    * 2-exchange aggregation was 4 round trips of pure overhead); the
    * distributed form remains the at-scale path. */
  def occupancyFromCollected(hist: Seq[(Long, Long)], bbMin: Int,
                             bbMax: Int): Seq[(Int, Long, Long, Double)] = {
    require(0 < bbMin && bbMin <= bbMax,
      s"occupancyFromCollected: need 0 < bbMin=$bbMin <= bbMax=$bbMax")
    // an empty histogram would divide 0.0/0.0 below and feed NaN to
    // BigDecimal.valueOf (NumberFormatException) — fail descriptively
    // instead, mirroring chooseFromOcc's contract
    require(hist.nonEmpty,
      "occupancyFromCollected: empty fine histogram — the corpus " +
        "this histogram was folded from has no rows")
    (bbMin to bbMax).map { bb =>
      val m = new java.util.HashMap[java.lang.Long, Long]()
      hist.foreach { case (fb, cnt) =>
        m.merge(fb & ((1L << bb) - 1), cnt, _ + _) }
      var mx = 0L; var s = 0L; var s2 = 0L
      m.values.forEach { bn =>
        if (bn > mx) mx = bn; s += bn; s2 += bn * bn }
      val sb = java.math.BigDecimal.valueOf(s2.toDouble / s.toDouble)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      (bb, m.size.toLong, mx, sb)
    }
  }

  /** Calibration target for [[occupancyBucketBits]]: the own-bucket
    * size-biased load the hand-pinned v57 geometry (bucketBits = 5 on
    * the 40× d=1536 fixture) measures — ~47 rows, cand/vec ~142 with
    * the default 1+4 probes. Holding THIS constant as the corpus grows
    * is the adaptive schedule's whole point: the chooser reproduces
    * v57's pin at 40× (v69 hash-gates that) and refines bucketBits
    * exactly as fast as in-place cluster densification demands
    * (measured: bb 5→11→17 across 40×/160×/640×, size-biased 47/47/40
    * — flat, where the row-count schedule let it grow 47→106→418). */
  val DefaultTargetSizeBiased: Double = 48.0

  /** The SCORED candidate frame both graph builders rank: `probeFrom`
    * vectors probe their capped multi-probe buckets against the bucket
    * index of `indexFrom`, hot buckets salted ([[saltedBucketJoin]]),
    * each surviving (src, candidate) pair scored by exact cosine.
    * Factored out so [[buildKnnGraph]] (probeFrom = indexFrom = corpus),
    * [[updateKnnGraph]] (probeFrom = delta, indexFrom = base ∪ delta)
    * and the v53 salting diagnostic all consume the IDENTICAL candidate
    * set — a diagnostic that re-derived the probes with its own
    * constants could silently measure a different join than the build
    * it claims to attribute.
    */
  def knnGraphCandidates(probeFrom: DataFrame, indexFrom: DataFrame,
                         idCol: String, vecCol: String, bits: Int,
                         bucketBits: Int, maxProbes: Int,
                         maxBucketGroup: Long): DataFrame = {
    val probes = srpProbeBucketsCapped(
      probeFrom.select(col(idCol).as("src"), col(vecCol).as("_se")),
      "_se", bits, bucketBits, maxProbes)
    val index = srpBucketIndex(indexFrom, idCol, vecCol, bits, bucketBits)
    saltedBucketJoin(probes, index, idCol, maxBucketGroup)
      .filter(col("src") =!= col(idCol))
      .select(col("src"), col(idCol),
        cosineSim(col(vecCol), col("_se")).as("score"))
  }

  /** Skew-bounded bucket equi-join — the t14/t48 hot-bucket discipline
    * applied to the graph build, as a CAP instead of an abort (the
    * build can degrade gracefully where a dedup pair query cannot):
    * buckets larger than `maxBucketGroup` split into
    * n_salts = ⌈|bucket| / maxBucketGroup⌉ md5-uniform salt groups
    * (member salt = md5₆₀("gsalt:" ∥ id) mod n_salts — deterministic,
    * id-keyed, oracle-replayable), and a probe joins the ONE group its
    * own id hashes to — so a vector probing its own bucket always
    * lands among its salt-mates (itself included), and the per-probe
    * candidate contribution is ~|bucket|/n_salts ≤ ~maxBucketGroup in
    * expectation regardless of bucket skew. Total candidates are then
    * ≤ n · (1 + maxProbes) · ~maxBucketGroup — LINEAR in n even on
    * clustered corpora where max-|bucket| grows while the mean stays
    * flat. Buckets ≤ maxBucketGroup get n_salts = 1: salt ≡ 0 and the
    * join is bit-identical to the unsalted one. The recall trade,
    * stated: a probe into a split bucket sees a 1/n_salts md5-uniform
    * sample of it — same-salt near neighbors are found, cross-salt
    * ones missed; that loss applies only to buckets ≥ 2× target size
    * and is pinned by v53's edge_overlap metric, not trusted.
    *
    * Scale shape: the counts frame is ≤ 2^bucketBits rows (model-
    * sized, broadcast — both corpus-scale sides gain their salt in a
    * map-side join), and the candidate shuffle keys on (bucket, salt)
    * — strictly FINER keys than the unsalted bucket join, so the fix
    * also removes the hot-reducer skew of the shuffle itself (the
    * classic salted-join trick, here with a deterministic salt an
    * oracle can replay).
    */
  private def saltedBucketJoin(probes: DataFrame, index: DataFrame,
                               idCol: String,
                               maxBucketGroup: Long): DataFrame =
    saltedBucketJoinWithCounts(probes, index, idCol,
      index.groupBy(col("bucket")).agg(count(lit(1)).as("_bn")),
      maxBucketGroup)

  /** [[saltedBucketJoin]] with the per-bucket counts SUPPLIED instead
    * of aggregated from `index` — the O(delta) maintenance path
    * derives them from the folded fine histogram
    * ([[updateKnnGraphIncremental]]), which holds the identical
    * numbers the index aggregation would measure, without the
    * base-proportional scan. `bucketCounts` = (bucket, _bn). */
  private def saltedBucketJoinWithCounts(probes: DataFrame,
                                         index: DataFrame, idCol: String,
                                         bucketCounts: DataFrame,
                                         maxBucketGroup: Long)
      : DataFrame = {
    require(maxBucketGroup > 0,
      s"saltedBucketJoin: maxBucketGroup=$maxBucketGroup must be positive")
    val counts = bucketCounts
      .select(col("bucket"),
        ceil(col("_bn").cast("double") / maxBucketGroup).cast("long")
          .as("_ns"))
    def salt(id: Column): Column =
      pmod(graft.functions.HashFunctions.md5Long(
        concat(lit("gsalt:"), id.cast("string"))), col("_ns"))
    val members = index.join(broadcast(counts), Seq("bucket"))
      .withColumn("_salt", salt(col(idCol)))
      .drop("_ns")
    probes.join(broadcast(counts), Seq("bucket"))
      .withColumn("_salt", salt(col("src")))
      .drop("_ns")
      .join(members, Seq("bucket", "_salt"))
      .drop("_salt")
  }

  /** INCREMENTAL k-NN graph maintenance — the LSM split the dedup
    * indexes already follow (Dedup.updateJaccardIndex /
    * updateSubstrIndex): a delta batch of new vectors gets its edges
    * as a SIDECAR frame without rewriting (or even re-scoring) the
    * base graph. Each delta node finds its top-`degree` neighbors
    * among its probed buckets of the COMBINED (base ∪ delta) bucket
    * index — so new nodes link both backward into the base and among
    * themselves — and serving walks `base ∪ sidecar`.
    *
    * The deliberate LSM asymmetry, stated: BASE nodes gain no forward
    * edges toward delta nodes until compaction (= [[buildKnnGraph]]
    * over the full corpus, the deferred O(base) fold at the caller's
    * cadence). Until then delta nodes are reachable exactly when a
    * walk enters the delta's own linkage or starts from it — the
    * freshness/recall trade every serving-time ANN index update makes
    * (HNSW insertion repairs bidirectionally at write time; the LSM
    * formulation defers the base-side repair to a batch fold, which
    * is the Spark-native cadence). Update cost: the delta's sketches
    * + one bucket equi-join against a bucket-pruned combined index —
    * delta-proportional, never base-proportional. Probe fan-out is
    * capped at 1 + `maxProbes` and hot-bucket contribution at
    * ~`maxBucketGroup` ([[buildKnnGraph]]'s probe and skew contracts).
    */
  def updateKnnGraph(baseEmb: DataFrame, delta: DataFrame, idCol: String,
                     vecCol: String, bits: Int, bucketBits: Int,
                     degree: Int, maxProbes: Int = DefaultMaxProbes,
                     maxBucketGroup: Long = DefaultMaxBucketGroup)
      : DataFrame = {
    val combined = baseEmb.select(col(idCol), col(vecCol))
      .unionByName(delta.select(col(idCol), col(vecCol)))
    val scoredPairs = knnGraphCandidates(delta, combined, idCol, vecCol,
      bits, bucketBits, maxProbes, maxBucketGroup)
    Search.topKPerQuery(scoredPairs, "src", idCol, degree)
      .select(col("src"), col(idCol).as("dst"))
  }

  /** The occupancy-drift verdict an LSM graph store consults at
    * update/compaction time ([[maintenanceFromOcc]]): the measured
    * size-biased bucket load of the COMBINED (base ∪ deltas) index at
    * the width the store currently runs, against the width the
    * occupancy chooser would pick NOW. `rebucket` = the store's frozen
    * geometry has drifted past target — the caller re-buckets (or
    * folds the compaction early, which rebuilds at
    * [[buildKnnGraphAdaptive]]'s fresh choice).
    *
    * Why a long-lived store needs it (the round-14 gap):
    * [[occupancyBucketBits]] fixes the ONE-SHOT build's geometry, but
    * a store accreting deltas between compactions densifies IN PLACE
    * while its `bucketBits` stays at the base-build choice, re-opening
    * the superlinearity the chooser killed (the salt cap bounds the
    * hottest bucket, not the aggregate size-biased load). The verdict
    * reads the combined corpus's fine histogram — re-sketched
    * ([[fineOccupancyHistogram]]) or folded from the persisted
    * snapshot's ([[foldOccupancyHistogram]], the O(delta) form; v72
    * hash-gates fold ≡ re-sketch) — through [[occupancyAndCount]]. */
  case class GraphMaintenance(currentBits: Int, currentLoad: Double,
                              chosenBits: Int, chosenLoad: Double,
                              targetSizeBiased: Double) {
    def rebucket: Boolean = currentLoad > targetSizeBiased
  }

  /** The COLLECTED occupancy table plus the corpus total in ONE round
    * trip: a width-0 pseudo row rides the occupancy aggregation (all
    * fb mask to one bucket, so its max_bucket = Σcnt) and the table
    * reads the real widths. Every verdict collect goes through here: a
    * caller choosing geometry ([[chooseFromOcc]]), building the drift
    * verdict ([[maintenanceFromOcc]]) AND reporting n pays one collect
    * for all three. */
  def occupancyAndCount(fine: DataFrame, bbMin: Int, bbMax: Int)
      : (Seq[(Int, Double)], Long) = {
    require(0 < bbMin && bbMin <= bbMax,
      s"occupancyAndCount: need 0 < bbMin=$bbMin <= bbMax=$bbMax")
    val rows = occupancyTable(fine, 0 +: (bbMin to bbMax))
      .collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
    (rows.filter(_._1 > 0).map(r => (r._1, r._3)).toSeq,
      rows.find(_._1 == 0).map(_._2).getOrElse(0L))
  }

  /** O(delta) END-TO-END LSM update — [[updateKnnGraph]]'s sidecar
    * plus the drift verdict, with every base-proportional pass
    * replaced by PERSISTED snapshot artifacts (the round-15 verdict's
    * What's-wrong #1: re-sketching base ∪ delta per batch paid an
    * O(base∪delta) pass for the bucket index and a second for the
    * occupancy histogram). Bucket membership of an existing vector
    * never changes (fixed md5 hyperplanes), so both passes are
    * avoidable:
    *
    *   - `baseIndex` = the persisted (bucket, idCol, vecCol) bucket
    *     index of the base at `bucketBits` — v58's sharded store
    *     layout IS this frame; re-deriving it per batch was pure
    *     waste.
    *   - `baseHist` = the persisted fine histogram (fb, cnt) at
    *     `bbMax` ([[fineOccupancyHistogram]]) — additive, so the
    *     delta FOLDS in ([[foldOccupancyHistogram]]).
    *
    * Per delta batch the update then pays: ONE sketch pass over the
    * DELTA (its fine bucket and join bucket are mask-prefixes of the
    * same sketch — one kernel evaluation), a model-sized histogram
    * fold, the bucket equi-join of the delta's capped probes against
    * base∪delta index rows — with a hive-partitioned base store only
    * the probed bucket directories are read — and one collect for the
    * verdict and the total ([[occupancyAndCount]]). Nothing scans the
    * base corpus: at 100 TB with daily deltas this is the difference
    * between a maintenance job that reads the delta and one that
    * re-reads the store (SCALING.md measures the wall-time flat vs
    * base size).
    *
    * Equality contract (AnnSpec-pinned): the sidecar edges are
    * row-identical to [[updateKnnGraph]]'s over base ∪ delta — the
    * persisted index holds exactly the rows the re-sketch would
    * derive (deterministic sketch), and the salted join's group
    * counts derived from the folded histogram equal the
    * combined-index aggregation's. The drift verdict is likewise
    * identical to the one read from a re-sketched histogram: the
    * folded histogram IS the combined corpus's fine histogram.
    *
    * Returns (sidecar edges, folded fine histogram — persist it as
    * the next snapshot's `baseHist`, the delta's bucket-index rows
    * (idCol, vecCol, bucket) — append them to the persisted index
    * instead of re-sketching the delta with [[srpBucketIndex]],
    * row-identical by the mask-prefix property, the maintenance
    * verdict, the post-fold corpus total).
    */
  def updateKnnGraphIncremental(
      baseIndex: DataFrame, baseHist: DataFrame,
      delta: DataFrame, idCol: String,
      vecCol: String, bits: Int,
      bucketBits: Int, degree: Int,
      bbMin: Int, bbMax: Int,
      targetSizeBiased: Double = DefaultTargetSizeBiased,
      maxProbes: Int = DefaultMaxProbes,
      maxBucketGroup: Long = DefaultMaxBucketGroup)
      : (DataFrame, DataFrame, DataFrame, GraphMaintenance, Long) = {
    require(0 < bucketBits && bucketBits <= bbMax && bbMax <= bits,
      s"updateKnnGraphIncremental: need 0 < bucketBits=$bucketBits <= " +
        s"bbMax=$bbMax <= bits=$bits")
    // geometry guard: the fold ≡ from-scratch contract only holds when
    // the persisted artifacts were built at THESE widths — a stale or
    // wrong-width artifact would silently yield wrong salt counts,
    // candidates and drift verdicts. BOTH checks ride their frames as
    // inline raise_error projections (zero extra pass, zero extra
    // job): the histogram guard trips when the fold materializes —
    // still inside this call, before anything consumes wrong data —
    // where the previous eager driver-side agg paid one full Spark
    // round trip per trigger just to validate a model-sized frame.
    val checkedHist = baseHist.select(
      when(col("fb") < 0 || col("fb") >= (1L << bbMax),
        raise_error(concat(
          lit("updateKnnGraphIncremental: baseHist has fb="), col("fb"),
          lit(s" >= 2^$bbMax — the persisted fine histogram was " +
            "folded at a different width than bbMax; refusing to " +
            "fold"))).cast("long"))
        .otherwise(col("fb")).as("fb"),
      col("cnt"))
    // one sketch pass over the delta feeds BOTH derived frames: the
    // fine histogram bucket and the join bucket are prefixes of the
    // same planes (the AnnSpec mask-prefix gate)
    val deltaFine = delta.select(col(idCol), col(vecCol),
        graft.functions.HashFunctions.cosineLshBits(col(vecCol), bits)
          .bitwiseAND(lit((1L << bbMax) - 1)).as("fb"))
      .localCheckpoint()
    val deltaHist = deltaFine.groupBy("fb").agg(count(lit(1)).as("cnt"))
    val folded = foldOccupancyHistogram(checkedHist, deltaHist)
      .localCheckpoint() // model-sized; reused by counts AND verdict
    val bMask = lit((1L << bucketBits) - 1)
    val checkedBucket = when(
      col("bucket") < 0 || col("bucket") >= (1L << bucketBits),
      raise_error(concat(
        lit("updateKnnGraphIncremental: baseIndex bucket "),
        col("bucket"),
        lit(s" out of range for bucketBits=$bucketBits — the " +
          "persisted index was built at a different width")))
        .cast("long"))
      .otherwise(col("bucket"))
    val combinedIndex = baseIndex
      .select(col(idCol), col(vecCol), checkedBucket.as("bucket"))
      .unionByName(deltaFine.select(col(idCol), col(vecCol),
        col("fb").bitwiseAND(bMask).as("bucket")))
    val bucketCounts = folded
      .groupBy(col("fb").bitwiseAND(bMask).as("bucket"))
      .agg(sum("cnt").as("_bn"))
    val probes = srpProbeBucketsCapped(
      delta.select(col(idCol).as("src"), col(vecCol).as("_se")),
      "_se", bits, bucketBits, maxProbes)
    val scored = saltedBucketJoinWithCounts(probes, combinedIndex,
        idCol, bucketCounts, maxBucketGroup)
      .filter(col("src") =!= col(idCol))
      .select(col("src"), col(idCol),
        cosineSim(col(vecCol), col("_se")).as("score"))
    val sidecar = Search.topKPerQuery(scored, "src", idCol, degree)
      .select(col("src"), col(idCol).as("dst"))
    val deltaIdx = deltaFine.select(col(idCol), col(vecCol),
      col("fb").bitwiseAND(bMask).as("bucket"))
    val (occ, n) = occupancyAndCount(folded, bbMin, bbMax)
    (sidecar, folded, deltaIdx,
      maintenanceFromOcc(occ, bucketBits, targetSizeBiased), n)
  }

  /** NEAR-DUP COLLAPSE TIER for the graph build — the fix for the
    * residual cluster-core floor the SCALING sweeps name: at ANY
    * sketch width some vectors stay co-bucketed because no hyperplane
    * separates them (their difference projects below every plane's
    * margin — near-identical cluster cores), so max-|bucket| floors
    * out and the salt cap converts the excess into silent recall
    * loss. Those vectors are by construction NEAR-DUPLICATES, which
    * makes the dedup tier (t32/v32's discipline) the structural fix:
    * collapse them to one representative BEFORE the build and carry a
    * (member → rep) sidecar for result expansion.
    *
    * Scope and rule, stated exactly so an oracle can replay them: the
    * tier collapses within the FINE bucket only (bucket at `fineBits`
    * of the `bits`-plane sketch — precisely the set the sketch cannot
    * separate, which is what makes the pair join's blocking key the
    * floor itself: Σ|fine bucket|² work, guarded by
    * `maxBucketRows`). A row is KEPT iff it has no smaller same-bucket
    * id u with cosine(u, v) ≥ `tau` (so the keep set is a single
    * blocked join — no closure needed to decide it); each dropped
    * row's one-hop rep (its smallest qualifying u) is then resolved to
    * a FIXPOINT by pointer-jumping member → rep chains until every
    * rep_id is itself a kept id. The fixpoint matters for similarity
    * CHAINS (cos(1,2) ≥ τ, cos(2,3) ≥ τ, cos(1,3) < τ): one hop would
    * point 3 at the dropped row 2 and the sidecar would dangle —
    * 3 would vanish from a rep-built index with no kept stand-in.
    * Resolved reps give chains the standard transitive near-dup
    * semantics (a member's final rep may sit below τ of it directly;
    * it is reachable through ≥ τ hops — the same contract as t02's
    * connected-component dedup). Rep ids strictly decrease along a
    * chain, so jumping halves the unresolved chain length per round
    * and terminates in O(log chain) joins over the DUPLICATE subset
    * only (kept rows never re-enter the loop). Returns
    * (idCol, rep_id) for EVERY input row; rows with rep_id = id are
    * the representatives the build keeps, and every rep_id is one of
    * them.
    */
  def fineBucketNearDupReps(emb: DataFrame, idCol: String,
                            vecCol: String, bits: Int, fineBits: Int,
                            tau: Double,
                            maxBucketRows: Long = 100000L): DataFrame =
    nearDupRepsFromIndex(
      srpBucketIndex(emb, idCol, vecCol, bits, fineBits),
      idCol, vecCol, tau, maxBucketRows)

  /** The member → rep FIXPOINT loop shared by every tier form: kept
    * rows are their own reps; `members0` (idCol, rep_id) may point at
    * other dropped rows — pointer-jump until every rep_id is a kept
    * id (rep ids strictly decrease, so unresolved chain length halves
    * per join round, on the duplicate subset only).
    *
    * ONE Spark job per round: the hop join's checkpoint carries the
    * pre-hop unresolved count as an observed metric (a rep_id that
    * matched another dropped id ⇔ `_crep` non-null), so the loop
    * needs no separate count() self-join per round and no priming
    * checkpoint of `members0` — when the metric reads 0 the hop was
    * an identity map (every `_crep` null, coalesce kept each rep_id),
    * row-identical to its input. The round-18 shape paid 2R+2 jobs
    * for R chain rounds; this pays R+1. Caller contract: `members0`
    * must be cheap to re-evaluate (a filter/aggregation over already-
    * checkpointed frames — every call site qualifies), because the
    * first hop's self-join evaluates it on both sides of one job. */
  private def repFixpoint(kept: DataFrame, members0: DataFrame,
                          idCol: String): DataFrame = {
    var members = members0
    var unresolved = -1L
    while (unresolved != 0L) {
      val hop = members.select(col(idCol).as("_cid"),
        col("rep_id").as("_crep"))
      val obs = new org.apache.spark.sql.Observation()
      members = members.join(hop, col("rep_id") === col("_cid"), "left")
        .observe(obs, count(col("_crep")).as("unresolved"))
        .select(col(idCol),
          coalesce(col("_crep"), col("rep_id")).as("rep_id"))
        .localCheckpoint()
      unresolved = obs.get("unresolved").asInstanceOf[Long]
    }
    kept.unionByName(members)
  }

  /** The tier's blocked pair join ALONE: every same-fine-bucket pair
    * (m_id, n_id < m_id, cosine ≥ tauMin) — the SHARED pair relation
    * a τ-sweep derives every tighter keep set from (v79: the pair
    * work is paid ONCE at the loosest τ; each candidate τ is then a
    * filter + fixpoint over this frame, the way t63 prices the
    * Jaccard threshold over one pair artifact). Same guard and
    * blocking economics as [[fineBucketNearDupReps]]. */
  def fineBucketScoredPairs(emb: DataFrame, idCol: String,
                            vecCol: String, bits: Int, fineBits: Int,
                            tauMin: Double,
                            maxBucketRows: Long = 100000L): DataFrame = {
    val idx = srpBucketIndex(emb, idCol, vecCol, bits, fineBits)
    val guard = idx.groupBy("bucket").agg(count(lit(1)).as("_bn"))
      .agg(max("_bn").as("_mx"))
    val a = idx.select(col("bucket"), col(idCol).as("m_id"),
        col(vecCol).as("_m_vec"))
      .crossJoin(broadcast(guard))
      .filter(when(col("_mx") > maxBucketRows,
          raise_error(concat(
            lit("fineBucketScoredPairs: fine bucket of "), col("_mx"),
            lit(s" rows exceeds maxBucketRows=$maxBucketRows")))
          .cast("boolean"))
        .otherwise(lit(true)))
      .drop("_mx")
    val b = idx.select(col("bucket"), col(idCol).as("n_id"),
      col(vecCol).as("_n_vec"))
    a.join(b, Seq("bucket"))
      .filter(col("n_id") < col("m_id"))
      .select(col("m_id"), col("n_id"),
        cosineSim(col("_m_vec"), col("_n_vec")).as("sim"))
      .filter(col("sim") >= tauMin)
  }

  /** Keep set + rep fixpoint derived from a PRECOMPUTED scored pair
    * relation ([[fineBucketScoredPairs]]) at threshold `tau` ≥ the
    * relation's tauMin — row-identical to [[fineBucketNearDupReps]]
    * at the same τ (the one-hop rule and chains read ONLY qualifying
    * pairs, which the relation holds in full). */
  def nearDupRepsFromPairs(ids: DataFrame, pairs: DataFrame,
                           idCol: String, tau: Double): DataFrame = {
    val oneHop = pairs.filter(col("sim") >= tau)
      .groupBy(col("m_id").as(idCol))
      .agg(min(col("n_id")).as("rep_id"))
      .localCheckpoint()
    // kept rides lazily: a single anti-join over the checkpointed
    // one-hop map, folded into whatever job consumes the returned
    // frame instead of paying its own checkpoint round trip
    val kept = ids.select(col(idCol))
      .join(oneHop.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("rep_id", col(idCol))
    repFixpoint(kept, oneHop, idCol)
  }

  /** [[fineBucketNearDupReps]]'s core on an ALREADY-BUCKETED index
    * frame (idCol, vecCol, bucket) — factored out so the LSM update
    * ([[updateNearDupReps]]) can repair a crossing bucket by
    * recomputing exactly that bucket's rows without re-sketching. */
  private def nearDupRepsFromIndex(idx: DataFrame, idCol: String,
                                   vecCol: String, tau: Double,
                                   maxBucketRows: Long,
                                   guarded: Boolean = true): DataFrame = {
    // guarded=false: the caller PROVED the bound already (the crossing
    // repair runs on buckets the update's own guard just checked) —
    // the redundant Σ|bucket| aggregation subquery is skipped
    val aRaw = idx.select(col("bucket"), col(idCol).as("_m_id"),
      col(vecCol).as("_m_vec"))
    val a = if (!guarded) aRaw else {
      val guard = idx.groupBy("bucket").agg(count(lit(1)).as("_bn"))
        .agg(max("_bn").as("_mx"))
      aRaw
        .crossJoin(broadcast(guard))
        .filter(when(col("_mx") > maxBucketRows,
            raise_error(concat(
              lit("fineBucketNearDupReps: fine bucket of "), col("_mx"),
              lit(s" rows exceeds maxBucketRows=$maxBucketRows — the " +
                "floor this tier removes is bounded by construction; a " +
                "bucket this hot means the sketch width or corpus " +
                "changed"))).cast("boolean"))
          .otherwise(lit(true)))
        .drop("_mx")
    }
    val b = idx.select(col("bucket"), col(idCol).as("_n_id"),
      col(vecCol).as("_n_vec"))
    // materialize the Σ|bucket|² pair aggregation ONCE — kept and
    // members are cheap filters over the checkpointed frame (the
    // round-18 profile showed the two separate checkpoints each
    // re-running the full pair join: 2× the tier's dominant cost)
    val oneHop = a.join(b, Seq("bucket"), "left")
      .withColumn("_match",
        when(col("_n_id") < col("_m_id") &&
          cosineSim(col("_m_vec"), col("_n_vec")) >= tau, col("_n_id")))
      .groupBy(col("_m_id").as(idCol))
      .agg(coalesce(min(col("_match")), min(col("_m_id")))
        .as("rep_id"))
      .localCheckpoint()
    // fixpoint: only the dropped rows can chain, so the loop runs on
    // the duplicate subset ([[repFixpoint]])
    repFixpoint(
      oneHop.filter(col("rep_id") === col(idCol)),
      oneHop.filter(col("rep_id") =!= col(idCol)), idCol)
  }

  /** O(delta) LSM MAINTENANCE FOR THE NEAR-DUP TIER — the incremental
    * twin of [[fineBucketNearDupReps]], completing the tier's LSM
    * story (round-17 verdict item 1): v75/v76 build the tier on a
    * STATIC corpus, while every other index structure in the engine
    * maintains itself per delta batch (t31's Jaccard index, t47's
    * substring index, [[updateKnnGraphIncremental]]'s graph sidecar).
    * Without this, a delta batch containing near-dups of existing
    * reps has no O(delta) path into the (member → rep) sidecar and
    * the tier silently degrades into a rebuild-cadence artifact.
    *
    * Inputs are the store's persisted snapshot artifacts: `baseIndex`
    * = the fine-bucket index (idCol, vecCol, bucket at `fineBits`) of
    * EVERY existing row — kept AND dropped, because the keep rule
    * compares a new row against all smaller same-bucket ids, not just
    * kept ones — and `baseSidecar` = the existing (idCol, rep_id)
    * fixpoint (every rep_id a kept id; kept rows map to themselves).
    * Per delta batch the update pays: ONE sketch pass over the DELTA,
    * the fine-bucket equi-join of the delta's rows against base∪delta
    * index rows in the delta's buckets only (with a hive-partitioned
    * index store, only those bucket directories are read), and
    * O(log chain) pointer-jump joins over the delta's dropped subset.
    * Nothing rescans the base corpus.
    *
    * Equality contract (the t31 discipline, v78-gated): the updated
    * sidecar equals a FULL tier rebuild on base ∪ delta — keep set,
    * one-hop reps and chain fixpoints row-identical — in ALL cases,
    * including id-order CROSSINGS: a delta row with a SMALLER id than
    * an existing same-fine-bucket row at cos ≥ tau makes the rebuild
    * revisit that existing row's decisions (steal its rep-ness or
    * lower its one-hop minimum), so the append-only path cannot stay
    * exact there. The repair exploits the tier's structure: one-hop
    * reps are always FINE-BUCKET MATES, so rep chains never leave
    * their bucket, and a crossing can only invalidate decisions
    * INSIDE the crossing bucket — the update therefore recomputes
    * crossing buckets wholesale (the batch rule on just those
    * buckets' rows, existing ∪ delta: work Σ|bucket|², bounded by
    * `maxBucketRows` exactly like the batch tier) while crossing-free
    * buckets take the cheap append path. The crossing report is the
    * repair-mass METER (t31's maxDf-crossing discipline, upgraded
    * from refuse-to-answer to priced exactness): one row per crossing
    * pair (delta id, crossing_id = the larger existing id it
    * undercuts); under monotone ingest ids it is empty and the whole
    * update is the append path.
    *
    * Append-path chain resolution stays delta-proportional: a dropped
    * delta row's one-hop rep is either an existing id — resolved to a
    * kept id by ONE join through `baseSidecar` (already a fixpoint;
    * crossing-free buckets cannot change any existing row's chain) —
    * or a delta id, resolved by pointer-jumping within the delta's
    * own one-hop map (rep ids strictly decrease, so unresolved chain
    * length halves per join round, on the delta subset only).
    *
    * Returns (upsert rows (idCol, rep_id) — every delta row plus
    * every existing row of a repaired bucket; the caller replaces
    * by id: `baseSidecar anti-join upserts on id, union upserts` —
    * with a bucket-partitioned sidecar store only crossing-bucket
    * partitions rewrite — and crossing pairs (idCol, crossing_id)).
    */
  def updateNearDupReps(baseIndex: DataFrame, baseSidecar: DataFrame,
                        delta: DataFrame, idCol: String,
                        vecCol: String, bits: Int, fineBits: Int,
                        tau: Double,
                        maxBucketRows: Long = 100000L)
      : (DataFrame, DataFrame) = {
    val deltaIdx = srpBucketIndex(
        delta.select(col(idCol), col(vecCol)), idCol, vecCol, bits,
        fineBits)
      .localCheckpoint()
    // work guard, scoped to the buckets this delta actually touches:
    // combined |bucket| there stays under maxBucketRows or the update
    // refuses loudly (the same bound the batch tier enforces — the
    // floor being removed is bounded by construction)
    val touched = deltaIdx.select("bucket").distinct()
    val guard = baseIndex.join(touched, Seq("bucket"), "left_semi")
      .select("bucket")
      .unionByName(deltaIdx.select("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("_bn"))
      .agg(coalesce(max("_bn"), lit(0L)).as("_mx"))
    // geometry guard on the persisted index (the
    // updateKnnGraphIncremental convention): a bucket outside
    // [0, 2^fineBits) means the artifact was built at another width
    val checkedBucket = when(
      col("bucket") < 0 || col("bucket") >= (1L << fineBits),
      raise_error(concat(
        lit("updateNearDupReps: baseIndex bucket "), col("bucket"),
        lit(s" out of range for fineBits=$fineBits — the persisted " +
          "index was built at a different width"))).cast("long"))
      .otherwise(col("bucket"))
    val a = deltaIdx.select(col("bucket"), col(idCol).as("_m_id"),
        col(vecCol).as("_m_vec"))
      .crossJoin(broadcast(guard))
      .filter(when(col("_mx") > maxBucketRows,
          raise_error(concat(
            lit("updateNearDupReps: combined fine bucket of "),
            col("_mx"),
            lit(s" rows exceeds maxBucketRows=$maxBucketRows — " +
              "schedule the tier rebuild instead"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("_mx")
    val bExist = baseIndex
      .select(checkedBucket.as("bucket"), col(idCol).as("_n_id"),
        col(vecCol).as("_n_vec"), lit(true).as("_ex"))
    val bDelta = deltaIdx.select(col("bucket"), col(idCol).as("_n_id"),
      col(vecCol).as("_n_vec"), lit(false).as("_ex"))
    // the checkpoint keeps ONLY the pair decision columns: both d-dim
    // vectors are consumed by the cosine right here, and no consumer
    // below reads them — materializing them too cloned every pair
    // row's two embeddings into the checkpoint (measured r19: the
    // cand checkpoint was the single largest item of the v78 profile)
    val cand = a.join(bExist.unionByName(bDelta), Seq("bucket"), "left")
      .select(col("bucket"), col("_m_id"), col("_n_id"), col("_ex"),
        cosineSim(col("_m_vec"), col("_n_vec")).as("_sim"))
      .localCheckpoint()
    val crossings = cand
      .filter(col("_ex") && col("_n_id") > col("_m_id") &&
        col("_sim") >= tau)
      .select(col("bucket"), col("_m_id").as(idCol),
        col("_n_id").as("crossing_id"))
      .localCheckpoint()
    // crossing buckets: append-only would diverge from the rebuild
    // there — recompute them wholesale below (chains never leave
    // their fine bucket, so the repair is exactly bucket-local).
    // Derived lazily from the checkpointed crossings: the two
    // broadcast consumers each re-run a tiny distinct, cheaper than
    // a third checkpoint round trip per update
    val crossBuckets = crossings.select("bucket").distinct()
    val oneHop = cand
      .join(broadcast(crossBuckets), Seq("bucket"), "left_anti")
      .withColumn("_match",
        when(col("_n_id") < col("_m_id") && col("_sim") >= tau,
          col("_n_id")))
      .groupBy(col("_m_id").as(idCol))
      .agg(coalesce(min(col("_match")), min(col("_m_id")))
        .as("rep_id"))
    // kept and members ride lazily over the checkpointed cand — the
    // fixpoint's first hop materializes members (and its pre-hop
    // unresolved count rides that same job, see repFixpoint); kept
    // folds into whatever consumes the returned rows. Existing ids
    // are fixpoints after resolveBase (the base sidecar is already a
    // fixpoint; crossing-free buckets cannot change an existing row's
    // chain), so only dropped DELTA ids can still chain.
    val kept = oneHop.filter(col("rep_id") === col(idCol))
    val baseMap = baseSidecar
      .select(col(idCol).as("_bid"), col("rep_id").as("_brep"))
    def resolveBase(m: DataFrame): DataFrame =
      m.join(baseMap, m("rep_id") === col("_bid"), "left")
        .select(m(idCol),
          coalesce(col("_brep"), m("rep_id")).as("rep_id"))
    val resolved = repFixpoint(kept,
      resolveBase(oneHop.filter(col("rep_id") =!= col(idCol))), idCol)
    // the repair: every row (existing ∪ delta) of a crossing bucket,
    // recomputed by the batch rule — identical to the rebuild on
    // those buckets because the rule and chains are bucket-local
    val repairIdx = baseIndex
      .select(checkedBucket.as("bucket"), col(idCol), col(vecCol))
      .unionByName(deltaIdx.select(col("bucket"), col(idCol),
        col(vecCol)))
      .join(broadcast(crossBuckets), Seq("bucket"), "left_semi")
    // guarded=false: crossing buckets ⊆ this update's touched buckets,
    // whose combined sizes the guard above already bounded
    val repaired = nearDupRepsFromIndex(repairIdx, idCol, vecCol, tau,
      maxBucketRows, guarded = false)
    (resolved.unionByName(repaired),
      crossings.select(col(idCol), col("crossing_id")))
  }

  /** COUNT of the multiset symmetric difference — row-identical to
    * `a.exceptAll(b).unionByName(b.exceptAll(a)).count()` (each group
    * contributes |cntA − cntB| rows) in ONE shuffle instead of the
    * four the two exceptAll anti-joins pay. The equality gates
    * (v78's sidecar-vs-rebuild, served-top10 diffs) call this on
    * every accretion step, so the fixed per-shuffle overhead is paid
    * per GATE, not per direction. */
  def symDiffCountAll(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq.map(col)
    a.withColumn("_sd", lit(1L))
      .unionByName(b.withColumn("_sd", lit(-1L)))
      .groupBy(cols: _*).agg(sum(col("_sd")).as("_d"))
      .agg(coalesce(sum(abs(col("_d"))), lit(0L)))
      .head().getLong(0)
  }

  /** COUNT of the SET symmetric difference — row-identical to
    * `a.except(b).unionByName(b.except(a)).count()` (groups present
    * on exactly one side), one shuffle (s27's stream-vs-batch edge
    * diff). */
  def symDiffCountDistinct(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq.map(col)
    a.withColumn("_sd", lit(1L))
      .unionByName(b.withColumn("_sd", lit(2L)))
      .groupBy(cols: _*)
      .agg(bit_or(col("_sd")).as("_m"))
      .filter(col("_m") =!= 3L)
      .count()
  }
}
