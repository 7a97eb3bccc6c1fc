package graft.operators

import graft.expressions.{PqAdcDistance, PqEncode, PqTables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): split each vector into `m`
  * subvectors, vector-quantize each subspace against its own small
  * codebook (k centroids, one byte-ish code per subspace), and answer
  * queries with ASYMMETRIC distance — the query stays exact, each
  * stored vector is represented by its codes, and per-candidate
  * distance is m table lookups into a per-query LUT.
  *
  * Why it matters at 100 TB: a 64-dim float32 embedding is 256 B; its
  * PQ codes at m=8 are 8 SMALL ints — a 30×+ index-memory cut that
  * composes with IVF cell routing ([[Ann]]) into the classic IVF-PQ
  * layout. The reference holds raw vectors in a JS array
  * (server.js:37-43) — this is the path that replaces it at scale.
  *
  * The codebooks are m×k×(dim/m) floats — a few KiB — trained with
  * seeded MLlib k-means per subspace and carried driver-side into two
  * kernel expressions (encode, ADC distance); both ship to executors as
  * part of the serialized expression, the moral equivalent of a
  * broadcast of a tiny model.
  */
object Pq {

  /** codebooks(j)(c) = centroid c of subspace j, length dim/m. */
  case class PqModel(dsub: Int, codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks(0).length
  }

  /** Train per-subspace codebooks with JOINT Lloyd's iterations: the
    * training vectors are exploded once into (id, subspace, subvector)
    * rows, and every iteration refines ALL m codebooks in one
    * assignment + one re-centering pass — one Spark job per iteration,
    * versus m sequential MLlib fits each with their own init/iterate
    * jobs (measured 3-4× slower end-to-end for m=8). Per-iteration
    * model state (m×k×dsub floats, a few KiB) rides as a literal.
    *
    * Deterministic: init = the subvectors of the k lowest-id training
    * rows; assignment ties break to the lower code; re-centered means
    * are rounded to 1e-6 so distributed-sum order noise (~1e-15) can
    * never flip a later assignment. Empty clusters keep their previous
    * center.
    */
  def trainCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                     m: Int, k: Int, maxIter: Int = 8,
                     trainPartitions: Int = 0): PqModel = {
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    // Partition count for the persisted training frame: the k-means
    // loop runs maxIter sequential collect jobs, so at the sampled-
    // train-split sizes the gated queries use (hundreds of vectors ×
    // m subvector rows — KBs), full-width task scheduling dominates
    // compute (the v41 per-iteration overhead) and a handful of
    // partitions wins — the default. Corpus-scale training passes
    // trainPartitions explicitly (≈ trainRows × m / 50k, capped at
    // cluster parallelism) — parallelism is a knob, not a constant;
    // deriving it here would cost a count job per call, the very
    // fixed overhead the default exists to avoid.
    val nParts = if (trainPartitions > 0) trainPartitions else 4
    val subRows = emb.select(col(idCol),
        explode(array((0 until m).map { j =>
          struct(lit(j).as("j"),
            slice(col(vecCol), j * dsub + 1, dsub).cast("array<double>")
              .as("sv"))
        }: _*)).as("e"))
      .select(col(idCol), col("e.j").as("j"), col("e.sv").as("sv"))
      .repartition(nParts)
      .persist()
    try {
      // init: subvectors of the k lowest-id rows, one per code
      val initRows = emb.orderBy(col(idCol)).limit(k)
        .select(col(vecCol).cast("array<double>")).collect()
        .map(_.getSeq[Double](0))
      require(initRows.length >= k,
        s"need at least $k training vectors, got ${initRows.length}")
      var centers: Seq[Seq[Seq[Double]]] = (0 until m).map { j =>
        initRows.toSeq.map(v => v.slice(j * dsub, (j + 1) * dsub))
      }
      for (_ <- 1 to maxIter) {
        // assignment via the native PqSubAssign kernel — bit-identical
        // arithmetic to the posexplode + zip_with/aggregate + min_by
        // formulation it replaced (same subtraction/squaring/i-order,
        // ties to the lower code), but the k-way scan runs in a while
        // loop per subrow instead of k interpreted-lambda rows
        // (measured ~50× on the 160× d=1536 training frames; models
        // trained either way are equal to the last bit)
        val cenArr = centers.map(_.map(_.toArray).toArray).toArray
        val assigned = subRows
          .select(col("j"),
            Bridge.column(graft.expressions.PqSubAssign(
              Bridge.expression(col("j")), Bridge.expression(col("sv")),
              cenArr)).as("c"),
            col("sv"))
        val means = assigned
          .select(col("j"), col("c"), posexplode(col("sv"))
            .as(Seq("pos", "v")))
          .groupBy("j", "c", "pos")
          .agg(avg("v").as("mean"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
            math.rint(r.getDouble(3) * 1e6) / 1e6))
          .groupBy { case (j, c, _, _) => (j, c) }
        centers = (0 until m).map { j =>
          (0 until k).map { c =>
            means.get((j, c))
              .map(_.sortBy(_._3).map(_._4).toSeq)
              .getOrElse(centers(j)(c)) // empty cluster: keep old center
          }
        }
      }
      PqModel(dsub,
        centers.map(_.map(_.map(_.toFloat).toArray).toArray).toArray)
    } finally subRows.unpersist()
  }

  /** The PqEncode kernel as a column — single construction point for
    * both the flat and the IVF-PQ index builders. */
  private def encodeCol(vecCol: String, model: PqModel): Column =
    Bridge.column(PqEncode(Bridge.expression(col(vecCol)),
      model.dsub, model.codebooks))

  /** (idCol, codes) — codes(j) = argmin_c L2(subvector_j, codebook_j_c),
    * ties to the lower code. One narrow kernel pass; the input fans
    * out across cores first ([[Kernels.fanOut]] — a one-file corpus
    * scan would run the m·k argmin kernel on a single core).
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             model: PqModel): DataFrame =
    Kernels.fanOut(emb)
      .select(col(idCol), encodeCol(vecCol, model).as("codes"))

  /** Approximate squared-L2 distance of every encoded vector to `query`
    * via the per-query lookup table: LUT(j)(c) = ||query_j − book_j_c||²,
    * per-row cost = m lookups. The query is a plain vector (endpoint
    * semantics — same as the reference's one query per request,
    * server.js:218); the LUT is computed once here, driver-side, and
    * ships inside the expression.
    */
  def adcDistance(codesCol: Column, query: Array[Float],
                  model: PqModel): Column =
    adcDistance(codesCol, query.map(_.toDouble), model)

  /** [[adcDistance]] for a DOUBLE query — the variant a TRANSFORMED
    * query arrives as ([[Opq.rotate]]'s 1e-6-rounded doubles): a float
    * round-trip would interpose a rounding step the SQL replay of the
    * rotation (which stays in double) could not reproduce.
    */
  def adcDistance(codesCol: Column, query: Array[Double],
                  model: PqModel): Column = {
    require(query.length == model.m * model.dsub,
      s"query dim ${query.length} != ${model.m}×${model.dsub}")
    // double end-to-end (see PqAdcDistance): widen BEFORE subtracting,
    // exactly as a SQL replay over the persisted float codebooks would
    Bridge.column(PqAdcDistance(Bridge.expression(codesCol),
      PqTables.l2Lut(query, model.codebooks)))
  }

  /** Approximate INNER PRODUCT ⟨query, reconstruction⟩ via per-subspace
    * LUT — the MIPS serving score (the metric anisotropic training
    * optimizes for, v68): lut(j)(c) = Σᵢ q(j·dsub+i)·ctr(i), score =
    * Σⱼ lut(j)(codes(j)). Double end-to-end, i-ascending — the
    * [[adcDistance]] portability contract at the other metric. Rank
    * DESCENDING (larger = closer), ties to the lower id.
    */
  def adcInnerProduct(codesCol: Column, query: Array[Double],
                      model: PqModel): Column = {
    require(query.length == model.m * model.dsub,
      s"query dim ${query.length} != ${model.m}×${model.dsub}")
    Bridge.column(PqAdcDistance(Bridge.expression(codesCol),
      PqTables.ipLut(query, model.codebooks)))
  }

  /** Top-k nearest by PQ asymmetric distance (ascending, ties to lower
    * id) — TakeOrderedAndProject over a narrow scan of the code table.
    */
  def search(encoded: DataFrame, idCol: String, query: Array[Float],
             model: PqModel, k: Int): DataFrame =
    encoded.select(col(idCol),
        adcDistance(col("codes"), query, model).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol))
      .limit(k)

  /** The production PQ shape: ADC shortlist of `shortlist` candidates
    * from the compressed codes, then EXACT re-rank of just those
    * against the raw vectors (fetched by broadcast semi-join — only the
    * shortlist's full vectors are ever touched). Recovers most of the
    * recall PQ compression loses while still scanning codes, not
    * floats.
    */
  def searchRerank(encoded: DataFrame, raw: DataFrame, idCol: String,
                   vecCol: String, query: Array[Float], model: PqModel,
                   shortlist: Int, k: Int): DataFrame =
    rerankExact(raw,
      search(encoded, idCol, query, model, shortlist).select(idCol),
      idCol, vecCol, queryLit(query), k)

  /** Query vector as a literal array<float> column. */
  private def queryLit(query: Array[Float]): Column =
    array(query.map(x => lit(x)).toIndexedSeq: _*)

  /** Exact top-k among `cands` (broadcast semi-join fetches only their
    * full vectors) — the shared rerank tail of [[searchRerank]] and
    * [[ivfPqSearch]]. Ascending L2, ties to the lower id.
    */
  private def rerankExact(raw: DataFrame, cands: DataFrame, idCol: String,
                          vecCol: String, qLit: Column, k: Int)
      : DataFrame = {
    import graft.functions.VectorFunctions.l2Dist
    raw.join(broadcast(cands), Seq(idCol))
      .select(col(idCol), l2Dist(col(vecCol), qLit).as("dist"))
      .orderBy(col("dist").asc, col(idCol))
      .limit(k)
  }

  /** (idCol, vecCol → x − reconstruct(encode(x))) — the residual a
    * SECOND quantization stage trains on and encodes (residual / RVQ
    * coding, Chen, Guan & Wang 2010; the additive family FAISS ships
    * as ResidualQuantizer). After stage 1 absorbs the coarse (cluster)
    * structure, the residual IS the per-vector fine structure — which
    * is why a stage-2 codebook resolves neighbors a single stage
    * collapses. One narrow kernel pass, no shuffle, no join: codes
    * come from [[PqEncode]] and the subtraction is the
    * [[graft.expressions.PqResidual]] kernel (primitive float books —
    * the boxed nested-Seq `typedlit` it replaces cost ~4 MiB of task
    * binary per stage at k = 128 / d = 1536). Arithmetic contract:
    * residual(i) = x(i) − center(i), both exact persisted values
    * widened to double — a SQL replay subtracting the same parquet
    * floats is bit-identical, no rounding step needed.
    */
  def residuals(emb: DataFrame, idCol: String, vecCol: String,
                model: PqModel): DataFrame =
    emb.select(col(idCol),
      Bridge.column(graft.expressions.PqResidual(
        Bridge.expression(col(vecCol)),
        Bridge.expression(encodeCol(vecCol, model)),
        model.dsub, model.codebooks)).as(vecCol))

  /** The `nProbe` cells nearest the query (ascending centroid distance,
    * ties to the lower cell id). */
  private def probeCells(centroids: DataFrame, qLit: Column,
                         nProbe: Int): DataFrame = {
    import graft.functions.VectorFunctions.l2Dist
    centroids
      .select(col("centroid_id"), l2Dist(col("centroid"), qLit).as("qd"))
      .orderBy(col("qd").asc, col("centroid_id"))
      .limit(nProbe)
      .select("centroid_id")
  }

  /** The classic IVF-PQ layout ([[Ann]] cell routing × PQ codes): the
    * index holds (id, centroid_id, codes); a query probes only its
    * `nProbe` nearest Voronoi cells, ADC-scans just those cells' CODES
    * for a shortlist, and exact-reranks the shortlist against raw
    * vectors. Three multiplicative prunings — cells (read 1/nlist-ish
    * of rows), codes (read ~30× fewer bytes per row), rerank (touch
    * full vectors only for `shortlist` rows). With the index
    * partitioned by centroid_id on disk the probe is partition pruning,
    * not a filter scan.
    */
  def ivfPqSearch(cellCodes: DataFrame, centroids: DataFrame,
                  raw: DataFrame, idCol: String, vecCol: String,
                  query: Array[Float], model: PqModel,
                  nProbe: Int, shortlist: Int, k: Int): DataFrame = {
    val qLit = queryLit(query)
    val cands = cellCodes
      .join(broadcast(probeCells(centroids, qLit, nProbe)),
        Seq("centroid_id"))
      .select(col(idCol),
        adcDistance(col("codes"), query, model).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol))
      .limit(shortlist)
      .select(idCol)
    rerankExact(raw, cands, idCol, vecCol, qLit, k)
  }

  /** [[ivfPqSearch]] with the probe resolved DRIVER-SIDE to a static
    * IN-list: the nProbe winning cell ids are collected (nProbe longs —
    * centroid-sized traffic, the same budget Pq training accepts) and
    * applied as a `centroid_id IN (...)` filter. On an index stored
    * partitioned by centroid_id ([[Ingest.writeStorePartitioned]])
    * that filter is STATIC partition pruning — the scan's
    * PartitionFilters, visible in the plan, and only the probed
    * directories are ever opened (PlanSpec asserts it on v26). The
    * join-shaped [[ivfPqSearch]] stays for probes computed inside a
    * larger plan; this is the serving shape for one query against a
    * partitioned store.
    */
  def ivfPqSearchPruned(cellCodes: DataFrame, centroids: DataFrame,
                        raw: DataFrame, idCol: String, vecCol: String,
                        query: Array[Float], model: PqModel,
                        nProbe: Int, shortlist: Int, k: Int): DataFrame = {
    val qLit = queryLit(query)
    val probed = probeCells(centroids, qLit, nProbe)
      .collect().map(_.getLong(0))
    val cands = cellCodes
      .filter(col("centroid_id").isin(probed: _*))
      .select(col(idCol),
        adcDistance(col("codes"), query, model).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol))
      .limit(shortlist)
      .select(idCol)
    rerankExact(raw, cands, idCol, vecCol, qLit, k)
  }

  /** BATCHED IVF-PQ serving — the production request shape the
    * single-query paths above don't cover: Q queries arrive together
    * and share ONE scan of the cell-coded index through one routing
    * join, instead of Q sequential plans re-reading the index. The
    * pieces:
    *
    *  - per-query LUTs ride in a Q-row broadcast frame as literal
    *    `array<array<double>>` columns (Q·m·k doubles — request-batch
    *    sized, the same driver budget the single-query LUT accepts),
    *    and the ADC sum runs through builtin `zip_with`/`aggregate`
    *    (codegen'd, no UDF): adc = Σ_j lut[j][codes[j]];
    *  - the probe is an in-plan window over centroids × queries
    *    (Q·nlist rows — a kilobyte exchange);
    *  - the ONLY corpus-scale exchange is the per-query shortlist
    *    window, hash-partitioned by query id and executed as a
    *    WindowGroupLimit heap (rank ≤ shortlist pushes down);
    *  - rerank fetches full vectors for the Q·shortlist survivors via
    *    a broadcast join and the final top-k window moves Q·shortlist
    *    rows.
    *
    * At 1000 executors the index scan cost is paid once per BATCH, not
    * once per query — the throughput difference between serving and
    * re-planning. PlanSpec pins the exchange structure; the oracle
    * replays every step per query id (v22's CTEs parameterized).
    */
  def ivfPqSearchBatch(cellCodes: DataFrame, centroids: DataFrame,
                       raw: DataFrame, idCol: String, vecCol: String,
                       queries: Seq[(Long, Array[Float])], model: PqModel,
                       nProbe: Int, shortlist: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.l2Dist
    import org.apache.spark.sql.expressions.Window
    val spark = cellCodes.sparkSession
    import spark.implicits._
    queries.foreach { case (qid, qv) =>
      require(qv.length == model.m * model.dsub,
        s"query $qid dim ${qv.length} != ${model.m}×${model.dsub}") }
    // LUT(j)(c) = ||query_j − book_j_c||², widened to double BEFORE
    // subtracting — bit-identical to the single-query adcDistance and
    // to the oracle's replay over the persisted float codebooks
    val qFrame = queries.map { case (qid, qv) =>
      (qid, qv.toSeq,
        PqTables.l2Lut(qv.map(_.toDouble), model.codebooks).toSeq
          .map(_.toSeq))
    }.toDF("query_id", "qe", "lut").localCheckpoint()
    val probes = centroids
      .crossJoin(broadcast(qFrame.select("query_id", "qe")))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(l2Dist(col("centroid"), col("qe")).asc,
            col("centroid_id"))))
      .filter(col("_rn") <= nProbe)
      .select("query_id", "centroid_id")
    val scored = cellCodes
      .join(broadcast(probes), Seq("centroid_id"))
      .join(broadcast(qFrame.select("query_id", "lut")), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        aggregate(
          zip_with(col("codes"), col("lut"),
            (c, lutRow) => element_at(lutRow, c + 1)),
          lit(0.0), (acc, x) => acc + x).as("adc_dist"))
    val short = scored
      .withColumn("_rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("adc_dist").asc, col(idCol))))
      .filter(col("_rk") <= shortlist)
      .select("query_id", idCol)
    raw.join(broadcast(short), Seq(idCol))
      .join(broadcast(qFrame.select("query_id", "qe")), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        l2Dist(col(vecCol), col("qe")).as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dist").asc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("dist"))
  }

  /** Build the IVF-PQ index frame: (idCol, centroid_id, codes [,
    * carryCols…]) — one cell-assignment pass, codes projected in the
    * same narrow stage. Write it partitioned by centroid_id
    * ([[Ingest.writeStorePartitioned]]) and the probe becomes directory
    * pruning.
    *
    * `carryCols` copies metadata columns (label, lang, source…) INTO
    * the index rows — the attribute-carrying layout filtered vector
    * search needs: a metadata predicate then applies directly on the
    * index scan (pushed to parquet on a stored index) instead of a
    * per-query join against the metadata table.
    */
  def buildIvfPqIndex(emb: DataFrame, centroids: DataFrame,
                      idCol: String, vecCol: String, model: PqModel,
                      carryCols: Seq[String] = Nil): DataFrame = {
    val base = Ann.ivfAssign(emb, centroids, idCol, vecCol)
      .select(col(idCol), col("centroid_id"),
        encodeCol(vecCol, model).as("codes"))
    if (carryCols.isEmpty) base
    else base.join(emb.select(idCol, carryCols: _*), Seq(idCol))
  }
}
