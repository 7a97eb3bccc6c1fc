package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: `explain("formatted")` for the headline
  * queries, with a note on why each plan is the one we want at scale.
  * Run: sbt "runMain graft.PlansDump [sfDir]"
  */
object PlansDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("ERROR")

    val picks: Seq[(String, String)] = Seq(
      "v01_knn_topk" ->
        ("Flagship k-NN: the scored projection is a narrow codegen'd map " +
          "over the index scan; global top-k is TakeOrderedAndProject " +
          "(per-partition heaps + driver merge of k·P rows) — no shuffle " +
          "of the scored set, so it scales with partition count."),
      "v05_batch_search" ->
        ("Batched search: queries broadcast (BroadcastNestedLoopJoin), " +
          "one exchange keyed by query id for the ranking window — the " +
          "only shuffle, sized by AQE."),
      "r01_pricing_summary" ->
        ("Scan-heavy aggregate: shipdate filter is pushed to parquet " +
          "(PushedFilters), unused columns pruned (ReadSchema), partial " +
          "aggregation before the single exchange."),
      "r02_revenue_by_segment" ->
        ("Fact-to-dim join: customer broadcast, orders never shuffled."),
      "r17_big_join" ->
        ("Large-large join: both sides exchange-partitioned on orderkey " +
          "— the shape that survives when neither side broadcasts; AQE " +
          "coalesces post-shuffle partitions."),
      "t05_minhash_lsh" ->
        ("LSH candidate pairs: signatures cached (InMemoryRelation) so " +
          "the band self-join reads them once; join key is (band, " +
          "16-byte md5 bucket)."),
      "i01_hash_embed" ->
        ("Embedding: single-pass HashEmbed kernel in a narrow projection " +
          "— embarrassingly parallel, no shuffle before the relational " +
          "bucket view."),
      "r19_range_join" ->
        ("Bucketed range join: the interval side explodes to its " +
          "overlapped buckets and BROADCASTS (20 promo windows); the " +
          "point side is a pushed-down narrow scan — a raw BETWEEN " +
          "theta join would be a nested loop over every lineitem."),
      "v13_hybrid_rrf" ->
        ("Hybrid RRF at production depth: each ranking is cut to " +
          "TakeOrderedAndProject(depth) BEFORE the single-partition " +
          "ranking window, so the one-task stage sees ≤ 1000 rows " +
          "regardless of corpus size; fusion is a hash-agg on doc_id."),
      "v15_quantized_knn" ->
        ("Quantized k-NN: Int8Quantize + cosine are one narrow codegen " +
          "stage over the scan (scale cancels — no dequantize); " +
          "TakeOrderedAndProject global top-k, zero shuffles of the " +
          "scored set."),
      "v19_filtered_knn" ->
        ("Filtered search: the metadata predicate reaches PushedFilters " +
          "on the parquet scan — rows the filter rejects are never " +
          "materialized, then the usual narrow scoring + " +
          "TakeOrderedAndProject."),
      "v17_range_search" ->
        ("Range search: broadcast-project-FILTER — no sort, no top-k " +
          "state, no shuffle of the scored set; output bounded by " +
          "selectivity, cost is exactly one scan at any corpus size."),
      "r24_exists_subquery" ->
        ("Correlated subqueries DECORRELATED by Catalyst: the scalar " +
          "per-nation average becomes an aggregate + join, the EXISTS " +
          "a LeftSemi join — no per-row re-execution anywhere."),
      "r27_full_outer" ->
        ("Full outer join: both sides must be preserved so neither can " +
          "broadcast — shuffled sort-merge on the key, partial " +
          "aggregation on both inputs before the join."),
      "r31_bloom_join" ->
        ("Bloom-prefiltered join: the sketch probe is a narrow filter ON " +
          "the lineitem scan (before any exchange), so rows that cannot " +
          "match never reach the join — the explicit form of AQE's " +
          "runtime bloom filter; the exact join then removes the false " +
          "positives."),
      "r33_market_share" ->
        ("Widest join tree (6 joins): lineitem⨝orders is the one " +
          "shuffled large-large join; customer-region and supplier-" +
          "nation hops are BroadcastHashJoins — numerator and " +
          "denominator of the share fall out of one conditional " +
          "aggregation pass."),
      "t22_decontaminate" ->
        ("Decontamination: the EVAL side (distinct shingles) is the only " +
          "thing broadcast; the corpus pays one narrow shingle-kernel " +
          "pass and one doc-keyed aggregate — the 100 TB side is never " +
          "shuffled for the probe join."),
      "v20_srp_shortlist" ->
        ("SRP fast-scan: a narrow sketch projection feeds TWO chained " +
          "TakeOrderedAndProject heaps (hamming shortlist, then exact " +
          "rerank) — the scored set is never shuffled, and the exact " +
          "cosine kernel only ever sees the 50-row shortlist."),
      "t19_surprisal" ->
        ("Corpus-LM surprisal: vocabulary aggregate + token join " +
          "(AQE splits stop-word skew) + per-doc aggregate; the corpus " +
          "total comes from the count that materializes the persisted " +
          "token frame, folded in as a literal."),
      "i10_assign_ids_dist" ->
        ("Distributed id assignment: range-repartition by content " +
          "(persisted — one materialized layout for both jobs), " +
          "per-partition row_number (Window keyed by the REAL partition " +
          "id, never a global window), broadcast prefix-offset join — " +
          "no task ever holds the whole batch."),
      "v22_ivfpq_search" ->
        ("IVF-PQ serving layout: probed cells arrive as a broadcast " +
          "semi-join (partition pruning once the index is written " +
          "partitioned by cell), the ADC scan reads CODES only " +
          "(narrow kernel over array<int>), and full vectors are " +
          "fetched by broadcast semi-join for the 50-row shortlist " +
          "alone — three multiplicative prunings in one plan."),
      "v23_knn_graph" ->
        ("k-NN graph: the SRP bucket SELF-join — both sides are narrow " +
          "sketch projections meeting in an equi-join on the bucket " +
          "key, so each vector scores only its probed fraction of the " +
          "corpus (never n²·d), and per-vector top-k runs as " +
          "WindowGroupLimit heaps inside one query-keyed shuffle."),
      "t32_semantic_dedup" ->
        ("Semantic dedup: broadcast centroid argmin (map-side-combining " +
          "min_by) assigns clusters; the pair scan is ONE self-join " +
          "equi-keyed on centroid_id (cluster-local, Σ|cluster|² with " +
          "k ∝ n), and the keep-first rule is a LeftSemi with the " +
          "cosine threshold as join condition — no cartesian anywhere."),
      "t33_classifier_filter" ->
        ("Classifier filter: the class means broadcast; per-row argmax " +
          "is min_by over (−cos, cls) — partial-aggregated map-side so " +
          "the exchange moves one row per vector. Scoring 100 TB is " +
          "this narrow map; s11 runs the same column over readStream " +
          "with the model as a literal."),
      "t34_substring_spans" ->
        ("Exact-substring spans: the positional-shingle index meets " +
          "itself in an equi-join on the 60-bit hash (postings-bounded " +
          "by the df cap — Σ df², never all-pairs); run merging is a " +
          "gaps-and-islands window partitioned by (pair, alignment) — " +
          "pair-local, no global sort over the corpus."),
      "t37_curation_v2" ->
        ("Curation funnel: one plan chains broadcast-joined metadata " +
          "filters, the cluster-local semantic-dedup semi-join, and " +
          "the doc-local span-removal anti-join — each stage narrows " +
          "the next stage's input, and the only shuffles are keyed on " +
          "cluster id and document id."),
      "t38_cms_heavy" ->
        ("Frequency sketch: the corpus-side pass is a narrow explode " +
          "into a FIXED-size hash aggregate (3×1024 cells, map-side " +
          "partials — the exchange carries cells, not tokens); the " +
          "probe joins a BROADCAST of the sketch, so the corpus is " +
          "never shuffled for the estimate."),
      "i15_zorder_layout" ->
        ("Layout scorecard: three narrow scans of the scaled coords " +
          "feed three 256-row bbox rollups (two-level hash aggregates, " +
          "map-side partials) — no sort, no window, no exchange wider " +
          "than the bucket count: evaluating a layout costs a scan."),
      "t42_bloom_decontaminate" ->
        ("Bloom decontamination: the corpus pays ONE exchange (the " +
          "doc_id spread) and BOTH later aggregates reuse it — the " +
          "per-(doc,shingle) membership fold and the per-doc rollup " +
          "run exchange-free, since doc_id partitioning satisfies any " +
          "grouping containing it. Both probe structures broadcast " +
          "(256 Bloom words; the exact eval set) — the corpus never " +
          "shuffles for either membership test."),
      "t43_shard_export" ->
        ("Shard export: one hash exchange on the shard key, per-shard " +
          "sort + row_number INSIDE each partition (Window with a " +
          "partition spec — never a global sort), manifest rollup in " +
          "place; the deterministic shuffle of a 100 TB corpus costs " +
          "exactly one data movement."),
      "i17_zorder_store" ->
        ("Applied z-order: the store read back is a hive-partitioned " +
          "scan whose per-file stats the query itself aggregates (one " +
          "two-level hash aggregate keyed by the zb directory value); " +
          "the write side routed each z-prefix bucket to exactly one " +
          "task via repartition(zb) — deterministic file boundaries, " +
          "no RangePartitioner sampling pass."),
      "t47_incremental_substr" ->
        ("Incremental ExactSubstr: both updates read the BASE index " +
          "as ExistingRDD (localCheckpointed artifact — no re-shingle " +
          "of the corpus); per-update work is the delta's shingles, a " +
          "broadcast semi-join pruned read of touched rows, and a " +
          "pair-local window — every frame delta-sized and " +
          "materialized, so the plan depth stays bounded across " +
          "updates."),
      "t48_simhash_groups" ->
        ("Group-level simhash: ONE hash aggregate collapses identical " +
          "fingerprints before the pigeonhole self-join, so the join " +
          "runs over distinct fingerprints (bounded fan-out even on " +
          "template-heavy corpora) and the quadratic intra-group mass " +
          "is a filter over the persisted group frame — no join at " +
          "all."),
      "v30_ref_ivfpq" ->
        ("Reference-geometry IVF-PQ: the trained model rides the " +
          "projection as literals (codebooks are KB-scale), the probe " +
          "set broadcasts, ADC is a narrow codegen'd map over the " +
          "probed cells only, and the exact rerank touches the " +
          "shortlist — at d=1536 the full vectors are read once for " +
          "50 rows, not the corpus."),
      "v33_batched_ivfpq" ->
        ("Batched IVF-PQ serving: EIGHT queries share one scan of the " +
          "cell-coded index — probes and per-query LUTs join in as " +
          "BROADCASTS, ADC is a builtin zip_with/aggregate projection " +
          "(codegen, no UDF), and the per-query shortlist/top-k " +
          "windows execute as WindowGroupLimit heaps; the only " +
          "corpus-scale exchange is the shortlist hash by query id — " +
          "the scan is paid per batch, not per query."),
      "t49_image_phash" ->
        ("Pixel decode + perceptual hash: PNG encode, ImageIO decode, " +
          "block-mean resample and both hashes all live in ONE narrow " +
          "typed-mapPartitions stage over the document scan — no " +
          "exchange until the final 60-row orderBy; at 100 TB only " +
          "the 16-byte hash rows leave the media scan."),
      "t52_dsir_select" ->
        ("DSIR importance resampling: the corpus is tokenized ONCE " +
          "into a persisted per-(doc,bucket) count frame; the fitted " +
          "model (≤1024 buckets) folds off that frame map-side and " +
          "re-enters as a BROADCAST — the corpus never shuffles for " +
          "scoring. Integer micro-unit weights keep the doc scores " +
          "exact under any partial-agg order, and the final top-k is " +
          "a TakeOrdered heap, not a sort."),
      "t53_lm_perplexity" ->
        ("Perplexity terciles: the bigram stream persists once and " +
          "feeds three partial-agg count models plus the scoring " +
          "re-join (sort-merge equi-joins, AQE-splittable skew); " +
          "tercile ranks come from repartitionByRange + per-PARTITION " +
          "row_number + a partition-count-sized offset broadcast (the " +
          "i10 distributed-id pattern) — ntile semantics with no " +
          "single-partition window anywhere in the plan."),
      "v36_triplet_mining" ->
        ("Contrastive triplet mining: both per-anchor argmaxes " +
          "(positive and hard negative) are conditional min(struct) " +
          "aggregates in ONE groupBy — partial_min combines map-side " +
          "before the only exchange; no per-anchor window ever " +
          "buffers an anchor's full candidate list. The all-pairs " +
          "frame is the GUARDED exact baseline; v44 feeds the same " +
          "aggregate from the SRP bucket equi-join."),
      "v44_triplet_shortlist" ->
        ("Shortlist-fed triplet mining: candidates come from the " +
          "multi-probe SRP bucket SELF-join (sum-|bucket|-squared " +
          "work, equi-join on the bucket key — no cartesian " +
          "anywhere, PlanSpec-pinned), then the identical " +
          "conditional-min argmax aggregate as v36."),
      "v43_graph_ann" ->
        ("Graph-ANN serving: each beam round is a point-lookup " +
          "equi-join of a beam-sized id frame against the persisted " +
          "graph and vector stores — no corpus scan, no corpus " +
          "shuffle; rounds bound total work and the visited set " +
          "stays beam*degree*rounds rows."),
      "v37_maxsim_search" ->
        ("Late-interaction MaxSim: the vocabulary embeds once " +
          "(distinct words, Zipf-sublinear), the query-token frame " +
          "and the qw×vocab similarity frame ride BROADCAST joins, " +
          "per-(doc, qtoken) maxes partially aggregate, and the " +
          "top-k is a TakeOrdered heap — corpus-scale work is the " +
          "distinct-(doc,word) projection plus one per-doc sum."),
      "v49_graph_compact" ->
        ("Compaction fold served as a MULTI-INDEX walk: the compacted " +
          "graph and the LSM base graph are two indexes of ONE " +
          "batched plan — every round joins on (index, node), so both " +
          "serving paths share 3 join rounds total; the delta scan, " +
          "merge and the three freshness numbers are stateless " +
          "projections over the two walks' outputs."),
      "v50_beam_sweep" ->
        ("Beam-width capacity sweep: four operating points walk as " +
          "ONE variable-beam batched plan (query_id = width, each " +
          "rank window cut at its own width) — the sweep costs " +
          "rounds-many equi-join stages, not widths x rounds, and " +
          "recall/nodes reduce per width in a final aggregate."),
      "v64_opq_recall" ->
        ("OPQ vs PQ at one code budget: the rotation is ONE narrow " +
          "MatVecRotateBcast projection (the matrix rides a cached " +
          "broadcast — no join, no shuffle to change basis), both " +
          "encodes are narrow kernel passes, the batched 8-query ADC " +
          "is a codes×LUT broadcast join, and the only corpus-scale " +
          "exchange is the per-query rank window. Distortion meters " +
          "join the n·m encoded assignments against the 16k-row " +
          "codebook — never the n·m·k explode."),
      "v66_residual_pq" ->
        ("Two-stage RQ serving: stage-1 codes, the residual (a second " +
          "narrow kernel+builtin pass), stage-2 codes, then ADC as " +
          "lookups into three plan-riding literal tables (l1, l2, " +
          "k1×k2 cross) — per-candidate cost is index arithmetic, no " +
          "d-wide float pass anywhere in the scoring plan; the three " +
          "top-10s are TakeOrderedAndProject heaps."),
      "v68_aniso_refdim" ->
        ("Anisotropic-vs-L2 training sweep: every rung's encode is one " +
          "narrow kernel pass (AnisoEncode / PqEncode — the codebooks " +
          "ride the expression), the MIPS scores are PqAdcDistance " +
          "lookups into per-rung plan-riding IP LUTs, the top-10s are " +
          "TakeOrderedAndProject heaps, and the residual meters are " +
          "narrow zip_with arithmetic + one aggregate per rung — no " +
          "corpus-scale shuffle anywhere but the final tiny unions."),
      "v69_occupancy_geometry" ->
        ("Occupancy-driven geometry planning: ONE corpus pass sketches " +
          "at the finest width and reduces to the fine histogram " +
          "(map-side combined groupBy, ≤2^bbMax rows); every candidate " +
          "width is a re-aggregation of that model-sized frame — the " +
          "18-width decision table costs one scan plus model-sized " +
          "work, which is what makes it a free snapshot-build step at " +
          "100 TB."),
      "v70_joint_aq" ->
        ("Joint-AQ rungs: each encode is one narrow kernel pass " +
          "(AqJointEncodeBcast's per-executor codebook tables — the k1×k2 " +
          "enumeration is index arithmetic inside the kernel, never a " +
          "plan-level join), query-ADC scores are literal-table " +
          "lookups, and the MSE meters are zip_with arithmetic over " +
          "the encoded frame — the only exchanges are the three " +
          "top-10 heaps and tiny unions."),
      "i20_mor_delete" ->
        ("Merge-on-read deletes: the tombstone snapshots resolve as " +
          "BROADCAST anti joins stacked on the base scan — the store " +
          "side never shuffles to apply a delete, and compaction " +
          "collapses the chain back to a plain parquet scan."),
      "i27_sqlite_scale_export" ->
        ("SQLite export round-trip (the plan shown is the re-read + " +
          "value-pinning side: one binaryFile scan → record parse → " +
          "narrow decode → a single grouped exchange on vec_id%8). " +
          "The write side that ran before it is two range-partitioned " +
          "mapPartitions passes — table pages by rowid, index pages " +
          "by content — with only a metadata prefix-sum on the " +
          "driver; the single-file byte stream at the end is the " +
          "format's own constraint, not a plan defect."),
      "v72_hist_fold_drift" ->
        ("O(delta) maintenance by histogram FOLD: per accretion step " +
          "the only corpus-shaped work is one narrow sketch pass over " +
          "the DELTA reduced map-side to its fine histogram; the fold " +
          "is a union of two model-sized frames + a groupBy, and every " +
          "candidate width re-aggregates the folded histogram — the " +
          "persisted base is READ ONCE as a model-sized parquet, never " +
          "re-sketched. The plan that at 100 TB turns maintenance from " +
          "a store re-read into a delta read."),
      "t72_semantic_prefilter" ->
        ("ANN-prefiltered decontamination: the bucketed eval index is " +
          "ONE broadcast row (BroadcastNestedLoopJoin against a 1-row " +
          "frame = a literal in all but name), and probes, candidate " +
          "lookup (map element_at) and the candidate argmax are narrow " +
          "projections INSIDE the corpus scan — the corpus never " +
          "shuffles; the only exchange is the 5-row stratum rollup."),
      "v74_prefix_rotated" ->
        ("Rotated prefix serving: the PCA matvec is one broadcast-" +
          "kernel projection (MatVecRotateBcast — the 1536x1536 matrix " +
          "ships once per executor, not per task), prefix widths are " +
          "slice projections of the same scan, and the width-keyed " +
          "walk rounds are rank-window beams + point-lookup joins — " +
          "per-round state is beam-degree-rounds rows, never " +
          "corpus-scale."),
      "i28_sqlite_dsv2" ->
        ("DSv2 sqlite scan: BatchScan with one InputPartition per .db " +
          "file; column pruning is visible in THIS plan's scan output " +
          "— the aggregation path never uses `content`, so the scan " +
          "reads [id, vector] only — and the query's hash-gated " +
          "pruned_read_schema column additionally pins the blob-free " +
          "projection reading (id, content), with pruned bodies " +
          "skipped inside the record decoder, not dropped after " +
          "materialization."),
      "v76_neardup_serve" ->
        ("Serving through the near-dup tier: the rep store's walk " +
          "rounds are TakeOrderedAndProject beams + broadcast point-" +
          "lookup joins over the 607-rep frame; the sidecar expansion " +
          "is a BROADCAST of the 10 hit reps joined into the sidecar, " +
          "and the exact rerank touches only the expanded members — " +
          "the 2,239-row corpus appears once, in the rerank join and " +
          "the exact-truth scan, never in a corpus-wide shuffle."),
      "t73_sem_prefilter_10k" ->
        ("10k-eval hamming-margin decontamination: the 10,000-item " +
          "eval array (ids + 56-bit sketches + vectors) rides the " +
          "plan as ONE broadcast row; per-doc candidate selection is " +
          "a higher-order filter (XOR + bit_count inside the scan) " +
          "and both argmaxes are aggregate lambdas over arrays — the " +
          "corpus never shuffles; the only exchange is the 5-row " +
          "stratum rollup."))

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.PlansDump` at $sfDir. ")
    sb.append("Regenerate after plan-shaping changes: " +
      "`sbt \"runMain graft.PlansDump\"`.\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n$why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim)
      sb.append("\n```\n")
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${picks.size} plans)")
    spark.stop()
  }
}
