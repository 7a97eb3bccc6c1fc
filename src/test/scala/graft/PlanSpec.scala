package graft

import graft.operators.Ingest
import graft.queries.{RelationalQueries, VectorQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Physical-plan contracts — the shapes that make the engine scale are
  * asserted, not assumed: global top-k must plan as TakeOrderedAndProject
  * (per-partition heaps, no full sort), small dimensions must broadcast,
  * filters must reach the parquet scan, partitioned stores must prune
  * directories. Runs against sf0.001 so plans reflect real scans.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE finalizes codegen stages and exchange reuse only at runtime —
    * materialize, then read the final adaptive plan. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("global top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(VectorQueries.knnTopK(spark, sf, k = 10))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("fact-to-dim joins are broadcast hash joins") {
    val p = plan(RelationalQueries.revenueBySegment(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("anti join (customers without orders) keeps LeftAnti semantics") {
    val p = plan(RelationalQueries.customersWithoutOrders(spark, sf))
    assert(p.contains("LeftAnti"))
  }

  test("predicate pushdown reaches the parquet scan") {
    val df = Tables.documents(spark, sf).filter(col("doc_id") < 30)
      .select("doc_id", "lang")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,30)]"),
      s"no pushed filters in:\n$p")
  }

  test("column pruning: a 2-column projection reads a 2-column schema") {
    val p = plan(Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"))
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"unpruned scan in:\n$p")
  }

  test("whole-stage codegen covers the scoring projection") {
    val p = finalPlan(VectorQueries.knnTopK(spark, sf, k = 5))
    assert(p.contains("*(")) // codegen'd stages are starred
  }

  test("partitioned store: per-source read prunes directories") {
    val dir = Files.createTempDirectory("graft_part").toString + "/store"
    import spark.implicits._
    val docs = Seq((1L, "a", "s1"), (2L, "b", "s2"), (3L, "c", "s2"))
      .toDF("doc_id", "text", "source")
    Ingest.writeStorePartitioned(docs, dir, Seq("source"))
    val read = spark.read.parquet(dir).filter(col("source") === "s2")
    val p = plan(read)
    assert(p.contains("PartitionFilters:") &&
      p.contains("(source") && read.count() == 2,
      s"no partition pruning in:\n$p")
  }

  test("z-ordered store: a z-prefix range probe is partition pruning — " +
      "directories outside the range are never opened") {
    val dir = Files.createTempDirectory("graft_zstore").toString + "/store"
    Ingest.writeStoreZOrdered(
      Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_partkey", "l_suppkey"),
      dir, "l_partkey", "l_suppkey", bucketBits = 4)
    // one file per zb directory: the writer's physical contract
    val perDir = spark.read.parquet(dir)
      .select(col("zb"), col("_metadata.file_path").as("f"))
      .groupBy("zb").agg(countDistinct(col("f")).as("nf"))
      .select(max("nf")).head().getLong(0)
    assert(perDir == 1L, s"a zb directory holds $perDir files, want 1")
    val read = spark.read.parquet(dir)
      .filter(col("zb") >= 2 && col("zb") <= 3)
    val p = plan(read)
    assert(p.contains("PartitionFilters:") && p.contains("(zb"),
      s"no zb partition pruning in:\n$p")
    // the pruned scan must touch at most the 2 in-range directories
    read.collect()
    val scan = read.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scan.nonEmpty, s"no file scan in:\n$p")
    assert(scan.get.metrics("numFiles").value <= 2L,
      s"pruned scan read ${scan.get.metrics("numFiles").value} files")
  }

  test("v26: the IVF-PQ probe is static partition pruning on the " +
      "stored index") {
    // the serving claim: against the centroid_id-partitioned index
    // store, a probe opens only its nProbe directories — the scan
    // carries a real centroid_id partition filter, not a data filter
    val df = VectorQueries.ivfPqPrunedSearch(spark, sf)
    val p = plan(df)
    val probeScans = p.split("\n")
      .filter(l => l.contains("FileScan parquet") && l.contains("codes"))
    assert(probeScans.nonEmpty, s"no code-table scan in:\n$p")
    probeScans.foreach { l =>
      assert(l.contains("PartitionFilters:") && l.contains("centroid_id"),
        s"probe scan does not partition-prune:\n$l")
      assert(!l.contains("PartitionFilters: []"),
        s"probe scan has EMPTY partition filters:\n$l")
    }
    spark.catalog.clearCache()
  }

  test("v55: the routed graph walk partition-prunes the sharded " +
      "adjacency store") {
    // the sharded-serving claim: against the shard(= SRP bucket of
    // src)-partitioned graph store, a query's walk scans only its 7
    // probed shard directories — the routed frame the walk consumes
    // (the walk rounds localCheckpoint, so the final result's plan no
    // longer shows this scan) carries a real shard partition filter
    val (_, routed, buckets) = VectorQueries.v55Routed(spark, sf)
    assert(buckets.size == 7, s"own + 6 flips, got $buckets")
    val p = plan(routed)
    val graphScans = p.split("\n")
      .filter(l => l.contains("FileScan parquet") && l.contains("shard"))
    assert(graphScans.nonEmpty, s"no sharded graph scan in:\n$p")
    graphScans.foreach { l =>
      assert(l.contains("PartitionFilters:") &&
          !l.contains("PartitionFilters: []") &&
          l.indexOf("shard", l.indexOf("PartitionFilters:")) > 0,
        s"graph scan does not shard-prune:\n$l")
    }
    spark.catalog.clearCache()
  }

  test("v58: the post-update (base + appended sidecar) store scan " +
      "still partition-prunes") {
    // the composed claim: after the delta sidecar APPENDS files into
    // its shard directories, the routed walk's scan of the SAME store
    // still carries a real shard partition filter — maintenance did
    // not cost the layout its pruning
    val (_, routed, buckets, entries) =
      VectorQueries.v58Routed(spark, sf)
    assert(buckets.size == 7, s"own + 6 flips, got $buckets")
    assert(entries.nonEmpty, "post-update entry derivation is empty")
    val p = plan(routed)
    val graphScans = p.split("\n")
      .filter(l => l.contains("FileScan parquet") && l.contains("shard"))
    assert(graphScans.nonEmpty, s"no sharded graph scan in:\n$p")
    graphScans.foreach { l =>
      assert(l.contains("PartitionFilters:") &&
          !l.contains("PartitionFilters: []") &&
          l.indexOf("shard", l.indexOf("PartitionFilters:")) > 0,
        s"post-update graph scan does not shard-prune:\n$l")
    }
    spark.catalog.clearCache()
  }

  test("bucketed tables join without any exchange (co-located join)") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq.tabulate(100)(i => (i.toLong, s"l$i")).toDF("k", "lv")
        .write.mode("overwrite").bucketBy(4, "k").sortBy("k")
        .saveAsTable("graft_bucket_l")
      Seq.tabulate(100)(i => (i.toLong, s"r$i")).toDF("k", "rv")
        .write.mode("overwrite").bucketBy(4, "k").sortBy("k")
        .saveAsTable("graft_bucket_r")
      val joined = spark.table("graft_bucket_l")
        .join(spark.table("graft_bucket_r"), "k")
      val p = finalPlan(joined)
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() == 100)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_l")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_r")
    }
  }

  test("range join plans as a broadcast hash join on bucket id") {
    val p = plan(RelationalQueries.rangeJoinPromos(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"range join fell back to a nested loop:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("quantized knn scores in one narrow stage, top-k via heaps") {
    val p = plan(VectorQueries.quantizedKnn(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("int8_quantize"), s"kernel missing from plan:\n$p")
  }

  test("v33 batch serving: broadcast routing, heap-pushed per-query " +
      "windows, no cartesian against the index") {
    val p = finalPlan(VectorQueries.batchedIvfPq(spark, sf))
    // Q queries share ONE index scan: probes/LUTs/shortlist reach the
    // corpus-scale side only as broadcasts — a SortMergeJoin (or worse,
    // a cartesian) against the coded index would mean the batch
    // re-shuffled the corpus per stage
    assert(p.contains("BroadcastHashJoin"), s"no broadcast routing in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cartesian against the index in:\n$p")
    // rank <= shortlist / rank <= k push into WindowGroupLimit heaps,
    // so the per-query windows never buffer a cell's full candidates
    assert(p.contains("WindowGroupLimit"), s"no window heaps in:\n$p")
  }

  test("v44 shortlist triplet mining plans no cartesian anywhere") {
    // the whole point of the shortlist entry point: candidate scoring
    // is a bucket EQUI-join (sum-|bucket|² work), never the all-pairs
    // cross product the guarded v36 baseline deliberately is
    val p = finalPlan(VectorQueries.tripletMiningShortlist(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the shortlist path:\n$p")
  }

  test("v45 shortlist knn-classify joins on the bucket key, " +
      "never broadcasting or crossing the train split") {
    val p = finalPlan(VectorQueries.knnClassifyShortlist(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"cartesian against the train split:\n$p")
    // per-test-vector rank <= 5 pushes into WindowGroupLimit heaps
    assert(p.contains("WindowGroupLimit"), s"no window heaps in:\n$p")
  }

  test("v50 variable-beam sweep: the four widths share one plan per " +
      "round — no cartesian, graph expansion stays an equi-join") {
    // broadcast joins off: the walk's inputs would otherwise fit the
    // one-job path, and this test reads the per-round plan
    val p = withBroadcastDisabled(
      finalPlan(VectorQueries.graphBeamSweep(spark, sf)))
    // the sweep's whole economics: frontier expansion joins the graph
    // on src (equi), re-scoring joins vectors on vec_id (equi); the
    // only nested-loop is the deliberate broadcast of the 4-row
    // (beam, qe) frame — a corpus-side cartesian would mean each
    // width re-scanned the corpus independently
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the sweep:\n$p")
  }

  test("correlated EXISTS + scalar subquery decorrelate to joins") {
    val p = finalPlan(RelationalQueries.existsSubquery(spark, sf))
    assert(p.contains("LeftSemi"),
      s"EXISTS did not become a semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"correlated subquery left a per-row nested loop:\n$p")
  }

  test("filtered search pushes the metadata predicate into the scan") {
    val p = plan(VectorQueries.filteredKnn(spark, sf))
    assert(p.contains("LessThan(label,5)"),
      s"label predicate did not reach PushedFilters:\n$p")
  }

  test("i11's bucketed join never exchanges on the join key") {
    withBroadcastDisabled {
      val p = finalPlan(graft.queries.IngestQueries.bucketedJoin(spark, sf))
      assert(p.contains("SortMergeJoin"), s"no SMJ in:\n$p")
      // the only exchange allowed is the aggregate's (keyed by label);
      // bucketing must have paid the join's shuffle at write time
      assert(!p.contains("Exchange hashpartitioning(doc_id"),
        s"bucketed join still shuffles its key:\n$p")
    }
  }

  test("batched SRP rank filters push down as WindowGroupLimit heaps") {
    // rank <= k over a window must become per-partition bounded heaps
    // (Partial+Final WindowGroupLimit), not a full sort of the scored
    // set inside each group — the property that keeps v21's one
    // shuffle carrying shortlist-bounded state at any corpus size
    val p = plan(VectorQueries.srpBatchShortlist(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing from the batched SRP plan:\n$p")
  }

  test("distributed id assignment never plans a single-partition window") {
    // a WindowExec with an empty partition spec renders as
    // `Window [funcs], [order]` (two bracket groups); a partitioned one
    // as `Window [funcs], [partition], [order]` (three). i03's serial
    // AUTOINCREMENT-parity window is deliberately global; i10's
    // distributed path must not be.
    val p = plan(graft.queries.IngestQueries
      .assignedIdsDistributed(spark, sf))
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.nonEmpty, s"expected a per-partition window in:\n$p")
    windows.foreach { w =>
      assert(w.matches(""".*Window \[.*\], \[.*\], \[.*\].*"""),
        s"single-partition window in the distributed id plan:\n$w")
    }
    spark.catalog.clearCache()
  }

  test("shard export orders within shards, never through a " +
      "single-partition window") {
    // the deterministic global shuffle must sort each shard
    // independently after one hash-partition exchange (i10's window
    // contract applied to the terminal export step)
    val p = plan(graft.queries.TextQueries.shardExportQuery(spark, sf))
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.nonEmpty, s"expected a per-shard window in:\n$p")
    windows.foreach { w =>
      assert(w.matches(""".*Window \[.*\], \[.*\], \[.*\].*"""),
        s"single-partition window in the shard-export plan:\n$w")
    }
  }

  test("incremental dedup update never re-shingles the base corpus") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val ix = Dedup.buildJaccardIndex(
      docs.filter(pmod(col("doc_id"), lit(10)) < 8),
      "doc_id", "text", 3, 0.1, 1000L)
    val (upd, _) = Dedup.updateJaccardIndex(ix,
      docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
      "doc_id", "text", 3, 0.1, 1000L)
    // the base postings artifact returns BY REFERENCE: an update never
    // rewrites (or even re-plans) the base — the LSM contract
    assert(upd.postings eq ix.postings,
      "update rewrote the base postings artifact")
    assert(upd.deltas.size == 1, "update did not sidecar its delta")
    // consumer plans read only MATERIALIZED state (checkpointed scans):
    // no text FileScan anywhere — base or delta — because every
    // per-update frame was materialized delta-sized inside the update
    Seq("pairs" -> upd.pairs, "sizes" -> upd.sizes,
        "mergedPostings" -> upd.mergedPostings).foreach { case (tag, df) =>
      val p = plan(df)
      assert(p.contains("ExistingRDD"),
        s"$tag not consumed from the materialized artifact:\n$p")
      val textScans = p.split("\n")
        .filter(l => l.contains("FileScan parquet") && l.contains("text"))
      assert(textScans.isEmpty,
        s"$tag plan rescans document text:\n${textScans.mkString("\n")}")
    }
    spark.catalog.clearCache()
  }

  test("incremental ExactSubstr update never re-shingles the base " +
      "corpus (t47's LSM contract)") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val ix = Dedup.buildSubstrIndex(
      docs.filter(pmod(col("doc_id"), lit(10)) < 8),
      "doc_id", "text", w = 8, maxDf = 50L, minRunTokens = 16)
    val (upd, _) = Dedup.updateSubstrIndex(ix,
      docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
      "doc_id", "text", w = 8, maxDf = 50L, minRunTokens = 16)
    assert(upd.base eq ix.base,
      "update rewrote the base positional index")
    assert(upd.deltas.size == 1, "update did not sidecar its delta")
    // consumers read only materialized state: no document-text rescans
    Seq("spans" -> upd.spans, "mergedIndex" -> upd.mergedIndex)
      .foreach { case (tag, df) =>
        val p = plan(df)
        assert(p.contains("ExistingRDD"),
          s"$tag not consumed from the materialized artifact:\n$p")
        val textScans = p.split("\n")
          .filter(l => l.contains("FileScan parquet") && l.contains("text"))
        assert(textScans.isEmpty,
          s"$tag plan rescans document text:\n${textScans.mkString("\n")}")
      }
    spark.catalog.clearCache()
  }

  test("s07 keeps the index un-broadcast: equi-join survives " +
      "autoBroadcastJoinThreshold=-1 without a cartesian") {
    // the contract that makes s07 runnable at 100 TB: disable size-based
    // broadcasting (production corpora exceed any threshold) and assert
    // the executed streaming plan is still a bucket equi-join — no
    // BroadcastExchange of the index, no per-batch cartesian
    withBroadcastDisabled {
      try {
        val agg = graft.queries.StreamingQueries.streamSearchAgg(spark, sf)
        val q = agg.writeStream.format("memory")
          .queryName("graft_s07_planprobe")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
        val p = buf.toString
        assert(p.contains("Join"), s"no join in streaming plan:\n$p")
        assert(!p.contains("BroadcastExchange") &&
          !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"),
          s"index broadcast/cartesian crept back into s07:\n$p")
      } finally spark.catalog.dropTempView("graft_s07_planprobe")
    }
  }

  test("exchange reuse: self-joined aggregates reuse one shuffle") {
    // same aggregate on both sides → ReusedExchange in the plan
    val agg = Tables.orders(spark, sf).groupBy("o_custkey")
      .agg(count("*").as("n"))
    val joined = agg.as("a").join(agg.as("b"), "o_custkey")
    assert(finalPlan(joined).contains("ReusedExchange"))
  }

  test("semantic dedup's pair scan is an equi-join on the cluster id, " +
      "never a cartesian fan-out") {
    import graft.operators.{Ann, Dedup}
    val emb = Tables.embeddings(spark, sf)
    val cent = Ann.seedCentroids(emb, "vec_id", "embedding", 4)
    val p = plan(Dedup.semanticDedup(emb, cent, "vec_id", "embedding",
      tau = 0.95))
    // the only tolerated nested-loop is the broadcast of the 1-row
    // guard aggregate and the tiny centroid set; the PAIR join itself
    // must key on centroid_id
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the semantic-dedup plan:\n$p")
    val pairJoin = p.split("\n").exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) &&
        l.contains("centroid_id") && l.contains("LeftSemi"))
    assert(pairJoin, s"pair scan not an equi-join on centroid_id:\n$p")
  }

  test("classifier scoring broadcasts the model and combines the " +
      "argmax map-side") {
    import graft.operators.Classify
    val emb = Tables.embeddings(spark, sf)
    val means = Classify.classMeans(
      emb.withColumn("cls", pmod(col("vec_id"), lit(4))),
      "cls", "embedding")
    val p = plan(Classify.nearestClassAssign(emb, means,
      "vec_id", "embedding", "cls"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"model side not broadcast in the scoring plan:\n$p")
    // min_by argmax must plan as a partial/final aggregate pair so the
    // |classes| candidate rows per vector combine before the exchange
    assert(p.contains("partial_min_by") ||
      p.split("\n").count(_.contains("HashAggregate")) >= 2,
      s"argmax not partially aggregated map-side:\n$p")
  }

  test("v36 triplet mining: both argmaxes are aggregates, never a " +
      "per-anchor window") {
    val p = finalPlan(VectorQueries.tripletMining(spark, sf))
    // the conditional max(struct) form must partially aggregate
    // map-side; a Window here would buffer every anchor's n-1
    // candidates in one partition's sort
    assert(!p.contains("Window"), s"per-anchor window in:\n$p")
    // struct min is not hash-aggregable, so it plans as SortAggregate —
    // what matters is the map-side combine before the exchange
    assert(p.contains("partial_min"),
      s"argmax not partially aggregated map-side:\n$p")
  }

  test("v37 MaxSim: query-side frames broadcast, no cartesian, and " +
      "the top-k is heap-pushed") {
    val p = finalPlan(VectorQueries.maxSimQuery(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"query/sim side not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k heap in:\n$p")
    assert(!p.contains("Window"), s"window in MaxSim plan:\n$p")
  }

  test("i20 merge-on-read reads resolve tombstones as BROADCAST anti " +
      "joins — the store side never shuffles for a delete") {
    val root = Files.createTempDirectory("graft_plan_mor")
      .toString + "/store"
    import spark.implicits._
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(
        (1L to 50L).map(i => (i, s"d$i")).toDF("doc_id", "text"), dir)
    }
    Ingest.deleteStoreKeysMor(spark, root, Seq(3L, 7L).toDF("doc_id"))
    val p = finalPlan(Ingest.readStoreManifested(spark, root))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstones not a broadcast anti join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"store shuffled to apply a delete:\n$p")
  }

  test("r36 fuzzy join: variant-blocked equi-join, never a cartesian") {
    val p = finalPlan(RelationalQueries.fuzzyPartNames(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join degenerated to all-pairs:\n$p")
  }

  test("t62 triangle census: wedge generation and closure stay " +
      "equi-joins — no all-pairs fallback at any stage") {
    val p = finalPlan(graft.queries.TextQueries.triangleCensus(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"triangle census degenerated to all-pairs:\n$p")
    // the ONLY nested-loop joins allowed are the two 1-row scalar
    // cross joins assembling the final stats row (final + AQE-initial
    // plan render each twice); the wedge/closure joins themselves must
    // stay hashed equi-joins
    val bnlj = p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin")
    assert(bnlj <= 4, s"unexpected nested-loop joins ($bnlj):\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"no hashed equi-join for the wedge stage:\n$p")
  }

  test("graph-walk entries above the size switch stay IN-PLAN — no " +
      "driver literal; below it, literal; both paths rank-identical") {
    import graft.operators.Ann
    // a small two-cluster fixture with a connected 2-NN graph
    val emb = vecsDf((1L, Seq(10f, 0f)), (2L, Seq(9f, 1f)),
      (3L, Seq(11f, 0.5f)), (4L, Seq(0f, 10f)), (5L, Seq(1f, 9f)),
      (6L, Seq(0.5f, 11f)))
    val graph = Ann.buildKnnGraph(emb, "vec_id", "embedding",
      bits = 12, bucketBits = 2, degree = 2)
    val q = emb.filter(col("vec_id") === 1L)
      .select(col("embedding").as("qe"))
    val idx = Ann.srpBucketIndex(emb, "vec_id", "embedding", 12, 12)
    // the frame form: entries never touch the driver or the plan as
    // a literal — round 0 is a broadcast semi-join over the entries
    // frame (assert on the construction the walk's round 0 uses)
    val entriesDf = Ann.topDegreeEntriesPerBucketFrame(graph, idx,
      "vec_id", 2)
    val round0 = emb.select(col("vec_id"))
      .join(broadcast(entriesDf.select(col("vec_id"))), Seq("vec_id"),
        "left_semi")
    val p0 = round0.queryExecution.optimizedPlan.toString
    assert(!p0.contains("vec_id IN") && !p0.contains("INSET"),
      s"entry literal leaked into the in-plan form:\n$p0")
    // result equality across the switch: bucketBits = 12 (> the
    // literal max of 11) routes to the frame path; forcing the
    // literal path on the same inputs must rank identically. Rows are
    // compared in rank order: the literal side may take the one-job
    // walk, whose row order differs from the loop's
    val viaSwitch = Ann.graphBeamSearchPerBucket(graph, emb, q,
        "vec_id", "embedding", idx, perBucket = 2, bucketBits = 12,
        beam = 4, rounds = 2, k = 3)
      .select("rank", "vec_id").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSeq.sorted
    val viaLiteral = Ann.graphBeamSearch(graph, emb, q, "vec_id",
        "embedding",
        Ann.topDegreeEntriesPerBucket(graph, idx, "vec_id", 2),
        beam = 4, rounds = 2, k = 3)
      .select("rank", "vec_id").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(viaSwitch == viaLiteral && viaSwitch.nonEmpty,
      s"switch=$viaSwitch literal=$viaLiteral")
    assert(Ann.EntryLiteralMaxBits == 11)
  }
}
