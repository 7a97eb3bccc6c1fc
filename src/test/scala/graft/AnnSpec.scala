package graft

import graft.operators.{Ann, Pq, Search}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  // two tight clusters around (10,0) and (0,10)
  private def emb = vecsDf(
    (1L, Seq(10f, 0f)), (2L, Seq(0f, 10f)),         // seeds
    (3L, Seq(9f, 1f)), (4L, Seq(11f, 0f)),
    (5L, Seq(1f, 9f)), (6L, Seq(0f, 11f)))

  test("seedCentroids takes the lowest-id vectors deterministically") {
    val c = Ann.seedCentroids(emb, "vec_id", "embedding", 2)
      .select("centroid_id").as[Long].collect().toSeq.sorted
    assert(c == Seq(1L, 2L))
  }

  test("ivfAssign routes every vector to its nearest centroid") {
    val centroids = Ann.seedCentroids(emb, "vec_id", "embedding", 2)
    val got = Ann.ivfAssign(emb.filter(col("vec_id") > 2), centroids,
        "vec_id", "embedding")
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 1L, 4L -> 1L, 5L -> 2L, 6L -> 2L))
  }

  test("ivfSearch with all cells probed equals exact brute force") {
    val centroids = Ann.seedCentroids(emb, "vec_id", "embedding", 2)
    val assigned = Ann.ivfAssign(emb, centroids, "vec_id", "embedding")
    val q = Seq(Tuple1(Array(10f, 1f))).toDF("qe")
    val ivf = Ann.ivfSearch(assigned, centroids, q,
      "vec_id", "embedding", "qe", nProbe = 2, k = 3)
      .as[(Long, Double)].collect().toSeq
    val exact = Search.topK(emb, q, "vec_id", "embedding", "qe", 3)
      .as[(Long, Double)].collect().toSeq
    assert(ivf == exact)
  }

  test("ivfSearch nProbe=1 searches only the nearest cell") {
    val centroids = Ann.seedCentroids(emb, "vec_id", "embedding", 2)
    val assigned = Ann.ivfAssign(emb, centroids, "vec_id", "embedding")
    val q = Seq(Tuple1(Array(10f, 1f))).toDF("qe")
    val got = Ann.ivfSearch(assigned, centroids, q,
        "vec_id", "embedding", "qe", nProbe = 1, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1).toSet == Set(1L, 3L, 4L)) // cluster-1 members only
  }

  test("cosineNearDupPairs finds each unordered pair once, above threshold") {
    val got = Ann.cosineNearDupPairs(emb, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 3L), (1L, 4L), (2L, 5L), (2L, 6L), (3L, 4L), (5L, 6L)))
  }

  test("kmeansCentroids learns the two clusters; assignment matches") {
    val centroids = Ann.kmeansCentroids(emb, "vec_id", "embedding", 2)
    // learned centers must separate the (10,0)-ish and (0,10)-ish groups
    val byCell = Ann.ivfAssign(emb, centroids, "vec_id", "embedding")
      .select("centroid_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    assert(byCell == Set(Set(1L, 3L, 4L), Set(2L, 5L, 6L)), s"got $byCell")
  }

  test("kmeansCentroids is deterministic across calls") {
    def centers = Ann.kmeansCentroids(emb, "vec_id", "embedding", 2)
      .orderBy("centroid_id").as[(Long, Seq[Float])].collect().toSeq
    assert(centers == centers)
  }

  test("learned-centroid IVF recall >= seeded on a skewed fixture") {
    // 1 lonely far point + a dense blob: seeded centroids (2 lowest ids)
    // both land in the blob's first points, learned ones track density
    val pts = (1L, Seq(100f, 100f)) +: (2L to 20L).map(i =>
      (i, Seq(i.toFloat / 100f, 1f + (i % 3).toFloat / 10f)))
    val data = vecsDf(pts: _*)
    val q = Seq(Tuple1(Array(0.1f, 1f))).toDF("qe")
    def recallWith(centroids: org.apache.spark.sql.DataFrame): Double = {
      val assigned = Ann.ivfAssign(data, centroids, "vec_id", "embedding")
      val ivf = Ann.ivfSearch(assigned, centroids, q,
        "vec_id", "embedding", "qe", nProbe = 1, k = 5)
        .select("vec_id").as[Long].collect().toSet
      val exact = Search.topK(data, q, "vec_id", "embedding", "qe", 5)
        .select("vec_id").as[Long].collect().toSet
      (ivf & exact).size.toDouble / exact.size
    }
    val learned = recallWith(
      Ann.kmeansCentroids(data, "vec_id", "embedding", 2))
    val seeded = recallWith(
      Ann.seedCentroids(data, "vec_id", "embedding", 2))
    assert(learned >= seeded, s"learned=$learned seeded=$seeded")
    assert(learned == 1.0, s"learned centroids should isolate the blob: $learned")
  }

  test("srpShortlistKnn with a full-size shortlist equals exact search") {
    val index = emb.filter(col("vec_id") =!= 1)
    val sketched = emb.select(col("vec_id"), col("embedding"),
      graft.functions.HashFunctions.cosineLshBits(col("embedding"), 16)
        .as("sketch"))
    val q = sketched.filter(col("vec_id") === 1)
      .select(col("embedding").as("qe"), col("sketch").as("qsketch"))
    val approx = Ann.srpShortlistKnn(index, q, "vec_id", "embedding",
        bits = 16, shortlist = 100, k = 3)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Search.topK(index,
        emb.filter(col("vec_id") === 1).select(col("embedding").as("qe")),
        "vec_id", "embedding", "qe", 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(approx == exact)
  }

  test("srpShortlistKnn hamming distances are consistent with clusters") {
    val sketched = emb.select(col("vec_id"), col("embedding"),
      graft.functions.HashFunctions.cosineLshBits(col("embedding"), 16)
        .as("sketch"))
    val q = sketched.filter(col("vec_id") === 1)
      .select(col("embedding").as("qe"), col("sketch").as("qsketch"))
    val ham = Ann.srpShortlistKnn(emb.filter(col("vec_id") =!= 1), q,
        "vec_id", "embedding", bits = 16, shortlist = 100, k = 5)
      .select("vec_id", "hamming").as[(Long, Long)].collect().toMap
    // same-cluster vectors (3,4 near (10,0)) must be at least as close
    // in hamming space as the opposite cluster's center (2)
    assert(ham(3L) <= ham(2L) && ham(4L) <= ham(2L))
  }

  test("srpShortlistKnn aborts on a multi-row query frame; empty is empty") {
    val sketched = emb.select(col("vec_id"), col("embedding"),
      graft.functions.HashFunctions.cosineLshBits(col("embedding"), 16)
        .as("sketch"))
      .select(col("embedding").as("qe"), col("sketch").as("qsketch"),
        col("vec_id"))
    val twoRows = sketched.filter(col("vec_id") <= 2).drop("vec_id")
    val err = intercept[Exception] {
      Ann.srpShortlistKnn(emb, twoRows, "vec_id", "embedding", 16, 10, 3)
        .count()
    }
    assert(err.getMessage.contains("exactly one row"))
    val none = sketched.filter(col("vec_id") < 0).drop("vec_id")
    assert(Ann.srpShortlistKnn(emb, none, "vec_id", "embedding",
      16, 10, 3).count() == 0)
  }

  test("cosineNearDupPairs aborts above its input-size guard") {
    val e = intercept[Exception] {
      Ann.cosineNearDupPairs(emb, "vec_id", "embedding", 0.95,
        maxInputRows = 3).count()
    }
    assert(e.getMessage.contains("maxInputRows"), e.getMessage)
  }

  test("bucketedNearDupPairs ≡ exact pairs when clusters are clean") {
    val centroids = Ann.seedCentroids(emb, "vec_id", "embedding", 2)
    val exact = Ann.cosineNearDupPairs(emb, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    val bucketed = Ann.bucketedNearDupPairs(emb, centroids,
        "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(bucketed == exact)
  }

  test("srpBucketIndex/srpProbeBuckets: one bucket per vector, " +
      "bucketBits+1 distinct probes within hamming 1") {
    import org.apache.spark.sql.functions._
    val emb = vecsDf((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(-1f, 0.2f)))
    val idx = graft.operators.Ann
      .srpBucketIndex(emb, "vec_id", "embedding", bits = 16, bucketBits = 4)
    // exactly one row (one bucket) per vector, bucket in [0, 16)
    assert(idx.count() == 3)
    assert(idx.filter(col("bucket") < 0 || col("bucket") >= 16).count() == 0)
    val probes = graft.operators.Ann.srpProbeBuckets(
      emb.select(col("vec_id").as("query_id"), col("embedding").as("qe")),
      "qe", bits = 16, bucketBits = 4)
    val perQuery = probes.groupBy("query_id")
      .agg(countDistinct("bucket").as("n"))
      .select("n").as[Long].collect()
    assert(perQuery.forall(_ == 5)) // own bucket + 4 at hamming distance 1
    // every probe differs from the own bucket in at most one prefix bit
    val own = idx.select(col("vec_id").as("query_id"), col("bucket").as("ob"))
    val ham = probes.join(own, "query_id")
      .select(bit_count(col("bucket").bitwiseXOR(col("ob"))).as("h"))
      .as[Int].collect()
    assert(ham.forall(_ <= 1))
    // guard: bucketBits outside [1, bits] aborts
    intercept[IllegalArgumentException] {
      graft.operators.Ann.srpBucketIndex(emb, "vec_id", "embedding", 16, 0)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Ann.srpProbeBuckets(
        emb.select(col("embedding").as("qe")), "qe", 16, 17)
    }
  }

  test("srpProbeBucketsCapped: maxProbes >= bucketBits equals the full " +
      "hamming-1 probe set; capped is a subset with 1+p distinct probes") {
    val vs = vecsDf((1L, Seq(0.3f, -1.2f, 0.7f, 0.1f)),
      (2L, Seq(-0.9f, 0.4f, 0.05f, 1.1f)), (3L, Seq(1f, 1f, -1f, 0.2f)))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "bucket").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val full = sets(Ann.srpProbeBuckets(vs, "qe", bits = 16, bucketBits = 6))
    val uncapped = sets(Ann.srpProbeBucketsCapped(vs, "qe", bits = 16,
      bucketBits = 6, maxProbes = 6))
    assert(uncapped == full, "p >= bucketBits must equal the full set")
    val capped = sets(Ann.srpProbeBucketsCapped(vs, "qe", bits = 16,
      bucketBits = 6, maxProbes = 2))
    capped.foreach { case (q, s) =>
      assert(s.size == 3, s"query $q: own bucket + 2 flips")
      assert(s.subsetOf(full(q)), s"query $q: capped ⊆ full")
    }
  }

  test("srpProbeBucketsCapped flips exactly the smallest-|margin| planes") {
    // replicate the md5-derived hyperplanes independently and check the
    // flipped bits are the p smallest-|dot| plane indices (tie → lower j)
    val v = Seq(0.37f, -0.81f, 0.22f, 0.55f, -0.13f)
    val bucketBits = 6
    val dots = (0 until bucketBits).map { j =>
      (0 until v.length).map { i =>
        val sign = if ((graft.expressions.Md5Util.md5_60(s"srp:$j:$i")
            & 1L) == 1L) 1.0 else -1.0
        v(i).toDouble * sign
      }.sum
    }
    val own = dots.zipWithIndex
      .map { case (d, j) => if (d > 0) 1L << j else 0L }.sum
    val expectFlips = dots.zipWithIndex
      .sortBy { case (d, j) => (math.abs(d), j) }.take(2).map(_._2)
    val expected = (Set(own) ++ expectFlips.map(j => own ^ (1L << j))).toSet
    val got = Ann.srpProbeBucketsCapped(
        Seq(Tuple1(v)).toDF("qe"), "qe", 16, bucketBits, maxProbes = 2)
      .select("bucket").as[Long].collect().toSet
    assert(got == expected)
  }

  test("buildKnnGraph: the default maxProbes=4 cap doesn't bind at the " +
      "bench geometry, and a binding cap still yields a valid graph") {
    val rnd = new scala.util.Random(7)
    val many = vecsDf((1L to 60L).map(i =>
      (i, Seq.fill(6)(rnd.nextFloat() * 2 - 1))): _*)
    def edges(g: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      g.as[(Long, Long)].collect().toSet
    // bucketBits=4: 4 flips exist, so cap at 4 ≡ cap at 99 ≡ uncapped
    val a = edges(Ann.buildKnnGraph(many, "vec_id", "embedding",
      bits = 16, bucketBits = 4, degree = 3))
    val b = edges(Ann.buildKnnGraph(many, "vec_id", "embedding",
      bits = 16, bucketBits = 4, degree = 3, maxProbes = 99))
    assert(a == b)
    // binding cap (bucketBits=6, p=2): still no self-edges, per-src ≤ degree
    val capped = Ann.buildKnnGraph(many, "vec_id", "embedding",
      bits = 16, bucketBits = 6, degree = 3, maxProbes = 2)
    assert(capped.filter(col("src") === col("dst")).count() == 0)
    val perSrc = capped.groupBy("src").count().select("count")
      .as[Long].collect()
    assert(perSrc.nonEmpty && perSrc.forall(_ <= 3))
  }

  test("buildKnnGraph salted hot-bucket join: non-binding cap is an " +
      "identity; binding cap matches an independent md5-salt replay") {
    val rnd = new scala.util.Random(11)
    val many = vecsDf((1L to 80L).map(i =>
      (i, Seq.fill(6)(rnd.nextFloat() * 2 - 1))): _*)
    def edges(g: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      g.as[(Long, Long)].collect().toSet
    // 80 vectors over 16 buckets: hottest bucket far below the 256
    // default, so the default build ≡ an explicitly uncapped one
    val dflt = edges(Ann.buildKnnGraph(many, "vec_id", "embedding",
      bits = 16, bucketBits = 4, degree = 3))
    val uncapped = edges(Ann.buildKnnGraph(many, "vec_id", "embedding",
      bits = 16, bucketBits = 4, degree = 3,
      maxBucketGroup = Long.MaxValue))
    assert(dflt == uncapped, "non-binding maxBucketGroup must be identity")
    // binding cap: replay counts -> n_salts -> md5 salt -> group join
    // from scratch and demand the identical candidate set
    val cap = 3L
    val got = Ann.knnGraphCandidates(many, many, "vec_id", "embedding",
        bits = 16, bucketBits = 4, maxProbes = 4, maxBucketGroup = cap)
      .select("src", "vec_id").as[(Long, Long)].collect().toSet
    val vecs = many.as[(Long, Seq[Float])].collect().toMap
    def sketchBit(v: Seq[Float], j: Int): Boolean =
      v.indices.map { i =>
        val sign = if ((graft.expressions.Md5Util.md5_60(s"srp:$j:$i")
            & 1L) == 1L) 1.0 else -1.0
        v(i).toDouble * sign
      }.sum > 0
    val bucket = vecs.map { case (id, v) =>
      id -> (0 until 4).map(j => if (sketchBit(v, j)) 1L << j else 0L).sum
    }
    val nSalts = bucket.values.groupBy(identity)
      .map { case (b, xs) => b -> (xs.size + cap - 1) / cap }
    def salt(id: Long, b: Long): Long =
      graft.expressions.Md5Util.md5_60(s"gsalt:$id") % nSalts(b)
    val expected = for {
      (src, own) <- bucket.toSet
      b <- Set(own) ++ (0 until 4).map(j => own ^ (1L << j))
      if nSalts.contains(b) // probing an empty bucket yields nothing
      // toSeq: mapping a Map to key-colliding pairs would collapse them
      (cand, cb) <- bucket.toSeq
      if cb == b && cand != src && salt(src, b) == salt(cand, b)
    } yield (src, cand)
    assert(got == expected)
    // sanity: at least one bucket actually split (the cap bound work)
    assert(nSalts.values.exists(_ > 1), "fixture must bind the cap")
  }

  test("topDegreeEntriesPerBucket: per-bucket top-n by in-degree, " +
      "deg desc then id tie-break, buckets without in-edges absent") {
    import spark.implicits._
    // graph: in-degrees 10→3, 11→2, 12→1, 20→2, 21→1; 30 has none
    val graph = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (2L, 11L), (4L, 12L),
      (1L, 20L), (2L, 20L), (3L, 21L)).toDF("src", "dst")
    val index = Seq(
      (10L, 0L), (11L, 0L), (12L, 0L), // bucket 0
      (20L, 1L), (21L, 1L),            // bucket 1
      (30L, 2L)                        // bucket 2: no in-degree
    ).toDF("vec_id", "bucket")
      .withColumn("embedding", array(lit(0f))) // unused by the derivation
    val got = Ann.topDegreeEntriesPerBucket(graph, index, "vec_id",
      perBucket = 2)
    assert(got == Seq(10L, 11L, 20L, 21L))
    // equal degrees: id asc wins the rank
    val tie = Seq((1L, 41L), (2L, 40L)).toDF("src", "dst")
    val tIdx = Seq((40L, 0L), (41L, 0L)).toDF("vec_id", "bucket")
      .withColumn("embedding", array(lit(0f)))
    assert(Ann.topDegreeEntriesPerBucket(tie, tIdx, "vec_id", 1)
      == Seq(40L))
  }

  test("contrastiveTriplets: best >=tau positive, best <tau hard negative") {
    // 2D fixture: anchors 1,2 nearly parallel (cos≈1); 3 at ~45°
    // (cos≈0.707 < 0.8 — the hard negative); 4 orthogonal (easy
    // negative, must NOT be chosen); 5 isolated negative-quadrant
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val emb = Seq(
      (1L, v(1, 0)), (2L, v(1, 0.01)),
      (3L, v(1, 1)), (4L, v(0, 1)), (5L, v(-1, -0.5))
    ).toDF("vec_id", "embedding")
    val got = Ann.contrastiveTriplets(emb, "vec_id", "embedding", 0.8)
      .as[(Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // anchors 1 and 2 pair with each other; hardest negative is 3
    assert(got(1L)._2 == 2L && got(1L)._4 == 3L)
    assert(got(2L)._2 == 1L && got(2L)._4 == 3L)
    // 3/4/5 have no >=0.8 neighbor -> no triplet rows
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L)._3 > 0.99 && got(1L)._5 < 0.8)
  }

  test("contrastiveTriplets tie on cosine resolves to the smaller id") {
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    // 2 and 3 are IDENTICAL vectors: both cos=1 to anchor 1
    val emb = Seq(
      (1L, v(1, 0)), (3L, v(2, 0)), (2L, v(2, 0)), (4L, v(1, 5))
    ).toDF("vec_id", "embedding")
    val got = Ann.contrastiveTriplets(emb, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 2L, "tie must break to the smaller candidate id")
  }

  test("contrastiveTriplets aborts above its input-size guard") {
    val e = intercept[Exception] {
      Ann.contrastiveTriplets(emb, "vec_id", "embedding", 0.8,
        maxInputRows = 3).count()
    }
    assert(e.getMessage.contains("maxInputRows"), e.getMessage)
  }

  test("tripletsFromScored tie-breaks correctly for STRING ids") {
    // a negated string id would null out under the old max(struct(cos,
    // -id)) formulation; min(struct(-cos, id)) must order lexically
    val scored = Seq(
      ("a", "b", 0.95), ("a", "c", 0.95),   // tie at 0.95 -> "b"
      ("a", "z", 0.30), ("a", "y", 0.30))   // tie at 0.30 -> "y"
      .toDF("anchor_id", "cand", "cos")
    val got = Ann.tripletsFromScored(scored, 0.8)
      .as[(String, String, Double, String, Double)].collect()
    assert(got.toSeq == Seq(("a", "b", 0.95, "y", 0.3)))
  }

  test("srpTripletCandidates emits each directed pair at most once, " +
      "scores match exact cosine") {
    val cands = Ann.srpTripletCandidates(emb, "vec_id", "embedding",
      bits = 16, bucketBits = 4)
    val rows = cands.collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.distinct.size == pairs.size, "duplicate directed pair")
    assert(pairs.forall { case (a, c) => a != c })
    // every surfaced score equals the exact all-pairs cosine
    val exact = Ann.cosineNearDupPairs(emb, "vec_id", "embedding", -1.0)
      .collect()
      .flatMap(r => Seq(
        (r.getLong(0), r.getLong(1)) -> r.getDouble(2),
        (r.getLong(1), r.getLong(0)) -> r.getDouble(2))).toMap
    rows.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(math.abs(exact(k) - r.getDouble(2)) < 1e-6, s"score at $k")
    }
  }

  test("topDegreeEntries picks the highest in-degree hubs, id tie-break") {
    // in-degrees: 7 <- {1,2,3}, 5 <- {1,2}, 9 <- {1,2}, 4 <- {1}
    val graph = Seq(
      (1L, 7L), (2L, 7L), (3L, 7L),
      (1L, 5L), (2L, 5L), (1L, 9L), (2L, 9L), (1L, 4L)
    ).toDF("src", "dst")
    // 7 (deg 3), then 5 and 9 (deg 2, lower id first), then 4
    assert(Ann.topDegreeEntries(graph, 3) == Seq(7L, 5L, 9L))
    assert(Ann.topDegreeEntries(graph, 10) == Seq(7L, 5L, 9L, 4L))
  }

  test("graphBeamSearch walks only reachable nodes and counts them") {
    // hand graph over a 1-D line of vectors: 1 -> 3 -> 5; 2 is an
    // island the walk must never reach despite a high score
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val vecs = Seq(
      (1L, v(1, 1)), (3L, v(1, 0.5)), (5L, v(1, 0.1)),
      (2L, v(1, 0))  // best possible score but unreachable
    ).toDF("vec_id", "embedding")
    val graph = Seq((1L, 3L), (3L, 5L)).toDF("src", "dst")
    val q = Seq(Tuple1(Array(1f, 0f))).toDF("qe")
    val got = Ann.graphBeamSearch(graph, vecs, q, "vec_id", "embedding",
        entryIds = Seq(1L), beam = 2, rounds = 2, k = 10)
      .as[(Long, Long, Double, Long)].collect()
    // visited = {1} -> +3 -> +5 : three nodes, 2 excluded
    assert(got.map(_._2).toSet == Set(1L, 3L, 5L))
    assert(got.forall(_._4 == 3L), "nodes_touched must be 3")
    // ranks follow score desc: 5 (closest to query) first
    assert(got.sortBy(_._1).map(_._2).toSeq == Seq(5L, 3L, 1L))
  }

  test("graphBeamSearchBatch: each query walks its own beam over the " +
      "shared graph; per-query nodes_touched diverge") {
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    // two chains from entry 1: toward (1,0) via 3→5 and toward (0,1)
    // via 4→6 — query A should walk the first, query B the second
    val vecs = Seq(
      (1L, v(1, 1)),
      (3L, v(1, 0.4)), (5L, v(1, 0.1)),
      (4L, v(0.4, 1)), (6L, v(0.1, 1))
    ).toDF("vec_id", "embedding")
    val graph = Seq((1L, 3L), (1L, 4L), (3L, 5L), (4L, 6L))
      .toDF("src", "dst")
    val queries = Seq(
      (100L, Array(1f, 0f)), (200L, Array(0f, 1f)))
      .toDF("query_id", "qe")
    val got = Ann.graphBeamSearchBatch(graph, vecs, queries,
        "vec_id", "embedding", "query_id",
        entryIds = Seq(1L), beam = 1, rounds = 2, k = 1)
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    // beam=1: A expands 1→{3,4}, picks 3, expands →5; B picks 4, →6
    assert(got(100L)._3 == 5L, s"query A best: ${got(100L)}")
    assert(got(200L)._3 == 6L, s"query B best: ${got(200L)}")
    // A visited {1,3,4,5}; B visited {1,3,4,6} — both 4 nodes
    assert(got(100L)._5 == 4L && got(200L)._5 == 4L)
  }

  test("graphBeamWalkPq/PqRerank: exact codebooks reproduce the cosine " +
      "walk's reachability — the island stays unreachable on codes too") {
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val vecs = Seq(
      (1L, v(1, 1)), (3L, v(1, 0.5)), (5L, v(1, 0.1)),
      (2L, v(1, 0))  // best possible score but unreachable
    ).toDF("vec_id", "embedding")
    val graph = Seq((1L, 3L), (3L, 5L)).toDF("src", "dst")
    // dsub=1, m=2, every coordinate value a center -> encode is
    // LOSSLESS, ADC == exact squared L2, the walk's routing decisions
    // must match the float walk's
    val model = Pq.PqModel(1, Array(
      Array(Array(1f), Array(0f), Array(0.5f), Array(0.1f)),
      Array(Array(1f), Array(0f), Array(0.5f), Array(0.1f))))
    val codes = Pq.encode(vecs, "vec_id", "embedding", model)
    val got = Ann.graphBeamSearchPqRerank(graph, codes, vecs,
        Array(1f, 0f), model, "vec_id", "embedding",
        entryIds = Seq(1L), beam = 2, rounds = 2, shortlist = 10, k = 10)
      .as[(Long, Long, Double, Long)].collect()
    assert(got.map(_._2).toSet == Set(1L, 3L, 5L), "island 2 must stay out")
    assert(got.forall(_._4 == 3L), "nodes_touched must be 3")
    assert(got.sortBy(_._1).map(_._2).toSeq == Seq(5L, 3L, 1L))
  }

  test("graphBeamSearchPqRerank: coarse codes tie two nodes, the exact " +
      "rerank orders them — the shortlist recovers what ADC loses") {
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    // 5 and 7 quantize to the SAME y center (0.11): ADC ties them and
    // the tie-break picks the lower id 5; exact cosine prefers 7
    val vecs = Seq(
      (1L, v(1, 1)), (3L, v(1, 0.5)),
      (5L, v(1, 0.12)), (7L, v(1, 0.1))
    ).toDF("vec_id", "embedding")
    val graph = Seq((1L, 3L), (3L, 5L), (3L, 7L)).toDF("src", "dst")
    val model = Pq.PqModel(1, Array(
      Array(Array(1f), Array(2f), Array(3f)),
      Array(Array(1f), Array(0.5f), Array(0.11f))))
    val codes = Pq.encode(vecs, "vec_id", "embedding", model)
    val q = Array(1f, 0f)
    val adcFirst = Ann.graphBeamWalkPq(graph, codes, q, model,
        "vec_id", entryIds = Seq(1L), beam = 2, rounds = 2)
      .orderBy(col("score").desc, col("vec_id"))
      .select("vec_id").as[Long].head()
    assert(adcFirst == 5L, "ADC alone must tie-break to the lower id")
    val rr = Ann.graphBeamSearchPqRerank(graph, codes, vecs, q, model,
        "vec_id", "embedding", entryIds = Seq(1L), beam = 2, rounds = 2,
        shortlist = 4, k = 1)
      .select("vec_id").as[Long].head()
    assert(rr == 7L, "the exact rerank must recover the true best")
  }

  test("graphBeamSearchBatchVarBeam: each query's window cuts at ITS " +
      "beam — narrow beam prunes a branch the wide beam explores") {
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    // entry 1 fans to {3, 4}; vs query (1,0) the scores rank
    // 3 (0.93) > 4 (0.67) > 1 (0.45). beam=1's round-2 window keeps
    // only 3 (→5); beam=2 keeps {3,4} and so also expands 4 (→6).
    val vecs = Seq(
      (1L, v(0.5, 1)),
      (3L, v(1, 0.4)), (5L, v(1, 0.1)),
      (4L, v(0.9, 1)), (6L, v(0.1, 1))
    ).toDF("vec_id", "embedding")
    val graph = Seq((1L, 3L), (1L, 4L), (3L, 5L), (4L, 6L))
      .toDF("src", "dst")
    val queries = Seq(
      (1L, Array(1f, 0f), 1L), (2L, Array(1f, 0f), 2L))
      .toDF("query_id", "qe", "beam")
    val got = Ann.graphBeamSearchBatchVarBeam(graph, vecs, queries,
        "vec_id", "embedding", "query_id", "beam",
        entryIds = Seq(1L), rounds = 2, k = 10)
      .as[(Long, Long, Long, Double, Long)].collect()
    val visited = got.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(_._3).toSet }
    // same query vector, different widths: beam=1 visits {1,3,4,5}
    // (4 entered the frontier from round 1's expansion of the single
    // beam slot 1, but was never beam-selected so 6 is unreached);
    // beam=2 expands both branches → {1,3,4,5,6}
    assert(visited(1L) == Set(1L, 3L, 4L, 5L), s"beam=1: $visited")
    assert(visited(2L) == Set(1L, 3L, 4L, 5L, 6L), s"beam=2: $visited")
    assert(got.filter(_._1 == 1L).head._5 == 4L)
    assert(got.filter(_._1 == 2L).head._5 == 5L)
  }

  test("graphBeamSearchFiltered: failing nodes still ROUTE the walk " +
      "but never surface; both cost meters reported") {
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    // chain 1 → 2 → 3 where 2 scores best vs the query but fails the
    // predicate: reaching 3 REQUIRES routing through 2 (the ACORN
    // rule — a filtered traversal would dead-end at 1)
    val vecs = Seq(
      (1L, v(1, 1), 1L), (2L, v(1, 0.05), 9L), (3L, v(1, 0.2), 2L)
    ).toDF("vec_id", "embedding", "label")
    val graph = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val q = Seq(Tuple1(Array(1f, 0f))).toDF("qe")
    val got = Ann.graphBeamSearchFiltered(graph, vecs, q,
        "vec_id", "embedding", entryIds = Seq(1L), beam = 1, rounds = 2,
        k = 10, pred = col("label") < 5)
      .as[(Long, Long, Double, Long, Long)].collect()
    // visited {1,2,3}; passing {1,3}; best passing = 3
    assert(got.map(_._2).toSet == Set(1L, 3L), s"surfaced: ${got.toSeq}")
    assert(got.sortBy(_._1).map(_._2).toSeq == Seq(3L, 1L))
    assert(got.forall(r => r._4 == 3L && r._5 == 2L))
  }

  test("graphBeamSearchMultiIndex: each query walks ITS OWN graph and " +
      "vector set — indexes stay disjoint inside the shared rounds") {
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val vecs = Seq(
      (1L, v(1, 1)), (3L, v(1, 0.2)), (4L, v(0.2, 1))
    ).toDF("vec_id", "embedding")
    // index A links 1→3, index B links 1→4; B's vector set also LACKS
    // node 3 entirely — if the round joins ever crossed indexes, B
    // would reach or score 3
    val g2 = Seq(("a", 1L, 3L), ("b", 1L, 4L)).toDF("ix", "src", "dst")
    val v2 = vecs.withColumn("ix", lit("a")).unionByName(
      vecs.filter(col("vec_id") =!= 3L).withColumn("ix", lit("b")))
    val q2 = Seq(("a", Array(1f, 0f)), ("b", Array(1f, 0f)))
      .toDF("ix", "qe")
    val e2 = Seq(("a", 1L), ("b", 1L)).toDF("ix", "vec_id")
    val got = Ann.graphBeamSearchMultiIndex(g2, v2, q2, e2,
        "vec_id", "embedding", "ix", beam = 2, rounds = 2, k = 10)
      .as[(String, Long, Long, Double, Long)].collect()
    val visited = got.groupBy(_._1).map { case (ix, rs) =>
      ix -> rs.map(_._3).toSet }
    assert(visited("a") == Set(1L, 3L), s"index a: $visited")
    assert(visited("b") == Set(1L, 4L), s"index b: $visited")
    assert(got.forall(_._5 == 2L))
  }

  test("updateKnnGraph: the delta sidecar IS the full rebuild's " +
      "adjacency restricted to delta sources; base edges untouched") {
    val base = emb // ids 1..6, two clusters
    val delta = vecsDf((10L, Seq(10f, 0.5f)), (11L, Seq(0.5f, 10f)))
    val sidecar = Ann.updateKnnGraph(base, delta, "vec_id", "embedding",
        bits = 16, bucketBits = 4, degree = 2)
      .as[(Long, Long)].collect().toSeq.sorted
    // exact LSM contract: identical to rebuilding over base ∪ delta
    // and keeping only delta-rooted edges — the part compaction will
    // NOT have to recompute
    val full = Ann.buildKnnGraph(base.unionByName(delta), "vec_id",
        "embedding", bits = 16, bucketBits = 4, degree = 2)
      .as[(Long, Long)].collect().toSeq
    assert(sidecar == full.filter(e => e._1 >= 10L).sorted)
    assert(sidecar.nonEmpty && sidecar.forall(_._1 >= 10L))
  }

  test("graphBeamSearch with zero rounds scores only the entries") {
    val graph = Seq((1L, 2L)).toDF("src", "dst")
    val q = Seq(Tuple1(Array(10f, 0f))).toDF("qe")
    val got = Ann.graphBeamSearch(graph, emb, q, "vec_id", "embedding",
        entryIds = Seq(1L, 2L), beam = 2, rounds = 0, k = 10)
      .as[(Long, Long, Double, Long)].collect()
    assert(got.map(_._2).toSet == Set(1L, 2L) && got.forall(_._4 == 2L))
  }

  test("bucketOccupancy matches a direct per-width histogram and " +
    "chooseBucketBits picks the smallest width under target") {
    // 64 vectors spread around a ring so the SRP planes actually split
    val rows = (0 until 64).map { i =>
      val a = i * 0.197
      (i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat,
        math.cos(3 * a).toFloat, math.sin(3 * a).toFloat))
    }
    val df = vecsDf(rows: _*)
    val occ = Ann.bucketOccupancy(df, "embedding", bits = 12,
        bbMin = 1, bbMax = 12)
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .toMap
    assert(occ.keySet == (1 to 12).toSet)
    // cross-check EVERY width against a direct srpBucketIndex histogram
    // (the fine-histogram prefix re-aggregation must equal the direct
    // groupBy — same sketch planes, same masking)
    for (bb <- 1 to 12) {
      val counts = Ann.srpBucketIndex(df, "vec_id", "embedding", 12, bb)
        .groupBy("bucket").count()
        .as[(Long, Long)].collect().map(_._2)
      val n = counts.sum.toDouble
      val want = (counts.map(c => c * c).sum / n * 10000).round / 10000.0
      val (nb, mx, sb) = occ(bb)
      assert(nb == counts.length && mx == counts.max,
        s"bb=$bb: ($nb,$mx) vs (${counts.length},${counts.max})")
      assert(math.abs(sb - want) < 1e-9, s"bb=$bb: $sb vs $want")
    }
    // size-biased mean never increases when buckets split
    val sbs = (1 to 12).map(occ(_)._3)
    assert(sbs.zip(sbs.tail).forall { case (a, b) => b <= a + 1e-9 })
    // chooser: smallest width whose load meets the target...
    val t = occ(6)._3
    val chosen = Ann.occupancyBucketBits(df, "embedding", 12, 1, 12, t)
    assert(occ(chosen)._3 <= t &&
      (1 until chosen).forall(occ(_)._3 > t), s"chosen=$chosen")
    // ...and bbMax when nothing does
    assert(Ann.occupancyBucketBits(df, "embedding", 12, 1, 3, 0.5) == 3)
  }

  test("the sketch width is only the chooser's ceiling: buckets at " +
    "bb <= 20 are identical under a 20-bit and a 40-bit sketch") {
    // the round-15 SCALING lesson behind widening the refdim sweep's
    // sketch: plane j's bit does not depend on how many planes exist,
    // so a wider sketch masks to the SAME buckets at every old width —
    // widening can never change an already-chosen geometry, only
    // allow finer ones
    val rows = (0 until 64).map { i =>
      val a = i * 0.197
      (i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat,
        math.cos(3 * a).toFloat, math.sin(5 * a).toFloat))
    }
    val df = vecsDf(rows: _*)
    for (bb <- Seq(1, 7, 16, 20)) {
      val narrow = Ann.srpBucketIndex(df, "vec_id", "embedding", 20, bb)
        .select("vec_id", "bucket")
        .orderBy("vec_id").as[(Long, Long)].collect().toSeq
      val wide = Ann.srpBucketIndex(df, "vec_id", "embedding", 40, bb)
        .select("vec_id", "bucket")
        .orderBy("vec_id").as[(Long, Long)].collect().toSeq
      assert(narrow == wide, s"bb=$bb: bucket assignment moved")
    }
    // and the occupancy tables agree row-for-row over the shared range
    val o20 = Ann.bucketOccupancy(df, "embedding", 20, 1, 20).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    val o40 = Ann.bucketOccupancy(df, "embedding", 40, 1, 40).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    (1 to 20).foreach(bb => assert(o20(bb) == o40(bb), s"bb=$bb"))
  }

  test("buildKnnGraphAdaptive equals buildKnnGraph at the chosen width") {
    val rows = (0 until 48).map { i =>
      val a = i * 0.53
      (i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat,
        math.cos(2 * a).toFloat, math.sin(5 * a).toFloat))
    }
    val df = vecsDf(rows: _*)
    val bb = Ann.occupancyBucketBits(df, "embedding", 12, 1, 12, 8.0)
    val adaptive = Ann.buildKnnGraphAdaptive(df, "vec_id", "embedding",
        bits = 12, bbMin = 1, bbMax = 12, degree = 3,
        targetSizeBiased = 8.0)
      .as[(Long, Long)].collect().toSeq.sorted
    val manual = Ann.buildKnnGraph(df, "vec_id", "embedding",
        bits = 12, bucketBits = bb, degree = 3)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(adaptive == manual && adaptive.nonEmpty)
  }

  /** The CHECKED update: [[Ann.updateKnnGraph]]'s sidecar plus the
    * drift verdict over the re-sketched histogram of base ∪ delta. */
  private def checkedUpdate(base: org.apache.spark.sql.DataFrame,
                            delta: org.apache.spark.sql.DataFrame,
                            bucketBits: Int, target: Double)
      : (org.apache.spark.sql.DataFrame, Ann.GraphMaintenance) =
    (Ann.updateKnnGraph(base, delta, "vec_id", "embedding", bits = 12,
        bucketBits = bucketBits, degree = 2),
      verdictOf(base.unionByName(delta), bucketBits, 1, 12, target))

  /** The drift verdict over `corpus`'s re-sketched fine histogram. */
  private def verdictOf(corpus: org.apache.spark.sql.DataFrame,
                        currentBits: Int, bbMin: Int, bbMax: Int,
                        target: Double = Ann.DefaultTargetSizeBiased)
      : Ann.GraphMaintenance =
    Ann.maintenanceFromOcc(Ann.occupancyAndCount(
        Ann.fineOccupancyHistogram(corpus, "embedding", 12, bbMax),
        bbMin, bbMax)._1, currentBits, target)

  test("checked update: sidecar identical to updateKnnGraph, " +
      "verdict reads the combined occupancy table") {
    val base = emb // ids 1..6
    val delta = vecsDf((10L, Seq(10f, 0.5f)), (11L, Seq(0.5f, 10f)))
    val plain = Ann.updateKnnGraph(base, delta, "vec_id", "embedding",
        bits = 12, bucketBits = 2, degree = 2)
      .as[(Long, Long)].collect().toSeq.sorted
    val (sidecar, verdict) = checkedUpdate(base, delta, bucketBits = 2,
      target = 2.0)
    assert(sidecar.as[(Long, Long)].collect().toSeq.sorted == plain)
    // the verdict's numbers ARE the combined index's occupancy rows
    val combined = base.unionByName(delta)
    val occ = Ann.bucketOccupancy(combined, "embedding", 12, 1, 12)
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(verdict.currentBits == 2 &&
      verdict.currentLoad == occ(2) &&
      verdict.chosenLoad == occ(verdict.chosenBits))
    // chosen = smallest width under target (or bbMax), and rebucket
    // fires exactly when the FROZEN width's load exceeds target
    val wantChosen = (1 to 12).find(occ(_) <= 2.0).getOrElse(12)
    assert(verdict.chosenBits == wantChosen)
    assert(verdict.rebucket == (occ(2) > 2.0))
    // an in-target frozen width yields a calm verdict
    val calm = verdictOf(combined, currentBits = 12, bbMin = 1,
      bbMax = 12, target = 1e9)
    assert(!calm.rebucket && calm.chosenBits == 1)
    // currentBits outside the candidate range fails fast
    intercept[IllegalArgumentException] {
      verdictOf(combined, currentBits = 13, bbMin = 1, bbMax = 12)
    }
  }

  test("histogram fold is split-invariant: any partition of the corpus " +
      "folds to the from-scratch histogram and decision table") {
    // 48 ring vectors, split three unequal ways — the additive-sketch
    // property the O(delta) maintenance path rests on must hold for
    // ANY batch boundary, not just the fixtures' halves
    val rows = (0 until 48).map { i =>
      val a = i * 0.37
      (i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat,
        math.cos(2 * a).toFloat, math.sin(5 * a).toFloat))
    }
    val df = vecsDf(rows: _*)
    val parts = Seq(
      df.filter(col("vec_id") < 7),
      df.filter(col("vec_id") >= 7 && col("vec_id") < 30),
      df.filter(col("vec_id") >= 30))
    val folded = parts
      .map(Ann.fineOccupancyHistogram(_, "embedding", 12, 12))
      .reduce(Ann.foldOccupancyHistogram)
    val scratch = Ann.fineOccupancyHistogram(df, "embedding", 12, 12)
    assert(folded.as[(Long, Long)].collect().toSeq.sorted ==
      scratch.as[(Long, Long)].collect().toSeq.sorted)
    // and the whole decision table downstream agrees
    val a = Ann.occupancyFromHistogram(folded, 1, 12).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    val b = Ann.bucketOccupancy(df, "embedding", 12, 1, 12).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    assert(a == b)
    // an empty delta is the fold's identity
    val empty = Ann.fineOccupancyHistogram(
      df.filter(col("vec_id") < 0), "embedding", 12, 12)
    assert(Ann.foldOccupancyHistogram(scratch, empty)
      .as[(Long, Long)].collect().toSeq.sorted ==
      scratch.as[(Long, Long)].collect().toSeq.sorted)
  }

  test("fineBucketNearDupReps: collapses same-fine-bucket near-dups " +
      "to the smallest id, leaves separated or dissimilar rows alone") {
    // cluster A: 3 near-identical vectors (same bucket at any width);
    // cluster B: 2 near-identical; id 30 similar to A but OPPOSITE
    // sign on one strong component -> different fine bucket (the tier
    // must NOT collapse what the sketch can separate)
    val emb = vecsDf(
      (10L, Seq(10f, 0.1f, 0f, 0f)), (11L, Seq(10f, 0.11f, 0f, 0f)),
      (12L, Seq(10f, 0.09f, 0f, 0f)),
      (20L, Seq(0f, 0f, 10f, 0.1f)), (21L, Seq(0f, 0f, 10f, 0.11f)),
      (30L, Seq(10f, -9f, 0f, 0f)))
    val reps = Ann.fineBucketNearDupReps(emb, "vec_id", "embedding",
        bits = 12, fineBits = 12, tau = 0.95)
      .as[(Long, Long)].collect().toMap
    assert(reps(10L) == 10L && reps(11L) == 10L && reps(12L) == 10L)
    assert(reps(20L) == 20L && reps(21L) == 20L)
    // 30's cosine to the A rows is ~0.74 < tau even if co-bucketed,
    // and its bucket differs: it stays its own rep either way
    assert(reps(30L) == 30L)
    assert(reps.size == 6)
    // the guard trips on a hot fine bucket instead of going quadratic
    val e = intercept[Exception] {
      Ann.fineBucketNearDupReps(emb, "vec_id", "embedding",
        bits = 12, fineBits = 12, tau = 0.95, maxBucketRows = 2)
        .count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("fineBucketNearDupReps")), msgs(e))
  }

  test("fineBucketNearDupReps: similarity CHAINS resolve to a " +
      "fixpoint — every rep_id is a kept id, no dangling sidecar") {
    // a 3-link chain: angles θ, θ+25°, θ+50° in the xy-plane, so
    // cos(a,b) = cos(b,c) = cos 25° ≈ 0.906 ≥ τ=0.9 but
    // cos(a,c) = cos 50° ≈ 0.643 < τ. One hop would point c at the
    // DROPPED b (rep(c)=b, rep(b)=a) and c's sidecar would dangle at
    // a vector the build removed; the fixpoint walks c → b → a. The
    // fixture SEARCHES base angles for the first triple the sketch
    // co-buckets at the fine width (the tier only collapses inside
    // the fine bucket), so the test is robust to the hash family.
    def triple(baseDeg: Int): Seq[(Long, Seq[Float])] =
      Seq(0, 25, 50).zipWithIndex.map { case (off, i) =>
        val a = math.toRadians(baseDeg + off)
        (baseDeg * 10L + 1 + i,
          Seq(math.cos(a).toFloat, math.sin(a).toFloat, 0f, 0f))
      }
    val all = vecsDf((0 until 90).flatMap(triple): _*)
    val buckets = Ann
      .srpBucketIndex(all, "vec_id", "embedding", bits = 12,
        bucketBits = 4)
      .select("vec_id", "bucket")
      .as[(Long, Long)].collect().toMap
    val base = (0 until 90).find { t =>
      buckets(t * 10L + 1) == buckets(t * 10L + 2) &&
        buckets(t * 10L + 2) == buckets(t * 10L + 3)
    }
    assert(base.isDefined,
      "no co-bucketed chain triple in the angle sweep — rehash fixture")
    val ids = (1 to 3).map(base.get * 10L + _)
    val reps = Ann.fineBucketNearDupReps(vecsDf(triple(base.get): _*),
        "vec_id", "embedding", bits = 12, fineBits = 4, tau = 0.9)
      .as[(Long, Long)].collect().toMap
    // transitive collapse: b and c both land on a (a is the only kept
    // row), even though cos(a,c) < τ — c reaches a through ≥ τ hops
    assert(reps(ids(0)) == ids(0) && reps(ids(1)) == ids(0) &&
      reps(ids(2)) == ids(0), reps)
    // the structural invariant the sidecar contract needs: every
    // rep_id is itself a kept id (rep of rep == rep)
    val kept = reps.collect { case (id, r) if id == r => id }.toSet
    assert(reps.values.forall(kept.contains), reps)
  }

  test("updateNearDupReps: incremental tier update over an accretion " +
      "sequence equals the batch rebuild, chains resolved through " +
      "the persisted sidecar") {
    // the angle-sweep chain triple (see the fixpoint test above), but
    // ACCRETED: base = {a}, delta1 = {b}, delta2 = {c}. c's one-hop
    // rep is b — a DROPPED existing row — so the resolution must go
    // through the persisted base sidecar (b → a), the path a batch
    // rebuild takes via pointer-jumping. Plus a second cluster that
    // arrives whole inside one delta (internal chain resolution).
    def triple(baseDeg: Int): Seq[(Long, Seq[Float])] =
      Seq(0, 25, 50).zipWithIndex.map { case (off, i) =>
        val a = math.toRadians(baseDeg + off)
        (baseDeg * 10L + 1 + i,
          Seq(math.cos(a).toFloat, math.sin(a).toFloat, 0f, 0f))
      }
    val buckets = Ann
      .srpBucketIndex(vecsDf((0 until 90).flatMap(triple): _*),
        "vec_id", "embedding", bits = 12, bucketBits = 4)
      .select("vec_id", "bucket")
      .as[(Long, Long)].collect().toMap
    val t = (0 until 90).find { t =>
      buckets(t * 10L + 1) == buckets(t * 10L + 2) &&
        buckets(t * 10L + 2) == buckets(t * 10L + 3)
    }
    assert(t.isDefined,
      "no co-bucketed chain triple in the angle sweep — rehash fixture")
    val Seq(a0, b0, c0) = triple(t.get)
    // re-key so ids are monotone with arrival (no crossings) and a
    // same-delta pair exists: delta2 carries c (chain tail) AND a
    // near-identical mate of c (internal one-hop within the delta)
    val aV = (1L, a0._2); val bV = (2L, b0._2)
    val cV = (3L, c0._2)
    val cMate = (4L, c0._2.map(x => x * 1.0001f))
    val all = vecsDf(aV, bV, cV, cMate)
    val batch = Ann.fineBucketNearDupReps(all, "vec_id", "embedding",
        bits = 12, fineBits = 4, tau = 0.9)
      .as[(Long, Long)].collect().toMap
    // the accretion: persisted artifacts carried between steps
    var index = Ann.srpBucketIndex(vecsDf(aV), "vec_id", "embedding",
      bits = 12, bucketBits = 4).localCheckpoint()
    var sidecar = Ann.fineBucketNearDupReps(vecsDf(aV), "vec_id",
      "embedding", bits = 12, fineBits = 4, tau = 0.9).localCheckpoint()
    var crossTotal = 0L
    for (delta <- Seq(vecsDf(bV), vecsDf(cV, cMate))) {
      val (rows, crossings) = Ann.updateNearDupReps(index, sidecar,
        delta, "vec_id", "embedding", bits = 12, fineBits = 4,
        tau = 0.9)
      crossTotal += crossings.count()
      sidecar = sidecar
        .join(rows.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(rows).localCheckpoint()
      index = index.unionByName(Ann.srpBucketIndex(delta, "vec_id",
        "embedding", bits = 12, bucketBits = 4)).localCheckpoint()
    }
    assert(crossTotal == 0L)
    val inc = sidecar.as[(Long, Long)].collect().toMap
    assert(inc == batch, s"inc=$inc batch=$batch")
    // the chain semantics the equality is made of: c collapsed to a
    // THROUGH dropped b; the same-delta mate collapsed to c's rep
    assert(inc(3L) == 1L && inc(4L) == 1L && inc(2L) == 1L)
  }

  test("updateNearDupReps: an id-order CROSSING is repaired exactly " +
      "and reported as the repair-mass meter") {
    // delta row 1 undercuts existing rows 2 and 3 (same fine bucket,
    // cos ≈ 1 ≥ tau, smaller id arriving later): a rebuild re-points
    // the whole bucket at 1 — the update recomputes the crossing
    // bucket wholesale (chains are bucket-local), so the upsert rows
    // REPLACE 2's and 3's old entries, and both pairs are reported
    val base = vecsDf((2L, Seq(10f, 0f, 0f, 0f)),
      (3L, Seq(10.02f, 0f, 0f, 0f)))
    val delta = vecsDf((1L, Seq(10.01f, 0f, 0f, 0f)))
    val index = Ann.srpBucketIndex(base, "vec_id", "embedding",
      bits = 12, bucketBits = 12)
    val sidecar = Ann.fineBucketNearDupReps(base, "vec_id",
      "embedding", bits = 12, fineBits = 12, tau = 0.9)
    // pre-state: 3 collapsed onto 2 (smallest id then)
    assert(sidecar.as[(Long, Long)].collect().toMap ==
      Map(2L -> 2L, 3L -> 2L))
    val (rows, crossings) = Ann.updateNearDupReps(index, sidecar,
      delta, "vec_id", "embedding", bits = 12, fineBits = 12,
      tau = 0.9)
    // the repair recomputes the bucket: 1 is now the rep of all three
    assert(rows.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(crossings.as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (1L, 3L)))
    // upsert ≡ batch rebuild on base ∪ delta
    val upserted = sidecar
      .join(rows.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(rows)
    val batch = Ann.fineBucketNearDupReps(
      vecsDf((1L, Seq(10.01f, 0f, 0f, 0f)),
        (2L, Seq(10f, 0f, 0f, 0f)), (3L, Seq(10.02f, 0f, 0f, 0f))),
      "vec_id", "embedding", bits = 12, fineBits = 12, tau = 0.9)
    assert(upserted.as[(Long, Long)].collect().toMap ==
      batch.as[(Long, Long)].collect().toMap)
    // the wrong-width geometry guard fires on a stale persisted index
    val wide = base.select(col("vec_id"), col("embedding"),
      lit(70000L).as("bucket")) // >= 2^12: another width's bucket
    val e = intercept[Exception] {
      Ann.updateNearDupReps(wide, sidecar, delta, "vec_id",
        "embedding", bits = 12, fineBits = 12, tau = 0.9)
        ._1.count()
    }
    def msgs(th: Throwable): Seq[String] =
      if (th == null) Nil
      else Option(th.getMessage).toSeq ++ msgs(th.getCause)
    assert(msgs(e).exists(_.contains("different width")), msgs(e))
  }

  /** Seeded 8-d vectors with planted near-duplicate CHAINS: each chain
    * starts at a random point and every link adds a small random step
    * (of three sizes), so neighbours are near-duplicates at different
    * thresholds and chain ends may not be; plus unrelated singletons. */
  private def chainedEmb(seed: Int): org.apache.spark.sql.DataFrame = {
    val rng = new scala.util.Random(seed)
    val chains = (0 until 12).flatMap { c =>
      var v = Array.fill(8)(rng.nextGaussian())
      (0 until 4).map { j =>
        val step = Seq(0.05, 0.15, 0.3)(rng.nextInt(3))
        if (j > 0) v = v.map(_ + rng.nextGaussian() * step)
        (c * 10L + j, v.map(_.toFloat).toSeq)
      }
    }
    val singles = (0 until 10).map(i =>
      (500L + i, Seq.fill(8)(rng.nextGaussian().toFloat)))
    vecsDf(chains ++ singles: _*)
  }

  test("nearDupRepsFromPairs over fineBucketScoredPairs at tauMin " +
      "equals fineBucketNearDupReps at every tau >= tauMin") {
    val emb = chainedEmb(seed = 23)
    val tauMin = 0.8
    val pairs = Ann.fineBucketScoredPairs(emb, "vec_id", "embedding",
      bits = 12, fineBits = 3, tauMin = tauMin).localCheckpoint()
    val collapsed = for (tau <- Seq(tauMin, 0.9, 0.97)) yield {
      val got = Ann.nearDupRepsFromPairs(emb.select("vec_id"), pairs,
        "vec_id", tau).as[(Long, Long)].collect().toMap
      val want = Ann.fineBucketNearDupReps(emb, "vec_id", "embedding",
        bits = 12, fineBits = 3, tau = tau).as[(Long, Long)].collect().toMap
      assert(got == want, s"tau=$tau")
      got.count { case (id, rep) => id != rep }
    }
    // the planted chains make each threshold collapse a different set
    assert(collapsed == collapsed.sorted.reverse &&
      collapsed.distinct.size == 3, collapsed)
  }

  test("fineBucketScoredPairs raises its error when a fine bucket " +
      "exceeds maxBucketRows, and runs at a bound the largest meets") {
    val emb = chainedEmb(seed = 23)
    val largest = Ann.srpBucketIndex(emb, "vec_id", "embedding",
        bits = 12, bucketBits = 3)
      .groupBy("bucket").count().agg(max("count")).as[Long].head()
    def pairs(bound: Long) = Ann.fineBucketScoredPairs(emb, "vec_id",
      "embedding", bits = 12, fineBits = 3, tauMin = 0.8,
      maxBucketRows = bound).count()
    val e = intercept[Exception](pairs(largest - 1))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains(
      s"fineBucketScoredPairs: fine bucket of $largest rows exceeds " +
        s"maxBucketRows=${largest - 1}")), msgs(e))
    assert(pairs(largest) > 0)
  }

  test("genRefDimCorpus keying: distinct ids up to 1000 copies, " +
      "prefix-stable, and a loud failure past the aliasing bound") {
    import graft.queries.VectorQueries
    // vec_id = doc·1000 + k: k = 999 is the last copy index that
    // cannot collide with the next document's k = 0
    val g1000 = VectorQueries.genRefDimCorpus(spark, copies = 1000)
      .localCheckpoint()
    assert(g1000.count() == g1000.select("vec_id").distinct().count(),
      "vec_id aliasing at 1000 copies")
    // the accretion-prefix property: the k < 40 slice is row-identical
    // to the 40-copy corpus the sealed fixtures were generated from
    val g40 = VectorQueries.genRefDimCorpus(spark, copies = 40)
      .localCheckpoint()
    val low = g1000.filter(pmod(col("vec_id"), lit(1000L)) < 40)
    assert(low.exceptAll(g40).isEmpty && g40.exceptAll(low).isEmpty)
    // one more copy would alias doc 1, k 1000 onto doc 2, k 0
    val e = intercept[IllegalArgumentException] {
      VectorQueries.genRefDimCorpus(spark, copies = 1001)
    }
    assert(e.getMessage.contains("copies = 1001"), e.getMessage)
  }

  test("updateKnnGraphIncremental: wrong-width persisted artifacts " +
      "fail fast instead of folding wrong") {
    val base = emb
    val delta = vecsDf((10L, Seq(10f, 0.5f)))
    val baseIndex = Ann.srpBucketIndex(base, "vec_id", "embedding",
      bits = 12, bucketBits = 2)
    val baseHist = Ann.fineOccupancyHistogram(base, "embedding",
      bits = 12, bbMax = 12)
    // a histogram persisted at a WIDER fine width than bbMax: its fb
    // values overflow 2^bbMax — the inline guard trips when the fold
    // materializes, still inside the call (the fold is checkpointed
    // eagerly), before anything consumes wrong data
    val wideHist = Ann.fineOccupancyHistogram(base, "embedding",
      bits = 16, bbMax = 16)
    def msgs2(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs2(t.getCause)
    val eh = intercept[Exception] {
      Ann.updateKnnGraphIncremental(baseIndex, wideHist, delta,
        "vec_id", "embedding", bits = 12, bucketBits = 2, degree = 2,
        bbMin = 1, bbMax = 12)
    }
    assert(msgs2(eh).exists(_.contains("different width")), msgs2(eh))
    // an index persisted at a WIDER bucket width: bucket values
    // overflow 2^bucketBits — the inline raise_error trips when the
    // union is consumed
    val wideIndex = Ann.srpBucketIndex(base, "vec_id", "embedding",
      bits = 12, bucketBits = 12)
    assert(wideIndex.agg(max("bucket")).head.getLong(0) >= 4L,
      "fixture: wide index must actually exceed 2 bits")
    val (sc2, _, _, _, _) = Ann.updateKnnGraphIncremental(wideIndex,
      baseHist, delta, "vec_id", "embedding", bits = 12, bucketBits = 2,
      degree = 2, bbMin = 1, bbMax = 12)
    val ei = intercept[Exception] { sc2.count() }
    assert(msgs2(ei).exists(_.contains("built at a different width")),
      msgs2(ei))
  }

  test("updateKnnGraphIncremental: O(delta) path identical to the " +
      "checked update — sidecar, folded histogram, and verdict") {
    val base = emb // ids 1..6, two clusters
    val delta = vecsDf((10L, Seq(10f, 0.5f)), (11L, Seq(0.5f, 10f)))
    val combined = base.unionByName(delta)
    // the persisted snapshot artifacts the incremental path consumes:
    // the base's bucket index at the frozen width and its fine
    // histogram at bbMax
    val baseIndex = Ann.srpBucketIndex(base, "vec_id", "embedding",
      bits = 12, bucketBits = 2)
    val baseHist = Ann.fineOccupancyHistogram(base, "embedding",
      bits = 12, bbMax = 12)
    val (incSidecar, folded, _, incVerdict, _) =
      Ann.updateKnnGraphIncremental(
        baseIndex, baseHist, delta, "vec_id", "embedding",
        bits = 12, bucketBits = 2, degree = 2, bbMin = 1, bbMax = 12,
        targetSizeBiased = 2.0)
    val (sidecar, verdict) = checkedUpdate(base, delta, bucketBits = 2,
      target = 2.0)
    assert(incSidecar.as[(Long, Long)].collect().toSeq.sorted ==
      sidecar.as[(Long, Long)].collect().toSeq.sorted)
    assert(incVerdict == verdict)
    // the folded histogram IS the combined corpus's from-scratch one
    val scratch = Ann.fineOccupancyHistogram(combined, "embedding",
        bits = 12, bbMax = 12)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(folded.as[(Long, Long)].collect().toSeq.sorted == scratch)
    // ...and its decision table equals bucketOccupancy's
    val fromHist = Ann.occupancyFromHistogram(folded, 1, 12)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    val direct = Ann.bucketOccupancy(combined, "embedding", 12, 1, 12)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    assert(fromHist == direct)
    // geometry mismatches fail fast (bucketBits beyond the histogram's
    // fine width would silently mis-mask)
    intercept[IllegalArgumentException] {
      Ann.updateKnnGraphIncremental(baseIndex, baseHist, delta,
        "vec_id", "embedding", bits = 12, bucketBits = 13, degree = 2,
        bbMin = 1, bbMax = 12)
    }
  }

  test("updateKnnGraphIncremental: the delta's index rows are " +
      "srpBucketIndex's and n counts base plus delta") {
    val base = emb // ids 1..6
    val delta = vecsDf((10L, Seq(10f, 0.5f)), (11L, Seq(0.5f, 10f)),
      (12L, Seq(7f, 7f)))
    val (_, _, deltaIdx, _, n) = Ann.updateKnnGraphIncremental(
      Ann.srpBucketIndex(base, "vec_id", "embedding", 12, 3),
      Ann.fineOccupancyHistogram(base, "embedding", 12, 12), delta,
      "vec_id", "embedding", bits = 12, bucketBits = 3, degree = 2,
      bbMin = 1, bbMax = 12)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "embedding", "bucket")
        .as[(Long, Seq[Float], Long)].collect().toSeq.sortBy(_._1)
    assert(rows(deltaIdx) ==
      rows(Ann.srpBucketIndex(delta, "vec_id", "embedding", 12, 3)))
    assert(n == base.count() + delta.count())
  }

  // ---- the occupancy table's driver twin -------------------------------

  /** Random fine histograms: distinct fb in [0, 2^bbMax), cnt >= 1,
    * 1 <= bbMin <= bbMax <= 12. */
  private def fineHists(seed: Int, n: Int)
      : Seq[(Seq[(Long, Long)], Int, Int)] = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val bbMax = 1 + rng.nextInt(12)
      val bbMin = 1 + rng.nextInt(bbMax)
      val fbs = Seq.fill(1 + rng.nextInt(40))(
        rng.nextInt(1 << bbMax).toLong).distinct
      // mostly small counts, some large, so buckets tie and skew
      (fbs.map(fb => (fb, 1L + (if (rng.nextInt(4) == 0)
        rng.nextInt(500) else rng.nextInt(4)))), bbMin, bbMax)
    }
  }

  private def occRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Int, Long, Long, Double)] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSeq.sorted

  test("occupancyFromCollected equals the distributed table, and " +
      "occupancyAndCount reads the same rows and total") {
    for ((hist, bbMin, bbMax) <- fineHists(seed = 41, n = 25)) {
      val fine = hist.toDF("fb", "cnt")
      val want = occRows(Ann.occupancyFromHistogram(fine, bbMin, bbMax))
      val ctx = s"hist=$hist bb=[$bbMin, $bbMax]"
      assert(Ann.occupancyFromCollected(hist, bbMin, bbMax).sorted == want,
        ctx)
      val (occ, total) = Ann.occupancyAndCount(fine, bbMin, bbMax)
      assert(occ.sorted == want.map(r => (r._1, r._4)), ctx)
      assert(total == hist.map(_._2).sum, ctx)
    }
  }

  test("occupancy tables round a size-biased tie HALF_UP; empty " +
      "histograms and tables fail fast") {
    // buckets {63, 1}: Σb²/Σb = 3970/64 = 62.03125 exactly
    val hist = Seq((0L, 63L), (1L, 1L))
    val want = Seq((1, 2L, 63L, 62.0313))
    assert(Ann.occupancyFromCollected(hist, 1, 1) == want)
    assert(occRows(Ann.occupancyFromHistogram(hist.toDF("fb", "cnt"),
      1, 1)) == want)
    intercept[IllegalArgumentException] {
      Ann.occupancyFromCollected(Seq.empty, 1, 3)
    }
    intercept[IllegalArgumentException] { Ann.chooseFromOcc(Seq.empty) }
  }

  // ---- walk equivalence: seeded random graphs --------------------------

  /** Runs `body` on both walk paths: under the session's settings,
    * where these small graphs fit the broadcast bound and take the
    * one-job walk, and with broadcast joins off, where they take the
    * per-round loop. */
  private def onBothPaths(body: String => Unit): Unit = {
    body("one-job")
    withBroadcastDisabled(body("loop"))
  }

  /** A plain-Scala beam walk, the rules every graph walk documents:
    * start from the entries present in `score`, then each round keep
    * the `beam` best of the visited set and add their out-neighbours
    * present in `score`. A None score is a null vector's. Returns the
    * final visited set. */
  private def refWalk(adj: Map[Long, Seq[Long]],
                      score: Map[Long, Option[Double]], entries: Seq[Long],
                      beam: Int, rounds: Int): Set[Long] = {
    var visited = entries.filter(score.contains).toSet
    for (_ <- 1 to rounds) {
      val b = ranked(visited, score).take(beam)
      visited ++= b.flatMap(adj.getOrElse(_, Nil)).filter(score.contains)
    }
    visited
  }

  /** Ids by score desc with null scores last, then id asc — the walks'
    * tie rule. */
  private def ranked(ids: Set[Long], score: Map[Long, Option[Double]])
      : Seq[Long] =
    ids.toSeq.sortWith { (x, y) =>
      (score(x), score(y)) match {
        case (Some(a), Some(b)) => a > b || (a == b && x < y)
        case (Some(_), None)    => true
        case (None, Some(_))    => false
        case (None, None)       => x < y
      }
    }

  /** The reference answer: (rank, id, score, nodes_touched) of the
    * `k` best visited nodes passing `pass`, and how many passed. */
  private def refTopK(adj: Map[Long, Seq[Long]],
                      score: Map[Long, Option[Double]], entries: Seq[Long],
                      beam: Int, rounds: Int, k: Int,
                      pass: Long => Boolean = _ => true)
      : (Seq[(Long, Long, Option[Double], Long)], Long) = {
    val visited = refWalk(adj, score, entries, beam, rounds)
    val passing = visited.filter(pass)
    (ranked(passing, score).take(k).zipWithIndex.map { case (id, i) =>
      (i + 1L, id, score(id), visited.size.toLong) }, passing.size.toLong)
  }

  /** Every query's cosine score per vector id (None for a null
    * vector), from the same expression the walks use. */
  private def cosineScores(vecs: org.apache.spark.sql.DataFrame,
                           qdf: org.apache.spark.sql.DataFrame)
      : Map[Long, Map[Long, Option[Double]]] =
    vecs.crossJoin(qdf)
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFunctions.cosineSim(col("embedding"),
          col("qe")).as("score"))
      .as[(Long, Long, Option[Double])].collect().groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(r => r._2 -> r._3).toMap }

  private case class WalkCase(vecs: org.apache.spark.sql.DataFrame,
                              graph: org.apache.spark.sql.DataFrame,
                              adj: Map[Long, Seq[Long]],
                              queries: Seq[(Long, Array[Float])],
                              entries: Seq[Long], beam: Int, rounds: Int,
                              k: Int)

  /** Small random graphs over 4-d vectors that are one of three
    * directions scaled by 1, 2 or 4: scaling by a power of two leaves
    * the cosine bit-identical, so many nodes tie on score and the
    * walks' id tie-break decides beams. */
  private def walkCases(seed: Int, n: Int): Seq[WalkCase] = {
    val rng = new scala.util.Random(seed)
    val comps = Seq(-2f, -1f, 1f, 2f)
    (1 to n).map { _ =>
      val size = 8 + rng.nextInt(12)
      val ids = (1 to size).map(_.toLong)
      val dirs = Seq.fill(3)(Seq.fill(4)(comps(rng.nextInt(4))))
      val vecs = vecsDf(ids.map { i =>
        val scale = Seq(1f, 2f, 4f)(rng.nextInt(3))
        (i, dirs(rng.nextInt(3)).map(_ * scale))
      }: _*)
      val adj = ids.map(s => s -> rng.shuffle(ids.filter(_ != s))
        .take(1 + rng.nextInt(3))).toMap
      val graph = adj.toSeq.flatMap { case (s, ds) => ds.map(s -> _) }
        .toDF("src", "dst")
      val queries = (1 to 3).map(q => (q.toLong * 10,
        Array.fill(4)(rng.nextGaussian().toFloat)))
      WalkCase(vecs, graph, adj, queries,
        rng.shuffle(ids).take(1 + rng.nextInt(3)),
        beam = 1 + rng.nextInt(3), rounds = rng.nextInt(4),
        k = 1 + rng.nextInt(5))
    }
  }

  /** (rank, id, score, nodes_touched) rows of a walk result, per
    * query id when the result has a query_id column. */
  private def rows4(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Option[Double], Long)] =
    df.select(col("rank").cast("long"), col("vec_id"), col("score"),
        col("nodes_touched"))
      .as[(Long, Long, Option[Double], Long)].collect().toSeq.sortBy(_._1)

  private def byQuery(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Seq[(Long, Long, Option[Double], Long)]] =
    df.select(col("query_id"), col("rank").cast("long"), col("vec_id"),
        col("score"), col("nodes_touched"))
      .as[(Long, Long, Long, Option[Double], Long)].collect().toSeq
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(r => (r._2, r._3, r._4, r._5)).sortBy(_._1) }

  test("walk equivalence: single-query, filtered, var-beam and " +
      "multi-index walks equal their slice of graphBeamSearchBatch") {
    for (c <- walkCases(seed = 20261017, n = 4)) {
      val qdf = c.queries.toDF("query_id", "qe")
      // the plain-Scala walk over the same scores (same cosine
      // expression, so bit-identical doubles)
      val scores = cosineScores(c.vecs, qdf)
      onBothPaths { path =>
        val batch = byQuery(Ann.graphBeamSearchBatch(c.graph, c.vecs, qdf,
          "vec_id", "embedding", "query_id", c.entries, c.beam, c.rounds,
          c.k))
        for ((qid, qe) <- c.queries) {
          val (want, _) = refTopK(c.adj, scores(qid), c.entries, c.beam,
            c.rounds, c.k)
          assert(batch(qid) == want, s"$path: batch q$qid vs reference")
          val q1 = Seq(Tuple1(qe)).toDF("qe")
          assert(rows4(Ann.graphBeamSearch(c.graph, c.vecs, q1, "vec_id",
            "embedding", c.entries, c.beam, c.rounds, c.k)) == want,
            s"$path: graphBeamSearch q$qid")
          assert(rows4(Ann.graphBeamSearchFiltered(c.graph, c.vecs, q1,
            "vec_id", "embedding", c.entries, c.beam, c.rounds, c.k,
            pred = lit(true))) == want, s"$path: filtered q$qid")
        }
        val varBeam = byQuery(Ann.graphBeamSearchBatchVarBeam(c.graph,
          c.vecs, qdf.withColumn("beam", lit(c.beam)), "vec_id",
          "embedding", "query_id", "beam", c.entries, c.rounds, c.k))
        assert(varBeam == batch, s"$path: var-beam at a uniform beam")
        // one index, tagged per query: every query walks the same graph
        val ix = qdf.select(col("query_id"))
        val multi = byQuery(Ann.graphBeamSearchMultiIndex(
          c.graph.crossJoin(ix), c.vecs.crossJoin(ix), qdf,
          c.entries.toDF("vec_id").crossJoin(ix), "vec_id", "embedding",
          "query_id", c.beam, c.rounds, c.k))
        assert(multi == batch, s"$path: multi-index over one index")
      }
    }
  }

  /** Ids 1..12 on three 4-d directions scaled by 1 or 2 (so scores
    * tie), id 5 with a NULL vector; the graph also reaches 13 and 14,
    * which have no vector. */
  private def edgeCase(seed: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        Map[Long, Seq[Long]], org.apache.spark.sql.DataFrame) = {
    val rng = new scala.util.Random(seed)
    val dirs = Seq(Array(1f, 2f, -1f, 1f), Array(-2f, 1f, 1f, 1f),
      Array(1f, -1f, -2f, 2f))
    val vecs = (1L to 12L).map { i =>
      (i, if (i == 5L) null else dirs((i % 3).toInt).map(_ * (1 + i % 2)))
    }.toDF("vec_id", "embedding")
    val nodes = (1L to 14L)
    val adj = nodes.map(s => s -> rng.shuffle(nodes.filter(_ != s))
      .take(2 + rng.nextInt(2))).toMap
    val graph = adj.toSeq.flatMap { case (s, ds) => ds.map(s -> _) }
      .toDF("src", "dst")
    val qdf = (1 to 3).map(q => (q.toLong,
      Array.fill(4)(rng.nextGaussian().toFloat))).toDF("query_id", "qe")
    (vecs, graph, adj, qdf)
  }

  test("walk edge cases on both paths: edges to nodes without a " +
      "vector, an absent entry, a null vector, rounds = 0 and a " +
      "filter most nodes fail all equal the plain-Scala walk") {
    val (vecs, graph, adj, qdf) = edgeCase(seed = 11)
    val scores = cosineScores(vecs, qdf)
    val qes = qdf.as[(Long, Array[Float])].collect().toSeq
    // 99 has no vector; 5's vector is null (scored null, ranked last)
    val entries = Seq(99L, 5L, 2L)
    val pass = (id: Long) => id % 4 == 0
    for ((beam, rounds) <- Seq((2, 0), (2, 3), (1, 2), (3, 1))) {
      onBothPaths { path =>
        val ctx = s"$path beam=$beam rounds=$rounds"
        val batch = byQuery(Ann.graphBeamSearchBatch(graph, vecs, qdf,
          "vec_id", "embedding", "query_id", entries, beam, rounds, 4))
        for ((qid, qe) <- qes) {
          val (want, _) = refTopK(adj, scores(qid), entries, beam, rounds, 4)
          assert(batch(qid) == want, s"$ctx: batch q$qid")
          val (wantF, nPass) = refTopK(adj, scores(qid), entries, beam,
            rounds, 4, pass)
          val filtered = Ann.graphBeamSearchFiltered(graph, vecs,
              Seq(Tuple1(qe)).toDF("qe"), "vec_id", "embedding", entries,
              beam, rounds, 4, pred = col("vec_id") % 4 === 0)
          assert(rows4(filtered) == wantF, s"$ctx: filtered q$qid")
          assert(filtered.select("passed_visited").as[Long].collect()
            .forall(_ == nPass), s"$ctx: passed_visited q$qid")
        }
      }
    }
  }

  test("walk edge cases on both paths: duplicate vector ids give the " +
      "loop's answer; a width mismatch throws; schemas are identical") {
    val (vecs, graph, _, qdf) = edgeCase(seed = 12)
    val dup = vecs.unionByName(
      Seq((3L, Array(2f, 1f, 0f, 1f))).toDF("vec_id", "embedding"))
    def walk(v: org.apache.spark.sql.DataFrame) =
      byQuery(Ann.graphBeamSearchBatch(graph, v, qdf, "vec_id",
        "embedding", "query_id", Seq(3L, 1L), beam = 2, rounds = 2, k = 5))
    // id 3 is an entry, so both of its rows are visited
    assert(walk(dup) == withBroadcastDisabled(walk(dup)))

    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val narrow = Seq((1L, Array(1f, 0f, 0f))).toDF("query_id", "qe")
    onBothPaths { path =>
      val e = intercept[Exception] {
        Ann.graphBeamSearchBatch(graph, vecs, narrow, "vec_id",
          "embedding", "query_id", Seq(1L, 2L), beam = 2, rounds = 1,
          k = 3).collect()
      }
      assert(causes(e).exists {
        case a: IllegalArgumentException =>
          a.getMessage.contains("vector dimensions differ: 4 vs 3")
        case _ => false
      }, s"$path: ${causes(e).map(_.toString)}")
    }

    val q1 = qdf.limit(1).select("qe")
    def walks(): Seq[org.apache.spark.sql.DataFrame] = Seq(
      Ann.graphBeamSearch(graph, vecs, q1, "vec_id", "embedding",
        Seq(1L), 2, 1, 3),
      Ann.graphBeamSearchFiltered(graph, vecs, q1, "vec_id", "embedding",
        Seq(1L), 2, 1, 3, pred = col("vec_id") > 2),
      Ann.graphBeamSearchBatch(graph, vecs, qdf, "vec_id", "embedding",
        "query_id", Seq(1L), 2, 1, 3),
      Ann.graphBeamSearchBatchVarBeam(graph, vecs,
        qdf.withColumn("beam", col("query_id").cast("int")), "vec_id",
        "embedding", "query_id", "beam", Seq(1L), 1, 3))
    val oneJob = walks().map(_.schema)
    assert(oneJob == withBroadcastDisabled(walks().map(_.schema)))
  }

  test("a 16-query batch walk over a small graph runs in exactly 1 " +
      "Spark job under default settings, from a local or a parquet " +
      "query frame") {
    val rng = new scala.util.Random(3)
    val n = 200
    val vecs = vecsDf((1 to n).map(i =>
      (i.toLong, Seq.fill(8)(rng.nextGaussian().toFloat))): _*)
    val graph = (1 to n).flatMap(s =>
      Seq.fill(4)((s.toLong, 1L + rng.nextInt(n)))).toDF("src", "dst")
    val qdf = (1 to 16).map(q =>
      (q.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("query_id", "qe")
    val qDir = java.nio.file.Files.createTempDirectory("graft_walk_q")
      .resolve("q").toString
    qdf.write.parquet(qDir)
    // read (and its schema inferred) before any job is counted
    val qParquet = spark.read.parquet(qDir)
    def walk(q: org.apache.spark.sql.DataFrame): Seq[Row] =
      Ann.graphBeamSearchBatch(graph, vecs, q, "vec_id", "embedding",
        "query_id", Seq(1L, 2L, 3L), beam = 4, rounds = 3, k = 5)
        .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
    var local, fromParquet: Seq[Row] = Nil
    val localJobs = jobsOf { local = walk(qdf) }
    val parquetJobs = jobsOf { fromParquet = walk(qParquet) }
    assert(local.map(_.getLong(0)).distinct.length == 16)
    assert(fromParquet == local)
    assert(localJobs == 1, s"one-job walk ran $localJobs jobs")
    assert(parquetJobs == 1,
      s"one-job walk over a parquet query frame ran $parquetJobs jobs")
    // the counter sees the loop's one job per round
    val loop = withBroadcastDisabled(jobsOf(walk(qdf)))
    assert(loop > 3, s"per-round loop ran $loop jobs")
  }

  test("walk equivalence: graphBeamWalkPq's scored visited set equals " +
      "the PQ-scored reference walk of every query") {
    val rng = new scala.util.Random(7)
    for (c <- walkCases(seed = 99, n = 3)) {
      // coarse random codebooks (m = 2, k = 3): ADC ties are common
      val model = Pq.PqModel(2, Array.fill(2, 3, 2)(
        (rng.nextInt(5) - 2).toFloat))
      val codes = Pq.encode(c.vecs, "vec_id", "embedding", model)
      for ((qid, qe) <- c.queries) {
        val s = codes.select(col("vec_id"),
            negate(Pq.adcDistance(col("codes"), qe, model)).as("score"))
          .as[(Long, Option[Double])].collect().toMap
        val want = refWalk(c.adj, s, c.entries, c.beam, c.rounds)
          .toSeq.map(id => id -> s(id)).sortBy(_._1)
        val got = Ann.graphBeamWalkPq(c.graph, codes, qe, model,
            "vec_id", c.entries, c.beam, c.rounds)
          .select(col("vec_id"), col("score"))
          .as[(Long, Option[Double])].collect().toSeq.sortBy(_._1)
        assert(got == want, s"pq walk q$qid")
      }
    }
  }

  // ---- the equality gates: symDiffCountAll / symDiffCountDistinct ------

  /** Random (a, b) frame pairs over a 3×3 key space with duplicate
    * rows, null keys and empty sides. */
  private def gatePairs(seed: Int, n: Int)
      : Seq[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] = {
    val rng = new scala.util.Random(seed)
    def side(): org.apache.spark.sql.DataFrame = {
      val size = if (rng.nextInt(5) == 0) 0 else rng.nextInt(9)
      Seq.fill(size)((rng.nextInt(3).toLong,
        Seq(Some("x"), Some("y"), None)(rng.nextInt(3))))
        .toDF("k", "tag")
    }
    (1 to n).map(_ => (side(), side()))
  }

  test("symDiffCountAll counts the multiset symmetric difference " +
      "(exceptAll both ways)") {
    for ((a, b) <- gatePairs(seed = 31, n = 25)) {
      val want = a.exceptAll(b).unionByName(b.exceptAll(a)).count()
      assert(Ann.symDiffCountAll(a, b) == want,
        s"a=${a.collect().toSeq} b=${b.collect().toSeq}")
    }
  }

  test("symDiffCountDistinct counts the set symmetric difference " +
      "(except both ways)") {
    for ((a, b) <- gatePairs(seed = 32, n = 25)) {
      val want = a.except(b).unionByName(b.except(a)).count()
      assert(Ann.symDiffCountDistinct(a, b) == want,
        s"a=${a.collect().toSeq} b=${b.collect().toSeq}")
    }
  }
}
