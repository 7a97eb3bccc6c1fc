package graft

import graft.operators.TextSearch
import org.apache.spark.sql.functions._

class TextSearchSpec extends SparkSpec {
  import spark.implicits._

  private def docs = docsDf(
    (1L, "spark joins data with hash joins and merge joins"),
    (2L, "hash tables power the hash join"),
    (3L, "streams of events flow into windows"),
    (4L, "completely unrelated prose about gardens"))

  test("bm25: docs matching more/rarer query terms rank higher") {
    val got = TextSearch.bm25Scores(docs, "doc_id", "text",
        Seq("hash", "joins"))
      .orderBy(col("score").desc, col("doc_id")).limit(4)
      .select("doc_id").as[Long].collect().toSeq
    // doc 1 has both terms (joins x3, hash x1); doc 2 only "hash" (x2);
    // docs 3/4 match nothing and must be absent entirely
    assert(got == Seq(1L, 2L))
  }

  test("bm25 term frequency saturates (k1): tf 10x does not score 10x") {
    val rep = docsDf(
      (1L, ("hash " * 10).trim + " filler words here"),
      (2L, "hash filler words here"))
    val scores = TextSearch.bm25Scores(rep, "doc_id", "text", Seq("hash"))
      .orderBy("doc_id").select("score").as[Double].collect()
    assert(scores(0) > scores(1))
    assert(scores(0) / scores(1) < 3.0, "saturation failed")
  }

  test("bm25ScoresIndexed equals a plain-Scala BM25 to the last bit, " +
      "a zero-token document counting in N and avgdl") {
    val rng = new scala.util.Random(11)
    val vocab = Seq("hash", "join", "merge", "sort", "scan", "spill")
    val texts = (1 to 12).map(_ =>
      Seq.fill(1 + rng.nextInt(9))(vocab(rng.nextInt(vocab.size)))
        .mkString(" ")) :+ "   "
    val corpus = texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }
    val index = TextSearch.buildBm25Index(docsDf(corpus: _*), "doc_id",
      "text")
    try {
      val k1 = 1.2
      val b = 0.75
      val toks = corpus.map { case (id, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
      val n = toks.size.toLong
      val avgdl = toks.values.map(_.size.toDouble).sum / n
      def expected(terms: Seq[String]): Map[Long, Double] =
        toks.flatMap { case (id, ws) =>
          val parts = terms.distinct.filter(ws.contains).map { t =>
            val tf = ws.count(_ == t).toLong
            val df = toks.values.count(_.contains(t)).toLong
            // Spark's ln is StrictMath.log; Math.log may differ by an ulp
            val idf = StrictMath.log(1.0 + ((n - df) + 0.5) / (df + 0.5))
            idf * (tf * (k1 + 1)) /
              (tf + k1 * ((1 - b) + b * ws.size.toDouble / avgdl))
          }
          // two terms at most: a sum of two doubles is order-free
          if (parts.isEmpty) None else Some(id -> (0.0 +: parts).reduce(_ + _))
        }
      for (terms <- Seq(Seq("hash"), Seq("join", "spill"),
                        Seq("merge", "absent"))) {
        val got = TextSearch.bm25ScoresIndexed(index, terms)
          .as[(Long, Double)].collect().toMap
        assert(got == expected(terms), terms)
      }
      assert(toks(corpus.last._1).isEmpty && n == 13L)
    } finally index.release()
  }

  test("rrfFuse rewards presence in both rankings") {
    val a = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7)).toDF("doc_id", "score")
    val b = Seq((3L, 0.99), (2L, 0.5)).toDF("doc_id", "score")
    val got = TextSearch.rrfFuse(a, b, "doc_id", k = 3)
      .select("doc_id").as[Long].collect().toSeq
    // doc 3: 1/63 + 1/61 ≈ .03227 edges doc 2: 1/62 + 1/62 ≈ .03226
    // (convexity); both beat single-ranking doc 1: 1/61 ≈ .01639
    assert(got == Seq(3L, 2L, 1L))
  }

  test("subwordTokenEmbeddings: typo'd token lands near its clean form") {
    val emb = TextSearch.subwordTokenEmbeddings(
        Seq("stream", "streem", "customer").toDF("w"), 64)
      .as[(String, Long, Double)].collect()
    val m = emb.groupBy(_._1).map { case (w, rs) =>
      w -> rs.map(r => r._2 -> r._3).toMap
    }
    def cos(a: Map[Long, Double], b: Map[Long, Double]) =
      a.keySet.intersect(b.keySet).toSeq.map(k => a(k) * b(k)).sum
    // unit norms (sparse cells square-sum to 1)
    m.values.foreach(v =>
      assert(math.abs(v.values.map(x => x * x).sum - 1.0) < 1e-9))
    // shared char 3-grams dominate: streem ~ stream >> streem ~ customer
    assert(cos(m("streem"), m("stream")) > 0.5)
    assert(cos(m("streem"), m("stream")) >
      cos(m("streem"), m("customer")) + 0.3)
  }

  test("maxSimSearch: typo'd query still ranks the matching doc first") {
    val corpus = docsDf(
      (1L, "stream window customer data"),
      (2L, "join hash scan filter merge"),
      (3L, "customer order value table"))
    val got = TextSearch.maxSimSearch(corpus, "doc_id", "text",
        Seq("streem", "windw", "customer"), dim = 64, k = 3)
      .as[(Long, Double)].collect().toMap
    // doc 1 matches all three query tokens (two via subword fuzz);
    // doc 3 only "customer"; doc 2 none of them outright
    assert(got(1L) > got(3L))
    assert(got.getOrElse(2L, 0.0) < got(3L))
    // every contribution is clamped at 0 -> scores are non-negative
    got.values.foreach(s => assert(s >= 0.0))
  }

  test("tokenizer parity table: naturalWordTokens reproduces the npm " +
      "boundary rule where whitespace words() deliberately diverges") {
    import graft.functions.TextFunctions.{naturalWordTokens, words}
    // the round-15 divergence table (verdict stretch item): each row
    // is (input, npm-rule tokens, whitespace tokens) — the npm rule
    // from the public `natural` WordTokenizer source (split on every
    // non-[A-Za-zА-Яа-я0-9_]); the engine's O18 path keeps whitespace
    // semantics deliberately (SQL-portable, unicode-stable) and this
    // table is the measured difference, not an accident
    val cases = Seq(
      // contractions split under the npm rule
      ("don't stop", Seq("don", "t", "stop"), Seq("don't", "stop")),
      // hyphens split
      ("state-of-the-art", Seq("state", "of", "the", "art"),
        Seq("state-of-the-art")),
      // decimals split
      ("pi is 3.14", Seq("pi", "is", "3", "14"),
        Seq("pi", "is", "3.14")),
      // unicode letters TRUNCATE under the npm class (é is outside)
      ("café au lait", Seq("caf", "au", "lait"),
        Seq("café", "au", "lait")),
      // unicode punctuation is a boundary for npm, glue for whitespace
      ("alpha—beta", Seq("alpha", "beta"), Seq("alpha—beta")),
      // underscores bind in both
      ("snake_case id", Seq("snake_case", "id"),
        Seq("snake_case", "id")),
      // cyrillic is inside the npm class
      ("привет world", Seq("привет", "world"),
        Seq("привет", "world")),
      // trailing punctuation stays on the whitespace token
      ("end. next", Seq("end", "next"), Seq("end.", "next")))
    val df = cases.map(_._1).toDF("text")
      .select(col("text"), naturalWordTokens(col("text")).as("npm"),
        words(col("text")).as("ws"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getSeq[String](1), r.getSeq[String](2))).toMap
    cases.foreach { case (in, npm, ws) =>
      assert(df(in)._1 == npm, s"npm rule on '$in': ${df(in)._1}")
      assert(df(in)._2 == ws, s"whitespace rule on '$in': ${df(in)._2}")
    }
  }
}
