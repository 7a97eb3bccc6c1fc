package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Every input the benchmark feeds the program, derived from the
  * workload seed alone: the same seed gives byte-identical corpora,
  * queries and vectors, and nothing is read from outside the checkout.
  */
object Gen {

  /** A corpus of `files` plain-text documents over a Zipf vocabulary.
    *
    * @param wordsPerChunk the engine's chunk size for this corpus;
    *   `docChunks` (words per document ÷ chunk size) is stated relative
    *   to it, because chunk count, not word count, sets the store size
    * @param dupShare share of the files that repeat an earlier file's
    *   text verbatim under a new name, so bulk load meets dedup hits
    */
  final case class CorpusSpec(files: Int, docChunks: Double,
                              wordsPerChunk: Int, overlap: Int,
                              dupShare: Double, vocab: Int = 6000,
                              zipfS: Double = 1.05) {
    val wordsPerDoc: Int = math.round(docChunks * wordsPerChunk).toInt
  }

  final case class Corpus(spec: CorpusSpec, names: Seq[String],
                          texts: Seq[String]) {
    /** The distinct chunk texts the engine must store after loading the
      * corpus: the chunker's sliding window, replayed independently. */
    def distinctChunks: Set[String] =
      texts.iterator.flatMap(t =>
        chunks(t, spec.wordsPerChunk, spec.overlap)).toSet

    def write(dir: Path): Unit = {
      Files.createDirectories(dir)
      names.zip(texts).foreach { case (n, t) =>
        Files.write(dir.resolve(n), t.getBytes(UTF_8))
      }
    }
  }

  /** Sliding word windows, `chunkSize` words advancing by
    * `chunkSize - overlap`; at least one window per text. */
  def chunks(text: String, chunkSize: Int, overlap: Int): Seq[String] = {
    val ws = text.trim.split("\\s+").filter(_.nonEmpty)
    val stride = chunkSize - overlap
    val n = 1 + math.ceil(math.max(0, ws.length - chunkSize).toDouble /
      stride).toInt
    (0 until n).map(i => ws.slice(i * stride, i * stride + chunkSize)
      .mkString(" "))
  }

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti",
    "vo", "be", "da", "fu", "gi", "ho", "ja", "pe", "zu", "qua", "xi",
    "yo", "wen")

  /** Vocabulary word for Zipf rank `r`: distinct, lowercase, space-free. */
  def word(r: Int): String = {
    val sb = new StringBuilder
    var x = r + syllables.length
    while (x > 0) { sb.append(syllables(x % syllables.length)); x /= syllables.length }
    sb.toString
  }

  final class Zipf(n: Int, s: Double, rng: scala.util.Random) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def corpus(seed: Long, spec: CorpusSpec, prefix: String): Corpus = {
    val rng = new scala.util.Random(seed)
    val zipf = new Zipf(spec.vocab, spec.zipfS, rng)
    // exactly round(files · dupShare) copies, so every seed stores the
    // same number of distinct chunks
    val copies = rng.shuffle((1 until spec.files).toVector)
      .take(math.round(spec.files * spec.dupShare).toInt).toSet
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val originals = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until spec.files) {
      if (copies(i)) texts += originals(rng.nextInt(originals.size))
      else { originals += text(zipf, rng, spec.wordsPerDoc); texts += originals.last }
    }
    Corpus(spec, (0 until spec.files).map(i => f"$prefix$i%03d.txt"),
      texts.toSeq)
  }

  /** `n` Zipf words, broken into lines of about a dozen words. */
  def text(zipf: Zipf, rng: scala.util.Random, n: Int): String = {
    val sb = new StringBuilder
    for (i <- 0 until n) {
      if (i > 0) sb.append(if (rng.nextInt(12) == 0) '\n' else ' ')
      sb.append(word(zipf.next()))
    }
    sb.toString
  }

  /** Query texts: half are a short run of words lifted from a stored
    * text (a query with on-topic hits and shared BM25 terms), half are
    * fresh Zipf draws. */
  def queries(seed: Long, texts: Seq[String], n: Int,
              vocab: Int = 6000, zipfS: Double = 1.05): Seq[String] = {
    val rng = new scala.util.Random(seed ^ 0x5eedL)
    val zipf = new Zipf(vocab, zipfS, rng)
    (0 until n).map { i =>
      val len = 3 + rng.nextInt(6)
      if (i % 2 == 0) {
        val ws = texts(rng.nextInt(texts.size)).split("\\s+")
        val at = rng.nextInt(math.max(1, ws.length - len))
        ws.slice(at, at + len).mkString(" ")
      } else text(zipf, rng, len).replace('\n', ' ')
    }
  }

  /** `n` unit vectors of width `dim` around `clusters` random unit
    * centres (Gaussian spread `sigma` per component), plus `nQueries`
    * query vectors drawn from the same mixture. */
  def clustered(seed: Long, n: Int, nQueries: Int, dim: Int, clusters: Int,
                sigma: Double): (Array[Array[Float]], Array[Array[Float]]) = {
    val rng = new scala.util.Random(seed ^ 0xa11L)
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val centres = Array.fill(clusters)(Array.fill(dim)(rng.nextGaussian()))
      .map(c => unit(c).map(_.toDouble))
    def draw(): Array[Float] = {
      val c = centres(rng.nextInt(clusters))
      unit(Array.tabulate(dim)(i => c(i) + sigma * rng.nextGaussian()))
    }
    (Array.fill(n)(draw()), Array.fill(nQueries)(draw()))
  }
}
