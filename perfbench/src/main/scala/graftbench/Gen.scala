package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Everything a workload feeds graft comes from
  * here, so the same seed always yields the same inputs.
  *
  * Documents are `Gen.DocWords`-word Zipf(1.0) draws over a fixed
  * `Gen.VocabSize`-word vocabulary whose ten most frequent words are
  * English stop words (so the text passes graft's quality and language
  * signals), with `lang` and `year` metadata and clustered `Gen.Dim`-d
  * embeddings.
  */
object Gen {
  val VocabSize = 5000
  val DocWords = 60
  val Dim = 64
  val Clusters = 32
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "de", "fr")

  private val Stop = IndexedSeq("the", "of", "and", "to", "in", "is", "that", "for", "with", "as")
  private val Cons = "bcdfghjklmnprstvz"
  private val Vow = "aeiou"

  /** Word of vocabulary rank `i` (0 = most frequent): a stop word for the
    * first ten ranks, else a three-syllable consonant-vowel word. */
  val vocab: IndexedSeq[String] = (0 until VocabSize).map { i =>
    if (i < Stop.size) Stop(i)
    else {
      val j = i - Stop.size
      (0 until 3).map { k =>
        val s = (j / math.pow(85, k).toInt) % 85
        s"${Cons(s / 5)}${Vow(s % 5)}"
      }.mkString
    }
  }

  private val zipfCdf: Array[Double] = {
    val w = (1 to VocabSize).map(r => 1.0 / r).toArray
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }

  /** A Zipf(1.0) draw of a vocabulary rank in [lo, VocabSize). */
  def zipfRank(rng: SplittableRandom, lo: Int = 0): Int = {
    val base = if (lo == 0) 0.0 else zipfCdf(lo - 1)
    val u = base + rng.nextDouble() * (1.0 - base)
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(VocabSize - 1, math.max(lo, if (i >= 0) i else -i - 1))
  }

  def words(rng: SplittableRandom, n: Int): String =
    (0 until n).map(_ => vocab(zipfRank(rng))).mkString(" ")

  /** Letters-only token unique to `n` (base-26), prefixed so it never
    * collides with a vocabulary word. */
  def uniqueToken(n: Long): String = {
    val sb = new StringBuilder("qx")
    var v = n
    do { sb += ('a' + (v % 26).toInt).toChar; v /= 26 } while (v > 0)
    sb.toString
  }

  final case class Doc(id: String, content: String, lang: String, year: Int,
                       embedding: Array[Float])

  /** Cluster centres of the embedding space (fixed per seed). */
  def centres(seed: Long): Array[Array[Double]] = {
    val rng = new SplittableRandom(seed * 31 + 7)
    Array.fill(Clusters)(Array.fill(Dim)(gauss(rng)))
  }

  def gauss(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = math.max(rng.nextDouble(), 1e-12)
    val u2 = rng.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  def embedding(rng: SplittableRandom, cs: Array[Array[Double]]): Array[Float] = {
    val c = cs(rng.nextInt(cs.length))
    Array.tabulate(Dim)(d => (c(d) + 0.35 * gauss(rng)).toFloat)
  }

  /** `n` documents with ids `d` + a zero-padded ordinal. */
  def docs(seed: Long, n: Int): IndexedSeq[Doc] = {
    val cs = centres(seed)
    (0 until n).map { i =>
      val rng = new SplittableRandom(seed * 1000003L + i)
      Doc(f"d$i%07d", words(rng, DocWords), Langs(rng.nextInt(Langs.size)),
        2000 + rng.nextInt(24), embedding(rng, cs))
    }
  }

  // --- curate_corpus pages ----------------------------------------------

  /** Site boilerplate shared by many pages (navigation and footer lines). */
  val Boiler: IndexedSeq[String] = IndexedSeq(
    "Home | News | Archive | About us | Contact",
    "Subscribe to our newsletter for weekly updates",
    "Copyright the example press and its partners. All rights reserved.",
    "Privacy policy | Terms of use | Cookie settings",
    "Share this article with friends and colleagues")

  final case class Page(uri: String, html: String)

  /** The planted structure of a generated crawl. */
  final case class Crawl(pages: IndexedSeq[Page], uniques: Int, exactCopies: Int,
                         nearCopies: Int, lowQuality: Int)

  /** A crawl of `n` pages: originals (each `bodyLines` lines of
    * `lineWords` words plus two boilerplate lines), exact copies and
    * near-copies (one word changed) of some originals, and short
    * low-quality pages the signal filter must drop. Every original
    * survives the pipeline, and nothing else does.
    */
  def crawl(seed: Long, n: Int, exactShare: Double, nearShare: Double,
            lowShare: Double, bodyLines: Int, lineWords: Int): Crawl = {
    val rng = new SplittableRandom(seed * 7919L + 3)
    val nExact = (n * exactShare).toInt
    val nNear = (n * nearShare).toInt
    val nLow = (n * lowShare).toInt
    val nOrig = n - nExact - nNear - nLow
    def html(title: String, lines: Seq[String], boiler: Seq[String]): String =
      s"<html><head><title>$title</title></head><body>" +
        s"<div class=\"nav\">${boiler.head}</div>" +
        lines.map(l => s"<p>$l</p>").mkString +
        s"<div class=\"footer\">${boiler(1)}</div></body></html>"
    val origBodies = (0 until nOrig).map(_ => (0 until bodyLines).map(_ => words(rng, lineWords)))
    val origBoiler = (0 until nOrig).map { _ =>
      val a = rng.nextInt(Boiler.size)
      Seq(Boiler(a), Boiler((a + 1 + rng.nextInt(Boiler.size - 1)) % Boiler.size))
    }
    val orig = (0 until nOrig).map(i => html(s"page $i", origBodies(i), origBoiler(i)))
    val exact = (0 until nExact).map(_ => orig(rng.nextInt(nOrig)))
    val near = (0 until nNear).map { _ =>
      val i = rng.nextInt(nOrig)
      val body = origBodies(i)
      val li = rng.nextInt(bodyLines)
      val ws = body(li).split(' ')
      ws(rng.nextInt(ws.length)) = vocab(Stop.size + rng.nextInt(VocabSize - Stop.size))
      html(s"page $i", body.updated(li, ws.mkString(" ")), origBoiler(i))
    }
    val low = (0 until nLow).map(i => html(s"stub $i", Seq(words(rng, 8)), Seq(Boiler(0), Boiler(1))))
    // interleave deterministically so copies land in other splits than
    // their originals
    val all = (orig ++ exact ++ near ++ low).zipWithIndex
      .map { case (h, i) => (new SplittableRandom(seed + i).nextLong(), h) }
      .sortBy(_._1).map(_._2)
    Crawl(all.zipWithIndex.map { case (h, i) => Page(f"http://site${i % 97}.example/p$i%07d", h) },
      nOrig, nExact, nNear, nLow)
  }
}
