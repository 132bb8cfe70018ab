package perfbench

import java.util.SplittableRandom

/** Seeded document generator for corpus curation: Zipf-distributed words
  * over a synthetic vocabulary mixed with English stopwords, cut into
  * sentences, with planted exact duplicates, near duplicates (a few words
  * of an earlier document replaced) and too-short documents.
  */
object CorpusGen {

  final case class Params(seed: Long, docs: Int)

  val Vocab = 20000
  /** Shares of planted exact duplicates, near duplicates and too-short docs. */
  val ExactFrac = 0.02
  val NearFrac = 0.03
  val ShortFrac = 0.03

  final case class Doc(docId: Long, text: String, source: String)

  final case class Planted(exact: Int, near: Int, short: Int)

  private val Stop = Array("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "for", "on", "with", "as", "was", "at", "by")
  private val Syllables = Array("ka", "lo", "mi", "ren", "tas", "vo", "qui",
    "bel", "dor", "fen", "gal", "hu", "ja", "pe", "sor", "tin", "ul", "zet")

  /** Word `r` of the vocabulary, a pronounceable token unique per rank. */
  private def word(r: Int): String = {
    val sb = new StringBuilder
    var x = r + 1
    while (x > 0) { sb.append(Syllables(x % Syllables.length)); x /= Syllables.length }
    sb.toString
  }

  def generate(p: Params): (Vector[Doc], Planted) = {
    val rnd = new SplittableRandom(p.seed ^ 0x5deece66dL)
    val words = Array.tabulate(Vocab)(word)
    // Zipf(1.1) cumulative weights
    val cdf = {
      val w = Array.tabulate(Vocab)(r => 1.0 / math.pow(r + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def zipf(): String = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(Vocab - 1, if (i >= 0) i else -i - 1))
    }
    def text(nTokens: Int): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < nTokens) {
        if (i > 0) sb.append(' ')
        val w = if (rnd.nextDouble() < 0.2) Stop(rnd.nextInt(Stop.length)) else zipf()
        sb.append(if (i % 12 == 0) w.capitalize else w)
        if (i % 12 == 11 || i == nTokens - 1) sb.append('.')
        i += 1
      }
      sb.toString
    }
    var exact, near, short = 0
    val docs = Vector.newBuilder[Doc]
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until p.docs).foreach { i =>
      val u = rnd.nextDouble()
      val t =
        if (i > 10 && u < ExactFrac) { exact += 1; texts(rnd.nextInt(texts.size)) }
        else if (i > 10 && u < ExactFrac + NearFrac) {
          near += 1
          val toks = texts(rnd.nextInt(texts.size)).split(' ')
          toks.indices.foreach(j => if (rnd.nextDouble() < 0.05) toks(j) = zipf())
          toks.mkString(" ")
        } else if (u < ExactFrac + NearFrac + ShortFrac) { short += 1; text(5) }
        else text(60 + rnd.nextInt(140))
      texts += t
      docs += Doc(i.toLong, t, s"src${rnd.nextInt(8)}")
    }
    (docs.result(), Planted(exact, near, short))
  }
}
