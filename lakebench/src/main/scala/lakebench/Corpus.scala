package lakebench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded LLM-curation corpus with planted structure, so every stage's
  * answer is known in advance:
  *
  *   - good documents pass every Gopher rule (60-100 alphabetic words,
  *     a stopword every few words);
  *   - three failing kinds: too short, stopword-free, symbol-heavy;
  *   - boilerplate documents share a long template and pass;
  *   - exact duplicates copy an earlier original verbatim;
  *   - near duplicates copy a good original with 1-3 word substitutions.
  *
  * Words come from a synthetic vocabulary that never contains a stopword,
  * so unrelated documents share almost no 4-word shingle.
  */
final case class Doc(id: Long, text: String, passes: Boolean)

final class Corpus(val docs: Vector[Doc], val exactPairs: Vector[(Long, Long)],
    val nearPairs: Vector[(Long, Long)]) {
  /** Family id per document: an original and all its copies share one. */
  lazy val family: Map[Long, Long] = {
    val f = mutable.Map.empty[Long, Long]
    (exactPairs ++ nearPairs).foreach { case (orig, copy) =>
      f(copy) = f.getOrElse(orig, orig)
    }
    f.toMap
  }
  def familyOf(id: Long): Long = family.getOrElse(id, id)

  def passing: Set[Long] = docs.filter(_.passes).map(_.id).toSet

  /** Curated survivors: Gopher passers minus exact copies of passers. */
  lazy val survivors: Vector[Long] = {
    val copies = exactPairs.map(_._2).toSet
    docs.filter(d => d.passes && !copies(d.id)).map(_.id)
  }
}

object Corpus {
  val Stopwords = Vector("the", "a", "of", "and", "to", "in", "is")

  def generate(seed: Long, n: Int): Corpus = {
    val rnd = new SplittableRandom(seed)
    val vocab = vocabulary(rnd, 8000)
    def word(): String = vocab(rnd.nextInt(vocab.size))
    def words(k: Int, stopEvery: Int): Vector[String] =
      Vector.tabulate(k) { i =>
        if (stopEvery > 0 && i % stopEvery == stopEvery - 1)
          Stopwords(rnd.nextInt(Stopwords.size))
        else word()
      }
    val template = words(40, 6)
    val docs = mutable.ArrayBuffer.empty[Doc]
    val exact = mutable.ArrayBuffer.empty[(Long, Long)]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val originals = mutable.ArrayBuffer.empty[Int] // indexes of non-copies
    val goodOriginals = mutable.ArrayBuffer.empty[Int]
    def add(text: String, passes: Boolean): Int = {
      docs += Doc(docs.size.toLong, text, passes)
      docs.size - 1
    }
    while (docs.size < n) {
      val r = rnd.nextDouble()
      if (r < 0.06 && originals.nonEmpty) {
        val o = docs(originals(rnd.nextInt(originals.size)))
        val i = add(o.text, o.passes)
        exact += ((o.id, i.toLong))
      } else if (r < 0.16 && goodOriginals.nonEmpty) {
        val o = docs(goodOriginals(rnd.nextInt(goodOriginals.size)))
        val ws = o.text.split(' ')
        val editable = ws.indices.filterNot(i => Stopwords.contains(ws(i)))
        val edits = 1 + rnd.nextInt(3)
        (1 to edits).map(_ => editable(rnd.nextInt(editable.size))).distinct
          .foreach { at =>
            var w = word()
            while (w == ws(at)) w = word()
            ws(at) = w
          }
        val i = add(ws.mkString(" "), passes = true)
        near += ((o.id, i.toLong))
      } else if (r < 0.24) { // too short
        originals += add(words(20 + rnd.nextInt(20), 5).mkString(" "), passes = false)
      } else if (r < 0.31) { // no stopword
        originals += add(words(60 + rnd.nextInt(40), 0).mkString(" "), passes = false)
      } else if (r < 0.36) { // symbol-heavy: one '#' token per four words
        val ws = words(60 + rnd.nextInt(40), 5).zipWithIndex.map { case (w, i) =>
          if (i % 4 == 3) "#" else w
        }
        originals += add(ws.mkString(" "), passes = false)
      } else if (r < 0.40) { // boilerplate: shared template + unique tail
        originals += add((template ++ words(40 + rnd.nextInt(20), 6)).mkString(" "),
          passes = true)
      } else {
        val i = add(words(60 + rnd.nextInt(40), 6).mkString(" "), passes = true)
        originals += i
        goodOriginals += i
      }
    }
    new Corpus(docs.toVector, exact.toVector, near.toVector)
  }

  /** Distinct lowercase words of 3-9 letters, none of them a stopword. */
  private def vocabulary(rnd: SplittableRandom, size: Int): Vector[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < size) {
      val len = 3 + rnd.nextInt(7)
      val w = new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
      if (!Stopwords.contains(w)) out += w
    }
    out.toVector
  }
}

/** Seeded clustered embeddings: `clusters` random centres, each with
  * `perCluster` members at small Gaussian noise, so every vector's true
  * nearest neighbours are the other members of its cluster. */
object Embeddings {
  val Dim = 64

  def generate(seed: Long, clusters: Int, perCluster: Int): Vector[(Long, Int, Array[Float])] = {
    val rnd = new java.util.Random(seed)
    val centres = Vector.fill(clusters)(Array.fill(Dim)(rnd.nextGaussian()))
    (0 until clusters * perCluster).toVector.map { i =>
      val c = i % clusters
      (i.toLong, c, Array.tabulate(Dim)(d =>
        (centres(c)(d) + 0.05 * rnd.nextGaussian()).toFloat))
    }
  }
}
