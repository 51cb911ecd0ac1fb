package graft.perfbench

import java.util.SplittableRandom

import graft.spark.PagesGen

/** The benchmark's inputs, made from the workload seed alone.
  *
  * The base `documents` table copies the shape of the sf0.1 test table
  * (5,000 rows of 10-100 words over a 30-word vocabulary, 5% near-dups
  * that append " dup" to another row's text, five languages, twenty
  * sources) but is generated here from a fixed seed, so the benchmark
  * needs no file outside its checkout. The workload seed then varies what
  * each workload says it varies: url salts and pid placement for the
  * article pages, row order for curation.
  */
object Corpus {

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  private val BaseSeed = 42L

  private val Vocab = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  private def words(rnd: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(rnd.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** The seed-independent base table of `n` rows, in doc_id order. */
  def documents(n: Int): Array[Doc] = {
    val rnd = new SplittableRandom(BaseSeed)
    val texts = Array.fill(n)(words(rnd, 10 + rnd.nextInt(91)))
    val original = texts.clone()
    (0 until n / 20).foreach { _ =>
      texts(rnd.nextInt(n)) = original(rnd.nextInt(n)) + " dup"
    }
    Array.tabulate(n) { i =>
      Doc(i.toLong, texts(i), Langs(rnd.nextInt(Langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }
  }

  /** The base table in a seed-chosen row order. */
  def permutedDocuments(n: Int, seed: Long): Array[Doc] = {
    val a = documents(n)
    val rnd = new SplittableRandom(seed)
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Replica numbers of the article corpus: replica 0 keeps PagesGen's
    * skew and empty-page slices, and the seed picks the salt base of the
    * others, which moves their urls and pids but not their bytes.
    */
  def articleReplicas(seed: Long): Seq[Int] = {
    val base = 1 + ArticleReplicas * (java.lang.Long.hashCode(seed) & 0xfffff)
    0 +: (base until base + ArticleReplicas - 1)
  }

  /** Every page of extract_articles, in generation order. */
  def articlePages(seed: Long): Iterator[(String, Array[Byte])] = {
    val reps = articleReplicas(seed)
    documents(ArticleDocs).iterator.flatMap(d => reps.iterator.map(articlePage(d, _)))
  }

  /** One article page: PagesGen's page for (doc, replica). */
  def articlePage(d: Doc, replica: Int): (String, Array[Byte]) =
    PagesGen.buildPage(d.doc_id, d.text, replica)

  val ArticleDocs = 2500
  val ArticleReplicas = 3
  val CurationDocs = 1000
}
