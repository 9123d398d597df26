package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every input the program sees is made here from
  * the `--seed` argument and written to a file; the same seed gives the
  * same bytes. Lines use the paper's corpus format `<docId> <text>`.
  */
object Gen {

  private def rng(seed: Long, stream: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private def shuffle[A](r: SplittableRandom, xs: ArrayBuffer[A]): Unit = {
    var i = xs.length - 1
    while (i >= 1) {
      val j = r.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
  }

  /** The topic-model corpus of the paper's data generator: each doc picks
    * one of `topics` equal slices of a `vocab`-word vocabulary and draws
    * 70% of its tokens from that slice, 30% from the whole vocabulary,
    * shuffled. One token in 50 is upper-cased and one in 50 carries
    * punctuation, so the tokenizer's normalization is exercised.
    */
  def topicCorpus(seed: Long, nDocs: Int, docLen: Int,
                  vocab: Int = 3000, topics: Int = 8): Seq[String] = {
    val r = rng(seed, 1)
    val words = (1 to vocab).map(i => f"w$i%04d")
    val chunk = math.ceil(vocab.toDouble / topics).toInt
    val slices = words.grouped(chunk).toIndexedSeq
    (1 to nDocs).map { i =>
      val topic = slices(r.nextInt(slices.length))
      val nTopic = (docLen * 0.7).toInt
      val toks = ArrayBuffer.empty[String]
      for (_ <- 0 until nTopic) toks += topic(r.nextInt(topic.length))
      for (_ <- nTopic until docLen) toks += words(r.nextInt(vocab))
      shuffle(r, toks)
      val noisy = toks.map { t =>
        r.nextInt(50) match {
          case 0 => t.toUpperCase
          case 1 => t + ","
          case _ => t
        }
      }
      s"Document$i " + noisy.mkString(" ")
    }
  }

  /** The hot+tail corpus: each doc has `hotPerDoc` distinct words from a
    * `hotWords`-word hot set and `docLen - hotPerDoc` tail words that occur
    * in no other doc. Every hot word is in about
    * `nDocs * hotPerDoc / hotWords` docs, so a df cut below that prunes the
    * whole hot set and no pair survives.
    */
  def hotTailCorpus(seed: Long, nDocs: Int, docLen: Int,
                    hotWords: Int = 50, hotPerDoc: Int = 10): Seq[String] = {
    val r = rng(seed, 2)
    val hot = (0 until hotWords).map(i => f"hot$i%02d")
    val tailLen = docLen - hotPerDoc
    // an odd multiplier is a bijection mod 2^40, so tail words stay unique
    val mul = (r.nextLong() | 1L) & ((1L << 40) - 1)
    val off = r.nextLong() & ((1L << 40) - 1)
    (0 until nDocs).map { i =>
      val picks = ArrayBuffer.from(hot)
      shuffle(r, picks)
      val toks = ArrayBuffer.from(picks.take(hotPerDoc))
      for (j <- 0 until tailLen) {
        val n = ((i.toLong * tailLen + j) * mul + off) & ((1L << 40) - 1)
        toks += "t" + java.lang.Long.toString(n, 36)
      }
      shuffle(r, toks)
      s"doc$i " + toks.mkString(" ")
    }
  }

  /** Inputs of the retrieval workload: a Zipf corpus, a query batch, an
    * append batch of new docs and a delete batch of doc ids (from the
    * corpus and from the append batch).
    */
  final case class ZipfInputs(corpus: Seq[String], queries: Seq[String],
                              append: Seq[String], deletes: Seq[String])

  def zipfInputs(seed: Long, nDocs: Int, docLen: Int, vocab: Int,
                 nQueries: Int, nAppend: Int, nDelete: Int): ZipfInputs = {
    val r = rng(seed, 3)
    val cdf = {
      val w = (1 to vocab).map(k => 1.0 / k)
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def zipfWord(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      val k = if (i >= 0) i else math.min(-i - 1, vocab - 1)
      f"z$k%04d"
    }
    // rare words: uniform over the lower three quarters of the ranks
    def rareWord(): String = f"z${vocab / 4 + r.nextInt(vocab - vocab / 4)}%04d"
    def doc(id: String) = id + " " + Seq.fill(docLen)(zipfWord()).mkString(" ")
    val corpus = (0 until nDocs).map(i => doc(s"Z$i"))
    val append = (0 until nAppend).map(i => doc(s"A$i"))
    // one query in five has hot words only, the others add two rare words
    def query(id: String, j: Int) = {
      val hot = Seq.fill(4)(zipfWord())
      val ws = if (j % 5 == 0) hot else hot ++ Seq.fill(2)(rareWord())
      id + " " + ws.mkString(" ")
    }
    val queries = (0 until nQueries).map(j => query(s"Q$j", j))
    val fromCorpus = nDelete * 4 / 5
    val deletes = ArrayBuffer.from(0 until nDocs)
    shuffle(r, deletes)
    val appended = ArrayBuffer.from(0 until nAppend)
    shuffle(r, appended)
    val ids = deletes.take(fromCorpus).map(i => s"Z$i") ++
      appended.take(nDelete - fromCorpus).map(i => s"A$i")
    ZipfInputs(corpus, queries, append, ids.toSeq)
  }
}
