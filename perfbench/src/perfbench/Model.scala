package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Locale

import scala.collection.mutable

/** A plain-Scala, Spark-free model of the reference job's output: the
  * bytes the all-pairs pipeline must write, from the same input lines.
  *
  *   - a line is trimmed, and its docId is the text before the first space
  *     (lines with no such space are dropped);
  *   - tokens: lower-case, every char outside `[a-z0-9\s]` becomes a space,
  *     split on `\s+`, drop empties, keep each first occurrence (the
  *     reference's `LinkedHashSet`); a doc without tokens is dropped;
  *   - a pair is emitted once, as `docA < docB`, for each pair sharing a
  *     word whose document frequency is at most `maxDf`;
  *   - similarity = inter / (|A| + |B| - inter), printed with `%.2f`
  *     (Formatter rounds HALF_UP);
  *   - lines are sorted on the concatenated `"docA,docB"` key.
  */
object Model {

  private val NonWord = "[^a-z0-9\\s]".r
  private val Space = "\\s+".r

  def tokens(text: String): Seq[String] = {
    val set = mutable.LinkedHashSet.empty[String]
    Space.split(NonWord.replaceAllIn(text.toLowerCase(Locale.ROOT), " "))
      .foreach(t => if (t.nonEmpty) set += t)
    set.toSeq
  }

  def referenceOutput(lines: Seq[String], maxDf: Option[Long]): Array[Byte] = {
    val docs = lines.flatMap { raw =>
      val line = raw.trim
      val sp = line.indexOf(' ')
      if (sp <= 0) None
      else Some(line.substring(0, sp) -> tokens(line.substring(sp + 1)))
    }.filter(_._2.nonEmpty)
    val ids = docs.map(_._1).toArray.sorted
    require(ids.distinct.length == ids.length, "doc ids must be unique")
    val index = ids.zipWithIndex.toMap
    val sizes = new Array[Int](ids.length)
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    for ((id, toks) <- docs) {
      val d = index(id)
      sizes(d) = toks.length
      toks.foreach(t => postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += d)
    }
    val n = ids.length.toLong
    val inter = mutable.LongMap.empty[Int]
    for (ds <- postings.values if maxDf.forall(ds.length <= _)) {
      val sorted = ds.sorted
      var i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length) {
          val key = sorted(i) * n + sorted(j)
          inter.update(key, inter.getOrElse(key, 0) + 1)
          j += 1
        }
        i += 1
      }
    }
    val out = inter.toSeq.map { case (key, c) =>
      val a = ids((key / n).toInt)
      val b = ids((key % n).toInt)
      val union = sizes((key / n).toInt) + sizes((key % n).toInt) - c
      val sim = if (union > 0) c.toDouble / union else 0.0
      (a + "," + b) -> String.format(Locale.US, "%s, %s\tSimilarity: %.2f", a, b, Double.box(sim))
    }.sortBy(_._1)
    val sb = new StringBuilder
    out.foreach { case (_, l) => sb.append(l).append('\n') }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  def md5(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString
}
