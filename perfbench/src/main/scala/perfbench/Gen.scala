package perfbench

import scala.util.Random

import graft.ext.Multimodal.ImageFixture

/** Seeded input generators. The program only ever sees what these
  * produce; the same seed gives the same inputs, and every seed gives
  * inputs of the same size and shape. */
object Gen {

  private val syllables = Array("ka", "lo", "mi", "ra", "ven", "tor", "zu",
    "bel", "dan", "gri", "ox", "pel", "qui", "sar", "tam", "vor", "wen",
    "yl", "zen", "cor", "fi", "hal", "jun", "mor", "nex", "ost", "pra",
    "rix", "sul", "tev", "bo", "cy", "du", "em", "gav", "hu", "ib", "kes")

  private def word(r: Random, minSyl: Int, maxSyl: Int): String =
    (1 to minSyl + r.nextInt(maxSyl - minSyl + 1))
      .map(_ => syllables(r.nextInt(syllables.length))).mkString

  /** `n` distinct words of 2-4 syllables. */
  def vocabulary(r: Random, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += word(r, 2, 4)
    seen.toArray
  }

  // ---- merchant narratives (merchcat_pipeline) ----

  final case class Txn(tr_id: Long, merchant: String, narrative: String)

  private val suffixes = Array("coffee", "market", "ltd", "store", "pharmacy",
    "fuel", "books", "travel", "foods", "cinema", "taxi", "hotel")
  private val cities = Array("london", "leeds", "bristol", "york", "bath",
    "derby", "hull", "leicester", "oxford", "cambridge", "norwich", "exeter",
    "cardiff", "glasgow", "dundee", "belfast", "brighton", "reading",
    "swindon", "luton", "slough", "woking", "chester", "durham")
  private val prefixes = Array("PAYPAL *", "SQ *", "CRV*", "POS ", "CARD ")
  private val months = Array("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL",
    "AUG", "SEP", "OCT", "NOV", "DEC")

  /** Merchant count per Zipf rank: `rows`·r^-s / H, at least 1. */
  def zipfCounts(rows: Int, merchants: Int, s: Double): Array[Int] = {
    val w = (1 to merchants).map(r => math.pow(r, -s))
    val h = w.sum
    w.map(x => math.max(1, math.round(rows * x / h).toInt)).toArray
  }

  /** Card narratives in the `STARBUCKS LONDON 1233-242-43 2021` shape:
    * merchant name (sometimes abbreviated or behind a processor
    * prefix), a city, a store number, and date/time/price noise that
    * the cleaning chain strips. A third of the merchants share their
    * first word with another (brands of one chain), and
    * [[LabelNoise]] of the rows carry another merchant's narrative, so
    * no model separates the classes perfectly. Merchant frequencies
    * follow [[zipfCounts]]; the row order is shuffled. */
  def narratives(seed: Long, rows: Int, merchants: Int, s: Double): Seq[Txn] = {
    val r = new Random(seed)
    val names = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < merchants) {
        val base =
          if (seen.nonEmpty && r.nextDouble() < 0.33) seen.toSeq(r.nextInt(seen.size)).split(' ').head
          else word(r, 2, 3)
        seen += (if (r.nextBoolean()) s"$base ${suffixes(r.nextInt(suffixes.length))}"
                 else s"$base ${word(r, 2, 3)}")
      }
      seen.toArray
    }
    val counts = zipfCounts(rows, merchants, s)
    val labels = names.indices.flatMap(i => Iterator.fill(counts(i))(names(i)))
    r.shuffle(labels).zipWithIndex.map { case (m, id) =>
      val shown = if (r.nextDouble() < LabelNoise) names(r.nextInt(names.length)) else m
      Txn(id.toLong, m, narrative(r, shown))
    }
  }

  /** Share of narratives written for a different merchant than their label. */
  val LabelNoise = 0.03

  private def narrative(r: Random, merchant: String): String = {
    val name =
      if (r.nextDouble() < 0.15) merchant.split(' ').map(_.take(6)).mkString(" ")
      else merchant
    val b = new StringBuilder
    if (r.nextDouble() < 0.2) b ++= prefixes(r.nextInt(prefixes.length))
    b ++= name.toUpperCase
    b ++= " " + cities(r.nextInt(cities.length)).toUpperCase
    b ++= f" ${r.nextInt(10000)}%04d-${r.nextInt(1000)}%03d-${r.nextInt(100)}%02d"
    val day = 1 + r.nextInt(28)
    val mon = 1 + r.nextInt(12)
    val yr = 2015 + r.nextInt(9)
    b ++= (r.nextInt(4) match {
      case 0 => f" $day%02d${months(mon - 1)}${yr % 100}%02d"
      case 1 => f" $yr-$mon%02d-$day%02d"
      case 2 => f" $day%02d/$mon%02d/$yr"
      case _ => f" $day ${months(mon - 1).toLowerCase.capitalize} $yr"
    })
    if (r.nextBoolean()) b ++= f" ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d"
    if (r.nextDouble() < 0.3) b ++= f" ${r.nextInt(200)}.${r.nextInt(100)}%02d GBP"
    b.result()
  }

  // ---- index corpora (index_cdc) ----

  final case class Doc(doc_id: Long, text: String)
  final case class Img(img_id: Long, payload: Array[Byte])
  final case class Vec(vec_id: Long, embedding: Array[Double])

  def doc(r: Random, vocab: Array[String], id: Long): Doc =
    Doc(id, Array.fill(12 + r.nextInt(13))(vocab(r.nextInt(vocab.length))).mkString(" "))

  /** A fixture PNG; `imageSeed` picks the picture. */
  def img(id: Long, imageSeed: Long): Img =
    Img(id, ImageFixture.png(ImageFixture.pixels(imageSeed, perturbed = false)))

  /** Vectors around `centers`, unit-scale clusters with 0.3 noise. */
  def vec(r: Random, centers: Array[Array[Double]], id: Long): Vec = {
    val c = centers(r.nextInt(centers.length))
    Vec(id, c.map(x => x + 0.3 * r.nextGaussian()))
  }

  def centers(r: Random, n: Int, dim: Int): Array[Array[Double]] =
    Array.fill(n, dim)(r.nextGaussian())
}
