package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Each stream is prefix-stable: item `i`
  * depends only on the seed and items `< i`, so a small corpus is the
  * head of a larger one. Nothing here reads outside the data directory
  * it is given.
  */
object Gen {

  /** Word ranks drawn with probability ∝ 1 / rank^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def vocabulary(r: SplittableRandom, n: Int): Array[String] =
    Array.tabulate(n) { i =>
      val len = 2 + r.nextInt(5)
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString + Integer.toString(i, 36)
    }

  final case class Doc(id: Long, text: String, source: Long)

  /** Documents with ids `0 until n`. A `nearDupShare` of them are edits of
    * an earlier document (`source`): half get each word replaced with
    * probability 0.05, half are a contiguous 80–95% slice, so containment
    * pairs exist too. Words are lowercase and single-space separated.
    */
  def docs(seed: Long, n: Int, nearDupShare: Double): Array[Doc] = {
    val r = new SplittableRandom(seed * 7919 + 1)
    val vocab = vocabulary(r, 4000)
    val zipf = new Zipf(vocab.length, 1.0)
    val words = new Array[Array[String]](n)
    val out = new Array[Doc](n)
    for (i <- 0 until n) {
      if (i > 0 && r.nextDouble() < nearDupShare) {
        val src = r.nextInt(i)
        val s = words(src)
        words(i) = if (r.nextBoolean())
          s.map(w => if (r.nextDouble() < 0.05) vocab(zipf.draw(r)) else w)
        else {
          val keep = math.max(3, (s.length * (0.80 + 0.15 * r.nextDouble())).toInt)
          val from = r.nextInt(s.length - keep + 1)
          s.slice(from, from + keep)
        }
        out(i) = Doc(i, words(i).mkString(" "), src)
      } else {
        words(i) = Array.fill(40 + r.nextInt(80))(vocab(zipf.draw(r)))
        out(i) = Doc(i, words(i).mkString(" "), -1L)
      }
    }
    out
  }

  final case class Vec(id: Long, v: Array[Float], source: Long)

  /** Unit vectors; a `nearDupShare` are an earlier vector plus small
    * Gaussian noise (cosine ≈ 0.99).
    */
  def vectors(seed: Long, n: Int, dim: Int, nearDupShare: Double): Array[Vec] = {
    val r = new SplittableRandom(seed * 104729 + 3)
    val out = new Array[Vec](n)
    def gauss(): Double = {
      val u = math.max(r.nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def unit(a: Array[Double]): Array[Float] = {
      val norm = math.sqrt(a.map(x => x * x).sum)
      a.map(x => (x / norm).toFloat)
    }
    for (i <- 0 until n) {
      out(i) = if (i > 0 && r.nextDouble() < nearDupShare) {
        val src = r.nextInt(i)
        Vec(i, unit(out(src).v.map(x => x + 0.015 * gauss())), src)
      } else Vec(i, unit(Array.fill(dim)(gauss())), -1L)
    }
    out
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, late: Boolean)

  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")
  val FileSpanSec = 600L
  val Anchor = 1735689600L // 2025-01-01T00:00:00Z

  /** Event files: file `k` covers `[k, k+1)` × [[FileSpanSec]] of event
    * time. A `dupShare` of rows repeat an earlier event (same id, time and
    * value) in the same or the next file; a `lateShare` of rows in files
    * `k ≥ 8` carry a time from file `k-8` and are flagged `late`. Read two
    * files per trigger with a watermark delay of two file spans, they are
    * behind the watermark that Spark applies to late rows, which is the
    * one of the batch before the previous one.
    */
  def events(seed: Long, files: Int, perFile: Int, dupShare: Double,
      lateShare: Double): Array[Array[Event]] = {
    val r = new SplittableRandom(seed * 15485863 + 5)
    var next = 0L
    val out = Array.fill(files)(scala.collection.mutable.ArrayBuffer.empty[Event])
    for (k <- 0 until files) {
      val base = Anchor + k * FileSpanSec
      for (_ <- 0 until perFile) {
        val u = r.nextDouble()
        val late = k >= 8 && u < lateShare
        val tsSec = if (late) base - 8 * FileSpanSec + r.nextInt(FileSpanSec.toInt)
          else base + r.nextInt(FileSpanSec.toInt)
        val e = Event(next, new java.sql.Timestamp(tsSec * 1000L), r.nextInt(5000).toLong,
          EventTypes(r.nextInt(EventTypes.size)), r.nextInt(100000) / 100.0, late)
        next += 1
        out(k) += e
        if (!late && u >= lateShare && u < lateShare + dupShare) {
          val into = if (k + 1 < files && r.nextBoolean()) k + 1 else k
          out(into) += e
        }
      }
    }
    out.map(_.toArray)
  }

  /** `part` labels each row with the input part it is staged in. */
  def docsDf(spark: SparkSession, d: Seq[Doc], part: Long => Int): DataFrame = {
    import spark.implicits._
    d.map(x => (x.id, x.text, part(x.id))).toDF("doc_id", "text", "part")
  }

  def vecsDf(spark: SparkSession, v: Seq[Vec], part: Long => Int): DataFrame = {
    import spark.implicits._
    v.map(x => (x.id, x.v, part(x.id))).toDF("vec_id", "embedding", "part")
  }

  def eventsDf(spark: SparkSession, files: Seq[Seq[Event]]): DataFrame = {
    import spark.implicits._
    files.zipWithIndex.flatMap { case (es, k) => es.map(e => (e, k)) }.toDF("e", "part")
      .select(col("e.*"), col("part"))
  }
}
