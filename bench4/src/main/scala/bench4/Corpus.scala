package bench4

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The curate-dedup corpus, drawn from the seed: random documents, planted
  * near-duplicate families (members differ from the family's first document
  * by one word) of Zipf-distributed sizes, one hot family larger than the
  * LSH bucket cap, and planted exact copies of unrelated documents.
  *
  * `families` lists each family's member ids, the hot family first. */
final case class Corpus(docs: Seq[(Long, String)], families: Seq[Seq[Long]],
    copies: Int) {
  def hot: Seq[Long] = families.head
}

object Corpus {
  val Words = 80
  val Vocabulary = 5000
  val MaxFamily = 64
  /** Past the cap. Hot members differ from the family's first document in
    * the last word only, so about 95% of them share each band bucket with
    * it: that bucket exceeds the cap in every band and is dropped. */
  val HotFamily: Int = Dedup.DefaultMaxBucketSize * 3 / 2

  private def word(k: Int): String = "w" + Integer.toString(k, 36)

  def draw(seed: Long, n: Int): Corpus = {
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    def randomDoc(): Array[Int] = Array.fill(Words)(rnd.nextInt(Vocabulary))
    // Zipf(2) sizes on [2, MaxFamily], taken at evenly spaced quantiles so
    // every seed gets the same sizes (and the same pair count) and draws
    // only the texts and ids; the families fill 40% of what the hot family
    // leaves, so even a small corpus has families under the cap
    require(n > HotFamily, s"a corpus of $n docs cannot hold the hot family")
    val pmf = (2 to MaxFamily).map(s => 1.0 / (s.toDouble * s))
    val cdf = pmf.scanLeft(0.0)(_ + _).tail.map(_ / pmf.sum)
    val mean = (2 to MaxFamily).zip(pmf).map { case (s, p) => s * p }.sum / pmf.sum
    val k = math.round((n - HotFamily) * 2 / 5 / mean).toInt
    val famSizes = HotFamily +: (0 until k).map(j => 2 + cdf.indexWhere(_ >= (j + 0.5) / k))
    val texts = Seq.newBuilder[Array[Int]]
    val famIdx = Seq.newBuilder[Range]
    var pos = 0
    famSizes.zipWithIndex.foreach { case (size, f) =>
      val base = randomDoc()
      famIdx += (pos until pos + size)
      (0 until size).foreach { m =>
        val d = base.clone()
        // one word replaced: the last one in the hot family, else one
        // position per member (a different word once positions run out)
        val p = if (f == 0) Words - 1 else (m - 1) % Words
        if (m > 0) d(p) = (d(p) + (if (f == 0) m else 1 + (m - 1) / Words)) % Vocabulary
        texts += d
      }
      pos += size
    }
    val copies = n / 50
    val singles = n - pos - copies
    (0 until singles).foreach(_ => texts += randomDoc())
    val all0 = texts.result()
    val copied = (0 until copies).map(c => all0(pos + c))
    val all = all0 ++ copied
    // ids: a seeded permutation, so families and copies spread over files
    val ids = (0L until all.size.toLong).toArray
    var i = ids.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val docs = all.indices.map(k => ids(k) -> all(k).map(word).mkString(" "))
    Corpus(docs, famIdx.result().map(_.map(ids(_)).toSeq), copies)
  }

  def write(spark: SparkSession, dir: String, c: Corpus): Unit = {
    import spark.implicits._
    c.docs.toDF("id", "text").repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(s"$dir/docs")
  }

  def read(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(s"$dir/docs")
}
