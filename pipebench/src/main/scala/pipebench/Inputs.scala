package pipebench

import java.nio.file.{Files, Path}
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.x12.X12TestDataGen

/** Seeded input generators. The program receives only what these write;
  * the same seed always writes the same bytes.
  */
object Inputs {

  // ---------------------------------------------------------------- X12

  /** X12 landing corpus: `historyFiles` files (plus the generator's
    * garbage, unterminated and correlated-pair extras) for the full-store
    * load, and `batches` small daily batches staged beside it. Each batch
    * holds `batchFiles` files, one correlated 276/277 pair and one garbage
    * file that bronze must quarantine. `invalid.txt` lists the garbage file
    * of every phase as `phase<TAB>file_name`.
    */
  final case class X12Shape(historyFiles: Int, batchFiles: Int, batches: Int)

  private val x12Types =
    Seq("837", "835", "834", "270", "271", "276", "277", "278", "279")
  private val x12Partners = Seq(
    ("ACMECLAIMS", "BIGPAYER"), ("NORTHCLINIC", "BIGPAYER"),
    ("ACMECLAIMS", "STATEHEALTH"), ("WESTLAB", "UNIONPAYER"),
    ("EASTHOSP", "BIGPAYER"))

  def batchDir(dir: Path, b: Int): Path = dir.resolve(f"batches/b$b%02d")

  def x12(seed: Long, dir: Path, shape: X12Shape): Unit = {
    X12TestDataGen.writeCorpus(dir.resolve("landing").toString,
      shape.historyFiles, seed)
    // the generator's idempotence stamp is not a landing file
    Files.deleteIfExists(dir.resolve("landing/_corpus_manifest.txt"))
    val invalid = new StringBuilder("full\ttest_x12_garbage.x12\n")
    for (b <- 1 to shape.batches) {
      val rnd = new Random(seed * 1000003L + b)
      val bd = Files.createDirectories(batchDir(dir, b))
      for (j <- 0 until shape.batchFiles) {
        val t = x12Types((b * shape.batchFiles + j) % x12Types.length)
        val (s, r) = x12Partners(rnd.nextInt(x12Partners.length))
        val (content, _, _, _) = X12TestDataGen.generateFile(rnd, t, s, r,
          defect = rnd.nextDouble() < 0.15)
        Files.writeString(bd.resolve(f"batch$b%02d_${t}_$j%03d.x12"), content)
      }
      val (s, r) = x12Partners(rnd.nextInt(x12Partners.length))
      val (req, resp) = X12TestDataGen.generateCorrelatedPair(rnd, "276", s, r,
        f"B$b%02dCORR")
      Files.writeString(bd.resolve(f"batch$b%02d_276_pair.x12"), req)
      Files.writeString(bd.resolve(f"batch$b%02d_277_pair.x12"), resp)
      val garbage = f"batch$b%02d_garbage.x12"
      Files.writeString(bd.resolve(garbage), s"not an interchange ${rnd.nextLong()}")
      invalid.append(f"b$b%02d\t$garbage\n")
    }
    Files.writeString(dir.resolve("invalid.txt"), invalid.toString)
  }

  // ---------------------------------------------------------- documents

  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "zh")
  val Stopwords: IndexedSeq[String] =
    IndexedSeq("the", "be", "to", "of", "and", "that", "have", "with")
  val Sources: Int = 20

  /** Per-language synthetic vocabularies: words of 2-3 syllables drawn from
    * a language's own syllable set, so a classifier can learn the language
    * from the words, plus a shared pool every language borrows from.
    */
  private lazy val vocab: Map[String, IndexedSeq[String]] = {
    val syll = Map(
      "en" -> Seq("th", "ing", "er", "st", "ow", "an", "ed", "ly", "ch", "ar"),
      "de" -> Seq("sch", "ei", "en", "ung", "ach", "ier", "ber", "au", "zt", "eh"),
      "fr" -> Seq("eau", "ou", "oi", "eur", "ai", "qu", "ien", "ette", "on", "ais"),
      "es" -> Seq("ll", "ado", "os", "ci", "ar", "ez", "ue", "ito", "ra", "as"),
      "zh" -> Seq("zh", "ang", "xi", "ong", "qi", "ao", "uan", "ji", "eng", "hu"))
    def words(tag: String, syls: Seq[String], n: Int): IndexedSeq[String] = {
      val rnd = new Random(tag.hashCode.toLong)
      val out = scala.collection.mutable.LinkedHashSet[String]()
      while (out.size < n) {
        val w = (0 until 2 + rnd.nextInt(2)).map(_ => syls(rnd.nextInt(syls.length))).mkString
        if (w.length >= 4 && w.length <= 9 && !Stopwords.contains(w)) out += w
      }
      out.toIndexedSeq
    }
    val shared = words("shared", syll.values.flatten.toSeq.distinct, 150)
    Langs.map(l => l -> words(l, syll(l), 600).filterNot(shared.contains)).toMap +
      ("shared" -> shared)
  }

  private def content(rnd: Random, lang: String): String = {
    val v = if (rnd.nextDouble() < 0.85) vocab(lang) else vocab("shared")
    v(rnd.nextInt(v.length))
  }

  /** One document's words: 30-90 content words with single stopwords
    * sprinkled between them (never two adjacent, so no stopword bigram is
    * shared by the whole corpus). About 5% are spam that repeats one word.
    */
  private def text(rnd: Random, lang: String): String = {
    val n = 30 + rnd.nextInt(61)
    if (rnd.nextDouble() < 0.05) {
      val w = content(rnd, lang)
      return Seq.fill(n)(w).mkString(" ")
    }
    val sb = new StringBuilder(content(rnd, lang))
    for (_ <- 1 until n) {
      if (rnd.nextDouble() < 0.2)
        sb.append(' ').append(Stopwords(rnd.nextInt(Stopwords.length)))
      sb.append(' ').append(content(rnd, lang))
    }
    sb.toString
  }

  /** Replace each word of `t` with probability `rate` (at least one edit). */
  private def edit(rnd: Random, t: String, lang: String, rate: Double): String = {
    val w = t.split(" ", -1)
    val forced = rnd.nextInt(w.length)
    w.indices.map(i =>
      if (i == forced || rnd.nextDouble() < rate) content(rnd, lang) else w(i))
      .mkString(" ")
  }

  final case class Doc(doc_id: Long, url: String, source: String, lang: String,
      text: String, n_chars: Long)

  /** Crawl documents: `base` seeded originals, each replicated `factor`
    * times. A replica is a near-duplicate (`editRate` of its words
    * replaced), 1 in 10 replicas is a byte-identical mirror, and 1 in 10
    * is a re-fetch of its original's URL with tracking parameters. About 4%
    * of documents carry a wrong language label.
    */
  def documents(seed: Long, base: Int, factor: Int, editRate: Double): Seq[Doc] = {
    val rnd = new Random(seed)
    (0 until base).flatMap { b =>
      val lang = Langs(rnd.nextInt(Langs.length))
      val src = s"src${rnd.nextInt(Sources)}"
      val original = text(rnd, lang)
      (0 until factor).map { r =>
        val t =
          if (r == 0 || rnd.nextDouble() < 0.1) original
          else edit(rnd, original, lang, editRate)
        val host = if (rnd.nextBoolean()) s"WWW.$src.Example.COM" else s"$src.example.com"
        val path =
          if (r > 0 && rnd.nextDouble() < 0.1) s"/doc/$b?utm_source=feed&r=$r"
          else s"/doc/$b/$r"
        val label =
          if (rnd.nextDouble() < 0.04) Langs(rnd.nextInt(Langs.length)) else lang
        Doc(b.toLong * factor + r, s"https://$host$path", src, label, t,
          t.length.toLong)
      }
    }
  }

  // --------------------------------------------------------- embeddings

  final case class Vec(vec_id: Long, emb: Seq[Double], label: Int)

  /** `n` vectors of dimension `dim` around `clusters` seeded centres. */
  def embeddings(seed: Long, n: Int, dim: Int, clusters: Int): Seq[Vec] = {
    val rnd = new Random(seed)
    val centres = IndexedSeq.fill(clusters)(IndexedSeq.fill(dim)(rnd.nextGaussian()))
    (0 until n).map { i =>
      val c = rnd.nextInt(clusters)
      Vec(i.toLong, centres(c).map(x => x + 0.6 * rnd.nextGaussian()), c)
    }
  }

  def writeParquet[T <: Product : scala.reflect.runtime.universe.TypeTag : scala.reflect.ClassTag](
      spark: SparkSession, rows: Seq[T], path: Path, parts: Int): Unit = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(rows, parts))
      .write.mode("overwrite").parquet(path.toString)
  }
}
