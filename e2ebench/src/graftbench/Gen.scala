package graftbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.pipeline.Schemas

/** Seeded input generators. The same seed gives the same rows in the same
  * files; the engine only ever sees the parquet files written here.
  */
object Gen {

  private val Cons = "bcdfghjklmnprstvz"
  private val Vowels = "aeiou"

  /** `n` distinct consonant-vowel words of 2..4 syllables (4..8 letters).
    * The syllable alphabets never produce a stopword, a two-letter junk
    * token or an eval word (those start with "qx").
    */
  def vocabulary(rng: SplittableRandom, n: Int, cons: String = Cons): Array[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val syl = 2 + rng.nextInt(3)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb += cons(rng.nextInt(cons.length)); sb += Vowels(rng.nextInt(Vowels.length))
      }
      out += sb.toString
    }
    out.toArray
  }

  def shingles(text: String, k: Int = 3): Set[String] = {
    val ws = text.toLowerCase.split(" ")
    if (ws.length < k) Set.empty else ws.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def shuffle[T](rng: SplittableRandom, xs: mutable.ArrayBuffer[T]): Unit =
    (xs.indices.reverse).foreach { i =>
      val j = rng.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t
    }

  /** Regular files under `path`, excluding the local filesystem's `.crc`
    * checksum side files.
    */
  def bytesUnder(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".crc")) 0L else f.length
    walk(new java.io.File(path))
  }

  // ---------------------------------------------------------------- acordos

  /** Planted truth of one acordos landing file. */
  final case class Acordos(landingRows: Long, uniqueRows: Long, exactDups: Long,
                           nearDups: Long, paisRows: Long, orgRows: Long,
                           longTitles: Long, badDates: Long, placeholders: Long,
                           nearDupSerials: Array[Int], bytes: Long) {
    // placeholders and bad dates are counted over the unique rows
    def props: Seq[(String, Any)] = Seq(
      "rows" -> landingRows, "unique_rows" -> uniqueRows, "bytes" -> bytes,
      "exact_dup_rate" -> exactDups.toDouble / landingRows,
      "near_dup_rate" -> nearDups.toDouble / landingRows,
      "long_title_rate" -> longTitles.toDouble / landingRows,
      "bad_date_cells" -> badDates,
      "placeholder_cells" -> placeholders)
  }

  private val Parceiros = Array("França", "Alemanha", "Japão", "Angola", "Chile",
    "Canadá", "México", "Índia", "Noruega", "Egito", "ONU", "UNESCO", "OMS",
    "Banco Mundial", "FAO", "Mercosul", "União Africana", "OEA", "Itália", "Peru")
  private val Continentes = Array("Europa", "Ásia", "África", "América do Sul",
    "América do Norte", "Oceania")
  private val Regioes = Array("Europa Ocidental", "Sudeste Asiático", "África Austral",
    "Cone Sul", "Caribe", "Oriente Médio", "Pacífico")
  private val Locais = Array("Brasília", "Paris", "Genebra", "Nova York", "Tóquio",
    "Luanda", "Santiago", "Lima", "Roma", "Cairo")
  private val TiposAcordo = Array("bilateral", "multilateral", "memorando de entendimento",
    "protocolo de intenções")
  private val Recursos = Array("hídricos", "energia solar", "saúde", "educação",
    "ciência e tecnologia", "agricultura", "defesa")
  private val TiposDoc = Array("tratado", "memorando", "acordo-quadro", "ajuste complementar")
  private val TitleWords = Array("acordo", "de", "cooperação", "técnica", "entre",
    "o", "governo", "da", "república", "federativa", "do", "brasil", "e", "sobre",
    "água", "científica", "cultural", "intercâmbio", "educacional", "saúde")

  private def date(rng: SplittableRandom): String =
    "%02d/%02d/%04d".format(1 + rng.nextInt(28), 1 + rng.nextInt(12), 2000 + rng.nextInt(25))

  private val BadDates = Array("31/02/2015", "2015-03-01", "99/99/9999", "", "sem data")

  /** Acordos landing rows with the 13 raw sheet headers, generated in
    * parallel: every row is a pure function of (seed, row index).
    *
    * Every unique row's title starts with its serial (`ac0000042`), so rows
    * are distinct after the silver projection and the silver/gold counts
    * are known exactly. Planted on top: exact copies, near copies that
    * differ only in `Link` or `Vigência` (both fall outside the silver
    * projection, so they collapse there), `-` and NULL placeholders,
    * malformed dates and titles over 255 characters.
    */
  def acordos(spark: SparkSession, path: String, seed: Long, unique: Int,
              exactRate: Double, nearRate: Double, parts: Int): Acordos = {
    val nExact = math.round(unique * exactRate).toInt
    val nNear = math.round(unique * nearRate).toInt
    val total = unique + nExact + nNear
    val sc = spark.sparkContext
    val Seq(pais, org, longT, bad, ph) = Seq("pais", "org", "long", "bad", "ph").map(n => sc.longAccumulator(n))
    val rows = sc.parallelize(0 until parts, parts).flatMap { p =>
      (p until total by parts).iterator.map { i =>
        if (i < unique) {
          val r = acordosRow(seed, i)
          r.tipo.foreach(t => (if (t == "pais") pais else org).add(1))
          if (r.longTitle) longT.add(1)
          bad.add(r.badDates); ph.add(r.placeholders)
          Row.fromSeq(r.cells)
        } else if (i < unique + nExact) Row.fromSeq(acordosRow(seed, copyOf(seed, i, unique)).cells)
        else Row.fromSeq(nearCopy(seed, i, unique))
      }
    }
    val schema = StructType(Schemas.rawHeaders.map(StructField(_, StringType)))
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    Acordos(total, unique, nExact, nNear, pais.value, org.value, longT.value, bad.value,
      ph.value, (unique + nExact until total).map(copyOf(seed, _, unique)).toArray,
      bytesUnder(path))
  }

  private final case class AcordosRow(cells: Array[String], tipo: Option[String],
                                      longTitle: Boolean, badDates: Int, placeholders: Int)

  private def rowRng(seed: Long, i: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)

  /** The unique row a planted copy at index `i` duplicates. */
  private def copyOf(seed: Long, i: Int, unique: Int): Int = rowRng(seed, i).nextInt(unique)

  private def nearCopy(seed: Long, i: Int, unique: Int): Array[String] = {
    val serial = copyOf(seed, i, unique)
    val r = acordosRow(seed, serial).cells
    val rng = rowRng(seed ^ 0x6e656172L, i)
    if (rng.nextBoolean()) r(12) = s"http://acordos.example/$serial/v${rng.nextInt(1000000)}"
    else r(11) = date(rng)
    r
  }

  private def acordosRow(seed: Long, serial: Int): AcordosRow = {
    val rng = rowRng(seed, serial)
    var bad, ph = 0
    def pick(a: Array[String]) = a(rng.nextInt(a.length))
    def placeholder(v: String): String = rng.nextInt(100) match {
      case 0 => ph += 1; "-"
      case 1 => ph += 1; null
      case 2 => s"  $v "
      case _ => v
    }
    def maybeBad(): String =
      if (rng.nextInt(100) < 4) { bad += 1; BadDates(rng.nextInt(BadDates.length)) } else date(rng)
    val (tipo, kind) = rng.nextInt(10) match {
      case 0 | 1 | 2 => (Vector("País", "país", " PAÍS ")(rng.nextInt(3)), Some("pais"))
      case 3 | 4 | 5 => (Vector("Organização", "organização")(rng.nextInt(2)), Some("org"))
      case 6 => ("Empresa", None)
      case 7 => ("-", None)
      case 8 => (null, None)
      case _ => ("Instituição", None)
    }
    val long = rng.nextInt(20) == 0
    val nWords = if (long) 45 + rng.nextInt(20) else 4 + rng.nextInt(8)
    val title = ("ac%07d".format(serial) +: Seq.fill(nWords)(pick(TitleWords))).mkString(" ")
    val cells = Array[String](maybeBad(), placeholder(pick(Parceiros)), tipo,
      placeholder(pick(Continentes)), placeholder(pick(Regioes)), placeholder(pick(Locais)),
      placeholder(pick(TiposAcordo)), (if (rng.nextInt(10) == 0) s"  $title  " else title),
      placeholder(s"cooperação em ${pick(Recursos)} e ${pick(Recursos)}"),
      placeholder(pick(Recursos)), placeholder(pick(TiposDoc)), maybeBad(),
      s"http://acordos.example/$serial/${rng.nextInt(1000)}")
    AcordosRow(cells, kind, long, bad, ph)
  }

  // ----------------------------------------------------------------- corpus

  final case class Doc(id: Long, text: String, source: String, lang: String)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("lang", StringType)))

  def write(spark: SparkSession, docs: Seq[Doc], path: String, parts: Int): Long = {
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.map(d => Row(d.id, d.text, d.source, d.lang)), parts), DocSchema)
      .write.mode("overwrite").parquet(path)
    bytesUnder(path)
  }

  /** Document text over per-language vocabularies with a controlled total
    * size. Every word pool is disjoint from the others: content words,
    * the engine's English stopwords, two-letter junk and the `qx…` eval
    * words, so n-gram or shingle overlap happens only where it is planted.
    */
  final class Corpus(seed: Long, val vocabSize: Int) {
    private val rng = new SplittableRandom(seed)
    val langs: Seq[(String, Double, String)] = Seq(
      ("en", 0.6, "bcdfghjklm"), ("pt", 0.25, "nprstvz"), ("es", 0.15, "bdglmnrst"))
    private val pools: Map[String, Array[String]] =
      langs.map { case (l, share, cons) =>
        l -> vocabulary(rng, math.max(50, (vocabSize * share).toInt), cons)
      }.toMap
    private val stops = Array("the", "a", "of", "to", "in", "and")
    private val junk = vocabulary(rng, 40, "bcdfghjklm").map(_.take(2)).distinct
      .filterNot(Set("of", "to", "in", "a"))
    private val evalWords = vocabulary(rng, 2000).map("qx" + _)
    private val sources = Array("web", "books", "news", "forums", "code")

    private def lang(): String = {
      val u = rng.nextDouble()
      langs.scanLeft(("", 0.0)) { case ((_, acc), (l, s, _)) => (l, acc + s) }
        .tail.find(_._2 > u).map(_._1).getOrElse("en")
    }

    def fresh(id: Long): Doc = {
      val l = lang()
      val pool = pools(l)
      val n = 60 + rng.nextInt(41)
      val ws = Array.fill(n)(if (rng.nextInt(100) < 12) stops(rng.nextInt(stops.length))
                             else pool(rng.nextInt(pool.length)))
      Doc(id, ws.mkString(" "), sources(rng.nextInt(sources.length)), l)
    }

    /** Fails the quality gate: two-letter tokens, no stopwords. */
    def lowQuality(id: Long): Doc =
      Doc(id, Array.fill(30 + rng.nextInt(30))(junk(rng.nextInt(junk.length))).mkString(" "),
        sources(rng.nextInt(sources.length)), "en")

    def exactDup(of: Doc, id: Long): Doc = of.copy(id = id)

    /** `of` with `m` words replaced at positions at least three apart, so
      * each replacement changes three shingles; returns the exact shingle
      * Jaccard to the original.
      */
    def nearDup(of: Doc, id: Long, m: Int): (Doc, Double) = {
      val ws = of.text.split(" ")
      val pool = pools(of.lang)
      val pos = mutable.SortedSet.empty[Int]
      while (pos.size < m) {
        val p = rng.nextInt(ws.length)
        if (pos.forall(q => math.abs(q - p) >= 3)) pos += p
      }
      pos.foreach { p =>
        var w = ws(p)
        while (w == ws(p)) w = pool(rng.nextInt(pool.length))
        ws(p) = w
      }
      val d = of.copy(id = id, text = ws.mkString(" "))
      (d, jaccard(of.text, d.text))
    }

    def evalDoc(id: Long): Doc =
      Doc(id, Array.fill(40)(evalWords(rng.nextInt(evalWords.length))).mkString(" "), "eval", "en")

    /** A fresh document with a 12-word passage of `ev` spliced in. */
    def contaminated(id: Long, ev: Doc): Doc = {
      val d = fresh(id)
      val ew = ev.text.split(" ")
      val start = rng.nextInt(ew.length - 12)
      val ws = d.text.split(" ")
      val at = rng.nextInt(ws.length)
      d.copy(text = (ws.take(at) ++ ew.slice(start, start + 12) ++ ws.drop(at)).mkString(" "))
    }

    def nextInt(n: Int): Int = rng.nextInt(n)
    def shuffled[T](xs: mutable.ArrayBuffer[T]): mutable.ArrayBuffer[T] = { shuffle(rng, xs); xs }
  }
}
