package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generators for the three workloads. Every generator is a
  * pure function of (seed, size): the same arguments give the same rows in
  * the same order, and the files written from them are byte-identical.
  * Names and documents are ASCII only, so the DuckDB twin compares exactly.
  *
  * Ground truth travels next to the rows (`entity` / `family`) and is never
  * written where the program reads. */
object Gen {

  /** One generated company-name row: `id` is the explicit row key. */
  final case class NameRow(id: Long, name: String, entity: Int)
  /** One generated document; `family` groups its near-duplicates. */
  final case class Doc(id: Long, text: String, family: Int)

  private val Syllables = Array(
    "BA", "KO", "RI", "TA", "MEN", "LO", "VA", "SU", "DE", "NI", "PRA", "ZE",
    "QUI", "FO", "GAR", "TEL", "MAR", "SON", "DRA", "VEX", "LUM", "COR", "HAL",
    "BRE", "TIS", "NOR", "PEL", "WIN", "CA", "JO", "KEL", "RUS", "FAN", "DOR")
  private val Industry = Array(
    "FOODS", "MOTORS", "TEXTILES", "LOGISTICS", "ENERGY", "STEEL", "PHARMA",
    "SYSTEMS", "TRADING", "CHEMICALS", "PAPER", "GLASS", "CEMENT",
    "PACKAGING", "SOLUTIONS", "ELECTRIC", "AGRO", "SHIPPING")
  private val Middle = Array(
    "GLOBAL", "UNITED", "NATIONAL", "GENERAL", "ROYAL", "PREMIER", "EASTERN",
    "WESTERN", "PACIFIC", "ATLAS", "SUMMIT", "PIONEER", "GOLDEN", "SILVER")
  // legal suffixes as users type them (several are stripped by the
  // library's suffix rules after punctuation is removed)
  private val LegalSuffix = Array(
    "LTD", "Ltd.", "LIMITED", "PVT LTD", "Pvt. Ltd.", "PRIVATE LIMITED",
    "INC", "Inc.", "INCORPORATED", "LLC", "L.L.C", "PLC", "GMBH", "CO", "Co.",
    "COMPANY", "LLP")
  private val CountryToken = Array(
    "INDIA", "USA", "UK", "GERMANY", "SINGAPORE", "JAPAN", "UAE", "FRANCE",
    "UNITED KINGDOM", "HONG KONG")
  private val Letters = "ABCDEFGHIJKLMNOPRSTUVWY"

  /** Generator `stream` of a workload seed. The seed is scrambled first:
    * SplittableRandom states one gamma apart give shifted copies of one
    * sequence, so nearby seeds must not map to nearby states. */
  private def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(new java.util.Random(seed * 31 + stream).nextLong())

  private def pick[T](r: SplittableRandom, a: Array[T]): T = a(r.nextInt(a.length))

  private def pseudoWord(r: SplittableRandom, syllables: Int): String =
    (0 until syllables).map(_ => pick(r, Syllables)).mkString

  private def randomLetters(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => Letters.charAt(r.nextInt(Letters.length))).mkString

  /** Replace one letter at a random position in `w` (never the first). */
  private def typo(r: SplittableRandom, w: String): String =
    if (w.length < 3) w
    else {
      val i = 1 + r.nextInt(w.length - 1)
      val c = Letters.charAt(r.nextInt(Letters.length))
      w.substring(0, i) + c + w.substring(i + 1)
    }

  private def restyle(r: SplittableRandom, s: String): String = r.nextInt(10) match {
    case 0 | 1 => s.toLowerCase(java.util.Locale.ROOT)
    case 2 | 3 | 4 =>
      s.split(" ").map(w => w.take(1) + w.drop(1).toLowerCase(java.util.Locale.ROOT)).mkString(" ")
    case _ => s
  }

  /** A user's spelling of an entity: optional typo in a non-first word,
    * optional legal suffix (sometimes after a comma), optional country
    * token, and a case style. */
  private def variant(r: SplittableRandom, words: Array[String]): String = {
    val ws = words.clone()
    if (ws.length > 1 && r.nextInt(100) < 8) {
      val j = 1 + r.nextInt(ws.length - 1)
      ws(j) = typo(r, ws(j))
    }
    val sb = new StringBuilder(ws.mkString(" "))
    if (r.nextInt(100) < 15) sb.append(" ").append(pick(r, CountryToken))
    if (r.nextInt(100) < 75) {
      sb.append(if (r.nextInt(4) == 0) ", " else " ").append(pick(r, LegalSuffix))
    }
    restyle(r, sb.toString)
  }

  /** Fisher-Yates shuffle, then ids = file positions. */
  private def shuffled[T](r: SplittableRandom, xs: Array[T]): Array[T] = {
    val a = xs.clone()
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** er_bulk: about three spellings per entity (2-4), entities named
    * `<brand> <middle?> <industry>`. At most three entities share a brand
    * (the block key's first token), so every block is small. */
  def bulkRows(seed: Long, rows: Int): Array[NameRow] = {
    val r = rng(seed, 1)
    val brandUse = scala.collection.mutable.HashMap.empty[String, Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    var entity = 0
    while (out.length < rows) {
      var brand = pseudoWord(r, 2 + r.nextInt(2))
      while (brandUse.getOrElse(brand, 0) >= 3) brand = pseudoWord(r, 2 + r.nextInt(2))
      brandUse(brand) = brandUse.getOrElse(brand, 0) + 1
      val words =
        if (r.nextBoolean()) Array(brand, pick(r, Middle), pick(r, Industry))
        else Array(brand, pick(r, Industry))
      val n = 2 + r.nextInt(3)
      var k = 0
      while (k < n && out.length < rows) { out += ((variant(r, words), entity)); k += 1 }
      entity += 1
    }
    shuffled(r, out.toArray).zipWithIndex.map { case ((n, e), i) => NameRow(i.toLong, n, e) }
  }

  /** er_dense: `blocks` block keys, each holding exactly `namesPerBlock`
    * distinct base names of one length bucket: `<brand> <word> <industry>`
    * with a fixed-length 7-letter middle word. Entities are groups of
    * `spellings` one-letter variants of a middle word; each distinct
    * spelling appears on 1-3 rows with different suffix/case styling. */
  def denseRows(seed: Long, blocks: Int, namesPerBlock: Int, spellings: Int): Array[NameRow] = {
    val r = rng(seed, 2)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val brands = scala.collection.mutable.LinkedHashSet.empty[String]
    while (brands.size < blocks) brands += randomLetters(r, 4)
    var entity = 0
    brands.foreach { brand =>
      val industry = pick(r, Industry)
      val seen = scala.collection.mutable.HashSet.empty[String]
      while (seen.size < namesPerBlock) {
        val root = randomLetters(r, 7)
        var tries = 0
        var made = 0
        while (made < spellings && seen.size < namesPerBlock && tries < spellings * 4) {
          val w = if (made == 0) root else typo(r, root)
          val base = s"$brand $w $industry"
          if (seen.add(base)) {
            made += 1
            val copies = 1 + r.nextInt(3)
            (0 until copies).foreach { _ =>
              val styled =
                if (r.nextInt(100) < 60) base + " " + pick(r, LegalSuffix) else base
              out += ((restyle(r, styled), entity))
            }
          }
          tries += 1
        }
        entity += 1
      }
    }
    shuffled(r, out.toArray).zipWithIndex.map { case ((n, e), i) => NameRow(i.toLong, n, e) }
  }

  /** docs_stream: `count` documents in near-duplicate families of 1-4.
    * A family's first document is 40-70 words from a 3,000-word
    * vocabulary, or (one family in five) an earlier family's first
    * document with about an eighth of its words rewritten: a related but
    * distinct family, so false candidates exist. Later members rewrite 1-3
    * words of their family's first document. Documents are shuffled, so
    * family members arrive in different files. */
  def docs(seed: Long, count: Int): Array[Doc] = {
    val r = rng(seed, 3)
    val vocab = (0 until 3000).map(i => pseudoWord(new SplittableRandom(i + 77L), 2 + (i % 3)).toLowerCase(
      java.util.Locale.ROOT) + (i % 97)).toArray
    def rewrite(words: Array[String], n: Int): Array[String] = {
      val m = words.clone()
      (0 until n).foreach(_ => m(r.nextInt(m.length)) = vocab(r.nextInt(vocab.length)))
      m
    }
    val bases = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    while (out.length < count) {
      val f = bases.length
      val base =
        if (f > 0 && r.nextInt(5) == 0) { val b = bases(r.nextInt(f)); rewrite(b, b.length / 8) }
        else Array.fill(40 + r.nextInt(31))(vocab(r.nextInt(vocab.length)))
      bases += base
      out += ((base.mkString(" "), f))
      (0 until r.nextInt(4)).foreach(_ => out += ((rewrite(base, 1 + r.nextInt(3)).mkString(" "), f)))
    }
    shuffled(r, out.toArray).take(count).zipWithIndex.map { case ((t, f), i) => Doc(i.toLong, t, f) }
  }

  /** The CSV "upload": header `id,company_name`, names always quoted. */
  def csvBytes(rows: Array[NameRow]): Array[Byte] = {
    val sb = new StringBuilder("id,company_name\n")
    rows.foreach { row =>
      sb.append(row.id).append(",\"").append(row.name.replace("\"", "\"\"")).append("\"\n")
    }
    sb.toString.getBytes(StandardCharsets.US_ASCII)
  }
}
