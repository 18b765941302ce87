package graftbench

import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * seed (and arguments), so the same seed gives the same inputs. */
object Gen {

  /** A stream of generators for one purpose, derived from the run seed. */
  def rng(seed: Long, purpose: String, index: Long = 0): Random =
    new Random(seed * 1000003L ^ purpose.hashCode.toLong * 7919L ^ index * 104729L)

  // ---- cards (lake_refresh) ----

  val Layouts: Seq[String] = graft.ingest.IngestOps.AllowedLayouts
  val Rarities = Seq("common", "uncommon", "rare", "mythic")
  val Legal = Seq("legal", "not_legal", "banned", "restricted")
  val NSets = 40
  def setCode(i: Int): String = f"s$i%02d"

  /** The fields of a card that refresh batches change, as the benchmark's
    * last-write-wins model keeps them. */
  final case class Card(id: String, set: String, released: Option[String], layout: String,
      rarity: String, cmc: Int, usdCents: Option[Long], eurCents: Option[Long],
      standard: String, modern: String, commander: String, faces: Int)

  def uuid(r: Random): String = new java.util.UUID(r.nextLong(), r.nextLong()).toString

  def newCard(r: Random): Card = {
    val d = 1 + r.nextInt(28)
    val m = 1 + r.nextInt(12)
    val y = 1993 + r.nextInt(32)
    Card(uuid(r), setCode(r.nextInt(NSets)), Some(f"$y%04d-$m%02d-$d%02d"),
      Layouts(r.nextInt(Layouts.size)), Rarities(r.nextInt(Rarities.size)), r.nextInt(12),
      if (r.nextInt(6) == 0) None else Some(1L + r.nextInt(20000)),
      if (r.nextInt(4) == 0) None else Some(1L + r.nextInt(20000)),
      Legal(r.nextInt(2)), Legal(r.nextInt(4)), Legal(r.nextInt(4)),
      if (r.nextInt(5) == 0) 2 else 0)
  }

  /** A daily price/legality refresh of an existing card: the USD price
    * always moves, so every accepted update is a real change. */
  def refreshed(c: Card, r: Random): Card =
    c.copy(
      usdCents = Some(c.usdCents.getOrElse(100L) + 1 + r.nextInt(500)),
      eurCents = if (r.nextBoolean()) Some(1L + r.nextInt(20000)) else c.eurCents,
      standard = if (r.nextInt(10) == 0) Legal(r.nextInt(4)) else c.standard)

  private def q(s: String): String = "\"" + s + "\""
  private def cents(c: Long): String = q(f"${c / 100}%d.${c % 100}%02d")

  /** One Scryfall-shaped JSON line. `badDate` writes a date the ingest
    * cannot parse; `layout` may be outside the allowed domain. */
  def cardJson(c: Card, badDate: Boolean = false, layoutOverride: Option[String] = None): String = {
    val sb = new StringBuilder(900)
    val name = s"Card ${c.id.take(8)}"
    sb ++= "{\"object\":\"card\",\"id\":" ++= q(c.id)
    sb ++= ",\"oracle_id\":" ++= q(c.id.reverse)
    sb ++= ",\"name\":" ++= q(name) ++= ",\"lang\":\"en\""
    sb ++= ",\"released_at\":" ++= (if (badDate) q("not-a-date") else c.released.map(q).getOrElse("null"))
    sb ++= ",\"uri\":" ++= q(s"https://api.example/cards/${c.id}")
    sb ++= ",\"layout\":" ++= q(layoutOverride.getOrElse(c.layout))
    sb ++= ",\"highres_image\":true,\"image_status\":\"highres_scan\""
    if (c.faces == 0)
      sb ++= ",\"image_uris\":{\"small\":" ++= q(s"https://img.example/s/${c.id}.jpg") ++=
        ",\"normal\":" ++= q(s"https://img.example/n/${c.id}.jpg") ++= "}"
    sb ++= ",\"mana_cost\":" ++= q("{" + c.cmc + "}") ++= ",\"cmc\":" ++= c.cmc.toString ++= ".0"
    sb ++= ",\"type_line\":\"Creature — Elf\",\"oracle_text\":" ++= q(s"Rules text for $name.")
    sb ++= ",\"colors\":[\"G\"],\"color_identity\":[\"G\"],\"keywords\":[\"Flying\"]"
    sb ++= ",\"legalities\":{\"standard\":" ++= q(c.standard) ++= ",\"modern\":" ++= q(c.modern) ++=
      ",\"commander\":" ++= q(c.commander) ++= "}"
    sb ++= ",\"games\":[\"paper\"],\"reserved\":false,\"foil\":true,\"nonfoil\":true"
    sb ++= ",\"set\":" ++= q(c.set) ++= ",\"set_name\":" ++= q(s"Set ${c.set}")
    sb ++= ",\"collector_number\":\"1\",\"digital\":false,\"rarity\":" ++= q(c.rarity)
    sb ++= ",\"prices\":{\"usd\":" ++= c.usdCents.map(cents).getOrElse("null") ++=
      ",\"eur\":" ++= c.eurCents.map(cents).getOrElse("null") ++= ",\"tix\":null}"
    if (c.faces > 0) {
      sb ++= ",\"card_faces\":["
      sb ++= (0 until c.faces).map(f =>
        "{\"name\":" + q(s"$name face $f") + ",\"image_uris\":{\"normal\":" +
          q(s"https://img.example/f$f/${c.id}.jpg") + "}}").mkString(",")
      sb ++= "]"
    }
    sb ++= ",\"edhrec_rank\":" ++= (c.cmc * 1000 + 7).toString ++= "}"
    sb.toString
  }

  /** A line the JSON reader cannot parse. */
  def malformedLine(r: Random): String = s"{\"object\":\"card\",\"id\":\"${uuid(r)}\",\"name\": [truncated"

  // ---- documents and vectors (corpus_dedup) ----

  /** Pseudo-words: a fixed seeded vocabulary shared by every document. */
  def vocabulary(seed: Long, size: Int): IndexedSeq[String] = {
    val r = rng(seed, "vocab")
    val letters = "abcdefghiklmnoprstuvwy"
    (0 until size).map { i =>
      val n = 3 + r.nextInt(6)
      (0 until n).map(_ => letters(r.nextInt(letters.length))).mkString + (i % 10)
    }
  }

  /** The PII the corpus plants: an e-mail address, a URL, a 7+ digit run.
    * Pseudo-words can contain the letters "http", never "://" or "@". */
  def hasPii(text: String): Boolean =
    text.contains("@") || text.contains("://") || "\\d{7,}".r.findFirstIn(text).isDefined

  def novelTokens(r: Random, vocab: IndexedSeq[String], minLen: Int, maxLen: Int): Vector[String] =
    Vector.fill(minLen + r.nextInt(maxLen - minLen + 1))(vocab(r.nextInt(vocab.size)))

  /** A near duplicate: one substituted token per `every` tokens, spread out
    * so the 3-shingle Jaccard to the source stays at or above 0.8 for the
    * lengths the workloads generate. */
  def nearDuplicate(src: Vector[String], r: Random, vocab: IndexedSeq[String],
      every: Int = 30): Vector[String] = {
    val k = math.max(1, src.length / every)
    val stride = src.length / k
    (0 until k).foldLeft(src) { (t, i) =>
      val pos = i * stride + r.nextInt(math.max(1, stride))
      t.updated(math.min(pos, t.length - 1), vocab(r.nextInt(vocab.size)) + "x")
    }
  }

  /** Word 3-shingles as the program defines them: consecutive tokens of a
    * whitespace split, joined by one space; a shorter text is one shingle. */
  def shingles(tokens: Seq[String], n: Int = 3): Set[String] =
    if (tokens.length <= n) Set(tokens.mkString(" "))
    else tokens.sliding(n).map(_.mkString(" ")).toSet

  def tokens(text: String): Vector[String] = {
    val t = text.trim
    if (t.isEmpty) Vector("") else t.split("\\s+").toVector
  }

  /** Clustered 64-d float vectors: a seeded centre per cluster plus noise. */
  final class VectorSpace(seed: Long, val dim: Int, clusters: Int) {
    private val centres = {
      val r = rng(seed, "centres")
      Array.fill(clusters, dim)(r.nextGaussian())
    }
    def vector(id: Long): Array[Float] = {
      val r = rng(seed, "vector", id)
      val c = centres(r.nextInt(clusters))
      Array.tabulate(dim)(i => (c(i) + 0.6 * r.nextGaussian()).toFloat)
    }
    def label(id: Long): Int = rng(seed, "vector", id).nextInt(clusters)
  }
}
