package graft.perfbench

import scala.collection.mutable

/** One business card in the engine's ingest shape (the envelope columns
  * plus the parsed card fields, as `GraftEngine.ingest` takes them). */
final case class Card(s3_bucket: String, s3_key: String, owner: String,
                      addr: String, email: String, phone_number: String,
                      company: String, name: String, job_title: String,
                      created_at: String)

/** A person: the subject of cards. Persons `0 until owners` are also
  * owners; their e-mail local part is their owner name, so the owner's
  * graph id (md5-8 of the owner) and person id (md5-8 of the local part)
  * coincide, as in the reference. */
final case class Person(user: String, name: String, email: String,
                        phone: String, company: String, title: String)

/** One serving request. `owner` is the search owner filter. */
sealed trait Request { def key: String }
final case class SearchReq(query: String, owner: Option[String]) extends Request {
  def key: String = s"search\u0000$query\u0000${owner.getOrElse("")}"
}
final case class PymkReq(name: String) extends Request {
  def key: String = s"pymk\u0000$name"
}

final case class Shape(owners: Int, persons: Int, preload: Int,
                       foldSize: Int, distinctRequests: Int)

object Shape {
  val Bench = Shape(owners = 50, persons = 1250, preload = 5000,
    foldSize = 100, distinctRequests = 2000)
  val Toy = Shape(owners = 12, persons = 150, preload = 600,
    foldSize = 20, distinctRequests = 80)
}

/** Seeded card warehouse and request stream. Everything is a pure
  * function of (seed, shape): fold `k` and request `i` each come from
  * their own derived generator, so how many of them a run consumes does
  * not change what they are. */
final class Gen(val seed: Long, val shape: Shape) {
  import Gen._

  private def rng(stream: String, k: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xBF58476D1CE4E5B9L ^ k)

  val persons: Vector[Person] = {
    val r = rng("persons", 0)
    // distinct (first, last) pairs: every full name is unique, so a
    // PYMK anchor by name is never ambiguous
    val seen = mutable.HashSet.empty[(Int, Int)]
    (0 until shape.persons).map { i =>
      var fl = (r.nextInt(FirstNames.length), r.nextInt(LastNames.length))
      while (seen(fl)) fl = (r.nextInt(FirstNames.length), r.nextInt(LastNames.length))
      seen += fl
      val user = if (i < shape.owners) f"u$i%04d" else f"p$i%05d"
      val company = s"${pick(r, CompanyWords)} ${pick(r, CompanySuffix)}"
      val title = s"${pick(r, Levels)} ${pick(r, Fields)} ${pick(r, Roles)}"
      val domain = company.toLowerCase.replace(' ', '-') + ".com"
      Person(user, s"${FirstNames(fl._1)} ${LastNames(fl._2)}", s"$user@$domain",
        f"+1 ${200 + r.nextInt(800)}%03d ${r.nextInt(1000)}%03d ${r.nextInt(10000)}%04d",
        company, title)
    }.toVector
  }
  def owners: Vector[Person] = persons.take(shape.owners)

  /** Owner activity: Zipf(1.0) over owner rank. */
  private val ownerCdf = zipfCdf(shape.owners, 1.0)

  private def card(r: java.util.SplittableRandom, serial: Long, owner: Person,
                   subject: Person): Card = {
    val addr = s"${1 + r.nextInt(999)} ${pick(r, Streets)} st ${pick(r, Cities)} " +
      s"ref$serial"
    Card("bizcard-raw-img", s"bizcard-raw-img/${owner.user}_$serial.jpg", owner.user,
      addr, subject.email, subject.phone, subject.company, subject.name,
      subject.title, timestamp(serial))
  }

  private def randomCard(r: java.util.SplittableRandom, serial: Long): Card =
    card(r, serial, persons(sample(r, ownerCdf)), persons(r.nextInt(shape.persons)))

  /** The bulk preload: one self card per owner, then cards whose owner
    * is Zipf-skewed and whose subject is uniform. */
  lazy val preload: Vector[Card] = {
    val r = rng("preload", 0)
    val self = owners.zipWithIndex.map { case (o, i) => card(r, i.toLong, o, o) }
    self ++ (shape.owners until shape.preload).map(i => randomCard(r, i.toLong))
  }

  /** Fold `k` (0-based): `foldSize` new cards, serials after the preload. */
  def fold(k: Int): Vector[Card] = {
    val r = rng("fold", k.toLong)
    val base = shape.preload.toLong + k.toLong * shape.foldSize
    (0 until shape.foldSize).map(i => randomCard(r, base + i)).toVector
  }

  /** The distinct request keys: every owner's PYMK plus search keys
    * (one or two pool terms, a third of them owner-filtered). */
  lazy val keys: (Vector[SearchReq], Vector[PymkReq]) = {
    val r = rng("keys", 0)
    val pymk = owners.map(o => PymkReq(o.name.toLowerCase))
    val nSearch = shape.distinctRequests - pymk.length
    val seen = mutable.LinkedHashSet.empty[SearchReq]
    while (seen.size < nSearch) {
      val q = r.nextInt(4) match {
        case 0 => pick(r, FirstNames)
        case 1 => s"${pick(r, FirstNames)} ${pick(r, LastNames)}"
        case 2 => s"${pick(r, Levels)} ${pick(r, Roles)}"
        case _ => s"${pick(r, CompanyWords)} ${pick(r, Streets)}"
      }
      val owner = if (r.nextInt(3) == 0) Some(owners(r.nextInt(owners.length)).user) else None
      seen += SearchReq(q.toLowerCase, owner)
    }
    // rank order of the Zipf draw: a seeded shuffle, so popularity is
    // independent of how a key was generated
    (shuffle(r, seen.toVector), shuffle(r, pymk))
  }

  def searchKeys: Vector[SearchReq] = keys._1
  def pymkKeys: Vector[PymkReq] = keys._2

  private lazy val searchCdf = zipfCdf(searchKeys.length, 0.8)
  private lazy val pymkCdf = zipfCdf(pymkKeys.length, 0.8)

  /** Search `i` and PYMK `i` of the read stream, each Zipf(0.8) over
    * its keys. */
  def zipfSearch(i: Long): SearchReq = searchKeys(sample(rng("search", i), searchCdf))
  def zipfPymk(i: Long): PymkReq = pymkKeys(sample(rng("pymk", i), pymkCdf))

  /** A read-your-write probe for a fold: the addr token unique to the
    * fold's first card, with its owner filter. */
  def probe(batch: Vector[Card]): (SearchReq, Card) = {
    val c = batch.head
    (SearchReq(c.addr.split(' ').last, Some(c.owner)), c)
  }
}

object Gen {
  private val Epoch = java.time.Instant.parse("2020-01-01T00:00:00Z")
  private val Iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
  def timestamp(serial: Long): String = Iso.format(Epoch.plusSeconds(serial * 7))

  def pick[T](r: java.util.SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  def sample(r: java.util.SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def shuffle[T](r: java.util.SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  val FirstNames: Vector[String] = Vector(
    "Ada", "Alan", "Alice", "Amir", "Ana", "Anton", "Aria", "Ben", "Bora", "Carl",
    "Chen", "Clara", "Dana", "Dario", "Dev", "Dora", "Eli", "Emma", "Eric", "Eva",
    "Farah", "Felix", "Gina", "Goran", "Hana", "Hugo", "Ian", "Ines", "Ivan", "Jae",
    "Jana", "Jin", "Joel", "Kai", "Kara", "Kenji", "Lars", "Lea", "Leo", "Lina",
    "Luca", "Maya", "Mia", "Milo", "Mina", "Nadia", "Nico", "Nina", "Noah", "Nora",
    "Omar", "Oscar", "Pia", "Poby", "Quinn", "Rafa", "Rina", "Rosa", "Ruben", "Sami",
    "Sara", "Sena", "Soo", "Tara", "Teo", "Tina", "Uma", "Vera", "Victor", "Wren",
    "Xena", "Yara", "Yuki", "Yuna", "Zane", "Zara", "Arlo", "Beth", "Cyra", "Dino",
    "Edda", "Finn", "Gaia", "Hal", "Ilse", "Jude", "Kit", "Lior", "Mara", "Ned",
    "Odin", "Peri", "Rhea", "Sol", "Tove", "Ugo", "Vik", "Willa", "Yves", "Zia")
  val LastNames: Vector[String] = (Vector(
    "Kim", "Lee", "Park", "Choi", "Jung", "Kang", "Cho", "Yoon", "Jang", "Lim",
    "Smith", "Jones", "Brown", "Garcia", "Miller", "Davis", "Lopez", "Wilson", "Moore", "Clark",
    "Silva", "Costa", "Rossi", "Russo", "Bianchi", "Muller", "Schmidt", "Weber", "Wagner", "Becker",
    "Dubois", "Martin", "Bernard", "Petit", "Durand", "Tanaka", "Suzuki", "Sato", "Ito", "Kato",
    "Nguyen", "Tran", "Pham", "Singh", "Patel", "Shah", "Khan", "Ali", "Haddad", "Cohen")
    .flatMap(s => Seq(s, s + "son", s + "er", s + "ova"))) // 200 surnames
  val CompanyWords: Vector[String] = Vector(
    "Acme", "Apex", "Aster", "Beacon", "Birch", "Blue", "Bright", "Cedar", "Cobalt", "Comet",
    "Coral", "Crest", "Delta", "Echo", "Ember", "Falcon", "Fern", "Flint", "Forge", "Gale",
    "Granite", "Harbor", "Helix", "Indigo", "Iron", "Jade", "Juniper", "Keystone", "Lark", "Lumen",
    "Maple", "Meridian", "Nimbus", "Nova", "Oak", "Onyx", "Orbit", "Pine", "Pixel", "Quartz",
    "Raven", "Ridge", "Sable", "Sierra", "Slate", "Solar", "Spruce", "Summit", "Tidal", "Vertex")
  val CompanySuffix: Vector[String] =
    Vector("Labs", "Systems", "Works", "Analytics", "Cloud", "Networks")
  val Levels: Vector[String] =
    Vector("Junior", "Senior", "Staff", "Principal", "Lead", "Chief")
  val Fields: Vector[String] = Vector("Data", "Software", "Product", "Sales", "Marketing",
    "Security", "Platform", "Research", "Finance", "Design")
  val Roles: Vector[String] = Vector("Engineer", "Manager", "Analyst", "Scientist",
    "Architect", "Director", "Consultant", "Specialist")
  val Streets: Vector[String] = Vector("Main", "Oak", "Elm", "Park", "Lake", "Hill",
    "Maple", "Cedar", "Pine", "River", "Bay", "Church", "Market", "Mill", "Spring",
    "Valley", "Forest", "Sunset", "Highland", "Union")
  val Cities: Vector[String] = Vector("Seoul", "Busan", "Austin", "Denver", "Boston",
    "Lisbon", "Berlin", "Munich", "Osaka", "Tokyo", "Paris", "Lyon", "Milan", "Madrid",
    "Dublin", "Oslo", "Vienna", "Prague", "Toronto", "Sydney")
}
