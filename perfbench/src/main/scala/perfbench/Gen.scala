package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.Random

import graft.functions.ReEncrypt
import graft.transform.Rules

/** A JSON document with ordered fields; `None` values are left out, which
  * is how a generator omits a field.
  */
final case class Obj(fields: (String, Any)*)

object Json {
  private def quote(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb ++= "null"
    case s: String => quote(s, sb)
    case b: Boolean => sb ++= b.toString
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case d: Double => sb ++= d.toString
    case f: Float => sb ++= f.toString
    case o: Obj =>
      sb += '{'
      var first = true
      for ((k, x) <- o.fields if x != None) {
        if (!first) sb += ','
        first = false
        quote(k, sb)
        sb += ':'
        write(x match { case Some(y) => y; case y => y }, sb)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      for (x <- xs) { if (!first) sb += ','; first = false; write(x, sb) }
      sb += ']'
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }

  def render(o: Obj): String = { val sb = new StringBuilder; write(o, sb); sb.toString }

  /** Writes one document per line; returns the bytes written. */
  def writeLines(path: String, docs: Iterable[Obj]): Long = {
    new File(path).getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8))
    try docs.foreach { d => w.write(render(d)); w.write('\n') } finally w.close()
    new File(path).length()
  }
}

object Gen {
  /** ISO instant, `base` + `seconds`. */
  def iso(seconds: Long): String =
    java.time.Instant.ofEpochSecond(1704067200L + seconds).toString

  def salsa(plain: String): String = ReEncrypt.encryptSalsa20(plain, Rules.LegacyKey)

  /** A fixed pseudo-word vocabulary (seed-independent) so every seed draws
    * from the same language; the seed only drives the draws.
    */
  val Syllables: Vector[String] = Vector("ba", "ko", "ri", "den", "mal", "su", "ter", "vo",
    "lin", "pra", "ga", "mon", "tel", "fi", "ran", "do", "ces", "lu", "par", "ne")
  val Vocabulary: Vector[String] =
    (for (a <- Syllables; b <- Syllables; c <- Seq("", "s", "ta", "ro")) yield a + b + c)
      .distinct.take(900)
  val Stopwords: Vector[String] = Vector("the", "and", "of", "to", "is", "a", "in", "that",
    "it", "for", "on", "with", "as", "was", "at", "by", "from", "this", "be", "are")
  /** Function words of no language the engine's language gate accepts. */
  val ForeignWords: Vector[String] = Vector("il", "lo", "gli", "nella", "con", "una", "per",
    "che", "sono", "questo", "quando", "anche", "molto", "della", "ancora")

  /** Zipf-like draw over the vocabulary: low ranks are common. */
  def word(r: Random): String = {
    val u = r.nextDouble()
    Vocabulary((math.pow(u, 2.2) * Vocabulary.size).toInt min (Vocabulary.size - 1))
  }

  def sentence(r: Random, n: Int): Seq[String] =
    Seq.fill(n)(if (r.nextDouble() < 0.4) Stopwords(r.nextInt(Stopwords.size)) else word(r))
}

// ---- migration ---------------------------------------------------------------

/** The generated Mongo export plus what the checks expect of its migration. */
final case class MigrationInput(
    dir: String,
    docs: Map[String, Long],
    bytes: Long,
    users: Long,
    messagesKept: Long,
    encryptedKept: Long,
    professionLinks: Long,
    entityLinks: Long,
    payloads: Vector[String],
    roomIds: Vector[String],
    messageKeys: Vector[(Long, String)]) {
  def records: Long = docs.values.sum
}

/** Seeded generator of the 13 Mongo collections the 15 entity stages read,
  * scaled by message count. It covers the shape variants the reference
  * tolerates: ids as plain strings or `{_id}` documents (one shape per
  * field, as a real collection has), media as strings or `{url}`
  * documents, alternate field names, missing fields, m2m arrays and a
  * nested docs folder tree. About 20 % of message and file payloads are
  * Salsa20-encrypted and about 2 % of rooms receive half the messages.
  */
object MigrationGen {

  def generate(dir: String, seed: Long, nMessages: Int): MigrationInput = {
    val r = new Random(seed)
    val out = mutable.LinkedHashMap.empty[String, Seq[Obj]]
    def chance(p: Double) = r.nextDouble() < p

    out("roles") = Seq(
      Obj("_id" -> "ro1", "name" -> "USER", "type" -> "app"),
      Obj("_id" -> "ro2", "name" -> "ADMIN", "type" -> "app", "default" -> true),
      Obj("_id" -> "ro3", "name" -> "AGENTE"),
      Obj("_id" -> "ro4", "name" -> "SPECIAL", "type" -> "app", "contactsHide" -> true))
    val provinces = (1 to 6).map(i => s"p$i")
    out("provinces") = provinces.map(p => Obj("_id" -> p, "name" -> s"Provincia $p",
      "key" -> p.toUpperCase, "isActive" -> true))
    val municipalities = for (p <- provinces; j <- 1 to 3) yield (s"mu${p}_$j", p)
    out("municipalities") = municipalities.map { case (m, p) =>
      Obj("_id" -> m, "name" -> s"Municipio $m", "province" -> p,
        "isActive" -> (if (chance(0.2)) None else Some(true)))
    }
    val parroquias = for ((m, p) <- municipalities; j <- 1 to 2) yield (s"pa${m}_$j", m, p)
    out("parroquias") = parroquias.map { case (pa, m, p) =>
      Obj("_id" -> pa, "name" -> s"Parroquia $pa", "province" -> p, "municipality" -> m)
    }
    val professions = (1 to 10).map(i => s"pr$i")
    out("professions") = professions.map(p =>
      if (chance(0.3)) Obj("_id" -> p, "name_es" -> s"Profesion $p")
      else Obj("_id" -> p, "name" -> s"Profession $p", "name_es" -> s"Profesion $p"))
    val entities = (1 to 5).map(i => s"en$i")
    out("entities") = entities.map(e => Obj("_id" -> e, "name" -> s"Entity $e",
      "organization" -> (if (chance(0.5)) Some("gov") else None)))

    val nUsers = math.max(40, nMessages / 40)
    val users = (0 until nUsers).map(i => s"u$i")
    var professionLinks = 0L
    var entityLinks = 0L
    out("users") = users.map { u =>
      val (pa, m, p) = parroquias(r.nextInt(parroquias.size))
      val profs = r.shuffle(professions).take(r.nextInt(4))
      val ents = r.shuffle(entities).take(r.nextInt(3))
      professionLinks += profs.size
      entityLinks += ents.size
      val named = chance(0.5)
      Obj("_id" -> u,
        (if (named) "displayName" else "name") -> s"User $u",
        (if (chance(0.5)) "phoneNumber" else "phone") -> s"( 58 ) 412-${1000 + r.nextInt(9000)}",
        "email" -> (if (chance(0.7)) Some(s"User.$u@Example.COM") else None),
        "province" -> (if (chance(0.9)) Some(Obj("_id" -> p)) else None),
        "municipality" -> m, "parroquia" -> pa,
        "userType" -> Seq("USER_ROLE", "ADMIN", "AGENTE_ROLE")(r.nextInt(3)),
        "isActive" -> (if (chance(0.05)) Some(false) else if (chance(0.2)) None else Some(true)),
        "profession" -> profs, "entities" -> ents,
        "photoURL" -> (if (chance(0.5)) Some(s"gs://sibci-devel.appspot.com/avatars/$u.png") else None),
        "createdAt" -> Gen.iso(r.nextInt(1000000).toLong))
    }

    val channels = (0 until math.max(3, nUsers / 20)).map(i => s"c$i")
    val lives = channels.flatMap(c => Seq(s"l${c}_1", s"l${c}_2"))
    out("channels") = channels.map(c => Obj("_id" -> c, "name" -> s"Canal $c",
      "isActive" -> true, "createdBy" -> users(r.nextInt(nUsers)),
      "picture" -> Obj("url" -> s"gs://sibci-2f7fc.appspot.com/channels/$c.png"),
      "lives" -> lives.filter(_.startsWith(s"l${c}_"))))
    out("lives") = lives.map { l =>
      Obj("_id" -> l, "title" -> s"En vivo $l", "channel" -> Obj("_id" -> l.drop(1).takeWhile(_ != '_')),
        "createdBy" -> users(r.nextInt(nUsers)), "isFinished" -> chance(0.5),
        "photoURL" -> (if (chance(0.6)) Some(Obj("url" -> s"gs://sibci-devel.appspot.com/lives/$l.png")) else None),
        "liveUrl" -> s"https://video.example/$l")
    }

    // folder tree: "/" → top-level folders → one or two nested levels
    val folderPaths = mutable.ArrayBuffer.empty[(String, String)] // (parent, name)
    for (top <- Seq("docs", "legal", "media")) {
      folderPaths += (("/", top))
      for (y <- Seq("2023", "2024")) {
        folderPaths += ((s"/$top", y))
        if (top == "docs") folderPaths += ((s"/$top/$y", "q1"))
      }
    }
    val folderDocs = folderPaths.zipWithIndex.map { case ((parent, name), i) =>
      Obj("_id" -> s"f$i", "name" -> name, "type" -> "FOLDER", "onFolder" -> parent, "isActive" -> true)
    }
    val fullPaths = folderPaths.map { case (p, n) => if (p == "/") s"/$n" else s"$p/$n" }
    val nFiles = math.max(10, nUsers / 5)
    val fileDocs = (0 until nFiles).map { i =>
      Obj("_id" -> s"a$i", "title" -> s"archivo $i", "fileType" -> (if (chance(0.7)) "PDF" else "DOCX"),
        "onFolder" -> (if (i < 2) "/nada" else fullPaths(r.nextInt(fullPaths.size))),
        "isActive" -> chance(0.9), "uploadedBy" -> Obj("_id" -> users(r.nextInt(nUsers))),
        "specialRole" -> (if (chance(0.1)) Some("ro4") else None),
        "fileUrl" -> s"gs://sibci-devel.appspot.com/docs/a$i.pdf")
    }
    out("docs") = folderDocs.toSeq ++ fileDocs

    val nRooms = math.max(20, nMessages / 25)
    val rooms = (0 until nRooms).map(i => s"r$i")
    val giant = math.max(1, nRooms / 50)
    val isGroup = rooms.map(_ => chance(0.4))
    out("rooms") = rooms.zipWithIndex.map { case (rm, i) =>
      Obj("_id" -> rm, "name" -> (if (chance(0.1)) "" else s"Sala $rm"),
        "isGroup" -> isGroup(i), "isAdmin" -> (if (chance(0.05)) Some(true) else None),
        "description" -> (if (chance(0.3)) Some(s"descripcion $rm") else None),
        "permissions" -> Obj("addMember" -> chance(0.5), "sendMessage" -> chance(0.9)),
        "createdAt" -> Gen.iso(i.toLong))
    }
    var memberId = 0
    out("roommembers") = rooms.zipWithIndex.flatMap { case (rm, i) =>
      val n = if (isGroup(i)) 3 + r.nextInt(3) else 2
      r.shuffle(users.indices.toVector).take(n).map { u =>
        memberId += 1
        Obj("_id" -> s"b$memberId", "room" -> Obj("_id" -> rm), "user" -> users(u),
          "role" -> (if (chance(0.1)) "admin" else "member"), "joinedAt" -> Gen.iso(i.toLong))
      }
    }

    var kept = 0L
    var encryptedKept = 0L
    val payloads = Vector.newBuilder[String]
    val messageKeys = Vector.newBuilder[(Long, String)]
    out("messages") = (0 until nMessages).map { i =>
      val id = s"m$i"
      val room = if (chance(0.5)) rooms(r.nextInt(giant)) else rooms(r.nextInt(nRooms))
      val plain = s"mensaje $i ${Gen.sentence(r, 3 + r.nextInt(8)).mkString(" ")}"
      val encrypted = chance(0.2)
      val body = if (encrypted) Gen.salsa(plain) else plain
      val msgType = if (chance(0.02)) Some("GEO_LOCATION") else if (chance(0.01)) Some("SURVEY") else None
      val deleted = chance(0.02)
      val inactive = chance(0.01)
      val touchDelete = chance(0.005)
      val file = chance(0.1)
      val fileType = if (file) Some(if (chance(0.5)) "DOCUMENTO" else "IMAGE") else None
      val ext = if (chance(0.7)) "pdf" else "docx"
      val url = s"gs://sibci-devel.appspot.com/files/$id.$ext"
      val fileUrl = if (file) Some(if (chance(0.2)) Gen.salsa(url) else url) else None
      val survives = msgType.isEmpty && !touchDelete && !deleted && !inactive &&
        !(fileType.contains("DOCUMENTO") && ext != "pdf")
      if (survives) { kept += 1; if (encrypted) encryptedKept += 1 }
      payloads += body
      val seconds = 86400L + i * 7L
      messageKeys += ((seconds * 1000000L, id))
      Obj("_id" -> id, "room" -> room, "sender" -> users(r.nextInt(nUsers)),
        (if (chance(0.5)) "message" else "content") -> body,
        "msgType" -> msgType, "isDeleted" -> (if (deleted) Some(true) else None),
        "isActive" -> (if (inactive) Some(false) else Some(true)),
        "msgLife" -> (if (touchDelete) Some("TOUCH_SHOW_DELETE") else None),
        "fileType" -> fileType, "fileURL" -> fileUrl,
        "replyTo" -> (if (i > 0 && chance(0.05)) Some(s"m${r.nextInt(i)}") else None),
        "createdAt" -> Gen.iso(seconds))
    }

    var bytes = 0L
    for ((name, docs) <- out) bytes += Json.writeLines(s"$dir/$name.jsonl", docs)
    MigrationInput(dir, out.map { case (k, v) => k -> v.size.toLong }.toMap, bytes,
      users = nUsers, messagesKept = kept, encryptedKept = encryptedKept,
      professionLinks = professionLinks, entityLinks = entityLinks,
      payloads = payloads.result(), roomIds = rooms.toVector, messageKeys = messageKeys.result())
  }
}

// ---- train prep --------------------------------------------------------------

/** The generated corpus and the structure planted in it. */
final case class Corpus(
    docs: Seq[(Long, String)],
    embeddings: Seq[(Long, Array[Float])],
    exactDupIds: Set[Long],
    containedIds: Set[Long],
    gatedIds: Set[Long],
    semGroups: Int,
    boilerplateIds: Set[Long])

/** Seeded corpus for the train-prep pipeline. Besides ordinary documents it
  * plants, with known ids: exact duplicates (case and spacing changed, higher
  * ids so the original survives), near-duplicate clusters, documents wholly
  * contained in a longer one, a shared boilerplate sentence, low-quality and
  * off-language documents, and groups of distinct documents with
  * near-identical embeddings.
  */
object CorpusGen {
  val Boilerplate: String =
    "the terms of this notice are part of the agreement and apply to every reader of this page"
  val Dim = 32

  def generate(seed: Long, nBase: Int): Corpus = {
    val r = new Random(seed)
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    var next = 1L
    def add(text: String): Long = { val id = next; next += 1; docs += ((id, text)); id }
    def body(n: Int) = Gen.sentence(r, n).mkString(" ")

    val boilerplateIds = mutable.Set.empty[Long]
    val base = (0 until nBase).map { _ =>
      val t = body(40 + r.nextInt(50))
      val withBp = r.nextDouble() < 0.08
      val id = add(if (withBp) s"$t $Boilerplate" else t)
      if (withBp) boilerplateIds += id
      id
    }
    val text = docs.toMap
    // near-duplicate clusters: a few words substituted per variant
    for (b <- r.shuffle(base).take(nBase / 20); _ <- 0 until 2) {
      val words = text(b).split(" ")
      add(words.map(w => if (r.nextDouble() < 0.04) Gen.word(r) else w).mkString(" "))
    }
    // contained documents: the superset is the contained text plus as much
    // again, so their word-bigram Jaccard stays under the near-dup bar
    val contained = (0 until math.max(4, nBase / 60)).map { _ =>
      val inner = body(45)
      val c = add(inner)
      add(s"$inner ${body(45)}")
      c
    }
    val gated = mutable.Set.empty[Long]
    for (_ <- 0 until math.max(3, nBase / 30)) {
      gated += add(Seq.fill(30)(Seq("###", "1234", "!!", "99.5", "%%", "--")(r.nextInt(6))).mkString(" "))
      gated += add(Seq.fill(50)(Gen.ForeignWords(r.nextInt(Gen.ForeignWords.size))).mkString(" "))
    }
    val semStart = next
    val semGroups = math.max(3, nBase / 80)
    for (_ <- 0 until semGroups * 3) add(body(50 + r.nextInt(30)))
    // exact duplicates last: higher ids than every original
    val exact = r.shuffle(base).take(nBase / 20).map { b =>
      add("  " + text(b).split(" ").map(w => if (r.nextBoolean()) w.toUpperCase else w).mkString("  "))
    }

    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def gauss(): Array[Float] = Array.fill(Dim)(r.nextGaussian().toFloat)
    val emb = mutable.ArrayBuffer.empty[(Long, Array[Float])]
    var i = semStart
    for (_ <- 0 until semGroups) {
      val v = gauss()
      for (k <- 0 until 3) {
        emb += ((i, unit(v.map(x => x + 0.01f * k * r.nextGaussian().toFloat))))
        i += 1
      }
    }
    for ((id, _) <- docs if id < semStart || id >= i) emb += ((id, unit(gauss())))

    Corpus(docs.toSeq, emb.toSeq, exact.toSet, contained.toSet, gated.toSet, semGroups,
      boilerplateIds.toSet)
  }
}
