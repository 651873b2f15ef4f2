package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generators. The same seed gives the same bytes. */
object Gen {

  // ---- text: one vocabulary per content family ---------------------
  // Every content word starts with its family's three-letter tag and is
  // at least six letters long; stopwords are at most four. So every
  // word 3-shingle holds a family word, two families share no shingle,
  // and the family of any text can be read back from its words.
  private val Stop = Array("the", "of", "and", "to", "in", "a", "is",
    "that", "for", "it", "with", "as", "was", "on", "at", "by")

  def tag(f: Int): String = {
    require(f >= 0 && f < 26 * 26 * 26, s"family $f out of range")
    Seq(f / 676, f / 26 % 26, f % 26).map(i => ('a' + i).toChar).mkString
  }

  private def letters(rnd: Random, n: Int): String =
    Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString

  private def word(f: Int, rnd: Random): String = tag(f) + letters(rnd, 3 + rnd.nextInt(4))

  /** The family a text was generated from, or -1. */
  def familyOf(text: String): Int = {
    val tags = text.toLowerCase.split("[^a-z]+").filter(_.length >= 6)
      .map(_.take(3))
    if (tags.isEmpty) -1
    else {
      val t = tags.groupBy(identity).maxBy(_._2.length)._1
      (t(0) - 'a') * 676 + (t(1) - 'a') * 26 + (t(2) - 'a')
    }
  }

  /** 100 family words interleaved with stopwords, in three paragraphs. */
  def prose(f: Int, rnd: Random): Vector[String] =
    Vector.fill(100)(word(f, rnd)).flatMap(w => Seq(w, Stop(rnd.nextInt(Stop.length))))

  /** The same prose with one family word replaced: word-3-shingle
    * Jaccard with the original stays above 0.94, far over the 0.8
    * near-duplicate threshold. */
  def reword(words: Vector[String], f: Int, rnd: Random): Vector[String] =
    words.updated(2 * (20 + rnd.nextInt(60)), word(f, rnd))

  def text(words: Vector[String]): String =
    words.grouped(70).map(_.mkString(" ")).mkString("\n\n")

  // ---- media: PNGs made with javax.imageio --------------------------

  /** A 32x32 grayscale PNG of 8x8 random blocks: two such images differ
    * in about half of their perceptual-hash bits. */
  def image(rnd: Random): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val blocks = Array.fill(64)(rnd.nextInt(256))
    for (y <- 0 until 32; x <- 0 until 32) {
      val g = blocks((y / 4) * 8 + x / 4)
      img.getRaster.setSample(x, y, 0, g)
    }
    val out = new ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", out), "no PNG writer")
    out.toByteArray
  }

  // ---- WARC ---------------------------------------------------------

  private def httpResponse(contentType: String, body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 200 OK\r\nContent-Type: $contentType\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(ISO_8859_1) ++ body

  /** One response record as its own gzip member (the .warc.gz layout). */
  def warcRecord(uri: String, date: String, contentType: String,
                 body: Array[Byte]): Array[Byte] = {
    val p = httpResponse(contentType, body)
    val rec = (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: $date\r\nContent-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${p.length}\r\n\r\n").getBytes(ISO_8859_1) ++ p ++
      "\r\n\r\n".getBytes(ISO_8859_1)
    val out = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(rec); gz.finish(); gz.close()
    out.toByteArray
  }

  /** The archives of one stream and what must survive them.
    * `seedDocs`/`seedMedia` build the indexes the stream starts from. */
  final case class Archives(archives: Vector[Array[Byte]], records: Long,
                            seedDocs: Vector[(Long, String)],
                            seedMedia: Vector[Array[Byte]],
                            expect: Checks.ArchiveExpect)

  val BlockedDomain = "blocked.example"

  /** `nArchives` archives of 78 records each: 62 docs and 16 images,
    * one core's share of the repo's recorded weak-scaling batch (2 000
    * pages + 500 images on 32 cores, SCALE.md round 16). */
  def archives(seed: Long, nArchives: Int, nSeedDocs: Int,
               nSeedMedia: Int): Archives = {
    val rnd = new Random(seed)
    var nextFamily = 0
    def newFamily() = { nextFamily += 1; nextFamily - 1 }
    // the history both indexes start from
    val seedDocs = Vector.fill(nSeedDocs) {
      val f = newFamily(); (f, prose(f, rnd))
    }
    val seedMedia = Vector.fill(nSeedMedia)(image(rnd))
    // families (and their prose) that later records may re-crawl
    val pool = ArrayBuffer.from(seedDocs.map { case (f, w) =>
      (f, w, s"https://seed.example/d/${tag(f)}") })
    val imgPool = ArrayBuffer.from(seedMedia)
    val required = Set.newBuilder[Int]
    val either = Vector.newBuilder[(Int, Int)]
    val hashes = Set.newBuilder[String]
    var records = 0L
    val out = (0 until nArchives).toVector.map { a =>
      val date = f"2026-03-${1 + a % 28}%02dT${a % 24}%02d:00:00Z"
      val recs = ArrayBuffer.empty[(String, String, Array[Byte])]
      def doc(url: String, w: Vector[String]) =
        recs += ((url, "text/plain; charset=utf-8", text(w).getBytes(UTF_8)))
      def img(url: String, b: Array[Byte]) = recs += ((url, "image/png", b))
      for (_ <- 0 until 40) { // originals
        val f = newFamily(); val w = prose(f, rnd)
        val url = s"https://site${f % 7}.example/a/${tag(f)}"
        doc(url, w); pool += ((f, w, url)); required += f
      }
      for (_ <- 0 until 8) { // exact re-crawls
        val (_, w, url) = pool(rnd.nextInt(pool.size)); doc(url, w)
      }
      for (i <- 0 until 8) { // rewordings, syndicated elsewhere
        val (f, w, _) = pool(rnd.nextInt(pool.size))
        doc(s"https://mirror${i % 3}.example/r/$a-$i/${tag(f)}", reword(w, f, rnd))
      }
      for (_ <- 0 until 2) {
        // tracker variants of one canonical URL, distinct content
        val (fa, fb) = (newFamily(), newFamily())
        doc(s"https://news.example/story/${tag(fa)}?utm_source=feed", prose(fa, rnd))
        doc(s"https://news.example/story/${tag(fa)}?utm_campaign=mail", prose(fb, rnd))
        either += ((fa, fb))
      }
      for (_ <- 0 until 2) { // a blocklisted domain
        val f = newFamily(); doc(s"https://www.$BlockedDomain/p/${tag(f)}", prose(f, rnd))
      }
      for (i <- 0 until 10) { // new images
        val b = image(rnd); img(s"https://img.example/i/$a-$i.png", b)
        imgPool += b; hashes += Checks.sha1(b)
      }
      for (i <- 0 until 5) // byte-identical copies
        img(s"https://cdn.example/c/$a-$i.png", imgPool(rnd.nextInt(imgPool.size)))
      img(s"https://$BlockedDomain/i/$a-0.png", image(rnd))
      records += recs.size
      val bytes = new ByteArrayOutputStream()
      rnd.shuffle(recs).foreach { case (u, ct, b) =>
        bytes.write(warcRecord(u, date, ct, b)) }
      bytes.toByteArray
    }
    Archives(out, records,
      seedDocs.map { case (f, w) => (f.toLong, w.mkString(" ")) }, seedMedia,
      Checks.ArchiveExpect(required.result(), either.result(), hashes.result(),
        seedDocs.size.toLong, seedMedia.size.toLong, BlockedDomain))
  }

  // ---- commerce events ----------------------------------------------

  final case class Event(id: Long, tsMicros: Long, user: Long, kind: String,
                         cents: Long)

  val EventStartMicros: Long =
    java.time.Instant.parse("2026-03-01T00:00:00Z").toEpochMilli * 1000L

  /** `n` events of `users` users over 48 hours; purchases carry a
    * whole-cent price, other events a value of 0. */
  def events(rnd: Random, n: Int, users: Int): Vector[Event] = {
    val kinds = Seq("view" -> 55, "click" -> 25, "purchase" -> 10,
      "signup" -> 5, "error" -> 5)
    val wheel = kinds.flatMap { case (k, w) => Seq.fill(w)(k) }.toArray
    Vector.tabulate(n) { i =>
      val k = wheel(rnd.nextInt(wheel.length))
      Event(i.toLong + 1, EventStartMicros + (rnd.nextDouble() * 48 * 3600e6).toLong,
        1L + rnd.nextInt(users), k,
        if (k == "purchase") 100L + rnd.nextInt(50000) else 0L)
    }
  }
}
