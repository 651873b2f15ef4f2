package graftbench

/** Output checkers. Each takes the program's outputs as plain values,
  * compares them with what the generator knows or with a computation
  * made apart from graft, and returns one message per violation (empty
  * when the output is correct). They touch no Spark API, so the self
  * test can feed them corrupted outputs directly. */
object Checks {

  /** A run's verdict: at least one round finished and had its outputs
    * checked, and nothing failed (a round or set-up that threw counts
    * as a failure, since its outputs were never checked). */
  def correct(roundsChecked: Int, failures: Seq[String]): Boolean =
    roundsChecked > 0 && failures.isEmpty

  /** What the archive generator planted. `required` are the content
    * families that must survive; of each pair in `eitherOf` (tracker
    * variants of one canonical URL) exactly one must. */
  final case class ArchiveExpect(required: Set[Int], eitherOf: Seq[(Int, Int)],
                                 mediaHashes: Set[String], seedDocs: Long,
                                 seedMedia: Long, blockedDomain: String) {
    def docs: Int = required.size + eitherOf.size
  }

  def blocked(url: String, domain: String): Boolean = {
    val host = try new java.net.URI(url).getHost catch { case _: Exception => null }
    host != null && (host == domain || host.endsWith("." + domain))
  }

  def sha1(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  /** `docs` are (url, text) corpus rows, `media` (url, payload) rows;
    * the index totals are read from the indexes' own files. */
  def archive(e: ArchiveExpect, docs: Seq[(String, String)],
              media: Seq[(String, Array[Byte])], textIndexSets: Long,
              mediaIndexRows: Long): Seq[String] = {
    val out = Vector.newBuilder[String]
    if (docs.size != e.docs)
      out += s"doc corpus has ${docs.size} rows, expected ${e.docs}"
    val fams = docs.map { case (_, t) => Gen.familyOf(t) }
    if (fams.contains(-1)) out += "a corpus doc carries no content family"
    if (fams.distinct.size != fams.size || docs.map(_._2).distinct.size != docs.size)
      out += "two corpus docs share content"
    val got = fams.toSet
    val missing = e.required -- got
    if (missing.nonEmpty) out += s"families missing from the corpus: ${missing.take(5)}"
    e.eitherOf.foreach { case (a, b) =>
      if (got(a) == got(b)) out += s"tracker variants $a/$b: expected exactly one survivor"
    }
    val extra = got -- e.required -- e.eitherOf.flatMap(p => Seq(p._1, p._2))
    if (extra.nonEmpty) out += s"unexpected families in the corpus: ${extra.take(5)}"
    val hashes = media.map(m => sha1(m._2))
    if (hashes.distinct.size != hashes.size) out += "two media corpus rows are byte-identical"
    if (hashes.toSet != e.mediaHashes)
      out += s"media corpus holds ${hashes.toSet.size} distinct payloads, " +
        s"expected ${e.mediaHashes.size} (${(e.mediaHashes -- hashes).size} missing)"
    (docs.map(_._1) ++ media.map(_._1)).filter(blocked(_, e.blockedDomain))
      .take(3).foreach(u => out += s"blocklisted URL survived: $u")
    if (textIndexSets != e.seedDocs + docs.size)
      out += s"text index holds $textIndexSets set rows, corpus " +
        s"${docs.size} + seed ${e.seedDocs}"
    if (mediaIndexRows != e.seedMedia + media.size)
      out += s"media index holds $mediaIndexRows rows, corpus " +
        s"${media.size} + seed ${e.seedMedia}"
    out.result()
  }

  /** Everything the commerce generator knows about its event log. */
  final case class CommerceExpect(perType: Map[String, Long],
                                  hourly: Map[Long, (Long, Long)],
                                  perUser: Map[Long, Map[String, Long]]) {
    def userTotal(u: Long): Long = perUser.getOrElse(u, Map.empty).values.sum
  }

  /** Rows written per event type by the filter step. */
  def filter(e: CommerceExpect, types: Seq[String],
             written: Map[String, Long]): Seq[String] =
    types.flatMap { t =>
      val want = e.perType.getOrElse(t, 0L); val have = written.getOrElse(t, -1L)
      if (want != have) Seq(s"filter wrote $have $t rows, expected $want") else Nil
    }

  /** Agg rows: hour start (µs) -> (revenue, purchases). */
  def agg(e: CommerceExpect, rows: Map[Long, (Double, Long)]): Seq[String] = {
    val out = Vector.newBuilder[String]
    if (rows.keySet != e.hourly.keySet)
      out += s"agg has ${rows.size} windows, expected ${e.hourly.size}"
    e.hourly.foreach { case (h, (cents, n)) =>
      rows.get(h).foreach { case (rev, p) =>
        if (rev != cents.toDouble / 100.0 || p != n)
          out += s"window $h: revenue $rev purchases $p, expected ${cents / 100.0} / $n"
      }
    }
    out.result().take(5)
  }

  /** A user x event-type count matrix against the generator's counts. */
  def matrix(e: CommerceExpect, types: Seq[String],
             rows: Map[Long, Seq[Long]]): Seq[String] = {
    val out = Vector.newBuilder[String]
    if (rows.keySet != e.perUser.keySet)
      out += s"matrix has ${rows.size} users, expected ${e.perUser.size}"
    rows.foreach { case (u, cs) =>
      val want = types.map(t => e.perUser.getOrElse(u, Map.empty).getOrElse(t, 0L))
      if (cs != want) out += s"user $u: counts $cs, expected $want"
    }
    out.result().take(5)
  }

  /** Features: events per user. */
  def features(e: CommerceExpect, nEvents: Map[Long, Long]): Seq[String] = {
    val bad = e.perUser.keys.filter(u => nEvents.get(u) != Some(e.userTotal(u)))
    val out = bad.take(3).map(u => s"features: user $u has ${nEvents.get(u)} events, expected ${e.userTotal(u)}").toVector
    if (nEvents.size != e.perUser.size) out :+ s"features has ${nEvents.size} users" else out
  }

  /** Data mart: each user's pivot counts sum to the user's events. */
  def datamart(e: CommerceExpect, rows: Map[Long, Seq[Long]]): Seq[String] = {
    val out = Vector.newBuilder[String]
    if (rows.keySet != e.perUser.keySet)
      out += s"data mart has ${rows.size} users, expected ${e.perUser.size}"
    rows.foreach { case (u, cs) =>
      if (cs.sum != e.userTotal(u))
        out += s"data mart user $u: pivot sums to ${cs.sum}, expected ${e.userTotal(u)}"
    }
    out.result().take(5)
  }
}
