package graftbench

import scala.util.Random

/** Feeds every checker one correct output, which it must accept, and
  * deliberately corrupted outputs, each of which it must reject.
  * Exits 0 only if all of that holds. Needs no Spark session. */
object SelfTest {
  private var bad = 0

  private def expect(name: String, failures: Seq[String], shouldFail: Boolean): Unit = {
    val ok = failures.nonEmpty == shouldFail
    if (!ok) bad += 1
    val verdict = if (failures.isEmpty) "accepted" else s"rejected (${failures.head})"
    println(s"${if (ok) "ok  " else "FAIL"} $name: $verdict")
  }

  def main(args: Array[String]): Unit = {
    archive(); commerce(); verdict()
    println(if (bad == 0) "SELFTEST OK" else s"SELFTEST FAILED: $bad")
    System.exit(if (bad == 0) 0 else 1)
  }

  private def archive(): Unit = {
    val rnd = new Random(7)
    val e = Checks.ArchiveExpect(Set(1, 2, 3), Seq((4, 5)),
      Set.empty, seedDocs = 2, seedMedia = 1, blockedDomain = Gen.BlockedDomain)
    def doc(f: Int) = (s"https://site.example/${Gen.tag(f)}", Gen.prose(f, rnd).mkString(" "))
    val imgs = Seq(Gen.image(rnd), Gen.image(rnd))
    val good = Seq(doc(1), doc(2), doc(3), doc(5))
    val media = imgs.zipWithIndex.map { case (b, i) => (s"https://img.example/$i.png", b) }
    val e2 = e.copy(mediaHashes = imgs.map(Checks.sha1).toSet)
    def run(d: Seq[(String, String)], m: Seq[(String, Array[Byte])] = media,
            sets: Long = 6, mrows: Long = 3) = Checks.archive(e2, d, m, sets, mrows)
    expect("archive: correct output", run(good), shouldFail = false)
    expect("archive: a survivor missing", run(good.take(3), sets = 5), shouldFail = true)
    expect("archive: both tracker variants kept", run(good :+ doc(4), sets = 7), shouldFail = true)
    val reworded = ("https://mirror.example/x", good.head._2.replaceFirst(" the ", " of "))
    expect("archive: a near-duplicate kept",
      run(Seq(good(0), good(1), reworded, good(3))), shouldFail = true)
    val blocked = (s"https://www.${Gen.BlockedDomain}/p", good(1)._2)
    expect("archive: a blocklisted URL kept", run(Seq(good.head, blocked, good(2), good(3))),
      shouldFail = true)
    expect("archive: a byte-identical media copy kept",
      run(good, media :+ ("https://cdn.example/c.png", imgs.head), mrows = 4), shouldFail = true)
    expect("archive: index and corpus totals disagree", run(good, sets = 7), shouldFail = true)
  }

  private def commerce(): Unit = {
    val types = Seq("click", "purchase", "view")
    val e = Checks.CommerceExpect(Map("view" -> 3L, "purchase" -> 2L, "click" -> 1L),
      Map(0L -> ((1500L, 2L)), 3600000L -> ((0L, 0L))),
      Map(1L -> Map("view" -> 2L, "purchase" -> 2L), 2L -> Map("view" -> 1L, "click" -> 1L)))
    val written = Map("view" -> 3L, "purchase" -> 2L)
    expect("filter: correct output", Checks.filter(e, Seq("view", "purchase"), written),
      shouldFail = false)
    expect("filter: a row lost", Checks.filter(e, Seq("view", "purchase"),
      written.updated("view", 2L)), shouldFail = true)
    val agg = Map(0L -> ((15.0, 2L)), 3600000L -> ((0.0, 0L)))
    expect("agg: correct output", Checks.agg(e, agg), shouldFail = false)
    expect("agg: revenue off by a cent", Checks.agg(e, agg.updated(0L, (15.01, 2L))),
      shouldFail = true)
    expect("agg: a window missing", Checks.agg(e, agg - 3600000L), shouldFail = true)
    val matrix = Map(1L -> Seq(0L, 2L, 2L), 2L -> Seq(1L, 0L, 1L))
    expect("users_items: correct output", Checks.matrix(e, types, matrix), shouldFail = false)
    expect("users_items: update not additive (second slice lost)",
      Checks.matrix(e, types, matrix.updated(2L, Seq(0L, 0L, 1L))), shouldFail = true)
    expect("features: correct output", Checks.features(e, Map(1L -> 4L, 2L -> 2L)),
      shouldFail = false)
    expect("features: a user's count wrong", Checks.features(e, Map(1L -> 3L, 2L -> 2L)),
      shouldFail = true)
    val mart = Map(1L -> Seq(0L, 0L, 2L, 0L, 2L), 2L -> Seq(1L, 0L, 0L, 0L, 1L))
    expect("data_mart: correct output", Checks.datamart(e, mart), shouldFail = false)
    expect("data_mart: pivot loses an event", Checks.datamart(e,
      mart.updated(1L, Seq(0L, 0L, 1L, 0L, 2L))), shouldFail = true)
  }

  private def verdict(): Unit = {
    def run(rounds: Int, failures: Seq[String]) =
      if (Checks.correct(rounds, failures)) Nil else Seq("not correct")
    expect("verdict: a checked round, no failure", run(1, Nil), shouldFail = false)
    expect("verdict: a round threw, none checked", run(0, Seq("round 0 threw")),
      shouldFail = true)
    expect("verdict: no round finished", run(0, Nil), shouldFail = true)
  }
}
