package perfbench

/** The CAS generator's own test: the same seed gives byte-identical page
  * streams, another seed gives others, every designed edge case is
  * present, the backlog supervises every active branch once per period,
  * and every submission is dated after today inside a generated period. Exits non-zero on the first failed check.
  *
  * Usage: python3 perfbench/test_generator.py
  */
object GenCheck {
  def main(args: Array[String]): Unit = {
    var failures = 0
    def check(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    val days = 3
    def streams(seed: Long) = {
      val g = new CasGen(seed, days)
      (1 to days).flatMap(d => CasDay.Tipos.map(t => g.stream(d, t).mkString("\n")))
    }
    def repeatsAcrossPages(g: CasGen, d: Int, tipo: String) = {
      val pages = g.stream(d, tipo).grouped(g.pageSize).toSeq
      val pageOf = pages.zipWithIndex.flatMap { case (p, i) => p.map(j => j.take(40) -> i) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      pageOf.values.exists(_.size > 1)
    }
    for (seed <- Seq(1L, 2L, 12345L)) {
      check(s"seed $seed: two generations are byte-identical", streams(seed) == streams(seed))
      check(s"seed $seed: seed ${seed + 1} generates other streams", streams(seed) != streams(seed + 1))
      val g = new CasGen(seed, days)
      for (tipo <- CasDay.Tipos)
        check(s"seed $seed day 1 $tipo: a submission repeats on another page", repeatsAcrossPages(g, 1, tipo))
      val (ops1, seg1) = g.byDay(0)
      val opKeys1 = ops1.filter(_.locId.isDefined).map(o => (o.date, o.supervisor)).toSet
      check(s"seed $seed day 1: operativas without location", ops1.exists(_.locId.isEmpty))
      check(s"seed $seed day 1: seguridad with no resolvable location",
        seg1.exists(s => s.locId.isEmpty && !opKeys1((s.date, s.supervisor))))
      for (p <- 1 to g.backlogPeriods) {
        val branches = ops1.filter(o => o.locId.isDefined && g.periodOf(o.date) == p).map(_.locId.get).toSet
        check(s"seed $seed day 1: backlog period $p supervises every active branch once",
          branches == g.sucursales.filter(_._9).map(_._8).toSet &&
            ops1.count(o => o.locId.isDefined && g.periodOf(o.date) == p) == branches.size)
      }
      for (d <- 1 to days) {
        val (ops, seg) = g.byDay(d - 1)
        val opKeys = ops.filter(_.locId.isDefined).map(o => (o.date, o.supervisor)).toSet
        check(s"seed $seed day $d: seguridad resolved by the same-day fallback",
          seg.exists(s => s.locId.isEmpty && opKeys((s.date, s.supervisor))))
        check(s"seed $seed day $d: loaded rows exclude the unresolvable ones",
          g.loaded(d, "seguridad").size == seg.count(s => s.locId.isDefined || opKeys((s.date, s.supervisor))))
        check(s"seed $seed day $d: dated after today, inside a period",
          (ops ++ seg).forall(s => s.date.isAfter(java.time.LocalDate.now()) && g.periodOf(s.date) > 0))
        if (d > 1) check(s"seed $seed day $d: ${g.perDay} submissions of each type",
          ops.size == g.perDay && seg.size == g.perDay)
      }
    }
    if (failures > 0) { println(s"$failures checks failed"); sys.exit(1) }
    println("all generator checks passed")
  }
}
