package perfbench

import java.time.LocalDate
import java.util.Locale

/** One generated Zenput submission and the facts the truth checks need. */
final case class CasSub(id: String, tipo: String, day: Int, date: LocalDate, time: String,
                        locId: Option[Long], supervisor: String, score: Double,
                        details: Seq[(String, Double)], noise: Int, lat: Double, lon: Double) {
  private def num(v: Double) = String.format(Locale.ROOT, "%.2f", Double.box(v))

  /** The REST payload, answers in the order the form lists them: the
    * detail answers, some non-formula noise, and the general score last.
    */
  def json: String = {
    val general = if (tipo == "operativas") "PORCENTAJE %" else "CALIFICACION PORCENTAJE %"
    val answers = details.map { case (t, v) => s"""{"field_type":"formula","title":"$t PORCENTAJE %","value":${num(v)}}""" } ++
      (1 to noise).map(i => s"""{"field_type":"text","title":"OBSERVACION $i PORCENTAJE","value":null}""") :+
      s"""{"field_type":"formula","title":"$general","value":${num(score)}}"""
    val loc = locId.map(l => s"""{"id":$l,"name":"loc$l"}""").getOrElse("null")
    s"""{"id":"$id","smetadata":{"date_submitted":"${date}T$time","lat":${num(lat)},"lon":${num(lon)},""" +
      s""""location":$loc,"created_by":{"display_name":"$supervisor"}},"answers":[${answers.mkString(",")}]}"""
  }
}

/** Seeded generator of the reference system's data at its dimensions: 20
  * groups, 86 branches (3 inactive), 29 areas, 11 safety KPIs and monthly
  * periods, plus per simulated day an operativas and a seguridad page
  * stream.
  *
  * Volume, from the reference's facts (BASELINE.md, SURVEY.md §6): the
  * period transition (T8) fires once every active branch has an
  * operativas supervision in the active period, so a monthly period holds
  * one supervision per active branch and type; 83 × 2 × 12 = 1992 a year,
  * the "low-thousands of fact rows per year" envelope. One sync a day then
  * brings `perDay` = ⌈83 / 30⌉ = 3 submissions of each type.
  *
  * The run is the first days of a deployment in the third period: the
  * first sync also fetches the backlog, periods 1 and 2 complete, so day 1
  * and day 2 each fire one transition and later days fire none.
  *
  * Every submission is dated in 2090, after any run's start: CasEtl.sync
  * stamps its checkpoint with the wall clock and loads only rows dated
  * after it, so past-dated days would be dropped unseen.
  *
  * Designed edge cases:
  *  - cross-page duplicates: day 1's streams span two pages, and some
  *    submissions appear again one page later;
  *  - operativas rows with no location (dropped by the sync), in the backlog;
  *  - seguridad rows with no location whose supervisor has operativas the
  *    same day (location inferred by the J9 fallback), on every day, and
  *    ones whose supervisor has none (dropped), in the backlog;
  *  - each day's streams are redelivered (handled by the caller).
  *
  * Catalog names all have the same length, so no name contains another and
  * the sync's fuzzy title match never picks a different entry. Area 1 is
  * answered by every operativas form because the sync's fuzzy tier maps
  * the bare "PORCENTAJE %" general-score title onto the lowest-numbered
  * area when the form has not already answered it.
  */
final class CasGen(val seed: Long, val days: Int) {
  val nGrupos = 20
  val nSucursales = 86
  val nAreas = 29
  val nKpis = 11
  val inactive: Set[Int] = Set(17, 43, 71)
  val perDay = 3
  /** Complete periods fetched by the first sync. */
  val backlogPeriods = 2
  val pageSize = 100

  private def code(i: Int): String = s"${('A' + i / 26).toChar}${('A' + i % 26).toChar}"

  val grupos: Seq[(Int, String)] = (1 to nGrupos).map { g =>
    g -> f"${if (g % 2 == 0) "NORTE" else "SUR"} GRUPO $g%02d"
  }
  /** (id, nombre, estado, clasificacion, lat, lon, grupo, zenput location, activo) */
  val sucursales: Seq[(Int, String, String, String, Double, Double, Int, Long, Boolean)] =
    (1 to nSucursales).map { i =>
      (i, f"SUCURSAL $i%03d", Seq("NL", "CDMX", "JAL", "COAH")(i % 4), if (i % 3 == 0) "foraneo" else "local",
        25.0 + i * 0.01, -100.0 - i * 0.01, 1 + (i - 1) % nGrupos, 7000L + i, !inactive(i))
    }
  val areas: Seq[(Int, String, String)] = (1 to nAreas).map(i => (i, f"AREA_$i%02d", s"AREA Q${code(i)}"))
  val kpis: Seq[(Int, String, String)] = (1 to nKpis).map(i => (i, f"KPI_$i%02d", s"KPI Q${code(i)}"))
  /** Monthly periods of 2090 (id, codigo, nombre, inicio, fin); January active. */
  val periodos: Seq[(Int, String, String, LocalDate, LocalDate)] = (1 to 12).map { m =>
    val start = LocalDate.of(2090, m, 1)
    (m, f"P$m%02d", s"Periodo $m", start, start.plusMonths(1).minusDays(1))
  }
  private val supervisors = (1 to 12).map(i => f"Supervisor $i%02d")
  private val noOpSupervisor = "Supervisor 99"

  /** Simulated days run from the second day of the period after the backlog. */
  def dateOf(day: Int): LocalDate = periodos(backlogPeriods)._4.plusDays(day.toLong)

  /** What `periodTransition` must return on `day`: the next period's code
    * while the active period is a complete backlog period.
    */
  def transition(day: Int): Option[String] =
    if (day <= backlogPeriods) Some(periodos(day)._2) else None

  /** Both streams of every day, generated once, in day order. */
  val byDay: IndexedSeq[(Seq[CasSub], Seq[CasSub])] = {
    val rng = new java.util.Random(seed)
    def score() = 50 + rng.nextInt(5001) / 100.0
    def time() = f"${8 + rng.nextInt(10)}%02d:${rng.nextInt(60)}%02d:00"
    def subset(n: Int, min: Int, always: Seq[Int]): Seq[Int] = {
      val k = min + rng.nextInt(n - min + 1)
      val order = (1 to n).filterNot(always.contains).map(i => (rng.nextDouble(), i)).sortBy(_._1).map(_._2)
      always ++ order.take(k - always.size)
    }
    def shuffled[T](xs: Seq[T]): Seq[T] = xs.map(x => (rng.nextDouble(), x)).sortBy(_._1).map(_._2)
    def op(id: String, d: Int, date: LocalDate, suc: Int, located: Boolean) = {
      val s = sucursales(suc - 1)
      CasSub(id, "operativas", d, date, time(), if (located) Some(s._8) else None,
        supervisors(rng.nextInt(supervisors.size)), score(),
        subset(nAreas, 6, Seq(1)).map(a => areas(a - 1)._3 -> score()), rng.nextInt(3), s._5, s._6)
    }
    /** Seguridad rows: every 8th borrows the supervisor and date of a
      * located operativas row (J9 fallback), every 15th has a supervisor
      * with no operativas at all (unresolvable), the rest are located.
      */
    def seg(prefix: String, d: Int, n: Int, dates: () => LocalDate, ops: Seq[CasSub]) = {
      val located = ops.filter(_.locId.isDefined)
      (1 to n).map { i =>
        val (date, loc, sup) =
          if (i % 8 == 3) { val o = located(rng.nextInt(located.size)); (o.date, None, o.supervisor) }
          else if (i % 15 == 5) (dates(), None, noOpSupervisor)
          else (dates(), Some(sucursales(rng.nextInt(nSucursales))._8), supervisors(rng.nextInt(supervisors.size)))
        CasSub(f"sg-$prefix-$i%04d", "seguridad", d, date, time(), loc, sup, score(),
          subset(nKpis, 4, Nil).map(k => kpis(k - 1)._3 -> score()), rng.nextInt(2), 0.0, 0.0)
      }
    }
    val activeIds = sucursales.filter(_._9).map(_._1)
    // the backlog: per complete period, one located operativas per active
    // branch and four without a location, and as many seguridad rows
    val backlog = (1 to backlogPeriods).map { p =>
      val (_, _, _, start, end) = periodos(p - 1)
      val span = (end.toEpochDay - start.toEpochDay + 1).toInt
      def date() = start.plusDays(rng.nextInt(span).toLong)
      val ops = shuffled(activeIds).zipWithIndex.map { case (suc, i) => op(f"op-p$p%02d-$i%04d", 1, date(), suc, located = true) } ++
        (1 to 4).map(i => op(f"op-p$p%02d-x$i%03d", 1, date(), activeIds(rng.nextInt(activeIds.size)), located = false))
      (ops, seg(f"p$p%02d", 1, activeIds.size, () => date(), ops))
    }
    (1 to days).map { d =>
      val date = dateOf(d)
      val ops = (1 to perDay).map(i => op(f"op-$d%02d-$i%04d", d, date, 1 + rng.nextInt(nSucursales), located = true))
      val daily = (ops, seg(f"$d%02d", d, perDay, () => date, ops))
      if (d == 1) (shuffled(backlog.flatMap(_._1) ++ daily._1), shuffled(backlog.flatMap(_._2) ++ daily._2))
      else daily
    }
  }

  /** A day's page stream: every 9th submission is repeated on the next
    * page, as offset pagination does when rows shift under it.
    */
  def stream(day: Int, tipo: String): IndexedSeq[String] = {
    val subs = (if (tipo == "operativas") byDay(day - 1)._1 else byDay(day - 1)._2).map(_.json)
    val repeated = subs.indices.filter(_ % 9 == 4).map(subs)
    val (head, tail) = subs.splitAt(math.min(pageSize + 1, subs.size))
    if (tail.isEmpty) subs.toIndexedSeq else (head ++ repeated ++ tail).toIndexedSeq
  }

  private val locToSucursal: Map[Long, Int] = sucursales.map(s => s._8 -> s._1).toMap

  /** What one fresh sync of `tipo` on `day` must load: distinct submissions
    * with a resolvable location, each with its resolved branch id. The J9
    * fallback takes the smallest location among the same supervisor's
    * operativas loaded on the same date.
    */
  def loaded(day: Int, tipo: String): Seq[(CasSub, Int)] = {
    val (ops, seg) = byDay(day - 1)
    if (tipo == "operativas") ops.flatMap(s => s.locId.map(l => s -> locToSucursal(l)))
    else {
      val inferred = ops.filter(_.locId.isDefined).groupBy(o => (o.date, o.supervisor))
        .view.mapValues(_.map(_.locId.get).min)
      seg.flatMap(s => s.locId.orElse(inferred.get((s.date, s.supervisor))).map(l => s -> locToSucursal(l)))
    }
  }

  def periodOf(date: LocalDate): Int =
    periodos.find(p => !date.isBefore(p._4) && !date.isAfter(p._5)).map(_._1).get
}
