package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}

import graft.etl.{CasEtl, CasSchema, Warehouse}
import graft.queries.CasServing

/** `cas-day`: the reference system's own traffic on generated CAS data
  * (volumes in [[CasGen]]). Per simulated day, a fresh sync of the
  * operativas and seguridad page streams plus the period transition, then
  * the same streams redelivered. After the last day, an open-loop burst of
  * dashboard requests served by two worker threads, the reference's two
  * gunicorn workers.
  *
  * fresh_s = the fresh days' syncs and transitions, replay_s = the
  * redelivered syncs, op_* = request latency from each request's due time.
  */
object CasDay {
  val Days = 1
  val Workers = 2
  /** Open-loop request rate, per second. The reference records no request
    * rate; this is a choice: two workers at the seed's mean warm request
    * time (about 0.55 s on 4 cores) are busy 40 % of the time, so the queue
    * stays short and a slower box does not turn into a backlog.
    */
  val Rate = 1.5
  /** The burst lasts about this share of the run's --seconds. */
  val BurstShare = 0.6
  /** A request slower than this counts as a miss; the reference's hard cap is 120 s. */
  val LimitMs = 5000.0
  val Endpoints = Seq("kpis", "ranking_grupos", "ranking_sucursales", "historico",
    "alertas", "mapa", "detalle", "trend", "areas")
  val Tipos = Seq("operativas", "seguridad")

  /** Requests in the burst: a whole number of rounds over every
    * (endpoint, tipo) pair, so every run serves the same mix.
    */
  private def requests(ctx: Ctx): Int = {
    val round = Endpoints.size * Tipos.size
    round * math.max(1, math.round(Rate * ctx.seconds * BurstShare / round).toInt)
  }

  private def syncSpan(tipo: String, redelivered: Boolean) =
    s"CasEtl.sync $tipo${if (redelivered) " redelivered" else ""}"

  private def dims(wh: Warehouse, gen: CasGen): Unit = {
    val spark = wh.spark
    def df(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    wh.rewrite("periodos_cas", df(gen.periodos.map { case (id, c, n, a, b) =>
      Row(id, c, n, java.sql.Date.valueOf(a), java.sql.Date.valueOf(b), id == 1) }, CasSchema.periodos))
    wh.rewrite("grupos_operativos", df(gen.grupos.map { case (id, n) => Row(id, n, true) }, CasSchema.grupos))
    wh.rewrite("sucursales", df(gen.sucursales.map(s => Row(s.productIterator.toSeq: _*)), CasSchema.sucursales))
    wh.rewrite("catalogo_areas", df(gen.areas.map { case (id, c, n) => Row(id, c, n, id) }, CasSchema.catalogo))
    wh.rewrite("catalogo_kpis_seguridad", df(gen.kpis.map { case (id, c, n) => Row(id, c, n, id) }, CasSchema.catalogo))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val gen = new CasGen(ctx.seed, Days)
    // set-up is three independent builds of the dimension tables into fresh
    // warehouses; setup_s is their median and the last one serves the run
    val built = (1 to 3).flatMap(i => ctx.setup(s"warehouse-dims-$i") {
      val wh = Warehouse(spark, ctx.runDir.resolve(s"cas-$i").toString)
      dims(wh, gen)
      wh
    })
    ctx.e2e("setup_s") = Stats.median(ctx.setupSeconds)
    val wh = built.lastOption.getOrElse(sys.error("no warehouse could be set up"))
    val pool = Executors.newFixedThreadPool(Workers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try run(ctx, gen, wh) finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  private def pagesOf(gen: CasGen, lines: IndexedSeq[String]): Int => Try[Seq[String]] =
    off => Try(lines.slice(off, off + gen.pageSize))

  private def run(ctx: Ctx, gen: CasGen, wh: Warehouse)
                 (implicit ec: ExecutionContext): Unit = {
    val tr = ctx.tracer
    val whDir = java.nio.file.Paths.get(wh.dir)
    val fresh = mutable.ArrayBuffer.empty[Double]
    val replay = mutable.ArrayBuffer.empty[Double]
    val layerS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var fetched = 0L
    var nuevos = 0L
    val expectedTotals = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var bytesBefore = Stats.tree(whDir)._2
    val written = mutable.ArrayBuffer.empty[Double]

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def sync(day: Int, tipo: String, redelivered: Boolean): Unit = {
      val pages = gen.stream(day, tipo)
      val what = s"day $day ${if (redelivered) "resync" else "sync"} $tipo"
      ctx.op(what) {
        val (res, secs) = timed(tr.span(syncSpan(tipo, redelivered), "etl") {
          CasEtl.syncPaged(wh, pagesOf(gen, pages), tipo)
        })
        (if (redelivered) replay else fresh) += secs
        if (!redelivered) layerS(s"etl.sync_${tipo}_s") += secs
        val truth = gen.loaded(day, tipo)
        val (wantNew, wantDetail) =
          if (redelivered) (0L, 0L) else (truth.size.toLong, truth.map(_._1.details.size.toLong).sum)
        if (!redelivered) {
          fetched += res.fetched
          nuevos += res.nuevos
          expectedTotals(tipo) += wantNew
          expectedTotals(s"$tipo-detail") += wantDetail
        }
        if (res.fetched != pages.size || res.nuevos != wantNew || res.detalles != wantDetail)
          ctx.fail(s"$what: fetched/nuevos/detalles ${res.fetched}/${res.nuevos}/${res.detalles}, " +
            s"want ${pages.size}/$wantNew/$wantDetail")
      }
    }

    ctx.measure {
      for (day <- 1 to Days) tr.span(s"day $day", "op") {
        Tipos.foreach(sync(day, _, redelivered = false))
        ctx.op(s"day $day transition") {
          val (next, secs) = timed(tr.span("CasEtl.periodTransition", "etl")(CasEtl.periodTransition(wh)))
          fresh += secs
          layerS("etl.transition_s") += secs
          if (next != gen.transition(day)) ctx.fail(s"day $day transition $next, want ${gen.transition(day)}")
        }
        Tipos.foreach(sync(day, _, redelivered = true))
        ctx.check("statusReport check") {
          ctx.op(s"day $day statusReport") {
            val got = CasEtl.statusReport(wh).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            val want = Map(
              "Supervisiones Operativas" -> expectedTotals("operativas"),
              "Áreas por Supervisión" -> expectedTotals("operativas-detail"),
              "Supervisiones Seguridad" -> expectedTotals("seguridad"),
              "KPIs Seguridad" -> expectedTotals("seguridad-detail"))
            if (got != want) ctx.fail(s"day $day statusReport $got, want $want")
          }
        }
        val bytes = Stats.tree(whDir)._2
        written += (bytes - bytesBefore).toDouble
        bytesBefore = bytes
      }
      Main.log("days done")
      // the sync runs as a daily job, cold; the dashboard is a long-running
      // server that compiled its endpoints long before: one untimed
      // request per endpoint first
      ctx.warmup("one request per endpoint") {
        val supervision = surrogateId(gen.loaded(1, "operativas").head._1.id)
        Endpoints.map(e => Future(request(wh, e, "operativas", 1, supervision)))
          .foreach(Await.result(_, Duration.Inf))
      }
      serve(ctx, wh, gen)
    }

    ctx.e2e("fresh_s") = fresh.sum
    ctx.e2e("replay_s") = replay.sum
    layerS.foreach { case (k, v) => ctx.layer(k) = v }
    tr.drain()
    def jobsPerSync(redelivered: Boolean) = Stats.median(tr.allSpans
      .filter(s => Tipos.exists(syncSpan(_, redelivered) == s.name)).map(tr.jobsOf(_).size.toDouble))
    ctx.layer("etl.jobs_per_sync") = jobsPerSync(false)
    ctx.layer("etl.resync_jobs_per_sync") = jobsPerSync(true)
    val servingJobs = ctx.jobsOfLayer("serving")
    ctx.layer("serving.jobs_per_request") = servingJobs.size.toDouble / requests(ctx)
    ctx.layer("serving.bytes_read_per_request") = servingJobs.map(_.bytesRead).sum.toDouble / requests(ctx)
    ctx.layer("etl.fresh_ratio") = if (fetched > 0) nuevos.toDouble / fetched else 0.0
    val (files, bytes) = Stats.tree(whDir)
    ctx.layer("warehouse.files") = files
    ctx.layer("warehouse.bytes") = bytes
    ctx.layer("warehouse.bytes_written_per_day") = Stats.median(written.toSeq)
    ctx.notes("days") = Days
    ctx.notes("submissions_per_day") = gen.byDay.map { case (ops, seg) =>
      s"${ops.size} operativas + ${seg.size} seguridad" }.mkString("; ")
  }

  /** One dashboard request: the endpoint's frame, collected. */
  private def request(wh: Warehouse, endpoint: String, tipo: String, sucursal: Int,
                      supervisionId: Long): Array[Row] = endpoint match {
    case "kpis"               => CasServing.kpis(wh, tipo).collect()
    case "ranking_grupos"     => CasServing.rankingGrupos(wh, tipo).collect()
    case "ranking_sucursales" => CasServing.rankingSucursales(wh, tipo).collect()
    case "historico"          => CasServing.historicoHeatmap(wh, tipo).collect()
    case "alertas"            => CasServing.alertas(wh, tipo).collect()
    case "mapa"               => CasServing.mapa(wh, tipo).collect()
    case "detalle"            => CasServing.detalleSucursal(wh, tipo, sucursal).collect()
    case "trend"              => CasServing.trendSucursal(wh, tipo, sucursal).collect()
    case "areas"              => CasServing.supervisionAreas(wh, "operativas", supervisionId).collect()
  }

  /** Spark's xxhash64 of a string column (seed 42): the sync's surrogate id. */
  private def surrogateId(s: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  private final case class Req(i: Int, endpoint: String, tipo: String, sucursal: Int, supervisionId: Long)
  private final case class Done(req: Req, dueNs: Long, sentNs: Long, startNs: Long, endNs: Long,
                                rows: Option[Array[Row]])

  private def serve(ctx: Ctx, wh: Warehouse, gen: CasGen)(implicit ec: ExecutionContext): Unit = {
    val rng = new java.util.Random(ctx.seed * 7919 + 1)
    val loadedOps = (1 to Days).flatMap(gen.loaded(_, "operativas")).map(_._1.id)
    // branch ids skewed towards a few popular branches (Zipf-like, s = 1;
    // a choice: the reference records no per-branch request mix)
    val weights = (1 to gen.nSucursales).map(r => 1.0 / r)
    val branchOrder = (1 to gen.nSucursales).map(i => (rng.nextDouble(), i)).sortBy(_._1).map(_._2)
    def skewedBranch(): Int = {
      var x = rng.nextDouble() * weights.sum
      var k = 0
      while (x > weights(k) && k < weights.size - 1) { x -= weights(k); k += 1 }
      branchOrder(k)
    }
    val round = for (e <- Endpoints; t <- Tipos) yield (e, t)
    val deck = Seq.fill(requests(ctx) / round.size)(round).flatten
      .map(et => (rng.nextDouble(), et)).sortBy(_._1).map(_._2)
    val reqs = deck.zipWithIndex.map { case ((e, t), i) =>
      Req(i, e, t, skewedBranch(), surrogateId(loadedOps(rng.nextInt(loadedOps.size))))
    }
    val t0 = System.nanoTime() + 20000000L
    val periodNs = (1e9 / Rate).toLong
    val futures = reqs.map { r =>
      val due = t0 + r.i * periodNs
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      val sent = System.nanoTime()
      Future {
        val start = System.nanoTime()
        val rows = ctx.op(s"request ${r.endpoint}") {
          ctx.tracer.span(s"request ${r.i} ${r.endpoint}", "op") {
            ctx.tracer.span(s"CasServing.${r.endpoint}", "serving") {
              request(wh, r.endpoint, r.tipo, r.sucursal, r.supervisionId)
            }
          }
        }
        Done(r, due, sent, start, System.nanoTime(), rows)
      }
    }
    val done = futures.map(Await.result(_, Duration.Inf))

    val lat = done.map(d => (d.endNs - d.dueNs) / 1e6)
    ctx.e2e("op_p50_ms") = Stats.median(lat)
    ctx.e2e("op_p95_ms") = Stats.quantile(lat, 0.95)
    ctx.e2e("within_limit_share") =
      done.count(d => d.rows.isDefined && (d.endNs - d.dueNs) / 1e6 <= LimitMs).toDouble / done.size
    Endpoints.foreach { e =>
      val xs = done.filter(_.req.endpoint == e).map(d => (d.endNs - d.startNs) / 1e6)
      ctx.layer(s"serving.${e}_p50_ms") = Stats.median(xs)
    }
    ctx.layer("serving.queue_wait_ms") = Stats.median(done.map(d => (d.startNs - d.dueNs) / 1e6))
    ctx.layer("serving.generator_late_ms") = Stats.median(done.map(d => (d.sentNs - d.dueNs) / 1e6))
    ctx.notes("serving") = s"open loop, ${reqs.size} requests at $Rate/s, $Workers workers, limit $LimitMs ms"

    Main.log("burst done")
    ctx.check("serving check") {
      done.foreach(d => d.rows.foreach(rows => checkResponse(ctx, gen, d.req, rows)))
    }
  }

  /** kpis and rankingGrupos against a plain-Scala recomputation from the
    * generated rows; the other endpoints must only answer.
    */
  private def checkResponse(ctx: Ctx, gen: CasGen, r: Req, rows: Array[Row]): Unit = {
    def round(x: Double, d: Int) = BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble
    def close(a: Any, b: Double) = a != null && math.abs(a.toString.toDouble - b) <= 0.011
    val loaded = (1 to Days).flatMap(gen.loaded(_, r.tipo))
    val active = gen.sucursales.filter(_._9)
    r.endpoint match {
      case "kpis" =>
        val scores = loaded.map(_._1.score)
        val evaluated = loaded.map(_._2).distinct.size
        val row = rows.head
        val ok = close(row.getAs[Any]("promedio_general"), round(scores.sum / scores.size, 2)) &&
          row.getAs[Long]("total_supervisiones") == scores.size &&
          row.getAs[Long]("sucursales_evaluadas") == evaluated &&
          row.getAs[Long]("excelente") == scores.count(_ >= 90) &&
          row.getAs[Long]("critico") == scores.count(_ < 70) &&
          row.getAs[Long]("total_sucursales") == active.size &&
          close(row.getAs[Any]("cobertura_pct"), round(evaluated * 100.0 / active.size, 1))
        if (rows.length != 1 || !ok) ctx.fail(s"request ${r.i} kpis ${r.tipo}: ${rows.mkString}")
      case "ranking_grupos" =>
        val got = rows.map(x => x.getAs[Int]("grupo_id") -> x).toMap
        val bad = gen.grupos.map(_._1).filter { g =>
          val sucs = active.filter(_._7 == g).map(_._1).toSet
          val scores = loaded.filter(l => sucs(l._2)).map(_._1.score)
          got.get(g).forall { x =>
            val prom = x.getAs[Any]("promedio")
            !(x.getAs[Long]("supervisiones") == scores.size && x.getAs[Long]("sucursales") == sucs.size &&
              (if (scores.isEmpty) prom == null else close(prom, round(scores.sum / scores.size, 2))))
          }
        }
        if (got.size != gen.grupos.size || bad.nonEmpty)
          ctx.fail(s"request ${r.i} ranking_grupos ${r.tipo}: groups ${bad.mkString(",")} differ")
      case _ => ()
    }
  }
}
