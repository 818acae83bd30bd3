package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.SparkEntry

/** `suite`: registered queries from `SparkEntry.queries` over a generated
  * corpus, in an order fixed by the seed, each run twice in a row: once
  * cold (as far as the queries before it left it) and once replayed. Each
  * query is timed through `collect()`, which executes the whole physical plan with every
  * output column, and its result is checked against the order-insensitive hash recorded in
  * perfbench/suite_hashes.json.
  *
  * The query set is the part of the 94 that fits the run budget: seven of
  * the 17 queries that aggregate money through decimal(26,4), q29's
  * single-task scans, and five stateless corpus operators (MinHash and
  * cluster dedup, cosine and banded near-dup, a vocabulary-backed
  * scorer). The lifecycle queries are left to `curation-stream`, which
  * runs the same pipelines for longer.
  *
  * fresh_s = the first runs; replay_s and op_* = per query the better of
  * its two runs, summed and as quantiles. Replaying right away, not in a
  * later pass, keeps a query's repeat time independent of where the seed
  * put it: a pass apart, how long the repeat takes depends on what ran in
  * between.
  */
object Suite {
  val RelationalQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_scalar_kpis", "q04_join_chain", "q06_having", "q07_rank_ties",
    "q15_avg_of_avgs", "q24_alerts", "q29_approx_distinct")
  val CorpusQueries: Seq[String] = Seq(
    "t06_minhash_pairs", "t13_dedup_clusters", "t15_cosine_near_dup", "t33_token_idf",
    "t54_near_dup_banded")
  /** The corpus is fixed (not drawn from --seed) because the expected
    * hashes are recorded for it; the seed orders the queries.
    */
  val CorpusSeed = 20261017L
  val Docs = 500
  val LimitMs = 30000.0

  def layerOf(q: String): String = if (q.startsWith("q")) "relational" else "corpus"

  /** Order-insensitive result digest: row count and the sum of per-row MD5
    * prefixes. Floating-point values are compared at 9 significant digits,
    * since partial aggregates may merge in either order.
    */
  def digest(rows: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case null                 => "null"
      case d: Double            => new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
      case f: Float             => norm(f.toDouble)
      case r: Row               => r.toSeq.map(norm).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${norm(k)}:${norm(x)}" }.sorted.mkString("{", ",", "}")
      case b: Array[Byte]       => b.map("%02x".format(_)).mkString
      case other                => other.toString
    }
    var sum = 0L
    rows.foreach { r =>
      val h = MessageDigest.getInstance("MD5").digest(norm(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.toArray.map(_.asInstanceOf[Path]).foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val data = ctx.runDir.resolve("suite-data").toString
    CorpusGen.write(spark, data, CorpusSeed, Docs)
    val expected: Map[String, String] = "\"([a-z0-9_]+)\"\\s*:\\s*\"([0-9]+:[0-9a-f]+)\"".r
      .findAllMatchIn(Files.readString(ctx.root.resolve("perfbench/suite_hashes.json")))
      .map(m => m.group(1) -> m.group(2)).toMap
    val registry = SparkEntry.queries

    // Bench's warm stages for this query set, into the run's empty index dir
    ctx.warmup("jit") {
      spark.read.parquet(s"$data/nation.parquet").groupBy("n_regionkey").count().queryExecution.toRdd.count()
      spark.range(1000).selectExpr("sum(id) over ()").queryExecution.toRdd.count()
    }
    // the vocabulary is built three times, twice over copies of the
    // documents in directories of their own (the index is kept per
    // directory), the last time for the corpus the queries read;
    // setup_s is the median
    for (i <- 1 to 2) ctx.setup(s"rarity-vocab-$i") {
      val copy = ctx.runDir.resolve(s"suite-vocab-$i")
      copyTree(java.nio.file.Paths.get(data, "documents.parquet"), copy.resolve("documents.parquet"))
      graft.queries.QualityOps.ensureRarityVocab(spark, copy.toString)
    }
    ctx.setup("rarity-vocab")(graft.queries.QualityOps.ensureRarityVocab(spark, data))
    ctx.e2e("setup_s") = Stats.median(ctx.setupSeconds)

    val rng = new java.util.Random(ctx.seed)
    val order = (RelationalQueries ++ CorpusQueries).map(q => (rng.nextDouble(), q)).sortBy(_._1).map(_._2)
    val walls = mutable.ArrayBuffer.empty[(String, Int, Double, Boolean)]

    def once(q: String, run: Int): Unit = {
      graft.queries.TextOps.invalidatePairCache()
      graft.pipelines.Curation.release(spark)
      val t0 = System.nanoTime()
      val rows = ctx.op(s"run $run $q") {
        tr.span(s"$q run $run", "op")(tr.span(q, layerOf(q))(registry(q)(spark, data).collect()))
      }
      val ms = (System.nanoTime() - t0) / 1e6
      walls += ((q, run, ms, rows.isDefined))
      rows.foreach { rs =>
        val d = digest(rs)
        if (!expected.get(q).contains(d))
          ctx.fail(s"run $run $q: result $d, recorded ${expected.getOrElse(q, "none")}")
      }
    }

    ctx.measure(order.foreach { q => once(q, 1); once(q, 2) })

    // Bench's min-of-two, per query: a host hiccup during one run does not count
    val lat = walls.groupBy(_._1).values.map(_.map(_._3).min).toSeq
    ctx.e2e("fresh_s") = walls.filter(_._2 == 1).map(_._3).sum / 1e3
    ctx.e2e("replay_s") = lat.sum / 1e3
    ctx.e2e("op_p50_ms") = Stats.median(lat)
    ctx.e2e("op_p95_ms") = Stats.quantile(lat, 0.95)
    ctx.e2e("within_limit_share") = walls.count(w => w._4 && w._3 <= LimitMs).toDouble / walls.size

    tr.drain()
    for (l <- Seq("relational", "corpus")) {
      val js = ctx.jobsOfLayer(l)
      val wall = ctx.layerWallS(l)
      val cpu = js.map(_.cpuNs).sum / 1e9
      ctx.layer(s"$l.wall_s") = wall
      ctx.layer(s"$l.executor_cpu_s") = cpu
      ctx.layer(s"$l.core_util") = if (wall > 0) js.map(_.runMs).sum / 1e3 / (wall * ctx.cores) else 0.0
      if (l == "relational") {
        ctx.layer("relational.jobs") = js.size
        ctx.layer("relational.tasks") = js.map(_.tasks).sum
      } else {
        ctx.layer("corpus.shuffle_bytes") = js.map(j => j.shuffleRead + j.shuffleWrite).sum
        ctx.layer("corpus.spill_bytes") = js.map(_.spill).sum
      }
    }
    ctx.notes("query_ms") = Json.Raw(Json.obj(walls.toSeq.map { case (q, run, ms, _) => s"$q/$run" -> ms }: _*))
    ctx.notes("corpus") = s"CorpusGen seed $CorpusSeed, $Docs documents, 1500 orders, 6000 line items"
  }
}
