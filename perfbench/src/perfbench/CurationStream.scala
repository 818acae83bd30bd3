package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.core.Tables
import graft.etl.Warehouse
import graft.pipelines.{ClusterState, IncrementalCuration => IC}
import graft.queries.TextOps

/** `curation-stream`: the t43 lifecycle (clustered multi-signal curation
  * with the banded embedding signal, at the registered dials, as
  * tools/SoakRun drives it) over a generated corpus. Set-up seeds the
  * persisted state with half of the split buckets, counted from an offset
  * the seed picks; the timed part ingests the other half as `Batches`
  * fresh batches, each redelivered right after its fresh ingest. Redelivery comes right after, not after all
  * fresh batches, because only then is the state the same as at the fresh
  * ingest: a later batch may join clusters and change the earlier batch's
  * tags, and the check is that a redelivered batch repeats its fresh
  * output exactly and leaves every state file's content as it was.
  *
  * fresh_s = the fresh ingests, replay_s = the redelivered ones, op_* =
  * per-batch wall of both.
  */
object CurationStream {
  val Docs = 600
  /** One corpus for every run, so runs differ in the split, not in the data. */
  val CorpusSeed = 20261018L
  val Batches = 1
  val LimitMs = 60000.0

  /** Relative path → SHA-256 of every state file, the scratch staging dir
    * aside: a redelivery must leave each file as it was, byte for byte.
    */
  private def stateFiles(dir: Path): Map[String, String] = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(p => dir.relativize(p).toString -> p)
      .filterNot(_._1.startsWith("_staging"))
      .map { case (rel, p) =>
        rel -> java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
      }.toMap
    finally s.close()
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val data = ctx.runDir.resolve("curation-data").toString
    CorpusGen.writeCorpus(spark, data, CorpusSeed, Docs)
    val docs = Tables.documents(spark, data)
    val emb = Tables.embeddings(spark, data)
    // split buckets counted from an offset the seed picks, so each seed
    // settles and streams different documents of the same corpus
    val offset = java.lang.Math.floorMod(ctx.seed, 100L)
    def inRange(id: String, lo: Int, hi: Int) = {
      val b = pmod(TextOps.splitBucket(col(id)) - offset, lit(100L))
      b >= lo && b < hi
    }
    def docSlice(lo: Int, hi: Int) = docs.filter(inRange("doc_id", lo, hi))
    def sig(lo: Int, hi: Int) = Some(IC.EmbeddingSignal(emb.filter(inRange("vec_id", lo, hi))))
    val whDir = ctx.runDir.resolve("curation-wh")
    val wh = Warehouse(spark, whDir.toString)

    ctx.setup("seed")(IC.seed(wh, docSlice(0, 50), emb = sig(0, 50), clustered = true))
    ctx.e2e("setup_s") = ctx.setupSeconds.sum

    def bound(b: Int): Int = 50 + b * 50 / Batches
    val walls = mutable.ArrayBuffer.empty[(Boolean, Double, Boolean)]
    def ingest(b: Int, redelivered: Boolean): Option[(Seq[String], Seq[String])] = {
      val what = s"batch $b${if (redelivered) " redelivered" else ""}"
      val t0 = System.nanoTime()
      val out = ctx.op(what) {
        tr.span(what, "op")(tr.span(s"IncrementalCuration.ingest${if (redelivered) " redelivered" else ""}", "pipelines") {
          val (curated, audit) = IC.ingest(wh, docSlice(bound(b - 1), bound(b)),
            emb = sig(bound(b - 1), bound(b)), clustered = true)
          (rowsOf(curated), rowsOf(audit))
        })
      }
      walls += ((redelivered, (System.nanoTime() - t0) / 1e9, out.isDefined))
      out
    }

    ctx.measure {
      for (b <- 1 to Batches) {
        val fresh = ingest(b, redelivered = false)
        val before = ctx.check("state files")(stateFiles(whDir))
        val again = ingest(b, redelivered = true)
        for (f <- fresh; a <- again) {
          if (f != a) ctx.fail(s"batch $b: redelivered output differs from the fresh output")
          val after = ctx.check("state files")(stateFiles(whDir))
          if (after != before) {
            val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
            ctx.fail(s"batch $b: redelivery changed ${changed.size} state files, e.g. ${changed.take(3).mkString(", ")}")
          }
        }
      }
    }

    ctx.e2e("fresh_s") = walls.filter(!_._1).map(_._2).sum
    ctx.e2e("replay_s") = walls.filter(_._1).map(_._2).sum
    val lat = walls.map(_._2 * 1e3).toSeq
    ctx.e2e("op_p50_ms") = Stats.median(lat)
    ctx.e2e("op_p95_ms") = Stats.quantile(lat, 0.95)
    ctx.e2e("within_limit_share") = walls.count(w => w._3 && w._2 * 1e3 <= LimitMs).toDouble / walls.size

    if (tr.enabled) {
      tr.drain()
      def spans(redelivered: Boolean) = tr.allSpans.filter(_.name ==
        s"IncrementalCuration.ingest${if (redelivered) " redelivered" else ""}").map(tr.jobsOf)
      val freshJobs = spans(redelivered = false)
      val replayJobs = spans(redelivered = true)
      val perBatch = (xs: Seq[Seq[JobStats]], f: JobStats => Double) => xs.map(_.map(f).sum).sum / math.max(1, xs.size)
      ctx.layer("pipelines.ingest_jobs_per_batch") = perBatch(freshJobs, _ => 1.0)
      ctx.layer("pipelines.replay_jobs_per_batch") = perBatch(replayJobs, _ => 1.0)
      ctx.layer("pipelines.replay_job_ratio") =
        ctx.layer("pipelines.replay_jobs_per_batch") / math.max(1.0, ctx.layer("pipelines.ingest_jobs_per_batch"))
      ctx.layer("pipelines.shuffle_bytes_per_batch") = perBatch(freshJobs, j => (j.shuffleRead + j.shuffleWrite).toDouble)
      ctx.layer("pipelines.bytes_written_per_batch") = perBatch(freshJobs, _.bytesWritten.toDouble)
      ctx.layer("pipelines.state_rows") = ctx.check("state rows") {
        wh.read(IC.HashTable, IC.HashSchema).count() + ClusterState.read(wh).count()
      }.toDouble
      val (files, bytes) = Stats.tree(whDir)
      ctx.layer("warehouse.files") = files
      ctx.layer("warehouse.bytes") = bytes
    }
    ctx.notes("corpus") = s"CorpusGen.writeCorpus seed $CorpusSeed, $Docs documents and vectors, bucket offset $offset"
    ctx.notes("batches") = s"$Batches fresh batches over the other 50 split buckets, each redelivered once"
  }
}
