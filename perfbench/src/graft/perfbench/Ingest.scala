package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.engine.CacheRegistry
import graft.sources.AtomicPublish
import graft.streaming.StreamingOps

/** ingest_publish: the write path. Each iteration streams the corpus
  * through the LSH near-dup ingest into a fresh root, publishes that
  * snapshot into one long-lived root (so retention GC runs) and reads
  * it back. The timed unit is a pair of iterations, one without and one
  * with compaction between the two days, so every run times both.
  */
object Ingest {
  /** Name prefix of the LSH index tables this workload creates. */
  val Prefix = "pb_lsh_"
  /** The query whose pinned output every publish must equal: the same
    * ingest protocol with its own index prefix and root.
    */
  val Expected = "e_stream_ingest_dedup"

  private final case class Iter(ms: Double, ok: Boolean, traced: Boolean,
      writtenBytes: Long, rows: Long)

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.dataDir
    val t = ctx.tracer
    val notes = mutable.ArrayBuffer.empty[String]
    val published = ctx.workDir.resolve("published")
    val work = ctx.workDir.resolve("ingest")
    Files.createDirectories(work)
    val nDocs = graft.Tables.load(spark, dir, "documents").count()

    val expected = Batch.readPins(ctx.pinsDir)._2(Expected)
    var attempted = 0L
    var failed = 0L
    var version = 0L

    def iteration(i: Int, compact: Boolean, op: Long): Iter = {
      attempted += 1
      val ingestRoot = work.resolve(s"ingest_$i").toString
      val t0 = System.nanoTime()
      var written = 0L
      var rows = 0L
      val ok = try CacheRegistry.scoped {
        t.span("ingest.stream", op) {
          StreamingOps.runIngestDedupStream(spark, dir,
            f"$Prefix${ctx.seed}%x_$i", ingestRoot,
            compactBetweenDays = compact)
        }
        val v = t.span("publish", op) {
          AtomicPublish.publish(
            AtomicPublish.readStreamPublished(spark, ingestRoot),
            published.toString)
        }
        written = Main.dirBytes(published.resolve(s"v$v"))
        val got = t.span("read_latest", op) {
          Batch.digest(AtomicPublish.readLatest(spark, published.toString))
        }
        rows = got._1
        val good = v == version + 1 && got == expected
        if (!good) notes += s"iteration $i: version $v after $version, " +
          s"published $got vs pinned $expected"
        version = v
        good
      } catch {
        case e: Throwable =>
          notes += s"iteration $i threw: ${String.valueOf(e.getMessage).take(200)}"
          false
      }
      val ms = (System.nanoTime() - t0) / 1e6
      deleteTree(work.resolve(s"ingest_$i"))
      if (!ok) failed += 1
      Iter(ms, ok, t.on && op > 0, written, rows)
    }

    // the cold iteration (cold_s), outside the timed pairs; it compacts,
    // so it makes the first call of every step
    var i = 1
    val cold = t.untraced(iteration(i, compact = true, 0L))
    val coldS = cold.ms / 1e3

    // a fixed number of pairs, one per 10 s of --seconds and at least
    // one; a traced run alternates untraced and traced pairs and runs
    // at least three, so the traced pair sits between two untraced ones
    // for the overhead. A pair counts only if both iterations succeeded
    val n = math.max(if (ctx.traced) 3 else 1, ctx.seconds / 10)
    val pairs = (1 to n).map { k =>
      val traced = ctx.traced && k % 2 == 0
      Seq(false, true).map { compact =>
        i += 1
        if (traced) iteration(i, compact, ctx.nextOp())
        else t.untraced(iteration(i, compact, 0L))
      }
    }
    val iters = pairs.flatten
    def pairMs(traced: Boolean) = pairs.filter(p =>
      p.forall(_.ok) && p.head.traced == traced).map(_.map(_.ms).sum)
    val plain = pairMs(false)
    notes += s"pairs=$n docs=$nDocs published_rows=${expected._1}"

    val layers = mutable.Map.empty[String, Double]
    if (ctx.traced) {
      val tr = iters.filter(x => x.ok && x.traced)
      layers("ingest.stream_s") = ctx.meanMs("ingest.stream") / 1e3
      layers("ingest.jobs") = ctx.counts(_.name == "ingest.stream").jobs
        .toDouble / math.max(1, tr.size)
      layers("publish.s") = ctx.meanMs("publish") / 1e3
      val wb = tr.map(_.writtenBytes).sum.toDouble
      layers("publish.written_mb") = wb / 1048576.0 / math.max(1, tr.size)
      layers("publish.bytes_per_row") = wb / math.max(1L, tr.map(_.rows).sum)
      layers("read_latest.s") = ctx.meanMs("read_latest") / 1e3
      layers("trace.overhead_ms") = Main.median(pairMs(true)) -
        Main.median(plain)
      layers ++= Batch.cacheLayers()
    }
    // the warm unit is the best untraced pair, which a contention
    // burst in one pair cannot inflate
    val warmMs = plain.minOption.getOrElse(Double.NaN)
    Outcome(Nil, coldS, warmMs, plain, 2 * nDocs / (warmMs / 1e3),
      attempted, failed, failed == 0, layers.toMap, notes.toSeq)
  }
}
