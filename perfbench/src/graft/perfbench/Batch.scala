package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry
import graft.engine.CacheRegistry

/** pipeline_batch: one named query per operator family, called in
  * process, each inside [[CacheRegistry.scoped]]. A cold pass calls
  * each query for the first time in the process; warm passes follow,
  * each in a new seeded order, until the run's time is up.
  */
object Batch {
  val Queries: Seq[(String, String)] = Seq(
    "e_dedup_minhash" -> "dedup",
    "e_fuzzy_join" -> "similarity",
    "e_heavy_hitters" -> "text",
    "e_multimodal_png" -> "multimodal",
    "e_tpch_q21" -> "relational",
    "e_pagerank" -> "graph",
    "e_stream_dedup_replay" -> "streaming")
  /** Queries whose digests are pinned: the batch set, plus the answer
    * every ingest_publish iteration must publish.
    */
  val Pinned: Seq[String] = Queries.map(_._1) :+ Ingest.Expected
  /** The operator families, one query each (`ops.*.<family>`). */
  val Families: Seq[String] = Queries.map(_._2)
  private val family = Queries.toMap
  val WarmUp = "r_inner_join"
  val PinFile = "pipeline_batch.tsv"

  /** Row count and an order-independent hash of the rows: the sum of
    * the Murmur3 hashes of the rows' UnsafeRow bytes. It runs the
    * query's full physical plan (final sort included) as one action,
    * like the noop sink, and checks the output on every call.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        while (it.hasNext) {
          n += 1
          h += proj(it.next()).hashCode & 0xffffffffL
        }
        Iterator((n, h))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Pinned digests: `name<TAB>rows<TAB>hash`, with an `sf` line. */
  def readPins(dir: Path): (Double, Map[String, (Long, Long)]) = {
    val lines = Files.readAllLines(dir.resolve(PinFile)).toArray
      .map(_.toString.split("\t")).filter(_.length >= 2)
    val sf = lines.collectFirst { case Array("sf", v) => v.toDouble }
      .getOrElse(Double.NaN)
    (sf, lines.collect { case Array(n, r, h) if n != "name" =>
      n -> ((r.toLong, h.toLong)) }.toMap)
  }

  /** Write the pins for the fixture dir, and each oracle-checked
    * query's output plus its oracle SQL in the layout tools/check.py
    * reads, so the pins can be checked against DuckDB.
    */
  def pin(spark: SparkSession, dir: String, sf: Double, out: Path): Unit = {
    Files.createDirectories(out)
    val oracles = SparkEntry.oracleSql
    val rows = Pinned.map { name =>
      val (n, h) = CacheRegistry.scoped(digest(SparkEntry.queries(name)(spark, dir)))
      // a second call must agree: the digest may not depend on caches
      val again = CacheRegistry.scoped(digest(SparkEntry.queries(name)(spark, dir)))
      require(again == ((n, h)), s"$name: digest not stable: ${(n, h)} vs $again")
      if (oracles.contains(name)) CacheRegistry.scoped {
        SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve("oracle").resolve(name).toString)
      }
      s"$name\t$n\t$h"
    }
    Files.write(out.resolve(PinFile), java.util.Arrays.asList(
      (Seq(s"sf\t$sf", "name\trows\thash") ++ rows): _*))
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t") + "\""
    Files.createDirectories(out.resolve("oracle"))
    Files.writeString(out.resolve("oracle").resolve("oracle_sql.json"),
      Pinned.filter(oracles.contains)
        .map(n => s"${q(n)}: ${q(oracles(n))}").mkString("{", ",", "}"))
  }

  /** Cache-registry layer metrics at the end of a run. */
  def cacheLayers(): Map[String, Double] = Map(
    "cache.resident" -> CacheRegistry.resident.toDouble,
    "cache.resident_mb" -> CacheRegistry.residentBytes / 1048576.0,
    "cache.evictions" -> CacheRegistry.evicted.get.toDouble)

  private final case class Call(name: String, pass: Int, traced: Boolean,
      ms: Double, ok: Boolean)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val notes = mutable.ArrayBuffer.empty[String]
    val (pinSf, pins) = readPins(ctx.pinsDir)
    require(pinSf == ctx.sf,
      s"pins are for sf $pinSf, fixtures are sf ${ctx.sf}")
    var failed = 0L
    var attempted = 0L

    // one call: build, plan and run the full plan; a call fails when
    // it throws or its digest differs from the pin
    def call(name: String, phase: String, op: Long): (Double, Boolean) = {
      val fam = family.getOrElse(name, "warmup")
      attempted += 1
      val t0 = System.nanoTime()
      val good = try CacheRegistry.scoped {
        val df = t.span(s"ops.build.$phase.$fam", op) {
          SparkEntry.queries(name)(spark, ctx.dataDir) }
        t.span("catalyst.plan", op) { df.queryExecution.executedPlan }
        val d = t.span(s"ops.exec.$phase.$fam", op) { digest(df) }
        val pinned = pins.get(name)
        if (pinned.exists(_ != d) || (pinned.isEmpty && name != WarmUp)) {
          notes += s"$name: digest $d != pinned $pinned"
          false
        } else true
      } catch {
        case e: Throwable =>
          notes += s"$name threw: ${String.valueOf(e.getMessage).take(200)}"
          false
      }
      if (!good) failed += 1
      ((System.nanoTime() - t0) / 1e6, good)
    }

    // the untimed JIT warm-up
    t.untraced(call(WarmUp, "warmup", 0L))

    val calls = mutable.ArrayBuffer.empty[Call]
    val cold = ctx.rnd.shuffle(Queries.map(_._1)).map { n =>
      val (ms, ok) = call(n, "cold", ctx.nextOp())
      calls += Call(n, 0, ctx.traced, ms, ok)
      ms
    }
    val coldS = calls.filter(_.ok).map(_.ms).sum / 1e3

    val residentBefore = CacheRegistry.resident + CacheRegistry.evicted.get
    // a fixed number of warm passes, one per 3 s of --seconds and at
    // least three; a traced run alternates untraced and traced passes,
    // so a traced pass sits between two untraced ones for the overhead
    val passes = math.max(3, ctx.seconds / 3)
    for (pass <- 1 to passes) {
      val traced = ctx.traced && pass % 2 == 0
      ctx.rnd.shuffle(Queries.map(_._1)).foreach { n =>
        val body = () => call(n, "warm", if (traced) ctx.nextOp() else 0L)
        val (ms, ok) = if (traced) body() else t.untraced(body())
        calls += Call(n, pass, traced, ms, ok)
      }
    }
    val newEntries = CacheRegistry.resident + CacheRegistry.evicted.get -
      residentBefore

    val warm = calls.filter(_.pass > 0)
    // a pass counts only if all its calls succeeded; failed calls are
    // never read as fast timings
    def passMs(traced: Boolean) = warm.filter(_.traced == traced)
      .groupBy(_.pass).values.filter(_.forall(_.ok)).map(_.map(_.ms).sum).toSeq
    val plainPasses = passMs(false)
    // the warm unit is Bench's rule: each query's best untraced warm
    // call, summed over the set, which a contention burst in one pass
    // cannot inflate
    val best = Queries.map { case (n, _) =>
      warm.filter(c => c.name == n && c.ok && !c.traced).map(_.ms)
        .minOption.getOrElse(Double.NaN) }
    val warmMs = best.sum
    notes += s"cold_calls=${cold.size} warm_passes=$passes"
    Queries.foreach { case (n, _) =>
      val mine = calls.filter(c => c.name == n && c.ok)
      notes += f"$n cold_ms=${mine.filter(_.pass == 0).map(_.ms).sum}%.0f " +
        f"warm_ms=${Main.median(mine.filter(_.pass > 0).map(_.ms).toSeq)}%.0f"
    }

    val layers = mutable.Map.empty[String, Double]
    if (ctx.traced) {
      val tracedPasses = math.max(1, warm.filter(_.traced).map(_.pass)
        .distinct.size)
      def sumS(name: String) = t.spans.filter(_.name == name).map(_.ms).sum / 1e3
      Families.foreach { f =>
        layers(s"ops.build_s.cold.$f") = sumS(s"ops.build.cold.$f")
        layers(s"ops.build_s.warm.$f") = sumS(s"ops.build.warm.$f") / tracedPasses
        layers(s"ops.build_jobs.cold.$f") =
          ctx.counts(_.name == s"ops.build.cold.$f").jobs.toDouble
        layers(s"ops.build_jobs.warm.$f") =
          ctx.counts(_.name == s"ops.build.warm.$f").jobs.toDouble / tracedPasses
        layers(s"ops.exec_s.$f") = sumS(s"ops.exec.warm.$f") / tracedPasses
      }
      layers("catalyst.plan_ms") = ctx.meanMs("catalyst.plan")
      layers("tables.register_views_jobs") =
        ctx.counts(_.name.startsWith("ops.build.warm.")).viewJobs.toDouble /
          tracedPasses
      layers("cache.new_entries_warm") = newEntries.toDouble
      layers("trace.overhead_ms") = Main.median(passMs(true)) -
        Main.median(plainPasses)
      layers ++= cacheLayers()
    }
    Outcome(Nil, coldS, warmMs, plainPasses, Queries.size / (warmMs / 1e3),
      attempted, failed, failed == 0, layers.toMap, notes.toSeq)
  }
}
