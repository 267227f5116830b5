package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.engine.{CacheRegistry, SqlTemplates}

/** The fixture catalog: each table resolves once per (session, dir),
  * re-resolves when its file changes, and SQL text binds to the dir it
  * names even while another thread binds a different dir.
  */
class TablesCatalogSpec extends SparkSpec {

  // the next scale factor beside the shared fixture dir
  private val sfBig = Paths.get(sf).resolveSibling("sf0.01").toString

  private def copyTable(from: String, name: String, to: Path): Unit =
    Files.copy(Paths.get(from, s"$name.parquet"),
      to.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)

  private def copyOf(from: String): Path = {
    val d = Files.createTempDirectory("graft_catalog")
    Tables.names.foreach(copyTable(from, _, d))
    d
  }

  /** Spark jobs `body` submits from this thread. Jobs carry the thread's
    * local properties; a sentinel job submitted after `body` marks the
    * point where the asynchronous listener bus has delivered them all.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.catalog"
    val counted = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(tag)) match {
          case Some("body") => counted.incrementAndGet()
          case Some("sentinel") => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "sentinel")
      sc.parallelize(Seq(1)).count()
      assert(sentinel.await(30, TimeUnit.SECONDS), "listener bus stalled")
      counted.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a warm load returns the same resolved frame") {
    assert(Tables.load(spark, sf, "orders") eq Tables.load(spark, sf, "orders"))
    assert(Tables.load(spark, sf, "events") eq Tables.load(spark, sf, "events"))
    // raw is the on-disk read; only events differs from load
    assert(Tables.raw(spark, sf, "orders") eq Tables.load(spark, sf, "orders"))
    assert(Tables.raw(spark, sf, "events").schema("ts").dataType !=
      Tables.load(spark, sf, "events").schema("ts").dataType)
  }

  test("a warm registerViews submits no Spark job") {
    val dir = copyOf(sf).toString
    val cold = jobsOf(Tables.registerViews(spark, dir))
    assert(cold > 0, "cold resolution should run schema-inference jobs")
    val warm = jobsOf(Tables.registerViews(spark, dir))
    assert(warm == 0, s"warm registerViews ran $warm jobs")
  }

  test("a rewritten table file or directory is re-resolved") {
    val dir = Files.createTempDirectory("graft_catalog")
    copyTable(sf, "orders", dir)
    val small = Tables.load(spark, dir.toString, "orders").count()
    copyTable(sfBig, "orders", dir)
    val big = Tables.load(spark, dir.toString, "orders").count()
    assert(small == Tables.load(spark, sf, "orders").count())
    assert(big == Tables.load(spark, sfBig, "orders").count() && big != small)

    val region = dir.resolve("region.parquet").toString
    spark.range(7).write.parquet(region)
    assert(Tables.load(spark, dir.toString, "region").count() == 7)
    spark.range(3).write.mode("overwrite").parquet(region)
    assert(Tables.load(spark, dir.toString, "region").count() == 3)
  }

  test("a frame loaded in a new session belongs to that session") {
    val other = spark.newSession()
    val df = Tables.load(other, sf, "orders")
    assert(df.sparkSession eq other)
    assert(!(df eq Tables.load(spark, sf, "orders")))
    assert(df.count() == Tables.load(spark, sf, "orders").count())
  }

  test("a dir holding only documents loads that table") {
    val dir = Files.createTempDirectory("graft_catalog")
    copyTable(sf, "documents", dir)
    intercept[org.apache.spark.sql.AnalysisException](
      Tables.load(spark, dir.toString, "orders"))
    assert(Tables.load(spark, dir.toString, "documents").count() ==
      Tables.load(spark, sf, "documents").count())
  }

  test("after evictAll, load re-resolves to the same table") {
    val before = Tables.load(spark, sf, "lineitem")
    CacheRegistry.evictAll()
    val after = Tables.load(spark, sf, "lineitem")
    assert(!(after eq before), "evictAll left the catalog entry resident")
    assert(after.schema == before.schema && after.count() == before.count())
  }

  test("SQL templates over two dirs from 4 threads each answer for " +
      "their own dir") {
    val templates: Seq[String => Seq[String]] = Seq(
      dir => SqlTemplates.positional(spark, dir,
        "SELECT count(*), max(o_orderkey) FROM orders WHERE o_orderstatus = ?",
        Seq("F")).collect().map(_.toString).toSeq,
      dir => SqlTemplates.positional(spark, dir,
        """SELECT c_mktsegment, count(*) FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |WHERE o_totalprice > ? GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin,
        Seq(100000.0)).collect().map(_.toString).toSeq,
      dir => SqlTemplates.named(spark, dir,
        "SELECT count(*), min(l_orderkey) FROM lineitem WHERE l_quantity < :q",
        Map("q" -> 10)).collect().map(_.toString).toSeq)
    val dirs = Seq(sf, sfBig)
    // single-threaded answers first
    val want = (for (d <- dirs; t <- templates.indices)
      yield (d, t) -> templates(t)(d)).toMap
    assert(templates.indices.forall(t => want((sf, t)) != want((sfBig, t))),
      "the two dirs must give different answers")
    val pool = Executors.newFixedThreadPool(4)
    try {
      val runs = (0 until 4).map { th =>
        pool.submit(() => (0 until 12).flatMap { k =>
          val key = (dirs((th + k) % 2), k % templates.size)
          val got = templates(key._2)(key._1)
          if (got == want(key)) None else Some(s"$key: $got")
        })
      }
      val wrong = runs.flatMap(_.get(5, TimeUnit.MINUTES))
      assert(wrong.isEmpty, s"answers from the other dir: $wrong")
    } finally pool.shutdownNow()
  }
}
