package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.engine.CacheRegistry

/** Fixture-table loader. The reference federates named backends under one
  * namespace (/root/reference/index.js:52,112 `dbs{}` keyed by db.name);
  * here the namespace is a directory of parquet tables and the "backend"
  * is Spark's parquet source (vectorized scan, predicate pushdown,
  * column pruning — all free from Catalyst).
  *
  * The fixture catalog: a parquet read lists the file and runs a
  * schema-inference job, so each table is resolved once per (session,
  * dir) and its frame served from then on (Dremel's rule: metadata
  * comes from a catalog, not a re-read per query). Every hit first
  * takes the table's file stamp — length and modification time of the
  * file, or of each entry of its directory — and re-resolves on any
  * change, so a rewritten table is never served from a stale file
  * index.
  */
object Tables {
  /** All tables the driver generates (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    resolved(spark, dir, name).frame

  /** The table as the parquet source reads it, before [[normalizeTs]]:
    * streaming replays need the on-disk schema of their staged files.
    */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    resolved(spark, dir, name).raw

  private final class Resolved(val stamp: Seq[(String, Long, Long)],
      val raw: DataFrame, val frame: DataFrame)

  /** One (session, dir)'s tables, each resolved on first use: a dir may
    * hold only a few of them.
    */
  private final class Catalog(spark: SparkSession, dir: String) {
    private val fs =
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val tables =
      new java.util.concurrent.ConcurrentHashMap[String, Resolved]()

    def apply(name: String): Resolved = {
      val path = s"$dir/$name.parquet"
      val st = stamp(new Path(path))
      val hit = tables.get(name)
      if (hit != null && hit.stamp == st) hit
      else {
        val raw = spark.read.parquet(path)
        val r = new Resolved(st, raw,
          if (name == "events") normalizeTs(raw) else raw)
        tables.put(name, r)
        r
      }
    }

    // empty while the path is missing: the parquet read then fails with
    // its usual error and nothing is cached
    private def stamp(p: Path): Seq[(String, Long, Long)] =
      scala.util.Try(fs.getFileStatus(p)).toOption.toSeq.flatMap { st =>
        if (st.isDirectory) fs.listStatus(p).sortBy(_.getPath.getName).toSeq
        else Seq(st)
      }.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
  }

  private def resolved(spark: SparkSession, dir: String,
      name: String): Resolved = {
    require(names.contains(name), s"unknown table: $name")
    // no-op free: the frames pin no storage, and unpersisting a base
    // relation would drop every other memo's cache built over it
    CacheRegistry.memo("tables.catalog", s"${session(spark).id}|$dir")(
      new Catalog(spark, dir))(_ => ())(name)
  }

  /** A session's identity: keys its catalog entries, and is the lock
    * [[withViews]] holds (temp views are per session).
    */
  private final class Session {
    val id: String = java.util.UUID.randomUUID.toString
  }

  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Session]())

  private def session(spark: SparkSession): Session =
    sessions.computeIfAbsent(spark, _ => new Session)

  /** Normalize the fixture's `ts` column to TimestampType regardless of
    * how the generator annotated it — the driver has shipped it as
    * TIMESTAMP(NANOS) (arriving as nanos-since-epoch LONG under
    * spark.sql.legacy.parquet.nanosAsLong=true) and as untagged
    * TIMESTAMP(MICROS) (arriving as TIMESTAMP_NTZ under Spark 4's NTZ
    * inference). Values are UTC wall times and sessions run in UTC, so
    * both conversions are instant-preserving and agree with DuckDB's
    * read of the same file. Works on batch and streaming frames alike.
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      // nanos → micros truncation, identical to DuckDB's ns→us cast for
      // positive epochs
      df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    case TimestampNTZType =>
      // naive-UTC → session-UTC instant; cast in a UTC session is exact
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Register every fixture table as a temp view so `spark.sql` queries
    * (parameterized SQL — the Spark-native form of the reference's
    * handlebars templates) can name them directly. With the catalog
    * warm this is ten view bindings and no Spark job.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Run SQL text that names the fixture tables against `dir`. Temp
    * views are session-global, so a gateway thread serving another dir
    * could rebind `orders` between this registration and the query's
    * analysis; the session's bind lock spans both, and `spark.sql`
    * analyzes eagerly, inlining the views, so the returned frame no
    * longer depends on what the names are bound to later.
    */
  def withViews(spark: SparkSession, dir: String)(
      query: => DataFrame): DataFrame =
    session(spark).synchronized {
      registerViews(spark, dir)
      query
    }
}
