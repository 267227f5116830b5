package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Parameterized SQL — the Spark-native replacement for the reference's
  * handlebars template layer (/root/reference/lib/examiner.js:206-208,
  * index.js:264-325). The reference has exactly two parameter kinds:
  *
  *  - positional `?` values, bound and quoted by node-dbi
  *    (README.md:184) → Spark's positional parameterized SQL
  *  - named `$var` values, regex-validated then rendered into the
  *    template (examiner.js:162-196) → Spark's named-marker (`:name`)
  *    parameterized SQL for VALUES; identifier-position `$var`s go
  *    through [[QueryRegistry.dynamicProjection]]'s catalog-validated
  *    DataFrame path instead (never string splicing)
  *
  * Both kinds bind through Catalyst's parameterized-query API, so no
  * value ever appears in SQL text — injection-proof by construction,
  * which the reference approximates with its `--`/alphanumeric gates.
  */
object SqlTemplates {

  /** Count of positional markers — the reference's arity inference
    * (examiner.js:66-68 counts `?` occurrences).
    */
  def positionalArity(sqlText: String): Int = sqlText.count(_ == '?')

  /** Extract named markers — the reference's `$var` extraction
    * (examiner.js:198-204, regex `\$(\w+)`); Spark's marker syntax is
    * `:name`.
    */
  def namedVars(sqlText: String): Seq[String] =
    ":(\\w+)".r.findAllMatchIn(sqlText).map(_.group(1)).toSeq.distinct

  /** Run a template with positional args. Missing args fail up front
    * with the reference's error shape (`Missing parameter: pN`,
    * index.js:294-296).
    */
  def positional(spark: SparkSession, dir: String,
      sqlText: String, args: Seq[Any]): DataFrame = {
    val need = positionalArity(sqlText)
    if (args.length < need)
      throw new IllegalArgumentException(s"Missing parameter: p${args.length + 1}")
    Tables.withViews(spark, dir)(spark.sql(sqlText, args.toArray))
  }

  /** Run a template with named args. Missing names fail with the
    * reference's error shape (`Parameter "x" is required!`,
    * examiner.js:172-175).
    */
  def named(spark: SparkSession, dir: String,
      sqlText: String, args: Map[String, Any]): DataFrame = {
    namedVars(sqlText).foreach(v =>
      if (!args.contains(v))
        throw new IllegalArgumentException(s"""Parameter "$v" is required!"""))
    Tables.withViews(spark, dir)(spark.sql(sqlText, args))
  }

  /** Typed error envelope — the reference wraps every result as
    * `{ok:true, results}` / `{ok:false, error}` (index.js:254-262).
    */
  def tryQuery(build: => DataFrame): Either[String, DataFrame] =
    try Right(build)
    catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
}
