package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parametrized SQL execution + materialized-view refresh (reference
  * S20/S21/F32: modules/query_utils.py:25-119, modules/validation.py,
  * nodes_workflow/UpdateMaterializedView/update_materialized_view.py:26-45,
  * BackFiller/backfilling.py:34-73).
  */
object SqlRunner {

  private val IdentifierRe = "^[\\w.]+$".r
  private val ParamRe = ":([A-Za-z_][A-Za-z0-9_]*)".r

  /** Identifier sanitation (reference S20 regex ^[\w.]+$ before
    * interpolating a view name into SQL). */
  def validateIdentifier(name: String): Unit =
    require(IdentifierRe.matches(name),
      s"illegal SQL identifier: '$name'")

  /** Named params referenced by the SQL text (`:param`). */
  def referencedParams(sql: String): Set[String] =
    ParamRe.findAllMatchIn(sql).map(_.group(1)).toSet

  /** Validate that every `:param` in the SQL has a binding and every
    * binding is used (reference F32: validation.py:17-27 — fails fast on
    * a mismatch instead of running a half-bound query). */
  def validateParams(sql: String, params: Map[String, Any]): Unit = {
    val referenced = referencedParams(sql)
    val missing = referenced -- params.keySet
    val unused = params.keySet -- referenced
    require(missing.isEmpty, s"unbound SQL params: $missing")
    require(unused.isEmpty, s"params not referenced by SQL: $unused")
  }

  /** Execute SQL text with named-parameter binding (reference S21; Spark
    * binds :name via the args map — injection-safe, no string splicing). */
  def runSql(spark: SparkSession, sql: String,
      params: Map[String, Any]): DataFrame = {
    validateParams(sql, params)
    spark.sql(sql, params)
  }

  /** One parsed statement-pair of the category backfill migration: a
    * category title and the corpus source_names it claims. */
  final case class CategoryBackfill(title: String, sources: Seq[String])

  private val BackfillValuesRe =
    "(?s)VALUES\\s*\\(\\s*'([^']+)'\\s*\\)".r
  private val BackfillInListRe =
    "(?s)IN\\s*\\(([^)]+)\\)".r

  /** Parse the reference's corpus-category backfill migration
    * (sql/89920abb7ff8_populate_corpus_category.sql): each statement is
    * a Postgres `WITH ids AS (INSERT ... RETURNING id) UPDATE ... FROM
    * ids WHERE source_name IN (...)`. That dialect (INSERT..RETURNING,
    * UPDATE..FROM, serial ids) has no Spark SQL form — but its MEANING
    * is pure data: an ordered list of (category title, source_name
    * list). Parse exactly that and let `applyCategoryBackfill` express
    * the update Spark-first (dim build + broadcast join), which is also
    * the shape that survives 100 TB: the reference's row-at-a-time
    * UPDATE becomes one scan of the corpus table. */
  def parseCategoryBackfill(path: String): Seq[CategoryBackfill] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val titles = BackfillValuesRe.findAllMatchIn(text)
      .map(_.group(1)).toSeq
    val inLists = BackfillInListRe.findAllMatchIn(text)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("'")
        .stripSuffix("'")).toSeq).toSeq
    require(titles.length == inLists.length && titles.nonEmpty,
      s"malformed backfill migration: ${titles.length} inserts vs " +
        s"${inLists.length} IN-lists in $path")
    titles.zip(inLists).map { case (t, ss) => CategoryBackfill(t, ss) }
  }

  /** Apply a parsed category backfill: returns (category dim, corpus
    * with category_id set). Ids are assigned in declaration order
    * (1-based), matching the reference's serial PK sequence on a fresh
    * `category` table. Unmatched corpora keep a null category_id, like
    * rows the reference UPDATEs never touch. */
  def applyCategoryBackfill(spark: SparkSession, corpus: DataFrame,
      statements: Seq[CategoryBackfill]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val categories = spark.createDataFrame(
      statements.zipWithIndex.map { case (s, i) =>
        (i + 1L, s.title)
      }).toDF("id", "title")
    // LAST-WINS on duplicate source_names: the reference's statements
    // run as sequential UPDATEs, so a source claimed by two categories
    // ends at the later one. A plain flatMap would join BOTH mapping
    // rows and duplicate the corpus row — toMap keeps the last entry.
    val mapping = spark.createDataFrame(
      statements.zipWithIndex.flatMap { case (s, i) =>
        s.sources.map(src => (src, i + 1L))
      }.toMap.toSeq).toDF("source_name", "category_id")
    val updated = corpus.drop("category_id")
      .join(broadcast(mapping), Seq("source_name"), "left")
    (categories, updated)
  }

  /** Materialized-view emulation (reference S20: Spark has no MV — a
    * registered query re-runs and overwrites its backing parquet; readers
    * see the refreshed table). */
  final class ViewRegistry {
    private val views =
      scala.collection.mutable.Map.empty[String, String]

    def register(name: String, sql: String): Unit = {
      validateIdentifier(name)
      views(name) = sql
    }

    def refresh(spark: SparkSession, name: String, baseDir: String)
        : Unit = {
      validateIdentifier(name)
      val sql = views.getOrElse(name,
        throw new IllegalArgumentException(s"unknown view: $name"))
      // overwrite into a staging dir then swap: readers of the previous
      // snapshot are never exposed to a half-written table
      val out = s"$baseDir/$name"
      spark.sql(sql).write.mode("overwrite").parquet(out)
    }

    def registered: Set[String] = views.keySet.toSet
  }
}
