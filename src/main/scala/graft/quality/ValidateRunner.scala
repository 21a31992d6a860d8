package graft.quality

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The `validate` CLI command (reference orchestrate.py:194-238 — the
  * one-command wrapper over the validation corpus): walk a lake root,
  * check every registered table for (1) readability + rows > 0 (the
  * reference's run-summary rows<=0 gate), (2) primary-key columns
  * present in the schema (its TABLE_SPECS strict_schema pass), and
  * (3) duplicate-PK rows (the Contracts.audit invariant the SQL
  * corpus gates as sql01/sql02). Prints the reference's log_json
  * summary line shapes (validate_failed / validate_schema_failed /
  * validate_ok) and raises on failure exactly where the reference
  * does: rows<=0 always raises; schema problems raise only under
  * strictSchema. A table that exists but cannot be READ is a schema
  * issue, not a row-count failure — the reference's schema loop
  * records `schema_read_error:<exc>` in the missing dict
  * (orchestrate.py:231-232) and its rows<=0 gate never sees the
  * table (it reads the run summary, not the parquet), so non-strict
  * validate keeps going over a corrupt-but-present table.
  *
  * Scale: per table, the only data pass is one count + one dup-PK
  * aggregation (both map-side-combined); nothing is collected but the
  * per-table scalar counters.
  */
object ValidateRunner {

  final case class TableResult(table: String, exists: Boolean, rows: Long,
      missingPk: Seq[String], dupPkRows: Long, error: Option[String]) {
    // an unreadable table passes the rows gate (the reference's rows<=0
    // gate reads the run summary, never the parquet) and fails the
    // schema pass as schema_read_error instead
    def rowsOk: Boolean = exists && (error.nonEmpty || rows > 0)
    def schemaOk: Boolean = error.isEmpty && missingPk.isEmpty && dupPkRows == 0
  }

  final case class Summary(results: Seq[TableResult]) {
    def failedRows: Seq[String] =
      results.filter(r => r.exists && !r.rowsOk).map(_.table)
    def failedSchema: Seq[TableResult] =
      results.filter(r => r.exists && r.rowsOk && !r.schemaOk)
    def checked: Int = results.count(_.exists)
    def ok: Boolean = failedRows.isEmpty && failedSchema.isEmpty
  }

  /** Validate `specs` tables under `root` (each at root/<name> as
    * parquet). Missing table dirs are skipped, matching the
    * reference's `if not contents: continue`. */
  def validate(spark: SparkSession, root: String,
      specs: Map[String, Seq[String]] =
        graft.gold.GoldSchemas.Specs.map { case (n, s) => n -> s.primaryKeys },
      strictSchema: Boolean = false,
      out: String => Unit = println): Summary = {
    val results = specs.keys.toSeq.sorted.map { t =>
      val dir = new java.io.File(s"$root/$t")
      if (!dir.isDirectory)
        TableResult(t, exists = false, 0L, Nil, 0L, None)
      else try {
        val df = spark.read.parquet(dir.toString)
        val pks = specs(t)
        val missing = pks.filterNot(df.columns.contains)
        val (rows, dup) =
          if (missing.nonEmpty) (df.count(), -1L)
          else {
            // exact PK grouping (the Contracts.conformance form) — a
            // concat-based countDistinct collided composite keys (the
            // separator can occur in data) and collapsed nulls. The
            // per-group count is aliased: a PK column literally named
            // "count" would otherwise capture the reference
            val r = df.groupBy(pks.map(col): _*)
              .agg(count(lit(1)).as("__graft_n"))
              .agg(
                coalesce(sum(col("__graft_n")), lit(0L)).as("n"),
                coalesce(sum(when(col("__graft_n") > 1, col("__graft_n") - 1)
                  .otherwise(lit(0L))), lit(0L)).as("d")).head()
            (r.getLong(0), r.getLong(1))
          }
        TableResult(t, exists = true, rows, missing, dup, None)
      } catch {
        case e: Exception =>
          TableResult(t, exists = true, 0L, Nil, 0L,
            Some(e.getClass.getSimpleName))
      }
    }
    val s = Summary(results)
    if (s.failedRows.nonEmpty) {
      out(s"""{"event": "validate_failed", "endpoints": [${
        s.failedRows.map("\"" + _ + "\"").mkString(", ")}]}""")
      throw new RuntimeException(
        s"Validation failed for tables: ${s.failedRows.mkString(", ")}")
    }
    if (s.failedSchema.nonEmpty) {
      val det = s.failedSchema.map { r =>
        val why = r.error match {
          case Some(e) => s"schema_read_error:$e"
          case None =>
            if (r.missingPk.nonEmpty)
              r.missingPk.mkString("missing_pk:", ",", "")
            else s"dup_pk_rows:${r.dupPkRows}"
        }
        s""""${r.table}": "$why""""
      }.mkString(", ")
      out(s"""{"event": "validate_schema_failed", "details": {$det}, "strict": $strictSchema}""")
      if (strictSchema)
        throw new RuntimeException(
          s"Schema validation failed for: ${s.failedSchema.map(_.table).mkString(", ")}")
    } else
      out(s"""{"event": "validate_ok", "tables_checked": ${s.checked}, "tables_registered": ${specs.size}}""")
    s
  }

  /** CLI: `graft.quality.ValidateRunner <lakeRoot> [--strict]`. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ValidateRunner <lakeRoot> [--strict]")
    val spark = graft.Session.local()
    try validate(spark, args(0), strictSchema = args.contains("--strict"))
    finally spark.stop()
  }
}
