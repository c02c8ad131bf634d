package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's complete runtime surface as a thin Scala API over
  * `spark.sql` / `spark.catalog` — SURVEY.md §2.1 operators R2, R4–R7.
  *
  * Unlike the reference, there is no boto3 side-channel
  * (`create_iceberg_tables.py:14-22` bypasses Spark to talk to Glue directly):
  * when the catalog *is* Spark's, `CREATE DATABASE IF NOT EXISTS` covers the
  * get-or-create semantic in one idempotent statement. Errors propagate —
  * the reference's swallow-and-print (`create_iceberg_tables.py:149-156`,
  * which lets a failed CREATE exit 0) is deliberately not reproduced.
  */
final class CatalogAutomation(spark: SparkSession, profile: CatalogProfile) {

  /** R2: idempotent namespace ensure (replaces boto3 get/create_database). */
  def ensureDatabase(db: String): Unit = {
    spark.sql(DdlGenerator.createDatabase(db, profile))
    ()
  }

  /** R3+R4: render the spec's DDL and execute it; idempotent. Returns the DDL
    * actually executed (useful for logging/goldens).
    */
  def createTable(spec: TableSpec): String = {
    ensureDatabase(spec.database)
    val ddl = DdlGenerator.createTable(spec, profile)
    spark.sql(ddl)
    ddl
  }

  /** Provision every spec; the reference's EP1 main loop
    * (`create_iceberg_tables.py:140-156`) without the jar/env plumbing.
    */
  def provision(specs: Seq[TableSpec]): Seq[String] = specs.map(createTable)

  /** R6: catalog probe — qualified through the profile's catalog so it
    * resolves against the same catalog `createTable` writes to, regardless
    * of the session's `spark.sql.defaultCatalog`. Identifier parts are
    * backtick-quoted so tables the DDL path can create (reserved words,
    * special characters) can also be probed.
    */
  def listTables(db: String): Seq[String] =
    spark.catalog.listTables(quotedDb(db)).collect().map(_.name).toSeq

  /** R7: `SHOW DATABASES` (`test_iceberg.py:86`). */
  def showDatabases(): DataFrame = spark.sql("SHOW DATABASES")

  def tableExists(db: String, table: String): Boolean =
    spark.catalog.tableExists(s"${quotedDb(db)}.${DdlGenerator.quoteIdent(table)}")

  private def quotedDb(db: String): String =
    (profile.catalogName.toSeq :+ db).map(DdlGenerator.quoteIdent).mkString(".")
}
