package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hive-metastore-backed catalog persistence — the production form of the
  * reference's Glue catalog (reference `src/helpers/athena.py:12-21`
  * registers every pipeline table in a persistent catalog so later jobs —
  * and other engines — resolve them by NAME, not path).
  *
  * [[Lakehouse]]'s in-memory catalog + on-disk `_graft_layout` markers are
  * honest per-session emulation; this module is the cross-SESSION answer:
  * table definitions (location, schema, partitioning, bucketing) live in a
  * Hive metastore (embedded Derby locally; the same code speaks to a
  * remote metastore service on a cluster via `hive.metastore.uris`), so a
  * NEW driver JVM resolves `spark.table("graft.features")` with zero
  * re-registration — including the bucketing metadata that makes the
  * bucket-join paths shuffle-free after a restart.
  *
  * Scale notes: the metastore holds METADATA only (O(tables + partitions)
  * rows in Derby/RDS, not data); listing is pruned by partition predicates
  * (`spark.sql.hive.metastorePartitionPruning` below), which is what keeps
  * `spark.table(...)` planning O(touched partitions) on a 100k-partition
  * lake rather than O(all).
  */
object PersistentCatalog {

  /** A session whose catalog survives JVM restarts: Hive catalog over an
    * embedded Derby metastore at `metastoreDb` (create-on-first-use), lake
    * files under `warehouse`. Two JVMs pointing at the same pair see the
    * same catalog — the restart contract CatalogPersistenceSpec proves.
    */
  def session(warehouse: String, metastoreDb: String, cpus: Int = 4): SparkSession =
    Graft.session(cpus, Map(
      "spark.sql.catalogImplementation" -> "hive",
      "spark.sql.warehouse.dir" -> warehouse,
      "spark.hadoop.javax.jdo.option.ConnectionURL" ->
        s"jdbc:derby:;databaseName=$metastoreDb;create=true",
      // partition predicates prune at the METASTORE, so planning cost
      // follows the touched partitions, not the table's partition count
      "spark.sql.hive.metastorePartitionPruning" -> "true"))

  /** Register `df` as a MANAGED bucketed table `db.table` — definition AND
    * bucketing spec go to the metastore, so post-restart joins on
    * `bucketCol` are co-located with no re-registration. */
  def saveBucketed(df: DataFrame, db: String, table: String,
      bucketCol: String, buckets: Int): Unit = {
    df.sparkSession.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(s"$db.$table")
  }

  /** Register an EXTERNAL parquet location under a catalog name — the lake
    * stays where it is (the reference's pattern: Athena tables over
    * existing S3 prefixes); dropping the table never touches data. */
  def registerExternal(spark: SparkSession, db: String, table: String,
      path: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $db.$table USING parquet LOCATION '$path'")
  }
}
