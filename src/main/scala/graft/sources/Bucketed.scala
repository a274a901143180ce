package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed-table layout: the storage-level answer to the shuffle.
  * `bucketBy(n, key)` at write time hash-partitions rows into n
  * stable buckets; every later equi-join or aggregation on that key
  * reads co-located buckets and needs NO exchange (the scan itself
  * reports HashPartitioning). At 100 TB this is the difference between
  * paying the fact⋈fact shuffle once at ingest and paying it on every
  * query — the one-time bucketed write is the amortized shuffle.
  *
  * The copies here are narrow projections (join key + the columns the
  * bucketed query reads) — exactly what a production ingest would
  * bucket. `repartition(n, key)` before the write uses the same
  * Murmur3 hash as the bucket spec, so each task holds exactly one
  * bucket's rows → one file per bucket, and the `sortBy` metadata
  * stays usable (Spark only trusts per-bucket sort order when a
  * bucket is a single file).
  */
object Bucketed {

  /** Table name encodes the bucket count AND an md5 of the RAW dir
    * string: the readable sanitized dir is non-injective ("/sf0.1" and
    * "/sf0_1" collide) and a memo hit on a colliding name — or on the
    * same dir with a different bucket count — would silently serve a
    * table with the wrong data or layout. */
  private def tableName(base: String, dir: String, buckets: Int): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    base + "_b" + buckets + "_" + dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase +
      "_" + digest
  }

  /** Best-effort removal of a leftover MANAGED-table location from a
    * previous JVM (the in-memory catalog forgets the table at exit but
    * the warehouse directory survives, and Spark refuses to create a
    * managed table over a non-empty location). */
  private def dropStaleLocation(spark: SparkSession, name: String): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val root = if (wh.startsWith("file:")) new java.io.File(new java.net.URI(wh))
               else new java.io.File(wh)
    def deleteTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
      f.delete(); ()
    }
    val loc = new java.io.File(root, name)
    if (loc.exists()) deleteTree(loc)
  }

  /** Write `df` as bucketed table `name` once per source version: one
    * [[graft.api.ResultCache.shared]] entry keyed by the name and the
    * source read, so an in-place refresh of the source misses and
    * rewrites the table. The entry stays valid while the table exists
    * in the catalog. Synchronized: the write is a DROP + CREATE of a
    * shared catalog table, which racing callers must not interleave. */
  private def ensure(spark: SparkSession, name: String, df: DataFrame,
      buckets: Int, key: String): Unit = synchronized {
    graft.api.ResultCache.shared[String]("bucketed", name, df)(spark.catalog.tableExists(_)) {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      dropStaleLocation(spark, name)
      df.repartition(buckets, col(key))
        .write.bucketBy(buckets, key).sortBy(key)
        .mode("overwrite").saveAsTable(name)
      name
    }; ()
  }

  /** Bucketed (orders, lineitem) copies co-partitioned on the order
    * key — written once per source version, then read back as
    * catalog tables whose scans carry the bucket partitioning. */
  def ordersLineitem(spark: SparkSession, dir: String,
      buckets: Int = 8): (DataFrame, DataFrame) = {
    val to = tableName("graft_orders", dir, buckets)
    val tl = tableName("graft_lineitem", dir, buckets)
    ensure(spark, to,
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")),
      buckets, "o_orderkey")
    ensure(spark, tl,
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      buckets, "l_orderkey")
    (spark.table(to), spark.table(tl))
  }
}
