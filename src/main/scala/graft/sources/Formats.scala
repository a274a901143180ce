package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Non-parquet source/sink surface (SURVEY.md §2.1 q_scan_csv_json /
  * q_sink_parquet). The reference genre ingests CSV dumps and log
  * feeds; this module is the ingest/egress boundary of the engine.
  *
  * Scale rules encoded here:
  *  - ALWAYS an explicit schema. Inference reads the whole input once
  *    before the real job (2× the 100 TB scan) and can silently drift
  *    types between runs.
  *  - JSONL and single-line CSV are splittable → parallel reads. CSV
  *    `multiLine` (quoted newlines) is NOT splittable — one task per
  *    file — so it is deliberately not exposed here.
  *  - Writers take partition columns: at scale, downstream queries
  *    prune partitions only if the layout encodes them
  *    (`PartitionFilters` in the scan, no directory listing of the
  *    full table).
  */
object Formats {

  /** CSV with explicit schema; header tolerated but schema-authoritative. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSS]")
      .csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
      .csv(path)

  /** JSON Lines (one object per line — the splittable JSON layout). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC — the other columnar warehouse format; same schema-first
    * contract as the parquet path (predicate pushdown and column
    * pruning work identically through the vectorized ORC reader). */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Parquet sink with optional hive-style partition layout. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
}
