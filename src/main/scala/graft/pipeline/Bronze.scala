package graft.pipeline

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.Tables
import graft.schema.Schemas
import graft.sources.Csv

/** Bronze layer — typed raw ingest (`aact_bronze_layer.sql`): every source
  * lands as-is in columnar storage with an EXPLICIT schema, rebuilt
  * idempotently (S4: DROP+TRUNCATE ≙ SaveMode.Overwrite).
  *
  * Two ingest paths, as in the reference: delimited text through
  * [[graft.sources.Csv]] (`COPY ... FORMAT csv`) and — the testdata case —
  * already-columnar files passed through to partitioned parquet.
  *
  * The tables are independent, so [[run]] writes them as one concurrent
  * [[Layer.wave]].
  */
object Bronze {

  /** Ingest every testdata table into `$outDir/bronze/<name>` parquet. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Unit =
    Layer.wave(Tables.names.map { name => () =>
      Tables.table(spark, sfDir, name)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/bronze/$name")
    }: _*)

  /** CSV variant of one table (S1-S3): raw delimited text → typed parquet. */
  def ingestCsv(spark: SparkSession, csvPath: String, table: String,
                outDir: String, sep: String = "|"): Unit =
    Csv.read(spark, csvPath, Schemas.all(table), sep)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/bronze/$table")
}
