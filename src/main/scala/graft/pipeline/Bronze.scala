package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.schema.Schemas
import graft.sources.Csv

/** Bronze layer — typed raw ingest (`aact_bronze_layer.sql`): every source
  * lands as-is in columnar storage with an EXPLICIT schema, rebuilt
  * idempotently (S4: DROP+TRUNCATE ≙ SaveMode.Overwrite).
  *
  * Three ingest paths. Delimited text goes through [[graft.sources.Csv]]
  * (`COPY ... FORMAT csv`, [[ingestCsv]]). A table whose frame is the
  * bare relation over ONE parquet file — every testdata table but
  * `events` — is copied row group by row group ([[copyRowGroups]]): the
  * pages are not decoded or re-encoded, and no Spark job runs. Any other
  * frame (`events`, whose timestamps [[Tables.table]] normalises, or a
  * multi-file source) is written by Spark.
  *
  * The tables are independent, so [[run]] lands them as one concurrent
  * [[Layer.wave]]: at the testdata layout one Spark job (the `events`
  * write) and nine file copies.
  */
object Bronze {

  /** Ingest every testdata table into `$outDir/bronze/<name>` parquet. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Unit =
    Layer.wave(Tables.names.map { name => () =>
      val frame = Tables.table(spark, sfDir, name)
      val out = s"$outDir/bronze/$name"
      singleParquetFile(frame) match {
        case Some(src) =>
          copyRowGroups(spark.sparkContext.hadoopConfiguration, src, frame.schema, out)
        case None => frame.write.mode(SaveMode.Overwrite).parquet(out)
      }
    }: _*)

  /** CSV variant of one table (S1-S3): raw delimited text → typed parquet. */
  def ingestCsv(spark: SparkSession, csvPath: String, table: String,
                outDir: String, sep: String = "|"): Unit =
    Csv.read(spark, csvPath, Schemas.all(table), sep)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/bronze/$table")

  /** The one parquet file `frame` reads, when `frame` is nothing but an
    * unpartitioned, unbucketed parquet relation over that file. */
  private[pipeline] def singleParquetFile(frame: DataFrame): Option[Path] =
    frame.queryExecution.analyzed match {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
            h.partitionSchema.isEmpty && h.bucketSpec.isEmpty =>
          h.location.inputFiles match {
            case Array(f) => Some(new Path(f))
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }

  /** Overwrites `dir` with one parquet file holding `src`'s row groups as
    * they are (`ParquetFileWriter.appendFile`), then a `_SUCCESS` marker.
    * The footer keeps `src`'s key-values and adds Spark's schema key set
    * to `schema`, the schema Spark reads `src` with, so [[Tables.read]]
    * and `spark.read.parquet` see the same schema and rows as in a
    * Spark-written copy. */
  private[pipeline] def copyRowGroups(conf: Configuration, src: Path,
                                      schema: StructType, dir: String): Unit = {
    val out = new Path(dir)
    val fs = out.getFileSystem(conf)
    fs.delete(out, true)
    val in = HadoopInputFile.fromPath(src, conf)
    val reader = ParquetFileReader.open(in)
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    val keyValues = new java.util.HashMap[String, String](meta.getKeyValueMetaData)
    keyValues.put(ParquetReadSupport.SPARK_METADATA_KEY, schema.json)
    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(new Path(out, "part-00000.parquet"), conf),
      meta.getSchema, ParquetFileWriter.Mode.CREATE,
      ParquetWriter.DEFAULT_BLOCK_SIZE, ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
    try {
      writer.start()
      writer.appendFile(in)
      writer.end(keyValues)
    } finally writer.close()
    fs.create(new Path(out, "_SUCCESS")).close()
  }
}
