package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** How a medallion layer writes its tables and hands them to the next
  * layer. A layer's writes are small and independent, so the build is
  * bound by per-job cost (planning, scheduling, file commit) with most
  * cores idle: [[wave]] overlaps those jobs, and [[read]] spares each
  * hand-off read the schema-inference job `spark.read.parquet` launches.
  */
object Layer {

  /** Runs `writes` concurrently, one thread each, so their Spark jobs
    * share the cores instead of queueing behind each other. Waits for
    * every write, then rethrows the first failure in submission order, so
    * no write is still running when an error surfaces. Returns the
    * results in submission order. */
  def wave[T](writes: (() => T)*): Seq[T] = {
    val pool = Executors.newFixedThreadPool(writes.size)
    try {
      val pending = writes.map(w => pool.submit(new Callable[T] { def call(): T = w() }))
      val done = pending.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      done.collectFirst { case Left(t) => throw t }
      done.collect { case Right(v) => v }
    } finally pool.shutdown()
  }

  /** Reads the layer table at `path` with the schema Spark stored in its
    * parquet footer: one footer read on the driver and no Spark job.
    * Partition columns (silver `order_year`) still come from directory
    * discovery, as with `spark.read.parquet`. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val file = dataFile(root.getFileSystem(conf), root)
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val json =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY)
      finally reader.close()
    require(json != null, s"$file has no Spark schema in its footer")
    spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(path)
  }

  /** First data file under `dir`, skipping the names Spark's file index
    * hides (`_SUCCESS`, `_temporary`, `.crc` files). */
  private def dataFile(fs: FileSystem, dir: Path): Option[Path] = {
    val (files, dirs) = fs.listStatus(dir).filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.partition(_.isFile)
    files.headOption.map(_.getPath)
      .orElse(dirs.iterator.flatMap(d => dataFile(fs, d.getPath)).nextOption())
  }
}
