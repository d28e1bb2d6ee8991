package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Pins [[Probe]]'s exact drain of the listener bus: a listener that lags
  * behind the jobs must not make [[IoEvidence]] or the job counts miss
  * events, nor leak an earlier job's events into a record. */
class ProbeSpec extends SparkSpec {

  private val rows = 10000L

  /** A parquet table of `rows` rows in 8 files, scanned in at least 4 tasks. */
  private lazy val table: String = {
    val path = Files.createTempDirectory("graft-probe-spec").resolve("t.parquet").toString
    spark.range(0, rows, 1, 8).write.parquet(path)
    path
  }

  /** Runs `body` with a listener on the shared queue that sleeps 250 ms in
    * each `onTaskEnd`, so every later listener on that queue sees a job's
    * task ends up to 250 ms × tasks after the job has returned. */
  private def lagging[T](body: => T): T = {
    val lag = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(250)
    }
    spark.sparkContext.addSparkListener(lag)
    try body finally spark.sparkContext.removeSparkListener(lag)
  }

  test("IoEvidence.measure counts every record of a scan behind a lagging bus") {
    spark.read.parquet(table).rdd.getNumPartitions should be >= 4
    val io = lagging(IoEvidence.measure(spark, spark.read.parquet(table)))
    io.recordsRead shouldBe rows
  }

  test("Probe.run records the body's jobs and tasks, not an earlier job's") {
    val scan = spark.read.parquet(table)
    val scanTasks = scan.rdd.getNumPartitions
    val (_, rec) = lagging {
      spark.sparkContext.parallelize(1 to 8, 4).count()
      Probe.run(spark) {
        scan.write.format("noop").mode("overwrite").save()
        spark.sparkContext.parallelize(1 to 6, 3).count()
      }
    }
    rec.jobs shouldBe 2
    rec.tasks shouldBe scanTasks + 3
    rec.io.recordsRead shouldBe rows
    rec.stages.map(_.id) shouldBe rec.stages.map(_.id).sorted
    rec.stages should have size 2
    rec.stages.head.name should include("Scan parquet")
    rec.stages.last.name shouldBe "parallelize"
  }

  test("under src/main only Probe and Tables add a SparkListener; IoEvidence never sleeps") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq
    def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
    files.filter(p => text(p).contains("addSparkListener"))
      .map(_.getFileName.toString).sorted shouldBe Seq("Probe.scala", "Tables.scala")
    val io = files.filter(_.getFileName.toString == "IoEvidence.scala")
    io should have size 1
    text(io.head) should not include "Thread.sleep"
  }
}
