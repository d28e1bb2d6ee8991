package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** How a medallion layer writes its tables and hands them to the next
  * layer. A layer's writes are small and independent, so the build is
  * bound by per-job cost (planning, scheduling, file commit) with most
  * cores idle: [[wave]] overlaps those jobs. Each layer reads the
  * previous one through [[graft.Tables.read]], which spares each hand-off
  * read the schema-inference job `spark.read.parquet` launches.
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
}
