package perfbench

import java.io.File

/** `ingest_and_serve`: the paper's pipeline in one process — the
  * [[LakeIngest]] loop (one batch in flight, like `Api`'s single background
  * ingest worker) runs concurrently with the `nproc - 1` closed-loop HTTP
  * clients of [[ApiMixed]], on one SparkSession. Each half keeps its own
  * lake, inputs and output checks.
  *
  * End-to-end: `op_mean_ms` and `ops_per_s` are the HTTP side (GET latency,
  * requests per second); `side_mean_ms` is gold freshness. Tails, stream
  * freshness, write latency and the batch rate are reported per layer.
  */
final class IngestAndServe(ctx: Ctx) extends Workload {
  private val lake = new LakeIngest(ctx)
  private val api = new ApiMixed(ctx)

  override def setup(dir: File): Unit =
    concurrently(lake.setup(new File(dir, "lake_ingest")))(api.setup(new File(dir, "api_mixed")))

  /** Run `ingest` on its own thread next to `serve` on this one. */
  private def concurrently[A, B](ingest: => A)(serve: => B): (A, B) = {
    @volatile var a: Either[Throwable, A] = Left(new IllegalStateException("ingest loop did not run"))
    val worker = new Thread(() => a = try Right(ingest) catch { case e: Throwable => Left(e) },
      "perfbench-ingest")
    worker.start()
    val b = try serve finally worker.join()
    (a.fold(e => throw e, identity), b)
  }

  override def warmup(): Unit = concurrently(lake.warmup())(api.warmup())

  override def measure(seconds: Double): Outcome = {
    val (in, serve) = concurrently(lake.measure(seconds))(api.measure(seconds))
    val layers = if (!ctx.tracer.on) Map.empty[String, Double] else {
      in.layers ++ serve.layers ++
        Layers.spark(ctx.tracer.sparkWork(op => op.startsWith("batch:") || op.startsWith("replay:")), 1)
    }
    Outcome(in.attempted + serve.attempted, in.failed + serve.failed, in.e2e ++ serve.e2e,
      layers, in.problems ++ serve.problems)
  }

  override def close(): Unit = { api.close(); lake.close() }
}
