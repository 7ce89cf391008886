package graft.perfbench

import graft.GraftSession

/** One benchmark run in one JVM: build the session, run the workload's
  * set-up and timed closed loop (one client thread), check the answers,
  * and write the result (and, when tracing, the spans) as JSON.
  *
  * {{{
  * graft.perfbench.Main --workload etl_star --seed 1 --seconds 25 --trace 0
  *   --work <dir> --out <result.json> [--spans <spans.jsonl>] [--corrupt 1]
  * }}}
  *
  * `perfbench/run.py` builds the package and launches this main. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "etl_star" -> EtlStar.run,
    "dedup_chain" -> DedupChain.run)

  /** The end-to-end metrics every workload reports; their per-workload
    * meaning is in perfbench/README.md. */
  val EndToEnd: Seq[String] = Seq("setup_s", "ops_per_s", "op_p50_s",
    "read_p50_s")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val trace = need("trace") == "1"

    val t0 = System.nanoTime()
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val cores = spark.sparkContext.defaultParallelism
    try {
      val tracer = new Tracer(spark, trace)
      // catalog SQL reaches the workloads' tables as g.<dir>.<table>
      spark.conf.set("spark.sql.catalog.g", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.g.warehouse", need("work"))
      val ctx = Ctx(spark, tracer, need("work"), need("seed").toLong,
        need("seconds").toInt, args.get("corrupt").contains("1"))
      val o = run(ctx)
      tracer.finish()
      val setupS = sessionS + o.fixtureS + o.warmupS
      val e2e = o.e2e + ("setup_s" -> setupS)
      val perLayer = if (trace)
          Layers.metrics(tracer.spans.toSeq, cores, tracer.peakCachedMb)
        else Map.empty[String, Double]
      val result = Json.obj(
        "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "trace" -> trace, "corrupt" -> ctx.corrupt, "cores" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "correct" -> (o.failed == 0), "attempted" -> o.attempted,
        "failed" -> o.failed,
        "failed_frac" -> o.failed.toDouble / math.max(o.attempted, 1),
        "session_s" -> sessionS, "fixture_s" -> o.fixtureS,
        "warmup_s" -> o.warmupS,
        "end_to_end" -> EndToEnd.map(k => k -> e2e(k)).toMap,
        "named" -> o.named, "latencies_s" -> o.samples,
        "per_layer" -> perLayer, "errors" -> o.errors)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(need("out")),
        result + "\n")
      args.get("spans").filter(_ => trace).foreach { p =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          tracer.spanLines().mkString("", "\n", "\n"))
      }
    } finally spark.stop()
  }
}
