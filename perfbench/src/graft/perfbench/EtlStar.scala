package graft.perfbench

import graft.sources.Sources
import graft.streaming.MaterializedView
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `etl_star`: the paper's pipeline. Transaction micro-batches commit to
  * a versioned fact table and drain into the fact ⋈ part star view;
  * every few batches a price upsert on a seeded share of part keys
  * lands as a keyed merge and drains into the view; after every batch
  * an analyst aggregates the view once and looks up one just-landed order,
  * alternately through `readVersion` and catalog SQL. Commits and
  * drains do most of the work; reads are light. */
object EtlStar {
  val Parts = 2000
  val Supps = 100
  val BatchRows = 2000
  /** A master-data refresh follows every `DimEvery`-th batch. */
  val DimEvery = 3
  val DimKeys = 40
  /** Batches the set-up lands: the fixture's, then the warm-up's. */
  val SetupBatches = 3
  /** Batches per second of requested run length: the loop lands about
    * that many batches per second on a 4-core host. */
  val BatchesPerSecond = 0.4

  /** The fixture's tables; `ns` is its catalog namespace. */
  private final case class Star(ns: String, fact: String, dim: String,
      view: String, ckFact: String, ckDim: String)

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val log = new OpLog
    val tr = c.tracer
    def batch(i: Int): DataFrame = Data.lineitem(spark, c.seed,
      i.toLong * BatchRows, (i + 1L) * BatchRows, Parts, Supps)
    def refreshKeys(r: Int): Seq[Int] =
      Data.sample(new scala.util.Random(c.seed * 7919 + r), Parts, DimKeys)
        .map(_ + 1)

    def landBatch(t: Star, i: Int): Unit = {
      tr.span(Layers.Commit, i, Seq(t.fact), BatchRows) {
        Sources.commitVersion(batch(i), t.fact)
      }
      tr.span(Layers.MvFact, i, Seq(t.view)) {
        MaterializedView.maintainFactQuery(spark, t.fact, t.dim, "l_partkey",
          t.view, t.ckFact).awaitTermination()
      }
    }
    def refreshDim(t: Star, i: Int, r: Int): Unit = {
      val keys = refreshKeys(r)
      val changes = Data.part(spark, c.seed, Parts, bump = r + 1)
        .filter(col("l_partkey").isin(keys: _*))
        .withColumn("op", lit("upsert"))
      tr.span(Layers.Commit, i, Seq(t.dim), keys.size) {
        Sources.mergeVersion(spark, t.dim, changes, "l_partkey")
      }
      tr.span(Layers.MvDim, i, Seq(t.view)) {
        MaterializedView.maintainDimQuery(spark, t.dim, "l_partkey", "l_id",
          t.view, t.ckDim).awaitTermination()
      }
    }
    // one order of batch `i`, by its key; its four lines' ids are known
    def lookup(t: Star, i: Int): Boolean = {
      val rng = new scala.util.Random(c.seed * 104729 + i)
      val first = i.toLong * BatchRows / 4 + 1
      val key = first + rng.nextInt(BatchRows / 4)
      val ids = tr.span(Layers.Point, i) {
        val df = if (i % 2 == 0)
            Sources.readVersion(spark, t.fact).filter(col("l_orderkey") === key)
          else spark.sql(s"SELECT * FROM g.${t.ns}.fact WHERE l_orderkey = $key")
        val rows = df.select("l_id").collect().map(_.getLong(0)).sorted.toSeq
        tr.last.returned = rows.size
        rows
      }
      val served = if (c.corrupt && i == SetupBatches) ids.drop(1) else ids
      served == ((key - 1) * 4 until key * 4)
    }
    def viewQuery(t: Star, i: Int): Seq[String] =
      tr.span(Layers.Scan, i) {
        val rows = rollup(Sources.readVersion(spark, t.view))
        tr.last.returned = rows.size
        rows
      }

    val (fixtureS, t) = Setup.timed {
      val d = c.dir("etl")
      val t = Star(d.split('/').last, s"$d/fact", s"$d/part", s"$d/view",
        s"$d/ck-fact", s"$d/ck-part")
      Sources.commitVersion(Data.part(spark, c.seed, Parts)
        .repartitionByRange(2, col("l_partkey"))
        .sortWithinPartitions("l_partkey"), t.dim)
      Sources.commitStats(spark, t.dim, 1, Seq("l_partkey"))
      Sources.commitVersion(batch(0), t.fact)
      MaterializedView.init(spark, t.fact, t.dim, "l_partkey", "l_id", t.view)
      MaterializedView.maintainFactQuery(spark, t.fact, t.dim, "l_partkey",
        t.view, t.ckFact).awaitTermination()
      t
    }
    // warm-up: the loop's operations, until the fixture holds
    // `SetupBatches` batches
    val warmupS = Setup.seconds {
      for (i <- 1 until SetupBatches) {
        landBatch(t, i)
        viewQuery(t, i)
        lookup(t, i)
      }
      refreshDim(t, 1, 0)
    }
    tr.spans.clear()

    val batches = math.max(DimEvery, math.round(c.seconds * BatchesPerSecond).toInt)
    var lastAnswer = Seq.empty[String]
    val t0 = System.nanoTime()
    val loop = SetupBatches until SetupBatches + batches
    for (i <- loop) tr.span("etl_star.batch", i) {
      log.op("freshness")(landBatch(t, i))
      if (i % DimEvery == 0)
        log.op("dim_refresh")(refreshDim(t, i, i / DimEvery))
      log.op("view_query")(viewQuery(t, i)).foreach(lastAnswer = _)
      log.op("point")(lookup(t, i)).foreach(ok =>
        if (!ok) log.wrong(s"lookup of an order of batch $i"))
    }
    val wall = (System.nanoTime() - t0) / 1e9

    // the view rows each traced refresh had to rewrite, the base of the
    // rewrite-amplification ratio: the fact rows landed by then (ids
    // below the batch's end; the fact table is append-only) with a
    // refreshed key. Counted after timing, so that a traced run does
    // the same timed work as an untraced one.
    if (tr.enabled) tr.spans.filter(_.name == Layers.MvDim).foreach { s =>
      s.changed = Sources.readVersion(spark, t.fact)
        .filter(col("l_id") < (s.req + 1L) * BatchRows &&
          col("l_partkey").isin(refreshKeys(s.req / DimEvery): _*))
        .count()
    }

    val view = Sources.readVersion(spark, t.view)
    val served = if (c.corrupt) view.filter(col("l_id") =!= 0L) else view
    val recompute = Sources.readVersion(spark, t.fact)
      .join(Sources.readVersion(spark, t.dim), "l_partkey")
      .select(view.columns.map(col).toIndexedSeq: _*)
    log.check("view equals fact join part")(
      RowHash.of(served) == RowHash.of(recompute))
    log.check("last view query answer")(lastAnswer == rollup(recompute))
    val landed = loop.end.toLong * BatchRows
    log.check("every landed fact row is in the view")(
      served.count() == landed)

    val named = Map(
      "ingest_rows_per_s" -> batches * BatchRows / wall,
      "freshness_p50_s" -> log.p50("freshness"),
      "dim_refresh_p50_s" -> log.p50("dim_refresh"),
      "view_query_p50_s" -> log.p50("view_query"),
      "point_p50_s" -> log.p50("point"))
    Outcome(fixtureS, warmupS, Map(
        "ops_per_s" -> batches / wall,
        "op_p50_s" -> named("freshness_p50_s"),
        "read_p50_s" -> named("view_query_p50_s")),
      named, log.all, log.attempted, log.failed, log.errors.toSeq)
  }

  /** The analyst query: revenue and line count per brand. */
  private def rollup(view: DataFrame): Seq[String] =
    view.groupBy("p_brand")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("lines"))
      .collect().map(_.toString).sorted.toSeq
}
