package graft.perfbench

import graft.operators.DedupOps
import graft.sources.Sources
import graft.streaming.{ClusterView, NearDupStore, VerdictView}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `dedup_chain`: the LLM-data extension. A document corpus lands in
  * slices; every round also edits the text of a few documents
  * (`updateWhere`) and erases a few (`deleteWhereDv`), then drains the
  * NearDupStore → ClusterView → VerdictView chain and reads the
  * verdicts a few times. Commits are tiny: the drains' per-round fixed
  * cost, which grows with every round, is what this workload measures. */
object DedupChain {
  val Families = 100
  val Singles = 240
  val Edits = 3
  val Erasures = 3
  /** Rounds per second of requested run length; a round costs about
    * 15 s on a 4-core host, and more with every round. */
  val RoundsPerSecond = 1.0 / 15
  /** Verdict reads per round. More than one: a run holds only two
    * rounds and single reads of one run differ by up to 40 %, so one
    * read per round left `read_p50_s` unsteady. */
  val ReadsPerRound = 5
  /** Slices the corpus is cut into; the set-up lands the first. */
  val Slices = 24

  private final case class Chain(src: String, store: String, view: String,
      vv: String, ckNd: String, ckCv: String, ckVv: String)

  private def chainAt(d: String) = Chain(s"$d/docs", s"$d/neardup",
    s"$d/clusters", s"$d/verdicts", s"$d/ck-nd", s"$d/ck-cv", s"$d/ck-vv")

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val log = new OpLog
    val tr = c.tracer
    // Shapes are fixed, values are seeded: a fixed shuffle of the text
    // order cuts the slices, and a fixed generator picks the edited and
    // erased places in it, so every seed lands the same family shapes
    // in each round and does the same work; the seed picks the texts
    // and the doc ids in those places.
    val docs = Data.corpus(c.seed, Families, Singles)
    val corpus = docs.toMap
    val place = docs.map(_._1).zipWithIndex.toMap
    val order = new scala.util.Random(0x5eedL)
      .shuffle(docs.indices.toVector).map(docs(_)._1)
    def slice(s: Int): Seq[Long] = order.grouped(order.size / Slices).toSeq(s)

    def drain(ch: Chain, r: Int): Unit = {
      tr.span(Layers.NearDup, r, Seq(ch.store)) {
        NearDupStore.maintainQuery(spark, ch.src, ch.store, ch.ckNd)
          .awaitTermination()
      }
      tr.span(Layers.Cluster, r, Seq(ch.view)) {
        ClusterView.maintainQuery(spark, ch.store, ch.view, ch.ckCv)
          .awaitTermination()
      }
      tr.span(Layers.Verdict, r, Seq(ch.vv)) {
        VerdictView.maintainQuery(spark, ch.src, ch.view, ch.vv, ch.ckVv)
          .awaitTermination()
      }
    }
    def insert(ch: Chain, r: Int, docs: Seq[Long]): Unit =
      tr.span(Layers.Commit, r, Seq(ch.src), docs.size) {
        Sources.commitVersion(
          Data.docsFrame(spark, docs.map(id => id -> corpus(id))), ch.src)
      }
    def readVerdicts(ch: Chain, r: Int): Unit = tr.span(Layers.Scan, r) {
      val rows = VerdictView.verdicts(spark, ch.vv)
        .agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L)))
        .collect()
      tr.last.returned = rows.length
    }

    val (fixtureS, ch) = Setup.timed {
      val ch = chainAt(c.dir("chain"))
      insert(ch, 0, slice(0))
      NearDupStore.init(ch.store)
      ClusterView.init(ch.view)
      VerdictView.init(ch.vv)
      ch
    }
    // warm-up: the first drain and read
    val warmupS = Setup.seconds { drain(ch, 0); readVerdicts(ch, 0) }
    tr.spans.clear()

    // the live corpus as the benchmark itself tracks it: the reference
    // the final verdicts are checked against
    val live = scala.collection.mutable.Map.empty[Long, String]
    slice(0).foreach(id => live(id) = corpus(id))
    val pickRng = new scala.util.Random(0x0ed17L)
    val textRng = new scala.util.Random(c.seed * 31 + 7)
    val rounds = math.max(2, math.min(Slices - 1,
      math.round(c.seconds * RoundsPerSecond).toInt))
    var changed = 0L
    val t0 = System.nanoTime()
    for (r <- 1 to rounds) tr.span("dedup_chain.round", r) {
      val fresh = slice(r)
      // edits alternate: one more token (can flip its cluster's
      // keeper), then a near-copy of another live doc (moves it between
      // clusters)
      val pool = live.keys.toVector.sortBy(place)
      val edited = Data.sample(pickRng, pool.size, Edits).map(pool(_))
      val texts = edited.zipWithIndex.map { case (id, e) =>
        val next = if (e % 2 == 0)
            Data.variant(textRng, live(id).split(" ").toVector, swap = false)
          else Data.variant(textRng,
            live(pool(pickRng.nextInt(pool.size))).split(" ").toVector,
            swap = true)
        id -> next.mkString(" ")
      }
      val erased = Data.sample(pickRng, pool.size, Edits + Erasures)
        .map(pool(_)).filterNot(edited.contains).take(Erasures)
      log.op("chain_round") {
        insert(ch, r, fresh)
        tr.span(Layers.Commit, r, Seq(ch.src), texts.size) {
          Sources.updateWhere(spark, ch.src, col("doc_id").isin(edited: _*),
            Map("text" -> texts.foldLeft(col("text")) { case (acc, (id, t)) =>
              when(col("doc_id") === id, lit(t)).otherwise(acc)
            }))
        }
        tr.span(Layers.Commit, r, Seq(ch.src), erased.size) {
          Sources.deleteWhereDv(spark, ch.src, col("doc_id").isin(erased: _*))
        }
        drain(ch, r)
      }
      fresh.foreach(id => live(id) = corpus(id))
      texts.foreach { case (id, t) => live(id) = t }
      erased.foreach(live.remove)
      changed += fresh.size + texts.size + erased.size
      for (_ <- 1 to ReadsPerRound) log.op("verdict_read")(readVerdicts(ch, r))
    }
    val wall = (System.nanoTime() - t0) / 1e9

    val served = VerdictView.verdicts(spark, ch.vv)
    val checked = if (c.corrupt) served.filter(col("doc_id") =!=
      served.agg(min("doc_id")).head.getLong(0)) else served
    log.check("verdicts equal the batch recompute")(
      RowHash.of(checked) == RowHash.of(recompute(Data.docsFrame(spark, live.toSeq))))

    val named = Map(
      "chain_docs_per_s" -> changed / wall,
      "chain_freshness_p50_s" -> log.p50("chain_round"),
      // a round's reads cost more than the last round's (pending
      // deletes accumulate), so the median is taken per round first
      "verdict_read_p50_s" -> Stats.median(log.samples("verdict_read")
        .grouped(ReadsPerRound).map(Stats.median).toSeq))
    Outcome(fixtureS, warmupS, Map(
        "ops_per_s" -> rounds / wall,
        "op_p50_s" -> named("chain_freshness_p50_s"),
        "read_p50_s" -> named("verdict_read_p50_s")),
      named, log.all, log.attempted, log.failed, log.errors.toSeq)
  }

  /** The chain's batch truth over a corpus the benchmark tracked itself:
    * q28's minhash pairs at the cluster view's edge threshold, their
    * connected components, and q68's keeper rule (most tokens, then
    * lowest doc id). */
  private def recompute(corpus: DataFrame): DataFrame = {
    val pairs = DedupOps.minhashPairsOf(DedupOps.sigsOf(corpus))
      .filter(col("est_jaccard") >= ClusterView.EdgeThreshold)
    val labels = DedupOps.connectedComponents(pairs)
      .select(col("n").as("doc_id"), col("l").as("cluster_id"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    labels.join(VerdictView.tokenCount(corpus), Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select("doc_id", "cluster_id", "n_tokens", "keep")
  }
}
