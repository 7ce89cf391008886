package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. The same seed gives the same rows; the
  * seed changes values (keys, prices, dates, texts), never sizes or
  * distributions, so runs on different seeds do the same work. */
object Data {
  private def h(seed: Long, salt: Int): Column =
    xxhash64(lit(seed), col("id"), lit(salt))
  private def pick(seed: Long, salt: Int, n: Long): Column =
    pmod(h(seed, salt), lit(n))
  private def money(c: Column): Column = (c / 100).cast("decimal(15,2)")

  /** TPC-H-shaped fact rows with ids `[from, until)`, in one file:
    * four lines per order, so a point lookup by `l_orderkey` returns
    * four rows, and `l_id` is the row's unique key. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long,
      parts: Int, supps: Int): DataFrame =
    spark.range(from, until, 1, 1).select(
      col("id").as("l_id"),
      expr("id div 4 + 1").as("l_orderkey"),
      (pick(seed, 1, parts) + 1).as("l_partkey"),
      (pick(seed, 2, supps) + 1).as("l_suppkey"),
      (pick(seed, 3, 50) + 1).cast("decimal(15,2)").as("l_quantity"),
      money(pick(seed, 4, 1000000) + 10000).as("l_extendedprice"),
      money(pick(seed, 5, 11)).as("l_discount"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pick(seed, 6, 3) + 1).cast("int")).as("l_returnflag"),
      date_add(lit("1994-01-01").cast("date"),
        pick(seed, 7, 1460).cast("int")).as("l_shipdate"))

  /** The part dimension keyed by the fact's foreign-key name. `bump`
    * shifts every price, which is how a master-data refresh differs
    * from the rows it replaces. */
  def part(spark: SparkSession, seed: Long, parts: Int,
      bump: Int = 0): DataFrame =
    spark.range(1, parts + 1L, 1, 1).select(
      col("id").as("l_partkey"),
      concat(lit("Brand#"), pick(seed, 11, 5) + 1, pick(seed, 12, 5) + 1)
        .as("p_brand"),
      element_at(array(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE",
        "ECONOMY", "PROMO").map(lit): _*),
        (pick(seed, 13, 6) + 1).cast("int")).as("p_type"),
      (pick(seed, 14, 50) + 1).cast("int").as("p_size"),
      money(pick(seed, 15, 20000) + 90000 + lit(bump)).as("p_retailprice"))

  /** `n` distinct values drawn from `[0, bound)`, in seeded order. */
  def sample(rng: scala.util.Random, bound: Int, n: Int): Seq[Int] =
    rng.shuffle((0 until bound).toVector).take(n)

  // ---- the document corpus for the dedup chain --------------------------

  private val vocab = (0 until 400).map(i => f"w$i%03d")

  private def sentence(rng: scala.util.Random, len: Int): Vector[String] =
    Vector.fill(len)(vocab(rng.nextInt(vocab.size)))

  /** A near-copy: one token swapped (`swap`), or one appended. */
  def variant(rng: scala.util.Random, base: Vector[String],
      swap: Boolean): Vector[String] =
    if (swap) base.updated(rng.nextInt(base.size), vocab(rng.nextInt(vocab.size)))
    else base :+ vocab(rng.nextInt(vocab.size))

  /** `families` near-duplicate families of three documents (a base, a
    * swapped-token copy and an appended-token copy) plus `singles`
    * unrelated documents, all 20 tokens long before the edit, as
    * (doc id, text) in text order: family `f` at `3f` to `3f + 2`, then
    * the singles. The seed picks the tokens and the doc ids (a
    * permutation), never the shape. */
  def corpus(seed: Long, families: Int, singles: Int): Vector[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val texts = (0 until families).flatMap { _ =>
      val base = sentence(rng, 20)
      Seq(base, variant(rng, base, swap = true), variant(rng, base, swap = false))
    } ++ Vector.fill(singles)(sentence(rng, 20))
    val ids = rng.shuffle(texts.indices.toVector)
    ids.zip(texts).map { case (id, t) => id.toLong -> t.mkString(" ") }
  }

  def docsFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
  }
}
