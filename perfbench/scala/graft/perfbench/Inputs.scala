package graft.perfbench

import graft.MlFixture
import graft.schema.TypedCsv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded input generators, one per workload. Everything a workload
  * reads is written under its input directory; the program under test
  * sees only those files. Same seed, same bytes. */
object Inputs {

  /** Workload name -> its input writer: (session, seed, dir). */
  val writers: Map[String, (SparkSession, Long, String) => Unit] = Map(
    "ml100k-enriched" -> ml100kEnriched,
    "sf01-ratings" -> sfRatings)

  /** Ratings as the reference's typed CSV (string ids, numeric rating
    * and timestamp), one file. */
  private def writeRatings(r: DataFrame, path: String): Unit =
    TypedCsv.write(r.select(
      col("user_id").cast("string").as("user_id"),
      col("item_id").cast("string").as("item_id"),
      col("rating"), col("ts").cast("double").as("timestamp")), path)

  /** The graph-structured ml-100k tier: 943 users, 1,681 items,
    * 100,000 ratings, plus its subject/director property table. */
  def ml100kEnriched(spark: SparkSession, seed: Long, dir: String): Unit = {
    writeRatings(MlFixture.gsRatings(spark, seed), s"$dir/rating.csv")
    TypedCsv.write(MlFixture.gsEnriched(spark).select("item_id", "subject", "director"),
      s"$dir/enriched.csv")
  }

  /** Share of sf0.1 the rating view is drawn at. Customers and parts
    * scale with it and orders per customer stay sf0.1's, so each user's
    * rating count, and with it the k-core's kept share, is sf0.1's. */
  val SfScale = 0.25
  val SfCustomers: Int = (15000 * SfScale).toInt
  val SfParts: Int = (20000 * SfScale).toInt
  val SfOrders: Int = (150000 * SfScale).toInt

  /** The orders ⋈ lineitem rating view of a TPC-H-shaped order book, in
    * `graft.Tables.ratings`'s formula: user = o_custkey, item =
    * l_partkey, rating = min(5, 1 + ⌊(l_quantity − 1) / 10⌋), ts = ship
    * date, max of each per pair. Draws follow the TPC-H generator: each
    * order's customer uniform over all customers, 1–7 lines, each
    * line's part uniform, quantity uniform 1–50, order date uniform
    * over 1992-01-01 … 1998-08-02, ship date 1–121 days after it. */
  def sfRatings(spark: SparkSession, seed: Long, dir: String): Unit = {
    val rnd = new Random(seed)
    val day = 86400000L
    val t0 = 694224000000L // 1992-01-01
    val ratings = scala.collection.mutable.LinkedHashMap.empty[(Long, Long), (Double, Long)]
    (1 to SfOrders).foreach { _ =>
      val cust = 1L + rnd.nextInt(SfCustomers)
      val odate = t0 + rnd.nextInt(2406) * day
      (1 to 1 + rnd.nextInt(7)).foreach { _ =>
        val key = (cust, 1L + rnd.nextInt(SfParts))
        val rating = math.min(5, 1 + rnd.nextInt(50) / 10).toDouble
        val ship = odate + (1 + rnd.nextInt(121)) * day
        val (r0, ts0) = ratings.getOrElse(key, (0.0, 0L))
        ratings(key) = (math.max(r0, rating), math.max(ts0, ship))
      }
    }
    import spark.implicits._
    writeRatings(spark.sparkContext.parallelize(
        ratings.iterator.map { case ((u, i), (r, ts)) => (u, i, r, ts) }.toVector, 4)
      .toDF("user_id", "item_id", "rating", "ts"), s"$dir/rating.csv")
  }
}
