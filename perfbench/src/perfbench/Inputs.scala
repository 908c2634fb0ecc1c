package perfbench

import graft.table.{Page, SyntheticPages}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded page inputs with the generator's family mix held exact. */
object Inputs {
  /** SyntheticPages' family mix, in thousandths of the corpus. */
  val Mix: Seq[(String, Int)] = Seq("article" -> 550, "plain" -> 150, "soup" -> 150,
    "empty" -> 20, "oversized" -> 5, "skew" -> 125)

  /** The first page ids, in id order, that fill each family's share of
    * `n` pages at `seed`. A plain id range would let the count of rare,
    * costly families (oversized pages are 0.5%) swing from seed to seed.
    */
  def ids(seed: Long, n: Int): Seq[Long] = {
    val quota = Mix.map { case (f, k) => f -> n * k / 1000 }.toMap
    require(quota.values.sum == n, s"$n pages do not split exactly into the family mix")
    val taken = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    Iterator.from(0).map(_.toLong).filter { id =>
      val f = SyntheticPages.familyOf(seed, id)
      val keep = taken(f) < quota(f)
      if (keep) taken(f) += 1
      keep
    }.take(n).toSeq
  }

  def pages(seed: Long, n: Int): Seq[Page] = ids(seed, n).map(SyntheticPages.pageFor(seed, _))

  /** The same pages as a DataFrame, generated inside Spark tasks. */
  def pagesDF(spark: SparkSession, seed: Long, n: Int, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(ids(seed, n)).repartition(partitions)
      .mapPartitions(_.map(id => SyntheticPages.pageFor(seed, id))).toDF()
  }
}
