package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.TopK

/** Measures the window-rank vs bounded-Aggregator crossover for top-k
  * per group — run with `sbt "Test/runMain graft.tools.Top3Crossover"`.
  *
  * Same 20M-row synthetic fact, group cardinality swept over
  * {2k, 200k, 2M}; each form timed min-of-3 against the noop sink.
  * Numbers land in TopK.scala's scaladoc and SCALE.md so a user picks
  * the right plan for their key cardinality.
  */
object Top3Crossover {
  val Rows = 20_000_000L

  def fact(spark: SparkSession, groups: Long): DataFrame =
    spark.range(Rows).select(
      (col("id") % groups).as("sku"),
      // deterministic pseudo-random price; unique tiebreak via id
      ((col("id") * 2654435761L) % 1000000L).cast("double").as("price"),
      (col("id") % 97L).as("seller"),
      col("id").as("orderkey"),
      lit(1L).as("linenumber"))

  def windowForm(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sku"))
      .orderBy(col("price").asc, col("seller").asc,
        col("orderkey").asc, col("linenumber").asc)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("sku"), col("rank"), col("seller"), col("price"))
  }

  def aggForm(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val top = df.as[(Long, Double, Long, Long, Long)]
      .map { case (sku, price, seller, ok, ln) =>
        (sku, TopK.Offer(price, seller, ok, ln)) }
      .groupByKey(_._1).mapValues(_._2)
      .agg(TopK.agg.toColumn.name("top"))
    top.toDF("sku", "top")
      .select(col("sku"), posexplode(col("top.offers")).as(Seq("idx", "o")))
      .select(col("sku"), (col("idx") + 1).cast("int").as("rank"),
        col("o.seller").as("seller"), col("o.price").as("price"))
  }

  def time(thunk: => Unit): Double = {
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      thunk
      (System.nanoTime() - t0) / 1e9
    }
    runs.min
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Shuffle-write bytes per execution — the quantity that is
    // network-bound on a real cluster (local wall is not).
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten); ()
          }
        }
      })
    def drained(): Long = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      shuffleBytes.get()
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    Seq(2000L, 200000L, 2000000L).foreach { g =>
      val df = fact(spark, g)
      noop(windowForm(df)); noop(aggForm(df)) // warmup both
      val s0 = drained()
      val tw = time(noop(windowForm(df)))
      val s1 = drained()
      val ta = time(noop(aggForm(df)))
      val s2 = drained()
      val (wMB, aMB) = ((s1 - s0) / 3e6, (s2 - s1) / 3e6) // per-run (3 timed)
      println(f"groups=$g%-8d rows=$Rows window=$tw%6.2fs/${wMB}%7.1fMB " +
        f"aggregator=$ta%6.2fs/${aMB}%7.1fMB wall-ratio=${ta / tw}%5.2f " +
        f"shuffle-cut=${wMB / aMB}%6.1fx")
    }
    spark.stop()
  }
}
