package graft.wapbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.DataGen

/** Row count and column sums of one input batch: what a correct lake
  * must report once the batch is published. */
final case class BatchStat(rows: Long, sum0: Long, sum2: Double) {
  def +(o: BatchStat): BatchStat = BatchStat(rows + o.rows, sum0 + o.sum0, sum2 + o.sum2)
}
object BatchStat { val zero: BatchStat = BatchStat(0L, 0L, 0.0) }

/** Pre-generated input batches, written once as parquet (the reference's
  * upload step) and read back one directory per batch. Every
  * `injectEvery`-th batch carries NULLs in `my_col_1`, so its audit fails.
  * All values derive from the seed: the same seed gives the same files. */
final class Inputs(spark: SparkSession, val dir: String, schema: StructType,
    val stats: IndexedSeq[BatchStat], injectEvery: Int) {
  def injected(i: Int): Boolean = injectEvery > 0 && i % injectEvery == injectEvery - 1
  def df(i: Int): DataFrame = spark.read.schema(schema).parquet(s"$dir/batch=$i")
  /** Distinct `my_col_1` values over every batch, counted by plain Spark. */
  def distinctTexts(): Long =
    spark.read.parquet(dir).agg(countDistinct(col("my_col_1"))).collect().head.getLong(0)
}

object Inputs {
  private val cols = Seq("my_col_0", "my_col_1", "my_col_2")

  /** About `rows` rows per batch for `batches` batches, dealt from one
    * [[DataGen.customerBatch]] of `batches * rows` rows by a hash of each
    * row's values, so the split does not depend on how Spark partitions
    * the generator. In an injected batch about one row in 100 gets a NULL
    * `my_col_1`, as DataGen's own injection does. When `keySpace` is set,
    * keys fold into [0, keySpace) and each batch keeps one row per key (the
    * one with the smallest `my_col_2`), so batches overlap on keys the way
    * a CDC feed does. */
  def generate(spark: SparkSession, dir: String, seed: Long, batches: Int, rows: Long,
      injectEvery: Int, keySpace: Option[Int] = None): Inputs = {
    val values = cols.map(col)
    val dealt = DataGen.customerBatch(spark, batches * rows, seed = seed)
      .withColumn("batch", pmod(hash(values :+ lit(seed): _*), lit(batches)))
    val injected =
      if (injectEvery <= 0) lit(false)
      else col("batch") % injectEvery === injectEvery - 1 &&
        pmod(hash(values :+ lit(seed + 1): _*), lit(100)) === 0
    val withNulls = dealt.withColumn("my_col_1",
      when(injected, lit(null).cast("string")).otherwise(col("my_col_1")))
    val out = (keySpace match {
      case None => withNulls
      case Some(k) =>
        withNulls.withColumn("my_col_0", pmod(col("my_col_0"), lit(k)))
          .groupBy("batch", "my_col_0")
          .agg(min(struct(col("my_col_2"), col("my_col_1"))).as("r"))
          .select(col("my_col_0"), col("r.my_col_1").as("my_col_1"), col("r.my_col_2").as("my_col_2"),
            col("batch"))
    }).select((cols :+ "batch").map(col): _*).repartition(col("batch"))
    out.write.partitionBy("batch").parquet(dir)
    val agg = out.groupBy("batch").agg(count(lit(1)), sum(col("my_col_0").cast("long")), sum(col("my_col_2")))
      .collect().map(r => r.getInt(0) -> BatchStat(r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    new Inputs(spark, dir, out.drop("batch").schema, (0 until batches).map(agg), injectEvery)
  }
}
