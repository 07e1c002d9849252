package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.functions._

/** Loads the classes every run needs (session start, a parquet write and
  * read, shuffles, joins, a window, a UDF, a local checkpoint) and exits, so that the
  * build can dump them into the class-data-sharing archive that every
  * timed run maps.
  *
  * Usage: graft.perfbench.Classes <scratch dir>
  */
object Classes {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val spark = Main.session("perfbench-classes", work)
    val len = udf((s: String) => s.length)
    val df = spark.range(0, 2000).select(col("id"), concat(lit("doc "), col("id")).as("text"))
      .withColumn("n", len(col("text"))).localCheckpoint(true)
    val out = work.resolve("classes.parquet").toString
    val words = df.select(col("id"), explode(split(regexp_replace(lower(col("text")), "[^a-z0-9 ]",
      ""), " ")).as("w"))
    df.groupBy((col("id") % 7).as("k")).agg(count(lit(1)), max(col("n")))
      .join(df.select((col("id") % 7).as("k"), col("id"), col("text")), Seq("k"))
      .join(broadcast(words.groupBy("id").agg(collect_list("w").as("ws"))), Seq("id"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")))
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).orderBy("k").limit(5).collect()
    df.unpersist()
    spark.stop()
  }
}
