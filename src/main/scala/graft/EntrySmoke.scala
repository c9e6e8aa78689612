package graft
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("local[8]", 8)
    val df = SparkEntry.entry(spark).cache()
    println("ENTRY ROWS: " + df.count())
    println("ZERO VECTORS: " + df.filter(VectorFunctions.normSq(col("content_vector")) === 0.0).count())
    println("NORM~1 VECTORS: " + df.filter(abs(VectorFunctions.normSq(col("content_vector")) - 1.0) < 1e-6).count())
    println("DISTINCT HASHES: " + df.select("text_hash").distinct().count())
    spark.stop()
  }
}
