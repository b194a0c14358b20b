package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}

/** Checks that [[Harness.materialize]] evaluates a projected column that
  * `count()` prunes: a counting UDF must run once per row under the noop
  * write. Prints one line `rows=N materialize=A count=B`.
  */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val calls = spark.sparkContext.longAccumulator("udf_calls")
    val counted = udf((x: Long) => { calls.add(1); x * 2 })
    val rows = 1000L
    val df = spark.range(0, rows, 1, 4).select(counted(col("id")).as("y"))
    Harness.materialize(df)
    val afterWrite = calls.value
    df.count()
    println(s"rows=$rows materialize=$afterWrite count=${calls.value - afterWrite}")
    spark.stop()
  }
}
