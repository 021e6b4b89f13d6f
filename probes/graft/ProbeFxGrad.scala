package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
// disposable: r22 — repro harness for the fx_grad aggregate
object ProbeFxGrad {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.api.Graft.install(spark)
    val w = Array.tabulate(257)(i => math.sin(i.toDouble) / 8.0 - 0.01)
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(named_struct('i', 5, 'x', CAST(0.25 AS DOUBLE))), CAST(1.0 AS DOUBLE)),
        |  (array(named_struct('i', 7, 'x', CAST(0.5 AS DOUBLE)), named_struct('i', 256, 'x', CAST(1.0 AS DOUBLE))), CAST(0.0 AS DOUBLE))
        |AS t(fv, y)""".stripMargin)
    val out = df.select(call_function("fx_grad", col("fv"), col("y"),
      typedLit(w.toSeq)).as("g"))
    out.explain("formatted")
    val row = out.collect()(0)
    println("row = " + row)
    println("seq = " + row.getSeq[Long](0).take(10))
    spark.stop()
  }
}
