package graft

/** Scratch plan inspector for local iteration (not part of the query
  * surface): runs a named SparkEntry query and prints exchange/reuse
  * counts, optionally the whole executed plan (`--plan`). */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1 && !args(1).startsWith("--")) args(1)
              else "/root/testdata/sf0.01"
    val spark = Harness.session("local[8]", "graft-plan-check", 8)
    val df = SparkEntry.queries(name)(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    println("REUSED_EXCHANGE=" + "ReusedExchange".r.findAllIn(p).length)
    println("EXCHANGE=" + "Exchange".r.findAllIn(p).length)
    println("GENERATE=" + "Generate".r.findAllIn(p).length)
    if (args.contains("--plan")) println(p)
    if (args.contains("--formatted"))
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
