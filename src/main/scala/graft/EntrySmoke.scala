package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_SMOKE rows=$n")
    df.show(3)
    spark.stop()
  }
}
