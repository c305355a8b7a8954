package graft
import org.apache.spark.sql.SparkSession
object ProfPq {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    def time(tag: String)(f: => Any): Unit = {
      val t0 = System.nanoTime; f
      println(f"PROF $tag%-24s ${(System.nanoTime-t0)/1e9}%8.2f s")
    }
    import graft.operators.Similarity
    for (_ <- 1 to 2) {
      time("full") { Similarity.topKPq(spark, dir).collect() }
      val c = Similarity.pqCorpus(spark, dir)
      time("corpus") { c.count() }
      time("train") { Similarity.pqCodebooks(spark, c, 2) }
    }
    spark.stop()
  }
}
