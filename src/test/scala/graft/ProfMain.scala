import org.apache.spark.sql.functions._
object ProfMain {
  def main(a: Array[String]): Unit = {
    // same env conventions as Bench/Verify so the tool runs anywhere
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    def t(name: String)(f: => Long): Unit = {
      val s = System.nanoTime; val n = f
      println(f"$name%-30s ${(System.nanoTime-s)/1e9}%8.2f s  rows=$n")
    }
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 7 === 0)
    val evalSh = evalSet.select(explode(graft.plans.exprs.wordShingles(lower(col("text")), 8)).as("ng")).distinct()
    t("warmup evalSh") { evalSh.count() }
    t("evalSh count") { evalSh.count() }
    var bm: Array[Long] = null
    t("buildBitmap") { bm = graft.operators.Bloom.buildBitmap(evalSh, "ng", 1<<24, 6); bm.length }
    t("buildBitmap again") { graft.operators.Bloom.buildBitmap(evalSh, "ng", 1<<24, 6).length }
    t("screen") { graft.operators.Bloom.screen(train, "doc_id", "text", bm, 1<<24, 6, 8).count() }
    t("screen again") { graft.operators.Bloom.screen(train, "doc_id", "text", bm, 1<<24, 6, 8).count() }
    val exact = train.select(col("doc_id"), explode(graft.plans.exprs.wordShingles(lower(col("text")), 8)).as("ng"))
      .join(broadcast(evalSh), Seq("ng"), "left_semi").select("doc_id").distinct()
    t("exact join") { exact.count() }
    spark.stop()
  }
}
