package graft

import java.nio.file.Files

class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("parquet infers an unchanged file's schema once, a rewritten one again") {
    val path = Files.createTempDirectory("tables").toString + "/t.parquet"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    assert(jobsOf(Tables.parquet(spark, path)) == 1) // the inference job
    assert(jobsOf(assert(Tables.parquet(spark, path).columns.toList ==
      List("k", "v"))) == 0)
    Seq((1L, "a", 2.0)).toDF("k", "v", "w").write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.columns.toList == List("k", "v", "w"))
    assert(df.as[(Long, String, Double)].collect().toList == List((1L, "a", 2.0)))
  }
}
