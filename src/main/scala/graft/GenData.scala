package graft

import org.apache.spark.sql.SparkSession

/** Writes the benchmark's cached parquet tables (`Bench.benchData` for
  * SPARK_GRAFT_SF_DIR, under data/gen) ahead of a bench run, so the timed
  * region measures the engine, not the generator. */
object GenData {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("graft-gendata")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val bd = Bench.benchData(spark, Bench.sfDir)
      Seq(bd.tilesPath, bd.gardensPath, bd.tilesQuarterPath, bd.cirQuarterPath, bd.geojsonlPath)
        .foreach(p => println(s"ready $p"))
    } finally spark.stop()
  }
}
