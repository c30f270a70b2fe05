package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch diagnostic for bench-stage timings (not part of the library). */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val inputDir = args(0)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(inputDir, "_SUCCESS"))) {
      val s = SparkSession.builder().master("local[32]")
        .config("spark.ui.enabled", "false").getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.pipeline.Transcripts.generate(s, 250000)
        .repartition(96).write.mode("overwrite").parquet(inputDir)
      s.stop()
    }
    for (cores <- Seq(32, 8, 32, 8)) {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val spark = SparkSession.builder().master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", "/dev/shm/graft-spark-local")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      import spark.implicits._
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        println(f"cores=$cores $label: n=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val turns = spark.read.parquet(inputDir)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .as[graft.pipeline.Turn]
      val raw = spark.read.parquet(inputDir)
      for (i <- 1 to 3)
        time(s"narrow-$i")(graft.Bench.payloadToNoop(
          graft.pipeline.ExtractPipeline.extractNarrow(raw)))
      time("balanced-96")(graft.Bench.payloadToNoop(
        graft.pipeline.ExtractPipeline.extractBalanced(turns, 96)))
      spark.stop()
    }
  }
}
