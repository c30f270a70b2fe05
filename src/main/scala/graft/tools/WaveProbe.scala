package graft.tools

import org.apache.spark.sql.SparkSession

/** Task-wave quantization probe: same input at different split counts —
  * how much of the 8->32 efficiency gap is last-wave idling?
  */
object WaveProbe {
  def main(args: Array[String]): Unit = {
    val inputDir = args(0)

    def session(cores: Int): SparkSession = {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s = SparkSession.builder().master(s"local[$cores]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", "/dev/shm/graft-spark-local")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    for (files <- Seq(96, 288)) {
      val dir = s"/tmp/graft_wave_$files"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        val s = session(32)
        s.read.parquet(inputDir).repartition(files)
          .write.mode("overwrite").option("compression", "none").parquet(dir)
        s.stop()
      }
      def run(cores: Int): Double = {
        val s = session(cores)
        def pass(): Double = {
          val t0 = System.nanoTime()
          val n = graft.Bench.payloadToNoop(graft.pipeline.ExtractPipeline
            .extractNarrow(s.read.parquet(dir)))
          n / ((System.nanoTime() - t0) / 1e9)
        }
        pass(); pass() // warm
        val best = (1 to 3).map(_ => pass()).max
        s.stop()
        best
      }
      val tp8 = run(8)
      val tp32 = run(32)
      println(f"files=$files tp8=$tp8%.0f tp32=$tp32%.0f eff=${tp32 / tp8 / 4}%.3f")
    }
  }
}
