package graft.tools

import org.apache.spark.sql.SparkSession

/** N vs 4N *executor-process* scaling probe using Spark's local-cluster
  * mode: each executor is its own JVM (own heap, own GC) — the faithful
  * sandbox model of the north rule's "N and 4N executors" criterion.
  * Needs SPARK_SCALA_VERSION=2.13 in the env (set by build.sbt run/envVars).
  * Bench.scala runs the same measurement as its primary pair; this probe
  * prints every pass so JIT warm-up curves stay visible.
  */
object ClusterScaleProbe {
  def main(args: Array[String]): Unit = {
    val inputDir = args(0)
    val classes = "/root/repo/target/scala-2.13/classes"
    for ((execs, coresPer) <- Seq((2, 4), (8, 4), (2, 4), (8, 4))) {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val spark = SparkSession.builder()
        .master(s"local-cluster[$execs,$coresPer,8192]")
        .config("spark.executor.extraClassPath", classes)
        // 1g heaps + container-style thread ergonomics — see the
        // Bench.clusterSession comment (4g heaps measured a 15x pass-2/3
        // anomaly at 8x4, graft.tools.BenchOrderProbe)
        .config("spark.executor.memory", "1g")
        .config("spark.executor.extraJavaOptions",
          s"-XX:ActiveProcessorCount=$coresPer -XX:+UseParallelGC " +
            s"-XX:NewRatio=1 -XX:ParallelGCThreads=$coresPer")
        .config("spark.locality.wait", "0")
        .config("spark.sql.shuffle.partitions", (execs * coresPer).toString)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        val s = (System.nanoTime() - t0) / 1e9
        println(f"execs=$execs cores=${execs * coresPer} $label: n=$n $s%.2f s tp=${n / s}%.0f t/s")
      }
      val raw = spark.read.parquet(inputDir)
      import org.apache.spark.sql.functions._
      def statsJob(): Long =
        raw.select(graft.functions.ExtractStats.extractStats(col("text"))
            .as("s"))
          .agg(count(lit(1)), sum("s.n_bytes"))
          .collect().head.getLong(0)
      def narrowJob(): Long = graft.Bench.payloadToNoop(
        graft.pipeline.ExtractPipeline.extractNarrow(raw))
      time("narrow-warm")(narrowJob())
      time("stats-warm")(statsJob())
      for (i <- 1 to 6) {
        time(s"narrow-$i")(narrowJob())
        time(s"stats-$i")(statsJob())
      }
      spark.stop()
    }
  }
}
