package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.ExtractStats
import graft.pipeline.{ExtractPipeline, ExtractedTurn, HadoopManifestCatalog,
  ManifestEntry, Transcripts, Turn}

/** One benchmark run: one workload, closed loop, in this JVM.
  *
  * Usage: graftbench.Main --workload extract-scan|extract-write --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE
  *
  * Writes the raw record (see [[Record]]) to FILE; perfbench/run.py turns
  * it into metrics. The timed loop runs in a local[4] session; a traced
  * run adds a local[1] loop with the same plan settings, so the scaling
  * pair compares identical task sets.
  */
object Main {
  /** Turns generated per workload, sized so one run's timed loop holds
    * several operations within its seconds budget. The input is the
    * shortest prefix of the seed's conversations reaching this many
    * turns, so every seed yields the same amount of work while keeping
    * the generator's zipf conversation lengths.
    */
  val TargetTurns = Map("extract-scan" -> 150000L, "extract-write" -> 20000L)
  val SetupReps = 3
  val WarmSeconds = 5.0
  val MinOps = 3
  val InputFiles = 16
  val Buckets = 16
  val BatchBuckets = 8

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val workload = opts("workload")
    require(TargetTurns.contains(workload), s"unknown workload $workload")
    val run = new Run(workload, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", Paths.get(opts("work")))
    try run.all()
    finally if (run.spark != null) run.spark.stop()
    run.rec("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(opts("out")), run.rec.toJson)
  }

  /** (conversations, turns) of the shortest conversation prefix of
    * `seed` holding at least `target` turns, from the generator's length
    * law evaluated on the driver without Spark — also the row-count
    * oracle every check compares against.
    */
  def inputSize(target: Long, seed: Long): (Long, Long) = {
    var n = 0L
    var cid = 0L
    while (n < target) {
      var z = seed * 1000003L + cid + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      n += Transcripts.convLength(new Random(z ^ (z >>> 31)))
      cid += 1
    }
    (cid, n)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def treeBytes(dir: String, suffix: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
      .map(Files.size(_)).sum
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path) {
  import Main._

  val rec = new Record
  val tracer = new Tracer
  var spark: SparkSession = _
  private var cores = 0
  private var input = ""
  private val (convs, expected) = inputSize(TargetTurns(workload), seed)
  private var opSeq = 0
  /** Σ n_bytes per operation, checked against the kernel fold at the end. */
  private val opBytes = scala.collection.mutable.ArrayBuffer[(String, Long)]()

  private def start(n: Int): SparkSession = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-$workload-$n")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      // fixed split size and shuffle width: the same task set at 1 and 4
      // threads (Spark otherwise sizes scan splits from the thread count)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    cores = n
    spark
  }

  def all(): Unit = {
    rec("workload") = workload
    rec("seed") = seed
    rec("convs") = convs
    rec("expected_turns") = expected
    setUp()
    loop("e2e.4", seconds)
    if (trace) {
      tracer.enabled = true
      loop("traced.4", seconds, traced = true)
      tracer.enabled = false
      start(1)
      op("pair.1", record = false)
      loop("pair.1", seconds / 2)
    }
    kernelChecks()
  }

  /** Session start, input generation and a warm-up operation, repeated
    * [[SetupReps]] times; the last session and input are kept.
    */
  private def setUp(): Unit =
    for (k <- 1 to SetupReps) {
      if (spark != null) {
        spark.stop()
        spark = null
        deleteTree(Paths.get(input))
      }
      val t0 = System.nanoTime()
      start(4)
      val t1 = System.nanoTime()
      input = work.resolve(s"input-$k").toString
      Transcripts.generate(spark, convs, seed).toDF()
        .repartition(InputFiles)
        .write.option("compression", "none").parquet(input)
      val t2 = System.nanoTime()
      // warm by time: the JIT keeps compiling the kernel for several
      // operations, and the timed loop should start near steady state
      do op("setup", record = false)
      while (Clock.secondsSince(t2) < WarmSeconds)
      rec.add("setup_s", Clock.secondsSince(t0))
      rec.add("setup.session_s", (t1 - t0) / 1e9)
      rec.add("setup.generate_s", (t2 - t1) / 1e9)
      rec.add("setup.warm_s", Clock.secondsSince(t2))
    }

  /** The closed loop in the current session: one operation after another
    * for `budget` seconds and at least [[MinOps]] operations; metrics take
    * the median. A traced loop also records Spark's ledger of its jobs.
    */
  private def loop(key: String, budget: Double, traced: Boolean = false): Unit = {
    val ledger = new TaskLedger
    if (traced) spark.sparkContext.addSparkListener(ledger)
    val t0 = System.nanoTime()
    var ops = 0
    while (ops < MinOps || Clock.secondsSince(t0) < budget) {
      val t1 = System.nanoTime()
      tracer(key, "workload")(op(key, record = true))
      rec.add(s"$key.op_s", Clock.secondsSince(t1))
      ops += 1
    }
    if (traced) {
      rec(s"ledger.$key") = ledger.dump(spark.sparkContext)
      spark.sparkContext.removeSparkListener(ledger)
    }
  }

  private def op(key: String, record: Boolean): Unit = workload match {
    case "extract-scan" => scanOp(key, record)
    case "extract-write" => writeOp(key, record)
  }

  /** extract-scan: parquet scan -> extract_stats(text) -> count + Σ n_bytes. */
  private def scanOp(key: String, record: Boolean): Unit = {
    val t0 = System.nanoTime()
    val r = tracer("extract_stats job", "functions") {
      spark.read.parquet(input)
        .select(ExtractStats.extractStats(col("text")).as("s"))
        .agg(count(lit(1)), coalesce(sum("s.n_bytes"), lit(0L)),
          count(when(!col("s.ok"), 1)))
        .collect().head
    }
    val wall = Clock.secondsSince(t0)
    val (rows, bytes, bad) = (r.getLong(0), r.getLong(1), r.getLong(2))
    rec.check(s"$key rows == generated turns", rows == expected,
      s"$rows != $expected", rows)
    rec.attempted += rows
    rec.failed += bad
    opBytes += ((s"$key scan", bytes))
    if (record) rec.add(s"$key.tps", rows / wall)
  }

  /** extract-write: checkpointed write, conversation order over the
    * committed table, then the resume over the fully committed table.
    */
  private def writeOp(key: String, record: Boolean): Unit = {
    val s = spark
    import s.implicits._
    opSeq += 1
    val dir = work.resolve(s"out-$opSeq").toString
    val turns = s.read.parquet(input).as[Turn]
    def checkpointed(): Unit =
      ExtractPipeline.runCheckpointed(s, turns, dir, Buckets, BatchBuckets)
    val t0 = System.nanoTime()
    tracer("ExtractPipeline.runCheckpointed", "pipeline")(checkpointed())
    val write = Clock.secondsSince(t0)
    // conversation order and resume run at 4 threads only: the 1-thread
    // side of the traced run's scaling pair compares write throughput
    val full = cores == 4
    val t1 = System.nanoTime()
    val ordered =
      if (!full) expected
      else tracer("ExtractPipeline.withConvOrder", "pipeline") {
        ExtractPipeline.withConvOrder(ExtractPipeline.readCommitted(s, dir)
          .drop("bucket").as[ExtractedTurn]).count()
      }
    val convorder = Clock.secondsSince(t1)
    val t2 = System.nanoTime()
    if (full)
      tracer("ExtractPipeline.runCheckpointed resume", "pipeline")(checkpointed())
    val resume = Clock.secondsSince(t2)

    val manifest = ExtractPipeline.readManifest(s, dir).collect()
    val buckets = manifest.map(_.getInt(0)).toSet
    val manifestRows = manifest.map(_.getLong(1)).sum
    val t = ExtractPipeline.readCommitted(s, dir)
      .agg(count(lit(1)), coalesce(sum("nBytes"), lit(0L)), count(col("error")))
      .head()
    val (rows, bytes, errors) = (t.getLong(0), t.getLong(1), t.getLong(2))
    rec.check(s"$key all $Buckets buckets committed",
      buckets == (0 until Buckets).toSet, s"committed ${buckets.toSeq.sorted}",
      expected)
    rec.check(s"$key manifest rows == input turns", manifestRows == expected,
      s"$manifestRows != $expected", expected)
    rec.check(s"$key readCommitted rows == input turns", rows == expected,
      s"$rows != $expected", expected)
    if (full)
      rec.check(s"$key withConvOrder rows == input turns", ordered == expected,
        s"$ordered != $expected", expected)
    rec.attempted += expected
    rec.failed += errors
    opBytes += ((s"$key written table", bytes))
    if (record) rec.add(s"$key.tps", expected / write)
    if (record && full) {
      rec.add(s"$key.parquet_bytes", treeBytes(dir, ".parquet").toDouble)
      rec.add(s"$key.convorder_s", convorder)
      rec.add(s"$key.resume_s", resume)
    }
    deleteTree(Paths.get(dir))
  }

  /** The pure-kernel fold over the same turns: the Σ n_bytes every Spark
    * operation must reproduce (the ExtractStats / TurnExtractor parity
    * contract), and, in a traced run, the layer timings.
    */
  private def kernelChecks(): Unit = {
    val texts = spark.read.parquet(input).select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    rec.check("input rows == generated turns", texts.length == expected,
      s"${texts.length} != $expected", 0)
    val (kernelBytes, bad) = Micro.fold(texts, 4)
    rec("kernel_bytes") = kernelBytes
    rec("input_text_bytes") = texts.map(_.numBytes.toLong).sum
    rec.check("kernel fold: every turn ok", bad == 0, s"$bad turns not ok", 0)
    for ((what, b) <- opBytes)
      rec.check(s"$what Σ n_bytes == kernel fold", b == kernelBytes,
        s"$b != $kernelBytes", expected)
    if (trace) layers(texts)
  }

  private def layers(texts: Array[UTF8String]): Unit = {
    tracer.enabled = true
    tracer("kernel pair", "core") {
      Micro.foldTps(texts, 4) // warm the pool path
      for (_ <- 1 to 3) {
        rec.add("micro.kernel_tps_1", Micro.foldTps(texts, 1))
        rec.add("micro.kernel_tps_4", Micro.foldTps(texts, 4))
      }
    }
    tracer("per-turn layer costs", "core") {
      Micro.perTurn(texts.take(20000), 3, rec)
    }
    start(4)
    tracer("scan + sum(length(text))", "pipeline") {
      for (i <- 0 to 5) {
        val t0 = System.nanoTime()
        spark.read.parquet(input).agg(sum(length(col("text")))).collect()
        if (i > 0) rec.add("micro.scan_s", Clock.secondsSince(t0))
      }
    }
    tracer("HadoopManifestCatalog.commit", "pipeline") {
      val dir = work.resolve("manifest-probe")
      val cat = new HadoopManifestCatalog(dir.toString,
        spark.sparkContext.hadoopConfiguration)
      for (b <- 0 until 40) {
        val t0 = System.nanoTime()
        cat.commit(ManifestEntry(b, 1000L, 50000L, "perfbench", "0"))
        if (b >= 8) rec.add("micro.manifest_commit_ms",
          Clock.secondsSince(t0) * 1000)
      }
      rec.check("manifest probe: 40 buckets committed",
        cat.committedBuckets() == (0 until 40).toSet, "missing buckets", 0)
      deleteTree(dir)
    }
    rec("spans") = tracer.all
  }
}
