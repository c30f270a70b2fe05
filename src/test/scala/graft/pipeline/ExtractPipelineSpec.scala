package graft.pipeline

import graft.SparkTestSession
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class ExtractPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("driver contract: entry() yields rows with ordered columns") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("conv_id", "turn_idx", "turn_rank",
      "conv_char_offset", "nParas", "nBytes", "extractedText"))
    assert(df.count() > 0)
  }

  test("generator is deterministic and independent of parallelism") {
    import spark.implicits._
    val a = Transcripts.generate(spark, 50).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = Transcripts.generate(spark, 50)
      .repartition(7).collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    // zipf skew exists: conversations have differing lengths
    val lens = a.groupBy(_.conv_id).map(_._2.length).toSeq
    assert(lens.max > lens.min)
  }

  test("extraction output equals kernel output per turn (any parallelism)") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 40)
    val viaSpark = ExtractPipeline.extractBalanced(turns, 8)
      .collect().map(e => (e.conv_id, e.turn_idx) -> e).toMap
    val local = turns.collect().map(TurnExtractor.extract)
    assert(local.nonEmpty)
    for (e <- local) {
      assert(viaSpark((e.conv_id, e.turn_idx)) == e,
        s"mismatch at ${e.conv_id}/${e.turn_idx}")
    }
    assert(local.forall(_.error == null))
  }

  test("g23 error row captured, not dropped") {
    import spark.implicits._
    val bad = Turn("c1", 0, "user", "x" * (TurnExtractor.maxTurnBytes + 1),
      null, new java.sql.Timestamp(0))
    val ok = Turn("c1", 1, "user", "hello world", null, new java.sql.Timestamp(0))
    val out = ExtractPipeline.extract(spark.createDataset(Seq(bad, ok)))
      .collect().sortBy(_.turn_idx)
    assert(out.length == 2)
    assert(out(0).error != null && out(0).documents.isEmpty)
    assert(out(1).error == null && out(1).documents.nonEmpty)
  }

  test("conversation window: stable ordering + running offsets") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 10)
    val df = ExtractPipeline.withConvOrder(ExtractPipeline.extract(turns))
    val rows = df.select("conv_id", "turn_idx", "turn_rank", "conv_char_offset")
      .collect()
      .groupBy(_.getString(0))
    for ((_, rs) <- rows) {
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to sorted.length))
      val offs = sorted.map(_.getLong(3))
      assert(offs.head == 0L)
      assert(offs.toSeq == offs.sorted.toSeq) // non-decreasing
    }
  }

  test("checkpointed run resumes idempotently (kill between batches)") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 30)
    val clean = Files.createTempDirectory("graft-clean").toString
    val resumed = Files.createTempDirectory("graft-resumed").toString

    ExtractPipeline.runCheckpointed(spark, turns, clean, nBuckets = 4,
      batchBuckets = 4, inputFingerprint = "seed=42/n=30")

    // simulate a kill after the first batch: process only 2 buckets...
    ExtractPipeline.runCheckpointed(spark, turns, resumed, nBuckets = 4,
      batchBuckets = 2, inputFingerprint = "seed=42/n=30")
    // (runCheckpointed completes all batches; emulate partial state by
    // deleting one bucket's manifest + data, then resuming)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val victim = new org.apache.hadoop.fs.Path(s"$resumed/_manifest/bucket-00003.json")
    assert(fs.exists(victim))
    fs.delete(victim, false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$resumed/bucket=3"), true)
    // resume: must rebuild exactly the missing bucket
    ExtractPipeline.runCheckpointed(spark, turns, resumed, nBuckets = 4,
      batchBuckets = 2, inputFingerprint = "seed=42/n=30")

    def snap(dir: String) =
      ExtractPipeline.readCommitted(spark, dir)
        .select("conv_id", "turn_idx", "extractedText", "nParas", "nBytes")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(snap(clean) == snap(resumed))
    assert(snap(clean).nonEmpty)
    // manifests carry metrics
    val cat = new HadoopManifestCatalog(clean, spark.sparkContext.hadoopConfiguration)
    assert(cat.committedBuckets() == Set(0, 1, 2, 3))
    // lineage surface: manifest rows sum to the table's row count
    val manifest = ExtractPipeline.readManifest(spark, clean).collect()
    assert(manifest.map(_.getAs[Int]("bucket")).toSet == Set(0, 1, 2, 3))
    assert(manifest.map(_.getAs[Long]("rows")).sum == snap(clean).size)
    // bytes metric = extracted-payload byte sum, collected by the write
    // job's observe() (no per-bucket read-back jobs)
    assert(manifest.map(_.getAs[Long]("bytes")).sum ==
      ExtractPipeline.readCommitted(spark, clean)
        .agg(org.apache.spark.sql.functions.sum("nBytes")).head.getLong(0))
    assert(manifest.forall(_.getAs[String]("inputFingerprint") == "seed=42/n=30"))
  }

  test("anti-join resume filter equals the isin filter") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val turns = Transcripts.generate(spark, 25)
    val committed = Seq(0, 2)
    val viaAnti = ExtractPipeline.filterUncommitted(turns, 4, committed)
      .collect().map(t => (t.conv_id, t.turn_idx)).toSet
    val viaIsin = turns.withColumn("bucket", ExtractPipeline.bucketCol(4))
      .filter(!col("bucket").isin(committed: _*))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(viaAnti == viaIsin && viaAnti.nonEmpty)
    assert(viaAnti.size < turns.count())
  }

  test("re-run over fully committed output is a no-op") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 10)
    val dir = Files.createTempDirectory("graft-noop").toString
    ExtractPipeline.runCheckpointed(spark, turns, dir, nBuckets = 2)
    val before = ExtractPipeline.readCommitted(spark, dir).count()
    ExtractPipeline.runCheckpointed(spark, turns, dir, nBuckets = 2)
    assert(ExtractPipeline.readCommitted(spark, dir).count() == before)
  }

  /** Generated turns plus the cases the kernel itself decides: null and
    * empty text, the g23 oversize turn and HTML.
    */
  private def edgeTurns(): Dataset[Turn] = {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0)
    val html = "<html><body><nav><a href=\"/\">home</a></nav><h1>Report</h1>" +
      "<p>First paragraph of the page.</p><p>Second one.</p>" +
      "<footer>fine print</footer></body></html>"
    Transcripts.generate(spark, 20).union(spark.createDataset(Seq(
      Turn("edge", 0, "user", null, null, ts),
      Turn("edge", 1, "user", "", null, ts),
      Turn("edge", 2, "user", "x" * (TurnExtractor.maxTurnBytes + 1), null, ts),
      Turn("edge", 3, "assistant", html, null, ts))))
  }

  test("extract, extractNarrow and extractBalanced equal the kernel per " +
    "turn, including null text, the oversize turn and HTML") {
    val turns = edgeTurns()
    val expected = turns.collect()
      .map(t => (t.conv_id, t.turn_idx) -> TurnExtractor.extract(t)).toMap
    assert(expected(("edge", 2)).error != null)
    assert(expected(("edge", 3)).extractedText.contains("First paragraph"))
    assert(!expected(("edge", 3)).extractedText.contains("fine print"))
    val paths = Seq(
      "extract" -> ExtractPipeline.extract(turns),
      "extractNarrow" -> ExtractPipeline.extractNarrow(turns.toDF()),
      "extractBalanced" -> ExtractPipeline.extractBalanced(turns, 5))
    def check(name: String, ds: Dataset[ExtractedTurn]): Unit = {
      val got = ds.collect()
      assert(got.length == expected.size, name)
      for (e <- got)
        assert(expected((e.conv_id, e.turn_idx)) == e,
          s"$name mismatch at ${e.conv_id}/${e.turn_idx}")
    }
    for ((name, ds) <- paths) check(name, ds)
    // the expression's interpreted path (no generated code) agrees too
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try check("extractNarrow, interpreted",
      ExtractPipeline.extractNarrow(turns.toDF()))
    finally interpreted.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("checkpointed table schema is ExtractedTurn's encoder schema, " +
    "nullability included, plus bucket") {
    val dir = Files.createTempDirectory("graft-schema").toString
    ExtractPipeline.runCheckpointed(spark, Transcripts.generate(spark, 10),
      dir, nBuckets = 2)
    val expected = Encoders.product[ExtractedTurn].schema
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    for (f <- files) {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(f.toString), spark.sparkContext.hadoopConfiguration))
      val written =
        try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally reader.close()
      assert(DataType.fromJson(written) == expected, f.toString)
    }
    assert(spark.read.parquet(dir).columns.toSeq ==
      expected.fieldNames.toSeq :+ "bucket")
  }

  test("checkpointed batches run under the caller's job group and " +
    "description, and commit every bucket") {
    val sc = spark.sparkContext
    val turns = Transcripts.generate(spark, 30)
    val dir = Files.createTempDirectory("graft-jobgroup").toString
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("graft-checkpointed", "checkpointed write under test")
    try ExtractPipeline.runCheckpointed(spark, turns, dir, nBuckets = 8,
      batchBuckets = 2) // 4 batches, two in flight at a time
    finally {
      sc.clearJobGroup()
      ListenerBusShim.drain(sc)
      sc.removeSparkListener(listener)
    }
    val seen = jobs.asScala.toSeq
    assert(seen.size >= 4, seen)
    assert(seen.forall(_ == (("graft-checkpointed",
      "checkpointed write under test"))), seen)
    val cat = new HadoopManifestCatalog(dir, sc.hadoopConfiguration)
    assert(cat.committedBuckets() == (0 until 8).toSet)
    assert(ExtractPipeline.readCommitted(spark, dir).count() == turns.count())
  }

  test("a failed batch surfaces as an exception; the manifest lists " +
    "exactly the buckets whose data was written") {
    import spark.implicits._
    val nBuckets = 8
    val good = Transcripts.generate(spark, 60).toDF()
    // a null turn_idx fails its batch's write job (the payload asserts it
    // non-null); the victim sits in the second of four batches, so the
    // first batch is in flight beside it
    val victim = good.withColumn("bucket", ExtractPipeline.bucketCol(nBuckets))
      .filter(col("bucket").isin(2, 3)).head()
    val bad = good.filter(col("conv_id") === victim.getAs[String]("conv_id"))
      .limit(1).withColumn("turn_idx", lit(null).cast("int"))
    val dir = Files.createTempDirectory("graft-failure").toString
    val err = intercept[Exception] {
      ExtractPipeline.runCheckpointed(spark, good.union(bad).as[Turn], dir,
        nBuckets, batchBuckets = 2)
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf).mkString(" <- ")
    assert(causes.contains("NULL"), causes)
    val committed = new HadoopManifestCatalog(dir,
      spark.sparkContext.hadoopConfiguration).committedBuckets()
    val written = Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("bucket=") &&
        Files.list(p).iterator().asScala.exists(_.toString.endsWith(".parquet")))
      .map(_.getFileName.toString.stripPrefix("bucket=").toInt).toSet
    assert(committed == written)
    assert(!committed.contains(victim.getAs[Long]("bucket").toInt))
    assert(Set(0, 1).subsetOf(committed), committed)
  }

  test("manifest JSON escapes quotes, backslashes and control chars") {
    val dir = Files.createTempDirectory("graft-manifest-json").toString
    val cat = new HadoopManifestCatalog(dir, spark.sparkContext.hadoopConfiguration)
    val fingerprint = "src=\"a\\b\"\tn=3\nend\u0001"
    val entries = Seq(
      ManifestEntry(3, 10L, 200L, fingerprint, "v\"1"),
      ManifestEntry(4, 0L, 0L, "", "0.1.0"))
    cat.commitAll(entries)
    assert(cat.committedBuckets() == Set(3, 4))
    val rows = ExtractPipeline.readManifest(spark, dir).collect()
      .sortBy(_.getInt(0)).toSeq
    assert(rows == entries.map(e =>
      Row(e.bucket, e.rows, e.bytes, e.inputFingerprint, e.version)))
  }
}
