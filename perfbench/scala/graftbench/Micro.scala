package graftbench

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.unsafe.types.UTF8String

import graft.core.{HtmlExtract, Segmenter, Tokenizer}
import graft.functions.ExtractStats
import graft.pipeline.TurnExtractor

/** Layer timings taken by calling the program's public functions on
  * in-memory turns, with no Spark in the way. Every loop folds its results
  * into a checksum so the JIT cannot drop the work.
  */
object Micro {

  /** Σ n_bytes and the count of ok=false turns, over `threads` threads. */
  def fold(texts: Array[UTF8String], threads: Int): (Long, Long) = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val chunk = (texts.length + threads - 1) / threads
      val parts = (0 until threads).map { t =>
        pool.submit(new Callable[(Long, Long)] {
          def call(): (Long, Long) = {
            var bytes = 0L
            var bad = 0L
            var i = t * chunk
            val end = math.min(texts.length, (t + 1) * chunk)
            while (i < end) {
              val r = ExtractStats.compute(texts(i))
              bytes += r.getLong(3)
              if (!r.getBoolean(4)) bad += 1
              i += 1
            }
            (bytes, bad)
          }
        })
      }.map(_.get())
      (parts.map(_._1).sum, parts.map(_._2).sum)
    } finally pool.shutdown()
  }

  /** Turns per second of one [[fold]] pass. */
  def foldTps(texts: Array[UTF8String], threads: Int): Double = {
    val t0 = System.nanoTime()
    fold(texts, threads)
    texts.length / Clock.secondsSince(t0)
  }

  /** Mean nanoseconds per call of `f` over `xs`, single-threaded. */
  def nsPer[A](xs: Array[A])(f: A => Int): (Double, Long) = {
    var sink = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < xs.length) { sink += f(xs(i)); i += 1 }
    ((System.nanoTime() - t0).toDouble / xs.length, sink)
  }

  def tokenize(s: String): Seq[graft.core.BodyElement] =
    if (HtmlExtract.looksLikeHtml(s)) HtmlExtract.tokenize(s)
    else Tokenizer.tokenize(s)

  /** Per-turn layer costs on one thread; `reps` passes, every sample kept. */
  def perTurn(texts: Array[UTF8String], reps: Int, rec: Record): Unit = {
    val strings = texts.map(_.toString)
    val elements = strings.map(tokenize)
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    var sink = 0L
    for (_ <- 1 to reps) {
      val (decode, s1) = nsPer(texts)(_.toString.length)
      val (tok, s2) = nsPer(strings)(tokenize(_).size)
      val (seg, s3) = nsPer(elements)(Segmenter.segment(_).documents.size)
      val a0 = bean.getThreadAllocatedBytes(tid)
      val (stats, s4) = nsPer(texts)(ExtractStats.compute(_).getInt(1))
      val alloc = (bean.getThreadAllocatedBytes(tid) - a0).toDouble / texts.length
      val (payload, s5) =
        nsPer(strings)(TurnExtractor.extract("c", 0, _).nParas)
      sink += s1 + s2 + s3 + s4 + s5
      rec.add("micro.utf8_decode_ns", decode)
      rec.add("micro.tokenize_ns", tok)
      rec.add("micro.segment_ns", seg)
      rec.add("micro.stats_fold_ns", stats)
      rec.add("micro.alloc_bytes_per_turn", alloc)
      rec.add("micro.payload_ns", payload)
    }
    rec("micro.sink") = sink
  }
}
