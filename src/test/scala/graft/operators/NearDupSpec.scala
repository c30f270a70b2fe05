package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the expanded pair output (ids AND metric) and the group labels of
  * every near-dup family on one fixture shape: a 3-member exact group
  * {1, 2, 3}, one near-dup 4 of it, an exact group {5, 6} that is
  * ineligible for internal pairs where the family has such a gate, and
  * an unrelated doc 7. The values were recorded before the four
  * families were moved onto one shared skeleton in [[Dedup]].
  */
class NearDupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def rowsOf(df: DataFrame): Set[(Long, Long, Any)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet

  private def labelsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def schemaOf(df: DataFrame): Seq[(String, String)] =
    df.schema.map(f => f.name -> f.dataType.sql)

  /** The internal pairs of {1, 2, 3} at `internal` plus each member
    * paired with the near-dup 4 at `cross`. */
  private def groupPairs(internal: Any, cross: Any): Set[(Long, Long, Any)] =
    Set((1L, 2L, internal), (1L, 3L, internal), (2L, 3L, internal),
      (1L, 4L, cross), (2L, 4L, cross), (3L, 4L, cross))

  private val group4 = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L)

  test("minhash pairs: shingle-less exact groups are not expanded") {
    val a = (1 to 20).map(i => s"w$i")
    val d = docs(1L -> a.mkString(" "), 2L -> a.mkString(" "),
      3L -> a.mkString(" "), 4L -> a.updated(19, "other").mkString(" "),
      5L -> "hi there", 6L -> "hi there", // under shingleK = 3 words
      7L -> (1 to 20).map(i => s"u$i").mkString(" "))
    val pairs = Dedup.minhashNearDups(d, "text", "doc_id")
    assert(schemaOf(pairs) ==
      Seq("id_a" -> "BIGINT", "id_b" -> "BIGINT", "jaccard" -> "DOUBLE"))
    // 18 shingles each, 17 shared: 17 / 19
    val got = rowsOf(pairs)
    assert(got == groupPairs(1.0, 0.894737), got)
    val groups = labelsOf(Dedup.minhashNearDupGroups(d, "text", "doc_id"))
    assert(groups == group4, groups)
  }

  test("simhash pairs: every exact signature group is expanded") {
    val words = (1 to 60).map(i => s"token$i")
    val base = words.mkString(" ")
    val d = docs(1L -> base, 2L -> base, 3L -> base,
      4L -> words.updated(30, "changed").mkString(" "),
      5L -> "hi there", 6L -> "hi there",
      7L -> (1 to 60).map(i => s"other$i").mkString(" "))
    val pairs = Dedup.simhashNearDups(d, "text", "doc_id")
    assert(schemaOf(pairs) ==
      Seq("id_a" -> "BIGINT", "id_b" -> "BIGINT", "hamming" -> "INT"))
    val got = rowsOf(pairs)
    assert(got == groupPairs(0, 2) + ((5L, 6L, 0)), got)
    val groups = labelsOf(Dedup.simhashNearDupGroups(d, "text", "doc_id"))
    assert(groups == group4 ++ Set(5L -> 5L, 6L -> 5L), groups)
  }

  test("cosine pairs: zero-vector exact groups are not expanded") {
    val s = spark
    import s.implicits._
    val v = Seq(1.0, 0.2, -0.3, 0.5, 0.7, -0.1, 0.4, 0.9)
    val d = Seq(1L -> v, 2L -> v, 3L -> v, 4L -> v.updated(0, 1.02),
      5L -> Seq.fill(8)(0.0), 6L -> Seq.fill(8)(0.0),
      7L -> v.map(-_)).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(d, "embedding", "vec_id")
    assert(schemaOf(pairs) ==
      Seq("id_a" -> "BIGINT", "id_b" -> "BIGINT", "cos" -> "DOUBLE"))
    val got = rowsOf(pairs)
    assert(got == groupPairs(1.0, 0.999955), got)
    val groups = labelsOf(
      Similarity.cosineNearDupGroups(d, "embedding", "vec_id"))
    assert(groups == group4, groups)
  }

  test("winnow pairs: exact groups under minShared fingerprints are not " +
    "expanded") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs(1L -> base, 2L -> base, 3L -> base,
      4L -> ("intro words then " + base.replace("omicron", "omega")),
      5L -> "tiny text here", 6L -> "tiny text here", // one fingerprint
      7L -> ("unrelated content entirely made of other tokens that share " +
        "nothing with the rest of them"))
    assert(Winnow.fingerprints("tiny text here").length == 1)
    val pairs = Winnow.sharedFingerprintPairs(d, "text", "doc_id")
    assert(schemaOf(pairs) ==
      Seq("id_a" -> "BIGINT", "id_b" -> "BIGINT", "n_shared" -> "BIGINT"))
    // internal pairs share the group's whole fingerprint set
    assert(Winnow.fingerprints(base).length == 10)
    val got = rowsOf(pairs)
    assert(got == groupPairs(10L, 8L), got)
    val groups = labelsOf(Winnow.sharedFingerprintGroups(d, "text", "doc_id"))
    assert(groups == group4, groups)
  }
}
