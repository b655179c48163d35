package graft.operators

import graft.SparkSpec
import graft.etl.MusicKpis
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Typed Aggregator laws: ScalaCheck-generated merge associativity/
  * commutativity, tie-break determinism, null handling; plus agreement
  * with the window formulation in GroupTop (SURVEY.md §5 items 1-2).
  * (Gen is driven manually with fixed seeds — the scalatestplus bridge
  * artifact isn't in the offline cache.) */
class AggregatesSpec extends SparkSpec {
  import spark.implicits._

  private val values = Gen.listOf(Gen.oneOf("a", "b", "c", "d", null))
  private def samples(n: Int): Seq[List[String]] =
    (0 until n).map(i => values.apply(Gen.Parameters.default, Seed(i.toLong)).get)
  private def modeAgg = new Aggregates.ModeAgg
  private def topkAgg = new Aggregates.TopKAgg(2)

  test("ModeAgg merge is commutative and associative (property)") {
    val m = modeAgg
    def buf(l: List[String]) = l.foldLeft(m.zero)(m.reduce)
    for (Seq(xs, ys, zs) <- samples(300).grouped(3).toSeq if Seq(xs, ys, zs).size == 3) {
      // merge MUTATES its arguments (allowed by Spark's
      // TypedImperativeAggregate contract — partial buffers are owned by
      // the aggregation), so each law evaluation gets fresh buffers; the
      // laws are about merge's VALUE, not object purity
      assert(m.finish(m.merge(buf(xs), buf(ys))) ==
             m.finish(m.merge(buf(ys), buf(xs))))
      assert(m.finish(m.merge(m.merge(buf(xs), buf(ys)), buf(zs))) ==
             m.finish(m.merge(buf(xs), m.merge(buf(ys), buf(zs)))))
    }
  }

  test("ModeAgg picks (count desc, value asc); empty/all-null → null") {
    val m = modeAgg
    def run(l: List[String]) = m.finish(l.foldLeft(m.zero)(m.reduce))
    assert(run(List("b", "a", "b", "a")) == "a") // tie → smallest
    assert(run(List("b", "b", "a")) == "b")
    assert(run(Nil) == null)
    assert(run(List(null, null)) == null)
  }

  test("TopKAgg finish is rank-ordered and bounded by k (property)") {
    for (xs <- samples(100)) {
      val t = topkAgg
      val out = t.finish(xs.foldLeft(t.zero)(t.reduce))
      assert(out.size <= 2)
      val counts = xs.filter(_ != null).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expected = counts.toSeq.sortBy { case (v, c) => (-c, v) }.take(2).map(_._1)
      assert(out == expected)
    }
  }

  test("udaf forms agree with the GroupTop window formulation on a DataFrame") {
    val df = Seq(
      ("g1", "b"), ("g1", "b"), ("g1", "a"), ("g1", "a"), ("g1", "c"),
      ("g2", "z"), ("g3", null)).toDF("g", "v")
    val viaAgg = df.groupBy("g")
      .agg(Aggregates.mode_agg(col("v")).as("m"), Aggregates.topk_agg(2)(col("v")).as("t"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getSeq[String](2))).toMap
    assert(viaAgg("g1") == (("a", Seq("a", "b"))))
    assert(viaAgg("g2") == (("z", Seq("z"))))
    assert(viaAgg("g3")._1 == null)
    assert(viaAgg("g3")._2.isEmpty)
    val viaWindow = GroupTop.mode(df, Seq("g"), "v", "m")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaWindow("g1") == viaAgg("g1")._1)
  }

  test("every mode/top-k form breaks a count tie in UTF-8 byte order, not UTF-16") {
    // "Ａ" (U+FF21) is EF BC A1 in UTF-8 and "😀" (U+1F600) is F0 9F 98 80,
    // so "Ａ" is the smaller in bytes; in UTF-16 "😀" (D83D DE00) sorts first
    val (fullA, smile) = ("\uFF21", "\uD83D\uDE00")
    val df = Seq(smile, fullA, fullA, smile).toDF("v")
      .withColumn("g", lit("g")).withColumn("date", lit("2024-06-25").cast("date"))
      .withColumn("d", lit(1.0))
    assert(GroupTop.mode(df, Seq("g"), "v", "m").head().getString(1) == fullA)
    assert(GroupTop.topK(df, Seq("g"), "v", 2, "t").head().getSeq[String](1) == Seq(fullA, smile))
    val viaAgg = df.groupBy("g")
      .agg(Aggregates.mode_agg(col("v")), Aggregates.topk_agg(2)(col("v"))).head()
    assert(viaAgg.getString(1) == fullA)
    assert(viaAgg.getSeq[String](2) == Seq(fullA, smile))
    val genre = MusicKpis.genreKpis(df, genreCol = "g", countCol = "v", avgCol = "d",
      modeCol = "v", modeOut = "m").head()
    assert(genre.getAs[String]("m") == fullA)
  }
}
