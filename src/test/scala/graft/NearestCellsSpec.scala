package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions
import graft.operators.Similarity

/** The nearest-cell contract every quantizer consumer shares
  * ([[Similarity.nearestCells]]): argmax cosine, ties to the smaller cid,
  * a NaN cosine ranks first, and the keep = 1 aggregate and the keep > 1
  * window agree on the winner.
  */
class NearestCellsSpec extends SparkSpec {

  private lazy val rows: DataFrame = spark.createDataFrame(Seq(
    (1L, Array(1f, 1f), "a"),
    (2L, Array(1f, 0.5f), "b"),
    (3L, Array(Float.NaN, 1f), "c"),
    (4L, Array(1f, 0f), "d"))).toDF("id", "v", "tag")

  // cids 2 and 5 are equidistant from row 1 (the smaller cid is listed last)
  private lazy val cents: DataFrame = spark.createDataFrame(Seq(
    (5L, Array(1f, 0f)), (2L, Array(0f, 1f)), (9L, Array(-1f, -1f)))).toDF("cid", "cw")

  // cid 7 has a NaN component: its cosine with every row is NaN
  private lazy val nanCents: DataFrame = spark.createDataFrame(Seq(
    (0L, Array(1f, 0f)), (7L, Array(Float.NaN, 0f)), (8L, Array(0f, 1f)))).toDF("cid", "cw")

  private def cells(cs: DataFrame, keep: Int, in: DataFrame = rows): Map[Long, Set[Long]] =
    Similarity.nearestCells(in, cs, "id", "v", "cw", keep).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }

  test("equal cosines go to the smaller cid; keep = 1 and keep = 2 pick the same first cell") {
    val one = cells(cents, 1)
    val two = cells(cents, 2)
    assert(one == Map(1L -> Set(2L), 2L -> Set(5L), 3L -> Set(2L), 4L -> Set(5L)))
    assert(two == Map(1L -> Set(2L, 5L), 2L -> Set(5L, 2L), 3L -> Set(2L, 5L),
      4L -> Set(5L, 2L)))
    one.foreach { case (id, c) => assert(c.subsetOf(two(id)), s"id $id") }
  }

  test("a NaN component gives a NaN cosine, and a NaN cosine ranks first") {
    val cos = rows.filter(col("id") === 3).crossJoin(cents)
      .select(HashExpressions.cosine(col("v"), col("cw"))).collect().map(_.getDouble(0))
    assert(cos.length == 3 && cos.forall(_.isNaN), cos.mkString(","))
    // the NaN row ties on every cell, so it lands on the smallest cid; a
    // NaN centroid wins every other row in both spellings, ahead of an
    // exact cosine of 1.0 (row 4 against cid 0)
    assert(cells(nanCents, 1) == Map(1L -> Set(7L), 2L -> Set(7L), 3L -> Set(0L),
      4L -> Set(7L)))
    assert(cells(nanCents, 2) == Map(1L -> Set(7L, 0L), 2L -> Set(7L, 0L),
      3L -> Set(0L, 7L), 4L -> Set(7L, 0L)))
  }

  test("a carried column comes back with the row's own value") {
    val tags = rows.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    for (keep <- Seq(1, 2)) {
      val out = Similarity.nearestCells(rows, cents, "id", "v", "cw", keep, carry = Seq("tag"))
      assert(out.columns.toSeq == Seq("id", "cid", "tag"))
      val got = out.collect()
      assert(got.length == 4 * keep)
      got.foreach(r => assert(r.getString(2) == tags(r.getLong(0)), s"keep $keep: $r"))
    }
  }

  test("an empty input gives no rows") {
    val empty = rows.filter(lit(false))
    assert(cells(cents, 1, empty).isEmpty)
    assert(cells(cents, 2, empty).isEmpty)
  }
}
