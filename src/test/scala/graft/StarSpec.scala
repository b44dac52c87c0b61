package graft

import org.apache.spark.sql.functions._
import graft.etl.{DateDim, Star}

/** etl.Star: dim upsert, watermark incremental, date-dim join. */
class StarSpec extends SparkTestBase {
  import spark.implicits._

  test("newKeys finds only keys absent from the dim (anti-join J3)") {
    val fresh = Seq(1, 2, 2, 3).toDF("k")
    val dim = Seq(1).toDF("k")
    assert(Star.newKeys(fresh, dim, "k").as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("newKeys bootstrap: empty dim admits every fresh key") {
    val fresh = Seq(1, 2).toDF("k")
    val dim = spark.emptyDataset[Int].toDF("k")
    assert(Star.newKeys(fresh, dim, "k").count() == 2)
  }

  test("dimUpsert labels new keys and drops the sentinel") {
    val fresh = Seq(0, 5, 6).toDF("k")
    val dim = Seq(5).toDF("k")
    val out = Star.dimUpsert(fresh, dim, "k", "name", lit("Unknown"), Some(lit(0)))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSet == Set((6, "Unknown")))
  }

  test("dimUpsert returns novel keys in the dim's own key type") {
    val fresh = Seq(5L, 6L).toDF("k")
    val out = Star.dimUpsert(fresh, Seq(5).toDF("k"), "k", "name", lit("Unknown"))
    assert(out.schema("k").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(_.getInt(0)).toSeq == Seq(6))
  }

  test("upsert is re-run safe: second run inserts nothing") {
    val fresh = Seq(1, 2).toDF("k")
    val dim0 = spark.emptyDataset[Int].toDF("k")
    val firstRun = Star.newKeys(fresh, dim0, "k")
    val dim1 = dim0.unionByName(firstRun)
    assert(Star.newKeys(fresh, dim1, "k").count() == 0)
  }

  test("watermark: None on empty input (cold start), max otherwise") {
    val empty = Seq.empty[(java.sql.Timestamp, Int)].toDF("ts", "x")
    assert(Star.watermark(empty, "ts").isEmpty)
    val df = Seq("2023-01-01 00:00:00", "2023-06-01 00:00:00").toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    val wm = Star.watermark(df, "ts")
    assert(wm.exists(_.toString.startsWith("2023-06-01")))
    assert(Star.newerThan(df, "ts", wm).count() == 0)
    assert(Star.newerThan(df, "ts", None).count() == 2)
  }

  test("scdMerge: updates win, unseen keys insert, others survive") {
    val existing = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val updates = Seq((2, "B"), (3, "c")).toDF("k", "v")
    val merged = Star.scdMerge(existing, updates, "k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(merged == Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("joinDateDim attaches the surrogate key via (d,m,y) composite") {
    val dim = DateDim.build(spark, "2023-01-01", "2023-01-31")
    val fact = Seq("2023-01-05 10:30:00", "2024-01-05 10:30:00").toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    val out = Star.joinDateDim(fact, dim, "ts", "date_id")
    // out-of-range date dropped by inner join (reference trap, SURVEY §7.4)
    assert(out.count() == 1)
    assert(out.select("date_id").head().getLong(0) == 5L)
  }
}
