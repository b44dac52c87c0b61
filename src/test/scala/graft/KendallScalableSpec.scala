package graft

import org.apache.spark.sql.functions._
import graft.ops.Eval

/** ops.Eval.kendallBySegmentScalable: the join-free corpus twin of
  * kendallBySegment (q187 vs q184) — exact output equivalence across
  * tie regimes and bucket counts, the no-self-join plan pin, and the
  * Fenwick endgame in isolation. */
class KendallScalableSpec extends SparkTestBase {
  import spark.implicits._

  private def kv(rows: Seq[(String, Long, Long, Long)], b: Int) = {
    val df = rows.toDF("seg", "id", "x", "y")
    val slow = Eval.kendallBySegment(df, "seg", "x", "y", "id")
      .orderBy("seg").collect().map(_.toSeq).toSeq
    val fast = Eval.kendallBySegmentScalable(df, "seg", "x", "y", "id", b)
      .orderBy("seg").collect().map(_.toSeq).toSeq
    (slow, fast)
  }

  test("equivalence with the pair form across tie regimes and buckets") {
    // deterministic synthetic with ties in x, in y, and in both: the
    // modular lattices force repeated values in every segment
    val rows = for {
      s <- Seq("a", "b", "c"); i <- 0 until 41
    } yield (s, i.toLong,
      ((i * 7 + s.length) % 11).toLong, ((i * 5 + 3 * s.length) % 7).toLong)
    for (b <- Seq(2, 4, 32, 64)) {
      val (slow, fast) = kv(rows, b)
      assert(fast == slow, s"nBuckets=$b")
    }
  }

  test("requireUniqueIds: duplicated ids fail loudly; unique ids unchanged") {
    val clean = Seq(("a", 1L, 3L, 5L), ("a", 2L, 1L, 2L), ("a", 3L, 4L, 4L),
      ("a", 4L, 2L, 1L)).toDF("seg", "id", "x", "y")
    // guard ON over unique ids: bit-identical to the default path
    val guarded = Eval.kendallBySegmentScalable(clean, "seg", "x", "y",
      "id", 4, requireUniqueIds = true).collect().map(_.toSeq).toSeq
    val default = Eval.kendallBySegmentScalable(clean, "seg", "x", "y",
      "id", 4).collect().map(_.toSeq).toSeq
    assert(guarded == default)
    // a duplicated id inside one segment: silent divergence without
    // the guard (documented), a loud in-plan raise_error with it
    val dup = clean.union(Seq(("a", 2L, 9L, 9L)).toDF("seg", "id", "x", "y"))
    val e = intercept[Exception] {
      Eval.kendallBySegmentScalable(dup, "seg", "x", "y", "id", 4,
        requireUniqueIds = true).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("duplicate id within segment")),
      messages(e).mkString(" | "))
    // the same duplicated id in a DIFFERENT segment is legal
    val other = clean.union(
      Seq(("b", 2L, 9L, 9L), ("b", 3L, 1L, 1L)).toDF("seg", "id", "x", "y"))
    assert(Eval.kendallBySegmentScalable(other, "seg", "x", "y", "id", 4,
      requireUniqueIds = true).collect().length == 2)
  }

  test("monotone, reversed, and all-tied segments match the pair form") {
    val rows =
      (0 until 9).map(i => ("up", i.toLong, i.toLong, (i * 2).toLong)) ++
      (0 until 9).map(i => ("down", i.toLong, i.toLong, (100 - i).toLong)) ++
      (0 until 9).map(i => ("flatx", i.toLong, 5L, i.toLong)) ++
      (0 until 9).map(i => ("flaty", i.toLong, i.toLong, 5L)) ++
      (0 until 9).map(i => ("flat", i.toLong, 5L, 5L))
    val (slow, fast) = kv(rows, 4)
    assert(fast == slow)
    // and the guard semantics directly: all-ties code is 0, not NULL
    val m = fast.map(r => r.head.toString -> r.last).toMap
    assert(m("up") == 16384L && m("down") == -16384L && m("flat") == 0L)
  }

  test("single-row segments emit nothing, like the pair form") {
    val rows = Seq(("solo", 1L, 3L, 4L), ("pair", 1L, 1L, 2L),
      ("pair", 2L, 2L, 1L))
    val (slow, fast) = kv(rows, 4)
    assert(fast == slow && fast.map(_.head) == Seq("pair"))
  }

  test("empty input yields an empty frame with the full schema") {
    val df = Seq.empty[(String, Long, Long, Long)].toDF("seg", "id", "x", "y")
    val out = Eval.kendallBySegmentScalable(df, "seg", "x", "y", "id", 4)
    assert(out.columns.toSeq == Seq("seg", "n_pairs", "nc", "nd",
      "tie_x", "tie_y", "tau_b_code"))
    assert(out.isEmpty)
  }

  test("plan has no self-join: every join is a broadcast, no SMJ") {
    val df = (0 until 50).map(i =>
      ("s" + i % 3, i.toLong, (i * 13 % 17).toLong, (i * 11 % 13).toLong))
      .toDF("seg", "id", "x", "y")
    val plan = Eval.kendallBySegmentScalable(df, "seg", "x", "y", "id", 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("null x or y fails loudly instead of silently skewing classes") {
    val df = Seq(("s", 1L, Some(1L), Some(2L)), ("s", 2L, None, Some(3L)))
      .toDF("seg", "id", "x", "y")
    val e = intercept[Exception] {
      Eval.kendallBySegmentScalable(df, "seg", "x", "y", "id", 4).collect()
    }
    assert(e.getMessage != null)
  }

  test("nBuckets must be a power of two") {
    val df = Seq(("s", 1L, 1L, 1L)).toDF("seg", "id", "x", "y")
    intercept[IllegalArgumentException] {
      Eval.kendallBySegmentScalable(df, "seg", "x", "y", "id", 12)
    }
  }

  test("bufferedInversions: hand cases incl. duplicates and order noise") {
    def inv(pairs: (Long, Long)*): Long =
      Eval.bufferedInversions(pairs.toArray)
    assert(inv() == 0L && inv((1L, 5L)) == 0L)
    // sorted ascending y: no inversions; descending: all pairs
    assert(inv((1L, 1L), (2L, 2L), (3L, 3L)) == 0L)
    assert(inv((1L, 3L), (2L, 2L), (3L, 1L)) == 3L)
    // duplicates are NOT inversions (strict comparison)
    assert(inv((1L, 2L), (2L, 2L), (3L, 2L)) == 0L)
    // arrival order must not matter: sorted internally by ord
    assert(inv((3L, 1L), (1L, 3L), (2L, 2L)) == 3L)
    // mixed: ords 1..5, ys 2,4,1,3,1 -> pairs (2,1),(4,1),(4,3),(4,1),(2,1),(3,1)
    assert(inv((1L, 2L), (2L, 4L), (3L, 1L), (4L, 3L), (5L, 1L)) == 6L)
  }
}
