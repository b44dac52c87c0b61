package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-tier bench: the top heavy operator families measured at
  * 1×/2×/5×/10× the sf0.1 documents+embeddings volume, with a fitted
  * scaling exponent per row — the measured complement to the plan-shape
  * arguments in docs/SCALE.md (the NYC pipeline already has a measured
  * linear fit; this gives the extension operators one too).
  *
  * Tier construction preserves WORKLOAD DENSITY by design, so the
  * exponent measures the algorithm, not a drifting input:
  *  - documents: replica k applies a BIJECTIVE character rotation
  *    (a→(a+k) mod 26; spaces fixed) to the text. A char bijection
  *    maps the char-n-gram multiset bijectively, so within-replica
  *    similarity structure — char-5-gram Jaccard, token shingles,
  *    prefix-index candidates — is EXACTLY the original's, while
  *    distinct rotations share no n-gram containing a letter (and the
  *    single-spaced corpus has no all-space n-gram): pair count,
  *    component sizes, and triangle counts are exactly k× the
  *    original's, never an artificial k²-dup blowup. (The first
  *    design salted each token with a `k<k>_` prefix — token-shingle
  *    disjoint, but it injected universal char-5-grams like " k1_f"
  *    at every token boundary, densifying the 0.25-threshold char
  *    n-gram graph toward a clique at x≥2 and exploding the triangle
  *    shuffle onto disk. Rotation has no such boundary artifact.)
  *  - embeddings: replica k rotates each vector by k positions (norm
  *    and pairwise-within-replica geometry preserved); ids offset so
  *    the `% 10` corpus/query splits keep their proportions.
  *
  * Each ROW runs in a FRESH child JVM (all its tiers back to back,
  * min-of-two per tier) — the [[ChildJvm]] isolation discipline: a
  * 25-minute single-JVM sweep left big-tier samples flapping 3-4×
  * between identical runs (q147_triangles x10: 8.6 s vs 31.0 s),
  * which is fatal for a log-log fit. Row-major tiers inside one young
  * JVM give the fit four like-conditioned points; build rows are
  * JIT-warmed by the same build at sf0.001 first.
  *
  * Quadratic-by-design eval-set rows (q24, q65 — the exact oracles
  * whose corpus twins are q90/q92) run only at 1×/2×: the point is to
  * MEASURE the exponent that makes them eval-set-only, not to pay it
  * at 10×. Output: BENCH_SF1.json, one row per line:
  * {"row": name, "tiers": {"x1": sec, ...}, "exponent": slope of the
  * log-log least-squares fit across valid tiers}. A FAILED tier is
  * serialized as `null` (matching the exponent's convention) and
  * excluded from the fit.
  */
object BenchSf1 {
  private val tiers = Seq(1, 2, 5, 10)
  private val tinySf = "/root/testdata/sf0.001"

  // q47_build first: q191's LPA reads the 0.4 pair graph from the
  // shared store — without the build row its x-tier samples would
  // time graph construction, not propagation.
  private val buildOrder = Seq("q47_build", "q89_build", "q90_build",
    "q107_build", "q77_build", "q96_build", "q147_build")
  private val queryRows = Seq("q147_triangles", "q158_component_churn",
    "q89_incremental_components", "q90_indexed_pairs",
    "q92_knn_graph_lsh", "q107_keyword_indexed",
    "q187_kendall_scalable", "q24_ngram_jaccard_pairs", "q65_knn_graph",
    // r13 additions (r12 verdict task #4): LPA over the persisted
    // pair graph, the shingle-keyed first-carrier global aggregate
    // (the heaviest new non-child row of r12), the batch-vs-corpus
    // exact containment gate, and its capped-prefix corpus twin —
    // the row whose exact form (q207 self-join) measured 178 s at
    // x1 and CANNOT run at x10.
    "q191_label_propagation", "q160_first_carrier",
    "q207_containment", "q208_containment_corpus",
    // r14 additions (r13 verdict task #3): the two heaviest
    // steady-state rows without their own measured exponents — the
    // keep-superset excerpt scrub (inherits q208's candidates but
    // adds the size join + anti-join) and the embedding-threshold
    // semantic dedup.
    "q209_excerpt_scrub", "q58_semantic_dedup")
  private val quad = Set("q24_ngram_jaccard_pairs", "q65_knn_graph")
  private val scaledRow = "q92_knn_graph_lsh_scaledplanes"
  /** Build rows FIRST: query children read the build children's
    * artifacts through the shared store. */
  private def allRows = buildOrder ++ queryRows ++ Seq(scaledRow)

  def main(args: Array[String]): Unit = {
    val root = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/sf_scale")
    if (args.nonEmpty) childMain(args(0), root) else parentMain(root)
  }

  // ------------------------------------------------------------- parent
  private def parentMain(root: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val artifactRoot = sys.props.getOrElseUpdate("graft.artifact.root",
      java.nio.file.Files.createTempDirectory("graft_artifacts_sf1_")
        .toString)
    locally { // tier generation only; measurement happens in children
      val spark = session()
      generateTiers(spark, sfDir, root)
      spark.stop()
    }
    val rows = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[Int, Double]]()
    for (row <- allRows) {
      val tiersOf = scala.collection.mutable.LinkedHashMap[Int, Double]()
      try {
        val (code, out) = ChildJvm.spawn("graft.BenchSf1", Seq(row),
          Map("graft.artifact.root" -> artifactRoot))
        val parsed = out.filter(_.startsWith("[sf1-child] ")).flatMap {
          l =>
            l.stripPrefix("[sf1-child] ").split(" ") match {
              case Array(t, v) if t.startsWith("x") =>
                scala.util.Try(t.drop(1).toInt -> v.toDouble).toOption
              case _ => None
            }
        }
        if (code != 0 || parsed.isEmpty)
          System.err.println(
            s"[sf1] child $row exit=$code rows=${parsed.size}")
        parsed.foreach { case (t, v) => tiersOf.update(t, v) }
      } catch { case e: Throwable =>
        System.err.println(s"[sf1] child $row FAILED: ${e.getMessage}")
      }
      // any tier the child never reported is a visible null, not a
      // vanished cell
      for (t <- tiers if !(quad(row) && t > 2))
        tiersOf.getOrElseUpdate(t, -1.0)
      rows.update(row, tiersOf)
    }

    // log-log least squares: slope = measured scaling exponent
    def exponent(m: collection.Map[Int, Double]): Option[Double] = {
      val pts = m.toSeq.filter(_._2 > 0)
        .map { case (t, s) => (math.log(t.toDouble), math.log(s)) }
      if (pts.size < 2) None else {
        val n = pts.size
        val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
        val sxx = pts.map(p => p._1 * p._1).sum
        val sxy = pts.map(p => p._1 * p._2).sum
        Some((n * sxy - sx * sy) / (n * sxx - sx * sx))
      }
    }
    val fmt = new java.text.DecimalFormat("0.###",
      java.text.DecimalFormatSymbols.getInstance(java.util.Locale.ROOT))
    val lines = rows.map { case (name, m) =>
      val ts = m.toSeq.sortBy(_._1).map { case (t, s) =>
        s""""x$t":${if (s > 0) fmt.format(s) else "null"}""" }
        .mkString("{", ",", "}")
      val ex = exponent(m).map(fmt.format).getOrElse("null")
      s"""{"row":"$name","tiers":$ts,"exponent":$ex}"""
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_SF1_OUT", "BENCH_SF1.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString("[\n", ",\n", "\n]\n"))
    println(lines.mkString("[\n", ",\n", "\n]"))
    // bench-run-scoped shared store — don't strand it in /tmp
    Sessions.deleteTree(java.nio.file.Paths.get(artifactRoot))
  }

  // -------------------------------------------------------------- child
  private def childMain(row: String, root: String): Unit = {
    val spark = session()
    def dropAllState(): Unit = Sessions.dropBlocks(spark, gcPauseMs = 1000)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def runQ(name: String, dir: String): Double = timed {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    def emit(t: Int, sec: Double): Unit =
      println(String.format(java.util.Locale.ROOT,
        "[sf1-child] x%d %.4f", Integer.valueOf(t),
        java.lang.Double.valueOf(sec)))

    // one-shot artifact builds, timed once per tier after a tiny-sf JIT
    // warm; unforced, so a second call for the same dir is a no-op
    graft.queries.Builds.rows.get(row) match {
      case Some(build) =>
        try { build(spark, tinySf, false) } catch { case _: Throwable => () } // JIT warm
        for (t <- tiers) {
          dropAllState()
          try emit(t, timed(build(spark, s"$root/x$t", false)))
          catch { case e: Throwable =>
            System.err.println(s"[sf1] $row x$t FAILED: ${e.getMessage}")
          }
        }
      case None if row == scaledRow =>
        // q92 with DENSITY-HELD bucket space: the declared query's
        // nPlanes=3 is the sf0.1-calibrated recall point — 2³ buckets
        // per table, so a k× corpus densifies every bucket k× and the
        // bucket-local pair work grows k²; the unscaled exponent
        // measures that, not a flaw in the join. The 100 TB operating
        // point raises nPlanes with log₂(corpus) to hold per-bucket
        // occupancy ~constant (standard LSH sizing); this row measures
        // the SAME operator under that sizing rule — since r12 the
        // PRODUCTION operator itself (Ann.knnJoinScaled, declared as
        // q188 with its own dynamic-r oracle), whose integer doubling
        // rule gives 3+ceil(log2(k)) planes at tier xk, one more at
        // x5 than the round-to-nearest inline rule the committed
        // BENCH_SF1.json x5 sample used.
        def once(dir: String): Double = timed {
          graft.sim.Ann.knnJoinScaled(Tables.embeddings(spark, dir), k = 5)
            .write.format("noop").mode("overwrite").save()
        }
        try { once(tinySf) } catch { case _: Throwable => () }
        for (t <- tiers) {
          dropAllState()
          try {
            val a = once(s"$root/x$t")
            val b = once(s"$root/x$t")
            emit(t, math.min(a, b))
          } catch { case e: Throwable =>
            System.err.println(s"[sf1] $row x$t FAILED: ${e.getMessage}")
          }
        }
      case None =>
        try runQ(row, tinySf) catch { case _: Throwable => () } // JIT warm
        for (t <- tiers if !(quad(row) && t > 2)) {
          dropAllState()
          try {
            val a = runQ(row, s"$root/x$t")
            val b = runQ(row, s"$root/x$t")
            emit(t, math.min(a, b))
          } catch { case e: Throwable =>
            System.err.println(s"[sf1] $row x$t FAILED: ${e.getMessage}")
          }
        }
    }
    spark.stop()
  }

  private def session(): SparkSession =
    Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

  /** Materialize the replica tiers (idempotent: skips a tier whose
    * `_TIER_OK` marker names the SAME source sfDir AND generation
    * scheme — a marker from a different source or scheme means stale
    * replicas, so the tier regenerates rather than silently
    * benchmarking the old data). Replica 0 is the original sf0.1 data
    * byte-for-value; replica k>0 re-keys ids by k·10⁷, rotates every
    * letter of the text by k (the bijection argument above), and
    * rotates embeddings by k positions. */
  private val tierScheme = "rot26"
  private[graft] def generateTiers(spark: SparkSession, sfDir: String,
                                   root: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    val embs = Tables.embeddings(spark, sfDir)
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    for (t <- tiers) {
      val dir = s"$root/x$t"
      val done = new java.io.File(s"$dir/_TIER_OK")
      val fresh = done.exists() &&
        java.nio.file.Files.readString(done.toPath).trim ==
          s"$sfDir $tierScheme"
      if (!fresh) {
        val dTier = (0 until t).map { k =>
          if (k == 0) docs
          else {
            val rotated = alphabet.drop(k % 26) + alphabet.take(k % 26)
            docs.select(
              (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
              translate(col("text"), alphabet, rotated).as("text"),
              col("lang"), col("source"),
              // a char bijection preserves length byte-for-byte
              col("n_chars"))
          }
        }.reduce(_.unionByName(_))
        dTier.repartition(math.max(4, t * 4))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val eTier = (0 until t).map { k =>
          if (k == 0) embs
          else {
            val n = size(col("embedding"))
            val rot = concat(
              slice(col("embedding"), lit(k + 1), n - lit(k)),
              slice(col("embedding"), lit(1), lit(k)))
            embs.select(
              (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
              rot.as("embedding"), col("label"))
          }
        }.reduce(_.unionByName(_))
        eTier.repartition(math.max(4, t * 2))
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        done.getParentFile.mkdirs()
        java.nio.file.Files.writeString(done.toPath,
          s"$sfDir $tierScheme\n")
      }
    }
  }
}
