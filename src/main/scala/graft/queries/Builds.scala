package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.{TextFunctions => TF}

/** The build-once artifacts that artifact-backed queries read, and the
  * bench build rows that time them. Each goes through [[Artifacts]]:
  * one name per (artifact, source dir), one READY marker. */
object Builds {
  import Tables._

  /** The similarity-pair graph as a build-once [[Artifacts]] table:
    * the pipeline computes it ONCE, and every consumer — component
    * resolution, dedup gates, audits — reads the tiny (id_a, id_b,
    * jaccard) table instead of re-running the join. */
  private[graft] def pairGraphTable(s: SparkSession, dir: String,
                                    threshold: Double,
                                    force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    // round, not truncate: (0.29*100).toInt == 28 in binary64, which
    // would collide with threshold 0.28's graph and silently serve
    // pairs built at the wrong cutoff
    Artifacts.table(s"dup_pairs_${Artifacts.key(dir)}_t${math.round(threshold * 1000)}",
        force) { (cat, table) =>
      graft.dedup.Curation.materializePairs(documents(s, dir), "doc_id", "text",
        cat, table, ngramN = 5, threshold = threshold)
    }

  /** q89's standing assignment: components of the corpus-only
    * (doc_id % 10 != 0) char-5-gram pair graph at 0.4 — the state a
    * daily-ingest pipeline carries between batches, built once like
    * the pair graph itself. */
  private[graft] def baseComponentsTable(s: SparkSession, dir: String,
                                         force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table(s"base_components_${Artifacts.key(dir)}_t400", force) { (cat, table) =>
      val corpus = documents(s, dir).filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("set"))
      val pairs = Dedup.exactSimilarityPairs(corpus, "doc_id", threshold = 0.4)
      cat.overwrite(
        Dedup.connectedComponents(pairs.select("id_a", "id_b")), table)
    }

  /** q90's persisted prefix index over the corpus side of the q64
    * split. */
  private[graft] def prefixIndexTable(s: SparkSession, dir: String,
                                      force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table(s"prefix_index_${Artifacts.key(dir)}_t400", force) { (cat, table) =>
      Dedup.buildPrefixIndex(
        documents(s, dir).filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("set")),
        "doc_id", threshold = 0.4, cat, table)
    }

  /** q84's persisted corpus bloom. */
  private[graft] def bloomIndexTable(s: SparkSession, dir: String,
                                     force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("bloom_fp_" + Artifacts.key(dir), force) { (cat, table) =>
      graft.ops.BloomGate.buildBloomIndex(
        documents(s, dir).withColumn("fp", TF.fingerprint(col("text"))),
        "fp", cat, table, expectedItems = 65536L)
    }

  /** q96/q97's persisted PQ index (sim.Pq.buildPqIndex). */
  private[graft] def pqIndexTable(s: SparkSession, dir: String,
                                  force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("pq_" + Artifacts.key(dir), force) { (cat, prefix) =>
      graft.sim.Pq.buildPqIndex(embeddings(s, dir), cat, prefix,
        m = 16, k = 64, dim = 64, iters = 2)
    }

  /** q98's build-then-append PQ index: codebooks trained on the 90%
    * seed slice, the held-out 10% encoded against the FROZEN
    * codebooks and appended (Pq.appendToPqIndex). */
  private[graft] def pqAppendedIndexTable(s: SparkSession, dir: String,
                                          force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("pqa_" + Artifacts.key(dir), force) { (cat, prefix) =>
      val e = embeddings(s, dir)
      graft.sim.Pq.buildPqIndex(e.filter(col("vec_id") % 10 =!= 0), cat,
        prefix, m = 16, k = 64, dim = 64, iters = 2)
      graft.sim.Pq.appendToPqIndex(e.filter(col("vec_id") % 10 === 0), cat,
        prefix, m = 16, dim = 64)
    }

  /** q107's persisted inverted index. */
  private[graft] def invertedIndexTable(s: SparkSession, dir: String,
                                        force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("inv_" + Artifacts.key(dir), force) { (cat, prefix) =>
      graft.text.Retrieval.buildIndex(documents(s, dir), "doc_id", "text",
        cat, prefix, nBuckets = 64)
    }

  /** q77's persisted IVF index. */
  private[graft] def ivfIndexTable(s: SparkSession, dir: String,
                                   force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("ivf_" + Artifacts.key(dir), force) { (cat, prefix) =>
      graft.sim.Ann.buildIvfIndex(embeddings(s, dir), cat, prefix,
        nCentroids = 16)
    }

  /** q78's build-then-append IVF index. A rebuild is idempotent:
    * `buildIvfIndex` overwrites the lists, discarding any partial
    * append before it is replayed. */
  private[graft] def ivfAppendedIndexTable(s: SparkSession, dir: String,
                                           force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("ivfa_" + Artifacts.key(dir), force) { (cat, prefix) =>
      val e = embeddings(s, dir)
      // the base slice keeps vec_ids 0..15, so its default centroids
      // equal the full corpus' first-16 seed — the oracle's quantizer
      graft.sim.Ann.buildIvfIndex(e.filter(col("vec_id") < 100), cat,
        prefix, nCentroids = 16)
      graft.sim.Ann.appendToIvfIndex(e.filter(col("vec_id") >= 100), cat, prefix)
    }

  /** q72's JSONL dump of the documents table, written once. */
  private[queries] def jsonlExport(s: SparkSession, dir: String): String = {
    val name = "jsonl_" + Artifacts.key(dir)
    Artifacts.memo(name)(
      graft.sources.Sources.writeJson(documents(s, dir), Artifacts.path(name)))
    Artifacts.path(name)
  }

  /** q167's ORC dump of the documents table, exposed so Bench can time
    * the export as an explicit `q167_build` row. */
  private[graft] def orcExport(s: SparkSession, dir: String,
                               force: Boolean = false): String = {
    val name = "orc_" + Artifacts.key(dir)
    Artifacts.memo(name, force)(
      graft.sources.Sources.writeOrc(documents(s, dir), Artifacts.path(name)))
    Artifacts.path(name)
  }

  /** q176's two schema epochs: even doc_ids written under the EARLY
    * 3-column schema, odd under the full 5-column one. */
  private[graft] def schemaEpochs(s: SparkSession, dir: String): Seq[String] = {
    val name = "epochs_" + Artifacts.key(dir)
    val (e1, e2) = (Artifacts.path(name) + "/e1", Artifacts.path(name) + "/e2")
    Artifacts.memo(name) {
      val docs = documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").parquet(e1)
      docs.filter(col("doc_id") % 2 =!= 0)
        .write.mode("overwrite").parquet(e2)
    }
    Seq(e1, e2)
  }

  /** q171's bucketed orders/customer tables: the layout is the
    * artifact; the query's claim is that every later join on the
    * bucket key runs exchange-free. Catalog table names must be
    * identifiers, so the dir is folded to a lowercase tag. Stays
    * outside [[Artifacts.memo]]: the artifact is a registration in the
    * session catalog, which a marker file cannot vouch for, so both
    * tables are checked there. */
  private[graft] def bucketedTables(s: SparkSession, dir: String,
                                    force: Boolean = false): (String, String) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val (ot, ct) = (s"bkt_orders_$tag", s"bkt_customer_$tag")
    if (force || !Seq(ot, ct).forall(graft.catalog.Bucketed.exists(s, _))) {
      graft.catalog.Bucketed.write(orders(s, dir), ot,
        Artifacts.path(ot), "o_custkey", buckets = 8)
      graft.catalog.Bucketed.write(customer(s, dir), ct,
        Artifacts.path(ct), "c_custkey", buckets = 8)
    }
    (ot, ct)
  }

  /** Every `qNN_build` bench row: the artifact build it times, with its
    * arguments. Bench, BenchChild and BenchSf1 read their rows from
    * [[rows]]. The third argument is `force`: rebuild even when the
    * artifact is READY ([[Artifacts.memo]]). Declared as a list so a
    * repeated name stays visible to QueryRegistrySpec.
    *
    * Which queries read each row's artifact: the 0.4 pair graph
    * (q47_build) q47, q61, q67, q81, q82, q91, q123, q148, q155, q191,
    * q194, q195, q196, q201, q206; the 0.25 pair graph (q147_build)
    * q147, q158; standing components (q89_build) q89; prefix index
    * (q90_build) q89, q90; bloom (q84_build) q84; IVF (q77_build) q77,
    * q99; appended IVF (q78_build) q78; PQ (q96_build) q96, q97, q99;
    * appended PQ (q98_build) q98; inverted index (q107_build) q107,
    * q111; ORC export (q167_build) q167; bucketed tables (q171_build)
    * q171. */
  private[graft] val rowList
      : Seq[(String, (SparkSession, String, Boolean) => Unit)] = Seq(
    "q47_build" -> ((s, d, f) => pairGraphTable(s, d, 0.4, force = f)),
    "q89_build" -> ((s, d, f) => baseComponentsTable(s, d, force = f)),
    "q90_build" -> ((s, d, f) => prefixIndexTable(s, d, force = f)),
    "q84_build" -> ((s, d, f) => bloomIndexTable(s, d, force = f)),
    "q77_build" -> ((s, d, f) => ivfIndexTable(s, d, force = f)),
    "q78_build" -> ((s, d, f) => ivfAppendedIndexTable(s, d, force = f)),
    "q96_build" -> ((s, d, f) => pqIndexTable(s, d, force = f)),
    "q98_build" -> ((s, d, f) => pqAppendedIndexTable(s, d, force = f)),
    "q107_build" -> ((s, d, f) => invertedIndexTable(s, d, force = f)),
    "q147_build" -> ((s, d, f) => pairGraphTable(s, d, 0.25, force = f)),
    "q167_build" -> ((s, d, f) => orcExport(s, d, force = f)),
    "q171_build" -> ((s, d, f) => bucketedTables(s, d, force = f)))

  val rows: Map[String, (SparkSession, String, Boolean) => Unit] =
    rowList.toMap
}
