package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.{Curation, Dedup}
import graft.sim.{Ann, Vectors}
import graft.queries.SimQueries

/** Measured recall/precision of every APPROXIMATE operator against its
  * EXACT ground truth — the quantified replacement for "trust me, LSH
  * works". Since r8 every one of these operators ALSO carries a full
  * DuckDB hash oracle (the LCG plane replay / fixed-point Lloyd replay
  * in SparkEntry.oracleSql), so this table is no longer a correctness
  * substitute: the oracle proves the operator computed exactly what it
  * declares; the recall row proves the declaration approximates the
  * exact answer well. Run via:
  *
  *   sbt "runMain graft.RecallReport /root/testdata/sf0.01 docs/RECALL.md"
  *
  * The same measurement functions back `RecallSpec`, which pins lower
  * bounds in CI; this main regenerates the committed docs/RECALL.md.
  */
object RecallReport {
  final case class Metrics(op: String, params: String,
                           truth: Long, found: Long, hit: Long) {
    def recall: Double = if (truth == 0) 1.0 else hit.toDouble / truth
    def precision: Double = if (found == 0) 1.0 else hit.toDouble / found
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def m(op: String, params: String, truth: Set[(Long, Long)],
                found: Set[(Long, Long)]): Metrics =
    Metrics(op, params, truth.size, found.size, (truth & found).size)

  /** q20: MinHash-LSH vs exact shingle-Jaccard join. */
  def minhash(docs: DataFrame): Metrics = {
    val truth = pairSet(Dedup.exactShingleJaccardPairs(
      docs, "doc_id", "text", k = 3, threshold = 0.3))
    val found = pairSet(Dedup.minhashPairs(docs, "doc_id", "text",
      shingleK = 3, nHashes = 16, bands = 4, minJaccard = 0.3))
    m("q20 minhashPairs", "k=3 nHashes=16 bands=4 J>=0.3", truth, found)
  }

  /** q21: SimHash chunk-pigeonhole vs brute-force Hamming pairs. The
    * pigeonhole is EXACT for d <= maxHamming (a pair differing in <= d
    * of 64 bits must agree on one of d+1 chunks), so any recall < 1
    * here can only come from the maxBucket flood cap. */
  def simhash(docs: DataFrame): Metrics = {
    val sh = Dedup.withSimhash(
      docs.select(col("doc_id"), col("text")), "text", "sim")
      .select(col("doc_id"), col("sim"))
    val a = sh.select(col("doc_id").as("id_a"), col("sim").as("s_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sim").as("s_b"))
    val truth = pairSet(a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("s_a").bitwiseXOR(col("s_b"))) <= 3))
    val found = pairSet(Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
    m("q21 simhashPairs", "maxHamming=3 (4 chunks)", truth, found)
  }

  /** q23: hyperplane-LSH near-dup vs brute-force cosine pairs. */
  def embedding(emb: DataFrame): Metrics = {
    val v = emb.select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
    val a = v.select(col("vec_id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("vec_id").as("id_b"), col("v").as("v_b"))
    val truth = pairSet(a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(Vectors.cosine(col("v_a"), col("v_b")) >= 0.3))
    val found = pairSet(Dedup.embeddingPairs(emb, "vec_id", "embedding",
      threshold = 0.3, planesPerBand = 3, bands = 12))
    m("q23 embeddingPairs", "cos>=0.3 r=3 planes x b=12 bands", truth, found)
  }

  /** q25: multi-probe LSH top-k vs brute-force top-k (recall@k over
    * (query, neighbor) pairs). */
  def annTopK(emb: DataFrame): Metrics = {
    val q = emb.filter(col("vec_id") < 8)
    def pairs(df: DataFrame) = df.select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Ann.bruteForceTopK(emb, q, k = 5))
    val found = pairs(Ann.lshTopK(emb, q, k = 5, nPlanes = 4, nTables = 6))
    m("q25 lshTopK", "k=5 r=4 planes x L=6 tables probe-1", truth, found)
  }

  /** q76: int8-quantized brute-force top-k vs the float ranking —
    * quantifies exactly what 4x embedding compression costs in
    * neighbor fidelity (only boundary pairs whose cosine gap is
    * smaller than the quantization noise can flip). */
  def annInt8(emb: DataFrame): Metrics = {
    val q = emb.filter(col("vec_id") < 8)
    def pairs(df: DataFrame) = df.select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Ann.bruteForceTopK(emb, q, k = 5))
    val found = pairs(graft.sim.Quantize.bruteForceTopKInt8(emb, q, k = 5))
    m("q76 int8 bruteForceTopK", "k=5 symmetric per-vector int8",
      truth, found)
  }

  /** q104/q105: JL signed random projection (64→32) vs float cosine —
    * raw projected-space ranking, then the shortlist+rerank shape.
    * This corpus is JL's worst RANKING regime (near-isotropic: median
    * pairwise cosine ≈ 0, so neighbor gaps are far below the JL
    * distortion at any useful compression) — the numbers are the
    * honest measurement of that; JlSpec pins the >=0.9 recall JL
    * delivers on data with cluster structure. */
  def annJl(emb: DataFrame): Seq[Metrics] = {
    val q = emb.filter(col("vec_id") < 8)
    def pairs(df: DataFrame) = df.select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Ann.bruteForceTopK(emb, q, k = 5))
    val signs = SimQueries.jlSigns
    val raw = pairs(graft.sim.Jl.topK(emb, q, k = 5, signs))
    val rer = pairs(graft.sim.Jl.rerankTopK(emb, q, k = 5,
      shortlist = 100, signs))
    Seq(m("q104 jl topK", "k=5 64d->32d +-1 fixed-point projection",
        truth, raw),
      m("q105 jl rerankTopK", "k=5 shortlist=100 exact-cos rerank",
        truth, rer))
  }

  /** q96/q97: product-quantization ADC top-k (raw and reranked) vs
    * the float ranking — quantifies what 16-code (16× vs float32)
    * compression costs when the scan is pure integer LUT sums, and
    * what the shortlist-50 exact rerank buys back. */
  def annPq(emb: DataFrame): Seq[Metrics] = {
    val q = emb.filter(col("vec_id") < 8)
    def pairs(df: DataFrame) = df.select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Ann.bruteForceTopK(emb, q, k = 5))
    val cb = graft.sim.Pq.trainCodebooks(emb, m = 16, k = 64, dim = 64, iters = 2)
    val codes = graft.sim.Pq.encode(emb, cb, m = 16, dim = 64)
    val adc = pairs(graft.sim.Pq.adcTopK(codes, q, cb,
      m = 16, dim = 64, topK = 5))
    val rer = pairs(graft.sim.Pq.adcRerankTopK(emb, codes, q, cb,
      m = 16, dim = 64, shortlist = 50, topK = 5))
    val cents = emb.select(col("vec_id"), Vectors.asDouble(col("embedding")))
      .orderBy(col("vec_id")).limit(16)
      .toDF("cid", "cv")
    val probes = graft.sim.Ann.probeLists(q, cents, nProbe = 4)
    val lists = graft.sim.Ann.probeLists(emb, cents, nProbe = 1)
      .select(col("qid").as("vec_id"), col("list_id"))
    val ivfpq = pairs(graft.sim.Pq.ivfAdcRerankTopK(emb,
      lists.join(probes, Seq("list_id")), codes, q, cb,
      m = 16, dim = 64, shortlist = 20, topK = 5))
    Seq(m("q96 pq adcTopK", "k=5 m=16 blocks x 64 codes lloyd=2", truth, adc),
      m("q97 pq adcRerankTopK", "k=5 shortlist=50 exact-cos rerank",
        truth, rer),
      m("q99 ivfAdcRerankTopK",
        "k=5 probe 4/16 lists, ADC shortlist=20, exact rerank",
        truth, ivfpq))
  }

  /** q42: IVF inverted-list ANN vs brute-force top-k (recall@k over
    * (query, neighbor) pairs). */
  def ivfTopK(emb: DataFrame): Metrics = {
    val q = emb.filter(col("vec_id") < 8)
    def pairs(df: DataFrame) = df.select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Ann.bruteForceTopK(emb, q, k = 5))
    val found = pairs(Ann.ivfTopK(emb, q, k = 5, nCentroids = 16, nProbe = 4))
    m("q42 ivfTopK", "k=5 nCentroids=16 nProbe=4", truth, found)
  }

  /** q48: IVF with Lloyd k-means centroids vs brute-force top-k —
    * quantifies what data-adaptive fine quantization buys over q42's
    * placeholder at IDENTICAL scan fraction (64/256 = 4/16 = 25% of
    * the corpus per query). */
  def ivfKmeans(emb: DataFrame): Metrics = {
    val q = emb.filter(col("vec_id") < 8)
    def pairs(df: DataFrame) = df.select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Ann.bruteForceTopK(emb, q, k = 5))
    val cent = Ann.kmeansCentroids(emb, k = 256, iters = 2)
    val found = pairs(Ann.ivfTopK(emb, q, k = 5, nProbe = 64,
      centroids0 = Some(cent)))
    m("q48 ivfTopK kmeans",
      "k=5 nCentroids=256 nProbe=64 lloyd=2 (25% scan = q42)", truth, found)
  }

  /** q92: the LSH self k-NN join vs the exact k-NN graph (recall
    * over all (vector, neighbor) edges — every vector is a query;
    * the exact form is itself declared, oracle-gated, as q65). */
  def knnGraph(emb: DataFrame): Metrics = {
    def pairs(df: DataFrame) = df.select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Ann.bruteForceTopK(emb, emb, k = 5))
    val found = pairs(Ann.knnJoin(emb, k = 5))
    m("q92 knnJoin", "k=5 r=3 planes x L=16 tables, self-graph", truth, found)
  }

  /** q58: SemDeDup within-cluster pairs vs brute-force cosine pairs —
    * quantifies exactly what restricting candidates to k-means cells
    * costs (a cross-cluster true pair is the only possible miss;
    * precision is 1.0 by construction, every candidate is
    * exact-cosine verified). */
  def semantic(emb: DataFrame): Metrics = {
    val v = emb.select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
    val a = v.select(col("vec_id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("vec_id").as("id_b"), col("v").as("v_b"))
    val truth = pairSet(a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(Vectors.cosine(col("v_a"), col("v_b")) >= 0.3))
    val found = pairSet(Dedup.semanticPairs(emb, "vec_id", "embedding",
      threshold = 0.3, nClusters = 256, iters = 1, probes = 8))
    val n = emb.count()
    val mass = Dedup.semanticCandidates(emb, "vec_id", "embedding",
      nClusters = 256, iters = 1, probes = 8).count().toDouble / (n * (n - 1) / 2)
    m("q58 semanticPairs",
      f"cos>=0.3 k-means 256 cells probe-8 lloyd=1 mass=$mass%.2f of all pairs",
      truth, found)
  }

  /** q50: removal recall of the full LSH curation chain
    * ([[Curation.curateLsh]]) against the SAME chain with exact
    * shingle-Jaccard pairs — both resolve transitive components, so
    * any miss is attributable to MinHash banding alone. The params
    * column carries the measured funnel (input → lang+quality →
    * exact-dedup → near-dedup kept). */
  def curationChain(docs: DataFrame): Metrics = {
    val cfg = Curation.Config()
    val filtered = docs.filter(
      Curation.langOk(col("lang"), cfg) && Curation.qualityOk(col("text"), cfg))
    val exact = Dedup.exactDedup(filtered, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def removed(pairs: DataFrame): Set[Long] =
      Dedup.connectedComponents(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id")).collect().map(_.getLong(0)).toSet
    val truth = removed(Dedup.exactShingleJaccardPairs(exact, "doc_id", "text",
      k = cfg.shingleK, threshold = cfg.minJaccard))
    val found = removed(Dedup.minhashPairs(exact, "doc_id", "text",
      shingleK = cfg.shingleK, nHashes = cfg.nHashes, bands = cfg.bands,
      minJaccard = cfg.minJaccard))
    val (nIn, nF, nE) = (docs.count(), filtered.count(), exact.count())
    exact.unpersist()
    m("q50 curateLsh removals",
      s"J>=${cfg.minJaccard} k=${cfg.shingleK} b=${cfg.bands} " +
        s"funnel $nIn->$nF->$nE->${nE - found.size}",
      truth.map(i => (i, i)), found.map(i => (i, i)))
  }

  /** q128: sorted-neighborhood blocking vs the EXACT edit-distance
    * join (q55's PassJoin, recall-1.0 structural) over the same
    * 48-char title key at the same threshold. The only possible miss
    * is the method's textbook weakness — a true near-dup pair whose
    * early-character edits push the two titles further than `window`
    * apart in sort order — so this row is the measured size of that
    * blind spot on this corpus, the number a user trades against the
    * method's zero-candidate-explosion cost profile. */
  def sortedNeighborhoodRecall(docs: DataFrame): Metrics = {
    val titles = docs.select(col("doc_id"),
      substring(col("text"), 1, 48).as("title"))
    val truth = pairSet(graft.dedup.FuzzyJoin.editDistancePairs(
      titles, "doc_id", "title", maxDist = 2))
    val found = graft.dedup.SortedNeighborhood.duplicatePairs(
        titles, "doc_id", "title",
        window = 3, levPrefix = 48, threshold = 2)
      .select(least(col("a_id"), col("b_id")).as("id_a"),
        greatest(col("a_id"), col("b_id")).as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    m("q128 sortedNeighborhood", "lev<=2 on 48-char title, window=3",
      truth, found)
  }

  /** q157: winnowing candidate pairs vs the EXACT char-5-gram Jaccard
    * pairs (q24's ground truth, itself DuckDB-oracled). Winnowing is
    * a CANDIDATE generator — precision is diagnostic only (candidates
    * are meant to be verified downstream); the recall is the quality
    * claim: Schleimer's guarantee says any shared run of
    * window+shingleK-1 tokens shares a fingerprint, so a true
    * high-Jaccard pair is only missed when its overlap is scattered
    * in runs shorter than that, or a shared fingerprint is flood-
    * capped. */
  def winnowRecall(docs: DataFrame): Metrics = {
    val truth = pairSet(Dedup.exactNgramJaccardPairs(
      docs, "doc_id", "text", n = 5, threshold = 0.4))
    val found = pairSet(graft.text.Winnow.candidatePairs(
      docs, "doc_id", "text", shingleK = 3, window = 4, minShared = 2))
    m("q157 winnow candidatePairs",
      "truth J>=0.4 char-5-grams; k=3 w=4 minShared=2", truth, found)
  }

  def all(spark: SparkSession, sfDir: String): Seq[Metrics] = {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    Seq(minhash(docs), simhash(docs), embedding(emb), annTopK(emb),
      ivfTopK(emb), ivfKmeans(emb), annInt8(emb)) ++ annPq(emb) ++
      annJl(emb) ++ Seq(semantic(emb), knnGraph(emb), curationChain(docs),
        sortedNeighborhoodRecall(docs), winnowRecall(docs))
  }

  /** The scales the doc AND `RecallSpec` both measure at — one source
    * of truth so the committed table can never drift from the pinned
    * CI bounds (the round-2 doc was generated at a different sf than
    * the spec ran at, and disagreed). */
  val specScales: Seq[String] =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "docs/RECALL.md"
    // guard against the historical arg shape `<sfDir> <out>`: scales
    // are fixed by specScales, so a directory here is a stale call
    require(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(out)),
      s"'$out' is a directory — pass the report FILE path; " +
        s"measurement scales are fixed to ${specScales.mkString(", ")}")
    val spark = Sessions.local("8")
    // table rows are built OUTSIDE any stripMargin template: interpolated
    // multi-line blocks lose each row's leading '|' to margin stripping
    val tableHeader =
      "| operator | parameters | truth pairs | found | recall | precision |\n" +
        "|---|---|---|---|---|---|"
    val sections = specScales.map { sfDir =>
      val rows = all(spark, sfDir).map { x =>
        f"| ${x.op} | ${x.params} | ${x.truth} | ${x.found} | ${x.recall}%.3f | ${x.precision}%.3f |"
      }
      s"## `$sfDir`\n\n$tableHeader\n${rows.mkString("\n")}"
    }
    val header =
      """# RECALL — approximate operators vs exact ground truth
        |
        |Generated by `graft.RecallReport` (re-run:
        |`sbt "runMain graft.RecallReport docs/RECALL.md"`) at BOTH scales
        |`RecallSpec` pins in CI — the spec asserts lower bounds on the
        |same measurement functions at the same scales, so this table and
        |a green test suite cannot disagree. Every approximate operator
        |is measured against an exact, brute-force or prefix-filter
        |ground truth computed in the same session. (Correctness is
        |gated separately: since r8 each of these operators also has a
        |full DuckDB hash oracle replaying its exact arithmetic.)
        |""".stripMargin
    val notes =
      """
        |Notes:
        |- **q20 / q24**: the exact ground truth is
        |  `Dedup.exactSimilarityPairs` (rarest-first prefix filtering —
        |  AllPairs/PPJoin), itself oracle-verified against a DuckDB
        |  all-pairs join (q24 in CORRECTNESS). Precision is 1.0 by
        |  construction: every LSH candidate is verified with the exact
        |  set Jaccard before emission.
        |- **q21**: chunk pigeonholing is exact for Hamming <= maxHamming;
        |  recall < 1.0 is only possible via the `maxBucket` flood cap, so
        |  the measured 1.0 is structural, not lucky.
        |- **q23**: banded hyperplane LSH (r planes x b bands, candidates
        |  from ANY band) — keep-probability 1-(1-p^r)^b with p = 1-θ/π.
        |  Raise r for selectivity as the corpus grows, b for recall.
        |- **q25 / q42**: q25 amplifies across L independent hash tables
        |  plus Hamming-1 probing; q42 (IVF) probes the nProbe nearest
        |  inverted lists. Both verified with exact cosine on candidates.
        |- **q48**: same scan fraction as q42 (nProbe/nCentroids = 25%)
        |  but 16x finer quantization + 2 Lloyd rounds. Negative results
        |  (measured, not assumed): farthest-first, k-means++ D2, and
        |  md5-ranked spread inits all recall WORSE than lowest-id +
        |  Lloyd here (0.40-0.73 at k=16); fineness, not seed spread, is
        |  what buys IVF recall at fixed scan cost.
        |- **q76**: int8 quantization. BOTH q75 (the per-element
        |  quantization) and q76 itself (the full int8 ranking) are
        |  ORACLE-gated — the integer arithmetic replays in DuckDB —
        |  so this row is NOT a correctness gate (no RecallSpec bound):
        |  it measures what the 4x compression costs the k-NN ranking
        |  vs the FLOAT ground truth. The scales cancel out of the
        |  approximate cosine entirely — the score is the cosine of the
        |  integer vectors. The corpus is near-uniform, so top-k cosine
        |  gaps sit at the quantization noise floor: 0.975 here is the
        |  WORST regime, clustered corpora lose less.
        |- **q92**: the LSH self k-NN graph (its exact twin is the
        |  oracle-gated q65) — every vector is a query, so
        |  there is no broadcastable probe side; candidates come from a
        |  symmetric bucket self-join over L independent tables and each
        |  vector's top-k is a k-bounded heap aggregate (map-side
        |  pruned), never a window over candidate partitions. Candidate
        |  mass ~ n^2 L/2^r, so r scales with the corpus; the measured
        |  curve: r=3 x L=16 = 0.98 (DEFAULT — the graph is built once
        |  and consumed many times, so recall is worth the one-time 2x
        |  candidate mass), r=4 x L=16 = 0.90 at half the candidates,
        |  r=4 x L=24 = 0.96 at 1.5x, r=2 x L=12 = 0.995 at 8x.
        |- **q58**: SemDeDup (cluster-then-pair, top-`probes` cell
        |  multi-assignment) — recall loss is exactly the true pairs
        |  whose members share no probed cell; precision 1.0 by
        |  construction (exact-cosine verify). Defaults apply q48's
        |  fineness lesson at MINIMUM mass, not maximum recall: finer
        |  cells lift recall while mass (≈ p²/k, the scale-sensitive
        |  term) FALLS — the sweep: 256 cells x probe-8 (DEFAULT)
        |  0.952-0.955 @ 0.21 mass; 128 x probe-8 0.945-0.947 @ 0.38;
        |  192 x probe-8 0.93-0.95 @ 0.27; 256 x probe-6 0.90-0.92
        |  @ 0.12; 128 x probe-12 0.994-0.996 @ 0.66 (the
        |  recall-critical point — 3x the default's verification
        |  work); the original 64 x probe-6 sat at 0.92 @ 0.44. The
        |  params column carries the MEASURED candidate mass as a
        |  fraction of n(n-1)/2. The test corpus only exercises the
        |  weak-similarity regime (no pairs above cos 0.5 exist), where
        |  density blocking is structurally at its worst; on tight
        |  duplicate balls (cos >= 0.9, SemDeDup's actual regime)
        |  boundary splits are rare — planted-ball recall 1.0 at
        |  single-probe cost, pinned in DedupSpec.
        |- **q50**: the flagship curation chain end-to-end (language ->
        |  quality -> exact dedup -> LSH near-dup components). Recall is
        |  over REMOVED doc ids vs the exact-shingle-join chain with the
        |  same transitive-component semantics, so a miss isolates
        |  MinHash banding loss; the funnel in the params column is the
        |  measured per-stage survivor count.
        |- **q104/q105**: JL ±1 projection, 64d -> 32d over L2-normalized
        |  2^14 fixed-point codes. The LOW raw numbers are the honest
        |  measurement of JL's worst ranking regime — this corpus is
        |  near-isotropic (median pairwise cosine ≈ 0; float-JL replay
        |  measures the same 0.1-0.2 raw recall), so neighbor gaps sit
        |  below the distortion at any useful compression. On clustered
        |  (low-intrinsic-dimension) data — where real embedding corpora
        |  live — JlSpec pins >= 0.9 at 4x compression. For structureless
        |  corpora the library's high-fidelity reduced-width path is PQ
        |  (q96-q99); JL's niche is the cheapest possible first-pass
        |  distance sketch plus exact rerank.
        |- **q128**: sorted-neighborhood blocking vs the EXACT
        |  edit-distance join (q55's PassJoin segment pigeonhole —
        |  recall 1.0 structural, itself oracle-gated) over the same
        |  48-char title key at the same lev <= 2 threshold. The only
        |  loss mode is a true pair whose early-character edits push
        |  the titles >= window apart in sort order — the method's
        |  textbook blind spot, here a measured number (one such pair
        |  exists at sf0.001). Precision 1.0: window pairs are
        |  Levenshtein-verified before emission.
        |- **q157**: winnowing candidate pairs vs q24's exact
        |  char-5-gram Jaccard pairs (J >= 0.4). Winnowing is a
        |  CANDIDATE GENERATOR — the ~0.25 precision is diagnostic
        |  (collision mass), not a defect; recall is the quality
        |  claim, backed by Schleimer's guarantee (any shared token
        |  run of window+k-1 shares a fingerprint). A miss would need
        |  overlap scattered in runs shorter than that, or a
        |  flood-capped fingerprint; the measured 1.0/1.0 says
        |  neither occurs for true J >= 0.4 pairs on this corpus.
        |""".stripMargin
    val md = header + "\n" + sections.mkString("\n\n") + "\n" + notes
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), md)
    println(md)
    spark.stop()
  }
}
