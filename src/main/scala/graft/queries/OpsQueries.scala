package graft
package queries

import org.apache.spark.sql.functions._
import graft.mm.Multimodal
import graft.ops.Exact
import graft.text.{TextFunctions => TF}

/** Data-pipeline operator queries: sampling, mixtures, packing, skew,
  * sketches, merges, snapshots, splits, event streams and the
  * file/table sources — [[graft.ops]], [[graft.sources]],
  * [[graft.catalog]]. */
object OpsQueries {
  import Tables._
  import Shared.splitFractions
  import Builds.{bloomIndexTable, jsonlExport, orcExport, schemaEpochs}

  /** q74's declared budgets — src2 upsamples (~2.7 supplies), src5
    * lands exactly where its remainder prefix ends mid-domain, src9
    * is subset-only, src11 is a sliver; one list for query + oracle. */
  private val epochBudgets: Map[String, Long] =
    Map("src2" -> 3500L, "src5" -> 2500L, "src9" -> 700L, "src11" -> 150L)

  /** q71's declared mixture: one budget list consumed by both the
    * Spark query and its oracle, so the kept sets cannot drift. */
  private val mixtureBudgets: Map[String, Long] =
    Map("src0" -> 400L, "src1" -> 250L, "src7" -> 600L, "src13" -> 100L)

  val specs: Seq[QuerySpec] = Seq(
    // Bin-blocked RANGE join (ops.RangeJoin): purchase attribution —
    // for each purchase event, every click by the same user in the
    // hour before it. The range predicate becomes an equi-join on
    // (hour bin, user_id) — shuffled hash join, no nested loop, no
    // broadcast of a whole side (plan-pinned in RangeJoinSpec) — with
    // the exact half-open predicate as a residual filter. The oracle
    // runs the naive theta join.
    QuerySpec("q56_range_join")((s, dir) => {
      val hourUs = 3600L * 1000000L
      val ev = events(s, dir)
      // NTZ → TIMESTAMP under the pinned UTC session = the same naive
      // epoch DuckDB's epoch_us computes
      val micros = unix_micros(col("ts").cast("timestamp"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), micros.as("t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), micros.as("pt"))
        .withColumn("ws", col("pt") - lit(hourUs))
      graft.ops.RangeJoin.pointInInterval(clicks, purchases,
          col("t"), col("ws"), col("pt"), binWidth = hourUs,
          equiKeys = Seq("user_id"))
        .select(col("purchase_id"), col("click_id"),
          (col("pt") - col("t")).as("gap_micros"))
    })(
      // Naive theta-join ground truth for the bin-blocked range join.
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.t - c.t AS gap_micros
        |FROM e p JOIN e c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.t >= p.t - 3600000000 AND c.t < p.t""".stripMargin),

    // Domain-level curation gate (ops.DomainGate): RefinedWeb-style
    // per-source stats — within-domain duplicate mass, mean length,
    // modal-language share — and the wholesale keep/drop decision.
    QuerySpec("q102_source_gate")((s, dir) =>
      graft.ops.DomainGate.sourceGate(documents(s, dir), "source",
        "text", "lang", "n_chars", maxDupFrac = 0.1,
        minMeanChars = 290.0, minModalFrac = 0.40))(
      """WITH base AS (SELECT source, count(*) AS n_docs,
        |    count(DISTINCT text) AS n_distinct,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY 1),
        |modal AS (SELECT source, lang AS modal_lang, lc AS modal_cnt
        |  FROM (SELECT source, lang, lc, row_number() OVER (
        |      PARTITION BY source ORDER BY lc DESC, lang ASC) AS rn
        |    FROM (SELECT source, lang, count(*) AS lc FROM documents
        |      GROUP BY 1, 2)) WHERE rn = 1)
        |SELECT b.source, b.n_docs,
        |  b.n_docs - b.n_distinct AS n_dup,
        |  CAST(b.n_docs - b.n_distinct AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    AS dup_frac,
        |  CAST(b.sum_chars AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    AS mean_chars,
        |  m.modal_lang,
        |  CAST(m.modal_cnt AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    AS modal_frac,
        |  CAST(CASE WHEN
        |      CAST(b.n_docs - b.n_distinct AS DOUBLE)
        |        / CAST(b.n_docs AS DOUBLE) <= 0.1
        |      AND CAST(b.sum_chars AS DOUBLE)
        |        / CAST(b.n_docs AS DOUBLE) >= 290.0
        |      AND CAST(m.modal_cnt AS DOUBLE)
        |        / CAST(b.n_docs AS DOUBLE) >= 0.40
        |    THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM base b JOIN modal m USING (source)""".stripMargin),

    // Corpus snapshot reconciliation (ops.Snapshot.diff): two
    // deterministically-derived snapshots of the documents table
    // (old drops doc_id%7==0; new drops %5==0 and revises %11==0)
    // diffed by content fingerprint — added/removed/changed/unchanged
    // per id, digests move, bodies don't.
    QuerySpec("q134_snapshot_diff")((s, dir) => {
      val d = documents(s, dir)
      val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      graft.ops.Snapshot.diff(oldSnap, newSnap, "doc_id", Seq("text"))
    })(
      // The diff spelled as a FULL OUTER id join; text equality stands
      // in for the md5-fingerprint equality (same verdict, no collision
      // at oracle scale).
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END
        |    AS text
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin),

    // Domain-grouped split (ops.Splits.leakageSafeSplit with source
    // as the group): every doc of a source lands on the SAME side —
    // the split that stops near-duplicate/domain leakage across
    // train/val/test when the leak unit is the domain, not the dup
    // cluster (q81's component form covers that one). Same operator,
    // different group frame — the seam is the point.
    QuerySpec("q141_group_split")((s, dir) => {
      val d = documents(s, dir)
      graft.ops.Splits.leakageSafeSplit(d, "doc_id",
          d.select(col("doc_id"), col("source")), "doc_id", "source",
          splitFractions)
        .select(col("doc_id"), col("grp"), col("split"))
    })(
      // The q81 split CASE keyed on source instead of the dup group.
      s"""SELECT doc_id, source AS grp,
         |  ${graft.ops.Splits.sql.splitCase("source", splitFractions)}
         |    AS split
         |FROM documents""".stripMargin),

    // ORC round trip (Sources.writeOrc/readOrc): q72's lossless-
    // interchange contract over the OTHER columnar warehouse format —
    // Hive-native shops hand pipelines ORC, not parquet. Same
    // artifact-once discipline as the JSONL dump.
    QuerySpec("q167_orc_roundtrip")((s, dir) =>
      graft.sources.Sources.readOrc(s, orcExport(s, dir)))(
      // Round-trip identity again, over the ORC write→read.
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),

    // Z-order layout skip report (ops.ZOrder): per z-bucket bounding
    // boxes over (user, day) plus the exact file-pruning decision a
    // min/max reader makes for one box query — the measurable form of
    // "multi-dimensional clustering makes box scans cheap". The
    // z-value is plain integer bit arithmetic; ZOrder.zValueSql emits
    // the SAME term expansion the oracle runs, so the two cannot
    // drift.
    QuerySpec("q168_zorder_skip")((s, dir) => {
      val ev = events(s, dir).select(
        pmod(col("user_id"), lit(256L)).as("xd"),
        pmod(datediff(to_date(col("ts")),
          lit("1970-01-01").cast("date")).cast("long"), lit(256L)).as("yd"))
      val stats = graft.ops.ZOrder.bucketStats(ev, "xd", "yd",
        bits = 8, bucketShift = 8)
      graft.ops.ZOrder.boxSkipReport(stats, 32, 63, 16, 23)
    })(
      // The bit-interleave replayed term by term (ZOrder.zValueSql is
      // the shared expansion), then the same bucket group-by and the
      // same bbox-overlap pruning test.
      s"""WITH e AS (SELECT user_id % 256 AS x,
         |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 256 AS y
         |  FROM events),
         |z AS (SELECT x, y,
         |  ${graft.ops.ZOrder.zValueSql("x", "y", 8)} AS z FROM e),
         |b AS (SELECT z >> 8 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y FROM z GROUP BY 1)
         |SELECT bucket, n_rows, min_x, max_x, min_y, max_y,
         |  (max_x >= 32 AND min_x <= 63 AND max_y >= 16 AND min_y <= 23)
         |    AS touched
         |FROM b""".stripMargin),

    // Schema-evolution read (Sources.readParquetMerged): two parquet
    // epochs written under different schemas (the corpus grew source
    // and n_chars columns mid-life) reconciled by mergeSchema — old
    // epochs carry NULL for columns they predate, and the whole
    // unioned frame is hash-gated.
    QuerySpec("q176_schema_evolution")((s, dir) =>
      graft.sources.Sources.readParquetMerged(s, schemaEpochs(s, dir))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")))(
      // The evolved columns are NULL exactly where the early epoch
      // (even doc_ids) predates them.
      """SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE source END AS source,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars
        |FROM documents""".stripMargin),

    // Behavioral path mining (ops.Paths.sessionPathTrigrams): every
    // within-session event-type trigram with its corpus frequency —
    // q121's funnel asks about ONE prescribed path, this surfaces all
    // of them. q17's session rule verbatim; |types|^3-bounded output.
    QuerySpec("q153_path_trigrams")((s, dir) =>
      graft.ops.Paths.sessionPathTrigrams(events(s, dir), "user_id",
        "ts", "event_id", "event_type"))(
      // q17's session window (datediff-second gap, the floor-second
      // match to unix_timestamp) + two leads guarded to the session.
      """WITH g AS (SELECT user_id, event_id, ts, event_type,
        |  datediff('second', lag(ts) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
        |  FROM events),
        |t AS (SELECT *, sum(CASE WHEN gap IS NULL OR gap > 1800
        |    THEN 1 ELSE 0 END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS UNBOUNDED PRECEDING) AS sess FROM g),
        |l AS (SELECT event_type AS e1,
        |  lead(event_type, 1) OVER w AS e2,
        |  lead(sess, 1) OVER w AS s2,
        |  lead(event_type, 2) OVER w AS e3,
        |  lead(sess, 2) OVER w AS s3, sess
        |  FROM t WINDOW w AS
        |    (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1, e2, e3, count(*) AS n_paths FROM l
        |WHERE s2 = sess AND s3 = sess
        |GROUP BY 1, 2, 3""".stripMargin),

    // k-anonymity gate (ops.Privacy.kAnonymize): (lang, source)
    // combinations carried by < 5 docs mask to '*' — the
    // re-identification check run before metadata ships alongside
    // text. One combo-count aggregate + null-safe join back.
    QuerySpec("q149_k_anonymity")((s, dir) =>
      graft.ops.Privacy.kAnonymize(documents(s, dir), "doc_id",
        Seq("lang", "source"), k = 5))(
      // One combo-count CTE, the same <5 mask.
      """WITH c AS (SELECT lang, source, count(*) AS combo_n
        |  FROM documents GROUP BY 1, 2)
        |SELECT d.doc_id,
        |  CASE WHEN c.combo_n < 5 THEN '*' ELSE d.lang END AS lang,
        |  CASE WHEN c.combo_n < 5 THEN '*' ELSE d.source END AS source,
        |  CAST(c.combo_n AS BIGINT) AS combo_n,
        |  c.combo_n < 5 AS suppressed
        |FROM documents d
        |JOIN c ON c.lang IS NOT DISTINCT FROM d.lang
        |      AND c.source IS NOT DISTINCT FROM d.source""".stripMargin),

    // CDC apply / batch MERGE INTO (ops.Merge.applyChanges): fold a
    // keyed I/U/D feed into the standing table — untouched rows pay
    // one broadcast anti-join and stream through unshuffled. Feed
    // synthesized deterministically: %5==4 insert, %7==0 update
    // (n_chars + 1000), %11==0 (and not updated) delete.
    QuerySpec("q150_cdc_merge")((s, dir) => {
      val d = documents(s, dir)
      val standing = d.filter(col("doc_id") % 5 =!= 4)
      val changes = d.filter(col("doc_id") % 5 === 4)
        .withColumn("op", lit("I"))
        .unionByName(standing.filter(col("doc_id") % 7 === 0)
          .withColumn("n_chars", col("n_chars") + lit(1000L))
          .withColumn("op", lit("U")))
        .unionByName(standing
          .filter(col("doc_id") % 11 === 0 && col("doc_id") % 7 =!= 0)
          .withColumn("op", lit("D")))
      graft.ops.Merge.applyChanges(standing, changes, "doc_id")
    })(
      // The same deterministic feed, folded with NOT IN + UNION ALL.
      """WITH standing AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
        |ins AS (SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 5 = 4),
        |upd AS (SELECT doc_id, text, lang, source,
        |  CAST(n_chars + 1000 AS BIGINT) AS n_chars
        |  FROM standing WHERE doc_id % 7 = 0),
        |del AS (SELECT doc_id FROM standing
        |  WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0),
        |touched AS (SELECT doc_id FROM ins UNION SELECT doc_id FROM upd
        |  UNION SELECT doc_id FROM del)
        |SELECT s.doc_id, s.text, s.lang, s.source, s.n_chars
        |FROM standing s
        |WHERE s.doc_id NOT IN (SELECT doc_id FROM touched)
        |UNION ALL SELECT * FROM ins
        |UNION ALL SELECT * FROM upd""".stripMargin),

    // Burst detection (ops.Bursts.burstScore): hourly event-type
    // volume vs its trailing-6-bin baseline, fixed-point ratio,
    // bursts at 2.0x — the raw stream is touched once (the count);
    // the window runs on the telemetry-scale bin frame.
    QuerySpec("q135_burst_detect")((s, dir) =>
      graft.ops.Bursts.burstScore(events(s, dir), "ts", "event_type",
        binSeconds = 3600, trail = 6, threshold = 20000))(
      // The q56 epoch-bin convention + a RANGE window baseline and the
      // same integer ratio.
      """WITH b AS (SELECT event_type,
        |  epoch_us(ts) // 3600000000 AS bin, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT *, sum(n) OVER (PARTITION BY event_type ORDER BY bin
        |    RANGE BETWEEN 6 PRECEDING AND 1 PRECEDING) AS tn FROM b)
        |SELECT event_type, CAST(bin AS BIGINT) AS bin,
        |  CAST(n AS BIGINT) AS n,
        |  CAST(COALESCE(tn, 0) AS BIGINT) AS trail_n,
        |  CAST(CASE WHEN COALESCE(tn, 0) > 0 THEN (n * 6 * 10000) // tn
        |    END AS BIGINT) AS burst_fp,
        |  COALESCE((CASE WHEN COALESCE(tn, 0) > 0
        |    THEN (n * 6 * 10000) // tn END) >= 20000, FALSE) AS is_burst
        |FROM w""".stripMargin),

    // Concat-and-chunk sequence packing (ops.Packing): every doc's
    // position in the per-shard training-token stream — one shuffle on
    // the shard key, per-shard cumsum, layout reproduced bit-for-bit
    // by the oracle's window form. Shard count is the parallelism knob
    // (thousands at corpus scale; 8 here).
    QuerySpec("q60_sequence_pack")((s, dir) =>
      graft.ops.Packing.concatChunk(documents(s, dir), "doc_id",
        TF.tokenCount(col("text")), seqLen = 512, nShards = 8)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("start"), col("seq_id"), col("offset_in_seq")))(
      // The same per-shard cumulative layout in window form. Casts pin
      // BIGINT against pandas dtype skew (sum-over-window is HUGEINT).
      s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
         |  ${TF.sql.tokenCount("text")} AS n FROM documents)
         |SELECT doc_id, shard, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS start,
         |  CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    // 512 AS seq_id,
         |  CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    % 512 AS offset_in_seq
         |FROM t""".stripMargin),

    // Engine-portable WEIGHTED sampling (ops.Sampling): keep each doc
    // with probability ∝ its length signal (importance resampling by
    // quality weight) — per-row md5 uniform vs per-row hex cut, so the
    // exact kept set reproduces in any hex-md5 engine; report by lang.
    QuerySpec("q63_weighted_sample")((s, dir) => {
      val kept = graft.ops.Sampling.weightedMd5Sample(documents(s, dir),
        "doc_id", least(lit(1.0), col("n_chars") / lit(400.0)))
      kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    })(
      // Same per-row uniform (md5 first 8 hex) vs the same per-row
      // 8-digit hex cut; lexicographic == numeric on fixed-width hex.
      """WITH w AS (SELECT *,
        |  least(1.0, n_chars / 400.0) AS wt FROM documents),
        |cut AS (SELECT *,
        |  lpad(lower(to_hex(CAST(least(floor(wt * 4294967296.0), 4294967295)
        |    AS BIGINT))), 8, '0') AS threshold FROM w),
        |kept AS (SELECT * FROM cut
        |  WHERE wt >= 1.0
        |     OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < threshold)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM kept GROUP BY 1""".stripMargin),

    // Deterministic exactly-k-per-group sampling (ops.Sampling
    // .groupedMd5Sample): 20 docs per language by md5 rank — the
    // balanced-dataset primitive, selected through the bounded heap
    // (no per-group window sort; 5 groups here is exactly the
    // low-cardinality case the window form serializes on).
    QuerySpec("q66_grouped_sample")((s, dir) =>
      graft.ops.Sampling.groupedMd5Sample(
        documents(s, dir), "doc_id", Seq("lang"), k = 20))(
      // Window form over the same md5 permutation (id tiebreak is
      // unreachable: md5 collisions over distinct ids don't exist at
      // test scale, and the struct ordering breaks them identically).
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 20""".stripMargin),

    // Mergeable HLL distinct-count sketches (ops.Sketches): per-type
    // user sketches rolled up by merge — the medallion COUNT(DISTINCT)
    // that never rescans rows (SketchesSpec pins merge ≡ full-recompute
    // bit-equality and replay idempotence). Oracle-able because at
    // cardinalities ≪ 2^lgK the DataSketches HLL is in exact coupon
    // mode, so the estimate equals DuckDB's exact distinct count.
    QuerySpec("q62_sketch_rollup")((s, dir) => {
      val sk = graft.ops.Sketches.distinctSketch(
        events(s, dir), col("user_id"), Seq("event_type"))
      graft.ops.Sketches.rollup(sk, Seq("event_type"))
    })(
      """SELECT event_type, count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_distinct_est
        |FROM events GROUP BY 1""".stripMargin),

    // S1 ⊕ multimodal composition: the distributed ingest seam lands a
    // binary-payload manifest (url, payload, sha256, n_bytes) and the
    // media path consumes it batch-at-a-time — the end-to-end shape a
    // media-corpus pipeline runs (fetch → manifest → decode → features).
    // The url list is config-derived (the reference's month list,
    // raw.py), the fetcher is the deterministic offline Echo, and the
    // stub codec's features are a pure function of payload bytes — so
    // the WHOLE composition carries a full DuckDB oracle (the oracle
    // replays java.util.Arrays.hashCode over the url's ASCII codes
    // with 32-bit wraparound via list_reduce).
    QuerySpec("q51_ingest_media")((s, dir) => {
      import s.implicits._
      val urls = (0 until 48).map { i =>
        val ext = i % 3 match { case 0 => "png"; case 1 => "wav"; case _ => "mp4" }
        f"https://cdn.example.org/media/item_$i%04d.$ext"
      }
      val manifest = graft.sources.Ingest.land(s, urls, graft.sources.Ingest.Echo,
        batchId = "demo")
      val media = manifest.select(
        regexp_extract(col("url"), "item_(\\d+)\\.", 1).cast("long").as("doc_id"),
        when(col("url").endsWith(".png"), "image")
          .when(col("url").endsWith(".wav"), "audio")
          .otherwise("video").as("media_type"),
        col("payload"),
        lit("cdn").as("source")).as[Multimodal.MediaFile]
      Multimodal.extractFeatures(media).toDF()
    })(
      // Replays the composed ingest→decode path: the same config-derived
      // url manifest, payloads = url ASCII bytes (Echo), and the stub
      // codec's java.util.Arrays.hashCode replayed exactly — h starts at
      // 1, each step h = (31h + byte) mod 2^32 via list_reduce; the >>10
      // / >>20 arithmetic shifts of the SIGNED hash become floor
      // divisions of the unsigned form (exact because 2^k divides 2^32),
      // with the 2^31 sign correction applied where the modulus (240)
      // does not divide 2^32.
      """WITH manifest AS (
        |  SELECT i AS doc_id,
        |    CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS media_type,
        |    printf('https://cdn.example.org/media/item_%04d.%s', i,
        |      CASE i % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
        |        ELSE 'mp4' END) AS url
        |  FROM range(0, 48) t(i)
        |), hashed AS (
        |  SELECT *,
        |    list_reduce(
        |      list_prepend(CAST(1 AS BIGINT),
        |        list_transform(range(1, length(url) + 1),
        |          j -> CAST(ascii(substr(url, j, 1)) AS BIGINT))),
        |      (h, b) -> (31 * h + b) % 4294967296) AS hu,
        |    CAST(length(url) AS INT) AS n_bytes
        |  FROM manifest
        |)
        |SELECT doc_id, media_type, n_bytes,
        |  sha256(url) AS checksum,
        |  CAST(64 + (hu % 1024) AS INT) AS width,
        |  CAST(64 + ((hu // 1024) % 1024) AS INT) AS height,
        |  CAST(CASE WHEN media_type = 'video'
        |    THEN 1 + ((((hu // 1048576) - 4096 *
        |      (CASE WHEN hu >= 2147483648 THEN 1 ELSE 0 END)) % 240)
        |      + 240) % 240
        |    ELSE 1 END AS INT) AS n_frames,
        |  (hu % 256) / 255.0 AS mean_intensity
        |FROM hashed""".stripMargin),

    // Engine-portable stratified (language-rebalancing) sample:
    // per-stratum md5 thresholds, then the corpus report over the kept
    // rows — the reproducible-dataset-build primitive.
    QuerySpec("q45_stratified_sample")((s, dir) => {
      graft.ops.Sampling.stratifiedMd5Sample(documents(s, dir),
          "doc_id", "lang", Map("en" -> "8", "de" -> "4", "fr" -> "2"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("n_chars")) / count(lit(1))).as("avg_chars"))
    })(
      """SELECT lang, count(*) AS n_docs,
        | sum(n_chars)/count(*) AS avg_chars
        |FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE lang WHEN 'en' THEN '8' WHEN 'de' THEN '4'
        |            WHEN 'fr' THEN '2' ELSE '' END
        |GROUP BY 1""".stripMargin),

    // As-of (point-in-time) join: every event gets the user's most
    // recent purchase value/time at-or-before its timestamp — window
    // composition (ops.AsOf); oracle uses DuckDB's native ASOF JOIN.
    QuerySpec("q30_asof_purchase")((s, dir) => {
      graft.ops.AsOf.lastObservation(
        events(s, dir),
        partitionBy = Seq(col("user_id")),
        time = col("ts"), tiebreak = col("event_id"),
        isObservation = col("event_type") === "purchase",
        "last_purchase_value" -> col("value"),
        "last_purchase_ts" -> col("ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("last_purchase_value"), col("last_purchase_ts"))
    })(
      """WITH p AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT e.event_id, e.user_id, e.ts,
        |  p.value AS last_purchase_value, p.ts AS last_purchase_ts
        |FROM events e
        |ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin),

    // Engine-portable deterministic sampling: md5-threshold keep
    // decision (identical row set in any hex-md5 engine), then a
    // deterministic aggregate over the kept rows. The xxhash64-keyed
    // variant (ops.Sampling.hashSample) is the in-engine fast path;
    // this one exists so a sample drawn here is reproducible elsewhere.
    QuerySpec("q40_deterministic_sample")((s, dir) => {
      graft.ops.Sampling.md5Sample(orders(s, dir), "o_orderkey", "2")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumMoney(col("o_totalprice")).as("sum_total"))
    })(
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         | ${Exact.sql.sumMoney("o_totalprice")} AS sum_total
         |FROM orders
         |WHERE md5(CAST(o_orderkey AS VARCHAR)) < '2'
         |GROUP BY 1""".stripMargin),

    // Two-phase salted aggregation (skew remedy): partial agg on
    // (key, salt) spreads a hot key over 8 reducers, final agg on key
    // merges partials. Oracle is the plain one-phase GROUP BY —
    // proving the decomposition is exact.
    QuerySpec("q41_salted_agg")((s, dir) => {
      graft.ops.Skew.saltedAgg(lineitem(s, dir), "l_suppkey", buckets = 8,
        partials = Seq(
          "n_p" -> count(lit(1)),
          "qty_p" -> sum(col("l_quantity")),
          "price_c_p" -> sum(Exact.cents(col("l_extendedprice")))),
        finals = Seq(
          "n_items" -> sum(col("n_p")),
          "sum_qty" -> sum(col("qty_p")),
          "sum_price" -> (sum(col("price_c_p")) / lit(100.0))))
    })(
      """SELECT l_suppkey, count(*) AS n_items,
        | sum(l_quantity) AS sum_qty,
        | sum(round(l_extendedprice*100))/100.0 AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin),

    // Token-budget mixture build (graft.ops.Mixture): per-domain
    // md5-order document prefixes until each domain's token budget is
    // met. Spark runs the two-phase segmented prefix sum (no
    // one-reducer-per-domain window); the oracle replays the naive
    // window form — results are bit-identical.
    QuerySpec("q71_token_mixture")((s, dir) =>
      graft.ops.Mixture.tokenBudget(
        documents(s, dir)
          .withColumn("n_tokens", TF.tokenCount(col("text"))),
        "doc_id", "source", "n_tokens", mixtureBudgets))(
      // Naive window-cumsum ground truth for the two-phase mixture cut;
      // the budget CASE is generated from the same mixtureBudgets map
      // the Spark query consumes.
      s"""WITH t AS (SELECT doc_id, source,
         |  ${TF.sql.tokenCount("text")} AS n_tokens,
         |  md5(CAST(doc_id AS VARCHAR)) AS u FROM documents),
         |c AS (SELECT *, CAST(sum(n_tokens) OVER
         |  (PARTITION BY source ORDER BY u, doc_id) AS BIGINT)
         |  AS cum_tokens FROM t)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens < CASE source ${
               mixtureBudgets.toSeq.sorted.map { case (k, v) =>
                 s"WHEN '$k' THEN $v" }.mkString(" ")} ELSE -1 END""".stripMargin),

    // JSONL round-trip (graft.sources.Sources): write the documents
    // table as JSON-lines, read it back under the writer's schema, and
    // hash-compare against the original rows — the lossless-interchange
    // contract LLM pipelines assume of their JSONL corpora. The write
    // runs once per (JVM, source dir) — an artifact, like the pair
    // graph — so constructing the query's plan (Explain, plan audits,
    // bench reruns) is not a corpus rewrite each time; the bench's
    // first timed run pays the cold write, its min reflects the
    // steady-state read.
    QuerySpec("q72_jsonl_roundtrip")((s, dir) => {
      val docs = documents(s, dir)
      graft.sources.Sources.readJson(s, jsonlExport(s, dir), Some(docs.schema))
    })(
      // Round-trip identity: the JSONL write→read must reproduce the
      // source rows exactly.
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),

    // Supply-aware epoch mixture (Mixture.tokenBudgetEpochs): budgets
    // above a domain's token supply upsample it — full epochs for all
    // docs, one extra for the md5-order remainder prefix. n_epochs is
    // the manifest-recorded repeat factor; no duplicate rows
    // materialize.
    QuerySpec("q74_epoch_mixture")((s, dir) =>
      graft.ops.Mixture.tokenBudgetEpochs(
        documents(s, dir)
          .withColumn("n_tokens", TF.tokenCount(col("text"))),
        "doc_id", "source", "n_tokens", epochBudgets))(
      // Naive window form + per-domain supply totals; integer division
      // keeps every epoch count exact on both engines.
      s"""WITH t AS (SELECT doc_id, source,
         |  ${TF.sql.tokenCount("text")} AS n_tokens,
         |  md5(CAST(doc_id AS VARCHAR)) AS u FROM documents),
         |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS supply
         |  FROM t GROUP BY 1),
         |c AS (SELECT *, CAST(sum(n_tokens) OVER
         |  (PARTITION BY source ORDER BY u, doc_id) AS BIGINT) AS cum
         |  FROM t),
         |j AS (SELECT c.*, tot.supply,
         |  CASE c.source ${epochBudgets.toSeq.sorted.map { case (k, v) =>
               s"WHEN '$k' THEN $v" }.mkString(" ")} ELSE -1 END AS b
         |  FROM c JOIN tot USING (source))
         |SELECT doc_id, source, n_tokens,
         |  CAST(b // supply + CASE WHEN cum - n_tokens < b % supply
         |    THEN 1 ELSE 0 END AS BIGINT) AS n_epochs
         |FROM j
         |WHERE b >= 0 AND b // supply +
         |  CASE WHEN cum - n_tokens < b % supply THEN 1 ELSE 0 END >= 1
         |""".stripMargin),

    // Bloom-gated incremental ingest: which batch rows are NEW against
    // the corpus, by content fingerprint — the bloom (Spark's own
    // BloomFilterAggregate/MightContain runtime-filter expressions,
    // persisted once per corpus version like the pair graph) narrows
    // the probe set; an exact confirm join makes the OUTPUT exact, so
    // the whole gate carries a plain anti-join oracle. Zero corpus
    // shuffles: the corpus is scanned (bloom build, amortized) and
    // scanned (broadcast semi-join) — never exchanged.
    QuerySpec("q84_bloom_gate")((s, dir) => {
      val (cat, table) = bloomIndexTable(s, dir)
      val corpus = documents(s, dir)
        .withColumn("fp", TF.fingerprint(col("text")))
      val batch = documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
        .unionByName(documents(s, dir).filter(col("doc_id") >= 400)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" fresh")).as("text")))
        .withColumn("fp", TF.fingerprint(col("text")))
      graft.ops.BloomGate.newRowsFromCatalog(batch, corpus, "fp", cat, table)
        .select(col("doc_id"), col("fp"))
    })(
      // The bloom is a performance device only — the gate's OUTPUT is
      // the plain fingerprint anti-join, which is exactly this.
      s"""WITH corpus AS (SELECT ${TF.sql.fingerprint("text")} AS fp
         |  FROM documents),
         |batch AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 100
         |  UNION ALL
         |  SELECT doc_id + 10000, text || ' fresh' FROM documents
         |  WHERE doc_id >= 400),
         |b AS (SELECT doc_id, ${TF.sql.fingerprint("text")} AS fp FROM batch)
         |SELECT doc_id, fp FROM b
         |WHERE fp NOT IN (SELECT fp FROM corpus)""".stripMargin),

    // Heavy-hitter tokens — vocabulary-head / stopword discovery, and
    // the diagnosis step that feeds q41's salted aggregation. The
    // Misra-Gries summary bounds the exchange to partitions×cap rows
    // whatever the token cardinality; the exact confirm pass makes
    // the output a plain GROUP BY ... HAVING, which is the oracle.
    // Threshold = 0.2% of the token stream, floor-divided identically
    // on both engines.
    QuerySpec("q85_heavy_hitters")((s, dir) => {
      val toks = documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      graft.ops.HeavyHitters.frequentItemsRelative(
        toks, col("tok"), "tok", denom = 500L)
    })(
      // The summary is a narrowing device only — the gate's OUTPUT is
      // the plain frequency HAVING, which is exactly this.
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tk AS (SELECT tok FROM t WHERE tok <> '')
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk
        |GROUP BY tok
        |HAVING count(*) >= greatest(1, (SELECT count(*) FROM tk) // 500)"""
        .stripMargin),

    // Differential hot/cold join — q41's sibling for joins: the
    // MG-detected hot key (10% of orders pooled onto k=0, declared
    // identically in both engines) joins through a broadcast of its
    // dim slice and never enters an exchange; cold keys shuffle
    // without their straggler. The split is semantics-neutral, so the
    // oracle is the plain join.
    QuerySpec("q86_hotcold_join")((s, dir) => {
      import s.implicits._
      val big = orders(s, dir).select(
        when(col("o_custkey") % 10 === 0, lit(0L))
          .otherwise(col("o_custkey")).as("k"),
        col("o_orderkey"), col("o_totalprice"))
      val dim = customer(s, dir).filter(col("c_custkey") % 10 =!= 0)
        .select(col("c_custkey").as("k"), col("c_name"))
        .unionByName(Seq((0L, "pooled")).toDF("k", "c_name"))
      graft.ops.Skew.hotColdJoin(big, dim, "k", "inner", hotDenom = 50L)
    })(
      // Hot/cold routing is semantics-neutral — the output is the plain
      // join over the same declared key pooling.
      """WITH big AS (SELECT
        |  CASE WHEN o_custkey % 10 = 0 THEN 0 ELSE o_custkey END AS k,
        |  o_orderkey, o_totalprice FROM orders),
        |dim AS (SELECT c_custkey AS k, c_name FROM customer
        |  WHERE c_custkey % 10 <> 0
        |  UNION ALL SELECT 0, 'pooled')
        |SELECT k, o_orderkey, o_totalprice, c_name
        |FROM big JOIN dim USING (k)""".stripMargin),

    // Deterministic corpus shuffle — the training-order permutation
    // and round-robin shard deal, as an exact global rank. The oracle
    // runs the single-window form this operator exists to avoid; the
    // Spark plan ranks nBuckets hash ranges in parallel and never
    // funnels the corpus through one task (GlobalOrderSpec pins the
    // absence of a SinglePartition exchange).
    QuerySpec("q87_corpus_shuffle")((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"))
      graft.ops.GlobalOrder
        .deterministicShuffle(d, "doc_id", seed = "shuf42", nBuckets = 16)
        .select(col("doc_id"), col("pos"),
          pmod(col("pos"), lit(8L)).as("shard"))
    })(
      // The naive single-window rank IS the semantics; the Spark side
      // computes it bucketed. Same md5 text, same tiebreak.
      """WITH r AS (SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5('shuf42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |  - 1 AS pos FROM documents)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(pos % 8 AS BIGINT) AS shard FROM r""".stripMargin),

    // The standard training layout end-to-end: shuffle (q87's seeded
    // permutation) → round-robin shard deal → per-shard sequence
    // packing, composed so concatChunk's id IS the shuffled position
    // (its internal id%nShards becomes the deal, its within-shard
    // order the shuffled order). The doc_id traceback join is
    // elective — drop it and the plan is shuffle+pack only.
    QuerySpec("q88_shuffled_pack")((s, dir) => {
      val shuffled = graft.ops.GlobalOrder.deterministicShuffle(
        documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", seed = "pack7", nBuckets = 16)
      val packed = graft.ops.Packing.concatChunk(
        shuffled, "pos", TF.tokenCount(col("text")),
        seqLen = 512, nShards = 4)
      shuffled.select(col("doc_id"), col("pos").as("p"))
        .join(packed, col("p") === col("pos")).drop("p")
        .select(col("doc_id"), col("pos"), col("shard"), col("n_tokens"),
          col("start"), col("seq_id"), col("offset_in_seq"))
    })(
      // q87's permutation feeding q60's packing arithmetic — one window
      // chain, all-integer.
      s"""WITH r AS (SELECT doc_id, text,
         |  row_number() OVER (
         |    ORDER BY md5('pack7:' || CAST(doc_id AS VARCHAR)), doc_id)
         |  - 1 AS pos FROM documents),
         |t AS (SELECT doc_id, pos, pos % 4 AS shard,
         |  ${TF.sql.tokenCount("text")} AS n FROM r)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |  CAST(shard AS BIGINT) AS shard, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS start,
         |  CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) // 512 AS seq_id,
         |  CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) % 512
         |    AS offset_in_seq
         |FROM t WINDOW w AS (PARTITION BY shard ORDER BY pos
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""
        .stripMargin),
  )
}
