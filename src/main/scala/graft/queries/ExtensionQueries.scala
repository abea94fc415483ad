package graft.queries

import graft.operators.{Budget, Contamination, Dedup, Graph, Multimodal, Pack, Similarity}
import org.apache.spark.sql.functions._

/** Extension operators beyond the reference's surface (SURVEY.md §7.3 M6):
  * the LLM-training-data pipeline family.
  *
  * Oracle coverage: EVERY query here carries a DuckDB oracle. The
  * approximate/candidate paths follow one discipline:
  *   - candidate→verify outputs (x1 minhash, x2 simhash, x3 inverted
  *     index, x4 embedding LSH) are exact values (Jaccard / cosine), so
  *     the oracle is the brute-force all-pairs computation (quadratic,
  *     fine at the sf0.01 gate scale); gate parameters are chosen for
  *     full empirical recall (RecallProbe) so the oracle doubles as a
  *     recall TRIPWIRE — a sketch regression fails the gate loudly.
  *   - top-k ANN (x5 LSH, x9 IVF) gate against exact brute-force top-k.
  *   - sketch values (x8 HLL/quantile) gate as within-tolerance booleans.
  *   - multimodal plumbing (x6/x7) re-derives the deterministic stub
  *     features in SQL (sha256 + byte folds).
  * Production defaults keep the pruning parameters; only the gate entries
  * trade pruning for certainty (documented per query).
  *
  * The tripwires are LIVE, not vacuous: re-running the oracle compare
  * against the sf0.001 corpus (whose near-dup pairs sit at different
  * Hamming/cosine margins) fails exactly the three recall-sensitive
  * entries (x2 one pair short, x4 one pair short, x5 one rank swap) and
  * passes the other 62 — i.e., a sketch recall regression at the gate
  * fixture WILL surface as a loud gate failure, never a silent pass.
  */
object ExtensionQueries {
  import QueryDef.t

  // Shared oracle-SQL prelude: per-doc DISTINCT n-word shingle sets over
  // whitespace-tokenized text — the exact mirror of Dedup.shingles.
  /** The co-purchase pair pipeline every graph-family gate builds on:
    * distinct (order, part) incidences, per-order sorted item sets, one
    * in-row pair explode (never an op x op self-join on Spark's side),
    * pairs kept at co-purchase count >= 2. ONE definition for the ~10
    * graph gates that previously inlined it verbatim — the SQL oracles
    * keep their own copies by design (each gate's oracle is
    * self-contained), so the HAVING >= 2 threshold lives here and in
    * each oracle's `pc` CTE.
    */
  private def coPurchasePairs(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    val op = broadcast(t(s, dir, "orders").select(col("o_orderkey")))
      .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    op.groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("items"))
      .select(explode(expr(
        "flatten(transform(items, (x, i) -> " +
          "transform(slice(items, i + 2, size(items)), " +
          "y -> struct(x AS pa, y AS pb))))")).as("pr"))
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
  }

  /** Bidirected unweighted edge list over `coPurchasePairs` (each
    * undirected pair explodes to both orientations in one pass).
    */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    coPurchasePairs(s, dir).select(explode(array(
        struct(col("pa").as("src"), col("pb").as("dst")),
        struct(col("pb").as("src"), col("pa").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  private def shinglesCteN(n: Int, src: String = "documents"): String = {
    val cat = (0 until n).map(j => if (j == 0) "t[i]" else s"t[i+$j]")
      .mkString(" || ' ' || ")
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM $src
       |),
       |idx AS (
       |  SELECT doc_id, t, unnest(generate_series(1, len(t) - ${n - 1})) AS i
       |  FROM toks WHERE len(t) >= $n
       |),
       |sh AS (
       |  SELECT DISTINCT doc_id, $cat AS shingle FROM idx
       |)""".stripMargin
  }

  private val shinglesCte = shinglesCteN(3)

  // All-pairs exact Jaccard >= `thr` over the full shingle sets.
  private def bruteJaccardPairs(thr: Double, src: String = "documents"): String =
    s"""${shinglesCteN(3, src)},
       |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |p0 AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |pairs AS (
       |  SELECT id_a, id_b,
       |    round(inter::DOUBLE / (na.n + nb.n - inter), 4) AS jaccard
       |  FROM p0
       |  JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
       |  WHERE round(inter::DOUBLE / (na.n + nb.n - inter), 4) >= $thr
       |)""".stripMargin

  // Exact brute-force cosine top-10 vs the vec_id=0 query (same fold
  // discipline as e2_ann_topk) — the oracle for both approximate ANN paths.
  private val bruteTopKSql =
    """WITH dd AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |q AS (SELECT e AS qe FROM dd WHERE vec_id = 0)
      |SELECT vec_id, label,
      |  round(list_reduce(list_prepend(0.0, list_transform(range(1, len(e) + 1),
      |      i -> e[i] * qe[i])), (a, b) -> a + b)
      |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)),
      |        (a, b) -> a + b))
      |      * sqrt(list_reduce(list_prepend(0.0, list_transform(qe, x -> x * x)),
      |        (a, b) -> a + b))), 6) AS sim
      |FROM dd, q WHERE vec_id <> 0
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // Transitive closure over `pairs` + min-label per node (the component id).
  private val componentsCte =
    """edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT a AS node, a AS r FROM edges
      |  UNION
      |  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
      |),
      |labels AS (SELECT node, min(r) AS label FROM reach GROUP BY node)""".stripMargin

  val all: Map[String, QueryDef] = Map(

    // MinHash+LSH near-dup pairs with verified Jaccard.
    "x1_minhash_lsh" -> QueryDef(
      (s, dir) => Dedup.minHashLsh(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.2),
      Some(s"WITH ${bruteJaccardPairs(0.2)}\n" +
        "SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b")),

    // SimHash candidates -> exact-Jaccard verification (the candidate→verify
    // discipline; precision exact, sketch tunes only completeness). 8 bands
    // of 8 bits guarantee recall for Hamming <= 7 (pigeonhole); the
    // fixture's jaccard>=0.5 pairs all sit at Hamming <= 5 (measured r3), so
    // recall is total with margin. The bucket cap (64, family default)
    // drops only hot boilerplate-signature bands — near-dup pairs share
    // >= 3 of 8 bands incl. cold ones (verified: 25/25 at caps 32..128;
    // uncapped the hot buckets cost quadratic join time for zero recall).
    // TRIPWIRE (like x1): the oracle is brute-force all-pairs Jaccard, so
    // a simhash recall regression fails the gate loudly. Production
    // callers use the 4x16-bit default (65k buckets/band — the scale path
    // for billion-doc corpora).
    "x2_simhash" -> QueryDef(
      (s, dir) => Dedup.simHashNearDup(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
        maxHamming = 7, maxBucket = 64, bands = 8),
      Some(s"WITH ${bruteJaccardPairs(0.5)}\n" +
        "SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b")),

    // Exact n-gram Jaccard via inverted index on rare shingles.
    // Oracle mirrors the df<=maxDf(64) boilerplate exclusion: union counts
    // over each doc's df<=64 shingles, intersection over shared (df>=2) ones.
    "x3_ngram_jaccard" -> QueryDef(
      (s, dir) => Dedup.ngramJaccard(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.2),
      Some(s"""WITH $shinglesCte,
              |dfc AS (SELECT shingle, count(*) AS c FROM sh GROUP BY shingle),
              |kept AS (SELECT doc_id, sh.shingle, c FROM sh JOIN dfc USING (shingle) WHERE c <= 64),
              |n AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
              |p0 AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  WHERE a.c >= 2
              |  GROUP BY 1, 2
              |)
              |SELECT id_a, id_b,
              |  round(inter::DOUBLE / (na.n + nb.n - inter), 4) AS jaccard
              |FROM p0 JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
              |WHERE round(inter::DOUBLE / (na.n + nb.n - inter), 4) >= 0.2
              |ORDER BY id_a, id_b""".stripMargin)),

    // Embedding-cosine near-dup pairs (hyperplane-LSH buckets, verified
    // cosine — precision exact). Runs the PRODUCTION defaults (16 planes,
    // 8 two-bit bands, bucket cap 256): with independent Rademacher planes
    // the banded LSH has full empirical recall on this fixture
    // (RecallProbe: 59/59 brute-force pairs found), so the brute-force
    // oracle doubles as a recall tripwire.
    "x4_embed_neardup" -> QueryDef(
      (s, dir) => Similarity.cosineNearDupPairs(
        t(s, dir, "embeddings"), threshold = 0.4),
      Some(
        """WITH dd AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          |  FROM embeddings),
          |p AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.e AS ea, b.e AS eb
          |  FROM dd a JOIN dd b ON a.vec_id < b.vec_id),
          |s AS (
          |  SELECT id_a, id_b,
          |    list_reduce(list_prepend(0.0, list_transform(range(1, len(ea) + 1),
          |        i -> ea[i] * eb[i])), (x, y) -> x + y)
          |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(ea, x -> x * x)),
          |          (x, y) -> x + y))
          |        * sqrt(list_reduce(list_prepend(0.0, list_transform(eb, x -> x * x)),
          |          (x, y) -> x + y))) AS raw
          |  FROM p)
          |SELECT id_a, id_b,
          |  round(CASE WHEN isnan(raw) THEN -1.0 ELSE raw END, 6) AS sim
          |FROM s
          |WHERE round(CASE WHEN isnan(raw) THEN -1.0 ELSE raw END, 6) >= 0.4
          |ORDER BY id_a, id_b""".stripMargin)),

    // LSH approximate top-k vs the same query vector as e2_ann_topk.
    // probes=8 still prunes (~half the corpus at 16 planes) yet has full
    // recall on this fixture (RecallProbe: identical to brute force); the
    // oracle is the exact brute-force top-k, so an LSH recall regression
    // fails the gate rather than passing silently. Production default
    // stays at the tighter pruning setting (probes=4).
    "x5_ann_lsh" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_embedding"))
        Similarity.lshTopK(e.filter(col("vec_id") =!= 0), q, 10, probes = 8)
      },
      Some(bruteTopKSql)),

    // Multimodal mixed-corpus feature extraction, every modality through
    // its REAL decoder (no pseudo-decode stub remains): doc_id%3 picks
    // PNG / RIFF-WAV / RIFF-AVI payloads, one narrow pass dispatches each
    // row to javax.imageio / javax.sound / the AVI parser, and the oracle
    // predicts (n_units, feature) arithmetically per modality — mean luma
    // for images (x16's formula), RMS for audio (x35's), mean frame
    // intensity for video (x39's), all 4dp half-up.
    "x6_multimodal_features" -> QueryDef(
      (s, dir) => Multimodal.extractFeatures(
        s, Multimodal.synthesizeMedia(s, t(s, dir, "documents"))),
      Some(
        """SELECT doc_id,
          |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
          |  CASE CAST(doc_id % 3 AS INT)
          |    WHEN 0 THEN CAST((doc_id % 8 + 2) * (doc_id % 5 + 2) AS INT)
          |    WHEN 1 THEN CAST(doc_id % 50 + 20 AS INT)
          |    ELSE CAST(doc_id % 6 + 2 AS INT) END AS n_units,
          |  CASE CAST(doc_id % 3 AS INT)
          |    WHEN 0 THEN floor((299 * (doc_id % 256) + 587 * ((doc_id * 7) % 256)
          |      + 114 * ((doc_id * 13) % 256))::DOUBLE / 1000 * 10000 + 0.5) / 10000
          |    WHEN 1 THEN floor(sqrt(
          |      list_reduce(list_prepend(0.0, list_transform(
          |        range(0, CAST(doc_id % 50 + 20 AS INT)),
          |        j -> ((doc_id * 31 + j * 17) % 2001 - 1000)
          |           * ((doc_id * 31 + j * 17) % 2001 - 1000))),
          |        (a, b) -> a + b)
          |      / (doc_id % 50 + 20)) * 10000 + 0.5) / 10000
          |    ELSE floor(
          |      list_reduce(list_prepend(0.0, list_transform(
          |        range(0, CAST(doc_id % 6 + 2 AS INT)),
          |        f -> ((doc_id + f) % 256 + (7 * doc_id + 13 * f) % 256
          |            + (13 * doc_id + 29 * f) % 256)::DOUBLE / 3)),
          |        (a, b) -> a + b)
          |      / (doc_id % 6 + 2) * 10000 + 0.5) / 10000 END AS feature
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Frame sampling over REAL AVI containers (1 row -> k frames): parse
    // the container, keep every 2nd frame, surface the raw DIB frame
    // bytes as hex. The oracle rebuilds the exact DIB layout (BGR pixels,
    // rows padded to 4 bytes, solid color per frame) from doc_id
    // arithmetic — so a parser that mis-walks chunks or mis-pads rows
    // fails the hash.
    "x7_frame_sample" -> QueryDef(
      (s, dir) => Multimodal.sampleFrames(
        s, Multimodal.synthesizeMedia(s, t(s, dir, "documents"))
          .filter(col("modality") === "video")),
      Some(
        """WITH f AS (
          |  SELECT doc_id, unnest(range(0, doc_id % 6 + 2)) AS frame
          |  FROM documents WHERE doc_id % 3 = 2),
          |v AS (
          |  SELECT doc_id, CAST(frame AS INT) AS frame_idx,
          |    CAST(doc_id % 5 + 2 AS INT) AS w, CAST(doc_id % 4 + 2 AS INT) AS h,
          |    CAST((doc_id + frame) % 256 AS INT) AS r,
          |    CAST((7 * doc_id + 13 * frame) % 256 AS INT) AS g,
          |    CAST((13 * doc_id + 29 * frame) % 256 AS INT) AS b
          |  FROM f WHERE frame % 2 = 0)
          |SELECT doc_id, frame_idx,
          |  repeat(
          |    repeat(lpad(lower(hex(b)), 2, '0') || lpad(lower(hex(g)), 2, '0')
          |      || lpad(lower(hex(r)), 2, '0'), w)
          |    || repeat('00', ((3 * w + 3) // 4) * 4 - 3 * w), h) AS frame_hex
          |FROM v ORDER BY doc_id, frame_idx""".stripMargin)),

    // REAL video decode (the last modality off a stub): deterministic
    // RIFF/AVI with uncompressed 24-bit DIB frames → chunk-walking parse
    // → one row per frame with exact per-channel means. Solid frames make
    // every feature doc_id arithmetic, so the oracle gates the container
    // round-trip without an AVI parser of its own; a header/count/layout
    // mis-parse fails the hash.
    "x39_video_decode" -> QueryDef(
      (s, dir) => Multimodal.decodeVideo(
        s, Multimodal.synthesizeVideo(s, t(s, dir, "documents"))),
      Some(
        """WITH f AS (
          |  SELECT doc_id, unnest(range(0, doc_id % 6 + 2)) AS frame
          |  FROM documents)
          |SELECT doc_id, CAST(frame AS INT) AS frame_idx,
          |  CAST(doc_id % 6 + 2 AS INT) AS n_frames,
          |  CAST(doc_id % 5 + 2 AS INT) AS width,
          |  CAST(doc_id % 4 + 2 AS INT) AS height,
          |  CAST((doc_id + frame) % 256 AS DOUBLE) AS mean_r,
          |  CAST((7 * doc_id + 13 * frame) % 256 AS DOUBLE) AS mean_g,
          |  CAST((13 * doc_id + 29 * frame) % 256 AS DOUBLE) AS mean_b
          |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    // MJPEG through the SAME operators (x39's decodeVideo, different
    // VideoDecoder impl) — the proof the codec seam is real: '00dc'
    // chunks are independent JDK-decodable JPEG streams, re-packed to
    // the wire DIB shape. JPEG is lossy, so the color gate is
    // within-tolerance (±6 of the synthesized solid color — quantization
    // error is ±~3; the x8 sketch-boolean discipline), while the
    // STRUCTURAL facts (frame count, dims, per-frame indexing through
    // the compressed container) gate exactly.
    "x67_mjpeg_decode" -> QueryDef(
      (s, dir) => Multimodal.decodeVideo(
          s, Multimodal.synthesizeMjpegVideo(s, t(s, dir, "documents")),
          Multimodal.MjpegDecoder)
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"),
          (abs(col("mean_r") - (col("doc_id") + col("frame_idx")) % 256) <= 6 &&
            abs(col("mean_g") - (col("doc_id") * 7 + col("frame_idx") * 13) % 256) <= 6 &&
            abs(col("mean_b") - (col("doc_id") * 13 + col("frame_idx") * 29) % 256) <= 6)
            .as("color_ok")),
      Some(
        """WITH f AS (
          |  SELECT doc_id, unnest(range(0, doc_id % 6 + 2)) AS frame
          |  FROM documents)
          |SELECT doc_id, CAST(frame AS INT) AS frame_idx,
          |  CAST(doc_id % 6 + 2 AS INT) AS n_frames,
          |  CAST(doc_id % 5 + 2 AS INT) AS width,
          |  CAST(doc_id % 4 + 2 AS INT) AS height,
          |  true AS color_ok
          |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    // Near-dup clusters: connected components over the MinHash+LSH pairs
    // (pair list -> transitive clusters -> per-cluster size).
    "x10_dedup_clusters" -> QueryDef(
      (s, dir) => Dedup.clusters(
          Dedup.minHashLsh(t(s, dir, "documents"), "doc_id", "text", threshold = 0.2))
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cluster_id"),
      Some(s"""WITH RECURSIVE ${bruteJaccardPairs(0.2)},
              |$componentsCte
              |SELECT label AS cluster_id, count(*) AS n_members
              |FROM labels GROUP BY label ORDER BY cluster_id""".stripMargin)),

    // End-to-end corpus dedup: MinHash+LSH pairs -> connected components
    // -> keep one survivor per cluster -> surviving doc counts per lang.
    "x11_dedup_corpus" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.dedupSurvivors(docs, "doc_id",
            Dedup.minHashLsh(docs, "doc_id", "text", threshold = 0.5))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_survivors"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE ${bruteJaccardPairs(0.5)},
              |$componentsCte
              |SELECT lang, count(*) AS n_survivors FROM documents
              |WHERE doc_id NOT IN (SELECT node FROM labels WHERE label <> node)
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // IVF approximate top-k: centroid-pruned scan (same query vector as
    // e2_ann_topk; centroids = deterministic id-ordered sample). Gate runs
    // nprobe = nlist (exhaustive probing), which must EQUAL brute force —
    // the invariant the IVF spec asserts; the oracle enforces it against
    // DuckDB. The fixture embeddings are near-uniform (no cluster
    // structure), so no partial-probe setting is exact here; production
    // default stays nprobe=4.
    "x9_ann_ivf" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_embedding"))
        Similarity.ivfTopK(e.filter(col("vec_id") =!= 0), q, 10,
          nlist = 16, nprobe = 16)
      },
      Some(bruteTopKSql)),

    // Sequence packing: concatenate-and-split context windows (capacity
    // 512 tokens) per language stream; each doc maps to its (start_window,
    // end_window, start_offset) token span. One shuffle on the stream key;
    // no global window.
    "x12_pack" -> QueryDef(
      (s, dir) => Pack.packedSpans(
          t(s, dir, "documents"), "doc_id", "text", "lang", capacity = 512)
        .orderBy("lang", "doc_id"),
      Some("""WITH tk AS (
             |  SELECT lang, doc_id,
             |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT lang, doc_id, n_tokens,
             |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum_end
             |  FROM tk WHERE n_tokens > 0)
             |SELECT lang, doc_id, n_tokens,
             |  CAST((cum_end - n_tokens) // 512 AS BIGINT) AS start_window,
             |  CAST((cum_end - 1) // 512 AS BIGINT) AS end_window,
             |  CAST((cum_end - n_tokens) % 512 AS BIGINT) AS start_offset
             |FROM c ORDER BY lang, doc_id""".stripMargin)),

    // Packing efficiency per stream (windows consumed, fill ratio).
    "x14_pack_stats" -> QueryDef(
      (s, dir) => Pack.packingStats(
        Pack.packedSpans(
          t(s, dir, "documents"), "doc_id", "text", "lang", capacity = 512),
        "lang", capacity = 512),
      Some("""WITH tk AS (
             |  SELECT lang, doc_id,
             |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT lang, doc_id, n_tokens,
             |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum_end
             |  FROM tk WHERE n_tokens > 0)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             |  CAST(max((cum_end - 1) // 512) + 1 AS BIGINT) AS n_windows,
             |  round(sum(n_tokens)::DOUBLE /
             |    ((max((cum_end - 1) // 512) + 1) * 512), 4) AS fill_ratio
             |FROM c GROUP BY lang ORDER BY lang""".stripMargin)),

    // Benchmark-contamination report: training docs sharing an 8-word
    // shingle with the (deterministic) held-out benchmark subset. The
    // benchmark side is tiny by construction -> broadcast semi-join; the
    // training side shuffles once on the shingle key.
    "x13_contamination" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Contamination.report(
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", n = 8)
      },
      Some(s"""WITH ${shinglesCteN(8)},
              |cnt AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
              |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
              |hits AS (
              |  SELECT s.doc_id, count(*) AS n_contaminated
              |  FROM sh s JOIN bench b USING (shingle)
              |  WHERE s.doc_id % 20 <> 0
              |  GROUP BY s.doc_id)
              |SELECT h.doc_id, c.n_shingles, h.n_contaminated,
              |  round(h.n_contaminated::DOUBLE / c.n_shingles, 4) AS contamination_ratio
              |FROM hits h JOIN cnt c USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // End-to-end corpus prep — the flagship composition of the training
    // pipeline: quality filter (min token count) -> MinHash near-dup
    // removal (pairs -> components -> survivors) -> per-language sequence
    // packing stats. Each stage is the already-oracle-backed operator;
    // the oracle recomputes the whole chain in SQL (filter CTE ->
    // brute-force Jaccard -> recursive closure -> windowed cumsum).
    "x15_corpus_prep" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val q = docs.filter(Pack.tokenCount(col("text")) >= 25)
        val surv = Dedup.dedupSurvivors(q, "doc_id",
          Dedup.minHashLsh(q, "doc_id", "text", threshold = 0.5))
        Pack.packingStats(
          Pack.packedSpans(surv, "doc_id", "text", "lang", capacity = 512),
          "lang", capacity = 512)
      },
      Some(s"""WITH RECURSIVE qdocs AS (
              |  SELECT doc_id, lang, text FROM documents
              |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 25),
              |${bruteJaccardPairs(0.5, "qdocs")},
              |$componentsCte,
              |surv AS (
              |  SELECT lang, doc_id, text FROM qdocs
              |  WHERE doc_id NOT IN (SELECT node FROM labels WHERE label <> node)),
              |tk AS (
              |  SELECT lang, doc_id,
              |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
              |  FROM surv),
              |c AS (
              |  SELECT lang, doc_id, n_tokens,
              |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              |      ROWS UNBOUNDED PRECEDING) AS cum_end
              |  FROM tk WHERE n_tokens > 0)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
              |  CAST(max((cum_end - 1) // 512) + 1 AS BIGINT) AS n_windows,
              |  round(sum(n_tokens)::DOUBLE /
              |    ((max((cum_end - 1) // 512) + 1) * 512), 4) AS fill_ratio
              |FROM c GROUP BY lang ORDER BY lang""".stripMargin)),

    // Decontamination ACTION (x13 reports, x18 acts): drop every training
    // doc sharing >= one 8-gram with the held-out set, then summarize
    // survivors per language. One extra anti-join on doc_id over x13's
    // shape; the flagged set is benchmark-sized (small) -> broadcast.
    "x18_decontaminated" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Contamination.decontaminate(
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", n = 8)
          .groupBy("lang").agg(count(lit(1)).as("n_clean")).orderBy("lang")
      },
      Some(s"""WITH ${shinglesCteN(8)},
              |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
              |hits AS (
              |  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
              |  WHERE s.doc_id % 20 <> 0)
              |SELECT lang, count(*) AS n_clean FROM documents
              |WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // REAL image decode (javax.imageio, JDK built-in): synthesize a
    // deterministic solid-color PNG per doc (dims + RGB from doc_id
    // arithmetic), decode it back executor-side, extract
    // (width, height, mean_luma). The oracle PREDICTS every feature from
    // doc_id arithmetic — a decoder that misreads dimensions or pixel
    // values fails the gate; DuckDB never needs to decode PNG. Luma is
    // integer-accumulated milli-units, one double division, half-up 4dp
    // (the same floor(x*1e4+0.5)/1e4 on both sides).
    "x16_image_decode" -> QueryDef(
      (s, dir) => Multimodal.decodeImages(
        s, Multimodal.synthesizeImages(s, t(s, dir, "documents"))),
      Some(
        """SELECT doc_id,
          |  CAST(doc_id % 8 + 2 AS INT) AS width,
          |  CAST(doc_id % 5 + 2 AS INT) AS height,
          |  floor((299 * (doc_id % 256) + 587 * ((doc_id * 7) % 256)
          |    + 114 * ((doc_id * 13) % 256))::DOUBLE / 1000 * 10000 + 0.5)
          |    / 10000 AS mean_luma
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL audio decode (javax.sound.sampled — WAV/PCM is codec-free in
    // the JDK): synthesize deterministic 16-bit mono RIFF payloads →
    // AudioSystem container parse → (sample_rate, n_samples, RMS). The
    // oracle recomputes the features arithmetically from doc_id (exact
    // integer squares -> engine-independent rounded RMS), so a header
    // mis-parse, sample-width drift, or truncation fails the hash.
    "x35_audio_decode" -> QueryDef(
      (s, dir) => Multimodal.decodeAudio(
        s, Multimodal.synthesizeAudio(s, t(s, dir, "documents"))),
      Some(
        """SELECT doc_id,
          |  8000 AS sample_rate,
          |  CAST(doc_id % 50 + 20 AS INT) AS n_samples,
          |  floor(sqrt(
          |    list_reduce(list_prepend(0.0, list_transform(
          |      range(0, CAST(doc_id % 50 + 20 AS INT)),
          |      j -> ((doc_id * 31 + j * 17) % 2001 - 1000)
          |         * ((doc_id * 31 + j * 17) % 2001 - 1000))),
          |      (a, b) -> a + b)
          |    / (doc_id % 50 + 20)) * 10000 + 0.5) / 10000 AS rms
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL image resize: synthesize → Graphics2D thumbnail (3×3) →
    // decode. Bilinear interpolation of a solid-color image is the color,
    // so the oracle predicts (3, 3, original luma) per doc — a resizer
    // that distorts pixels or dimensions fails the gate.
    "x17_thumbnail" -> QueryDef(
      (s, dir) => Multimodal.decodeImages(
        s, Multimodal.resizeImages(
          s, Multimodal.synthesizeImages(s, t(s, dir, "documents")), 3, 3)),
      Some(
        """SELECT doc_id,
          |  3 AS width,
          |  3 AS height,
          |  floor((299 * (doc_id % 256) + 587 * ((doc_id * 7) % 256)
          |    + 114 * ((doc_id * 13) % 256))::DOUBLE / 1000 * 10000 + 0.5)
          |    / 10000 AS mean_luma
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Incremental dedup: the doc_id%10==0 wave ("newly landed") against
    // the standing corpus — cross pairs only, exact verified Jaccard.
    // Oracle is the brute-force cross product, so it doubles as the
    // recall tripwire for the banded index (same fixture discipline as
    // x1/x2).
    "x21_incremental_dedup" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.incrementalNearDup(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          "doc_id", "text", threshold = 0.2)
      },
      Some(s"""WITH $shinglesCte,
              |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |p0 AS (
              |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
              |    count(*) AS inter
              |  FROM sh b JOIN sh c ON b.shingle = c.shingle
              |  WHERE b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
              |  GROUP BY 1, 2)
              |SELECT batch_id, corpus_id,
              |  round(inter::DOUBLE / (nb.n + nc.n - inter), 4) AS jaccard
              |FROM p0
              |JOIN n nb ON nb.doc_id = batch_id
              |JOIN n nc ON nc.doc_id = corpus_id
              |WHERE round(inter::DOUBLE / (nb.n + nc.n - inter), 4) >= 0.2
              |ORDER BY batch_id, corpus_id""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings (IVF
    // coarse quantizer, deterministic id-ordered seed -> the oracle can
    // replicate the assignment with the same centroid rows), then drop
    // every vector with a >= threshold cosine twin of smaller id inside
    // its cluster. The oracle recomputes assignment + within-cluster
    // pairs + the keep-min-id policy in SQL; double parity of the cosine
    // folds is the same discipline x4/e2 already gate.
    "x19_semdedup" -> QueryDef(
      (s, dir) => Similarity.semDedup(
        t(s, dir, "embeddings"), threshold = 0.4, nlist = 16),
      Some(
        """WITH e AS (
          |  SELECT vec_id, label,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          |  FROM embeddings),
          |cents AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) AS pos, e AS c,
          |    sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)),
          |      (x, y) -> x + y)) AS cn
          |  FROM e WHERE vec_id < 16),
          |sims AS (
          |  SELECT a.vec_id, c.pos,
          |    list_reduce(list_prepend(0.0, list_transform(range(1, len(a.e) + 1),
          |        i -> a.e[i] * c.c[i])), (x, y) -> x + y)
          |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(a.e, x -> x * x)),
          |          (x, y) -> x + y)) * c.cn) AS sim
          |  FROM e a CROSS JOIN cents c),
          |assign AS (
          |  SELECT vec_id, pos AS list_id FROM (
          |    SELECT vec_id, pos,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, pos) AS rn
          |    FROM sims) WHERE rn = 1),
          |ps AS (
          |  SELECT b.vec_id AS id_b,
          |    list_reduce(list_prepend(0.0, list_transform(range(1, len(ea.e) + 1),
          |        i -> ea.e[i] * eb.e[i])), (x, y) -> x + y)
          |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(ea.e, x -> x * x)),
          |          (x, y) -> x + y))
          |        * sqrt(list_reduce(list_prepend(0.0, list_transform(eb.e, x -> x * x)),
          |          (x, y) -> x + y))) AS raw
          |  FROM assign a JOIN assign b
          |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
          |  JOIN e ea ON ea.vec_id = a.vec_id
          |  JOIN e eb ON eb.vec_id = b.vec_id)
          |SELECT a.vec_id, CAST(a.list_id AS BIGINT) AS list_id, em.label
          |FROM assign a JOIN embeddings em ON em.vec_id = a.vec_id
          |WHERE a.vec_id NOT IN (
          |  SELECT DISTINCT id_b FROM ps
          |  WHERE round(CASE WHEN isnan(raw) THEN -1.0 ELSE raw END, 6) >= 0.4)
          |ORDER BY a.vec_id""".stripMargin)),

    // Token-budget corpus selection: rank by quality score (avg word
    // length, the d4 metric), take docs in rank order until the global
    // token budget is exhausted. Two-phase prefix sum over the rank
    // order — never a single-partition window; partitions past the
    // budget short-circuit without walking.
    "x20_token_budget" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("n_tokens",
            graft.functions.SketchFunctions.tokenCount(col("text")))
          .withColumn("score",
            round(length(regexp_replace(col("text"), " ", "")).cast("double") /
              col("n_tokens"), 4))
        Budget.selectByBudget(docs, "doc_id", "score", "n_tokens",
            budget = 10000)
          .orderBy("cum_tokens")
      },
      Some(
        """WITH s AS (
          |  SELECT doc_id,
          |    round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
          |      / len(regexp_split_to_array(trim(text), '\s+')), 4) AS score,
          |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
          |      AS n_tokens
          |  FROM documents
          |  WHERE len(regexp_split_to_array(trim(text), '\s+')) > 0),
          |c AS (
          |  SELECT doc_id, score, n_tokens,
          |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          |  FROM s)
          |SELECT doc_id, score, n_tokens, cum_tokens
          |FROM c WHERE cum_tokens <= 10000 ORDER BY cum_tokens""".stripMargin)),

    // Approximate sketches (HLL distinct + quantile): Spark compares its
    // own approx values against its own exact values and outputs
    // within-tolerance booleans — the oracle supplies exact group counts
    // and literal `true`s, so a sketch drifting out of tolerance fails the
    // gate (raw sketch values themselves are engine-specific).
    "x8_approx" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        // countDistinct must NOT share a groupBy with the sketch aggregates:
        // Spark's distinct-agg rewrite keys the first phase on
        // (event_type, user_id), so the 52-word HLL buffer and the exact-
        // percentile object buffer would be built and shuffled PER DISTINCT
        // USER (~59 state columns x |users| rows through two exchanges —
        // measured 1.6 s steady-state at sf0.1, and O(|users|) sketch state
        // at 100 TB). Split: exact user count as its own narrow
        // distinct->count (plain hash agg, partial combine), sketches in one
        // pass keyed on the 5 event types, then a broadcast join of two
        // 5-row sides.
        val eu = ev.select("event_type", "user_id").distinct()
          .groupBy("event_type").agg(count(lit(1)).as("eu"))
        val sk = ev.groupBy("event_type")
          .agg(approx_count_distinct(col("user_id")).as("au"),
            percentile_approx(col("value"), lit(0.5), lit(1000)).as("ap50"),
            expr("percentile(value, 0.5)").as("ep50"),
            min(col("value")).as("mn"), max(col("value")).as("mx"),
            count(lit(1)).as("n"))
        sk.join(broadcast(eu), "event_type")
          .select(col("event_type"),
            (abs(col("au") - col("eu")) <= col("eu") * 0.05).as("approx_users_ok"),
            (abs(col("ap50") - col("ep50")) <= (col("mx") - col("mn")) * 0.05)
              .as("p50_ok"),
            col("n"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, true AS approx_users_ok, true AS p50_ok,
             |  count(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Bloom-prefiltered decontamination — the 100 TB shape of x18: a
    // driver-built Bloom filter over the (tiny) benchmark shingle set
    // discards almost all training shingles executor-locally before the
    // shuffle; the exact semi-join then kills the bloom's false positives.
    // By construction the RESULT equals exact decontamination, so the
    // oracle is x18's exact SQL — a bloom bug (missed hits, unverified
    // false positives) diverges from the exact answer and fails loudly.
    "x22_bloom_decontaminated" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Contamination.decontaminateBloom(
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", n = 8)
          .groupBy("lang").agg(count(lit(1)).as("n_clean")).orderBy("lang")
      },
      Some(s"""WITH ${shinglesCteN(8)},
              |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
              |hits AS (
              |  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
              |  WHERE s.doc_id % 20 <> 0)
              |SELECT lang, count(*) AS n_clean FROM documents
              |WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Z-order layout keys: Morton-interleave (hour-of-day, user bucket)
    // into one clustering key — rows close in EITHER dimension sort near
    // each other, so parquet min/max footers prune scans on both columns
    // after a repartitionByRange(zkey) write (Layout.zorderBy). The key is
    // pure shift/and/or bit arithmetic (whole-stage codegen'd); the oracle
    // replays the identical spread chain in SQL integer ops.
    "x23_zorder" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"), hour(col("ts")).cast("long").as("h"),
          pmod(col("user_id"), lit(1024)).as("ub"))
        .withColumn("zkey", graft.operators.Layout.zkey2(col("h"), col("ub")))
        .orderBy("zkey", "event_id")
        .limit(500),
      Some(
        """WITH b AS (
          |  SELECT event_id, CAST(hour(ts) AS BIGINT) AS h,
          |    user_id % 1024 AS ub
          |  FROM events),
          |s1 AS (SELECT event_id, h, ub,
          |  (h | (h << 8)) & 16711935 AS ha,
          |  (ub | (ub << 8)) & 16711935 AS hb FROM b),
          |s2 AS (SELECT event_id, h, ub,
          |  (ha | (ha << 4)) & 252645135 AS ha,
          |  (hb | (hb << 4)) & 252645135 AS hb FROM s1),
          |s3 AS (SELECT event_id, h, ub,
          |  (ha | (ha << 2)) & 858993459 AS ha,
          |  (hb | (hb << 2)) & 858993459 AS hb FROM s2),
          |s4 AS (SELECT event_id, h, ub,
          |  (ha | (ha << 1)) & 1431655765 AS ha,
          |  (hb | (hb << 1)) & 1431655765 AS hb FROM s3)
          |SELECT event_id, h, ub, ha | (hb << 1) AS zkey
          |FROM s4 ORDER BY zkey, event_id LIMIT 500""".stripMargin)),

    // Sorted-neighborhood dedup: candidates from a per-language sort on
    // (token count, 32-char prefix) compared `window` rows ahead — NO
    // shingle explode in the candidate stage (the cheapest family member
    // per candidate). The oracle replays the IDENTICAL deterministic
    // blocking + window walk, so candidate generation and the exact
    // Jaccard verify are both gated — unlike x1/x2 this oracle is not a
    // recall tripwire against brute force; it pins the SNM semantics
    // themselves.
    "x24_sorted_neighborhood" -> QueryDef(
      (s, dir) => Dedup.sortedNeighborhood(
        t(s, dir, "documents"), "doc_id", "text", blockCol = "lang",
        window = 3, threshold = 0.2),
      Some(s"""WITH $shinglesCte,
              |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |k AS (SELECT doc_id, lang,
              |        len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
              |        substr(text, 1, 32) AS pfx
              |      FROM documents),
              |o AS (SELECT doc_id,
              |        lead(doc_id, 1) OVER w AS n1,
              |        lead(doc_id, 2) OVER w AS n2,
              |        lead(doc_id, 3) OVER w AS n3
              |      FROM k WINDOW w AS (PARTITION BY lang ORDER BY ntok, pfx, doc_id)),
              |c AS (SELECT DISTINCT least(doc_id, nb) AS id_a,
              |        greatest(doc_id, nb) AS id_b
              |      FROM (SELECT doc_id, unnest([n1, n2, n3]) AS nb FROM o)
              |      WHERE nb IS NOT NULL),
              |p0 AS (SELECT c.id_a, c.id_b, count(*) AS inter
              |       FROM c
              |       JOIN sh a ON a.doc_id = c.id_a
              |       JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              |       GROUP BY 1, 2)
              |SELECT id_a, id_b,
              |  round(inter::DOUBLE / (na.n + nb.n - inter), 4) AS jaccard
              |FROM p0 JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
              |WHERE round(inter::DOUBLE / (na.n + nb.n - inter), 4) >= 0.2
              |ORDER BY id_a, id_b""".stripMargin)),

    // Containment dedup (asymmetric): excerpt/subset detection — a doc
    // quoted inside a longer one has low JACCARD (big union) but
    // containment ~1 on the short side. Same posting machinery as x3;
    // the oracle recomputes both directions brute-force over the df<=64
    // shingle sets (identical exclusion on both sides).
    "x26_containment" -> QueryDef(
      (s, dir) => Dedup.containmentPairs(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.8),
      Some("""WITH toks AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              |  FROM documents),
              |idx AS (
              |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
              |  FROM toks WHERE len(t) >= 3),
              |sh0 AS (
              |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              |    AS shingle FROM idx),
              |d AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
              |sh AS (SELECT doc_id, s.shingle FROM sh0 s JOIN d USING (shingle)
              |       WHERE d.df <= 64),
              |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |p0 AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b ON a.shingle = b.shingle
              |    AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT id_a, id_b,
              |  round(inter::DOUBLE / na.n, 4) AS cont_a,
              |  round(inter::DOUBLE / nb.n, 4) AS cont_b
              |FROM p0 JOIN n na ON na.doc_id = id_a
              |JOIN n nb ON nb.doc_id = id_b
              |WHERE round(inter::DOUBLE / na.n, 4) >= 0.8
              |   OR round(inter::DOUBLE / nb.n, 4) >= 0.8
              |ORDER BY id_a, id_b""".stripMargin)),

    // Keep-BEST dedup survivor policy: production pipelines keep the
    // highest-quality member of each near-dup cluster, not the smallest
    // id — argmax by (n_chars desc, doc_id) per component. Reports the
    // multi-member clusters with their kept representative. Same pair +
    // component machinery as x10/x11 (oracle doubles as the recall
    // tripwire), plus one window on the cluster key.
    "x25_dedup_keep_best" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val labels = Dedup.clusters(
          Dedup.minHashLsh(docs, "doc_id", "text", threshold = 0.2))
        val labeled = docs
          .join(labels, docs("doc_id") === labels("node"), "left")
          .withColumn("cluster", coalesce(col("label"), col("doc_id")))
        labeled
          .withColumn("rk", row_number().over(Window.partitionBy("cluster")
            .orderBy(col("n_chars").desc, col("doc_id"))))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy("cluster")))
          .filter(col("rk") === 1 && col("n_members") >= 2)
          .select(col("cluster"), col("doc_id").as("keep_id"),
            col("n_members"))
          .orderBy("cluster")
      },
      Some(s"""WITH RECURSIVE ${bruteJaccardPairs(0.2)},
              |$componentsCte,
              |f AS (
              |  SELECT d.doc_id, coalesce(m.label, d.doc_id) AS cluster,
              |    d.n_chars
              |  FROM documents d LEFT JOIN labels m ON m.node = d.doc_id),
              |sel AS (
              |  SELECT cluster, doc_id, n_chars,
              |    row_number() OVER (PARTITION BY cluster
              |      ORDER BY n_chars DESC, doc_id) AS rk,
              |    count(*) OVER (PARTITION BY cluster) AS n_members
              |  FROM f)
              |SELECT cluster, doc_id AS keep_id, n_members
              |FROM sel WHERE rk = 1 AND n_members >= 2
              |ORDER BY cluster""".stripMargin)),

    // TF-IDF-weighted cosine near-dup pairs: idf-weighted shingle
    // vectors, cosine via the weighted posting-list sum (each shared
    // posting contributes idf² — no vectors cross the pair shuffle).
    // The graded companion to x3's set Jaccard: rare shared shingles
    // dominate the score, common ones barely register. Oracle is the
    // brute-force recomputation (same tripwire discipline as x1-x4).
    "x30_tfidf_cosine" -> QueryDef(
      (s, dir) => Dedup.tfidfCosinePairs(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.2),
      Some(s"""WITH $shinglesCte,
              |dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
              |w AS (
              |  SELECT doc_id, sh.shingle, dfc.df,
              |    ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
              |      / dfc.df) AS w
              |  FROM sh JOIN dfc USING (shingle) WHERE dfc.df <= 64),
              |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nm FROM w
              |        GROUP BY doc_id),
              |p0 AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    sum(a.w * b.w) AS dp
              |  FROM w a JOIN w b ON a.shingle = b.shingle
              |    AND a.doc_id < b.doc_id
              |  WHERE a.df >= 2 GROUP BY 1, 2)
              |SELECT id_a, id_b, round(dp / (na.nm * nb.nm), 4) AS sim
              |FROM p0 JOIN nrm na ON na.doc_id = id_a
              |JOIN nrm nb ON nb.doc_id = id_b
              |WHERE round(dp / (na.nm * nb.nm), 4) >= 0.2
              |ORDER BY id_a, id_b""".stripMargin)),

    // Length-bucketed batching: sort docs by token count into 8 ntile
    // buckets (what a training loader does to minimize padding) and
    // report each bucket's padding waste = max_len*count - sum_len vs
    // padding to the bucket max. The single-bucket baseline (pad all to
    // the global max) falls out of the same numbers; on this corpus the
    // bucketing cuts padding ~an order of magnitude. The global ntile is
    // the scale-safe two-phase Ranking.globalNtile (range partition +
    // local rank + P broadcast offsets — NEVER a single-partition sort),
    // with ntile's equal-fill semantics reproduced exactly; tie-broken
    // by doc_id for engine-independent assignment.
    "x32_length_buckets" -> QueryDef(
      (s, dir) => {
        val withN = t(s, dir, "documents")
          .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
        graft.operators.Ranking
          .globalNtile(withN, Seq(col("n_tokens"), col("doc_id")), 8)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            max(col("n_tokens")).cast("long").as("max_tokens"),
            sum(col("n_tokens")).cast("long").as("sum_tokens"))
          .withColumn("padding_waste",
            col("max_tokens") * col("n_docs") - col("sum_tokens"))
          .withColumn("waste_frac", round(col("padding_waste").cast("double") /
            (col("max_tokens") * col("n_docs")), 4))
          .orderBy("bucket")
      },
      Some("""WITH n AS (
             |  SELECT doc_id,
             |    len(string_split_regex(trim(text), '\s+')) AS n_tokens
             |  FROM documents),
             |b AS (
             |  SELECT n_tokens,
             |    CAST(ntile(8) OVER (ORDER BY n_tokens, doc_id) AS BIGINT)
             |      AS bucket
             |  FROM n)
             |SELECT bucket, count(*) AS n_docs,
             |  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
             |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             |  CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT)
             |    AS padding_waste,
             |  round((max(n_tokens) * count(*) - sum(n_tokens))::DOUBLE
             |    / (max(n_tokens) * count(*)), 4) AS waste_frac
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Salted join through the driver gate: the explicit skew-mitigation
    // path (Skew.saltedJoin — positional fact salt × replicated dim) must
    // be RESULT-invariant to salting; the oracle runs the plain join, so
    // any row lost or duplicated by the salt machinery fails the hash.
    // (SkewSpec proves equality in-process; this pins it cross-engine.)
    "x36_salted_join" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("event_type"))
        val dim = t(s, dir, "customer")
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("seg"))
        graft.operators.Skew.saltedJoin(ev, dim, "user_id", factor = 8)
          .groupBy("seg")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("seg")
      },
      Some("""SELECT c_mktsegment AS seg, count(*) AS n_events,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Salted two-phase payload aggregation through the gate: collect the
    // full event_id list per event_type (the collect_list shape whose
    // partial aggregation cannot shrink a hot group) via Skew.saltedAgg —
    // sub-group partials then a flatten-merge. The gate hashes the SORTED
    // id list per group, so a row lost or duplicated anywhere in the
    // two-phase path fails; the oracle is the direct single-phase agg.
    "x37_salted_agg" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"), col("event_id"))
        graft.operators.Skew.saltedAgg(ev, Seq("event_type"), factor = 8,
            partial = Seq(collect_list(col("event_id")).as("p")),
            merge = Seq(flatten(collect_list(col("p"))).as("ids")))
          .select(col("event_type"),
            size(col("ids")).cast("long").as("n"),
            md5(array_join(transform(array_sort(col("ids")),
              x => x.cast("string")), " ")).as("ids_md5"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  md5(string_agg(CAST(event_id AS VARCHAR), ' '
             |    ORDER BY event_id)) AS ids_md5
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Corpus-level repeated-n-gram mining (the boilerplate-detection pass
    // real pipelines run before span removal — cf. C4's repeated-span rule
    // and the reference's validation-query cardinality checks): every
    // word bigram with document frequency >= 5% of the corpus, with its
    // total occurrence count and doc spread. The gram stream never leaves
    // the executor as raw text pairs: split → in-row transform to bigram
    // strings → explode → ONE hash-agg on the gram key (count + distinct
    // doc partials). The 5%-of-N threshold is corpus-relative, so the op
    // scales to any SF without retuning; N is a single driver-side count
    // (same bounded-scalar pattern as the tf-idf idf fetch). At 100 TB
    // the agg key space is bounded by the vocab², not the corpus.
    "x44_repeated_ngrams" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val minDocs = docs.count() * 0.05
        docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(tk) - 2), " +
              "i -> concat(tk[i], ' ', tk[i + 1]))")).as("gram"))
          .groupBy("gram")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("doc_id")).as("ndocs"))
          .filter(col("ndocs") >= lit(minDocs))
          .orderBy(desc("n"), col("gram"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |ng AS (
             |  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
             |  FROM toks, LATERAL
             |    (SELECT unnest(generate_series(1, len(t) - 1)) AS i))
             |SELECT gram, count(*) AS n, count(DISTINCT doc_id) AS ndocs
             |FROM ng GROUP BY gram
             |HAVING count(DISTINCT doc_id) >=
             |  (SELECT count(*) * 0.05 FROM documents)
             |ORDER BY n DESC, gram""".stripMargin)),

    // Short-time frame energies over REAL decoded WAV audio (8-sample
    // frames, hop 4 — the integer-exact skeleton of an STFT front-end).
    // The oracle re-derives every per-frame energy arithmetically from
    // doc_id (nested list_transform mirror of the synthesis LCG), so a
    // framing off-by-one, a hop error, or a container mis-parse fails
    // the hash — same discipline as x35/x39.
    "x45_audio_frames" -> QueryDef(
      (s, dir) => Multimodal.frameAudio(
        s, Multimodal.synthesizeAudio(s, t(s, dir, "documents"))),
      Some(
        """WITH base AS (
          |  SELECT doc_id, CAST(doc_id % 50 + 20 AS BIGINT) AS n
          |  FROM documents),
          |fr AS (
          |  SELECT doc_id, CAST((n - 8) // 4 + 1 AS INT) AS n_frames,
          |    list_transform(range(0, CAST((n - 8) // 4 + 1 AS INT)), f ->
          |      list_reduce(list_prepend(CAST(0 AS BIGINT),
          |        list_transform(range(0, 8), j ->
          |          ((doc_id * 31 + (f * 4 + j) * 17) % 2001 - 1000)
          |          * ((doc_id * 31 + (f * 4 + j) * 17) % 2001 - 1000))),
          |        (a, b) -> a + b)) AS energies
          |  FROM base)
          |SELECT doc_id, n_frames,
          |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), energies),
          |    (a, b) -> a + b) AS BIGINT) AS total_energy,
          |  CAST(list_aggregate(energies, 'max') AS BIGINT) AS max_energy,
          |  CAST(list_position(energies, list_aggregate(energies, 'max'))
          |    - 1 AS INT) AS argmax_frame
          |FROM fr ORDER BY doc_id""".stripMargin)),

    // Link-analysis centrality (integer-exact damped PageRank, 3 rounds)
    // over the customer↔part interaction graph: the graph-importance
    // scoring pass web-corpus pipelines run before sampling (Common
    // Crawl's harmonic/PageRank host ranking). Bidirected bipartite
    // edges from orders⋈lineitem (59k distinct pairs at sf0.01); node
    // id = 2·custkey | 2·partkey+1. Every step is integer arithmetic
    // (rank div degree, pct-damping div 100) so the result is
    // summation-order-exact at any parallelism — the oracle unrolls the
    // same three rounds in SQL and matches bit-for-bit. The gate bounds
    // the graph to every-10th customer (x46's bounded-fixture
    // discipline); tools/GraphScale measures the operator at 10-50 M
    // edges for the SCALE.md row. Scale shape: per-iteration = one
    // src-key join (rank broadcast — node-sized) + one map-side-combined
    // dst-key agg; the degree-annotated edge list caches once.
    "x47_pagerank" -> QueryDef(
      (s, dir) => {
        val cp = broadcast(
            t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
              .filter(col("o_custkey") % 10 === 0))
          .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("c"),
            (col("l_partkey") * 2 + 1).as("p"))
          .distinct()
        // bidirect via a 2-element array explode: ONE pass over cp (the
        // swapped-unionAll form recomputes the orders⋈lineitem+distinct
        // pipeline once per branch — measured 2x slower in r10)
        val edges = cp.select(explode(array(
            struct(col("c").as("src"), col("p").as("dst")),
            struct(col("p").as("src"), col("c").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        // small bounded graph: unroll all rounds into one DAG (the
        // per-round checkpoint jobs would dominate at this size)
        Graph.pagerank(edges, iters = 3, checkpointInterval = 5)
          .orderBy(desc("r"), col("node"))
          .limit(20)
          .select(col("node"), col("r").as("rank_units"))
      },
      Some("""WITH cp AS (
             |  SELECT DISTINCT o_custkey * 2 AS c, l_partkey * 2 + 1 AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |  WHERE o_custkey % 10 = 0),
             |e AS (SELECT c AS src, p AS dst FROM cp
             |      UNION ALL SELECT p AS src, c AS dst FROM cp),
             |nodes AS (SELECT DISTINCT src AS node FROM e),
             |nn AS (SELECT count(*) AS n FROM nodes),
             |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
             |r0 AS (SELECT node, (1000000000000 // n) AS r FROM nodes, nn),
             |i1 AS (SELECT e.dst AS node, sum(r.r // deg.d) AS s
             |       FROM e JOIN r0 r ON r.node = e.src
             |       JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r1 AS (SELECT nodes.node,
             |         (15 * (1000000000000 // nn.n)) // 100
             |           + (85 * coalesce(i1.s, 0)) // 100 AS r
             |       FROM nodes CROSS JOIN nn
             |       LEFT JOIN i1 ON i1.node = nodes.node),
             |i2 AS (SELECT e.dst AS node, sum(r.r // deg.d) AS s
             |       FROM e JOIN r1 r ON r.node = e.src
             |       JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r2 AS (SELECT nodes.node,
             |         (15 * (1000000000000 // nn.n)) // 100
             |           + (85 * coalesce(i2.s, 0)) // 100 AS r
             |       FROM nodes CROSS JOIN nn
             |       LEFT JOIN i2 ON i2.node = nodes.node),
             |i3 AS (SELECT e.dst AS node, sum(r.r // deg.d) AS s
             |       FROM e JOIN r2 r ON r.node = e.src
             |       JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r3 AS (SELECT nodes.node,
             |         (15 * (1000000000000 // nn.n)) // 100
             |           + (85 * coalesce(i3.s, 0)) // 100 AS r
             |       FROM nodes CROSS JOIN nn
             |       LEFT JOIN i3 ON i3.node = nodes.node)
             |SELECT node, CAST(r AS BIGINT) AS rank_units FROM r3
             |ORDER BY rank_units DESC, node LIMIT 20""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-ES
    // exponential keys) — the importance-sampling primitive behind
    // mixture construction when domains must be drawn ∝ a weight (here
    // n_chars: longer docs proportionally likelier). Each doc draws
    // u ~ U(0,1] from md5(doc_id) (the d18 seeded-determinism idiom);
    // its key -ln(u)/w is Exp(w), and the k smallest keys per language
    // are a weight-proportional without-replacement sample. One narrow
    // map + one per-stratum top-k window — no shuffle beyond the
    // stratum key; at 100 TB the window is replaced by the q4-style
    // TakeOrdered per stratum. Keys round to 9 decimals (x46's
    // cross-engine float discipline) with doc_id tiebreak.
    "x48_weighted_sample" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("u",
            (conv(substring(md5(concat(col("doc_id").cast("string"),
              lit(":wsamp"))), 1, 12), 16, 10).cast("long") + 1) /
              lit(281474976710656.0))
          .withColumn("key",
            round(-log(col("u")) / col("n_chars"), 9))
        // per-stratum top-k via the bounded-heap aggregate (x63): map-side
        // partial heaps instead of the window form's full per-stratum
        // sort — same rows by construction ((key, doc_id) is a total
        // order; n_chars rides as payload after the unique tiebreak)
        docs.groupBy("lang")
          .agg(graft.functions.AggFunctions.topKStruct(
            struct(col("key"), col("doc_id"), col("n_chars")), 10).as("top"))
          .select(col("lang"), explode(col("top")).as("t"))
          .select(col("lang"), col("t.doc_id").as("doc_id"),
            col("t.n_chars").as("n_chars"), col("t.key").as("key"))
          .orderBy("lang", "key", "doc_id")
      },
      Some("""WITH k AS (
             |  SELECT lang, doc_id, n_chars,
             |    round(-ln((('0x' || substr(md5(doc_id::VARCHAR || ':wsamp'),
             |        1, 12))::BIGINT + 1) / 281474976710656.0)
             |      / n_chars, 9) AS key
             |  FROM documents),
             |r AS (
             |  SELECT lang, doc_id, n_chars, key,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY key, doc_id) AS rk
             |  FROM k)
             |SELECT lang, doc_id, n_chars, key FROM r WHERE rk <= 10
             |ORDER BY lang, key, doc_id""".stripMargin)),

    // Blocked fuzzy-match pairs (edit distance ≤ 2 within a block) —
    // the record-linkage sibling of x24's sorted neighborhood: entity
    // resolution over the part-name dictionary, blocked on the head
    // noun so the quadratic term is bounded by the block size, never
    // the dictionary. Distinct-name dictionary first (2000 parts → 64
    // names at sf0.01: the dedup-before-pairing step that makes
    // dictionary linkage O(names²/blocks) not O(rows²)); codegen'd
    // `levenshtein` both sides of the gate.
    "x49_fuzzy_pairs" -> QueryDef(
      (s, dir) => {
        val names = t(s, dir, "part").select(col("p_name")).distinct()
          .withColumn("blk", split(col("p_name"), " ").getItem(1))
        val a = names.select(col("blk"), col("p_name").as("name_a"))
        val b = names.select(col("blk").as("blk_b"), col("p_name").as("name_b"))
        a.join(b, col("blk") === col("blk_b") && col("name_a") < col("name_b"))
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
          .filter(col("dist") <= 2)
          .select("name_a", "name_b", "dist")
          .orderBy("name_a", "name_b")
      },
      Some("""WITH names AS (
             |  SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS blk
             |  FROM part)
             |SELECT a.p_name AS name_a, b.p_name AS name_b,
             |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
             |FROM names a JOIN names b
             |  ON a.blk = b.blk AND a.p_name < b.p_name
             |WHERE levenshtein(a.p_name, b.p_name) <= 2
             |ORDER BY name_a, name_b""".stripMargin)),

    // Co-occurrence (association) mining: part pairs co-purchased in
    // >= 3 orders, with lift in integer micros. Pair generation happens
    // IN-ROW — baskets collect to a sorted item array (baskets are
    // order-bounded: a handful of lineitems) and the pair explode is a
    // nested transform over that array, so the quadratic term is bounded
    // by basket size and the only data-sized exchanges are the basket
    // collect and the pair-count agg (map-side combinable; keyspace
    // bounded by catalog², never corpus). Lift numerator/denominator
    // stay integers until one final `div` — no float drift. This is the
    // candidate-generation half of the frequent-itemset family
    // (PCY/A-Priori's pair pass) at its 100 TB shape.
    "x50_copurchase" -> QueryDef(
      (s, dir) => {
        // the single-column orderkey projection is the textbook broadcast
        // dim (8 B/row); without the hint the planner occasionally falls
        // back to a sort-merge join here, tripling this query's cost in
        // long-lived sessions (measured r8) — pin it
        // materialized ONCE (r22): op feeds THREE differently-keyed
        // consumers below (the basket-count agg, the per-basket
        // collect_set, the per-item counts) — left lazy, the whole
        // orders⋈lineitem→distinct pipeline re-executes per consumer
        // (different exchanges, so ReuseExchange never fires)
        val op = broadcast(t(s, dir, "orders").select(col("o_orderkey")))
          .join(t(s, dir, "lineitem")
              .select(col("l_orderkey"), col("l_partkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
          .localCheckpoint()
        // basket count as a 1-row agg crossed back (q23 idiom) — not a
        // driver count(), which would be a whole extra job over op
        val nb = op.agg(countDistinct(col("ok")).as("n_baskets"))
        val baskets = op.groupBy("ok")
          .agg(sort_array(collect_set(col("pk"))).as("items"))
        val pairs = baskets
          .select(explode(expr(
            "flatten(transform(items, (x, i) -> " +
              "transform(slice(items, i + 2, size(items)), " +
              "y -> struct(x AS pa, y AS pb))))")).as("pr"))
          .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
        val pc = pairs.groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 3)
        val ic = op.groupBy("pk").agg(count(lit(1)).as("n_i"))
        // lift numerator n_ab * nBaskets * 1e6 overflows Int64 at the
        // 100 TB shape (baskets ~1e9, hot pairs 1e6+): widen to
        // DECIMAL(38,0) before multiplying; `div` returns BIGINT, and the
        // quotient (a scaled ratio) always fits
        pc.join(ic.select(col("pk").as("pa"), col("n_i").as("na")), "pa")
          .join(ic.select(col("pk").as("pb"), col("n_i").as("nb")), "pb")
          .crossJoin(broadcast(nb))
          .select(col("pa"), col("pb"), col("n_ab"),
            expr("(CAST(n_ab AS DECIMAL(38,0)) * n_baskets * 1000000) " +
              "div (CAST(na AS DECIMAL(38,0)) * nb)")
              .as("lift_micro"))
          .orderBy(desc("n_ab"), col("pa"), col("pb"))
      },
      Some("""WITH op AS (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |nb AS (SELECT count(DISTINCT ok) AS n FROM op),
             |pairs AS (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
             |pc AS (
             |  SELECT pa, pb, count(*) AS n_ab FROM pairs GROUP BY pa, pb
             |  HAVING count(*) >= 3),
             |ic AS (SELECT pk, count(*) AS n_i FROM op GROUP BY pk)
             |SELECT pa, pb, n_ab,
             |  CAST((CAST(n_ab AS HUGEINT) * nb.n * 1000000)
             |    // (CAST(ia.n_i AS HUGEINT) * ib.n_i) AS BIGINT)
             |    AS lift_micro
             |FROM pc JOIN ic ia ON ia.pk = pc.pa
             |JOIN ic ib ON ib.pk = pc.pb CROSS JOIN nb
             |ORDER BY n_ab DESC, pa, pb""".stripMargin)),

    // Synchronous label propagation (2 rounds) over the co-purchase
    // graph: seeds are every-7th part labeled with its brand; each round
    // every node takes the MAJORITY label among neighbors (ties → the
    // smallest label — the deterministic LPA variant), keeping its label
    // when no neighbor is labeled. All decisions are (count, label)
    // comparisons, no floats, so the unrolled-SQL oracle matches
    // exactly. The semi-supervised label-spreading primitive (weak
    // supervision over a similarity graph); same per-round shape as
    // x47 — node-sized label frame, edge join + argmax window.
    "x51_label_prop" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
        // bidirect via explode — one pass over the pair pipeline (x47 note)
        val edges = pc.select(explode(array(
            struct(col("pa").as("src"), col("pb").as("dst")),
            struct(col("pb").as("src"), col("pa").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val seeds = t(s, dir, "part")
          .filter(col("p_partkey") % 7 === 0)
          .select(col("p_partkey").as("node"), col("p_brand").as("label"))
        Graph.labelPropagate(edges, seeds, iters = 2,
            checkpointInterval = 1) // per-round materialization: with the
          // r22 shared-exchange round the unrolled (interval 5) plan
          // re-executes duplicated label subtrees — paired A/B 0.82
          .filter(col("label").isNotNull)
          .orderBy("node")
      },
      Some("""WITH op AS (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |e AS (SELECT pa AS src, pb AS dst FROM pc
             |      UNION ALL SELECT pb AS src, pa AS dst FROM pc),
             |nodes AS (SELECT DISTINCT src AS node FROM e),
             |seeds AS (SELECT p_partkey AS sn, p_brand AS slabel
             |          FROM part WHERE p_partkey % 7 = 0),
             |l0 AS (SELECT node, slabel AS label
             |       FROM nodes LEFT JOIN seeds ON sn = node),
             |c1 AS (SELECT e.src AS n, l.label, count(*) AS c
             |       FROM e JOIN l0 l ON l.node = e.dst
             |       WHERE l.label IS NOT NULL GROUP BY e.src, l.label),
             |m1 AS (SELECT n, label FROM (
             |         SELECT n, label, row_number() OVER (PARTITION BY n
             |           ORDER BY c DESC, label) AS rn FROM c1)
             |       WHERE rn = 1),
             |l1 AS (SELECT l0.node, coalesce(m1.label, l0.label) AS label
             |       FROM l0 LEFT JOIN m1 ON m1.n = l0.node),
             |c2 AS (SELECT e.src AS n, l.label, count(*) AS c
             |       FROM e JOIN l1 l ON l.node = e.dst
             |       WHERE l.label IS NOT NULL GROUP BY e.src, l.label),
             |m2 AS (SELECT n, label FROM (
             |         SELECT n, label, row_number() OVER (PARTITION BY n
             |           ORDER BY c DESC, label) AS rn FROM c2)
             |       WHERE rn = 1),
             |l2 AS (SELECT l1.node, coalesce(m2.label, l1.label) AS label
             |       FROM l1 LEFT JOIN m2 ON m2.n = l1.node)
             |SELECT node, label FROM l2 WHERE label IS NOT NULL
             |ORDER BY node""".stripMargin)),

    // Exact per-node triangle counts over the co-purchase graph — the
    // clustering-coefficient / community-density primitive. The operator
    // (Graph.triangles) orients edges by (degree, id) so wedge fan-out is
    // O(sqrt(m)) per node on ANY degree distribution and each triangle is
    // found exactly once by an equality-only closing semi-join; the
    // oracle uses the naive a<b<c node-id triple join (same counts,
    // hub-quadratic — fine for DuckDB at gate scale, wrong at 100 TB;
    // see the Scaladoc).
    "x52_triangles" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
        Graph.triangles(pc.select(col("pa").as("src"), col("pb").as("dst")))
          .orderBy("node")
      },
      Some("""WITH op AS (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |e AS (
             |  SELECT a.pk AS a, b.pk AS b
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |tri AS (
             |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |  FROM e e1 JOIN e e2 ON e2.a = e1.b
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |corners AS (
             |  SELECT x AS node FROM tri
             |  UNION ALL SELECT y FROM tri
             |  UNION ALL SELECT z FROM tri)
             |SELECT node, count(*) AS n_tri
             |FROM corners GROUP BY node ORDER BY node""".stripMargin)),

    // BM25 top-k retrieval (k1=1.2, b=0.75) for a literal query-term set
    // — the lexical-retrieval half of a RAG / data-curation stack
    // (Robertson-Spärck Jones BM25). Scale shape: the term filter lands
    // BEFORE the tf aggregation, so only matching postings ever shuffle;
    // df and avgdl are term-/corpus-sized broadcasts; the per-doc score
    // sum is one agg over ≤|query| rows per candidate doc. Floats: both
    // engines compute the same ln/(+*/) over the same doubles; scores
    // round to 4 (the d10 tfidf discipline).
    "x53_bm25" -> QueryDef(
      (s, dir) => {
        val qterms = Seq("spark", "join", "window", "hash")
        val docs = t(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        // avgdl from the EXACT integer token total (a float avg's
        // accumulation order could drift a ulp between engines)
        val stats = dl.agg(
          expr("CAST(sum(dl) AS DOUBLE) / count(*)").as("avgdl"),
          count(lit(1)).as("n_docs"))
        val tf = toks.filter(col("term").isin(qterms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        tf.join(broadcast(df), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("part",
            expr("ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * " +
              "(tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"))
          .groupBy("doc_id")
          .agg(round(sum(col("part")), 4).as("bm25"))
          .orderBy(desc("bm25"), col("doc_id"))
          .limit(20)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
             |stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             |          count(*) AS n_docs FROM dl),
             |tf AS (
             |  SELECT doc_id, term, count(*) AS tf FROM toks
             |  WHERE term IN ('spark', 'join', 'window', 'hash')
             |  GROUP BY doc_id, term),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
             |SELECT tf.doc_id,
             |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
             |    (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4)
             |    AS bm25
             |FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id
             |CROSS JOIN stats
             |GROUP BY tf.doc_id
             |ORDER BY bm25 DESC, tf.doc_id LIMIT 20""".stripMargin)),

    // Hierarchy flattening to (node, root, depth) by pointer doubling
    // (Graph.rootsAndDepth) over a synthetic part forest: parent(p) =
    // p - (p%7 + 1), NULL (root) when that underflows — irregular steps
    // so depths vary and several roots exist. The oracle is a RECURSIVE
    // CTE walking the same forest one level per step; Spark covers the
    // same paths in doubling rounds derived from the node count
    // (ceil(log2(n)) rounds always exceed any chain, since depth < n),
    // so growing the part table can never under-provision the loop.
    // Depth stays integer end to end.
    "x54_ancestors" -> QueryDef(
      (s, dir) => {
        val step = col("p_partkey") % 7 + 1
        val parents = t(s, dir, "part").select(
          col("p_partkey").as("node"),
          when(col("p_partkey") - step <= 0, lit(null))
            .otherwise(col("p_partkey") - step).as("parent"))
        Graph.rootsAndDepth(parents).orderBy("node")
      },
      Some("""WITH RECURSIVE h AS (
             |  SELECT p_partkey AS node,
             |    CASE WHEN p_partkey - (p_partkey % 7 + 1) <= 0 THEN NULL
             |         ELSE p_partkey - (p_partkey % 7 + 1) END AS parent
             |  FROM part),
             |r AS (
             |  SELECT node, node AS root, 0 AS depth
             |  FROM h WHERE parent IS NULL
             |  UNION ALL
             |  SELECT h.node, r.root, r.depth + 1
             |  FROM h JOIN r ON h.parent = r.node)
             |SELECT node, root, CAST(depth AS BIGINT) AS depth
             |FROM r ORDER BY node""".stripMargin)),

    // Deterministic random walks (3 steps) over the bipartite
    // part-supplier graph — node2vec/DeepWalk-style context sampling
    // with an md5 argmin replacing the RNG (Graph.deterministicWalks),
    // so a checkpointed/replayed pipeline samples the SAME walks and an
    // unrolled-SQL oracle reproduces them bit-for-bit. Seeds are every
    // 100th part; ids disambiguate the two sides as 2p / 2s+1.
    "x55_random_walks" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"))
        // bidirect via explode — one lineitem scan (x47 note)
        val edges = li.select(explode(array(
            struct((col("l_partkey") * 2).as("src"),
              (col("l_suppkey") * 2 + 1).as("dst")),
            struct((col("l_suppkey") * 2 + 1).as("src"),
              (col("l_partkey") * 2).as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val seeds = li.filter(col("l_partkey") % 100 === 0)
          .select((col("l_partkey") * 2).as("seed"))
        Graph.deterministicWalks(edges, seeds, steps = 3)
          .orderBy("seed", "step")
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
             |  FROM lineitem
             |  UNION
             |  SELECT DISTINCT l_suppkey * 2 + 1, l_partkey * 2 FROM lineitem),
             |w0 AS (
             |  SELECT DISTINCT l_partkey * 2 AS seed, l_partkey * 2 AS cur
             |  FROM lineitem WHERE l_partkey % 100 = 0),
             |c1 AS (
             |  SELECT w0.seed, e.dst, row_number() OVER (PARTITION BY w0.seed
             |    ORDER BY md5(concat_ws('>', w0.seed, 1, e.dst)), e.dst) AS rn
             |  FROM w0 JOIN e ON e.src = w0.cur),
             |w1 AS (
             |  SELECT w0.seed, coalesce(c1.dst, w0.cur) AS cur
             |  FROM w0 LEFT JOIN (SELECT seed, dst FROM c1 WHERE rn = 1) c1
             |    USING (seed)),
             |c2 AS (
             |  SELECT w1.seed, e.dst, row_number() OVER (PARTITION BY w1.seed
             |    ORDER BY md5(concat_ws('>', w1.seed, 2, e.dst)), e.dst) AS rn
             |  FROM w1 JOIN e ON e.src = w1.cur),
             |w2 AS (
             |  SELECT w1.seed, coalesce(c2.dst, w1.cur) AS cur
             |  FROM w1 LEFT JOIN (SELECT seed, dst FROM c2 WHERE rn = 1) c2
             |    USING (seed)),
             |c3 AS (
             |  SELECT w2.seed, e.dst, row_number() OVER (PARTITION BY w2.seed
             |    ORDER BY md5(concat_ws('>', w2.seed, 3, e.dst)), e.dst) AS rn
             |  FROM w2 JOIN e ON e.src = w2.cur),
             |w3 AS (
             |  SELECT w2.seed, coalesce(c3.dst, w2.cur) AS cur
             |  FROM w2 LEFT JOIN (SELECT seed, dst FROM c3 WHERE rn = 1) c3
             |    USING (seed))
             |SELECT seed, 0 AS step, cur AS node FROM w0
             |UNION ALL SELECT seed, 1, cur FROM w1
             |UNION ALL SELECT seed, 2, cur FROM w2
             |UNION ALL SELECT seed, 3, cur FROM w3
             |ORDER BY seed, step""".stripMargin)),

    // k-core decomposition (k=2) of the co-purchase graph — dense-
    // subgraph extraction (the hub/community-core isolation pass used
    // for spam clusters and curriculum sampling). Spark peels to the
    // TRUE fixpoint (Graph.kcore's driver-scalar convergence test); the
    // oracle unrolls 5 peel rounds, which is safe because peeling is
    // IDEMPOTENT once converged (extra unrolled rounds are no-ops), so
    // the two agree whenever the fixture converges within 5 rounds —
    // measured: 3 rounds / 1535 core nodes at sf0.01, 1 round / 200 at
    // sf0.001 (k>=3 peels sf0.01 to nothing or needs 10 rounds — both
    // useless as a gate). CTEs are MATERIALIZED: each e_i is referenced
    // twice, and DuckDB's default inlining re-expands the chain
    // EXPONENTIALLY (>8 min; materialized: ~5 s). All-integer decisions.
    "x56_kcore" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
        // bidirect via explode — one pass over the pair pipeline (x47 note)
        val edges = pc.select(explode(array(
            struct(col("pa").as("src"), col("pb").as("dst")),
            struct(col("pb").as("src"), col("pa").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        Graph.kcore(edges, k = 2).orderBy("node")
      },
      Some("""WITH op AS MATERIALIZED (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS MATERIALIZED (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pc
             |       UNION ALL SELECT pb AS src, pa AS dst FROM pc),
             |k1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 2),
             |e1 AS MATERIALIZED (SELECT e0.src, e0.dst FROM e0
             |       JOIN k1 a ON a.src = e0.src JOIN k1 b ON b.src = e0.dst),
             |k2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 2),
             |e2 AS MATERIALIZED (SELECT e1.src, e1.dst FROM e1
             |       JOIN k2 a ON a.src = e1.src JOIN k2 b ON b.src = e1.dst),
             |k3 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= 2),
             |e3 AS MATERIALIZED (SELECT e2.src, e2.dst FROM e2
             |       JOIN k3 a ON a.src = e2.src JOIN k3 b ON b.src = e2.dst),
             |k4 AS (SELECT src FROM e3 GROUP BY src HAVING count(*) >= 2),
             |e4 AS MATERIALIZED (SELECT e3.src, e3.dst FROM e3
             |       JOIN k4 a ON a.src = e3.src JOIN k4 b ON b.src = e3.dst),
             |k5 AS (SELECT src FROM e4 GROUP BY src HAVING count(*) >= 2),
             |e5 AS MATERIALIZED (SELECT e4.src, e4.dst FROM e4
             |       JOIN k5 a ON a.src = e4.src JOIN k5 b ON b.src = e4.dst)
             |SELECT src AS node, count(*) AS core_deg
             |FROM e5 GROUP BY src ORDER BY node""".stripMargin)),

    // Personalized PageRank (2 rounds) from an every-50th-customer seed
    // set over x47's customer↔part graph — relevance-to-the-seeds
    // scoring, the topic-focused corpus-expansion primitive (vet a seed
    // set, rank candidates by graph proximity). Initial mass and
    // teleport go ONLY to seeds; everything else is x47's integer-unit
    // machinery, so the unrolled oracle matches bit-for-bit.
    "x57_ppr" -> QueryDef(
      (s, dir) => {
        val cp = broadcast(
            t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
              .filter(col("o_custkey") % 10 === 0))
          .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("c"),
            (col("l_partkey") * 2 + 1).as("p"))
          .distinct()
        // bidirect via a 2-element array explode: ONE pass over cp (the
        // swapped-unionAll form recomputes the orders⋈lineitem+distinct
        // pipeline once per branch — measured 2x slower in r10)
        val edges = cp.select(explode(array(
            struct(col("c").as("src"), col("p").as("dst")),
            struct(col("p").as("src"), col("c").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val seeds = t(s, dir, "orders")
          .filter(col("o_custkey") % 50 === 0)
          .select((col("o_custkey") * 2).as("seed")).distinct()
        Graph.personalizedPagerank(edges, seeds, iters = 2,
            checkpointInterval = 5) // small bounded graph: unroll (x47 note)
          .orderBy(desc("r"), col("node"))
          .limit(20)
          .select(col("node"), col("r").as("rank_units"))
      },
      Some("""WITH cp AS (
             |  SELECT DISTINCT o_custkey * 2 AS c, l_partkey * 2 + 1 AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |  WHERE o_custkey % 10 = 0),
             |e AS (SELECT c AS src, p AS dst FROM cp
             |      UNION ALL SELECT p AS src, c AS dst FROM cp),
             |nodes AS (SELECT DISTINCT src AS node FROM e),
             |sd AS (SELECT DISTINCT o_custkey * 2 AS node FROM orders
             |       WHERE o_custkey % 50 = 0
             |       AND o_custkey * 2 IN (SELECT node FROM nodes)),
             |ns AS (SELECT count(*) AS n FROM sd),
             |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
             |r0 AS (SELECT nodes.node,
             |         CASE WHEN sd.node IS NOT NULL
             |           THEN (1000000000000 // ns.n) ELSE 0 END AS r
             |       FROM nodes CROSS JOIN ns
             |       LEFT JOIN sd ON sd.node = nodes.node),
             |i1 AS (SELECT e.dst AS node, sum(r.r // deg.d) AS s
             |       FROM e JOIN r0 r ON r.node = e.src
             |       JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r1 AS (SELECT nodes.node,
             |         CASE WHEN sd.node IS NOT NULL
             |           THEN (15 * (1000000000000 // ns.n)) // 100
             |           ELSE 0 END
             |           + (85 * coalesce(i1.s, 0)) // 100 AS r
             |       FROM nodes CROSS JOIN ns
             |       LEFT JOIN sd ON sd.node = nodes.node
             |       LEFT JOIN i1 ON i1.node = nodes.node),
             |i2 AS (SELECT e.dst AS node, sum(r.r // deg.d) AS s
             |       FROM e JOIN r1 r ON r.node = e.src
             |       JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r2 AS (SELECT nodes.node,
             |         CASE WHEN sd.node IS NOT NULL
             |           THEN (15 * (1000000000000 // ns.n)) // 100
             |           ELSE 0 END
             |           + (85 * coalesce(i2.s, 0)) // 100 AS r
             |       FROM nodes CROSS JOIN ns
             |       LEFT JOIN sd ON sd.node = nodes.node
             |       LEFT JOIN i2 ON i2.node = nodes.node)
             |SELECT node, CAST(r AS BIGINT) AS rank_units FROM r2
             |ORDER BY rank_units DESC, node LIMIT 20""".stripMargin)),

    // HITS hubs/authorities (2 iterations) over the DIRECTED customer→
    // part purchase graph — the bipartite dual of x47: customers are
    // hubs (they endorse), parts are authorities (they are endorsed).
    // Integer units with per-half-iteration renormalization to 1e9
    // total via a 1-row-sum broadcast cross (the q23 scalar idiom), so
    // the unrolled oracle matches bit-for-bit; products widen to
    // DECIMAL(38,0)/HUGEINT before the multiply in BOTH engines. The
    // oracle omits Graph.hits's a<>0 join prefilter: zero-score rows
    // contribute 0 to every sum and the renormalizer maps missing and
    // zero rows identically, so the outputs are equal by construction.
    "x58_hits" -> QueryDef(
      (s, dir) => {
        val cp = broadcast(
            t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
              .filter(col("o_custkey") % 10 === 0))
          .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("c"),
            (col("l_partkey") * 2 + 1).as("p"))
          .distinct()
        val edges = cp.select(col("c").as("src"), col("p").as("dst"))
        Graph.hits(edges, iters = 2,
            checkpointInterval = 5) // small bounded graph: unroll (x47 note)
          .orderBy(desc("auth_units"), col("node"))
          .limit(20)
      },
      Some("""WITH cp AS MATERIALIZED (
             |  SELECT DISTINCT o_custkey * 2 AS c, l_partkey * 2 + 1 AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |  WHERE o_custkey % 10 = 0),
             |e AS MATERIALIZED (SELECT c AS src, p AS dst FROM cp),
             |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
             |h0 AS (SELECT node, 1000000 AS h FROM nodes),
             |ar1 AS (SELECT e.dst AS node, sum(h0.h) AS ar
             |        FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst),
             |at1 AS (SELECT sum(ar) AS t FROM ar1),
             |a1 AS (SELECT n.node,
             |         coalesce(CAST(ar1.ar AS HUGEINT) * 1000000000 // at1.t,
             |                  0) AS a
             |       FROM nodes n CROSS JOIN at1
             |       LEFT JOIN ar1 ON ar1.node = n.node),
             |hr1 AS (SELECT e.src AS node, sum(a1.a) AS hr
             |        FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
             |ht1 AS (SELECT sum(hr) AS t FROM hr1),
             |h1 AS (SELECT n.node,
             |         coalesce(CAST(hr1.hr AS HUGEINT) * 1000000000 // ht1.t,
             |                  0) AS h
             |       FROM nodes n CROSS JOIN ht1
             |       LEFT JOIN hr1 ON hr1.node = n.node),
             |ar2 AS (SELECT e.dst AS node, sum(h1.h) AS ar
             |        FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
             |at2 AS (SELECT sum(ar) AS t FROM ar2),
             |a2 AS (SELECT n.node,
             |         coalesce(CAST(ar2.ar AS HUGEINT) * 1000000000 // at2.t,
             |                  0) AS a
             |       FROM nodes n CROSS JOIN at2
             |       LEFT JOIN ar2 ON ar2.node = n.node),
             |hr2 AS (SELECT e.src AS node, sum(a2.a) AS hr
             |        FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src),
             |ht2 AS (SELECT sum(hr) AS t FROM hr2),
             |h2 AS (SELECT n.node,
             |         coalesce(CAST(hr2.hr AS HUGEINT) * 1000000000 // ht2.t,
             |                  0) AS h
             |       FROM nodes n CROSS JOIN ht2
             |       LEFT JOIN hr2 ON hr2.node = n.node)
             |SELECT a2.node, CAST(a2.a AS BIGINT) AS auth_units,
             |  CAST(h2.h AS BIGINT) AS hub_units
             |FROM a2 JOIN h2 ON h2.node = a2.node
             |ORDER BY auth_units DESC, a2.node LIMIT 20""".stripMargin)),

    // Multi-source BFS hop expansion (3 hops) from an every-97th-part
    // seed list over the co-purchase graph — "the vetted seed set plus
    // everything within k hops", the graph-proximity corpus-expansion
    // pass. Spark runs it as a true delta iteration (frontier-sized
    // joins, settled nodes never revisited — Graph.bfs); the oracle
    // unrolls the three frontiers. Seeds outside the graph stay at
    // d=0 (the seed list is part of the corpus by definition).
    "x59_bfs" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
        // bidirect via explode — one pass over the pair pipeline (x47 note)
        val edges = pc.select(explode(array(
            struct(col("pa").as("src"), col("pb").as("dst")),
            struct(col("pb").as("src"), col("pa").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val seeds = t(s, dir, "part")
          .filter(col("p_partkey") % 97 === 0)
          .select(col("p_partkey").as("source"))
        Graph.bfs(edges, seeds, maxDepth = 3).orderBy("node")
      },
      Some("""WITH op AS MATERIALIZED (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS MATERIALIZED (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pc
             |      UNION ALL SELECT pb AS src, pa AS dst FROM pc),
             |l0 AS (SELECT DISTINCT p_partkey AS node, 0 AS d FROM part
             |       WHERE p_partkey % 97 = 0),
             |f1 AS MATERIALIZED (
             |  SELECT DISTINCT e.dst AS node FROM e
             |  JOIN l0 ON l0.node = e.src
             |  WHERE e.dst NOT IN (SELECT node FROM l0)),
             |l1 AS (SELECT * FROM l0
             |       UNION ALL SELECT node, 1 AS d FROM f1),
             |f2 AS MATERIALIZED (
             |  SELECT DISTINCT e.dst AS node FROM e
             |  JOIN f1 ON f1.node = e.src
             |  WHERE e.dst NOT IN (SELECT node FROM l1)),
             |l2 AS (SELECT * FROM l1
             |       UNION ALL SELECT node, 2 AS d FROM f2),
             |f3 AS (SELECT DISTINCT e.dst AS node FROM e
             |  JOIN f2 ON f2.node = e.src
             |  WHERE e.dst NOT IN (SELECT node FROM l2)),
             |l3 AS (SELECT * FROM l2
             |       UNION ALL SELECT node, 3 AS d FROM f3)
             |SELECT node, d FROM l3 ORDER BY node""".stripMargin)),

    // Degree assortativity of the co-purchase graph — the one-number
    // "do hubs link to hubs" diagnostic (Newman r): Pearson correlation
    // of endpoint degrees over the BIDIRECTED edge list (each undirected
    // edge contributes both orientations, which is exactly how the
    // undirected coefficient is defined). Degrees are integers, the
    // correlation is double rounded at 6 dp (q64's cross-engine float
    // discipline). 100 TB shape: one degree agg + two src/dst-key joins
    // + a single scalar agg — no quadratic anything.
    "x61_assortativity" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
        val e = pc.select(explode(array(
            struct(col("pa").as("src"), col("pb").as("dst")),
            struct(col("pb").as("src"), col("pa").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          // three consumers below (degree agg + two endpoint joins):
          // without this the orders⋈lineitem→pair pipeline recomputes
          // per consumer (the x62 rationale)
          .localCheckpoint()
        val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
        e.join(deg.select(col("src"), col("d").as("du")), "src")
          .join(deg.select(col("src").as("dst"), col("d").as("dv")), "dst")
          .agg(count(lit(1)).as("n_edges"),
            round(corr(col("du").cast("double"),
              col("dv").cast("double")), 6).as("assortativity"))
      },
      Some("""WITH op AS MATERIALIZED (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS MATERIALIZED (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pc
             |      UNION ALL SELECT pb AS src, pa AS dst FROM pc),
             |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src)
             |SELECT count(*) AS n_edges,
             |  round(corr(CAST(du.d AS DOUBLE), CAST(dv.d AS DOUBLE)), 6)
             |    AS assortativity
             |FROM e JOIN deg du ON du.src = e.src
             |JOIN deg dv ON dv.src = e.dst""".stripMargin)),

    // Modularity of the x51 label-propagation communities over the same
    // co-purchase graph — the "were those communities real" evaluation
    // (Newman Q): intra-community edge fraction minus the degree-squared
    // null expectation. Unlabeled nodes become singletons (coalesce to a
    // per-node label) so the partition is total. All counts are integer;
    // the final ratio is double at gate scale (every intermediate
    // < 2^53 — exact) rounded 6 dp; at 100 TB the same numerator moves
    // to DECIMAL(38,0) (the x50 widening discipline).
    "x62_modularity" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
        // materialized ONCE: consumed by labelPropagate (which derives
        // its own cached distinct) AND by the modularity joins below —
        // left lazy, the whole collect_set+pair pipeline would run twice
        val edges = pc.select(explode(array(
            struct(col("pa").as("src"), col("pb").as("dst")),
            struct(col("pb").as("src"), col("pa").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .localCheckpoint()
        val seeds = t(s, dir, "part")
          .filter(col("p_partkey") % 7 === 0)
          .select(col("p_partkey").as("node"), col("p_brand").as("label"))
        val lab = Graph.labelPropagate(edges, seeds, iters = 2,
            checkpointInterval = 1) // r22: paired A/B 0.94 vs unroll
          .select(col("node"), coalesce(col("label"),
            concat(lit("u"), col("node").cast("string"))).as("lab"))
        val wl = edges
          .join(lab.select(col("node").as("src"), col("lab").as("sl")), "src")
          .join(lab.select(col("node").as("dst"), col("lab").as("dl")), "dst")
        // ONE pass over the labeled-edge frame: the edge total, the
        // intra-community count, and the per-label degree squares all
        // roll up from a single label-keyed agg (label cardinality is
        // bounded) — wl was previously consumed lazily by two separate
        // aggregates, recomputing its two joins; values are identical
        // (sum of per-label partials), so the gate hash is unchanged
        val g = wl.groupBy("sl").agg(count(lit(1)).as("dc"),
          sum(when(col("sl") === col("dl"), 1).otherwise(0)).as("intra_l"))
        g.agg(sum(col("dc")).as("r"), sum(col("intra_l")).as("intra"),
            sum(col("dc") * col("dc")).as("s2"))
          .select(col("r"), col("intra"),
            round((col("intra") * col("r") - col("s2")).cast("double") /
              (col("r") * col("r")).cast("double"), 6).as("q_mod"))
      },
      Some("""WITH op AS MATERIALIZED (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS MATERIALIZED (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pc
             |      UNION ALL SELECT pb AS src, pa AS dst FROM pc),
             |nodes AS (SELECT DISTINCT src AS node FROM e),
             |seeds AS (SELECT p_partkey AS sn, p_brand AS slabel
             |          FROM part WHERE p_partkey % 7 = 0),
             |l0 AS (SELECT node, slabel AS label
             |       FROM nodes LEFT JOIN seeds ON sn = node),
             |c1 AS (SELECT e.src AS n, l.label, count(*) AS c
             |       FROM e JOIN l0 l ON l.node = e.dst
             |       WHERE l.label IS NOT NULL GROUP BY e.src, l.label),
             |m1 AS (SELECT n, label FROM (
             |         SELECT n, label, row_number() OVER (PARTITION BY n
             |           ORDER BY c DESC, label) AS rn FROM c1)
             |       WHERE rn = 1),
             |l1 AS (SELECT l0.node, coalesce(m1.label, l0.label) AS label
             |       FROM l0 LEFT JOIN m1 ON m1.n = l0.node),
             |c2 AS (SELECT e.src AS n, l.label, count(*) AS c
             |       FROM e JOIN l1 l ON l.node = e.dst
             |       WHERE l.label IS NOT NULL GROUP BY e.src, l.label),
             |m2 AS (SELECT n, label FROM (
             |         SELECT n, label, row_number() OVER (PARTITION BY n
             |           ORDER BY c DESC, label) AS rn FROM c2)
             |       WHERE rn = 1),
             |l2 AS (SELECT l1.node, coalesce(m2.label, l1.label) AS label
             |       FROM l1 LEFT JOIN m2 ON m2.n = l1.node),
             |lab AS (SELECT node,
             |          coalesce(label, 'u' || CAST(node AS VARCHAR)) AS lab
             |        FROM l2),
             |wl AS (SELECT ls.lab AS sl, ld.lab AS dl
             |       FROM e JOIN lab ls ON ls.node = e.src
             |       JOIN lab ld ON ld.node = e.dst),
             |tot AS (SELECT count(*) AS r,
             |          sum(CASE WHEN sl = dl THEN 1 ELSE 0 END) AS intra
             |        FROM wl),
             |ds AS (SELECT sl, count(*) AS dc FROM wl GROUP BY sl),
             |s2 AS (SELECT sum(dc * dc) AS s2 FROM ds)
             |SELECT CAST(tot.r AS BIGINT) AS r,
             |  CAST(tot.intra AS BIGINT) AS intra,
             |  round(CAST(tot.intra * tot.r - s2.s2 AS DOUBLE)
             |    / (tot.r * tot.r), 6) AS q_mod
             |FROM tot CROSS JOIN s2""".stripMargin)),

    // MinHash calibration — measure the sketch against ground truth: for
    // every pair in a bounded doc panel (the 200 LOWEST doc_ids), the
    // k=32 md5-slot MinHash Jaccard ESTIMATE next to the exact shingle
    // Jaccard. md5 (not the production xxhash kernel) makes the
    // signature engine-reproducible, so the oracle rebuilds the exact
    // same sketch — this is the honesty check behind x1's
    // threshold/band choices, as a standing gate. Estimates are
    // multiples of 1/32 (exact in binary); both ratios round at 6 dp.
    // 100 TB shape: the panel is a FIXED SIZE (not a fixed fraction —
    // r12's `doc_id % 50` panel still grew with the corpus): lowest-200
    // doc_ids via orderBy+limit = TakeOrderedAndProject (per-partition
    // top-N then one driver merge, no shuffle), so the exact-Jaccard
    // self-join inside runs on a 200-doc frame at ANY corpus size —
    // pairs scale with the panel, never the corpus, by construction.
    "d40_minhash_calibration" -> QueryDef(
      (s, dir) => {
        val sh = t(s, dir, "documents")
          .orderBy("doc_id").limit(200)
          .select(col("doc_id"),
            explode(Dedup.shingles(col("text"), 3)).as("shingle"))
          .distinct()
          .localCheckpoint() // consumed by three branches below
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        // ONE md5 per shingle (48 bits of it, parsed to an int), then the
        // 32 slot hashes are universal-hash arithmetic (a_i·v + b_i mod p,
        // p = 2^31−1) — pure codegen integer ops instead of 32 salted
        // md5 calls per shingle (was the whole cost of this query: ~12 M
        // md5s at sf0.1; now ~0.4 M plus multiply-adds). Identical
        // formula in the oracle, so estimates stay cross-engine exact.
        val mh = sh
          .select(col("doc_id"),
            (conv(substring(md5(col("shingle")), 1, 12), 16, 10)
              .cast("long") % 2147483647L).as("v"))
          .select(col("doc_id"),
            explode(sequence(lit(0), lit(31))).as("slot"), col("v"))
          .select(col("doc_id"), col("slot"),
            (((col("slot") * 1103515245L + 12345L) % 2147483647L
              * col("v")
              + (col("slot") * 179426549L + 7919L) % 2147483647L)
              % 2147483647L).as("h"))
          .groupBy("doc_id", "slot").agg(min(col("h")).as("mh"))
        // COLLISION join, not an all-pairs slot join: pairs surface only
        // where a slot's min-hash actually matches (je > 0) or a shingle
        // is shared (inter > 0) — cost scales with the matches, never
        // panel². Pairs absent from one side coalesce to 0 on that side.
        val coll = mh.as("a").join(mh.as("b"),
            col("a.slot") === col("b.slot") &&
              col("a.mh") === col("b.mh") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("nc"))
        val inter = sh.as("x").join(sh.as("y"),
            col("x.shingle") === col("y.shingle") &&
              col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
          .agg(count(lit(1)).as("inter"))
        coll.join(inter, Seq("id_a", "id_b"), "full_outer")
          .join(sz.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
          .join(sz.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
          .select(col("id_a"), col("id_b"),
            round(coalesce(col("inter"), lit(0L)).cast("double") /
              (col("na") + col("nb") - coalesce(col("inter"), lit(0L))), 6)
              .as("j_exact"),
            round(coalesce(col("nc"), lit(0L)) / 32.0, 6).as("j_est"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${shinglesCteN(3,
                 "(SELECT * FROM documents ORDER BY doc_id LIMIT 200) seld")},
             |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |mh AS (
             |  SELECT doc_id, i AS slot,
             |    min(((i * 1103515245 + 12345) % 2147483647 * v
             |         + (i * 179426549 + 7919) % 2147483647)
             |        % 2147483647) AS mh
             |  FROM (SELECT doc_id,
             |          list_reduce(list_transform(range(1, 13),
             |            j -> CAST(strpos('0123456789abcdef',
             |              substr(md5(shingle), j, 1)) - 1 AS BIGINT)),
             |            (a, b) -> a * 16 + b) % 2147483647 AS v
             |        FROM sh) vs, range(32) t(i)
             |  GROUP BY doc_id, i),
             |coll AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
             |  FROM mh a JOIN mh b
             |    ON a.slot = b.slot AND a.mh = b.mh
             |    AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |p0 AS (
             |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
             |  FROM sh x JOIN sh y
             |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT coalesce(coll.id_a, p0.id_a) AS id_a,
             |    coalesce(coll.id_b, p0.id_b) AS id_b,
             |    coalesce(nc, 0) AS nc, coalesce(inter, 0) AS inter
             |  FROM coll FULL OUTER JOIN p0
             |    ON p0.id_a = coll.id_a AND p0.id_b = coll.id_b)
             |SELECT pairs.id_a, pairs.id_b,
             |  round(inter::DOUBLE / (na.n + nb.n - inter), 6) AS j_exact,
             |  round(nc / 32.0, 6) AS j_est
             |FROM pairs
             |JOIN n na ON na.doc_id = pairs.id_a
             |JOIN n nb ON nb.doc_id = pairs.id_b
             |ORDER BY pairs.id_a, pairs.id_b""".stripMargin)),

    // Exact per-group top-k WITHOUT a sort: the native TopKStructAgg
    // (TypedImperativeAggregate) keeps a k-bounded heap per group on
    // ObjectHashAggregate with map-side partials. Spark 4's
    // WindowGroupLimit already map-side-bounds the row_number idiom too
    // (measured both ways in tools/TopKScale — see the Scaladoc): the
    // heap's regime is FEW groups (O(n log k) vs per-partition sort; 5
    // langs here) and aggregate composition (top-k beside other aggs in
    // one pass, rows returned as an array). The oracle IS the window
    // form: both select the k minima of the same total order
    // (-n_chars, doc_id), so equality proves the heap machinery
    // (update/merge/serde).
    "x63_topk_per_group" -> QueryDef(
      (s, dir) => {
        t(s, dir, "documents")
          .groupBy("lang")
          .agg(graft.functions.AggFunctions.topKStruct(
            struct((-col("n_chars")).as("negc"), col("doc_id")), 3)
            .as("top"))
          .select(col("lang"), posexplode(col("top")))
          .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
            col("col.doc_id").as("doc_id"),
            (-col("col.negc")).as("n_chars"))
          .orderBy("lang", "rk")
      },
      Some("""SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id, n_chars
             |FROM (
             |  SELECT lang, doc_id, n_chars,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY n_chars DESC, doc_id) AS rk
             |  FROM documents)
             |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin)),

    // Connected components of the co-purchase graph — every node labeled
    // with the MIN node id in its component (the deterministic component
    // id dedup-cluster resolution uses; x10 runs the same contract on
    // minhash pairs, this runs it on an arbitrary graph operator).
    // Engine: Graph.connectedComponents — min-label propagation to a
    // FIXPOINT with a per-round early exit, so the result is the exact
    // component labeling regardless of round count. Oracle: DuckDB
    // recursive transitive closure + min-reachable — exact by
    // construction, so the gate proves the iterative operator actually
    // converged (a dropped round would leave a non-min label somewhere
    // and fail the hash). 100 TB shape is documented on the operator:
    // per-round cost is one edge-key join + node-key min-aggs, rounds
    // bounded by component diameter (single digits on co-purchase-like
    // small-world graphs).
    "x69_connected_components" -> QueryDef(
      (s, dir) => {
        val edges = coPurchaseEdges(s, dir)
        // the label frame materializes every round even on this small
        // graph: unlike x47's narrow rank update, its update is a
        // union-min SHUFFLE, so deferring materialization re-runs
        // shuffles instead of shedding jobs (measured: every 5 rounds ran
        // 4.4 s vs 3.8 s at sf0.1)
        Graph.connectedComponents(edges).orderBy("node")
      },
      Some("""WITH RECURSIVE op AS MATERIALIZED (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS MATERIALIZED (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pc
             |      UNION ALL SELECT pb AS src, pa AS dst FROM pc),
             |reach AS (
             |  SELECT src AS node, src AS r FROM e
             |  UNION
             |  SELECT reach.node, e.dst FROM reach
             |  JOIN e ON e.src = reach.r)
             |SELECT node, min(r) AS comp FROM reach
             |GROUP BY node ORDER BY node""".stripMargin)),

    // Multi-source weighted shortest paths (bounded Bellman-Ford) over
    // the co-purchase graph: seed parts (p_partkey % 97 = 0) at cost 0,
    // edge weight = (pa + pb) % 7 + 1 (deterministic integer, same in
    // both directions), 8 relaxation rounds — i.e. exact cheapest cost
    // over paths of <= 8 edges, which on this small-world graph IS the
    // converged shortest path (the operator's early exit fires first).
    // The round cap makes the semantic engine-exact WITHOUT relying on
    // convergence: round k of delta-frontier Bellman-Ford and round k of
    // the oracle's full relaxation both yield "cheapest path using <= k
    // edges", so the hash matches even on adversarial inputs. 100 TB
    // shape: documented on Graph.shortestPaths — per-round cost rides
    // the frontier's out-edges, never O(E).
    "x70_sssp" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
          .withColumn("w", (col("pa") + col("pb")) % 7 + 1)
        val edges = pc.select(explode(array(
            struct(col("pa").as("src"), col("pb").as("dst"), col("w")),
            struct(col("pb").as("src"), col("pa").as("dst"), col("w"))))
            .as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"),
            col("e.w").as("w"))
        val seeds = t(s, dir, "part")
          .filter(col("p_partkey") % 97 === 0)
          .select(col("p_partkey").as("source"))
        Graph.shortestPaths(edges, seeds, maxRounds = 8)
          .orderBy("node") // interval=1: see the x69 shuffle-update note
      },
      Some {
        val rounds = (1 to 8).map { k =>
          s"""d$k AS MATERIALIZED (
             |  SELECT node, min(dist) AS dist FROM (
             |    SELECT node, dist FROM d${k - 1}
             |    UNION ALL
             |    SELECT e.dst AS node, d.dist + e.w AS dist
             |    FROM d${k - 1} d JOIN e ON e.src = d.node)
             |  GROUP BY node)""".stripMargin
        }.mkString(",\n")
        s"""WITH op AS MATERIALIZED (
           |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |pc AS MATERIALIZED (
           |  SELECT a.pk AS pa, b.pk AS pb,
           |    (a.pk + b.pk) % 7 + 1 AS w
           |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
           |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
           |e AS MATERIALIZED (SELECT pa AS src, pb AS dst, w FROM pc
           |      UNION ALL SELECT pb AS src, pa AS dst, w FROM pc),
           |d0 AS (SELECT DISTINCT p_partkey AS node, CAST(0 AS BIGINT)
           |         AS dist FROM part WHERE p_partkey % 97 = 0),
           |$rounds
           |SELECT node, dist FROM d8 ORDER BY node""".stripMargin
      }),

    // k-bounded closeness + harmonic centrality on the x59 seed panel —
    // "how central is this part in the co-purchase graph", the
    // reachability view PageRank's in-link view misses. Spark runs ONE
    // per-source delta BFS (frontier keyed (source, node), settled pairs
    // never revisited — Graph.bfsPerSource) and aggregates to integer
    // units: harmonic = Σ 1e6 div d, closeness_ppm = reached·1e6 div Σd
    // (1e6/1=1000000, /2=500000, /3=333333 — exact in both engines).
    // Truncation at 3 hops is the production estimator shape (exact
    // closeness needs all-pairs); the panel bounds the (source × node)
    // frame. The oracle unrolls the three per-source frontiers with
    // NOT-EXISTS settlement, mirroring x59.
    "x75_closeness" -> QueryDef(
      (s, dir) => {
        val edges = coPurchaseEdges(s, dir)
        val seeds = t(s, dir, "part")
          .filter(col("p_partkey") % 97 === 0)
          .select(col("p_partkey").as("source"))
        Graph.harmonicCentrality(edges, seeds, maxDepth = 3)
          .orderBy("source")
      },
      Some("""WITH op AS MATERIALIZED (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS MATERIALIZED (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pc
             |      UNION ALL SELECT pb AS src, pa AS dst FROM pc),
             |l0 AS (SELECT DISTINCT p_partkey AS source,
             |         p_partkey AS node, 0 AS d
             |       FROM part WHERE p_partkey % 97 = 0),
             |f1 AS MATERIALIZED (
             |  SELECT DISTINCT l0.source, e.dst AS node
             |  FROM e JOIN l0 ON l0.node = e.src
             |  WHERE NOT EXISTS (SELECT 1 FROM l0 x
             |    WHERE x.source = l0.source AND x.node = e.dst)),
             |l1 AS (SELECT * FROM l0
             |       UNION ALL SELECT source, node, 1 AS d FROM f1),
             |f2 AS MATERIALIZED (
             |  SELECT DISTINCT f1.source, e.dst AS node
             |  FROM e JOIN f1 ON f1.node = e.src
             |  WHERE NOT EXISTS (SELECT 1 FROM l1 x
             |    WHERE x.source = f1.source AND x.node = e.dst)),
             |l2 AS (SELECT * FROM l1
             |       UNION ALL SELECT source, node, 2 AS d FROM f2),
             |f3 AS MATERIALIZED (
             |  SELECT DISTINCT f2.source, e.dst AS node
             |  FROM e JOIN f2 ON f2.node = e.src
             |  WHERE NOT EXISTS (SELECT 1 FROM l2 x
             |    WHERE x.source = f2.source AND x.node = e.dst)),
             |l3 AS (SELECT * FROM l2
             |       UNION ALL SELECT source, node, 3 AS d FROM f3)
             |SELECT source, count(*) AS n_reached,
             |  CAST(sum(d) AS BIGINT) AS sum_d,
             |  CAST(sum(1000000 // d) AS BIGINT) AS harmonic_units,
             |  CAST(count(*) * 1000000 // sum(d) AS BIGINT)
             |    AS closeness_ppm
             |FROM l3 WHERE d > 0
             |GROUP BY source ORDER BY source""".stripMargin)),

    // k-bounded Brandes betweenness on the same panel — "which parts do
    // co-purchase paths flow THROUGH" (the brokerage/chokepoint view
    // x47/x75 both miss). Two passes over the per-source BFS DAG: path
    // counts forward, dependency accumulation backward, every δ term
    // floor-divided to micro-units BEFORE its sum so the result is
    // accumulation-order-exact (the float Brandes form is not) — see
    // Graph.betweennessTruncated. Truncation at 3 hops + source panel is
    // the Brandes–Pich estimator shape exact betweenness scales by.
    // Top-20 with node tiebreak; the oracle unrolls both passes.
    "x76_betweenness" -> QueryDef(
      (s, dir) => {
        val edges = coPurchaseEdges(s, dir)
        val seeds = t(s, dir, "part")
          .filter(col("p_partkey") % 97 === 0)
          .select(col("p_partkey").as("source"))
        Graph.betweennessTruncated(edges, seeds, maxDepth = 3)
          .orderBy(desc("bc_micro"), col("node")).limit(20)
      },
      Some("""WITH op AS MATERIALIZED (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS MATERIALIZED (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pc
             |      UNION ALL SELECT pb AS src, pa AS dst FROM pc),
             |l0 AS (SELECT DISTINCT p_partkey AS source,
             |         p_partkey AS node, 1::BIGINT AS sigma
             |       FROM part WHERE p_partkey % 97 = 0),
             |l1 AS MATERIALIZED (
             |  SELECT l0.source, e.dst AS node,
             |    CAST(sum(l0.sigma) AS BIGINT) AS sigma
             |  FROM e JOIN l0 ON l0.node = e.src
             |  WHERE NOT EXISTS (SELECT 1 FROM l0 x
             |    WHERE x.source = l0.source AND x.node = e.dst)
             |  GROUP BY l0.source, e.dst),
             |l2 AS MATERIALIZED (
             |  SELECT l1.source, e.dst AS node,
             |    CAST(sum(l1.sigma) AS BIGINT) AS sigma
             |  FROM e JOIN l1 ON l1.node = e.src
             |  WHERE NOT EXISTS (SELECT 1 FROM l0 x
             |    WHERE x.source = l1.source AND x.node = e.dst)
             |    AND NOT EXISTS (SELECT 1 FROM l1 x
             |    WHERE x.source = l1.source AND x.node = e.dst)
             |  GROUP BY l1.source, e.dst),
             |l3 AS MATERIALIZED (
             |  SELECT l2.source, e.dst AS node,
             |    CAST(sum(l2.sigma) AS BIGINT) AS sigma
             |  FROM e JOIN l2 ON l2.node = e.src
             |  WHERE NOT EXISTS (SELECT 1 FROM l0 x
             |    WHERE x.source = l2.source AND x.node = e.dst)
             |    AND NOT EXISTS (SELECT 1 FROM l1 x
             |    WHERE x.source = l2.source AND x.node = e.dst)
             |    AND NOT EXISTS (SELECT 1 FROM l2 x
             |    WHERE x.source = l2.source AND x.node = e.dst)
             |  GROUP BY l2.source, e.dst),
             |d2 AS (
             |  SELECT l2.source, l2.node,
             |    CAST(sum(l2.sigma * 1000000 // l3.sigma) AS BIGINT)
             |      AS delta
             |  FROM l2 JOIN e ON l2.node = e.src
             |  JOIN l3 ON l3.source = l2.source AND l3.node = e.dst
             |  GROUP BY l2.source, l2.node),
             |d2f AS (
             |  SELECT l2.source, l2.node, l2.sigma,
             |    coalesce(d2.delta, 0) AS delta
             |  FROM l2 LEFT JOIN d2
             |    ON d2.source = l2.source AND d2.node = l2.node),
             |d1 AS (
             |  SELECT l1.source, l1.node,
             |    CAST(sum(l1.sigma * (1000000 + d2f.delta) // d2f.sigma)
             |      AS BIGINT) AS delta
             |  FROM l1 JOIN e ON l1.node = e.src
             |  JOIN d2f ON d2f.source = l1.source AND d2f.node = e.dst
             |  GROUP BY l1.source, l1.node),
             |d1f AS (
             |  SELECT l1.source, l1.node, coalesce(d1.delta, 0) AS delta
             |  FROM l1 LEFT JOIN d1
             |    ON d1.source = l1.source AND d1.node = l1.node)
             |SELECT node, CAST(sum(delta) AS BIGINT) AS bc_micro
             |FROM (SELECT node, delta FROM d1f
             |      UNION ALL SELECT node, delta FROM d2f)
             |GROUP BY node ORDER BY bc_micro DESC, node LIMIT 20"""
        .stripMargin)),

    // Link prediction by neighborhood overlap — the "parts that SHOULD
    // be co-purchased but aren't yet" candidate generator (the classic
    // common-neighbors/Jaccard baseline every recommender starts from).
    // Candidates are distance-2 pairs only (one wedge self-join on the
    // center key — the x52 triangle shape, never all-pairs), existing
    // edges anti-joined away, ranked by neighbor-set Jaccard in integer
    // ppm with (u, w) tiebreaks. 100 TB: the wedge join IS the output
    // here (every wedge is a candidate pair), so unlike triangles/
    // ktruss the degree-ordered orientation cannot delete hub work —
    // the mitigation is the x80/maxBucket CENTER-DEGREE CAP: centers
    // with deg > 64 are dropped from the wedge join (in BOTH engines —
    // a mega-hub's co-occurrence is boilerplate, not similarity
    // evidence, and its C(deg,2) pair fan-out is the whole cliff:
    // tools/GraphScale100 `linkpred` measures 2.13·10¹¹ uncapped
    // wedges at 100 M edges — the top hub's fan-out alone is ~1.5·10¹¹
    // — vs 8.34·10⁸ capped, 256× less). Jaccard denominators keep the
    // TRUE degrees — the cap prunes evidence channels, never the
    // degree normalization. At gate scale the cap drops nothing: max
    // center degree is 13 (sf0.01) / 6 (sf0.1).
    "x77_link_prediction" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
        val e = pc.select(explode(array(
            struct(col("pa").as("src"), col("pb").as("dst")),
            struct(col("pb").as("src"), col("pa").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .distinct()
          .localCheckpoint() // consumed by degree agg, wedge join, anti
        val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        val ec = e.join(deg.filter(col("deg") <= 64).select("src"),
          Seq("src"), "left_semi")
        val cn = ec.select(col("src").as("z"), col("dst").as("u"))
          .join(ec.select(col("src").as("z"), col("dst").as("w")), "z")
          .filter(col("u") < col("w"))
          .groupBy("u", "w").agg(count(lit(1)).as("cn"))
        cn.join(e.select(col("src").as("u"), col("dst").as("w")),
            Seq("u", "w"), "left_anti")
          .join(deg.select(col("src").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("src").as("w"), col("deg").as("dw")), "w")
          .select(col("u"), col("w"), col("cn"),
            expr("CAST(cn * 1000000 AS BIGINT) div (du + dw - cn)")
              .as("jaccard_ppm"))
          .orderBy(desc("jaccard_ppm"), col("u"), col("w")).limit(20)
      },
      Some("""WITH op AS MATERIALIZED (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS MATERIALIZED (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pc
             |      UNION ALL SELECT pb AS src, pa AS dst FROM pc),
             |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
             |ec AS (SELECT e.* FROM e
             |  JOIN deg ON deg.src = e.src AND deg.deg <= 64),
             |cn AS (
             |  SELECT a.dst AS u, b.dst AS w, count(*) AS cn
             |  FROM ec a JOIN ec b ON a.src = b.src AND a.dst < b.dst
             |  GROUP BY 1, 2),
             |ne AS (
             |  SELECT cn.u, cn.w, cn.cn FROM cn
             |  WHERE NOT EXISTS (SELECT 1 FROM e
             |    WHERE e.src = cn.u AND e.dst = cn.w))
             |SELECT ne.u, ne.w, CAST(ne.cn AS BIGINT) AS cn,
             |  CAST(ne.cn * 1000000 // (du.deg + dw.deg - ne.cn)
             |    AS BIGINT) AS jaccard_ppm
             |FROM ne
             |JOIN deg du ON du.src = ne.u
             |JOIN deg dw ON dw.src = ne.w
             |ORDER BY jaccard_ppm DESC, ne.u, ne.w LIMIT 20"""
        .stripMargin)),

    // Scene-cut detection over decoded video — the segmentation pass
    // that decides WHICH frames are worth keeping before any expensive
    // per-frame model runs (shot-boundary sampling). Runs the REAL
    // pipeline end to end: RIFF/AVI walk → DIB frame decode
    // (Multimodal.decodeVideo, exact for the uncompressed path) →
    // integer luma (BT.601 ×1000: 299R+587G+114B) → per-video lag
    // window → cut where the luma step exceeds 50 000 milli-units. The
    // oracle recomputes from the synthesizer's closed-form frame colors,
    // so the gate proves decode + windowing agree with ground truth
    // frame-exactly. 100 TB: decode is a narrow mapPartitions, the lag
    // is a per-video window over frame-count-sized groups.
    "x78_scene_cuts" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val frames = graft.operators.Multimodal.decodeVideo(
          s, graft.operators.Multimodal.synthesizeVideo(
            s, t(s, dir, "documents")))
        val w = Window.partitionBy("doc_id").orderBy("frame_idx")
        frames
          .withColumn("luma_k", expr(
            "CAST(mean_r AS BIGINT) * 299 + CAST(mean_g AS BIGINT) * 587" +
              " + CAST(mean_b AS BIGINT) * 114"))
          .withColumn("prev_luma", lag(col("luma_k"), 1).over(w))
          .select(col("doc_id"), col("frame_idx"), col("luma_k"),
            (col("prev_luma").isNotNull &&
              abs(col("luma_k") - col("prev_luma")) > 50000L)
              .as("is_cut"))
          .orderBy("doc_id", "frame_idx")
      },
      Some(
        """WITH f AS (
          |  SELECT doc_id, unnest(range(0, doc_id % 6 + 2)) AS frame
          |  FROM documents),
          |l AS (
          |  SELECT doc_id, CAST(frame AS INT) AS frame_idx,
          |    ((doc_id + frame) % 256) * 299
          |    + ((7 * doc_id + 13 * frame) % 256) * 587
          |    + ((13 * doc_id + 29 * frame) % 256) * 114 AS luma_k
          |  FROM f)
          |SELECT doc_id, frame_idx, CAST(luma_k AS BIGINT) AS luma_k,
          |  coalesce(abs(luma_k - lag(luma_k) OVER
          |    (PARTITION BY doc_id ORDER BY frame_idx)) > 50000, FALSE)
          |    AS is_cut
          |FROM l ORDER BY doc_id, frame_idx""".stripMargin)),

    // Audio activity segmentation (VAD-style silence trim) — the x78
    // idea on the audio axis: WAV decode → per-frame energies AS ROWS
    // (Multimodal.frameEnergies, the x45 aggregation un-collapsed) →
    // active = energy above threshold → segment starts where activity
    // turns on (lag window). What a speech pipeline runs before paying
    // for ASR. The oracle recomputes energies from the synthesizer's
    // closed-form samples and applies the same window, so decode,
    // framing, and segmentation all gate exactly.
    "x79_audio_segments" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val fe = graft.operators.Multimodal.frameEnergies(
          s, graft.operators.Multimodal.synthesizeAudio(
            s, t(s, dir, "documents")))
        val w = Window.partitionBy("doc_id").orderBy("frame_idx")
        fe.withColumn("active", col("energy") > 2600000L)
          .withColumn("prev_active", lag(col("active"), 1).over(w))
          .select(col("doc_id"), col("frame_idx"), col("energy"),
            col("active"),
            (col("active") &&
              (col("prev_active").isNull || !col("prev_active")))
              .as("seg_start"))
          .orderBy("doc_id", "frame_idx")
      },
      Some(
        """WITH base AS (
          |  SELECT doc_id, CAST(doc_id % 50 + 20 AS BIGINT) AS n
          |  FROM documents),
          |fr AS (
          |  SELECT doc_id,
          |    unnest(range(0, CAST((n - 8) // 4 + 1 AS INT))) AS f
          |  FROM base),
          |en AS (
          |  SELECT doc_id, CAST(f AS INT) AS frame_idx,
          |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(range(0, 8), j ->
          |        ((doc_id * 31 + (f * 4 + j) * 17) % 2001 - 1000)
          |        * ((doc_id * 31 + (f * 4 + j) * 17) % 2001 - 1000))),
          |      (a, b) -> a + b) AS BIGINT) AS energy
          |  FROM fr)
          |SELECT doc_id, frame_idx, energy,
          |  energy > 2600000 AS active,
          |  (energy > 2600000) AND coalesce(
          |    NOT (lag(energy) OVER (PARTITION BY doc_id
          |      ORDER BY frame_idx) > 2600000), TRUE) AS seg_start
          |FROM en ORDER BY doc_id, frame_idx""".stripMargin)),

    // WebP container walk (r19 verdict item 3) — the image family's
    // largest format gap: several percent of crawl images and the
    // default output of image CDNs. The fixture spans the container
    // grammar: plain lossless (VP8L), plain lossy (VP8 keyframe header
    // facts), extended VP8X with ALPH+alpha flag, extended lossless
    // with EXIF, and a two-frame ANIM/ANMF animation. Oracle
    // re-derives every fact from doc_id arithmetic; WebpSpec pins the
    // walker against a REAL libwebp-encoded file.
    "x131_webp_meta" -> QueryDef(
      (s, dir) => graft.sources.WebpSource.webpTable(
          s, graft.sources.WebpSource.synthesizeWebp(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CASE WHEN doc_id % 6 = 1 THEN 'lossy'
          |    WHEN doc_id % 6 IN (0, 2) THEN 'lossless'
          |    ELSE 'extended' END AS fmt,
          |  CAST(8 + (doc_id % 5) * 4 AS INT) AS canvas_w,
          |  CAST(6 + (doc_id % 4) * 3 AS INT) AS canvas_h,
          |  doc_id % 6 = 3 AS has_alpha,
          |  doc_id % 6 = 5 AS has_anim,
          |  CAST(CASE WHEN doc_id % 6 = 5 THEN 2 ELSE 1 END AS INT)
          |    AS n_frames,
          |  CAST(CASE WHEN doc_id % 6 IN (0, 2, 4) THEN 1
          |    WHEN doc_id % 6 = 5 THEN 2 ELSE 0 END AS INT)
          |    AS lossless_frames
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // VP8L lossless pixel decode (r19 verdict item 3) — the decoded
    // ARGB of every lossless frame folded to a per-frame rgb sum the
    // oracle re-derives from the fixture's two-valued channel formula
    // (odd docs store through SUBTRACT_GREEN, so both transform
    // parities are under the gate). The general decoder paths the
    // 2-symbol fixture cannot reach — code-length-coded prefix codes,
    // color cache, LZ77 plane distances, predictor/color/palette
    // transforms — are pinned by hand-built vectors in WebpSpec.
    "x132_webp_pixels" -> QueryDef(
      (s, dir) => graft.sources.WebpSource.webpPixelTable(
          s, graft.sources.WebpSource.synthesizeWebp(
            s, t(s, dir, "documents")))
        .orderBy("doc_id", "frame"),
      Some(
        """WITH d AS (
          |  SELECT doc_id, 8 + (doc_id % 5) * 4 AS w,
          |    6 + (doc_id % 4) * 3 AS h, doc_id % 6 AS m
          |  FROM documents WHERE doc_id % 6 IN (0, 2, 4, 5)),
          |f AS (SELECT doc_id, m, w, h,
          |        unnest(range(0, CASE WHEN m = 5 THEN 2 ELSE 1 END))
          |          AS frame
          |      FROM d),
          |g AS (SELECT doc_id, frame,
          |        CASE WHEN m = 5 AND frame = 1 THEN w - 4 ELSE w END AS fw,
          |        CASE WHEN m = 5 AND frame = 1 THEN h - 2 ELSE h END AS fh
          |      FROM f),
          |px AS (SELECT doc_id, frame, fw, fh,
          |         unnest(range(0, fw * fh)) AS p FROM g),
          |v AS (SELECT doc_id, frame, fw, fh, p % fw AS x, p // fw AS y
          |      FROM px),
          |c AS (SELECT doc_id, frame, fw, fh,
          |        32 + 128 * ((doc_id + frame + 3 * x + 7 * y) % 2) AS g,
          |        CASE WHEN doc_id % 2 = 0
          |          THEN 16 + 64 * ((doc_id + frame + 5 * x + y) % 2)
          |          ELSE (32 + 128 * ((doc_id + frame + 3 * x + 7 * y) % 2)
          |                + 70) % 256 END AS r,
          |        CASE WHEN doc_id % 2 = 0
          |          THEN 8 + 32 * ((doc_id + frame + x + 11 * y) % 2)
          |          ELSE (32 + 128 * ((doc_id + frame + 3 * x + 7 * y) % 2)
          |                + 13) % 256 END AS b
          |      FROM v)
          |SELECT doc_id, CAST(frame AS INT) AS frame,
          |  CAST(any_value(fw) AS INT) AS w,
          |  CAST(any_value(fh) AS INT) AS h,
          |  CAST(sum(r + g + b) AS BIGINT) AS rgb_sum
          |FROM c GROUP BY doc_id, frame ORDER BY doc_id, frame""".stripMargin)),

    // MP3 frame-header walk (r19 verdict item 4) — compressed-audio
    // metadata without a decoder: real multimodal corpora are
    // MP3/AAC/Opus-dominated while the decode surface is WAV/PCM, so
    // the walker surfaces what curation actually consumes — per-frame
    // bitrate/samplerate/channels, the seekable segment table
    // (offset + frame_bytes), duration — and full Layer III decode
    // stays a named refusal (the mp4/mkv meta treatment). The fixture
    // exercises the real grammar: ID3v2 prefixes (syncsafe length),
    // Xing and VBRI VBR lead frames (excluded from the audio table,
    // their claims spec-pinned against the measured walk), per-frame
    // VBR bitrates and padding bits. The oracle re-derives every field
    // including the absolute byte offsets (prefix sum over the header
    // length formula 144000·kbps//sr + pad, plus the ID3/lead prefix).
    "x133_mp3_meta" -> QueryDef(
      (s, dir) => graft.sources.Mp3Source.mp3Frames(
          s, graft.sources.Mp3Source.synthesizeMp3(
            s, t(s, dir, "documents")))
        .orderBy("doc_id", "frame_idx"),
      Some(
        """WITH s AS (
          |  SELECT doc_id, CAST(doc_id % 7 + 3 AS BIGINT) AS n,
          |    list_extract([44100,48000,32000],
          |      CAST(doc_id % 3 AS INT) + 1) AS sr,
          |    CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS ch,
          |    CASE WHEN doc_id % 3 = 0 THEN doc_id % 50 + 20 ELSE 0 END
          |      + CASE WHEN doc_id % 4 IN (0, 2)
          |        THEN 144000 * 128 // list_extract([44100,48000,32000],
          |          CAST(doc_id % 3 AS INT) + 1)
          |        ELSE 0 END AS lead,
          |    unnest(range(0, doc_id % 7 + 3)) AS i
          |  FROM documents)
          |SELECT doc_id, CAST(i AS INT) AS frame_idx,
          |  CAST(lead + list_reduce(list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(0, i), j ->
          |      144000 * list_extract([64,96,128,160,192],
          |        CAST((doc_id + j) % 5 AS INT) + 1) // sr
          |      + (doc_id + j) % 2)), (a, b) -> a + b) AS BIGINT) AS offset,
          |  CAST(144000 * list_extract([64,96,128,160,192],
          |      CAST((doc_id + i) % 5 AS INT) + 1) // sr
          |    + (doc_id + i) % 2 AS INT) AS frame_bytes,
          |  CAST(list_extract([64,96,128,160,192],
          |    CAST((doc_id + i) % 5 AS INT) + 1) AS INT) AS bitrate_kbps,
          |  CAST(sr AS INT) AS samplerate,
          |  CAST(ch AS INT) AS channels,
          |  CAST((doc_id + i) % 2 AS INT) AS padding,
          |  CAST(1152000000 // sr AS BIGINT) AS duration_us
          |FROM s ORDER BY doc_id, frame_idx""".stripMargin)),

    // mp4/ISO-BMFF container walk — real-corpus video metadata without a
    // codec: virtually every real video ships in ISO-BMFF, and the box
    // tree (ftyp/moov/trak/mdia/minf/stbl) carries everything the x78
    // scene/segment and x7 frame-sample pipelines actually consume —
    // codec tag, dims, per-sample byte ranges, keyframe (stss) numbers,
    // per-sample timing (stts runs). The r13 fixture is the REAL-WORLD
    // shape: an 'mp4a' audio trak muxed FIRST (selection must go by
    // hdlr), video samples split 2-per-chunk with audio chunks
    // INTERLEAVED in mdat (stsc runs + full stco arrays; every 3rd doc
    // uses co64), so the surfaced offsets prove the chunk expansion.
    // The gate compares offsets RELATIVE to the mdat payload start
    // (byte_offset − mdat_start): absolute offsets depend on box sizes
    // the oracle cannot reasonably recompute, while the relative form
    // still encodes the whole stsc/stco/interleave structure — the
    // audio-gap jumps are visible in it. Absolute offsets are pinned
    // byte-for-byte against writer ground truth in Round13OpsSpec.
    "x85_mp4_meta" -> QueryDef(
      (s, dir) => graft.operators.Multimodal.mp4SampleTable(
          s, graft.operators.Multimodal.synthesizeMp4(
            s, t(s, dir, "documents")))
        .select(col("doc_id"), col("sample_idx"), col("codec"),
          col("width"), col("height"), col("n_samples"), col("n_bytes"),
          col("chunk_idx"),
          (col("byte_offset") - col("mdat_start")).as("rel_offset"),
          col("dts"), col("pts"), col("is_sync"))
        .orderBy("doc_id", "sample_idx"),
      Some(
        """WITH s AS (
          |  SELECT doc_id, CAST(doc_id % 7 + 3 AS BIGINT) AS n,
          |    CAST(doc_id % 6 + 2 AS BIGINT) AS na,
          |    unnest(range(0, doc_id % 7 + 3)) AS i
          |  FROM documents)
          |SELECT doc_id, CAST(i AS INT) AS sample_idx,
          |  'avc1' AS codec,
          |  CAST((doc_id % 5 + 2) * 16 AS INT) AS width,
          |  CAST((doc_id % 4 + 2) * 16 AS INT) AS height,
          |  CAST(n AS INT) AS n_samples,
          |  CAST((doc_id + i) % 50 + 20 AS BIGINT) AS n_bytes,
          |  CAST(i // 2 AS INT) AS chunk_idx,
          |  -- video prefix bytes (chunks are contiguous in sample order)
          |  -- plus the audio chunks interleaved BEFORE this video chunk:
          |  -- mdat rounds go v0 a0 v1 a1 ..., so video chunk c is
          |  -- preceded by min(c, na) one-sample audio chunks
          |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(0, i), j -> (doc_id + j) % 50 + 20)),
          |    (a, b) -> a + b)
          |  + list_reduce(list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(0, least(i // 2, na)),
          |      k -> (doc_id * 3 + k) % 40 + 10)),
          |    (a, b) -> a + b) AS BIGINT) AS rel_offset,
          |  CAST(CASE WHEN i < n // 2 THEN i * 3000
          |    ELSE (n // 2) * 3000 + (i - n // 2) * 3600 END
          |    AS BIGINT) AS dts,
          |  -- B-frame composition shift from the ctts runs
          |  CAST((CASE WHEN i < n // 2 THEN i * 3000
          |    ELSE (n // 2) * 3000 + (i - n // 2) * 3600 END)
          |    + ((doc_id + i) % 3) * 700 AS BIGINT) AS pts,
          |  i % 3 = 0 AS is_sync
          |FROM s ORDER BY doc_id, sample_idx""".stripMargin)),

    // Keyframe segmentation over the x85 container metadata — the
    // composition a real video pipeline runs next: group samples into
    // segments that START at each stss keyframe (a decoder can only
    // enter a stream at a sync sample, so keyframe-to-keyframe spans
    // ARE the seekable units a frame sampler or scene pipeline shards
    // by). One running-sum window over is_sync + one group-by; both
    // engines run the identical window over the identical sample table.
    "x86_mp4_segments" -> QueryDef(
      (s, dir) => graft.operators.Multimodal.mp4Segments(
          graft.operators.Multimodal.mp4SampleTable(
            s, graft.operators.Multimodal.synthesizeMp4(
              s, t(s, dir, "documents"))))
        .orderBy("doc_id", "seg_idx"),
      Some(
        """WITH s AS (
          |  SELECT doc_id, CAST(doc_id % 7 + 3 AS BIGINT) AS n,
          |    unnest(range(0, doc_id % 7 + 3)) AS i
          |  FROM documents),
          |samp AS (
          |  SELECT doc_id, CAST(i AS INT) AS sample_idx,
          |    CAST(CASE WHEN i < n // 2 THEN i * 3000
          |      ELSE (n // 2) * 3000 + (i - n // 2) * 3600 END
          |      AS BIGINT) AS dts,
          |    i % 3 = 0 AS is_sync
          |  FROM s),
          |seg AS (
          |  SELECT doc_id, sample_idx, dts,
          |    sum(CASE WHEN is_sync THEN 1 ELSE 0 END) OVER (
          |      PARTITION BY doc_id ORDER BY sample_idx) AS seg_idx
          |  FROM samp)
          |SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
          |  CAST(min(sample_idx) AS INT) AS start_sample,
          |  CAST(count(*) AS BIGINT) AS n_samples_seg,
          |  min(dts) AS start_dts, max(dts) AS end_dts
          |FROM seg GROUP BY doc_id, seg_idx
          |ORDER BY doc_id, seg_idx""".stripMargin)),

    // FRAGMENTED mp4 (fMP4 — DASH/CMAF/live capture, the other half of
    // real web video): moov carries EMPTY sample tables + mvex/trex and
    // every sample lives in per-fragment moof/traf/trun boxes with their
    // own mdats. mp4SampleTable consumes it UNCHANGED — the parser folds
    // each trun into a synthesized chunk — so this gate is x85 over the
    // fragmented fixture: per-sample durations/sizes from the video
    // trun, keyframes from first_sample_flags against a non-sync tfhd
    // default (sync = each fragment's first sample), every 3rd doc using
    // explicit base_data_offset instead of default-base-is-moof.
    // Offsets are compared RELATIVE to each sample's own fragment
    // payload (byte_offset − the fragment's first video offset): each
    // fragment's absolute position depends on box sizes the oracle
    // cannot reasonably recompute, while the relative form still proves
    // the trun expansion. Absolute offsets are pinned byte-for-byte
    // against writer ground truth in Round14OpsSpec.
    "x88_fmp4_meta" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        graft.operators.Multimodal.mp4SampleTable(
            s, graft.operators.Multimodal.synthesizeFmp4(
              s, t(s, dir, "documents")))
          .select(col("doc_id"), col("sample_idx"), col("codec"),
            col("width"), col("height"), col("n_samples"), col("n_bytes"),
            col("chunk_idx").as("frag_idx"),
            (col("byte_offset") - min(col("byte_offset")).over(
              Window.partitionBy(col("doc_id"), col("chunk_idx"))))
              .as("rel_offset"),
            col("dts"), col("pts"), col("is_sync"))
          .orderBy("doc_id", "sample_idx")
      },
      Some(
        """WITH s AS (
          |  SELECT doc_id, CAST(doc_id % 7 + 3 AS BIGINT) AS n,
          |    unnest(range(0, doc_id % 7 + 3)) AS i
          |  FROM documents)
          |SELECT doc_id, CAST(i AS INT) AS sample_idx,
          |  'avc1' AS codec,
          |  CAST((doc_id % 5 + 2) * 16 AS INT) AS width,
          |  CAST((doc_id % 4 + 2) * 16 AS INT) AS height,
          |  CAST(n AS INT) AS n_samples,
          |  CAST((doc_id + i) % 50 + 20 AS BIGINT) AS n_bytes,
          |  CAST(i // 2 AS INT) AS frag_idx,
          |  -- 2-sample fragments, video written first in each mdat:
          |  -- the odd sample sits right after its even predecessor
          |  CAST(CASE WHEN i % 2 = 1 THEN (doc_id + i - 1) % 50 + 20
          |    ELSE 0 END AS BIGINT) AS rel_offset,
          |  CAST(CASE WHEN i < n // 2 THEN i * 3000
          |    ELSE (n // 2) * 3000 + (i - n // 2) * 3600 END
          |    AS BIGINT) AS dts,
          |  -- B-frame composition shift from the per-sample trun cts
          |  CAST((CASE WHEN i < n // 2 THEN i * 3000
          |    ELSE (n // 2) * 3000 + (i - n // 2) * 3600 END)
          |    + ((doc_id + i) % 3) * 700 AS BIGINT) AS pts,
          |  i % 2 = 0 AS is_sync
          |FROM s ORDER BY doc_id, sample_idx""".stripMargin)),

    // Keyframe segmentation over the FRAGMENTED fixture — x86's exact
    // composition on x88's sample table: fMP4 keyframes come from
    // first_sample_flags (each fragment's first sample), so the
    // seekable units a frame sampler shards by are exactly the
    // fragments — the gate proves the trun-derived is_sync/dts flow
    // end-to-end through the same window the moov path uses.
    "x89_fmp4_segments" -> QueryDef(
      (s, dir) => graft.operators.Multimodal.mp4Segments(
          graft.operators.Multimodal.mp4SampleTable(
            s, graft.operators.Multimodal.synthesizeFmp4(
              s, t(s, dir, "documents"))))
        .orderBy("doc_id", "seg_idx"),
      Some(
        """WITH s AS (
          |  SELECT doc_id, CAST(doc_id % 7 + 3 AS BIGINT) AS n,
          |    unnest(range(0, doc_id % 7 + 3)) AS i
          |  FROM documents),
          |samp AS (
          |  SELECT doc_id, CAST(i AS INT) AS sample_idx,
          |    CAST(CASE WHEN i < n // 2 THEN i * 3000
          |      ELSE (n // 2) * 3000 + (i - n // 2) * 3600 END
          |      AS BIGINT) AS dts,
          |    i % 2 = 0 AS is_sync
          |  FROM s),
          |seg AS (
          |  SELECT doc_id, sample_idx, dts,
          |    sum(CASE WHEN is_sync THEN 1 ELSE 0 END) OVER (
          |      PARTITION BY doc_id ORDER BY sample_idx) AS seg_idx
          |  FROM samp)
          |SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
          |  CAST(min(sample_idx) AS INT) AS start_sample,
          |  CAST(count(*) AS BIGINT) AS n_samples_seg,
          |  min(dts) AS start_dts, max(dts) AS end_dts
          |FROM seg GROUP BY doc_id, seg_idx
          |ORDER BY doc_id, seg_idx""".stripMargin)),

    // Frame-at-time lookup — the operation a frame sampler actually
    // runs over the x85 sample table: for target presentation times t,
    // the DISPLAYED frame is the one with the greatest pts <= t (as-of
    // semantics on pts — with B-frames this is NOT the greatest dts!),
    // and the DECODE ENTRY POINT is its nearest keyframe at or below it
    // in decode order (a decoder can only enter at a sync sample).
    // Docs whose first displayed frame starts after t have no row for
    // that t — both engines agree by construction. The oracle
    // recomputes pts arithmetically and picks the argmax per (doc, t);
    // the keyframe is i - i%3 (the fixture's stss stride).
    "x90_frame_at" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val st = graft.operators.Multimodal.mp4SampleTable(
          s, graft.operators.Multimodal.synthesizeMp4(
            s, t(s, dir, "documents")))
        // the entry keyframe comes from the PARSED is_sync column (a
        // running max over sync positions in decode order) — so this
        // gate exercises the stss parse, while the oracle derives the
        // same value from the fixture's keyframe stride arithmetic
        val wk = Window.partitionBy("doc_id").orderBy("sample_idx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withEntry = st.withColumn("entry_keyframe",
          max(when(col("is_sync"), col("sample_idx"))).over(wk))
        val targets = Seq(0L, 5000L, 12000L).toDF("t")
        val w = Window.partitionBy("doc_id", "t")
          .orderBy(col("pts").desc, col("sample_idx").desc)
        withEntry.join(broadcast(targets), col("pts") <= col("t"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("t"),
            col("sample_idx").as("frame_idx"), col("pts"),
            col("n_bytes"), col("entry_keyframe"))
          .orderBy("doc_id", "t")
      },
      Some(
        """WITH s AS (
          |  SELECT doc_id, CAST(doc_id % 7 + 3 AS BIGINT) AS n,
          |    unnest(range(0, doc_id % 7 + 3)) AS i
          |  FROM documents),
          |samp AS (
          |  SELECT doc_id, CAST(i AS INT) AS frame_idx,
          |    CAST((CASE WHEN i < n // 2 THEN i * 3000
          |      ELSE (n // 2) * 3000 + (i - n // 2) * 3600 END)
          |      + ((doc_id + i) % 3) * 700 AS BIGINT) AS pts,
          |    CAST((doc_id + i) % 50 + 20 AS BIGINT) AS n_bytes
          |  FROM s),
          |tg AS (SELECT unnest([0, 5000, 12000]) AS t),
          |rk AS (
          |  SELECT doc_id, CAST(t AS BIGINT) AS t, frame_idx, pts,
          |    n_bytes,
          |    row_number() OVER (PARTITION BY doc_id, t
          |      ORDER BY pts DESC, frame_idx DESC) AS rn
          |  FROM samp JOIN tg ON samp.pts <= tg.t)
          |SELECT doc_id, t, frame_idx, pts, n_bytes,
          |  CAST(frame_idx - frame_idx % 3 AS INT) AS entry_keyframe
          |FROM rk WHERE rn = 1
          |ORDER BY doc_id, t""".stripMargin)),

    // WebVTT cue extraction — the caption side of video-text training
    // pairs: a REAL cue parser (timestamp grammar, blank-line framing,
    // loud failures on malformed timings) over the deterministic VTT
    // fixture; every surfaced field is doc_id arithmetic.
    "x91_vtt_cues" -> QueryDef(
      (s, dir) => graft.operators.Multimodal.vttCueTable(
          s, graft.operators.Multimodal.synthesizeVtt(
            s, t(s, dir, "documents")))
        .select("doc_id", "cue_idx", "start_ms", "end_ms", "n_words")
        .orderBy("doc_id", "cue_idx"),
      Some(
        """WITH c AS (
          |  SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS i
          |  FROM documents)
          |SELECT doc_id, CAST(i AS INT) AS cue_idx,
          |  CAST(i * 80 + doc_id % 20 AS BIGINT) AS start_ms,
          |  CAST(i * 80 + doc_id % 20 + 60 + (doc_id + i) % 40
          |    AS BIGINT) AS end_ms,
          |  CAST((doc_id + i) % 5 + 2 AS INT) AS n_words
          |FROM c ORDER BY doc_id, cue_idx""".stripMargin)),

    // Caption-to-segment ALIGNMENT — the vision-language pairing step:
    // join each doc's subtitle cues to its keyframe segments (x86) by
    // time overlap, in EXACT integer 90 kHz ticks (cue ms × 90 vs
    // segment dts — no float time anywhere), counting cues and caption
    // words per seekable segment. This is the unit a video-caption
    // corpus trains on: (segment byte range, aligned caption text).
    // Scale shape: both sides are doc-keyed; the overlap join is a
    // per-doc range join whose fan-out is bounded by cues×segments per
    // document, never corpus-sized.
    "x92_caption_align" -> QueryDef(
      (s, dir) => {
        val segs = graft.operators.Multimodal.mp4Segments(
          graft.operators.Multimodal.mp4SampleTable(
            s, graft.operators.Multimodal.synthesizeMp4(
              s, t(s, dir, "documents"))))
          .select("doc_id", "seg_idx", "start_dts", "end_dts")
        val cues = graft.operators.Multimodal.vttCueTable(
            s, graft.operators.Multimodal.synthesizeVtt(
              s, t(s, dir, "documents")))
          .select(col("doc_id"), col("cue_idx"),
            (col("start_ms") * 90).as("c_start"),
            (col("end_ms") * 90).as("c_end"),
            col("n_words"))
        segs.join(cues,
            segs("doc_id") === cues("doc_id") &&
              col("c_start") <= col("end_dts") &&
              col("c_end") >= col("start_dts"), "left")
          .groupBy(segs("doc_id"), col("seg_idx"))
          .agg(count(col("cue_idx")).as("n_cues"),
            coalesce(sum("n_words"), lit(0L)).as("caption_words"))
          .orderBy(segs("doc_id"), col("seg_idx"))
      },
      Some(
        """WITH s AS (
          |  SELECT doc_id, CAST(doc_id % 7 + 3 AS BIGINT) AS n,
          |    unnest(range(0, doc_id % 7 + 3)) AS i
          |  FROM documents),
          |samp AS (
          |  SELECT doc_id, CAST(i AS INT) AS sample_idx,
          |    CAST(CASE WHEN i < n // 2 THEN i * 3000
          |      ELSE (n // 2) * 3000 + (i - n // 2) * 3600 END
          |      AS BIGINT) AS dts,
          |    i % 3 = 0 AS is_sync
          |  FROM s),
          |segs AS (
          |  SELECT doc_id, seg_idx, min(dts) AS start_dts,
          |    max(dts) AS end_dts
          |  FROM (
          |    SELECT doc_id, dts,
          |      sum(CASE WHEN is_sync THEN 1 ELSE 0 END) OVER (
          |        PARTITION BY doc_id ORDER BY sample_idx) AS seg_idx
          |    FROM samp)
          |  GROUP BY doc_id, seg_idx),
          |cues AS (
          |  SELECT doc_id, CAST(i AS INT) AS cue_idx,
          |    (i * 80 + doc_id % 20) * 90 AS c_start,
          |    (i * 80 + doc_id % 20 + 60 + (doc_id + i) % 40) * 90
          |      AS c_end,
          |    CAST((doc_id + i) % 5 + 2 AS BIGINT) AS n_words
          |  FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS i
          |        FROM documents))
          |SELECT segs.doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
          |  CAST(count(cue_idx) AS BIGINT) AS n_cues,
          |  CAST(coalesce(sum(n_words), 0) AS BIGINT) AS caption_words
          |FROM segs LEFT JOIN cues
          |  ON segs.doc_id = cues.doc_id
          |  AND c_start <= end_dts AND c_end >= start_dts
          |GROUP BY segs.doc_id, seg_idx
          |ORDER BY segs.doc_id, seg_idx""".stripMargin)),

    // PNG container walk, METADATA-ONLY (ImageCodecs.parsePng with
    // decodePixels=false): signature, per-chunk CRC32, IHDR geometry,
    // multi-IDAT count, PLTE size, pHYs density, gAMA, tEXt inventory —
    // WITHOUT inflating a single pixel. This is the 100 TB path: a
    // metadata sweep over billions of images skips inflate+unfilter —
    // measured 9.6x cheaper than the full decode on a 512x512 RGB file
    // (ImageCodecsSpec counterfactual; the remaining cost is the CRC
    // pass over the IDAT bytes, which is the integrity contract, not
    // overhead). The fixture is adversarial on purpose: id%3+1
    // IDAT chunks, palette/gray/RGB color types, 16-bit gray every
    // id%6==4, all five scanline filters — and javax.imageio decodes
    // the same files (spec-pinned), so the writer is real PNG, not
    // parser-compatible bytes. Every surfaced field is re-derived by
    // the oracle from doc_id arithmetic.
    "x93_png_meta" -> QueryDef(
      (s, dir) => graft.operators.ImageCodecs.pngMetaTable(
          s, graft.operators.ImageCodecs.synthesizePng(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CAST(doc_id % 9 + 4 AS INT) AS width,
          |  CAST(doc_id % 6 + 3 AS INT) AS height,
          |  CAST(CASE WHEN doc_id % 3 = 1 AND doc_id % 6 = 4
          |    THEN 16 ELSE 8 END AS INT) AS bit_depth,
          |  CAST(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 0 ELSE 2 END
          |    AS INT) AS color_type,
          |  CAST(0 AS INT) AS interlace,
          |  CAST(doc_id % 3 + 1 AS INT) AS n_idat,
          |  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 5 + 2 ELSE 0 END
          |    AS INT) AS palette_size,
          |  CAST((doc_id % 100 + 1) * 100 AS BIGINT) AS ppu_x,
          |  CAST((doc_id % 50 + 1) * 1000 AS BIGINT) AS gamma_e5,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT)
          |    AS n_text
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // PNG FULL decode through our own pipeline — concatenated IDAT →
    // zlib inflate (adler32-verified) → per-row unfilter (None/Sub/Up/
    // Average/Paeth; the fixture cycles row%5 so every filter kernel
    // runs) → palette resolution → integer pixel checksum
    // (gray: Σv; rgb/palette: Σ 3r+5g+7b). The oracle recomputes the
    // checksum pixel-by-pixel from the writer formulas, so one wrong
    // byte anywhere in inflate/unfilter/palette fails the hash. 16-bit
    // values use ×1009 mod 65536 so high and low bytes differ — a
    // byte-order mistake cannot cancel out.
    "x94_png_pixels" -> QueryDef(
      (s, dir) => graft.operators.ImageCodecs.pngPixelTable(
          s, graft.operators.ImageCodecs.synthesizePng(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (
          |  SELECT doc_id, doc_id % 9 + 4 AS w, doc_id % 6 + 3 AS h,
          |    CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 0 ELSE 2 END AS ct,
          |    CASE WHEN doc_id % 3 = 1 AND doc_id % 6 = 4 THEN 16 ELSE 8
          |      END AS bd,
          |    doc_id % 5 + 2 AS np
          |  FROM documents),
          |px AS (
          |  SELECT doc_id, w, h, ct, bd, np,
          |    unnest(range(0, w * h)) % w AS x,
          |    unnest(range(0, w * h)) // w AS y
          |  FROM d),
          |v AS (
          |  SELECT doc_id, w, h,
          |    CASE
          |      WHEN ct = 0 AND bd = 8
          |        THEN (doc_id * 7 + x * 13 + y * 31) % 256
          |      WHEN ct = 0
          |        THEN ((doc_id * 7 + x * 13 + y * 31) * 1009) % 65536
          |      WHEN ct = 2
          |        THEN 3 * ((doc_id + 3 * x + 5 * y) % 256)
          |           + 5 * ((3 * doc_id + 7 * x + y) % 256)
          |           + 7 * ((5 * doc_id + x + 11 * y) % 256)
          |      ELSE 3 * ((11 * doc_id + 17 * ((x + y * w + doc_id) % np)) % 256)
          |         + 5 * ((5 * doc_id + 29 * ((x + y * w + doc_id) % np)) % 256)
          |         + 7 * ((3 * doc_id + 7 * ((x + y * w + doc_id) % np)) % 256)
          |    END AS pv
          |  FROM px)
          |SELECT doc_id, CAST(any_value(w) AS INT) AS width,
          |  CAST(any_value(h) AS INT) AS height,
          |  CAST(sum(pv) AS BIGINT) AS pix_sum
          |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Adam7-INTERLACED PNG through the same full-decode pipeline: the
    // seven-pass progressive encoding (pass grids 8x8 down to 1x2),
    // where every pass is an independent sub-image with its own
    // scanlines, filter chain, and filter-byte per row — and passes
    // that select no pixels at these small dims contribute ZERO bytes,
    // the spec rule tiny images hammer. The fixture pixels are
    // IDENTICAL to x94's, so the oracle is x94's verbatim: a gate
    // mismatch can only come from the interlace de-multiplex itself.
    // javax.imageio reads the same interlaced files (spec-pinned), so
    // the writer's pass layout is real Adam7, not parser-compatible.
    "x99_png_adam7" -> QueryDef(
      (s, dir) => graft.operators.ImageCodecs.pngPixelTable(
          s, graft.operators.ImageCodecs.synthesizeAdam7(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (
          |  SELECT doc_id, doc_id % 9 + 4 AS w, doc_id % 6 + 3 AS h,
          |    CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 0 ELSE 2 END AS ct,
          |    CASE WHEN doc_id % 3 = 1 AND doc_id % 6 = 4 THEN 16 ELSE 8
          |      END AS bd,
          |    doc_id % 5 + 2 AS np
          |  FROM documents),
          |px AS (
          |  SELECT doc_id, w, h, ct, bd, np,
          |    unnest(range(0, w * h)) % w AS x,
          |    unnest(range(0, w * h)) // w AS y
          |  FROM d),
          |v AS (
          |  SELECT doc_id, w, h,
          |    CASE
          |      WHEN ct = 0 AND bd = 8
          |        THEN (doc_id * 7 + x * 13 + y * 31) % 256
          |      WHEN ct = 0
          |        THEN ((doc_id * 7 + x * 13 + y * 31) * 1009) % 65536
          |      WHEN ct = 2
          |        THEN 3 * ((doc_id + 3 * x + 5 * y) % 256)
          |           + 5 * ((3 * doc_id + 7 * x + y) % 256)
          |           + 7 * ((5 * doc_id + x + 11 * y) % 256)
          |      ELSE 3 * ((11 * doc_id + 17 * ((x + y * w + doc_id) % np)) % 256)
          |         + 5 * ((5 * doc_id + 29 * ((x + y * w + doc_id) % np)) % 256)
          |         + 7 * ((3 * doc_id + 7 * ((x + y * w + doc_id) % np)) % 256)
          |    END AS pv
          |  FROM px)
          |SELECT doc_id, CAST(any_value(w) AS INT) AS width,
          |  CAST(any_value(h) AS INT) AS height,
          |  CAST(sum(pv) AS BIGINT) AS pix_sum
          |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // JPEG marker walk (ImageCodecs.parseJpeg): JFIF APP0, EXIF APP1
    // with a REAL TIFF IFD parse — both byte orders (id%2 alternates
    // II/MM), inline SHORT (orientation) AND offset-indirected RATIONAL
    // (XResolution — the >4-byte value indirection every EXIF parser
    // must implement), SOF0 vs SOF2 (baseline/progressive), 4:2:0 vs
    // 4:4:4 subsampling, grayscale 1-component frames, DRI restart
    // intervals, and an entropy scan that classifies the three byte
    // classes a scan contains: payload, 0xFF00 stuffing, RST0-7
    // markers. scan_payload/n_stuffed/n_rst are each independently
    // re-derived by the oracle, so a scanner that mistakes stuffing for
    // a marker (or vice versa) fails three columns at once. No entropy
    // DECODE — dims and metadata without Huffman work is exactly the
    // 100 TB metadata-sweep contract (x16 keeps full-decode coverage).
    "x95_jpeg_meta" -> QueryDef(
      (s, dir) => graft.operators.ImageCodecs.jpegMetaTable(
          s, graft.operators.ImageCodecs.synthesizeJpeg(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH j AS (
          |  SELECT doc_id, doc_id % 40 + 10 AS p,
          |    doc_id % 4 = 1 AS has_dri,
          |    list_sum(list_transform(range(0, doc_id % 40 + 10),
          |      j -> CASE WHEN (19 * doc_id + 23 * j) % 256 = 255
          |        THEN 1 ELSE 0 END)) AS n_ff
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(doc_id % 300 + 16 AS INT) AS width,
          |  CAST(doc_id % 250 + 16 AS INT) AS height,
          |  doc_id % 4 = 0 AS progressive,
          |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS INT)
          |    AS n_components,
          |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1
          |    WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS h_sub,
          |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1
          |    WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS v_sub,
          |  CAST(CASE WHEN doc_id % 4 = 1 THEN doc_id % 10 + 1 ELSE 0 END
          |    AS INT) AS dri,
          |  CAST(doc_id % 8 + 1 AS INT) AS orientation,
          |  CAST(doc_id % 300 + 72 AS BIGINT) AS x_res,
          |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
          |  CAST(p AS BIGINT) AS scan_payload,
          |  CAST(n_ff AS BIGINT) AS n_stuffed,
          |  CAST(CASE WHEN has_dri THEN (p - 1) // 8 ELSE 0 END AS BIGINT)
          |    AS n_rst
          |FROM j ORDER BY doc_id""".stripMargin)),

    // Parquet FOOTER parse (sources/ParquetFooter): our own thrift
    // compact protocol decoder reads ONLY the last bytes of every sf
    // table file — footer length + FileMetaData — and surfaces what a
    // scan planner runs on before touching a data page. The gate checks
    // the LOGICAL facts DuckDB can independently verify from its own
    // read of the same files: per top-level scalar column the value
    // count summed across row groups (== rowcount for flat leaves; the
    // nested embeddings column is excluded on both sides — path depth
    // >1 here, FLOAT[] type in DESCRIBE there), plus min/max decoded
    // from the row-group STATISTICS binaries for each table's integer
    // (INT32 or INT64 physical) key
    // column — physical stats bytes vs a logical aggregate, so a
    // little-endian slip or field-id misread cannot pass. Physical
    // facts (offsets, sizes, codecs) are pinned against parquet-mr's
    // decoder in ParquetFooterSpec — three independent parsers over
    // files a fourth implementation (pyarrow) wrote. 100 TB shape: one
    // task per file, tens of KB read per file regardless of file size.
    "x96_parquet_footer" -> QueryDef(
      (s, dir) => graft.sources.ParquetFooter.footerTable(s, dir),
      Some {
        val cols = graft.sources.ParquetFooter.tables.map { case (t, _) =>
          s"SELECT '$t' AS table_name, column_name AS col_name, column_type FROM (DESCRIBE $t)"
        }.mkString("\n  UNION ALL ")
        val counts = graft.sources.ParquetFooter.tables.map { case (t, _) =>
          s"SELECT '$t' AS table_name, count(*) AS n FROM $t"
        }.mkString("\n  UNION ALL ")
        val keys = graft.sources.ParquetFooter.tables.map { case (t, k) =>
          s"SELECT '$t' AS table_name, '$k' AS col_name, min($k) AS mn, max($k) AS mx FROM $t"
        }.mkString("\n  UNION ALL ")
        s"""WITH cols AS (
           |  $cols),
           |counts AS (
           |  $counts),
           |keys AS (
           |  $keys)
           |SELECT c.table_name AS table_name, c.col_name AS col_name,
           |  CAST(n AS BIGINT) AS num_values,
           |  CAST(k.mn AS BIGINT) AS min_i64, CAST(k.mx AS BIGINT) AS max_i64
           |FROM cols c
           |JOIN counts USING (table_name)
           |LEFT JOIN keys k
           |  ON k.table_name = c.table_name AND k.col_name = c.col_name
           |WHERE c.column_type NOT LIKE '%[]'
           |  AND c.column_type NOT LIKE 'STRUCT%'
           |  AND c.column_type NOT LIKE 'MAP%'
           |ORDER BY c.table_name, c.col_name""".stripMargin
      }),

    // Avro OBJECT CONTAINER FILE walk + row decode
    // (sources/AvroContainer.parseOcf) — the data-lake container family's
    // third member after the parquet footer (x96) and the zstd blob arm
    // (q77). Our own parser implements the OCF grammar (magic, metadata
    // map, 16-byte sync equality on EVERY block — enforced loudly), all
    // four mainstream codecs (raw deflate, snappy with its CRC32
    // suffix, streamed zstandard, null), and avro-binary row decode
    // (zigzag varints + length-prefixed UTF-8) for the flat fixture
    // record. The fixture bytes are written by the OFFICIAL avro
    // library (codec by doc_id%4: deflate/null/snappy/zstandard, an
    // explicit sync per record so the block count is oracle-
    // predictable) — our parser never reads its own writer's bytes. Decoded content (id sums, name byte lengths) is
    // re-derived arithmetically by DuckDB, so a varint/zigzag slip or a
    // block-boundary error fails the hash.
    "x98_avro_scan" -> QueryDef(
      (s, dir) => graft.sources.AvroContainer.ocfTable(
          s, graft.sources.AvroContainer.synthesizeOcf(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 5 + 2 AS k FROM documents),
          |j AS (SELECT doc_id, k, unnest(range(0, k)) AS j FROM d)
          |SELECT doc_id,
          |  CAST(any_value(k) AS INT) AS n_blocks,
          |  CAST(any_value(k) AS BIGINT) AS n_rows,
          |  CASE doc_id % 4 WHEN 0 THEN 'deflate' WHEN 1 THEN 'null'
          |    WHEN 2 THEN 'snappy' ELSE 'zstandard' END AS codec,
          |  CAST(sum(doc_id * 1000 + 7 * j) AS BIGINT) AS id_sum,
          |  CAST(sum(1 + CASE WHEN (doc_id + j) % 23 < 10 THEN 1 ELSE 2
          |    END) AS BIGINT) AS name_chars
          |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // WARC archive walk (sources/WarcSource.parseWarc) — the container
    // web-scraped pretraining corpora ship in (member-per-record gzip on
    // even doc_ids, plain concatenation on odd). Our own gzip member
    // walker validates CRC32 + ISIZE per member; the WARC grammar
    // (version line, CRLF headers, Content-Length payload, CRLF CRLF
    // terminator) and the HTTP sub-parse are ours end to end — including
    // the WIRE-FORM decode: chunked transfer framing removed and
    // Content-Encoding: gzip inflated ((id+j)%3==1 / %4==2 responses),
    // so body_bytes is a decoded-ENTITY fact invariant to how the bytes
    // crossed the wire, plus revisit dedup-linkage records (id%3==1).
    // The facts (member/record/response/request/revisit counts, status
    // sums, body byte sums, revisit digests) are re-derived by DuckDB
    // constructing the same HTML strings from the documents table — a
    // header slip, member mis-split, chunk-framing or inflation error
    // fails the hash. Fixture property the oracle leans on: document
    // text has no &/<.> specials, so escapeHtml is the identity and
    // length(text) is the embedded byte count.
    "x100_warc_records" -> QueryDef(
      (s, dir) => graft.sources.WarcSource.warcTable(
          s, graft.sources.WarcSource.synthesizeWarc(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, text, doc_id % 3 + 1 AS k,
          |             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS hasreq,
          |             CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS rev
          |           FROM documents),
          |u AS (SELECT doc_id, text, k, hasreq, rev, unnest(range(0, k)) AS jj
          |      FROM d),
          |r AS (SELECT doc_id, k, hasreq, rev, jj,
          |        CASE WHEN (doc_id + jj) % 5 = 0 THEN 404 ELSE 200 END
          |          AS status,
          |        length('<!DOCTYPE html><html><head><title>doc ' || doc_id
          |          || '</title><style>body{color:#000}</style><script>var x="<div>no</div>";</script></head><body><h1>Doc '
          |          || doc_id || '</h1><p>' ||
          |          CASE WHEN jj = 0 THEN text
          |               ELSE 'word' || ((doc_id * 7 + jj) % 50) ||
          |                    ' page ' || doc_id || ' ' || jj END ||
          |          '</p><!-- note <p>skip</p> --><div class="f">footer '
          |          || (doc_id % 11) || '</div></body></html>') AS hlen
          |      FROM u)
          |SELECT doc_id,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
          |    AS is_gzip,
          |  CAST(CASE WHEN doc_id % 2 = 0
          |    THEN 1 + any_value(k) * (1 + any_value(hasreq)) + any_value(rev)
          |    ELSE 0 END AS INT) AS n_members,
          |  CAST(1 + any_value(k) * (1 + any_value(hasreq)) + any_value(rev)
          |    AS INT) AS n_records,
          |  CAST(any_value(k) AS INT) AS n_responses,
          |  CAST(any_value(k) * any_value(hasreq) AS INT) AS n_requests,
          |  CAST(sum(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS INT)
          |    AS ok_cnt,
          |  CAST(sum(status) AS BIGINT) AS sum_status,
          |  CAST(sum(hlen) AS BIGINT) AS body_bytes,
          |  CAST(any_value(rev) AS INT) AS n_revisit,
          |  CASE WHEN doc_id % 3 = 1
          |    THEN 'sha1:FIX' || ((doc_id * 31) % 97) ELSE '' END
          |    AS revisit_digest
          |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // WARC -> HTTP -> HTML -> text, end to end (WarcSource.htmlText): the
    // text-extraction stage a pretraining pipeline runs on each crawled
    // page. The scanner is quote-aware (attribute values may contain >),
    // elides script/style WITH their content and comments, decodes
    // entities, and collapses whitespace; the oracle re-constructs the
    // exact expected string from the documents table, so a tag-boundary
    // or entity slip anywhere in the chain fails the hash.
    "x101_warc_text" -> QueryDef(
      (s, dir) => graft.sources.WarcSource.warcTextTable(
          s, graft.sources.WarcSource.synthesizeWarc(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  'doc ' || doc_id || ' Doc ' || doc_id || ' ' ||
          |  trim(regexp_replace(text, '\s+', ' ', 'g')) ||
          |  ' footer ' || (doc_id % 11) AS extracted
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Brotli (RFC 7932) container roundtrip (x127): the engine's own
    // from-scratch decoder ([[graft.sources.Brotli]] — full format:
    // prefix codes, block switching, context modeling, static dictionary
    // with all 121 transforms) against its own stored-metablock encoder.
    // The oracle re-derives the decoded length AND the exact stored-
    // stream size from arithmetic (header 3 bytes + payload + 3 per
    // extra 64 KiB metablock + 1 terminator), and the decoded prefix
    // from the text itself — a framing or decode slip fails the hash.
    // Real COMPRESSED streams (quality 0-11, every window) are arbitered
    // against the system encoder in BrotliSpec; br-coded HTTP bodies
    // inside WARC are gated end-to-end by x100/x101's wire rotation.
    "x127_brotli" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text"))
          // fan the CPU-heavy per-row codec kernel across every core
          // (r21, guide §2/§6): the documents scan packs into ~4 input
          // splits (128 MB splits / 4 MB open cost), so without this the
          // 4x-roundtrip encode ran on 4 of 32 cores — measured 4.48 s
          // wall / 4 tasks before, ~0.9 s after. Scale-adaptive: keyless
          // round-robin to defaultParallelism, the same discipline every
          // synthesize* fixture source already applies.
          .repartition(s.sparkContext.defaultParallelism)
          .as[(Long, String)]
          .map { case (id, text) =>
            val entity = text.getBytes("UTF-8")
            val stream = graft.sources.Brotli.encodeStored(entity)
            val decoded = graft.sources.Brotli.decode(stream)
            require(java.util.Arrays.equals(decoded, entity),
              s"brotli roundtrip mismatch for doc $id")
            // the COMPRESSED encoder too: roundtrip + no inflation
            // (exact compressed size is parse-dependent, so the oracle
            // fact is the boolean, not the length)
            val enc = graft.sources.Brotli.encode(entity)
            val cok = java.util.Arrays.equals(
              graft.sources.Brotli.decode(enc), entity) &&
              enc.length <= entity.length + 16
            (id, decoded.length.toLong, stream.length.toLong,
              new String(decoded, "UTF-8").take(24), if (cok) 1 else 0)
          }
          .toDF("doc_id", "entity_len", "stream_len", "decoded_prefix",
            "compressed_ok")
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CAST(strlen(text) AS BIGINT) AS entity_len,
          |  CAST(CASE WHEN strlen(text) = 0 THEN 1
          |    ELSE strlen(text) + 4 +
          |         3 * (CAST(ceil(strlen(text) / 65536.0) AS BIGINT) - 1)
          |    END AS BIGINT) AS stream_len,
          |  substr(text, 1, 24) AS decoded_prefix,
          |  1 AS compressed_ok
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // WET EXPORT roundtrip (x128): the write side of the Common Crawl
    // text surface — WarcSource.writeWet shards a corpus into
    // .warc.wet.gz archives (warcinfo lead + one conversion record per
    // doc, gzip member-per-record). The gate builds each shard from the
    // SAME record builders the file writer streams through
    // (wetInfoOf/wetRecordOf), parses it back with the engine's own
    // reader, and checks per-shard structure + text roundtrip; DuckDB
    // re-derives every count from doc_id % 8 arithmetic. The file-level
    // writer (tmp+rename first-wins commit, one task per shard) is
    // exercised on real files by WetWriteSpec and the wet-write CLI.
    "x128_wet_write" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val date = "2026-01-01T00:00:00Z"
        t(s, dir, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("source"),
            org.apache.spark.sql.functions.col("text"))
          .as[(Long, String, String)]
          .groupByKey(r => java.lang.Math.floorMod(r._1, 8L))
          .mapGroups { (shard, it) =>
            val docs = it.toArray.sortBy(_._1)
            val bos = new java.io.ByteArrayOutputStream()
            bos.write(graft.sources.WarcSource.gzipOne(
              graft.sources.WarcSource.wetInfoOf(shard, date)))
            docs.foreach { case (id, src, text) =>
              bos.write(graft.sources.WarcSource.gzipOne(
                graft.sources.WarcSource.wetRecordOf(id, src, text, date)))
            }
            val f = graft.sources.WarcSource.parseWarc(bos.toByteArray)
            val conv = f.records.filter(_.warcType == "conversion")
            val ok = conv.zip(docs).count { case (r, (id, src, text)) =>
              r.body == text && r.targetUri == s"http://$src/graft/$id"
            }
            (shard, docs.length, f.records.size, f.nMembers,
              if (f.gzip) 1 else 0,
              conv.map(_.bodyBytes).sum, ok)
          }
          .toDF("shard", "n_docs", "n_records", "n_members", "is_gzip",
            "body_bytes", "n_text_ok")
          .orderBy("shard")
      },
      Some(
        """SELECT doc_id % 8 AS shard,
          |  CAST(count(*) AS INT) AS n_docs,
          |  CAST(count(*) + 1 AS INT) AS n_records,
          |  CAST(count(*) + 1 AS INT) AS n_members,
          |  1 AS is_gzip,
          |  CAST(sum(strlen(text)) AS BIGINT) AS body_bytes,
          |  CAST(count(*) AS INT) AS n_text_ok
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WARC response-record EXPORT roundtrip (x129): writeWarc's record
    // builders (HTTP wrap + REAL sha1:BASE32 payload digest) parsed
    // back by the engine's own reader — per-shard structure, decoded
    // bodies, and digest fidelity (the parse-back digest must equal a
    // fresh recompute, pinning both the base32 and the header plumbing).
    // Even doc_ids additionally write a `request` record before their
    // response (the flagged writer mode — real CC archives interleave
    // the capture conversation): n_req counts them, n_linked counts
    // those whose parsed WARC-Concurrent-To equals the response id the
    // builder stamps (responseIdOf), pinning the §5.7 pairing. DuckDB
    // re-derives every count from doc_id % 8 arithmetic. The
    // file-level writer and the full written-archive -> warc-index ->
    // cdx-fetch loop are exercised on real files by WarcWriteSpec.
    "x129_warc_write" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val date = "2026-01-01T00:00:00Z"
        t(s, dir, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("source"),
            org.apache.spark.sql.functions.col("text"))
          .as[(Long, String, String)]
          .groupByKey(r => java.lang.Math.floorMod(r._1, 8L))
          .mapGroups { (shard, it) =>
            val docs = it.toArray.sortBy(_._1)
            val bos = new java.io.ByteArrayOutputStream()
            bos.write(graft.sources.WarcSource.gzipOne(
              graft.sources.WarcSource.warcInfoOf(shard, date)))
            docs.foreach { case (id, src, text) =>
              val uri = s"http://$src/graft/$id"
              if (id % 2 == 0)
                bos.write(graft.sources.WarcSource.gzipOne(
                  graft.sources.WarcSource.warcRequestOf(uri, date)))
              bos.write(graft.sources.WarcSource.gzipOne(
                graft.sources.WarcSource.warcResponseOf(uri, 200,
                  "text/plain; charset=utf-8",
                  text.getBytes("UTF-8"), date)))
            }
            val f = graft.sources.WarcSource.parseWarc(bos.toByteArray)
            val resp = f.records.filter(_.warcType == "response")
            val ok = resp.zip(docs).count { case (r, (id, src, text)) =>
              r.body == text && r.httpStatus == 200 &&
                r.targetUri == s"http://$src/graft/$id" &&
                r.payloadDigest == graft.sources.WarcSource
                  .payloadDigestOf(text.getBytes("UTF-8"))
            }
            val reqs = f.records.filter(_.warcType == "request")
            val linked = reqs.count(r => r.concurrentTo ==
              graft.sources.WarcSource.responseIdOf(r.targetUri, date))
            (shard, docs.length, f.records.size, f.nMembers,
              if (f.gzip) 1 else 0,
              resp.map(_.bodyBytes).sum, ok, reqs.size, linked)
          }
          .toDF("shard", "n_pages", "n_records", "n_members", "is_gzip",
            "body_bytes", "n_ok", "n_req", "n_linked")
          .orderBy("shard")
      },
      Some(
        """SELECT doc_id % 8 AS shard,
          |  CAST(count(*) AS INT) AS n_pages,
          |  CAST(count(*) + 1
          |    + sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
          |    AS INT) AS n_records,
          |  CAST(count(*) + 1
          |    + sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
          |    AS INT) AS n_members,
          |  1 AS is_gzip,
          |  CAST(sum(strlen(text)) AS BIGINT) AS body_bytes,
          |  CAST(count(*) AS INT) AS n_ok,
          |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS INT)
          |    AS n_req,
          |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS INT)
          |    AS n_linked
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WARC DEDUP-WRITE → REVISIT-RESOLVE loop (x130): writeWarc's
    // digest-dedup mode makes the engine's own archives CC-shaped —
    // the first URI per payload digest (min uri, deterministic) writes
    // the full response, every repeat writes a `revisit` record
    // (identical-payload-digest profile + WARC-Refers-To-Target-URI) —
    // and this gate closes the loop the x125 machinery was built for:
    // docs carry their GROUP LEADER's body (doc_id - doc_id % 3), the
    // same winner derivation as the production writer picks originals,
    // per-shard archives build from the same record builders, the
    // engine's reader parses them back, and the revisits then resolve
    // CROSS-SHARD by digest join — every resolved text must equal the
    // body a full (non-dedup) write would have stored. DuckDB
    // re-derives all counts from leader-group arithmetic. The
    // file-level dedup writer (real files, warc-index, resolveRevisits)
    // is exercised by WarcWriteSpec's dedup arm.
    "x130_warc_revisit_write" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val date = "2026-01-01T00:00:00Z"
        val docs = t(s, dir, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("source"),
            org.apache.spark.sql.functions.col("text"))
        val leaders = docs.select(
          org.apache.spark.sql.functions.col("doc_id").as("lid"),
          org.apache.spark.sql.functions.col("text").as("ltext"))
        val pages = docs
          .withColumn("lid", org.apache.spark.sql.functions.expr(
            "doc_id - doc_id % 3"))
          .join(leaders, "lid")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("source"),
            org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.lit("x130 "),
              org.apache.spark.sql.functions.col("lid").cast("string"),
              org.apache.spark.sql.functions.lit(" "),
              org.apache.spark.sql.functions.col("ltext")).as("body"))
          .as[(Long, String, String)]
          .map { case (id, src, body) =>
            (java.lang.Math.floorMod(id, 8L), id, s"http://$src/graft/$id",
              body, graft.sources.WarcSource.payloadDigestOf(
                body.getBytes("UTF-8")))
          }
          .toDF("shard", "doc_id", "uri", "body", "digest")
        // the production winner rule: min uri per digest
        val winners = pages.groupBy("digest")
          .agg(org.apache.spark.sql.functions.min(
            org.apache.spark.sql.functions.col("uri")).as("orig"))
        val dec = pages.join(winners, Seq("digest"))
        val records = dec
          .select("shard", "doc_id", "uri", "body", "digest", "orig")
          .as[(Long, Long, String, String, String, String)]
          .groupByKey(_._1)
          .flatMapGroups { (shard, it) =>
            val rows = it.toArray.sortBy(_._2)
            val bos = new java.io.ByteArrayOutputStream()
            bos.write(graft.sources.WarcSource.gzipOne(
              graft.sources.WarcSource.warcInfoOf(shard, date)))
            rows.foreach { case (_, _, uri, body, digest, orig) =>
              val rec =
                if (uri == orig) graft.sources.WarcSource.warcResponseOf(
                  uri, 200, "text/plain; charset=utf-8",
                  body.getBytes("UTF-8"), date)
                else graft.sources.WarcSource.warcRevisitOf(
                  uri, 200, "text/plain; charset=utf-8", orig, digest,
                  body.getBytes("UTF-8").length.toLong, date)
              bos.write(graft.sources.WarcSource.gzipOne(rec))
            }
            val f = graft.sources.WarcSource.parseWarc(bos.toByteArray)
            require(f.gzip && f.nMembers == rows.length + 1,
              s"x130: shard $shard framing drifted")
            f.records.filter(_.warcType != "warcinfo").map { r =>
              (shard, r.warcType, r.targetUri, r.payloadDigest,
                r.body, r.refersToUri)
            }
          }
          .toDF("shard", "rtype", "uri", "digest", "text", "refers_uri")
        // cross-shard resolution: a revisit's digest finds exactly ONE
        // full response (the winner); its text must equal the body the
        // full write would have stored under the revisit's URI, and the
        // parsed refers-to URI must be that response's URI
        val resp = records.filter(
          org.apache.spark.sql.functions.col("rtype") === "response")
          .select(org.apache.spark.sql.functions.col("digest"),
            org.apache.spark.sql.functions.col("uri").as("resp_uri"),
            org.apache.spark.sql.functions.col("text").as("resp_text"))
        val rev = records.filter(
          org.apache.spark.sql.functions.col("rtype") === "revisit")
          .join(resp, Seq("digest"))
          .join(dec.select(org.apache.spark.sql.functions.col("uri"),
            org.apache.spark.sql.functions.col("body")), Seq("uri"))
          .withColumn("ok",
            org.apache.spark.sql.functions.col("resp_text") ===
              org.apache.spark.sql.functions.col("body") &&
              org.apache.spark.sql.functions.col("refers_uri") ===
                org.apache.spark.sql.functions.col("resp_uri"))
        val revAgg = rev.groupBy("shard")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_rev"),
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.when(
                org.apache.spark.sql.functions.col("ok"), 1L)
                .otherwise(0L)).as("n_resolved_ok"))
        records.groupBy("shard")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_pages"),
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.when(
                org.apache.spark.sql.functions.col("rtype") === "response",
                1L).otherwise(0L)).as("n_full"))
          .join(revAgg, Seq("shard"), "left")
          .na.fill(0L, Seq("n_rev", "n_resolved_ok"))
          .orderBy("shard")
      },
      Some(
        """WITH l AS (SELECT doc_id AS lid, text AS ltext FROM documents),
          |d AS (SELECT doc_id, source, doc_id - doc_id % 3 AS lid
          |      FROM documents),
          |p AS (SELECT d.doc_id, d.doc_id % 8 AS shard,
          |        'http://' || d.source || '/graft/' || d.doc_id AS uri,
          |        d.lid
          |      FROM d JOIN l ON l.lid = d.lid),
          |w AS (SELECT lid, min(uri) AS orig FROM p GROUP BY lid)
          |SELECT CAST(p.shard AS BIGINT) AS shard,
          |  count(*) AS n_pages,
          |  CAST(sum(CASE WHEN p.uri = w.orig THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_full,
          |  CAST(sum(CASE WHEN p.uri <> w.orig THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_rev,
          |  CAST(sum(CASE WHEN p.uri <> w.orig THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_resolved_ok
          |FROM p JOIN w USING (lid)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WET derivative archives (x117) — Common Crawl's text-extract
    // sibling of WARC: `conversion` records whose text/plain payload IS
    // the extracted page text (no HTTP sub-parse, no HTML), the format
    // most CC-based corpora actually ingest. Same container grammar and
    // member-per-record gzip walk as x100; the record parser surfaces
    // textual non-HTTP payloads as the body. `wetDocs` lands these
    // directly in the documents-table shape (the crawlDocs sibling
    // without the extraction stage). DuckDB re-derives all facts.
    "x117_wet" -> QueryDef(
      (s, dir) => graft.sources.WarcSource.wetTable(
          s, graft.sources.WarcSource.synthesizeWet(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, text, doc_id % 3 + 1 AS k
          |           FROM documents),
          |e AS (SELECT doc_id, text, k, unnest(range(0, k)) AS j FROM d)
          |SELECT doc_id,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
          |    AS is_gzip,
          |  CAST(any_value(k) + 1 AS INT) AS n_records,
          |  CAST(any_value(k) AS INT) AS n_conversion,
          |  CAST(sum(CASE WHEN j = 0 THEN length(text)
          |    ELSE length('wet ' || doc_id || ' ' || j || ' extracted text')
          |    END) AS BIGINT) AS body_bytes,
          |  'http://site' || (doc_id % 7) || '.example/' || doc_id || '/0'
          |    AS first_uri,
          |  any_value(text) AS first_text
          |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Readability-style MAIN-CONTENT extraction (WarcSource.bodyBlocks /
    // mainText) — the extraction-QUALITY stage after x101's tag strip:
    // segment the body into top-level blocks, measure each block's
    // link-text density (non-whitespace chars inside <a> vs total), and
    // drop link farms (nav bars, footers) above 50%. The fixture plants
    // a nav with ratio exactly 1.0, a main div with one inline link over
    // the document text, and a 12/14 footer; DuckDB re-derives every
    // ppm from string-length arithmetic and constructs the expected
    // main text, so a block-boundary, link-state, or entity slip fails
    // the hash. Complements d20 (inter-doc shingle boilerplate): this
    // is the intra-page structural signal.
    "x106_main_content" -> QueryDef(
      (s, dir) => graft.sources.WarcSource.mainContentTable(
          s, t(s, dir, "documents"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CAST(3 AS INT) AS n_blocks,
          |  CAST(1 AS INT) AS n_kept,
          |  CAST(1000000 AS BIGINT) AS nav_ppm,
          |  CAST(5 * 1000000 // (18 + length(replace(text, ' ', '')) +
          |    length(CAST(doc_id AS VARCHAR))) AS BIGINT) AS div_ppm,
          |  CAST(12 * 1000000 // 14 AS BIGINT) AS footer_ppm,
          |  'see link ' || (doc_id % 3) || ' ' ||
          |    trim(regexp_replace(text, '\s+', ' ', 'g')) ||
          |    ' extra ' || doc_id || ' words' AS main_text
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // robots.txt evaluation (sources/RobotsTxt) — the fetch-side gate a
    // crawler runs before a URL enters the frontier: RFC 9309 group
    // selection (exact agent beats *, groups never merge), most-octets
    // pattern wins, Allow beats Disallow on ties, no match = allowed,
    // and the RFC's `*`/`$` wildcards (the fixture plants a length-7
    // `Disallow: /p*/q2$` that outranks the length-6 Allow exception,
    // and a length-4 `Allow: /p2*` that outranks the length-3
    // Disallow). The gate evaluates TWO agents against per-site
    // fixtures (one exact group, one falling through to *), so group
    // selection AND wildcard precedence are what the hash checks;
    // DuckDB re-derives the decision and the matched rule from doc_id
    // arithmetic (precedence mirrors as CASE order: 7 > 6 > 4 > 3).
    "x107_robots" -> QueryDef(
      (s, dir) => graft.sources.RobotsTxt.robotsTable(
          s, t(s, dir, "documents"))
        .orderBy("doc_id", "j", "agent"),
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 7 AS site FROM documents),
          |u AS (SELECT doc_id, site, unnest(range(0, 3)) AS j FROM d),
          |a AS (SELECT doc_id, j, agent, site,
          |        (doc_id + j) % 4 AS p,
          |        CASE WHEN agent = 'anybot' THEN 1 ELSE 0 END AS star,
          |        CASE WHEN agent = 'anybot' THEN 2 ELSE 1 END AS wq,
          |        CASE WHEN agent = 'anybot' THEN site % 4
          |             ELSE (site + 1) % 4 END AS r4,
          |        CASE WHEN agent = 'anybot' THEN site % 3
          |             ELSE (site + 1) % 3 END AS r3
          |      FROM u, (VALUES ('anybot'), ('GraftBot')) t(agent))
          |SELECT doc_id, CAST(j AS INT) AS j, agent,
          |  '/p' || p || '/q' || j AS path,
          |  CAST(CASE WHEN j = wq THEN 0
          |            WHEN p = r4 AND j = r3 THEN 1
          |            WHEN star = 1 AND p = 2 THEN 1
          |            WHEN p = r4 THEN 0
          |            ELSE 1 END AS INT) AS allowed,
          |  CASE WHEN j = wq THEN 'disallow:/p*/q' || wq || '$'
          |       WHEN p = r4 AND j = r3 THEN 'allow:/p' || r4 || '/q' || r3
          |       WHEN star = 1 AND p = 2 THEN 'allow:/p2*'
          |       WHEN p = r4 THEN 'disallow:/p' || r4
          |       ELSE '' END AS matched
          |FROM a ORDER BY doc_id, j, agent""".stripMargin)),

    // Sitemap parsing (sources/Sitemap) — the crawl family's DISCOVERY
    // side next to robots.txt's admission (x107) and WARC's fetch
    // results (x100): a strict machine-written-XML subset (declaration,
    // elements with attributes skipped quote-aware, namespace prefixes
    // stripped, shared entity decode; CDATA/comments/mismatches reject
    // loudly by name). Priorities parse to integer ppm — no float.
    // DuckDB re-constructs every entry from doc_id arithmetic.
    "x108_sitemap" -> QueryDef(
      (s, dir) => graft.sources.Sitemap.sitemapTable(
          s, t(s, dir, "documents"))
        .orderBy("doc_id", "j"),
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
          |u AS (SELECT doc_id, unnest(range(0, k)) AS j FROM d)
          |SELECT doc_id, CAST(j AS INT) AS j,
          |  'http://site' || (doc_id % 7) || '.example/' || doc_id ||
          |    '/' || j AS loc,
          |  '2026-01-' ||
          |    lpad(CAST((doc_id + j) % 28 + 1 AS VARCHAR), 2, '0')
          |    AS lastmod,
          |  ['daily', 'weekly', 'monthly', 'yearly']
          |    [CAST((doc_id + j) % 4 AS INT) + 1] AS changefreq,
          |  CAST((9 - j) * 100000 AS BIGINT) AS priority_ppm
          |FROM u ORDER BY doc_id, j""".stripMargin)),

    // CRAWL FRONTIER — the capstone composition over the whole crawl
    // family: sitemap DISCOVERY (x108 parser) anti-joined against the
    // pages already fetched OK (parsed out of the x100 WARC fixture —
    // 404s stay refetchable), then ADMISSION through the robots.txt
    // evaluator (x107 — the per-site /{digit} rules bite on this
    // numeric path space; /p rules never do), ordered by sitemap
    // priority. Three independent parsers feeding one decision, and
    // DuckDB re-derives the surviving queue rows from pure doc_id
    // string arithmetic. Shape: everything here is per-site KBs and
    // per-row narrow; the fetch queue's exchange is downstream.
    "x109_frontier" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .flatMap { case (id, text) =>
            // ONE shared derivation with x111 (Sitemap.fixtureFrontier)
            graft.sources.Sitemap.fixtureFrontier(id, text)
              .map(e => (id, e.loc, e.priorityPpm))
          }
          .toDF("doc_id", "loc", "priority_ppm")
          .orderBy(col("doc_id"), col("priority_ppm").desc, col("loc"))
      },
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
          |u AS (SELECT doc_id, unnest(range(0, k)) AS j FROM d),
          |e AS (SELECT doc_id, j,
          |        'http://site' || (doc_id % 7) || '.example/' || doc_id
          |          || '/' || j AS loc,
          |        (9 - j) * 100000 AS ppm,
          |        CAST(doc_id AS VARCHAR) AS ids,
          |        CAST(doc_id % 7 AS VARCHAR) AS s
          |      FROM u
          |      WHERE (doc_id + j) % 5 = 0)
          |SELECT doc_id, loc, CAST(ppm AS BIGINT) AS priority_ppm
          |FROM e
          |WHERE NOT starts_with(ids, s) OR starts_with(ids, s || s)
          |ORDER BY doc_id, priority_ppm DESC, loc""".stripMargin)),

    // FETCH POLITENESS SCHEDULE (x111) — the step between the frontier
    // and the fetcher: per-site Crawl-delay directives (parsed from the
    // same robots.txt as x107's admission rules, exact-group-else-*
    // precedence, decimal seconds → integer ms) turn the x109 frontier
    // into concrete fetch offsets: frontier order (priority desc, loc),
    // fetch_at = seq × delay. DuckDB re-derives delays and the schedule
    // from doc_id arithmetic. A polite crawler is not optional at 100 TB
    // — this is the control plane's rate limiter, computed per-site
    // map-side.
    "x111_politeness" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .flatMap { case (id, text) =>
            val (rules, delays) = graft.sources.RobotsTxt.parseRobotsAll(
              graft.sources.RobotsTxt.robotsOf(id % 7))
            val delayMs =
              graft.sources.RobotsTxt.crawlDelayMs(rules, delays, "anybot")
            // ONE shared frontier derivation with x109
            graft.sources.Sitemap.fixtureFrontier(id, text)
              .zipWithIndex.map { case (e, seq) =>
                (id, e.loc, seq, delayMs, seq * delayMs)
              }
          }
          .toDF("doc_id", "loc", "seq", "delay_ms", "fetch_at_ms")
          .orderBy("doc_id", "seq")
      },
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
          |u AS (SELECT doc_id, unnest(range(0, k)) AS j FROM d),
          |e AS (SELECT doc_id, j,
          |        'http://site' || (doc_id % 7) || '.example/' || doc_id
          |          || '/' || j AS loc,
          |        (9 - j) * 100000 AS ppm,
          |        CAST(doc_id AS VARCHAR) AS ids,
          |        CAST(doc_id % 7 AS VARCHAR) AS s
          |      FROM u WHERE (doc_id + j) % 5 = 0),
          |f AS (SELECT doc_id, loc, ppm FROM e
          |      WHERE NOT starts_with(ids, s) OR starts_with(ids, s || s)),
          |r AS (SELECT doc_id, loc,
          |        row_number() OVER (PARTITION BY doc_id
          |                           ORDER BY ppm DESC, loc) - 1 AS seq,
          |        (doc_id % 7 % 3 + 1) * 1000 + 500 AS delay_ms
          |      FROM f)
          |SELECT doc_id, loc, CAST(seq AS INT) AS seq,
          |  CAST(delay_ms AS BIGINT) AS delay_ms,
          |  CAST(seq * delay_ms AS BIGINT) AS fetch_at_ms
          |FROM r ORDER BY doc_id, seq""".stripMargin)),

    // RECRAWL SCHEDULING (x112) — the freshness side of the control
    // plane: sitemap lastmod + changefreq (the x108 parser's fields)
    // decide which known URLs are DUE for refetch at a fixed decision
    // instant (2026-02-15; determinism — wall clocks never enter gate
    // logic). period = {daily 1, weekly 7, monthly 30, yearly 365}
    // days; due = age >= period; overdue_ppm = age·1e6 div period, the
    // integer-units priority a recrawl queue sorts by. DuckDB
    // re-derives the dates and ratios from doc_id arithmetic.
    "x112_recrawl" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(col("doc_id")).as[Long]
          .flatMap { id =>
            val now = java.time.LocalDate.parse("2026-02-15")
            graft.sources.Sitemap.parseSitemap(
                graft.sources.Sitemap.sitemapOf(id)).entries
              .zipWithIndex.map { case (e, j) =>
                val age = java.time.temporal.ChronoUnit.DAYS.between(
                  java.time.LocalDate.parse(e.lastmod), now)
                val period = e.changefreq match {
                  case "daily" => 1L
                  case "weekly" => 7L
                  case "monthly" => 30L
                  case "yearly" => 365L
                  case other => sys.error(s"sitemap: unknown changefreq '$other'")
                }
                (id, j, e.loc, age, period,
                  if (age >= period) 1 else 0, age * 1000000L / period)
              }
          }
          .toDF("doc_id", "j", "loc", "age_days", "period_days", "due",
            "overdue_ppm")
          .orderBy("doc_id", "j")
      },
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
          |u AS (SELECT doc_id, unnest(range(0, k)) AS j FROM d),
          |e AS (SELECT doc_id, j,
          |        'http://site' || (doc_id % 7) || '.example/' || doc_id
          |          || '/' || j AS loc,
          |        CAST('2026-01-' ||
          |          lpad(CAST((doc_id + j) % 28 + 1 AS VARCHAR), 2, '0')
          |          AS DATE) AS lm,
          |        [1, 7, 30, 365][CAST((doc_id + j) % 4 AS INT) + 1]
          |          AS period
          |      FROM u)
          |SELECT doc_id, CAST(j AS INT) AS j, loc,
          |  CAST(DATE '2026-02-15' - lm AS BIGINT) AS age_days,
          |  CAST(period AS BIGINT) AS period_days,
          |  CAST(CASE WHEN DATE '2026-02-15' - lm >= period
          |    THEN 1 ELSE 0 END AS INT) AS due,
          |  CAST((DATE '2026-02-15' - lm) * 1000000 // period AS BIGINT)
          |    AS overdue_ppm
          |FROM e ORDER BY doc_id, j""".stripMargin)),

    // FETCH SCHEDULE (x118) — the crawl control plane composed end to
    // end: x109's admitted frontier (sitemap ∖ fetched-OK through
    // robots) JOINED with x111's per-host Crawl-delay (broadcast — the
    // rule table is one number per host) and x112's recrawl urgency
    // (overdue_ppm at the fixed 2026-02-15 instant), then per-HOST
    // fetch slots: order (overdue desc, priority desc, loc), fetch_at =
    // seq × delay. Per-host, not per-sitemap: URLs from different docs
    // share a site{0..6} host and must interleave in ONE polite queue —
    // the one exchange is the per-host window, keyed on the same host
    // the fetch queue partitions by anyway. DuckDB composes the same
    // three derivations (admission WHERE clause = x109's, delay
    // arithmetic = x111's, overdue arithmetic = x112's) over a window.
    "x118_fetch_schedule" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val frontier = t(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .flatMap { case (id, text) =>
            graft.sources.Sitemap.fixtureFrontier(id, text).map(e =>
              (s"site${id % 7}.example", e.loc, e.priorityPpm,
                e.lastmod, e.changefreq))
          }
          .toDF("host", "loc", "priority_ppm", "lastmod", "changefreq")
        val delays = (0 until 7).map { k =>
          val (rules, ds) = graft.sources.RobotsTxt.parseRobotsAll(
            graft.sources.RobotsTxt.robotsOf(k.toLong))
          (s"site$k.example",
            graft.sources.RobotsTxt.crawlDelayMs(rules, ds, "anybot"))
        }.toDF("host", "delay_ms")
        graft.sources.Sitemap.fetchSchedule(frontier, delays, "2026-02-15")
          .orderBy("host", "seq")
      },
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
          |u AS (SELECT doc_id, unnest(range(0, k)) AS j FROM d),
          |e AS (SELECT doc_id, j,
          |        'http://site' || (doc_id % 7) || '.example/' || doc_id
          |          || '/' || j AS loc,
          |        'site' || (doc_id % 7) || '.example' AS host,
          |        (9 - j) * 100000 AS ppm,
          |        CAST('2026-01-' ||
          |          lpad(CAST((doc_id + j) % 28 + 1 AS VARCHAR), 2, '0')
          |          AS DATE) AS lm,
          |        [1, 7, 30, 365][CAST((doc_id + j) % 4 AS INT) + 1]
          |          AS period,
          |        CAST(doc_id AS VARCHAR) AS ids,
          |        CAST(doc_id % 7 AS VARCHAR) AS s
          |      FROM u WHERE (doc_id + j) % 5 = 0),
          |f AS (SELECT host, loc, ppm,
          |        (DATE '2026-02-15' - lm) * 1000000 // period
          |          AS overdue_ppm,
          |        (CAST(substr(host, 5, 1) AS BIGINT) % 3 + 1) * 1000
          |          + 500 AS delay_ms
          |      FROM e
          |      WHERE NOT starts_with(ids, s) OR starts_with(ids, s || s)),
          |r AS (SELECT host, loc, overdue_ppm, delay_ms,
          |        row_number() OVER (PARTITION BY host
          |          ORDER BY overdue_ppm DESC, ppm DESC, loc) - 1 AS seq
          |      FROM f)
          |SELECT host, loc, CAST(seq AS INT) AS seq,
          |  CAST(overdue_ppm AS BIGINT) AS overdue_ppm,
          |  CAST(delay_ms AS BIGINT) AS delay_ms,
          |  CAST(seq * delay_ms AS BIGINT) AS fetch_at_ms
          |FROM r ORDER BY host, seq""".stripMargin)),

    // CDX CRAWL INDEX + random-access fetch (x119) — the third Common
    // Crawl artifact after WARC (x100) and WET (x117): SURT-keyed CDXJ
    // lines whose (filename, offset, length) point at ONE gzip member
    // inside the archive. The gate builds the REAL index of each
    // fixture archive (offsets MEASURED by a member walk, not
    // arithmetic), then FETCHES every entry by offset/length — single
    // member inflate, CRC32+ISIZE verified — and emits what the fetch
    // decoded: surt/mime/status/digest re-derived by DuckDB from
    // doc_id arithmetic, fetched text equal to the x101 derivation
    // for EVERY response (j>0 included, chunked/content-gzipped wire
    // forms included). A one-byte offset slip lands in a different
    // member and fails the url/digest requires or the text hash. The
    // 100 TB story: selective refetch costs the rows fetched, never
    // the archives scanned.
    "x119_cdx_fetch" -> QueryDef(
      (s, dir) => graft.sources.CdxSource.cdxTable(s, t(s, dir, "documents"))
        .orderBy("doc_id", "j"),
      Some(
        """WITH d AS (SELECT doc_id, text, doc_id % 3 + 1 AS k
          |           FROM documents),
          |u AS (SELECT doc_id, text, k, unnest(range(0, k)) AS j FROM d)
          |SELECT doc_id, CAST(j AS INT) AS j,
          |  'example,site' || (doc_id % 7) || ')/' || doc_id || '/' || j
          |    AS surt,
          |  'text/html' AS mime,
          |  CAST(CASE WHEN (doc_id + j) % 5 = 0 THEN 404 ELSE 200 END
          |    AS INT) AS status,
          |  'sha1:FIX' || ((doc_id * 31 + j) % 97) AS digest,
          |  'doc ' || doc_id || ' Doc ' || doc_id || ' ' ||
          |    CASE WHEN j = 0 THEN trim(regexp_replace(text, '\s+', ' ', 'g'))
          |         ELSE 'word' || ((doc_id * 7 + j) % 50) || ' page ' ||
          |              doc_id || ' ' || j END ||
          |    ' footer ' || (doc_id % 11) AS fetched_text
          |FROM u ORDER BY doc_id, j""".stripMargin)),

    // WAT metadata archives (x120) — the FOURTH and final Common Crawl
    // artifact (fetches x100, text x117, index x119): `metadata`
    // records whose application/json envelope carries the parsed
    // capture metadata (target URI, HTML link graph, page title, HTTP
    // status) — the substrate for link-graph work without page bytes.
    // The JSON reader is OURS (sources/WatSource.Jsons: strict
    // recursive descent, depth-capped, lexically-preserved numbers,
    // python-json-arbitered both directions in WatSpec); DuckDB
    // re-derives every envelope fact from doc_id arithmetic, so a
    // grammar or path-walk slip fails the hash.
    "x120_wat" -> QueryDef(
      (s, dir) => graft.sources.WatSource.watTable(
          s, graft.sources.WatSource.synthesizeWat(
            s, t(s, dir, "documents")))
        .orderBy("doc_id", "j"),
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
          |u AS (SELECT doc_id, unnest(range(0, k)) AS j FROM d)
          |SELECT doc_id, CAST(j AS INT) AS j,
          |  'http://site' || (doc_id % 7) || '.example/' || doc_id ||
          |    '/' || j AS uri,
          |  'doc ' || doc_id || ' ' || j AS title,
          |  CAST((doc_id + j) % 4 + 1 AS INT) AS n_links,
          |  CAST(CASE WHEN (doc_id + j) % 5 = 0 THEN 404 ELSE 200 END
          |    AS INT) AS status
          |FROM u ORDER BY doc_id, j""".stripMargin)),

    // WAT OUTLINK EDGES (x121) — the link-graph substrate: every
    // envelope link resolved to an absolute URL against its capture
    // URI per RFC 3986 §5 (via java.net.URI, fragment-stripped). The
    // fixture rotates the three reference forms a crawler meets —
    // absolute-path (/lm), relative-path (lm — merges against the
    // capture's /id/j directory), and already-absolute — and DuckDB
    // re-derives each resolution arithmetically, so a merge or
    // dot-segment slip fails the hash. Feeding these edges into the
    // graph family (pagerank x47, components x69) is the standard
    // web-graph pipeline, built without touching page bytes.
    "x121_wat_outlinks" -> QueryDef(
      (s, dir) => graft.sources.WatSource.watOutlinkTable(
          s, graft.sources.WatSource.synthesizeWat(
            s, t(s, dir, "documents")))
        .orderBy("doc_id", "j", "m"),
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
          |u AS (SELECT doc_id, unnest(range(0, k)) AS j FROM d),
          |l AS (SELECT doc_id, j,
          |        unnest(range(0, (doc_id + j) % 4 + 1)) AS m FROM u)
          |SELECT doc_id, CAST(j AS INT) AS j, CAST(m AS INT) AS m,
          |  CASE m % 3
          |    WHEN 0 THEN 'http://site' || (doc_id % 7) || '.example/l' || m
          |    WHEN 1 THEN 'http://site' || (doc_id % 7) || '.example/' ||
          |      doc_id || '/l' || m
          |    ELSE 'http://ext' || m || '.example/p' END AS target,
          |  CAST(CASE WHEN (doc_id + j + m) % 5 = 0 THEN 1 ELSE 0 END
          |    AS INT) AS nofollow
          |FROM l ORDER BY doc_id, j, m""".stripMargin)),

    // WAT HOST PAGERANK (x123) — the link-analysis payoff of the WAT
    // family: x121's resolved outlinks collapse to the HOST graph
    // (src_host, dst_host, w = link count; intra-site self-edges kept),
    // then 3 rounds of WEIGHTED integer-exact PageRank
    // (Graph.pagerankWeighted — rank splits across out-edges by weight,
    // the Common Crawl host-ranking form; string node keys, no id
    // mapping sidecar). Contribution uses the decomposed exact form
    // (r div sw)·w + ((r mod sw)·w) div sw, which the oracle unrolls
    // verbatim, so both engines are bit-identical at any parallelism.
    // 100 TB shape: link-sized rows collapse to host-pair-sized ones in
    // ONE map-side-combined exchange before any iteration; each round
    // is then a host-graph-sized join + agg, never a re-walk of the
    // archives.
    "x123_host_rank" -> QueryDef(
      (s, dir) => {
        val edges = graft.sources.WatSource.watHostEdges(
          s, graft.sources.WatSource.synthesizeWat(
            s, t(s, dir, "documents")))
        Graph.pagerankWeighted(edges, iters = 3, checkpointInterval = 5)
          .orderBy(desc("r"), col("node"))
          .select(col("node").as("host"), col("r").as("rank_units"))
      },
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
          |u AS (SELECT doc_id, unnest(range(0, k)) AS j FROM d),
          |l AS (SELECT doc_id, j,
          |        unnest(range(0, (doc_id + j) % 4 + 1)) AS m FROM u),
          |raw AS (SELECT 'site' || (doc_id % 7) || '.example' AS src,
          |          CASE WHEN m % 3 = 2 THEN 'ext' || m || '.example'
          |               ELSE 'site' || (doc_id % 7) || '.example'
          |          END AS dst
          |        FROM l
          |        WHERE (doc_id + j + m) % 5 <> 0),
          |e AS (SELECT src, dst, count(*) AS w FROM raw GROUP BY src, dst),
          |sw AS (SELECT src, sum(w) AS sw FROM e GROUP BY src),
          |g AS (SELECT e.src, e.dst, e.w, sw.sw FROM e
          |      JOIN sw ON sw.src = e.src),
          |nodes AS (SELECT DISTINCT node FROM
          |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          |nn AS (SELECT count(*) AS n FROM nodes),
          |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, nn),
          |i1 AS (SELECT g.dst AS node,
          |         sum((r.r // g.sw) * g.w + ((r.r % g.sw) * g.w) // g.sw)
          |           AS s
          |       FROM g JOIN r0 r ON r.node = g.src GROUP BY g.dst),
          |r1 AS (SELECT nodes.node,
          |         (15 * (1000000000000 // nn.n)) // 100
          |           + (85 * coalesce(i1.s, 0)) // 100 AS r
          |       FROM nodes CROSS JOIN nn
          |       LEFT JOIN i1 ON i1.node = nodes.node),
          |i2 AS (SELECT g.dst AS node,
          |         sum((r.r // g.sw) * g.w + ((r.r % g.sw) * g.w) // g.sw)
          |           AS s
          |       FROM g JOIN r1 r ON r.node = g.src GROUP BY g.dst),
          |r2 AS (SELECT nodes.node,
          |         (15 * (1000000000000 // nn.n)) // 100
          |           + (85 * coalesce(i2.s, 0)) // 100 AS r
          |       FROM nodes CROSS JOIN nn
          |       LEFT JOIN i2 ON i2.node = nodes.node),
          |i3 AS (SELECT g.dst AS node,
          |         sum((r.r // g.sw) * g.w + ((r.r % g.sw) * g.w) // g.sw)
          |           AS s
          |       FROM g JOIN r2 r ON r.node = g.src GROUP BY g.dst),
          |r3 AS (SELECT nodes.node,
          |         (15 * (1000000000000 // nn.n)) // 100
          |           + (85 * coalesce(i3.s, 0)) // 100 AS r
          |       FROM nodes CROSS JOIN nn
          |       LEFT JOIN i3 ON i3.node = nodes.node)
          |SELECT node AS host, CAST(r AS BIGINT) AS rank_units FROM r3
          |ORDER BY rank_units DESC, host""".stripMargin)),

    // CDX INDEX GENERATION (x122) — the producing side of x119's
    // random-access fetch: walk each archive on the streaming iterator's
    // MEASURED record/member boundaries (sources/CdxSource.generateCdx)
    // and emit one SURT-keyed pointer per response record. The gate
    // requires the generated index line-for-line equal to the fixture
    // index (two independent boundary measurements), fetches every
    // generated pointer back out of the archive (url+digest-checked),
    // and emits the entry facts — timestamp derived from each record's
    // WARC-Date. A one-byte slip in the iterator's boundary tracking
    // fails the fetch; a format drift fails the line equality. 100 TB
    // story: generation is a narrow per-archive walk; the only exchange
    // is the (surt, ts) sort of pointer-sized rows into ordered shards.
    "x122_cdx_gen" -> QueryDef(
      (s, dir) => graft.sources.CdxSource.cdxGenTable(
          s, t(s, dir, "documents"))
        .orderBy("doc_id", "j"),
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
          |u AS (SELECT doc_id, unnest(range(0, k)) AS j FROM d)
          |SELECT doc_id, CAST(j AS INT) AS j,
          |  'example,site' || (doc_id % 7) || ')/' || doc_id || '/' || j
          |    AS surt,
          |  '202601' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
          |    '000000' AS ts,
          |  'http://site' || (doc_id % 7) || '.example/' || doc_id ||
          |    '/' || j AS url,
          |  'text/html' AS mime,
          |  CAST(CASE WHEN (doc_id + j) % 5 = 0 THEN 404 ELSE 200 END
          |    AS INT) AS status,
          |  'sha1:FIX' || ((doc_id * 31 + j) % 97) AS digest
          |FROM u ORDER BY doc_id, j""".stripMargin)),

    // ZIPNUM CLUSTER INDEX (x124) — the secondary index layer over the
    // sorted CDX shards (Common Crawl's cluster.idx): lines pack into
    // gzip members of 4, a cluster index records (firstKey, offset,
    // length) per block, and a point lookup binary-searches the cluster
    // (strictly-below start — equal-key runs spill across boundaries)
    // then inflates ONE member. The gate groups docs 64 per cluster
    // (the per-shard deployment unit), looks up every doc's j=0 capture
    // by SURT, and emits the found entry + the cluster geometry — all
    // re-derived arithmetically by DuckDB. A framing or search slip
    // misses the key or lands on the wrong entry.
    "x124_zipnum" -> QueryDef(
      (s, dir) => graft.sources.CdxSource.zipnumTable(
        s, t(s, dir, "documents")),
      Some(
        """WITH d AS (SELECT doc_id, text, doc_id % 3 + 1 AS k,
          |             doc_id // 64 AS g FROM documents),
          |grp AS (SELECT g, sum(k) AS n_lines FROM d GROUP BY g)
          |SELECT doc_id,
          |  CAST(grp.n_lines AS INT) AS n_lines,
          |  CAST((grp.n_lines + 3) // 4 AS INT) AS n_blocks,
          |  'example,site' || (doc_id % 7) || ')/' || doc_id || '/0'
          |    AS surt,
          |  'http://site' || (doc_id % 7) || '.example/' || doc_id ||
          |    '/0' AS url,
          |  CAST(CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS INT)
          |    AS status,
          |  'sha1:FIX' || ((doc_id * 31) % 97) AS digest
          |FROM d JOIN grp ON grp.g = d.g
          |ORDER BY doc_id""".stripMargin)),

    // SITEMAP TREE WALK (x126) — discovery through sitemapindex
    // nesting (any big site shards its URL space across leaf sitemaps
    // under one index — sitemaps.org caps a file at 50k URLs): the
    // walk parses the root, recurses into every advertised child
    // (cycle/depth/count guard rails reject loudly — unbounded
    // recursive fetch of attacker XML is how crawlers get stuck), and
    // emits each URL with its LEAF's provenance. DuckDB re-derives the
    // whole two-level tree from doc_id arithmetic; a recursion or
    // provenance slip moves rows between leaves and fails the hash.
    "x126_sitemap_tree" -> QueryDef(
      (s, dir) => graft.sources.Sitemap.sitemapTreeTable(
        s, t(s, dir, "documents")),
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 2 + 2 AS n FROM documents),
          |p AS (SELECT doc_id, unnest(range(0, n)) AS p FROM d),
          |u AS (SELECT doc_id, p,
          |        unnest(range(0, (doc_id + p) % 3 + 1)) AS q FROM p)
          |SELECT doc_id,
          |  'http://site' || (doc_id % 7) || '.example/sitemaps/' ||
          |    doc_id || '/' || p || '.xml' AS leaf,
          |  'http://site' || (doc_id % 7) || '.example/' || doc_id ||
          |    '/' || p || '/' || q AS loc,
          |  '2026-01-' || lpad(CAST((doc_id + p + q) % 28 + 1 AS VARCHAR),
          |    2, '0') AS lastmod,
          |  CASE (doc_id + p + q) % 4 WHEN 0 THEN 'daily'
          |    WHEN 1 THEN 'weekly' WHEN 2 THEN 'monthly'
          |    ELSE 'yearly' END AS changefreq,
          |  CAST((9 - q) * 100000 AS BIGINT) AS priority_ppm
          |FROM u ORDER BY doc_id, loc""".stripMargin)),

    // REVISIT RESOLUTION (x125) — the Common Crawl dedup bridge closed:
    // revisit records (x100's linkage-only dedup form) resolve to their
    // ORIGINAL capture by joining payload digest against the CDX index
    // and fetching the original's pointer — the revisit's URI gets the
    // original's decoded text without a refetch. DuckDB re-derives the
    // resolved text from the j=0 derivation (the fixture's revisits
    // reference response 0); a digest-join or pointer slip fails the
    // url/digest requires or the text hash.
    "x125_revisit_resolve" -> QueryDef(
      (s, dir) => graft.sources.CdxSource.revisitTable(
        s, t(s, dir, "documents")),
      Some(
        """SELECT doc_id,
          |  'http://site' || (doc_id % 7) || '.example/' || doc_id ||
          |    '/0' AS uri,
          |  'sha1:FIX' || ((doc_id * 31) % 97) AS digest,
          |  'http://site' || (doc_id % 7) || '.example/' || doc_id ||
          |    '/0' AS resolved_from,
          |  'doc ' || doc_id || ' Doc ' || doc_id || ' ' ||
          |    trim(regexp_replace(text, '\s+', ' ', 'g')) ||
          |    ' footer ' || (doc_id % 11) AS text
          |FROM documents WHERE doc_id % 3 = 1
          |ORDER BY doc_id""".stripMargin)),

    // Matroska/WebM (EBML) container walk (sources/MkvSource.parseMkv) —
    // the second web-video container family after mp4/fmp4 (x85/x88).
    // Our walker implements the RFC 8794 wire grammar: marker-kept VINT
    // ids, marker-stripped VINT sizes (the all-ones unknown-size form
    // parses for Segment/Cluster with the §6.2 sibling-or-higher
    // termination — the MediaRecorder WebM shape, which doc_id%5==0
    // fixture files ship — and rejects by name anywhere else),
    // size-packed big-endian ints, IEEE floats, skip-by-size forward
    // compatibility. Track facts are
    // selected by TrackType (never position — the mp4 discipline),
    // keyframes come from the parsed SimpleBlock flag bit, and block
    // times are cluster-absolute (cluster Timestamp + signed s16
    // relative). DuckDB re-derives every fact from doc_id arithmetic.
    "x102_mkv_meta" -> QueryDef(
      (s, dir) => graft.sources.MkvSource.mkvTable(
          s, graft.sources.MkvSource.synthesizeMkv(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS c, doc_id % 4 + 2 AS b,
          |            CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS aud
          |           FROM documents),
          |ci AS (SELECT doc_id, c, b, aud, unnest(range(0, c)) AS i FROM d),
          |vj AS (SELECT doc_id, c, b, aud, i, unnest(range(0, b)) AS j
          |       FROM ci)
          |SELECT doc_id,
          |  CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'matroska' END
          |    AS doctype,
          |  CAST(1 + any_value(aud) AS INT) AS n_tracks,
          |  'V_VP9' AS v_codec,
          |  CAST(320 + (doc_id % 5) * 16 AS INT) AS width,
          |  CAST(240 + (doc_id % 3) * 16 AS INT) AS height,
          |  CAST(any_value(aud) * (1 + doc_id % 3) AS INT) AS audio_ch,
          |  CAST(any_value(c) AS INT) AS n_clusters,
          |  CAST(any_value(c) * any_value(b) AS INT) AS n_vblocks,
          |  CAST(any_value(aud) * any_value(c) * 2 AS INT) AS n_ablocks,
          |  CAST(sum(CASE WHEN j = 0 OR (doc_id + i + j) % 7 = 0
          |    THEN 1 ELSE 0 END) AS INT) AS n_keyframes,
          |  CAST(any_value(c) * 1000 AS BIGINT) AS dur_ms,
          |  CAST(sum(i * 1000 + j * 40) AS BIGINT) AS ts_sum,
          |  CAST(sum((doc_id + j) % 17 + 1) AS BIGINT) AS frame_bytes
          |FROM vj GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Keyframe-to-keyframe segments of the mkv VIDEO track — the
    // Matroska sibling of x86/x89: parse map-side, running keyframe
    // count as one window over (doc, pts), segment rollup as one
    // exchange. The last frame's extent uses the track's PARSED
    // DefaultDuration, not a fixture constant.
    "x103_mkv_segments" -> QueryDef(
      (s, dir) => graft.sources.MkvSource.mkvSegments(
          s, graft.sources.MkvSource.synthesizeMkv(
            s, t(s, dir, "documents"))),
      Some(
        """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS c, doc_id % 4 + 2
          |             AS b FROM documents),
          |ci AS (SELECT doc_id, c, b, unnest(range(0, c)) AS i FROM d),
          |f AS (SELECT doc_id, i * 1000 + j * 40 AS ts,
          |        CASE WHEN j = 0 OR (doc_id + i + j) % 7 = 0 THEN 1
          |          ELSE 0 END AS is_key
          |      FROM (SELECT doc_id, c, b, i, unnest(range(0, b)) AS j
          |            FROM ci)),
          |s AS (SELECT doc_id, ts, is_key,
          |        sum(is_key) OVER (PARTITION BY doc_id ORDER BY ts)
          |          AS seg
          |      FROM f)
          |SELECT doc_id, CAST(seg AS BIGINT) AS seg,
          |  CAST(min(ts) AS BIGINT) AS start_ms,
          |  CAST(count(*) AS BIGINT) AS n_frames,
          |  CAST(max(ts) + 40 - min(ts) AS BIGINT) AS dur_ms
          |FROM s GROUP BY doc_id, seg ORDER BY doc_id, seg""".stripMargin)),

    // POSIX tar (ustar) walk + WebDataset sample grouping
    // (sources/TarSource) — the tar-of-samples shard format multimodal
    // training pipelines feed from. Our walker validates the ustar magic
    // and the header CHECKSUM on every entry, handles the prefix field,
    // 512-block rounding and the end-of-archive marker; .tar.gz shards
    // reuse the WARC gzip member walker (CRC32+ISIZE checked). Samples
    // group by the name's pre-dot key; completeness (caption+label
    // present) is a real check because the fixture omits .cls on
    // (id+j)%5==0. DuckDB re-derives every fact from doc_id arithmetic
    // and the documents text length. TarSpec pins interop BOTH ways
    // against the system tar binary.
    "x104_webdataset" -> QueryDef(
      (s, dir) => graft.sources.TarSource.webdatasetTable(
          s, graft.sources.TarSource.synthesizeShards(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, text, doc_id % 4 + 1 AS k
          |           FROM documents),
          |u AS (SELECT doc_id, text, k, unnest(range(0, k)) AS j FROM d),
          |e AS (SELECT doc_id, k, j,
          |        CASE WHEN j = 0 THEN length(text)
          |             ELSE length('fill ' || doc_id || ' ' || j) END
          |          AS txt_len,
          |        CASE WHEN (doc_id + j) % 5 = 0 THEN 0 ELSE 1 END
          |          AS has_cls,
          |        CASE WHEN (doc_id + j) % 5 = 0 THEN 0
          |             ELSE (doc_id + j) % 10 END AS cls,
          |        CASE WHEN j % 2 = 0 THEN (doc_id + j) % 29 + 1 ELSE 0
          |          END AS bin_len
          |      FROM u)
          |SELECT doc_id,
          |  CAST(count(*) + sum(has_cls) +
          |    sum(CASE WHEN bin_len > 0 THEN 1 ELSE 0 END) AS INT)
          |    AS n_entries,
          |  CAST(any_value(k) AS INT) AS n_samples,
          |  CAST(sum(has_cls) AS INT) AS n_complete,
          |  CAST(sum(txt_len) AS BIGINT) AS txt_bytes,
          |  CAST(sum(cls) AS BIGINT) AS cls_sum,
          |  CAST(sum(bin_len) AS BIGINT) AS bin_bytes
          |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ZIP central-directory walk (sources/ZipSource) — the third shard
    // container after tar and WARC, and a reference seam deepened: the
    // reference reads zip input (TextSource.cs:88-103, first entry).
    // The walk is the correct direction — EOCD scan-back (the fixture
    // plants archive comments on doc_id%5==0 so the scan is exercised),
    // central directory as the authoritative catalog, per-entry seek +
    // bounded read + CRC32/usize verification; encryption, zip64, other
    // methods reject by name. first_text is a full decode round-trip
    // (stored AND deflated entries both appear via (id+j)%4). DuckDB
    // re-derives every fact from doc_id arithmetic; ZipSpec pins
    // interop BOTH ways against the system zip/unzip binaries.
    "x110_zip" -> QueryDef(
      (s, dir) => graft.sources.ZipSource.zipTable(
          s, graft.sources.ZipSource.synthesizeZip(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, text, doc_id % 3 + 1 AS k
          |           FROM documents),
          |e AS (SELECT doc_id, text, k, unnest(range(0, k)) AS j FROM d)
          |SELECT doc_id,
          |  CAST(any_value(k) AS INT) AS n_entries,
          |  CAST(sum(CASE WHEN (doc_id + j) % 4 = 0 THEN 1 ELSE 0 END)
          |    AS INT) AS n_stored,
          |  CAST(any_value(k) -
          |    sum(CASE WHEN (doc_id + j) % 4 = 0 THEN 1 ELSE 0 END)
          |    AS INT) AS n_deflated,
          |  CAST(sum(CASE WHEN j = 0 THEN length(text)
          |    ELSE length('entry ' || doc_id || ' ' || j) END) AS BIGINT)
          |    AS usize_sum,
          |  CAST(CASE WHEN doc_id % 5 = 0 THEN length('doc ' || doc_id)
          |    ELSE 0 END AS INT) AS comment_len,
          |  any_value(text) AS first_text
          |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // GIF walk (sources/GifSource) — the fourth image family after PNG
    // (x93/x94/x99), JPEG (x95), and MJPEG (x67): header + logical
    // screen, global color table, Graphic Control / Comment / NETSCAPE
    // loop extensions, sub-block framing, trailer. DuckDB re-derives
    // every fact from doc_id arithmetic; GifSpec pins interop BOTH ways
    // against javax.imageio.
    "x113_gif_meta" -> QueryDef(
      (s, dir) => graft.sources.GifSource.gifTable(
          s, graft.sources.GifSource.synthesizeGif(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, '89a' AS version,
          |  CAST(16 + (doc_id % 5) * 4 AS INT) AS w,
          |  CAST(12 + (doc_id % 3) * 4 AS INT) AS h,
          |  CAST(16 AS INT) AS gct_size,
          |  CAST(doc_id % 2 + 1 AS INT) AS n_frames,
          |  CAST((doc_id % 10 + 1) +
          |    CASE WHEN doc_id % 2 = 1 THEN (doc_id + 1) % 10 + 1
          |         ELSE 0 END AS BIGINT) AS delay_sum_cs,
          |  CAST(doc_id % 2 AS INT) AS n_interlaced,
          |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
          |    AS n_comments,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 5 ELSE -1 END
          |    AS INT) AS loop_count
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // GIF pixel decode (x114) — GIF-LZW (variable code width, KwKwK,
    // dictionary resets) + the four-pass interlace undone, checked as
    // palette-resolved RGB sums per frame: a one-bit slip anywhere in
    // the bit unpacking, dictionary, or row reordering moves the sum.
    // The fixture's encoder builds a REAL LZW dictionary (the spec also
    // round-trips javax.imageio's own LZW streams).
    "x114_gif_pixels" -> QueryDef(
      (s, dir) => graft.sources.GifSource.gifPixelTable(
          s, graft.sources.GifSource.synthesizeGif(
            s, t(s, dir, "documents")))
        .orderBy("doc_id", "frame"),
      Some(
        """WITH d AS (SELECT doc_id, 16 + (doc_id % 5) * 4 AS w,
          |             12 + (doc_id % 3) * 4 AS h, doc_id % 2 + 1 AS nf
          |           FROM documents),
          |f AS (SELECT doc_id, unnest(range(0, nf)) AS frame, w, h FROM d),
          |g AS (SELECT doc_id, frame,
          |        CASE WHEN frame = 0 THEN w ELSE w - 4 END AS fw,
          |        CASE WHEN frame = 0 THEN h ELSE h - 2 END AS fh
          |      FROM f),
          |px AS (SELECT doc_id, frame, fw, fh,
          |         unnest(range(0, fw * fh)) AS p FROM g),
          |v AS (SELECT doc_id, frame, fw, fh,
          |        CAST((doc_id + frame + 3 * (p % fw) + 7 * (p // fw)) % 16
          |          AS INT) AS i
          |      FROM px)
          |SELECT doc_id, CAST(frame AS INT) AS frame,
          |  CAST(any_value(fw) AS INT) AS w,
          |  CAST(any_value(fh) AS INT) AS h,
          |  CAST(frame AS INT) AS interlaced,
          |  CAST(sum(i * 15 + (i * 9) % 128 + 255 - i * 10) AS BIGINT)
          |    AS rgb_sum
          |FROM v GROUP BY doc_id, frame ORDER BY doc_id, frame""".stripMargin)),

    // TIFF walk (sources/TiffSource) — the fifth image family, and the
    // standalone home of the IFD tag grammar x95 parses inside JPEG's
    // EXIF: both byte orders, IFD chains, strip layout. DuckDB
    // re-derives every fact from doc_id arithmetic; TiffSpec pins
    // interop BOTH ways against the JDK ImageIO TIFF plugin across
    // four codecs.
    "x115_tiff_meta" -> QueryDef(
      (s, dir) => graft.sources.TiffSource.tiffTable(
          s, graft.sources.TiffSource.synthesizeTiff(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, 24 + (doc_id % 4) * 8 AS w,
          |             10 + (doc_id % 5) * 2 AS h,
          |             CASE WHEN doc_id % 7 = 5 THEN 1 ELSE 0 END AS tiled
          |           FROM documents)
          |SELECT doc_id, 'II' AS endian,
          |  CAST(CASE WHEN doc_id % 11 = 6 THEN 2 ELSE 1 END AS INT)
          |    AS n_pages,
          |  CAST(w AS INT) AS w, CAST(h AS INT) AS h,
          |  CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 32773
          |    ELSE 5 END AS INT) AS compression,
          |  CAST(1 AS INT) AS spp,
          |  CAST(CASE WHEN tiled = 1 THEN 16 ELSE 4 END AS INT)
          |    AS rows_per_strip,
          |  CAST(CASE WHEN tiled = 1
          |    THEN ((w + 15) // 16) * ((h + 15) // 16)
          |    ELSE (h + 3) // 4 END AS INT) AS n_strips,
          |  CAST(tiled AS INT) AS is_tiled
          |FROM d ORDER BY doc_id""".stripMargin)),

    // TIFF pixel decode (x116): the three fixture codecs — uncompressed
    // strips, PackBits RLE, and TIFF-LZW (MSB-first bits, early-change
    // width schedule, dictionary resets) — must all land the identical
    // pixel arithmetic; strips have NO checksum, so decoded VALUES are
    // the only integrity check (the ORC discipline).
    "x116_tiff_pixels" -> QueryDef(
      (s, dir) => graft.sources.TiffSource.tiffPixelTable(
          s, graft.sources.TiffSource.synthesizeTiff(
            s, t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, 24 + (doc_id % 4) * 8 AS w,
          |             10 + (doc_id % 5) * 2 AS h FROM documents),
          |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM d)
          |SELECT doc_id, CAST(any_value(w) AS INT) AS w,
          |  CAST(any_value(h) AS INT) AS h,
          |  CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 32773
          |    ELSE 5 END AS INT) AS compression,
          |  CAST(sum((doc_id + 5 * (p % w) + 11 * (p // w)) % 256)
          |    + CASE WHEN doc_id % 11 = 6
          |        THEN sum((3 * doc_id + 7 * (p % w) + 13 * (p // w)) % 256)
          |        ELSE 0 END
          |    AS BIGINT) AS px_sum
          |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ORC tail read via our own PROTOBUF decoder (sources/OrcFooter) —
    // the data-lake container family's fourth member (thrift-compact
    // x96, avro binary x98, now protobuf): postscript, zlib chunk-framed
    // footer (3-byte little-endian headers, raw deflate), varint keys,
    // zigzag sint64 int statistics, stats matched to columns BY NAME
    // through the root struct's fieldNames. Files are written by SPARK's
    // ORC writer (official bytes — there is no writer of ours to read);
    // DuckDB re-derives the counts and l_partkey min/max/sum from the
    // source table, so a varint/zigzag/chunk-framing slip fails the
    // hash. The parser cross-checks stripe row sums against the footer
    // total internally.
    "x105_orc_footer" -> QueryDef(
      (s, dir) => graft.sources.OrcFooter.orcFooterTable(s, dir),
      Some(
        """SELECT l_returnflag, 'zlib' AS compression,
          |  CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(1 + (SELECT count(*) FROM (DESCRIBE lineitem)) AS INT)
          |    AS n_types,
          |  CAST(1 AS INT) AS n_stripes,
          |  CAST(count(*) AS BIGINT) AS pk_values,
          |  CAST(min(l_partkey) AS BIGINT) AS pk_min,
          |  CAST(max(l_partkey) AS BIGINT) AS pk_max,
          |  CAST(sum(l_partkey) AS BIGINT) AS pk_sum
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)),

    // Community detection #2 (beyond x51's seeded label propagation):
    // synchronous Louvain phase-1 over the co-purchase graph — the
    // standard modularity-driven community pass, in the all-nodes-at-once
    // form a shuffle engine can run. The move comparator is the classical
    // ΔQ multiplied through by (2m)²: score(i→c) = 2m·k(i,c) − k_i·Σtot'(c),
    // ALL LONGS (the cross-engine integer discipline — no float appears
    // on either engine), ties to the smaller community id. The oracle
    // unrolls both rounds: round 1 against singleton communities
    // (Σtot = k), round 2 against the round-1 assignment, bit-for-bit
    // the same argmax.
    "x97_louvain" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
        Graph.louvainSync(
            pc.select(col("pa").as("src"), col("pb").as("dst")), rounds = 2)
          .orderBy("node")
      },
      Some("""WITH op AS (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS (
             |  SELECT a.pk AS pa, b.pk AS pb
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |e AS (SELECT pa AS src, pb AS dst FROM pc
             |      UNION ALL SELECT pb AS src, pa AS dst FROM pc),
             |deg AS (SELECT src AS node, count(*) AS k FROM e GROUP BY src),
             |m2 AS (SELECT CAST(sum(k) AS BIGINT) AS v FROM deg),
             |w1 AS (SELECT e.src AS i, e.dst AS c, count(*) AS w
             |       FROM e GROUP BY e.src, e.dst),
             |cand1 AS (SELECT i, c, max(w) AS w FROM (
             |    SELECT i, c, w FROM w1
             |    UNION ALL SELECT node AS i, node AS c, 0 AS w FROM deg)
             |  GROUP BY i, c),
             |s1 AS (SELECT cand1.i AS i, cand1.c AS c,
             |    (SELECT v FROM m2) * w - di.k *
             |      (dc.k - CASE WHEN cand1.c = cand1.i THEN di.k
             |        ELSE 0 END) AS score
             |  FROM cand1
             |  JOIN deg dc ON dc.node = cand1.c
             |  JOIN deg di ON di.node = cand1.i),
             |comm1 AS (SELECT i AS node, c AS community FROM (
             |    SELECT i, c, row_number() OVER (PARTITION BY i
             |      ORDER BY score DESC, c) AS rn FROM s1) WHERE rn = 1),
             |cd2 AS (SELECT c1.community AS c, sum(deg.k) AS ctot
             |  FROM comm1 c1 JOIN deg ON deg.node = c1.node
             |  GROUP BY c1.community),
             |w2 AS (SELECT e.src AS i, c1.community AS c, count(*) AS w
             |  FROM e JOIN comm1 c1 ON c1.node = e.dst
             |  GROUP BY e.src, c1.community),
             |cand2 AS (SELECT i, c, max(w) AS w FROM (
             |    SELECT i, c, w FROM w2
             |    UNION ALL SELECT node AS i, community AS c, 0 AS w
             |    FROM comm1)
             |  GROUP BY i, c),
             |s2 AS (SELECT cand2.i AS i, cand2.c AS c,
             |    (SELECT v FROM m2) * w - di.k *
             |      (cd2.ctot - CASE WHEN cand2.c = cu.community THEN di.k
             |        ELSE 0 END) AS score
             |  FROM cand2
             |  JOIN cd2 ON cd2.c = cand2.c
             |  JOIN deg di ON di.node = cand2.i
             |  JOIN comm1 cu ON cu.node = cand2.i),
             |comm2 AS (SELECT i AS node, c AS community FROM (
             |    SELECT i, c, row_number() OVER (PARTITION BY i
             |      ORDER BY score DESC, c) AS rn FROM s2) WHERE rn = 1)
             |SELECT node, CAST(community AS BIGINT) AS community
             |FROM comm2 ORDER BY node""".stripMargin)),

    // MIS dedup survivors — Luby's maximal independent set with
    // deterministic md5 priorities (Graph.maximalIndependentSet) on the
    // near-dup CONFLICT graph (docs sharing ≥3 3-word shingles): keep a
    // maximal set of mutually non-duplicate docs — the alternative to
    // x10's keep-one-per-component that keeps MORE data (one survivor
    // per conflict NEIGHBORHOOD, not per transitive cluster: A~B~C with
    // A!~C keeps A and C, where components keep only A). Status after 3
    // capped rounds is the gate (x70 discipline): 1 = kept, 2 = dropped,
    // 0 = still contended; isolated docs never enter the graph and are
    // trivially kept. The oracle unrolls all three rounds with the same
    // 48-bit md5 priorities. The pair build caps shingle document
    // frequency at 64 (the Dedup.maxBucket discipline): a shingle shared
    // by >64 docs is boilerplate, not near-dup evidence, and an uncapped
    // self-join on it is the quadratic hot-key blowup SCALE.md §2 bans —
    // one window on the join key drops it BEFORE any pair materializes.
    "x80_mis_survivors" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sh = t(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.operators.Dedup.shingles(col("text"), 3))
              .as("shingle"))
          .distinct()
          .withColumn("df",
            count(lit(1)).over(Window.partitionBy("shingle")))
          .filter(col("df").between(2, 64)) // df=1 shingles pair with
          // nothing — the pair stage never sees them (same result)
        // pair stage via the codegen'd pair_encode kernel (r22): bucket
        // the ≤64 posting ids per shingle and emit each unordered pair
        // ONCE — the previous sh⋈sh self-join sorted/shuffled the
        // posting list twice and generated the d² cross product before
        // the doc_id < doc_id filter (the Dedup.ngramJaccard idiom,
        // identical pair multiset)
        val pairs = sh.groupBy("shingle")
          .agg(collect_list(col("doc_id")).as("ids"))
          .select(explode(
            graft.functions.SketchFunctions.pairEncode(col("ids"))).as("pk"))
          .groupBy(col("pk.a").as("u"), col("pk.b").as("v"))
          .agg(count(lit(1)).as("c"))
          .filter(col("c") >= 3)
        val edges = pairs.select(explode(array(
            struct(col("u").as("src"), col("v").as("dst")),
            struct(col("v").as("src"), col("u").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        graft.operators.Graph.maximalIndependentSet(edges, rounds = 3)
          .orderBy("node")
      },
      Some {
        def prio(expr: String) =
          "list_reduce(list_transform(range(1, 13), j -> " +
            "CAST(strpos('0123456789abcdef', " +
            s"substr(md5($expr), j, 1)) - 1 AS BIGINT)), " +
            "(a, b) -> a * 16 + b)"
        val rounds = (1 to 3).map { r =>
          val prev = r - 1
          val act =
            if (r == 1) "SELECT node FROM nodes"
            else s"""SELECT node FROM a$prev
               | WHERE node NOT IN (SELECT node FROM w$prev)
               |   AND node NOT IN (SELECT node FROM x$prev)""".stripMargin
          s"""a$r AS MATERIALIZED ($act),
             |p$r AS MATERIALIZED (
             |  SELECT node, ${prio(s"'$r:' || CAST(node AS VARCHAR)")} AS p
             |  FROM a$r),
             |m$r AS (
             |  SELECT e.src AS node, max(pd.p) AS mx
             |  FROM e JOIN p$r ps ON ps.node = e.src
             |  JOIN p$r pd ON pd.node = e.dst
             |  GROUP BY e.src),
             |w$r AS MATERIALIZED (
             |  SELECT p$r.node FROM p$r LEFT JOIN m$r USING (node)
             |  WHERE m$r.mx IS NULL OR p$r.p > m$r.mx),
             |x$r AS MATERIALIZED (
             |  SELECT DISTINCT e.dst AS node
             |  FROM e JOIN w$r ON w$r.node = e.src
             |  WHERE e.dst IN (SELECT node FROM a$r))""".stripMargin
        }.mkString(",\n")
        s"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
           |  FROM documents),
           |idx AS (
           |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
           |  FROM toks WHERE len(t) >= 3),
           |sh AS (
           |  SELECT doc_id, shingle FROM (
           |    SELECT doc_id, shingle,
           |      count(*) OVER (PARTITION BY shingle) AS df
           |    FROM (SELECT DISTINCT doc_id,
           |      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           |      FROM idx))
           |  WHERE df <= 64),
           |pr AS (
           |  SELECT a.doc_id AS u, b.doc_id AS v
           |  FROM sh a JOIN sh b
           |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2 HAVING count(*) >= 3),
           |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM pr
           |     UNION ALL SELECT v AS src, u AS dst FROM pr),
           |nodes AS (SELECT DISTINCT src AS node FROM e),
           |$rounds
           |SELECT nodes.node,
           |  CASE WHEN node IN (SELECT node FROM w1
           |         UNION SELECT node FROM w2 UNION SELECT node FROM w3)
           |       THEN 1
           |       WHEN node IN (SELECT node FROM x1
           |         UNION SELECT node FROM x2 UNION SELECT node FROM x3)
           |       THEN 2
           |       ELSE 0 END AS status
           |FROM nodes ORDER BY node""".stripMargin
      }),

    // 3-truss of the co-purchase graph (2 capped peels) — the cohesion
    // core k-core can't see: an edge survives only if it closes a
    // triangle with other SURVIVORS, so hub spokes and bridges (high
    // degree, no mutual support — exactly what co-purchase noise looks
    // like) peel away while genuinely cohesive product groups remain.
    // Per round one wedge join (x52 shape) + per-edge support count;
    // output is each surviving edge with the support the final peel
    // decided on. Oracle unrolls both peels.
    "x81_ktruss" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
          .select(col("pa").as("u"), col("pb").as("v"))
        graft.operators.Graph.ktruss(pc, k = 3, rounds = 2)
          .orderBy("u", "v")
      },
      Some("""WITH op AS MATERIALIZED (
             |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |pc AS MATERIALIZED (
             |  SELECT a.pk AS u, b.pk AS v
             |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
             |b0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pc
             |      UNION ALL SELECT v AS src, u AS dst FROM pc),
             |s1 AS MATERIALIZED (
             |  SELECT pc.u, pc.v, count(*) AS c
             |  FROM pc
             |  JOIN b0 x ON x.src = pc.u
             |  JOIN b0 y ON y.src = pc.v AND y.dst = x.dst
             |  GROUP BY 1, 2),
             |e1 AS MATERIALIZED (SELECT u, v FROM s1 WHERE c >= 1),
             |b1 AS MATERIALIZED (SELECT u AS src, v AS dst FROM e1
             |      UNION ALL SELECT v AS src, u AS dst FROM e1),
             |s2 AS (
             |  SELECT e1.u, e1.v, count(*) AS c
             |  FROM e1
             |  JOIN b1 x ON x.src = e1.u
             |  JOIN b1 y ON y.src = e1.v AND y.dst = x.dst
             |  GROUP BY 1, 2)
             |SELECT u, v, CAST(c AS BIGINT) AS support
             |FROM s2 WHERE c >= 1 ORDER BY u, v""".stripMargin)),

    // Diameter lower bound by double sweep (the standard cheap
    // estimator: BFS from an anchor, then BFS from the farthest node
    // found — its eccentricity bounds the diameter from below) — the
    // "how many propagation rounds will label/rank passes need" sizing
    // question answered with TWO BFS runs instead of all-pairs. Both
    // sweeps are 4-hop-capped delta iterations (x70 discipline: the
    // gate's value is exact whether or not 4 hops reach the periphery);
    // anchor = min node id, argmax ties break to the min node — fully
    // deterministic. Output is one row; the oracle unrolls both sweeps.
    "x82_diameter" -> QueryDef(
      (s, dir) => {
        val pc = coPurchasePairs(s, dir)
        val e = pc.select(explode(array(
            struct(col("pa").as("src"), col("pb").as("dst")),
            struct(col("pb").as("src"), col("pa").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .localCheckpoint() // two sweeps + the anchor agg read it
        val anchor = e.agg(min(col("src")).as("source"))
        val sweep1 = Graph.bfs(e, anchor, maxDepth = 4)
        val far = sweep1.orderBy(desc("d"), col("node")).limit(1)
        val sweep2 = Graph.bfs(e,
          far.select(col("node").as("source")), maxDepth = 4)
        anchor.select(col("source").as("seed"))
          .crossJoin(sweep1.agg(max(col("d")).cast("long").as("ecc_seed")))
          .crossJoin(far.select(col("node").as("far_node")))
          .crossJoin(sweep2.agg(max(col("d")).cast("long")
            .as("diameter_lb")))
      },
      Some {
        def sweep(p: String, srcSel: String) = {
          val levels = (1 to 4).map { k =>
            s"""${p}f$k AS MATERIALIZED (
               |  SELECT DISTINCT e.dst AS node FROM e
               |  JOIN ${p}l${k - 1} ON ${p}l${k - 1}.node = e.src
               |  WHERE e.dst NOT IN (SELECT node FROM ${p}l${k - 1})),
               |${p}l$k AS (SELECT * FROM ${p}l${k - 1}
               |       UNION ALL SELECT node, $k AS d FROM ${p}f$k)"""
              .stripMargin
          }.mkString(",\n")
          s"""${p}l0 AS (SELECT $srcSel AS node, 0 AS d),
             |$levels""".stripMargin
        }
        s"""WITH op AS MATERIALIZED (
           |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |pc AS MATERIALIZED (
           |  SELECT a.pk AS pa, b.pk AS pb
           |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
           |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
           |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pc
           |      UNION ALL SELECT pb AS src, pa AS dst FROM pc),
           |${sweep("a", "(SELECT min(src) FROM e)")},
           |ecc1 AS (SELECT max(d) AS ecc FROM al4),
           |far1 AS (SELECT min(node) AS node FROM al4, ecc1
           |         WHERE d = ecc1.ecc),
           |${sweep("b", "(SELECT node FROM far1)")}
           |SELECT (SELECT min(src) FROM e) AS seed,
           |  CAST(ecc1.ecc AS BIGINT) AS ecc_seed,
           |  far1.node AS far_node,
           |  (SELECT CAST(max(d) AS BIGINT) FROM bl4) AS diameter_lb
           |FROM ecc1, far1""".stripMargin
      }),

    // Trending co-purchase degree — the time-sliced graph question
    // ("which parts are GAINING connectivity") that decides recency
    // weighting: distinct co-purchase partner count per part in each
    // order-date half, top movers by delta. Each half is one order-keyed
    // self-join + a partner-distinct agg (no pair thresholding — degree,
    // not edge weight); halves meet in ONE full-outer join on the part
    // key. The date literal is fixed (1998-01-01), so both engines slice
    // identically.
    "x83_trending" -> QueryDef(
      (s, dir) => {
        def halfDeg(pred: org.apache.spark.sql.Column) = {
          val op = broadcast(t(s, dir, "orders").filter(pred)
              .select(col("o_orderkey")))
            .join(t(s, dir, "lineitem")
                .select(col("l_orderkey"), col("l_partkey")),
              col("l_orderkey") === col("o_orderkey"))
            .select(col("o_orderkey").as("ok"), col("l_partkey").as("pk"))
            .distinct()
          // distinct partner count via the in-row pair kernel (r22): the
          // previous op⋈op self-join materialized every ordered partner
          // pair per order (n·(n−1) rows/order) and then paid
          // countDistinct's two-exchange expand. pair_encode emits each
          // unordered pair once per order; after a global pair distinct,
          // exploding both orientations and counting IS the distinct
          // partner count (one distinct partner per distinct pair) —
          // identical values, half the pair rows, no expand, no join.
          val prs = op.groupBy("ok")
            .agg(collect_list(col("pk")).as("items"))
            .select(explode(graft.functions.SketchFunctions
              .pairEncode(col("items"))).as("pr"))
            .select(col("pr.a").as("a"), col("pr.b").as("b"))
            .distinct()
          prs.select(explode(array(
              struct(col("a").as("part"), col("b").as("other")),
              struct(col("b").as("part"), col("a").as("other")))).as("e"))
            .groupBy(col("e.part").as("part"))
            .agg(count(lit(1)).as("deg"))
        }
        val h1 = halfDeg(col("o_orderdate") <
          to_timestamp(lit("1998-01-01")))
        val h2 = halfDeg(col("o_orderdate") >=
          to_timestamp(lit("1998-01-01")))
        h1.select(col("part"), col("deg").as("deg_h1"))
          .join(h2.select(col("part"), col("deg").as("deg_h2")),
            Seq("part"), "full_outer")
          .select(col("part"),
            coalesce(col("deg_h1"), lit(0L)).as("deg_h1"),
            coalesce(col("deg_h2"), lit(0L)).as("deg_h2"))
          .withColumn("delta", col("deg_h2") - col("deg_h1"))
          .orderBy(desc("delta"), col("part"))
          .limit(20)
      },
      Some("""WITH h1 AS (
             |  SELECT a.pk AS part, count(DISTINCT b.pk) AS deg
             |  FROM (SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |        WHERE o_orderdate < TIMESTAMP '1998-01-01') a
             |  JOIN (SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |        WHERE o_orderdate < TIMESTAMP '1998-01-01') b
             |    ON a.ok = b.ok AND a.pk <> b.pk
             |  GROUP BY a.pk),
             |h2 AS (
             |  SELECT a.pk AS part, count(DISTINCT b.pk) AS deg
             |  FROM (SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |        WHERE o_orderdate >= TIMESTAMP '1998-01-01') a
             |  JOIN (SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
             |        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |        WHERE o_orderdate >= TIMESTAMP '1998-01-01') b
             |    ON a.ok = b.ok AND a.pk <> b.pk
             |  GROUP BY a.pk)
             |SELECT coalesce(h1.part, h2.part) AS part,
             |  CAST(coalesce(h1.deg, 0) AS BIGINT) AS deg_h1,
             |  CAST(coalesce(h2.deg, 0) AS BIGINT) AS deg_h2,
             |  CAST(coalesce(h2.deg, 0) - coalesce(h1.deg, 0) AS BIGINT)
             |    AS delta
             |FROM h1 FULL OUTER JOIN h2 ON h2.part = h1.part
             |ORDER BY delta DESC, part LIMIT 20""".stripMargin))
  )
}
