package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.PortableHash
import graft.sources.Tables
import Parity._

/** Similarity search over the `embeddings` table (SURVEY.md §2.4).
  *
  * Exactness strategy: the embedding floats are quantized to 1e6-scaled
  * BIGINTs (`round(x*1e6)`) in BOTH engines, so dot products are exact
  * integer arithmetic — no cross-engine floating-point accumulation-order
  * ULP drift, which would break the driver's hash compare. The corpus
  * vectors are L2-normalized, so the integer dot IS the cosine scaled by
  * 1e12 (surfaced as `cosine = dot_q / 1e12`, the same double in both
  * engines since it derives from the same integer).
  *
  * Scale design (100 TB; see SCALE.md):
  *  - brute-force top-k broadcasts the (small) query set and scans the
  *    corpus ONCE; per-query top-k is a window over the scan — at cluster
  *    scale this is the "exact rerank" stage;
  *  - the recall stage is banded hyperplane LSH with a CORPUS-ADAPTIVE
  *    bucket space: [[AnnBands]] bands of up to [[MaxBandBits]] sign bits
  *    each; the bits actually used per band is
  *    k = clamp(bitLength(n / [[TargetOccupancy]]), [[MinBandBits]],
  *    [[MaxBandBits]]) — derived from count(*) INSIDE the plan (integer
  *    bit-length, no cross-engine transcendental risk), so the shuffle-key
  *    cardinality (bands × 2^k) grows with the corpus instead of being a
  *    constant. n=500 → 4×16 keys; n=5k → 4×256; n=10⁹ → 4×4096.
  *    Expected per-(band,bucket) occupancy stays in
  *    [TargetOccupancy, 2·TargetOccupancy), so the in-bucket pair
  *    expansion Σ_bucket n_b² stays LINEAR in n; a hard
  *    [[MaxBucketSize]] cap per (band, bucket) (deterministic: first N
  *    vec_ids) guards skewed/degenerate buckets, mirroring the Jaccard
  *    rerank's candidate cap.
  *  - banding trades precision for recall like the MinHash LSH: a near-dup
  *    pair needs ALL k sign bits of ONE band to agree (P ≈ (1−θ/π)^k per
  *    band, ≥1 of 4 bands), so recall concentrates on high-cosine pairs —
  *    exactly the near-dup regime.
  *  - the hyperplane weight matrix w(p,d) = hash60("p:d") % 2001 − 1000 is
  *    a CONSTANT (plane × dim grid): it is evaluated once at plan build
  *    ([[PortableHash.hash60Const]]) and baked into the plan as literal
  *    arrays, so the per-vector scores are a single zip_with/aggregate
  *    projection — no posexplode, no per-row md5, no shuffle to score.
  */
object Similarity {

  private val Dim = 64
  private val NumQueries = 8  // query set = vec_id < 8
  private val TopK = 5

  private val AnnBands = 4
  private val MaxBandBits = 12           // planes = AnnBands * MaxBandBits = 48
  private val MinBandBits = 4
  private val TargetOccupancy = 32       // aim for 32..64 vectors per bucket
  private val MaxBucketSize = 256        // hard skew guard per (band, bucket)
  private val NumPlanes = AnnBands * MaxBandBits

  /** transform(embedding) → 1e6-quantized BIGINT array (exact both engines:
    * float→double widening is exact, *1e6 is one IEEE op, round is
    * half-away-from-zero in both). */
  private val quantizeExpr =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
  private def sqlQuantElem(list: String, idx: String): String =
    s"CAST(round(CAST(list_extract($list, $idx) AS DOUBLE) * 1000000) AS BIGINT)"

  /** Brute-force exact top-k cosine: broadcast the query set, one corpus
    * scan, integer dot via the native long_dot codegen expression (one
    * tight loop over the columnar buffers — the interpreted
    * aggregate(zip_with(...)) chain costs ~2 lambda evals per element),
    * per-query top-k window. */
  private val qCosineTopk = QueryDef(
    "q_cosine_topk",
    Some(s"""
      |WITH pairs AS (
      |  SELECT q.vec_id AS query_id, v.vec_id AS cand_id,
      |    CAST(sum(${sqlQuantElem("q.embedding", "CAST(t.i AS INT)")}
      |      * ${sqlQuantElem("v.embedding", "CAST(t.i AS INT)")}) AS BIGINT) AS dot_q
      |  FROM (SELECT * FROM embeddings WHERE vec_id < $NumQueries) q,
      |       embeddings v,
      |       (SELECT unnest(range(1, ${Dim + 1})) AS i) t
      |  WHERE v.vec_id <> q.vec_id
      |  GROUP BY query_id, cand_id),
      |ranked AS (
      |  SELECT query_id, cand_id, dot_q,
      |    row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, cand_id) AS rnk
      |  FROM pairs)
      |SELECT query_id, rnk, cand_id, dot_q, CAST(dot_q AS DOUBLE) / 1e12 AS cosine
      |FROM ranked WHERE rnk <= $TopK ORDER BY query_id, rnk
      |""".stripMargin.trim),
    (spark, dir) => {
      val emb = tblWide(spark, dir, "embeddings")
        .select(col("vec_id"), expr(quantizeExpr).as("qv"))
      val q = emb.select(col("vec_id").as("query_id"), col("qv").as("qvec"))
        .filter(col("query_id") < NumQueries)
      val pairs = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          call_function("long_dot", col("qvec"), col("qv")).as("dot_q"))
      val w = Window.partitionBy("query_id").orderBy(desc("dot_q"), asc("cand_id"))
      pairs.select(col("query_id"), col("cand_id"), col("dot_q"),
          row_number().over(w).cast("long").as("rnk"))
        .filter(col("rnk") <= TopK)
        .select(col("query_id"), col("rnk"), col("cand_id"), col("dot_q"),
          (col("dot_q").cast("double") / lit(1e12)).as("cosine"))
        .orderBy("query_id", "rnk")
    })

  // ---- hyperplane weight matrix: constant (plane, dim) grid, plan-time ----
  private def planeWeight(p: Int, d: Int): Long =
    PortableHash.hash60Const(s"$p:$d") % 2001 - 1000
  private def weightRow(p: Int): Seq[Long] = (1 to Dim).map(d => planeWeight(p, d))
  private def sqlWeightList(p: Int): String =
    weightRow(p).mkString("[", ", ", "]")

  /** sp_p for the oracle: integer dot of the quantized vector against the
    * literal weight row (same literals the Spark plan bakes in). */
  private def sqlPlaneScore(p: Int): String =
    s"list_sum(list_transform(range(1, ${Dim + 1}), i -> " +
      s"list_extract(qv, CAST(i AS INT)) * list_extract(${sqlWeightList(p)}, CAST(i AS INT))))"
  private def sqlBandBits(j: Int): String =
    (0 until MaxBandBits).map { b =>
      s"(CASE WHEN ${sqlPlaneScore(j * MaxBandBits + b)} > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n      + ")

  /** The LSH chain AFTER qvt (scores/params/bk) — qvt-generic so the
    * clustered-corpus recall query can feed its own derived qvt. params
    * counts qvt itself (same count as the base table when qvt is the
    * plain quantization, the clustered total otherwise — the band width
    * k must adapt to the corpus actually being bucketed). */
  private val sqlBkAfterQvt: String = {
    val bitsCols = (0 until AnnBands)
      .map(j => s"${sqlBandBits(j)} AS bits$j").mkString(",\n    ")
    val branches = (0 until AnnBands).map { j =>
      s"SELECT vec_id, CAST($j AS BIGINT) AS band, CAST(bits$j % (1 << k) AS BIGINT) AS bucket FROM scores, params"
    }.mkString("\n  UNION ALL ")
    s"""scores AS (SELECT vec_id, qv,
    $bitsCols
  FROM qvt),
params AS (SELECT greatest($MinBandBits, least($MaxBandBits,
    length(bin(CAST(count(*) AS BIGINT) // $TargetOccupancy)))) AS k FROM qvt),
bk AS (
  $branches)"""
  }

  /** Shared oracle CTE chain ending in bk(vec_id, band, bucket). */
  private val sqlBk: String =
    s"""qvt AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings),
$sqlBkAfterQvt"""

  /** Corpus-adaptive band-bit width k, derived in-plan (1-row frame):
    * bit-length of n/TargetOccupancy via bin() string length — exact
    * integer arithmetic in both engines, no log2 ULP risk. Counts the
    * qvt frame actually being bucketed (oracle: params FROM qvt). */
  private def annParamsOver(qvt: DataFrame): DataFrame =
    qvt.agg(count(lit(1)).as("n"))
      .select(greatest(lit(MinBandBits), least(lit(MaxBandBits),
        length(bin(expr(s"n div $TargetOccupancy"))))).as("k"))

  /** (vec_id, band, bucket) assignment, [[AnnBands]] rows per vector.
    * Scores are one codegen projection (zip_with against literal weight
    * rows); the only shuffle in this frame is the broadcast of the 1-row
    * params. The low-k masking computes all [[MaxBandBits]] sign bits and
    * keeps k — the price of a static column list; at production corpus
    * sizes k = MaxBandBits and nothing is wasted. */
  private def annBuckets(spark: SparkSession, dir: String): DataFrame =
    annBucketsOver(tblWide(spark, dir, "embeddings")
      .select(col("vec_id"), expr(quantizeExpr).as("qv")))

  /** [[annBuckets]] over any (vec_id, qv) frame — the clustered-corpus
    * recall query derives its corpus instead of reading the table. */
  private def annBucketsOver(qvt: DataFrame): DataFrame = {
    val spCols = (0 until NumPlanes).map { p =>
      call_function("long_dot", col("qv"), typedlit(weightRow(p))).as(s"sp$p")
    }
    val scores = qvt.select(col("vec_id") +: spCols: _*)
    val bitCols = (0 until AnnBands).map { j =>
      (0 until MaxBandBits).map { b =>
        when(col(s"sp${j * MaxBandBits + b}") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"bits$j")
    }
    scores.select(col("vec_id") +: bitCols: _*)
      .crossJoin(broadcast(annParamsOver(qvt)))
      .select(col("vec_id"), explode(array((0 until AnnBands).map { j =>
        struct(lit(j.toLong).as("band"),
          expr(s"CAST(bits$j % shiftleft(1, k) AS BIGINT)").as("bucket"))
      }: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  private val qAnnBuckets = QueryDef(
    "q_ann_buckets",
    Some(s"WITH $sqlBk\nSELECT vec_id, band, bucket FROM bk ORDER BY vec_id, band"),
    (spark, dir) => annBuckets(spark, dir).orderBy("vec_id", "band"))

  /** Bucket occupancy — the recall/efficiency view of the ANN index
    * (how much of the corpus a single-bucket probe scans). `n_dropped`
    * surfaces the [[MaxBucketSize]] skew cap's cost per cell (the rows
    * q_neardup_bucketed's capped stage deterministically excludes) — the
    * "no silent caps" rule applied to the index itself: a nonzero total
    * here is measured recall loss, not an invisible truncation. 0 at
    * every bench SF (occupancy is corpus-adaptive, see the header). */
  private val qAnnBucketStats = QueryDef(
    "q_ann_bucket_stats",
    Some(s"""WITH $sqlBk
SELECT band, bucket, count(*) AS n_vecs, min(vec_id) AS min_vec,
  greatest(count(*) - $MaxBucketSize, 0) AS n_dropped
FROM bk GROUP BY band, bucket ORDER BY band, bucket"""),
    (spark, dir) =>
      annBuckets(spark, dir)
        .groupBy("band", "bucket")
        .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"),
          greatest(count(lit(1)) - MaxBucketSize, lit(0L)).as("n_dropped"))
        .orderBy("band", "bucket"))

  /** Array-function exhibit over the embedding column (size / index /
    * slice / transform / aggregate / max / contains) — all on 1e6-quantized
    * integers so every value is cross-engine exact. */
  private val qArrayFuncs = QueryDef(
    "q_array_funcs",
    Some(s"""
      |SELECT vec_id,
      |  CAST(len(embedding) AS BIGINT) AS dim,
      |  ${sqlQuantElem("embedding", "1")} AS q_first,
      |  ${sqlQuantElem("embedding", "CAST(len(embedding) AS INT)")} AS q_last,
      |  CAST(list_sum(list_transform(embedding[1:8], x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT))) AS BIGINT) AS q_head_sum,
      |  CAST(list_max(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT))) AS BIGINT) AS q_max,
      |  CAST(list_contains(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)), 0) AS BIGINT) AS has_zero
      |FROM embeddings ORDER BY vec_id
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "embeddings")
        .select(col("vec_id"), expr(quantizeExpr).as("qv"), col("embedding"))
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("qv"), 1).as("q_first"),
          element_at(col("qv"), size(col("qv"))).as("q_last"),
          expr("aggregate(slice(qv, 1, 8), 0L, (acc, v) -> acc + v)").as("q_head_sum"),
          array_max(col("qv")).as("q_max"),
          array_contains(col("qv"), 0L).cast("long").as("has_zero"))
        .orderBy("vec_id"))

  /** Embedding near-dup search, recall + rerank COMPOSED: candidate pairs
    * come only from shared (band, bucket) LSH cells — grouped higher-order
    * pair expansion per cell (NO self-join: Spark would not reuse the
    * bucket pipeline's exchange across a self-join's two sides, so the
    * join formulation paid the whole scoring pipeline twice), capped at
    * [[MaxBucketSize]] vectors per cell (deterministic skew guard; at
    * scale the cap is what bounds a degenerate bucket, like the Jaccard
    * rerank's candidate cap — its per-cell drop count is surfaced as
    * q_ann_bucket_stats.n_dropped, measured 0 at every bench SF, so the
    * cap currently costs zero recall), deduped across bands, then exact integer
    * cosine reranks each unordered pair ONCE and each vector reports its
    * nearest bucket-mate. The shuffle keys are (band, bucket) — corpus-
    * adaptive cardinality, see the header — and vec_id for the rerank
    * joins: nothing in the plan has constant-bounded parallelism. */
  private val qNeardupBucketed = QueryDef(
    "q_neardup_bucketed",
    Some(s"""WITH $sqlBk,
capped AS (
  SELECT vec_id, band, bucket FROM bk
  QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) <= $MaxBucketSize),
cand AS (
  SELECT DISTINCT a.vec_id AS qa, b.vec_id AS vb
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
dots AS (
  SELECT c.qa, c.vb,
    CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
      list_extract(x.qv, CAST(i AS INT)) * list_extract(y.qv, CAST(i AS INT)))) AS BIGINT) AS dot_q
  FROM cand c JOIN qvt x ON x.vec_id = c.qa JOIN qvt y ON y.vec_id = c.vb),
mirrored AS (SELECT qa, vb, dot_q FROM dots UNION ALL SELECT vb AS qa, qa AS vb, dot_q FROM dots)
SELECT qa AS vec_id, vb AS nn_id, dot_q, CAST(dot_q AS DOUBLE) / 1e12 AS cosine
FROM mirrored
QUALIFY row_number() OVER (PARTITION BY qa ORDER BY dot_q DESC, vb) = 1
ORDER BY vec_id"""),
    (spark, dir) => {
      val wcap = Window.partitionBy("band", "bucket").orderBy("vec_id")
      val capped = annBuckets(spark, dir)
        .withColumn("rnb", row_number().over(wcap))
        .filter(col("rnb") <= MaxBucketSize)
      // same partitioning as the window → the groupBy adds no exchange
      val cand = capped
        .groupBy("band", "bucket")
        .agg(sort_array(collect_list(col("vec_id"))).as("vs"))
        .filter(size(col("vs")) > 1)
        .select(explode(expr(
          """flatten(transform(vs, (x, i) ->
            |  transform(slice(vs, i + 2, size(vs)), y ->
            |    struct(x AS qa, y AS vb))))""".stripMargin)).as("p"))
        .select(col("p.qa").as("qa"), col("p.vb").as("vb"))
        .distinct()
      val emb = tblWide(spark, dir, "embeddings")
        .select(col("vec_id"), expr(quantizeExpr).as("qv"))
      val dots = cand
        .join(emb.select(col("vec_id").as("qa"), col("qv").as("qva")), "qa")
        .join(emb.select(col("vec_id").as("vb"), col("qv").as("qvb")), "vb")
        .select(col("qa"), col("vb"),
          call_function("long_dot", col("qva"), col("qvb")).as("dot_q"))
      val both = dots.select("qa", "vb", "dot_q")
        .union(dots.select(col("vb").as("qa"), col("qa").as("vb"), col("dot_q")))
      val w = Window.partitionBy("qa").orderBy(desc("dot_q"), asc("vb"))
      both.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("qa").as("vec_id"), col("vb").as("nn_id"), col("dot_q"),
          (col("dot_q").cast("double") / lit(1e12)).as("cosine"))
        .orderBy("vec_id")
    })

  /** TRIPLET MINING for contrastive training — per anchor, the hardest
    * negatives (different label, MOST similar) and hardest positives
    * (same label, LEAST similar): the pair-selection job every
    * embedding-model training pipeline runs over its corpus
    * (semi-hard mining, Schroff et al. 2015 FaceNet shape). Exact
    * integer-quantized cosine (the q_cosine_topk discipline) so the
    * ranking is engine-portable.
    *
    * Scale shape: the anchor set broadcasts (the corpus NEVER shuffles
    * for the scoring join — q_cosine_topk's 0.05× shuffle ratio at 72×),
    * and both mining directions ride ONE window pass: kind joins the
    * partition key and the sort key flips sign by kind (negate the dot
    * for negatives), so there is no second scan and no union of two
    * window branches. WindowGroupLimit prunes to top-k candidates before
    * the exchange. */
  private val qHardNegatives = QueryDef(
    "q_hard_negatives",
    Some(s"""
      |WITH pairs AS (
      |  SELECT q.vec_id AS anchor_id, q.label AS a_label,
      |    v.vec_id AS cand_id, v.label AS label,
      |    CAST(sum(${sqlQuantElem("q.embedding", "CAST(t.i AS INT)")}
      |      * ${sqlQuantElem("v.embedding", "CAST(t.i AS INT)")}) AS BIGINT) AS dot_q
      |  FROM (SELECT * FROM embeddings WHERE vec_id < $NumQueries) q,
      |       embeddings v,
      |       (SELECT unnest(range(1, ${Dim + 1})) AS i) t
      |  WHERE v.vec_id <> q.vec_id
      |  GROUP BY 1, 2, 3, 4),
      |neg AS (SELECT anchor_id, 'neg' AS kind, cand_id, dot_q,
      |    row_number() OVER (PARTITION BY anchor_id ORDER BY dot_q DESC, cand_id) AS rnk
      |  FROM pairs WHERE label <> a_label),
      |pos AS (SELECT anchor_id, 'pos' AS kind, cand_id, dot_q,
      |    row_number() OVER (PARTITION BY anchor_id ORDER BY dot_q ASC, cand_id) AS rnk
      |  FROM pairs WHERE label = a_label)
      |SELECT anchor_id, kind, CAST(rnk AS BIGINT) AS rnk, cand_id, dot_q,
      |  CAST(dot_q AS DOUBLE) / 1e12 AS cosine
      |FROM (SELECT * FROM neg UNION ALL SELECT * FROM pos)
      |WHERE rnk <= $TopK ORDER BY anchor_id, kind, rnk
      |""".stripMargin.trim),
    (spark, dir) => {
      // a NULL label can be neither a positive nor a negative: the
      // oracle's label <> a_label / label = a_label predicates drop such
      // rows from BOTH windows, so the engine filters them explicitly
      // (when/otherwise would otherwise route the null comparison to 'neg')
      val emb = tblWide(spark, dir, "embeddings")
        .filter(col("label").isNotNull)
        .select(col("vec_id"), col("label"), expr(quantizeExpr).as("qv"))
      val anchors = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
          col("qv").as("avec"))
      val w = Window.partitionBy("anchor_id", "kind")
        .orderBy(asc("ord"), asc("cand_id"))
      emb.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
        .select(col("anchor_id"),
          when(col("label") === col("a_label"), "pos").otherwise("neg")
            .as("kind"),
          col("vec_id").as("cand_id"),
          call_function("long_dot", col("avec"), col("qv")).as("dot_q"))
        // one window for both directions: hardest negative = max dot,
        // hardest positive = min dot — flip the sign for negatives
        .withColumn("ord",
          when(col("kind") === "neg", -col("dot_q")).otherwise(col("dot_q")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= TopK)
        .select(col("anchor_id"), col("kind"), col("rnk"), col("cand_id"),
          col("dot_q"),
          (col("dot_q").cast("double") / lit(1e12)).as("cosine"))
        .orderBy("anchor_id", "kind", "rnk")
    })

  // =========================================================================
  // IVF (inverted-file) ANN — the second scale path next to hyperplane LSH
  // =========================================================================
  //
  // Index layout: the corpus is partitioned into Voronoi cells around C
  // centroids; a query probes only its NProbe nearest cells. Design for
  // 100 TB (see SCALE.md):
  //  - SEED SELECTION (index build, one-off): the C seeds are the vectors
  //    with the smallest md5-derived hash of vec_id — a deterministic
  //    uniform sample standing in for k-means (k-means++ iterations are an
  //    offline training job in production; what the ENGINE must get right
  //    is the probe path). The candidate pool is top-[[IvfSeedPool]] by
  //    hash = TakeOrderedAndProject (per-partition heap, no global sort);
  //    the window that ranks seeds runs on ≤ 64 rows.
  //  - C is CORPUS-ADAPTIVE: clamp(n / [[IvfTargetCell]], 4, 64) derived
  //    from count(*) inside the plan, so cells stay ~IvfTargetCell-sized as
  //    the corpus grows (until the static pool cap; production would raise
  //    both with one constant).
  //  - ASSIGNMENT is ZERO-shuffle: the ≤64 centroids collapse to ONE row
  //    (collect_list), broadcast, and every vector computes its C dots and
  //    the argmax in a single codegen projection over nested higher-order
  //    functions — no explode, no per-vector window, no shuffle. At 100 TB
  //    this is a map-only pass over the corpus.
  //  - PROBE: the query set explodes its per-cell scores (NumQueries × C
  //    rows — tiny), takes NProbe cells per query, equi-joins cell ids
  //    against the assignment, and exact integer cosine reranks. Each
  //    vector lives in exactly ONE cell (unlike the multi-band LSH), so
  //    candidates need no dedup.

  private val IvfSeedPool = 64
  private val IvfMinC = 4
  private val IvfMaxC = 64          // = IvfSeedPool: every pooled seed usable
  private val IvfTargetCell = 64    // aim for ~64 vectors per cell
  private val IvfNProbe = 2

  private val sqlHash60VecId =
    "CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"

  private val sqlQvt: String = s"""
qvt AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings)"""

  /** IVF oracle CTE chain (everything after qvt), ending in
    * scored(vec_id, qv, sc) and assign(vec_id, qv, cid, dot_c) —
    * kept qvt-free so it composes with the LSH chain in q_ann_recall. */
  private val sqlIvfAfterQvt: String = s"""
ivf_params AS (SELECT greatest($IvfMinC, least($IvfMaxC,
    CAST(count(*) AS BIGINT) // $IvfTargetCell)) AS c FROM qvt),
seedpool AS (
  SELECT vec_id, qv, $sqlHash60VecId AS hp FROM qvt
  QUALIFY row_number() OVER (ORDER BY $sqlHash60VecId, vec_id) <= $IvfSeedPool),
cents AS (
  SELECT cid, cv FROM (
    SELECT CAST(row_number() OVER (ORDER BY hp, vec_id) AS BIGINT) AS cid, qv AS cv
    FROM seedpool), ivf_params
  WHERE cid <= c),
centarr AS (SELECT list(struct_pack(cid := cid, cv := cv) ORDER BY cid) AS cl FROM cents),
scored AS (
  SELECT vec_id, qv,
    list_transform(cl, s -> struct_pack(
      cid := s.cid,
      dot := CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
        list_extract(qv, CAST(i AS INT)) * list_extract(s.cv, CAST(i AS INT)))) AS BIGINT))) AS sc
  FROM qvt, centarr),
assign AS (
  SELECT vec_id, qv,
    list_min(list_transform(list_filter(sc, s -> s.dot = best), s -> s.cid)) AS cid,
    best AS dot_c
  FROM (SELECT vec_id, qv, sc, list_max(list_transform(sc, s -> s.dot)) AS best FROM scored))"""

  /** Shared oracle CTE chain: qvt + the IVF pipeline. */
  private val sqlIvf: String = s"$sqlQvt,$sqlIvfAfterQvt"

  /** In-plan adaptive centroid count (1-row frame, broadcast) — counts
    * the qvt frame actually being indexed (oracle: ivf_params FROM qvt). */
  private def ivfParamsOver(qvt: DataFrame): DataFrame =
    qvt.agg(count(lit(1)).as("n"))
      .select(greatest(lit(IvfMinC.toLong), least(lit(IvfMaxC.toLong),
        expr(s"n div $IvfTargetCell"))).as("c"))

  /** The C centroids (cid, cv) — deterministic hash-min seed selection
    * over the corpus (see the IVF header note), corpus-adaptive C. */
  private def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    ivfCentroidsOver(tblWide(spark, dir, "embeddings")
      .select(col("vec_id"), expr(quantizeExpr).as("qv")))

  private def ivfCentroidsOver(qvt: DataFrame): DataFrame = {
    val seedpool = qvt
      .withColumn("hp", PortableHash.hash60(col("vec_id").cast("string")))
      .orderBy("hp", "vec_id").limit(IvfSeedPool)
    // ranking window runs on <= IvfSeedPool rows (post TakeOrdered) — the
    // single-partition window is bounded by the static pool cap, not by n
    val wseed = Window.orderBy("hp", "vec_id")
    seedpool
      .select(row_number().over(wseed).cast("long").as("cid"), col("qv").as("cv"))
      .crossJoin(broadcast(ivfParamsOver(qvt)))
      .filter(col("cid") <= col("c"))
      .select("cid", "cv")
  }

  /** (vec_id, qv, sc) where sc = per-centroid integer-dot scores — ONE
    * broadcast of the packed centroid array + one nested-HOF projection. */
  private def ivfScored(spark: SparkSession, dir: String): DataFrame =
    ivfScoredOver(tblWide(spark, dir, "embeddings")
      .select(col("vec_id"), expr(quantizeExpr).as("qv")))

  private def ivfScoredOver(qvt: DataFrame): DataFrame = {
    val centarr = ivfCentroidsOver(qvt)
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cl"))
    qvt.crossJoin(broadcast(centarr))
      .select(col("vec_id"), col("qv"),
        expr("transform(cl, s -> struct(s.cid AS cid, long_dot(qv, s.cv) AS dot))")
          .as("sc"))
  }

  /** scored + argmax cell: cid = smallest centroid id achieving the max
    * dot — still one projection, still zero shuffles. */
  private def ivfAssign(scored: DataFrame): DataFrame =
    scored
      .withColumn("best", expr("array_max(transform(sc, s -> s.dot))"))
      .select(col("vec_id"), col("qv"), col("sc"),
        expr("array_min(transform(filter(sc, s -> s.dot = best), s -> s.cid))").as("cid"),
        col("best").as("dot_c"))

  private val qIvfAssign = QueryDef(
    "q_ivf_assign",
    Some(s"WITH $sqlIvf\nSELECT vec_id, cid, dot_c FROM assign ORDER BY vec_id"),
    (spark, dir) =>
      ivfAssign(ivfScored(spark, dir))
        .select("vec_id", "cid", "dot_c").orderBy("vec_id"))

  /** Shared oracle for the IVF probe result — q_ivf_topk computes it with
    * the index inlined in-plan; q_ivf_probe computes the IDENTICAL result
    * reading the PERSISTED index tables (the index is deterministic, so
    * one SQL definition gates both paths). */
  private val sqlIvfTopkOracle = s"""WITH $sqlIvf,
probes AS (
  SELECT vec_id AS query_id, qv AS qqv, u.s.cid AS cid
  FROM (SELECT vec_id, qv, unnest(sc) AS s FROM scored WHERE vec_id < $NumQueries) u
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY u.s.dot DESC, u.s.cid) <= $IvfNProbe),
dots AS (
  SELECT p.query_id, a.vec_id AS cand_id,
    CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
      list_extract(p.qqv, CAST(i AS INT)) * list_extract(a.qv, CAST(i AS INT)))) AS BIGINT) AS dot_q
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id)
SELECT query_id, rnk, cand_id, dot_q, CAST(dot_q AS DOUBLE) / 1e12 AS cosine
FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, cand_id) AS BIGINT) AS rnk FROM dots)
WHERE rnk <= $TopK
ORDER BY query_id, rnk"""

  /** IVF-probed top-k: NProbe nearest cells per query, candidates from the
    * inverted file (cell equi-join), exact integer-cosine rerank. */
  private val qIvfTopk = QueryDef(
    "q_ivf_topk",
    Some(sqlIvfTopkOracle),
    (spark, dir) => {
      // one scored frame feeds both the probe side and the inverted file
      val assign = ivfAssign(ivfScored(spark, dir))
      val wprobe = Window.partitionBy("query_id").orderBy(desc("pdot"), asc("pcid"))
      val probes = assign
        .filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
          explode(col("sc")).as("s"))
        .select(col("query_id"), col("qqv"),
          col("s.cid").as("pcid"), col("s.dot").as("pdot"))
        .withColumn("rn", row_number().over(wprobe))
        .filter(col("rn") <= IvfNProbe)
        .select("query_id", "qqv", "pcid")
      val dots = probes
        .join(assign.select(col("vec_id").as("cand_id"), col("qv").as("cqv"),
          col("cid")), col("cid") === col("pcid"))
        .filter(col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"),
          call_function("long_dot", col("qqv"), col("cqv")).as("dot_q"))
      val w = Window.partitionBy("query_id").orderBy(desc("dot_q"), asc("cand_id"))
      dots.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= TopK)
        .select(col("query_id"), col("rnk"), col("cand_id"), col("dot_q"),
          (col("dot_q").cast("double") / lit(1e12)).as("cosine"))
        .orderBy("query_id", "rnk")
    })

  // ---------------------------------------------------------------------
  // IVF index PERSISTENCE — build once, probe many. q_ivf_assign/q_ivf_topk
  // prove the in-plan algebra; a 100 TB retrieval stack amortizes the
  // training/assignment cost by storing the index and serving every query
  // from the stored tables. The index root is a STABLE temp path keyed by
  // the embeddings source signature (length+mtime, same scheme as
  // SourceParity.roundTrip), so regenerated testdata can never be probed
  // against a stale index; `_GRAFT_IVF_DONE` is written only after BOTH
  // tables committed, so a crashed build is rebuilt, never half-read.
  // The inverted file is written PARTITIONED BY cell id — the probe's
  // cell equi-join is against the partition column, so Spark's dynamic
  // partition pruning can drop unprobed cells' files at planning.
  // ---------------------------------------------------------------------

  /** The two index tables, written under `root` (shared by the always-
    * rebuild exhibit and the ensure-or-build serving path). */
  private def ivfBuildInto(spark: SparkSession, dir: String)(
      root: String): Unit = {
    ivfAssign(ivfScored(spark, dir))
      .select(col("vec_id"), col("qv"), col("dot_c"), col("cid"))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$root/assign")
    ivfCentroids(spark, dir)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
  }

  /** Every constant the stored index's CONTENT depends on, spelled into
    * the artifact key so a parameter/code change keys a fresh root
    * (ArtifactStore's recipe token; ADVICE r14). */
  private val ivfRecipe: String =
    s"ivf:v1:$Dim:$IvfSeedPool:$IvfMinC:$IvfMaxC:$IvfTargetCell:$quantizeExpr"

  /** Always a fresh build — the write path IS q_ivf_build's exhibit. */
  private def ivfWriteIndex(spark: SparkSession, dir: String): String =
    ArtifactStore.rebuild(spark, dir, "embeddings", "ivf_index", ivfRecipe)(
      ivfBuildInto(spark, dir))

  /** Probe-side index resolution: reuse a completed build, else build.
    * (Verify may run q_ivf_probe before q_ivf_build; the index content is
    * deterministic, so either order yields the same stored tables.) */
  private[graft] def ensureIvfIndex(spark: SparkSession, dir: String): String =
    ArtifactStore.ensure(spark, dir, "embeddings", "ivf_index", ivfRecipe)(
      ivfBuildInto(spark, dir))

  /** INDEX BUILD under the oracle gate: write centroids + the cell-
    * partitioned inverted file, then aggregate the READ-BACK tables into
    * per-cell stats (membership counts, id range, assignment-dot mass,
    * centroid self-dot) — the oracle recomputes the same stats from the
    * definition, so a pass proves the STORED index content, not just the
    * in-plan frames. */
  private val qIvfBuild = QueryDef(
    "q_ivf_build",
    Some(s"""WITH $sqlIvf,
cellstats AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
    min(vec_id) AS min_vec, max(vec_id) AS max_vec,
    CAST(sum(dot_c) AS BIGINT) AS sum_dot
  FROM assign GROUP BY cid)
SELECT s.cid, s.n_vecs, s.min_vec, s.max_vec, s.sum_dot,
  CAST(list_sum(list_transform(c.cv, x -> x * x)) AS BIGINT) AS cent_sq
FROM cellstats s JOIN cents c ON c.cid = s.cid
ORDER BY s.cid"""),
    (spark, dir) => {
      val root = ivfWriteIndex(spark, dir)
      val assign = Tables.parquet(spark, s"$root/assign")
        .select(col("vec_id"), col("dot_c"), col("cid").cast("long").as("cid"))
      val cents = Tables.parquet(spark, s"$root/centroids")
      assign.groupBy("cid")
        .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec"),
          max("vec_id").as("max_vec"), sum("dot_c").as("sum_dot"))
        .join(broadcast(cents), "cid")
        .select(col("cid"), col("n_vecs"), col("min_vec"), col("max_vec"),
          col("sum_dot"),
          expr("aggregate(cv, 0L, (a, x) -> a + x * x)").as("cent_sq"))
        .orderBy("cid")
    })

  /** INDEX PROBE: the same top-k result as q_ivf_topk, computed with ZERO
    * training work in-plan — centroids and the inverted file come off the
    * stored parquet tables (queries' quantized vectors included: a serving
    * path reads the index, not the raw corpus). The oracle is byte-for-
    * byte q_ivf_topk's, proving stored-index probing ≡ in-plan probing. */
  private val qIvfProbe = QueryDef(
    "q_ivf_probe",
    Some(sqlIvfTopkOracle),
    (spark, dir) => {
      // the probe plan never touches the raw tables, so the custom
      // function registry (long_dot) must be installed explicitly
      graft.plans.GraftFunctions.register(spark)
      val root = ensureIvfIndex(spark, dir)
      val assign = Tables.parquet(spark, s"$root/assign")
        .select(col("vec_id"), col("qv"), col("cid").cast("long").as("cid"))
      val centarr = Tables.parquet(spark, s"$root/centroids")
        .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cl"))
      val wprobe = Window.partitionBy("query_id").orderBy(desc("pdot"), asc("pcid"))
      val probes = assign.filter(col("vec_id") < NumQueries)
        .crossJoin(broadcast(centarr))
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
          explode(expr(
            "transform(cl, s -> struct(s.cid AS cid, long_dot(qv, s.cv) AS dot))"))
            .as("s"))
        .select(col("query_id"), col("qqv"),
          col("s.cid").as("pcid"), col("s.dot").as("pdot"))
        .withColumn("rn", row_number().over(wprobe))
        .filter(col("rn") <= IvfNProbe)
        .select("query_id", "qqv", "pcid")
      val dots = probes
        .join(assign.select(col("vec_id").as("cand_id"), col("qv").as("cqv"),
          col("cid")), col("cid") === col("pcid"))
        .filter(col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"),
          call_function("long_dot", col("qqv"), col("cqv")).as("dot_q"))
      val w = Window.partitionBy("query_id").orderBy(desc("dot_q"), asc("cand_id"))
      dots.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= TopK)
        .select(col("query_id"), col("rnk"), col("cand_id"), col("dot_q"),
          (col("dot_q").cast("double") / lit(1e12)).as("cosine"))
        .orderBy("query_id", "rnk")
    })

  // ---------------------------------------------------------------------
  // IVF INDEX MAINTENANCE (round 18) — the ANN index kept CURRENT as the
  // corpus grows, without retraining or re-assigning the base: the
  // centroids are FROZEN with the base snapshot (retraining is a
  // scheduled offline job; between trainings a serving index absorbs
  // arrivals against the frozen cells — the FAISS/Lucene-segment
  // operating model), a new-vector batch pays exactly one broadcast
  // map-only assignment (O(batch · C) dots), and the maintained index =
  // immutable base postings ∪ the delta postings. The probe is the
  // stored-index probe over that union. New vectors carry ids above
  // every base id (the ids-ascending ingest contract shared with
  // q_pipeline_multimodal_ivm). The oracle derives the centroids and the
  // adaptive C from the BASE SLICE in SQL and assigns the FULL corpus
  // against them — maintained-index probing ≡ an index rebuilt from
  // scratch with the same frozen centroids, hash-exact.
  // ---------------------------------------------------------------------

  /** [[ivfScoredOver]] against a GIVEN packed centroid array (the frozen
    * base centroids), instead of centroids derived from the scored frame
    * itself. */
  private def ivfScoredWith(qvt: DataFrame, centarr: DataFrame): DataFrame =
    qvt.crossJoin(broadcast(centarr))
      .select(col("vec_id"), col("qv"),
        expr("transform(cl, s -> struct(s.cid AS cid, long_dot(qv, s.cv) AS dot))")
          .as("sc"))

  private val ivfIvmRecipe: String = s"$ivfRecipe:ivm=7/8"

  /** q_ivf_ivm's builder. `mark`: "p1" (base index served), "delta"
    * (new-batch postings assigned + counted), then the probe plan is
    * returned. */
  private[graft] def ivfIvmBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val emb = tblWide(spark, dir, "embeddings")
      .select(col("vec_id"), expr(quantizeExpr).as("qv"))
    val bnd = emb.agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
      .head()
    val cutoff = bnd.getLong(0) + (bnd.getLong(1) - bnd.getLong(0) + 1) * 7 / 8
    val stateRoot = ArtifactStore.ensure(spark, dir, "embeddings",
      "ivf_ivm_state", ivfIvmRecipe) { r =>
      val base = emb.filter(col("vec_id") < cutoff)
      ivfAssign(ivfScoredOver(base))
        .select(col("vec_id"), col("qv"), col("dot_c"), col("cid"))
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(s"$r/assign")
      ivfCentroidsOver(base)
        .coalesce(1).write.mode("overwrite").parquet(s"$r/centroids")
    }
    mark("p1")
    // the new batch assigns against the FROZEN centroids: one broadcast
    // of the packed centroid array, one map-only projection — the base
    // postings are never re-read for maintenance, only for the probe
    val centarr = Tables.parquet(spark, s"$stateRoot/centroids")
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cl"))
    val newAssign = graft.Checkpoints.truncate(
      ivfAssign(ivfScoredWith(emb.filter(col("vec_id") >= cutoff), centarr))
        .select(col("vec_id"), col("qv"), col("cid")))
    mark(s"delta:n=${newAssign.count()}")
    val assign = Tables.parquet(spark, s"$stateRoot/assign")
      .select(col("vec_id"), col("qv"), col("cid").cast("long").as("cid"))
      .unionByName(newAssign)
    // the stored-index probe (q_ivf_probe's plan) over base ∪ delta
    val wprobe = Window.partitionBy("query_id").orderBy(desc("pdot"), asc("pcid"))
    val probes = assign.filter(col("vec_id") < NumQueries)
      .crossJoin(broadcast(centarr))
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        explode(expr(
          "transform(cl, s -> struct(s.cid AS cid, long_dot(qv, s.cv) AS dot))"))
          .as("s"))
      .select(col("query_id"), col("qqv"),
        col("s.cid").as("pcid"), col("s.dot").as("pdot"))
      .withColumn("rn", row_number().over(wprobe))
      .filter(col("rn") <= IvfNProbe)
      .select("query_id", "qqv", "pcid")
    val dots = probes
      .join(assign.select(col("vec_id").as("cand_id"), col("qv").as("cqv"),
        col("cid")), col("cid") === col("pcid"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        call_function("long_dot", col("qqv"), col("cqv")).as("dot_q"))
    val w = Window.partitionBy("query_id").orderBy(desc("dot_q"), asc("cand_id"))
    dots.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("cand_id"), col("dot_q"),
        (col("dot_q").cast("double") / lit(1e12)).as("cosine"))
      .orderBy("query_id", "rnk")
  }

  /** The maintained-IVF gate: the oracle freezes centroids + adaptive C
    * on the base slice (vec_id below the 7/8 cutoff), assigns the FULL
    * corpus against them, and probes — exactly what the maintained
    * base∪delta index must answer. */
  private val qIvfIvm = QueryDef(
    "q_ivf_ivm",
    Some(s"""WITH $sqlQvt,
cut AS (SELECT min(vec_id) + (max(vec_id) - min(vec_id) + 1) * 7 // 8 AS c
        FROM embeddings),
bqvt AS (SELECT q.* FROM qvt q, cut WHERE q.vec_id < cut.c),
ivf_params AS (SELECT greatest($IvfMinC, least($IvfMaxC,
    CAST(count(*) AS BIGINT) // $IvfTargetCell)) AS c FROM bqvt),
seedpool AS (
  SELECT vec_id, qv, $sqlHash60VecId AS hp FROM bqvt
  QUALIFY row_number() OVER (ORDER BY $sqlHash60VecId, vec_id) <= $IvfSeedPool),
cents AS (
  SELECT cid, cv FROM (
    SELECT CAST(row_number() OVER (ORDER BY hp, vec_id) AS BIGINT) AS cid, qv AS cv
    FROM seedpool), ivf_params
  WHERE cid <= c),
centarr AS (SELECT list(struct_pack(cid := cid, cv := cv) ORDER BY cid) AS cl FROM cents),
scored AS (
  SELECT vec_id, qv,
    list_transform(cl, s -> struct_pack(
      cid := s.cid,
      dot := CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
        list_extract(qv, CAST(i AS INT)) * list_extract(s.cv, CAST(i AS INT)))) AS BIGINT))) AS sc
  FROM qvt, centarr),
assign AS (
  SELECT vec_id, qv,
    list_min(list_transform(list_filter(sc, s -> s.dot = best), s -> s.cid)) AS cid,
    best AS dot_c
  FROM (SELECT vec_id, qv, sc, list_max(list_transform(sc, s -> s.dot)) AS best FROM scored)),
probes AS (
  SELECT vec_id AS query_id, qv AS qqv, u.s.cid AS cid
  FROM (SELECT vec_id, qv, unnest(sc) AS s FROM scored WHERE vec_id < $NumQueries) u
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY u.s.dot DESC, u.s.cid) <= $IvfNProbe),
dots AS (
  SELECT p.query_id, a.vec_id AS cand_id,
    CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
      list_extract(p.qqv, CAST(i AS INT)) * list_extract(a.qv, CAST(i AS INT)))) AS BIGINT) AS dot_q
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id)
SELECT query_id, rnk, cand_id, dot_q, CAST(dot_q AS DOUBLE) / 1e12 AS cosine
FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, cand_id) AS BIGINT) AS rnk FROM dots)
WHERE rnk <= $TopK
ORDER BY query_id, rnk"""),
    (spark, dir) => ivfIvmBuild(spark, dir))

  /** Recall evaluation of BOTH ANN recall stages against the exact top-k:
    * for each query, recall@k = |candidates ∩ exact top-k| / k, plus the
    * candidate-set size (the fraction of the corpus the probe actually
    * scans). This is the measurement that justifies an ANN index at
    * 100 TB — the recall/scan-fraction trade-off — executed as one
    * deterministic query under the oracle gate. */
  /** The whole recall evaluation AFTER qvt — LSH chain, IVF chain, exact
    * ground truth, candidate union, per-query recall — qvt-generic so the
    * same gate runs on the plain corpus (q_ann_recall) and the derived
    * clustered corpus (q_ann_recall_clustered). */
  private val sqlRecallAfterQvt: String = s"""$sqlBkAfterQvt,$sqlIvfAfterQvt,
exact AS (
  SELECT q.vec_id AS query_id, v.vec_id AS cand_id
  FROM qvt q JOIN qvt v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < $NumQueries
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
    ORDER BY list_sum(list_transform(range(1, ${Dim + 1}), i ->
      list_extract(q.qv, CAST(i AS INT)) * list_extract(v.qv, CAST(i AS INT)))) DESC, v.vec_id) <= $TopK),
lsh_cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, vb.vec_id AS cand_id
  FROM bk qb JOIN bk vb ON qb.band = vb.band AND qb.bucket = vb.bucket AND vb.vec_id <> qb.vec_id
  WHERE qb.vec_id < $NumQueries),
probes AS (
  SELECT vec_id AS query_id, u.s.cid AS cid
  FROM (SELECT vec_id, unnest(sc) AS s FROM scored WHERE vec_id < $NumQueries) u
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY u.s.dot DESC, u.s.cid) <= $IvfNProbe),
ivf_cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS cand_id
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id),
cands AS (
  SELECT 'lsh' AS method, query_id, cand_id FROM lsh_cand
  UNION ALL SELECT 'ivf' AS method, query_id, cand_id FROM ivf_cand),
stats AS (
  SELECT b.method, b.query_id, count(*) AS n_cands,
    count(*) FILTER (WHERE e.cand_id IS NOT NULL) AS hits
  FROM cands b LEFT JOIN exact e ON e.query_id = b.query_id AND e.cand_id = b.cand_id
  GROUP BY b.method, b.query_id)
SELECT method, query_id, n_cands, hits,
  CAST(hits AS DOUBLE) / $TopK AS recall_at_$TopK
FROM stats ORDER BY method, query_id"""

  private def annRecallOver(emb: DataFrame): DataFrame = {
      val q8 = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("qv").as("qvec"))
      val wexact = Window.partitionBy("query_id").orderBy(desc("dot"), asc("cand_id"))
      val exact = emb.join(broadcast(q8), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          call_function("long_dot", col("qvec"), col("qv")).as("dot"))
        .withColumn("rn", row_number().over(wexact))
        .filter(col("rn") <= TopK)
        .select("query_id", "cand_id")
      // This bk self-join is NOT the double-pipeline trap q_neardup_bucketed
      // avoids: the probe side filters to the query set, and Catalyst pushes
      // vec_id < NumQueries below the scoring projection to the scan — so
      // one side scores 8 vectors, not the corpus. (A grouped collect_list
      // formulation was measured SLOWER here: it forces a full shuffle of
      // every (band, bucket) row to build cells the join never needs.)
      val bk = annBucketsOver(emb)
      val bq = bk.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"),
          col("band").as("qband"), col("bucket").as("qbucket"))
      val lshCand = bq
        .join(bk, col("band") === col("qband") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"))
        .distinct()
      val assign = ivfAssign(ivfScoredOver(emb))
      val wprobe = Window.partitionBy("query_id").orderBy(desc("pdot"), asc("pcid"))
      val probes = assign.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), explode(col("sc")).as("s"))
        .select(col("query_id"), col("s.cid").as("pcid"), col("s.dot").as("pdot"))
        .withColumn("rn", row_number().over(wprobe))
        .filter(col("rn") <= IvfNProbe)
        .select("query_id", "pcid")
      val ivfCand = probes
        .join(assign.select(col("vec_id").as("cand_id"), col("cid")),
          col("cid") === col("pcid"))
        .filter(col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"))
        .distinct()
      val cands = lshCand.withColumn("method", lit("lsh"))
        .unionByName(ivfCand.withColumn("method", lit("ivf")))
      cands
        .join(exact.withColumn("hit", lit(1)), Seq("query_id", "cand_id"), "left_outer")
        .groupBy("method", "query_id")
        .agg(count(lit(1)).as("n_cands"), count(col("hit")).as("hits"))
        .select(col("method"), col("query_id"), col("n_cands"), col("hits"),
          (col("hits").cast("double") / TopK).as(s"recall_at_$TopK"))
        .orderBy("method", "query_id")
  }

  private val qAnnRecall = QueryDef(
    "q_ann_recall",
    Some(s"WITH $sqlQvt,$sqlRecallAfterQvt"),
    (spark, dir) => annRecallOver(tblWide(spark, dir, "embeddings")
      .select(col("vec_id"), expr(quantizeExpr).as("qv"))))

  // ---- clustered-corpus recall (VERDICT r15 item 3): the uniform random
  // fixture is the EASY case for bucketed ANN (max cross-cosine ≈ 0.51 —
  // no competing near-neighbors); real embedding corpora cluster, which
  // is where hyperplane buckets and IVF cells degrade. The clustered
  // corpus is DERIVED in-query (the q_embed_decontam benchmark trick):
  // each of the first ClusterSeeds base vectors gets ClusterCopies
  // jittered near-duplicates — a deterministic integer perturbation of
  // the 1e6-quantized vector, ±JitterHalf per component via pure modular
  // arithmetic (identical in both engines), i.e. ~1% of the vector norm,
  // cosine ≈ 0.999 to the seed. Queries (vec_id < NumQueries) are
  // themselves cluster seeds, so each query's exact top-k is dominated
  // by its planted neighbors and recall now measures whether the index
  // actually retrieves a dense cluster, not just separates random
  // points. Copy ids live at ClusterIdOff + seed·10 + j — disjoint from
  // base ids at every gated SF (assert-guarded in the builder).
  private val ClusterSeeds = 40L
  private val ClusterCopies = 4L
  // above any scaled corpus's id space (ScaleStress offsets vec_ids by
  // copy·1e8, ≤ 1296 copies → max ~1.3e11): copy ids must stay disjoint
  // from base ids at EVERY measured multiple, not just the gated SFs —
  // the builder's require stays as the loud backstop
  private val ClusterIdOff = 1000000000000L
  private val JitterMod = 20001L
  private val JitterHalf = 10000L

  private val sqlQvtClustered: String = s"""
qvt AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
  UNION ALL
  SELECT $ClusterIdOff + s.vec_id * 10 + j.j AS vec_id,
    list_transform(range(1, ${Dim + 1}), i ->
      ${sqlQuantElem("s.embedding", "CAST(i AS INT)")}
      + ((s.vec_id * 1000003 + j.j * 7919 + i * 104729) % $JitterMod) - $JitterHalf) AS qv
  FROM embeddings s, (SELECT unnest(range(1, ${ClusterCopies + 1})) AS j) j
  WHERE s.vec_id < $ClusterSeeds)"""

  /** The clustered qvt frame: base corpus ∪ the planted jittered copies
    * (class comment above) — shared by both clustered recall gates. */
  private def clusteredQvt(spark: SparkSession, dir: String): DataFrame = {
    val embT = tblWide(spark, dir, "embeddings")
    val base = embT.select(col("vec_id"), expr(quantizeExpr).as("qv"))
    val maxId = base.agg(max(col("vec_id"))).head().getLong(0)
    require(maxId < ClusterIdOff,
      s"clustered recall: base vec_id $maxId collides with the " +
        s"planted-copy id space at $ClusterIdOff — raise ClusterIdOff")
    val jitterExpr = s"""transform(embedding, (x, i0) ->
      CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
      + ((vec_id * ${1000003L} + j * ${7919L}
          + (CAST(i0 AS BIGINT) + 1L) * ${104729L}) % $JitterMod)
      - $JitterHalf)"""
    val copies = embT.filter(col("vec_id") < ClusterSeeds)
      .select(col("vec_id"), col("embedding"),
        explode(expr(s"sequence(1L, ${ClusterCopies}L)")).as("j"))
      .select((lit(ClusterIdOff) + col("vec_id") * 10 + col("j")).as("nid"),
        expr(jitterExpr).as("qv"))
      .select(col("nid").as("vec_id"), col("qv"))
    base.unionByName(copies)
  }

  private val qAnnRecallClustered = QueryDef(
    "q_ann_recall_clustered",
    Some(s"WITH $sqlQvtClustered,$sqlRecallAfterQvt"),
    (spark, dir) => annRecallOver(clusteredQvt(spark, dir)))

  /** The IVF recall/cost CURVE: recall@[[TopK]] and candidates-scanned at
    * nprobe ∈ {1, 2, 4} against the exact top-k ground truth — the tuning
    * artifact a retrieval deployment sizes nprobe with (q_ann_recall pins
    * ONE operating point; a 100 TB rollout needs the trade-off curve).
    *
    * One probe pass carries the whole curve: IVF cells PARTITION the
    * corpus, so a candidate meets a query through exactly one cell, and
    * that cell's position r in the query's probe order is the candidate's
    * "first seen at nprobe = r" rank — each curve level is then a filter
    * r ≤ np over the SAME joined frame, not a re-probe (3 levels cost one
    * cell join + a 3-way conditional aggregate, and the same trick prices
    * any nprobe sweep at one pass at 100 TB). The exact ground truth is
    * the one full-scan stage — inherent to recall measurement, run once
    * offline against a fixed query panel in production. */
  private val IvfRecallProbes = Seq(1L, 2L, 4L)
  /** The IVF recall/cost curve AFTER qvt — qvt-generic like
    * [[sqlRecallAfterQvt]], so the curve can also be measured on the
    * derived clustered corpus (q_ivf_recall_clustered). */
  private val sqlIvfRecallAfterQvt: String = s"""$sqlIvfAfterQvt,
exact AS (
  SELECT q.vec_id AS query_id, v.vec_id AS cand_id
  FROM qvt q JOIN qvt v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < $NumQueries
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
    ORDER BY list_sum(list_transform(range(1, ${Dim + 1}), i ->
      list_extract(q.qv, CAST(i AS INT)) * list_extract(v.qv, CAST(i AS INT)))) DESC, v.vec_id) <= $TopK),
probes AS (
  SELECT vec_id AS query_id, u.s.cid AS cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY u.s.dot DESC, u.s.cid) AS r
  FROM (SELECT vec_id, unnest(sc) AS s FROM scored WHERE vec_id < $NumQueries) u
  QUALIFY r <= ${IvfRecallProbes.max}),
cand_r AS (
  SELECT p.query_id, a.vec_id AS cand_id, p.r,
    CASE WHEN e.cand_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM probes p JOIN assign a ON a.cid = p.cid
  LEFT JOIN exact e ON e.query_id = p.query_id AND e.cand_id = a.vec_id
  WHERE a.vec_id <> p.query_id)
SELECT np.nprobe, c.query_id,
  CAST(sum(CASE WHEN c.r <= np.nprobe THEN 1 ELSE 0 END) AS BIGINT) AS n_cands,
  CAST(sum(CASE WHEN c.r <= np.nprobe THEN c.hit ELSE 0 END) AS BIGINT) AS hits,
  CAST(sum(CASE WHEN c.r <= np.nprobe THEN c.hit ELSE 0 END) AS DOUBLE) / $TopK
    AS recall_at_$TopK
FROM cand_r c,
  (SELECT CAST(unnest([${IvfRecallProbes.mkString(", ")}]) AS BIGINT) AS nprobe) np
GROUP BY np.nprobe, c.query_id
ORDER BY np.nprobe, c.query_id"""

  private def ivfRecallOver(emb: DataFrame): DataFrame = {
      val q8 = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("qv").as("qvec"))
      val wexact = Window.partitionBy("query_id").orderBy(desc("dot"), asc("cand_id"))
      val exact = emb.join(broadcast(q8), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          call_function("long_dot", col("qvec"), col("qv")).as("dot"))
        .withColumn("rn", row_number().over(wexact))
        .filter(col("rn") <= TopK)
        .select("query_id", "cand_id")
      val assign = ivfAssign(ivfScoredOver(emb))
      val wprobe = Window.partitionBy("query_id").orderBy(desc("pdot"), asc("pcid"))
      val probes = assign.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), explode(col("sc")).as("s"))
        .select(col("query_id"), col("s.cid").as("pcid"), col("s.dot").as("pdot"))
        .withColumn("r", row_number().over(wprobe))
        .filter(col("r") <= IvfRecallProbes.max)
        .select("query_id", "pcid", "r")
      val candR = probes
        .join(assign.select(col("vec_id").as("cand_id"), col("cid")),
          col("cid") === col("pcid"))
        .filter(col("cand_id") =!= col("query_id"))
        .join(exact.withColumn("hitmark", lit(1)),
          Seq("query_id", "cand_id"), "left_outer")
        .select(col("query_id"), col("r"),
          coalesce(col("hitmark"), lit(0)).as("hit"))
      candR
        .select(col("query_id"), col("r"), col("hit"),
          explode(typedlit(IvfRecallProbes)).as("nprobe"))
        .groupBy("nprobe", "query_id")
        .agg(
          sum(when(col("r") <= col("nprobe"), 1L).otherwise(0L)).as("n_cands"),
          sum(when(col("r") <= col("nprobe"), col("hit").cast("long"))
            .otherwise(0L)).as("hits"))
        .select(col("nprobe"), col("query_id"), col("n_cands"), col("hits"),
          (col("hits").cast("double") / TopK).as(s"recall_at_$TopK"))
        .orderBy("nprobe", "query_id")
  }

  private val qIvfRecall = QueryDef(
    "q_ivf_recall",
    Some(s"WITH $sqlQvt,$sqlIvfRecallAfterQvt"),
    (spark, dir) => ivfRecallOver(tblWide(spark, dir, "embeddings")
      .select(col("vec_id"), expr(quantizeExpr).as("qv"))))

  /** The nprobe curve on the planted-cluster corpus (SCALE.md §37's
    * second axis): where the uniform corpus saturates at nprobe 1-2, the
    * clustered one shows the real knee — cluster mass split across a
    * cell boundary is recovered only by probing deeper. */
  private val qIvfRecallClustered = QueryDef(
    "q_ivf_recall_clustered",
    Some(s"WITH $sqlQvtClustered,$sqlIvfRecallAfterQvt"),
    (spark, dir) => ivfRecallOver(clusteredQvt(spark, dir)))

  // ---- MULTI-PROBE LSH (Lv et al. 2007, VLDB): a near neighbor that
  // missed the query's bucket usually landed in a bucket whose band key
  // differs in ONE low-confidence sign bit — so probe the k buckets at
  // Hamming distance 1 in band-bit space too, buying recall WITHOUT more
  // bands (no extra index rows, no extra shuffle of the corpus side; the
  // probe fan-out lives on the tiny query side). Probe order is
  // deterministic: level 0 = the query's own bucket per band, level 1 =
  // all k single-bit flips; a candidate reachable at both levels is
  // attributed to its FIRST level (min), the q_ivf_recall one-pass-curve
  // trick, so both operating points come from one corpus join. Measured
  // on the clustered corpus (§37: recall on uniform-random vectors is
  // meaningless — LSH level-0 reads 0.875 there and the multi-probe
  // lift is the point of this gate).
  private val sqlMultiprobeAfterQvt: String = s"""$sqlBkAfterQvt,
exact AS (
  SELECT q.vec_id AS query_id, v.vec_id AS cand_id
  FROM qvt q JOIN qvt v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < $NumQueries
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
    ORDER BY list_sum(list_transform(range(1, ${Dim + 1}), i ->
      list_extract(q.qv, CAST(i AS INT)) * list_extract(v.qv, CAST(i AS INT)))) DESC, v.vec_id) <= $TopK),
bq AS (SELECT vec_id AS query_id, band, bucket FROM bk WHERE vec_id < $NumQueries),
pr AS (
  SELECT query_id, band, bucket, 0 AS pl FROM bq
  UNION ALL
  SELECT query_id, band, xor(bucket, CAST((1 << b.b) AS BIGINT)) AS bucket, 1 AS pl
  FROM bq, params, (SELECT unnest(range(0, $MaxBandBits)) AS b) b
  WHERE b.b < params.k),
mp AS (
  SELECT p.query_id, v.vec_id AS cand_id, min(p.pl) AS minpl
  FROM pr p JOIN bk v
    ON v.band = p.band AND v.bucket = p.bucket AND v.vec_id <> p.query_id
  GROUP BY p.query_id, v.vec_id),
mh AS (
  SELECT m.query_id, m.minpl,
    CASE WHEN e.cand_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM mp m LEFT JOIN exact e
    ON e.query_id = m.query_id AND e.cand_id = m.cand_id)
SELECT lv.pl AS probe_level, h.query_id,
  CAST(sum(CASE WHEN h.minpl <= lv.pl THEN 1 ELSE 0 END) AS BIGINT) AS n_cands,
  CAST(sum(CASE WHEN h.minpl <= lv.pl THEN h.hit ELSE 0 END) AS BIGINT) AS hits,
  CAST(sum(CASE WHEN h.minpl <= lv.pl THEN h.hit ELSE 0 END) AS DOUBLE) / $TopK
    AS recall_at_$TopK
FROM mh h, (SELECT CAST(unnest([0, 1]) AS BIGINT) AS pl) lv
GROUP BY lv.pl, h.query_id
ORDER BY probe_level, query_id"""

  private def annMultiprobeOver(emb: DataFrame): DataFrame = {
    val q8 = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qvec"))
    val wexact = Window.partitionBy("query_id").orderBy(desc("dot"), asc("cand_id"))
    val exact = emb.join(broadcast(q8), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        call_function("long_dot", col("qvec"), col("qv")).as("dot"))
      .withColumn("rn", row_number().over(wexact))
      .filter(col("rn") <= TopK)
      .select("query_id", "cand_id")
    val bk = annBucketsOver(emb)
    // probe fan-out on the QUERY side only: 1 + k buckets per band per
    // query — the corpus-side bk never grows and the join stays the
    // q_ann_recall broadcast shape
    val pr = bk.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        col("band").as("qband"), col("bucket").as("qbucket"))
      .crossJoin(broadcast(annParamsOver(emb)))
      .select(col("query_id"), col("qband"),
        explode(expr(
          """concat(
            |  array(struct(qbucket AS bucket, 0 AS pl)),
            |  transform(sequence(0, k - 1), b ->
            |    struct(qbucket ^ shiftleft(1L, b) AS bucket, 1 AS pl)))"""
            .stripMargin)).as("pp"))
      .select(col("query_id"), col("qband"),
        col("pp.bucket").as("pbucket"), col("pp.pl").as("pl"))
    val mp = pr
      .join(bk, col("band") === col("qband") &&
        col("bucket") === col("pbucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("pl"))
      .groupBy("query_id", "cand_id")
      .agg(min(col("pl")).as("minpl"))
    mp.join(exact.withColumn("hitmark", lit(1)),
        Seq("query_id", "cand_id"), "left_outer")
      .select(col("query_id"), col("minpl"),
        coalesce(col("hitmark"), lit(0)).as("hit"))
      .select(col("query_id"), col("minpl"), col("hit"),
        explode(typedlit(Seq(0L, 1L))).as("probe_level"))
      .groupBy("probe_level", "query_id")
      .agg(
        sum(when(col("minpl") <= col("probe_level"), 1L).otherwise(0L))
          .as("n_cands"),
        sum(when(col("minpl") <= col("probe_level"), col("hit").cast("long"))
          .otherwise(0L)).as("hits"))
      .select(col("probe_level"), col("query_id"), col("n_cands"), col("hits"),
        (col("hits").cast("double") / TopK).as(s"recall_at_$TopK"))
      .orderBy("probe_level", "query_id")
  }

  private val qAnnMultiprobe = QueryDef(
    "q_ann_multiprobe",
    Some(s"WITH $sqlQvtClustered,$sqlMultiprobeAfterQvt"),
    (spark, dir) => annMultiprobeOver(clusteredQvt(spark, dir)))

  // =========================================================================
  // k-means (Lloyd) — the semantic-clustering stage of a curation pipeline
  // =========================================================================
  //
  // The IVF index above deliberately subs a hash-sample for its centroids
  // ("k-means is an offline training job"); THIS is that job, run as one
  // declarative plan: deterministic seeds → assign → centroid update →
  // reassign. SemDeDup-style curation (cluster the corpus, then dedup or
  // budget WITHIN clusters) is exactly this followed by the in-cluster
  // pairing stages the dedup module already has.
  //
  // Exactness: distances are integer (||x||² − 2x·c + ||c||² on the
  // 1e6-quantized vectors — long_dot everywhere), and the centroid UPDATE
  // uses truncated integer division (`sum div n` ≡ DuckDB `sum // n`,
  // both truncate toward zero), so every iteration is bit-identical
  // across engines — the same discipline as q_pagerank's scaled-integer
  // rank mass. Ties (equal distance to two centroids) break to the
  // smaller cid in both engines.
  //
  // Scale shape (100 TB):
  //  - ASSIGNMENT is the IVF zero-shuffle pattern: K centroids collapse
  //    to one packed row, broadcast, and every vector computes its K
  //    distances + argmin in a single codegen projection — map-only over
  //    the corpus, per iteration.
  //  - UPDATE is one hash aggregate keyed (cid, dim): posexplode amplifies
  //    rows K·d-fold INSIDE the stage, but map-side partial agg collapses
  //    each task to ≤ K·d rows, so the exchange carries
  //    O(K·d·partitions), never O(n·d). No join for the divisor — the
  //    per-(cid,dim) count IS the cluster size.
  //  - more iterations = repeat the two stages; production loops with a
  //    movement test + checkpoint truncation exactly as q_dedup_components
  //    does. Two passes are unrolled here so the plan is static and
  //    oracle-comparable.
  //  - K is CORPUS-ADAPTIVE in LOG STEPS, the band-bit discipline the
  //    ANN bucketing already uses (k bits = bitLength(n/occupancy)):
  //    K = clamp(2^(bitLength(n div KmTargetCell) − 1), KmMinK, KmKCap)
  //    — the largest power of two ≤ n/KmTargetCell, derived from
  //    count(*) inside the plan via length(bin(·)) (exact integer
  //    arithmetic in both engines, no log2 ULP risk). Cells stay within
  //    [KmTargetCell, 2·KmTargetCell) as the corpus grows, which keeps
  //    q_semdedup's in-cluster pair join LINEAR all the way to
  //    n = KmKCap·KmTargetCell (262k vectors at these constants); the
  //    log step means K moves only on corpus doublings, so small drift
  //    never reshuffles every cluster id. KmKCap is the DEPLOYMENT
  //    ceiling — it bounds the broadcast codebook (KmKCap·Dim longs,
  //    2 MB here) and the seed-pool TakeOrdered — and past it the
  //    level-2 recurrence below takes over (ceiling KmKCap²·KmTargetCell
  //    ≈ 10⁹ vectors before a third level or a bigger cap is needed).
  //    (r14 kept a fixed KmMaxK = 64: past 4096 vectors cell size grew
  //    ∝ n/64 and the pair stage ∝ n²/64 — the 30× ScaleStress corpus
  //    already saturated it. VERDICT r14 item 6.)
  private val KmMinK = 8
  private val KmKCap = 4096         // deployment ceiling = seed pool size
  private val KmTargetCell = 64

  /** Packed-centroid SQL fragment: cl = [(cid, cv, cc=||cv||²)] sorted. */
  private def sqlKmPack(cents: String): String = s"""
(SELECT list(struct_pack(cid := cid, cv := cv,
    cc := CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
      list_extract(cv, CAST(i AS INT)) * list_extract(cv, CAST(i AS INT)))) AS BIGINT))
  ORDER BY cid) AS cl FROM $cents)"""

  /** Assignment SQL fragment over packed centroids `arr(cl)`:
    * (vec_id, qv, cid, dist) — argmin of integer L2², tie → min cid. */
  private def sqlKmAssign(arr: String): String = s"""
(SELECT vec_id, qv,
  list_min(list_transform(list_filter(sc, s -> s.dist = best), s -> s.cid)) AS cid,
  best AS dist
FROM (SELECT vec_id, qv, sc, list_min(list_transform(sc, s -> s.dist)) AS best
  FROM (SELECT vec_id, qv,
    list_transform(cl, s -> struct_pack(cid := s.cid,
      dist := xx - 2 * CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
        list_extract(qv, CAST(i AS INT)) * list_extract(s.cv, CAST(i AS INT)))) AS BIGINT)
        + s.cc)) AS sc
  FROM (SELECT vec_id, qv,
      CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
        list_extract(qv, CAST(i AS INT)) * list_extract(qv, CAST(i AS INT)))) AS BIGINT) AS xx
    FROM qvt), $arr)))"""

  /** Shared oracle CTE chain ending in a1(vec_id, qv, cid, dist). */
  private val sqlKmeans: String = s"""$sqlQvt,
kparams AS (SELECT greatest($KmMinK, least($KmKCap,
    1 << (length(bin(CAST(count(*) AS BIGINT) // $KmTargetCell)) - 1))) AS k
  FROM embeddings),
kseeds AS (
  SELECT vec_id, qv, $sqlHash60VecId AS hp FROM qvt
  QUALIFY row_number() OVER (ORDER BY $sqlHash60VecId, vec_id) <= $KmKCap),
c0 AS (
  SELECT cid, cv FROM (
    SELECT CAST(row_number() OVER (ORDER BY hp, vec_id) AS BIGINT) AS cid,
      qv AS cv
    FROM kseeds), kparams
  WHERE cid <= k),
c0arr AS ${sqlKmPack("c0")},
a0 AS ${sqlKmAssign("c0arr")},
ksums AS (
  SELECT cid, t.i AS pos,
    CAST(sum(list_extract(qv, CAST(t.i AS INT))) AS BIGINT) AS sx,
    count(*) AS n
  FROM a0, range(1, ${Dim + 1}) t(i) GROUP BY cid, t.i),
c1 AS (SELECT cid, list(sx // n ORDER BY pos) AS cv FROM ksums GROUP BY cid),
c1arr AS ${sqlKmPack("c1")},
a1 AS ${sqlKmAssign("c1arr")}"""

  /** Spark packed-centroid frame: one row, cl = sorted [(cid, cv, cc)]. */
  private def kmPack(cents: DataFrame): DataFrame =
    cents
      .select(col("cid"), col("cv"),
        call_function("long_dot", col("cv"), col("cv")).as("cc"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv"), col("cc"))))
        .as("cl"))

  /** Spark assignment: broadcast the packed centroids, ONE native
    * codegen argmin per vector (`km_argmin`, VectorExpressions.scala) —
    * zero shuffle, zero per-element allocation. The r15-early HOF form
    * (`transform → array_min → filter → array_min`) evaluated
    * INTERPRETED (ArrayTransform.eval, a lambda call + struct alloc per
    * centroid per vector): at the log-step adaptive K it turned the
    * assignment into the dominant cost — jstack showed a 72× corpus
    * pinned in SimpleHigherOrderFunction.eval for 45+ min (SCALE.md §26);
    * the native loop over the columnar buffers is the same integer
    * arithmetic, value-identical including the tie-to-smaller-cid rule. */
  private def kmAssign(qvt: DataFrame, packed: DataFrame): DataFrame =
    qvt.crossJoin(broadcast(packed))
      .withColumn("am", call_function("km_argmin", col("qv"), col("cl")))
      .select(col("vec_id"), col("qv"),
        col("am.cid").as("cid"), col("am.dist").as("dist"))

  /** In-plan adaptive K (1-row frame, broadcast) — log-step: the largest
    * power of two ≤ n/KmTargetCell, clamped to [KmMinK, KmKCap] (see the
    * header note; bit-length via bin() string length, the annParams
    * pattern — exact in both engines). */
  private def kmParams(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "embeddings").agg(count(lit(1)).as("n"))
      .select(greatest(lit(KmMinK.toLong), least(lit(KmKCap.toLong),
        expr(s"shiftleft(1L, length(bin(n div $KmTargetCell)) - 1)")))
        .as("k"))

  /** Final assignment frame after seeds → assign → update → reassign. */
  private def kmeansFinal(spark: SparkSession, dir: String): DataFrame = {
    val qvt = tblWide(spark, dir, "embeddings")
      .select(col("vec_id"), expr(quantizeExpr).as("qv"))
    val wseed = Window.orderBy("hp", "vec_id")
    // TakeOrdered pool, window over <= KmKCap rows (the IVF seed pattern;
    // the pool is the CEILING-sized constant so the log-step k can grow
    // without re-ranking — a 4096-row TakeOrdered is O(n) scan + O(pool)
    // state at any corpus size)
    val c0 = qvt
      .withColumn("hp", PortableHash.hash60(col("vec_id").cast("string")))
      .orderBy("hp", "vec_id").limit(KmKCap)
      .select(row_number().over(wseed).cast("long").as("cid"),
        col("qv").as("cv"))
      .crossJoin(broadcast(kmParams(spark, dir)))
      .filter(col("cid") <= col("k"))
      .select("cid", "cv")
    val a0 = kmAssign(qvt, kmPack(c0))
    // one hash aggregate keyed (cid, pos): partial agg bounds each task's
    // output at K·d rows regardless of input size
    val ksums = a0
      .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    val c1 = ksums
      .select(col("cid"), col("pos"), expr("sx div n").as("m"))
      .groupBy("cid")
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), expr("transform(pm, p -> p.m)").as("cv"))
    kmAssign(qvt, kmPack(c1))
  }

  /** Per-vector final assignment — the granular parity check (any vector
    * landing in the wrong cell after the centroid update fails here). */
  private val qKmeansAssign = QueryDef(
    "q_kmeans_assign",
    Some(s"WITH $sqlKmeans\nSELECT vec_id, cid, dist FROM a1 ORDER BY vec_id"),
    (spark, dir) =>
      kmeansFinal(spark, dir)
        .select("vec_id", "cid", "dist").orderBy("vec_id"))

  /** Per-cluster profile: size, representative, inertia — the frame a
    * curation budget (per-cluster sampling quota) is computed from. */
  private val qKmeansProfile = QueryDef(
    "q_kmeans_profile",
    Some(s"""WITH $sqlKmeans
SELECT cid, count(*) AS n_vecs, min(vec_id) AS min_vec,
  CAST(sum(dist) AS BIGINT) AS inertia
FROM a1 GROUP BY cid ORDER BY cid"""),
    (spark, dir) =>
      kmeansFinal(spark, dir)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"),
          sum(col("dist")).as("inertia"))
        .orderBy("cid"))

  // ---- level-2 (per-cell) k-means: the SemDeDup de-saturation ----
  //
  // Level-1's K is capped at KmKCap, so past n = KmKCap·KmTargetCell its
  // cells grow ∝ n/KmKCap and any in-cell pair join goes super-linear.
  // The fix is HIERARCHICAL clustering: within each level-1 cell, run the
  // same seed→assign→update→reassign recurrence again with a PER-CELL
  // adaptive sub-K = clamp(cell_n / KmTargetCell, 1, KmKCap), so final
  // (cid, scid) cells stay ~KmTargetCell-sized up to
  // n = KmKCap²·KmTargetCell (~10⁹ vectors at these constants), and the
  // recurrence nests further (or the constants grow) in production. Everything stays integer-exact and
  // deterministic: sub-seeds rank by (hash60(vec_id), vec_id) WITHIN the
  // cell, distances/updates are the level-1 arithmetic verbatim.
  //
  // Scale shape: the sub-seed pass is ONE window over the corpus keyed
  // cid (bounded partitions — level-1 cells); packed per-cell codebooks
  // total ≤ K·subK·Dim longs (2 MB here) and broadcast; assignment stays
  // a zero-shuffle HOF argmin; the update is one (cid, scid, pos)-keyed
  // hash agg with map-side partials.

  /** Packed per-cell sub-codebook: (cid, cl = sorted [(scid, cv, cc)]). */
  private def km2Pack(cents: DataFrame): DataFrame =
    cents
      .select(col("cid"), col("scid"), col("cv"),
        call_function("long_dot", col("cv"), col("cv")).as("cc"))
      .groupBy("cid")
      .agg(sort_array(collect_list(struct(col("scid"), col("cv"), col("cc"))))
        .as("cl"))

  /** Per-cell assignment: broadcast the packed sub-codebooks, join on cid,
    * native `km_argmin` over the cell's own centroid list — (vec_id, qv,
    * cid, scid), tie → min scid, the level-1 discipline cell-locally
    * (the struct's first field is scid here; km_argmin is positional). */
  private def km2Assign(a1: DataFrame, packed: DataFrame): DataFrame =
    a1.join(broadcast(packed), "cid")
      .withColumn("am", call_function("km_argmin", col("qv"), col("cl")))
      .select(col("vec_id"), col("qv"), col("cid"),
        col("am.cid").as("scid"))

  /** Two-level assignment frame: level-1 a1, then the same recurrence
    * within each cell. The a1 frame feeds four consumers (seeds + two
    * assigns + the update), so its lineage is truncated once; the RESULT
    * is truncated too (it feeds the pair join + two output joins in
    * q_semdedup), which also makes a1's checkpoint unreachable — so a1
    * is RELEASED here, keeping reliable-mode retention at O(1) frames
    * (the prGraph discipline). */
  private def kmeans2Final(spark: SparkSession, dir: String): DataFrame = {
    val a1 = graft.Checkpoints.truncate(
      kmeansFinal(spark, dir).select("vec_id", "qv", "cid"))
    val wseed = Window.partitionBy("cid").orderBy("hp", "vec_id")
    val sc0 = a1
      .withColumn("hp", PortableHash.hash60(col("vec_id").cast("string")))
      .withColumn("rn", row_number().over(wseed).cast("long"))
      .withColumn("sk", greatest(lit(1L), least(lit(KmKCap.toLong),
        expr(s"count(1) OVER (PARTITION BY cid) div $KmTargetCell"))))
      .filter(col("rn") <= col("sk"))
      .select(col("cid"), col("rn").as("scid"), col("qv").as("cv"))
    val sa0 = km2Assign(a1, km2Pack(sc0))
    val ssums = sa0
      .select(col("cid"), col("scid"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("cid", "scid", "pos")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    val sc1 = ssums
      .select(col("cid"), col("scid"), col("pos"), expr("sx div n").as("m"))
      .groupBy("cid", "scid")
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), col("scid"), expr("transform(pm, p -> p.m)").as("cv"))
    val sa1 = graft.Checkpoints.truncate(km2Assign(a1, km2Pack(sc1)))
    graft.Checkpoints.release(a1)
    sa1
  }

  /** Oracle mirror of [[km2Pack]]: (cid, cl = sorted [(scid, cv, cc)]). */
  private def sqlKm2Pack(cents: String): String = s"""
(SELECT cid, list(struct_pack(scid := scid, cv := cv,
    cc := CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
      list_extract(cv, CAST(i AS INT)) * list_extract(cv, CAST(i AS INT)))) AS BIGINT))
  ORDER BY scid) AS cl FROM $cents GROUP BY cid)"""

  /** Oracle mirror of [[km2Assign]] over packed sub-codebooks `arr`. */
  private def sqlKm2Assign(arr: String): String = s"""
(SELECT vec_id, qv, cid,
  list_min(list_transform(list_filter(sc, s -> s.dist = best), s -> s.scid)) AS scid
FROM (SELECT vec_id, qv, cid, sc, list_min(list_transform(sc, s -> s.dist)) AS best
  FROM (SELECT a.vec_id, a.qv, a.cid,
    list_transform(arr.cl, s -> struct_pack(scid := s.scid,
      dist := a.xx - 2 * CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
        list_extract(a.qv, CAST(i AS INT)) * list_extract(s.cv, CAST(i AS INT)))) AS BIGINT)
        + s.cc)) AS sc
  FROM (SELECT vec_id, qv, cid,
      CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
        list_extract(qv, CAST(i AS INT)) * list_extract(qv, CAST(i AS INT)))) AS BIGINT) AS xx
    FROM a1) a JOIN $arr arr USING (cid))))"""

  /** Shared oracle chain ending in sa1(vec_id, qv, cid, scid). */
  private val sqlKmeans2: String = s"""$sqlKmeans,
sc0 AS (SELECT cid, rn AS scid, qv AS cv FROM (
  SELECT cid, qv,
    CAST(row_number() OVER (PARTITION BY cid ORDER BY hp, vec_id) AS BIGINT) AS rn,
    greatest(1, least($KmKCap, count(*) OVER (PARTITION BY cid) // $KmTargetCell)) AS sk
  FROM (SELECT vec_id, qv, cid, $sqlHash60VecId AS hp FROM a1))
  WHERE rn <= sk),
sc0arr AS ${sqlKm2Pack("sc0")},
sa0 AS ${sqlKm2Assign("sc0arr")},
ssums2 AS (SELECT cid, scid, t.i AS pos,
    CAST(sum(list_extract(qv, CAST(t.i AS INT))) AS BIGINT) AS sx, count(*) AS n
  FROM sa0, range(1, ${Dim + 1}) t(i) GROUP BY cid, scid, t.i),
sc1 AS (SELECT cid, scid, list(sx // n ORDER BY pos) AS cv FROM ssums2
  GROUP BY cid, scid),
sc1arr AS ${sqlKm2Pack("sc1")},
sa1 AS ${sqlKm2Assign("sc1arr")}"""

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): k-means the corpus,
    * then WITHIN each cluster drop every vector that has a cluster-mate
    * with cosine ≥ τ and a smaller id (greedy keep-min-id — the
    * deterministic representative rule; both engines apply it
    * identically, so transitive chains resolve the same way). This is
    * the payoff of q_kmeans_*: the cluster bounds the quadratic — the
    * pair join is (cid, scid)-local over the TWO-LEVEL clustering, so
    * cells stay ~KmTargetCell-sized up to KmKCap²·KmTargetCell vectors
    * (the level-2 chain above de-saturates the level-1 clamp), the same
    * "bucket the pairing" discipline as the LSH/IVF/simhash stages.
    * τ = 0.35 is corpus-tuned (the 99.9th percentile of this corpus's
    * pair cosine; real embedding corpora with planted near-dups run at
    * 0.95+ — the parameter, not the plan, changes). Output is the
    * per-vector keep/drop verdict a curation pipeline joins back to the
    * documents. */
  private val SemTau = 350000000000L // cosine 0.35 at the 1e12 integer scale

  private val qSemdedup = QueryDef(
    "q_semdedup",
    Some(s"""WITH $sqlKmeans2,
drp AS (
  SELECT DISTINCT a.vec_id
  FROM sa1 a JOIN sa1 b ON a.cid = b.cid AND a.scid = b.scid
    AND b.vec_id < a.vec_id
    AND CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
      list_extract(a.qv, CAST(i AS INT)) * list_extract(b.qv, CAST(i AS INT)))) AS BIGINT)
      >= $SemTau)
SELECT sa1.vec_id, sa1.cid, sa1.scid,
  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM sa1 LEFT JOIN drp d ON d.vec_id = sa1.vec_id
ORDER BY sa1.vec_id"""),
    (spark, dir) => {
      val sa1 = kmeans2Final(spark, dir) // already checkpoint-truncated
      val dropped = sa1.as("a")
        .join(sa1.as("b"),
          col("a.cid") === col("b.cid") && col("a.scid") === col("b.scid") &&
            col("b.vec_id") < col("a.vec_id") &&
            call_function("long_dot", col("a.qv"), col("b.qv")) >= SemTau)
        .select(col("a.vec_id").as("vec_id")).distinct()
        .withColumn("dropped", lit(1))
      sa1.join(dropped, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("cid"), col("scid"),
          when(col("dropped").isNotNull, 0L).otherwise(1L).as("keep"))
        .orderBy("vec_id")
    })

  // ---- product quantization (PQ/ADC, Jégou et al. 2011) ----
  private val PqM = 4                  // subspaces
  private val PqSubDim = Dim / PqM     // 16 dims each
  private val PqK = 16                 // centroids per subspace → 4-bit codes

  /** Per-subspace codebook training + encoding, all integer arithmetic:
    * subvector slices of the 1e6-quantized vectors, seeds = the k-means
    * seed pool's first PqK vectors (hash60-ordered, deterministic), one
    * Lloyd update per subspace (truncated-mean centroids, `div`), final
    * assignment = the 4-bit code. Ends in codes(vec_id, s, code) and
    * c1(s, cid, cv). */
  private val sqlPq: String = {
    def sqAssign(cb: String, out: String): String = s"""
$out AS (
  SELECT vec_id, s, sv,
    list_min(list_transform(list_filter(sc, e -> e.dist = best), e -> e.cid)) AS cid
  FROM (SELECT vec_id, s, sv, sc,
      list_min(list_transform(sc, e -> e.dist)) AS best
    FROM (SELECT v.vec_id, v.s, v.sv,
        list_transform(cb.cl, e -> struct_pack(cid := e.cid,
          dist := CAST(list_sum(list_transform(range(1, ${PqSubDim + 1}), i ->
            (list_extract(v.sv, CAST(i AS INT)) - list_extract(e.cv, CAST(i AS INT)))
            * (list_extract(v.sv, CAST(i AS INT)) - list_extract(e.cv, CAST(i AS INT)))))
            AS BIGINT))) AS sc
      FROM sub v JOIN $cb cb USING (s))))"""
    s"""$sqlQvt,
ss AS (SELECT CAST(unnest(range(1, ${PqM + 1})) AS BIGINT) AS s),
sub AS (SELECT vec_id, s,
    list_slice(qv, CAST((s - 1) * $PqSubDim + 1 AS INT), CAST(s * $PqSubDim AS INT)) AS sv
  FROM qvt, ss),
seedc AS (
  SELECT CAST(row_number() OVER (ORDER BY hp, vec_id) AS BIGINT) AS cid, qv
  FROM (SELECT vec_id, qv, $sqlHash60VecId AS hp FROM qvt
        QUALIFY row_number() OVER (ORDER BY $sqlHash60VecId, vec_id) <= $PqK)),
c0 AS (SELECT s, cid,
    list_slice(qv, CAST((s - 1) * $PqSubDim + 1 AS INT), CAST(s * $PqSubDim AS INT)) AS cv
  FROM seedc, ss),
cb0 AS (SELECT s, list(struct_pack(cid := cid, cv := cv) ORDER BY cid) AS cl
  FROM c0 GROUP BY s),
${sqAssign("cb0", "a0")},
psums AS (
  SELECT s, cid, t.i AS pos,
    CAST(sum(list_extract(sv, CAST(t.i AS INT))) AS BIGINT) AS sx, count(*) AS n
  FROM a0, range(1, ${PqSubDim + 1}) t(i) GROUP BY s, cid, t.i),
c1 AS (SELECT s, cid, list(sx // n ORDER BY pos) AS cv FROM psums GROUP BY s, cid),
cb1 AS (SELECT s, list(struct_pack(cid := cid, cv := cv) ORDER BY cid) AS cl
  FROM c1 GROUP BY s),
${sqAssign("cb1", "codes")}"""
  }

  /** Approximate nearest neighbors via PRODUCT QUANTIZATION with
    * asymmetric distance computation (ADC) — the memory-bound ANN scale
    * path next to the LSH (q_ann_buckets) and IVF (q_ivf_topk) recall
    * paths: each vector is compressed to PqM 4-bit codes (64 dims →
    * 4 bytes, a 64× footprint reduction at 100 TB the uncompressed
    * corpus cannot match), queries precompute a (query, subspace,
    * centroid) distance table, and a candidate's approximate distance is
    * m table lookups + adds — no per-pair vector math at all. The top-k
    * by ADC also carries each pair's EXACT integer L2², so the
    * quantization error is a measured column in the result, the same
    * recall-is-a-number discipline as q_ann_recall.
    *
    * Everything is integer-exact (quantized subvectors, squared-diff
    * distances, truncated-mean Lloyd update, min-cid tie-breaks), so the
    * full train→encode→ADC pipeline hash-matches the DuckDB oracle.
    *
    * Scale shape: codebooks are PqM·PqK·PqSubDim longs (8 KB) broadcast
    * everywhere; training is one bounded exchange (K·m·subdim partial
    * sums); encoding is a zero-shuffle broadcast-HOF projection (the
    * kmAssign pattern); the ADC distance table is PqM·PqK·queries rows
    * (512) broadcast onto the code stream; the only corpus-sized shuffle
    * is the per-(query, candidate) partial-sum aggregation feeding the
    * top-k window — the same shape q_cosine_topk already pays, on rows
    * that carry 3 longs instead of 64. */
  private val qPqTopk = QueryDef(
    "q_pq_topk",
    Some(s"""WITH $sqlPq,
qsub AS (SELECT vec_id AS query_id, s, sv FROM sub WHERE vec_id < $NumQueries),
dtab AS (
  SELECT q.query_id, c.s, c.cid,
    CAST(list_sum(list_transform(range(1, ${PqSubDim + 1}), i ->
      (list_extract(q.sv, CAST(i AS INT)) - list_extract(c.cv, CAST(i AS INT)))
      * (list_extract(q.sv, CAST(i AS INT)) - list_extract(c.cv, CAST(i AS INT)))))
      AS BIGINT) AS d2
  FROM qsub q JOIN c1 c USING (s)),
adc AS (
  SELECT d.query_id, c.vec_id AS cand_id, CAST(sum(d.d2) AS BIGINT) AS adc_dist
  FROM codes c JOIN dtab d ON d.s = c.s AND d.cid = c.cid
  WHERE c.vec_id <> d.query_id
  GROUP BY d.query_id, c.vec_id),
ranked AS (
  SELECT query_id, cand_id, adc_dist,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY adc_dist ASC, cand_id) AS BIGINT) AS rnk
  FROM adc),
top AS (SELECT * FROM ranked WHERE rnk <= $TopK)
SELECT t.query_id, t.rnk, t.cand_id, t.adc_dist,
  CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
    (list_extract(a.qv, CAST(i AS INT)) - list_extract(b.qv, CAST(i AS INT)))
    * (list_extract(a.qv, CAST(i AS INT)) - list_extract(b.qv, CAST(i AS INT)))))
    AS BIGINT) AS exact_dist
FROM top t JOIN qvt a ON a.vec_id = t.query_id JOIN qvt b ON b.vec_id = t.cand_id
ORDER BY query_id, rnk"""),
    (spark, dir) => {
      val qvt = tblWide(spark, dir, "embeddings")
        .select(col("vec_id"), expr(quantizeExpr).as("qv"))
      val sub = qvt.select(col("vec_id"), expr(
          s"""explode(transform(sequence(1, $PqM), s -> struct(
             |  CAST(s AS BIGINT) AS s,
             |  slice(qv, (s - 1) * $PqSubDim + 1, $PqSubDim) AS sv)))
             |""".stripMargin).as("e"))
        .select(col("vec_id"), col("e.s").as("s"), col("e.sv").as("sv"))
      val wseed = Window.orderBy("hp", "vec_id")
      val seedc = qvt
        .withColumn("hp", PortableHash.hash60(col("vec_id").cast("string")))
        .orderBy("hp", "vec_id").limit(PqK)
        .select(row_number().over(wseed).cast("long").as("cid"), col("qv"))
      val c0 = seedc.select(col("cid"), expr(
          s"""explode(transform(sequence(1, $PqM), s -> struct(
             |  CAST(s AS BIGINT) AS s,
             |  slice(qv, (s - 1) * $PqSubDim + 1, $PqSubDim) AS cv)))
             |""".stripMargin).as("e"))
        .select(col("e.s").as("s"), col("cid"), col("e.cv").as("cv"))
      // per-subspace packed codebook: PqM rows, each an ordered centroid
      // list — broadcast onto the subvector stream, assignment is a
      // zero-shuffle HOF argmin exactly like kmAssign
      def pack(c: DataFrame): DataFrame = c
        .groupBy("s")
        .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cl"))
      def assign(cb: DataFrame): DataFrame = sub
        .join(broadcast(cb), "s")
        // native argmin (km_argmin, 2-field codebook variant: ||cv||²
        // computed inside the same loop) — value-identical to the HOF
        // chain, without its per-centroid interpreted-lambda cost
        .withColumn("am", call_function("km_argmin", col("sv"), col("cl")))
        .select(col("vec_id"), col("s"), col("sv"),
          col("am.cid").as("cid"))
      val a0 = assign(pack(c0))
      val psums = a0
        .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("s", "cid", "pos")
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      val c1 = psums
        .select(col("s"), col("cid"), col("pos"), expr("sx div n").as("m"))
        .groupBy("s", "cid")
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("s"), col("cid"), expr("transform(pm, p -> p.m)").as("cv"))
      val codes = assign(pack(c1))
      val qsub = sub.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("s"), col("sv").as("qsv"))
      val dtab = qsub.join(c1, "s")
        .select(col("query_id"), col("s"), col("cid"),
          (call_function("long_dot", col("qsv"), col("qsv"))
            - lit(2) * call_function("long_dot", col("qsv"), col("cv"))
            + call_function("long_dot", col("cv"), col("cv"))).as("d2"))
      val adc = codes
        .join(broadcast(dtab), Seq("s", "cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"), col("d2"))
        .groupBy("query_id", "cand_id")
        .agg(sum(col("d2")).as("adc_dist"))
      val w = Window.partitionBy("query_id").orderBy(asc("adc_dist"), asc("cand_id"))
      val top = adc
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= TopK)
      top
        .join(qvt.select(col("vec_id").as("query_id"), col("qv").as("qa")), "query_id")
        .join(qvt.select(col("vec_id").as("cand_id"), col("qv").as("qb")), "cand_id")
        .select(col("query_id"), col("rnk"), col("cand_id"), col("adc_dist"),
          (call_function("long_dot", col("qa"), col("qa"))
            - lit(2) * call_function("long_dot", col("qa"), col("qb"))
            + call_function("long_dot", col("qb"), col("qb"))).as("exact_dist"))
        .orderBy("query_id", "rnk")
    })

  // ---- embedding-space decontamination ----
  // The n-gram decontamination (q_decontaminate, Dedup.scala) catches
  // verbatim benchmark leakage; PARAPHRASED leakage needs the embedding
  // space: flag every training vector whose cosine against ANY benchmark
  // vector reaches τ. Shape for 100 TB: the benchmark set is FIXED SIZE
  // (a benchmark does not grow with the training corpus — the q_cosine
  // NumQueries discipline), packed to one broadcast row; the corpus scan
  // is MAP-ONLY (per-vector loop over the 32-entry benchmark list — a
  // bounded-K HOF, deliberately NOT the adaptive-K regime km_argmin
  // exists for); the only exchange is the output sort. Arithmetic is
  // integer-exact both engines: this query re-quantizes at 1e3 (not the
  // shared 1e6) because the threshold test squares the dot —
  // 400·dot² ≥ 81·xx·yy (τ=0.45, τ²=81/400) with |v|≤0.58, d=64 keeps
  // every operand under ~2e17, inside BIGINT; at 1e6 the square would
  // overflow (the q_bm25 split-division lesson applied at design time).
  // Output = the full audit frame (vec_id, max benchmark dot, hit
  // count), not just the flagged tail — the corpus here is random
  // (max observed cross-cosine ≈ 0.51), and an audit frame stays
  // populated and hash-comparable at every SF while still carrying
  // every contamination hit when there is one.
  private val DecontamBench = 32
  private val DecontamTauSqNum = 81   // τ² = 81/400 → τ = 0.45
  private val DecontamTauSqDen = 400
  private val quantize3Expr =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
  private def sqlQuant3Elem(list: String, idx: String): String =
    s"CAST(round(CAST(list_extract($list, $idx) AS DOUBLE) * 1000) AS BIGINT)"

  private val qEmbedDecontam = QueryDef(
    "q_embed_decontam",
    Some(s"""
      |WITH q3 AS (
      |  SELECT vec_id,
      |    list_transform(range(1, ${Dim + 1}),
      |      i -> ${sqlQuant3Elem("embedding", "CAST(i AS INT)")}) AS qv
      |  FROM embeddings),
      |withxx AS (
      |  SELECT vec_id, qv,
      |    CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
      |      list_extract(qv, CAST(i AS INT)) * list_extract(qv, CAST(i AS INT)))) AS BIGINT) AS xx
      |  FROM q3),
      |bl AS (
      |  SELECT list(struct_pack(cv := qv, cc := xx) ORDER BY vec_id) AS bl
      |  FROM withxx WHERE vec_id < $DecontamBench),
      |scored AS (
      |  SELECT t.vec_id, t.xx,
      |    list_transform(bl.bl, b -> struct_pack(
      |      d := CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
      |        list_extract(t.qv, CAST(i AS INT)) * list_extract(b.cv, CAST(i AS INT)))) AS BIGINT),
      |      cc := b.cc)) AS sc
      |  FROM withxx t, bl WHERE t.vec_id >= $DecontamBench)
      |SELECT vec_id,
      |  list_max(list_transform(sc, s -> s.d)) AS max_dot,
      |  CAST(len(list_filter(sc, s -> s.d > 0 AND
      |    $DecontamTauSqDen * s.d * s.d >= $DecontamTauSqNum * xx * s.cc)) AS BIGINT) AS n_hits
      |FROM scored ORDER BY vec_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val emb = tblWide(spark, dir, "embeddings")
        .select(col("vec_id"), expr(quantize3Expr).as("qv"))
        .withColumn("xx", call_function("long_dot", col("qv"), col("qv")))
      val bench = emb.filter(col("vec_id") < DecontamBench)
        .select(col("vec_id"), col("qv").as("cv"), col("xx").as("cc"))
        .agg(sort_array(collect_list(struct(col("vec_id"), col("cv"),
          col("cc")))).as("bl"))
      emb.filter(col("vec_id") >= DecontamBench)
        .crossJoin(broadcast(bench))
        .withColumn("sc", expr(
          "transform(bl, b -> struct(long_dot(qv, b.cv) AS d, b.cc AS cc))"))
        .select(col("vec_id"),
          expr("array_max(transform(sc, s -> s.d))").as("max_dot"),
          expr(s"""CAST(size(filter(sc, s -> s.d > 0 AND
            $DecontamTauSqDen * s.d * s.d >= $DecontamTauSqNum * xx * s.cc))
            AS BIGINT)""").as("n_hits"))
        .orderBy("vec_id")
    })

  val defs: Seq[QueryDef] = Seq(
    qCosineTopk, qHardNegatives, qAnnBuckets, qAnnBucketStats, qArrayFuncs,
    qNeardupBucketed,
    qIvfAssign, qIvfTopk, qIvfBuild, qIvfProbe, qIvfIvm, qAnnRecall,
    qAnnRecallClustered, qIvfRecall, qIvfRecallClustered, qAnnMultiprobe,
    qKmeansAssign, qKmeansProfile,
    qSemdedup, qPqTopk, qEmbedDecontam)
}
