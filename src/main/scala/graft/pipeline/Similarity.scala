package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (SURVEY.md §2B B29 + ANN
  * extensions; technique grounding: top-k similarity, EDBT'20/ICDE'21 —
  * PAPERS.md).
  *
  * Scale design:
  *  - the query vector is a one-row DataFrame broadcast to every executor —
  *    never collected into driver-side literals, never shuffled;
  *  - brute-force top-k is a narrow map (zip_with/aggregate fold, all
  *    codegen-friendly built-ins) + TakeOrderedAndProject, so each
  *    partition returns only k rows;
  *  - the IVF-style variant prunes the scan to the query's coarse partition
  *    (here the precomputed `label` column; at 100 TB a k-means assignment
  *    materialized at ingest and used as a partition key, turning top-k
  *    into a partition-pruned scan of ~1/nlist of the data);
  *  - near-dup detection and the LSH ANN variant bucket vectors with
  *    banded random-hyperplane sign projections, so candidate generation
  *    is an EQUI-join on (band, bucket) — never an all-pairs product. The
  *    hyperplanes are derived from pure integer arithmetic (a Knuth
  *    multiplicative hash of (plane, dim)), and the projection quantizes
  *    coordinates to integers first, so the bucket ids are bit-exact
  *    reproducible in any engine — the DuckDB oracle recomputes them.
  */
object Similarity {
  private def dbl(c: Column): Column = c.cast("double")

  // Dot/norm evaluate through the native codegen'd VecDot/VecNorm2
  // expressions (same array-order double accumulation as the
  // zip_with/aggregate folds they replaced — ExpressionsSpec proves
  // equality — but no per-element lambda dispatch per candidate pair).
  // Each query-building method registers the functions on ITS session
  // (`reg(s)`) before constructing columns; the active-session fallback
  // below only covers callers of the bare [[cosine]] helper, whose
  // Column-only signature cannot name a target session.
  private def reg(s: SparkSession): Unit =
    graft.functions.GraftFunctions.register(s)

  private def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  private def norm2(a: Column): Column =
    call_function("vec_norm2", a)

  /** Cosine similarity between two array<float> columns (exact, double
    * accumulation in array order — reproducible across engines).
    *
    * With an active session the native codegen'd VecDot/VecNorm2 path is
    * used; without one (Column built on a bare thread) it falls back to
    * the built-in zip_with/aggregate fold — proven element-for-element
    * equal in ExpressionsSpec — instead of failing analysis later with an
    * obscure "undefined function: vec_dot". */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        reg(s)
        dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))
      case None =>
        def fDot(x: Column, y: Column) = aggregate(
          zip_with(x, y, (p, q) => dbl(p) * dbl(q)), lit(0.0), (acc, v) => acc + v)
        fDot(a, b) / (sqrt(fDot(a, a)) * sqrt(fDot(b, b)))
    }

  // ---------------------------------------------------------------- B29
  /** Brute-force cosine top-k of all vectors vs the vec_id=0 query row. */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    reg(s)
    val e = Tables.t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("embedding"), col("q_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  private val b29Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       z AS (SELECT vec_id, unnest(embedding) AS x, unnest((SELECT qe FROM q)) AS y
             FROM embeddings WHERE vec_id <> 0),
       s AS (SELECT vec_id,
               sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
               sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
               sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nq
             FROM z GROUP BY vec_id)
       SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 4) AS cosine
       FROM s ORDER BY cosine DESC, vec_id LIMIT 10"""

  // --------------------------------------------------------------- x111
  /** Output dimensionality of the JL sign projection (64 → 16). */
  val JlDims = 16

  /** x111 — Johnson–Lindenstrauss sign-projection distortion audit
    * (Achlioptas 2003's database-friendly ±1 projections; the JL lemma
    * is the license behind every "project then search" shortcut): map
    * each embedding to [[JlDims]] signed sums y_p = Σ_j sign(p, j)·q_j
    * over the ×1e6 integer coordinates, then measure what the 4×
    * compression does to geometry: for each consecutive pair of the
    * vec_id % 17 audit slice, the full-space cosine vs the projected
    * cosine and the absolute error.
    *
    * The sign hash is deliberately NOT the LSH bucketer's linear Knuth
    * step: h(p·C + j) with h LINEAR means row p′ is row p shifted by a
    * constant mod P, so two planes' sign sequences can agree almost
    * everywhere (measured: plane-pair correlation up to 1.0 — harmless
    * for banded sign BITS, fatal for coordinates whose errors must
    * average out across independent planes; mean cosine error read
    * 0.49 instead of the JL band's 0.25). One SQUARING between the two
    * Knuth multiplications breaks the linearity: x → (x·K)² ·K mod P —
    * measured plane correlation ≤ 0.28 and mean error 0.18, inside
    * the 1/√d′ band. All operands stay under P² ≈ 10¹⁸ < 2⁶³.
    *
    * Pairs come from an id-shift equi-join (v ↔ v+17), so there is no
    * window and no product anywhere; every sum is BIGINT-exact and the
    * two cosines round at 4dp from identical integer triples, so the
    * audit itself is engine-exact even though the DISTORTION it
    * measures is the random-projection error the JL bound predicts
    * (IvfSpec gates the realized mean inside 0.25).
    *
    * Scale: slice → (vec, dim) explode → one vec-keyed agg for the
    * projection; pair dots are dim-keyed equi-joins restricted to the
    * slice. At 100 TB the audit runs on the same 1/17 sample discipline
    * as the x11/x20 registered slices. */
  def jlDistortion(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings").filter(col("vec_id") % 17 === 0)
    val qs = e.select(col("vec_id"),
      posexplode(transform(col("embedding"), x => quant(x))).as(Seq("j", "q")))
    val P = HashConstants.HashPrime
    val projSums = (0 until JlDims).map { p =>
      val mixed = expr(
        s"""((($p * 10007 + j + 1) * $Knuth % $P)
            * (($p * 10007 + j + 1) * $Knuth % $P) % $P) * $Knuth % $P""")
      sum(when(mixed >= P / 2, col("q")).otherwise(-col("q"))).as(s"y$p")
    }
    val proj = qs.groupBy("vec_id").agg(projSums.head, projSums.tail: _*)
    val pairs = e.select(col("vec_id").as("va"))
      .join(e.select(col("vec_id").as("vb")), col("vb") === col("va") + 17)
    val full = pairs
      .join(qs.select(col("vec_id").as("va"), col("j"), col("q").as("qa")),
        Seq("va"))
      .join(qs.select(col("vec_id").as("vb"), col("j"), col("q").as("qb")),
        Seq("vb", "j"))
      .groupBy("va", "vb")
      .agg(sum(expr("qa * qb")).as("dot"), sum(expr("qa * qa")).as("na"),
        sum(expr("qb * qb")).as("nb"))
      .select(col("va"), col("vb"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 4)
          .as("cos_full"))
    val dotJl = (0 until JlDims).map(p => expr(s"a.y$p * b.y$p"))
      .reduce(_ + _)
    val nJl = (frame: String) => (0 until JlDims)
      .map(p => expr(s"$frame.y$p * $frame.y$p")).reduce(_ + _)
    val jl = pairs
      .join(proj.as("a"), col("va") === col("a.vec_id"))
      .join(proj.as("b"), col("vb") === col("b.vec_id"))
      .select(col("va"), col("vb"),
        round(dotJl.cast("double") /
          (sqrt(nJl("a").cast("double")) * sqrt(nJl("b").cast("double"))), 4)
          .as("cos_jl"))
    full.join(jl, Seq("va", "vb"))
      .withColumn("abs_err", round(abs(col("cos_full") - col("cos_jl")), 4))
      .orderBy("va")
  }

  private lazy val x111Sql = {
    val P = HashConstants.HashPrime
    val ys = (0 until JlDims).map(p =>
      s"""CAST(sum(CASE WHEN ((($p * 10007 + j + 1) * $Knuth % $P)
             * (($p * 10007 + j + 1) * $Knuth % $P) % $P) * $Knuth % $P
             >= ${P / 2} THEN q ELSE -q END) AS BIGINT) AS y$p""")
      .mkString(",\n           ")
    val dotJl = (0 until JlDims).map(p => s"a.y$p * b.y$p").mkString(" + ")
    def nJl(f: String) = (0 until JlDims).map(p => s"$f.y$p * $f.y$p")
      .mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id % 17 = 0),
       qs AS (SELECT vec_id, j,
                CAST(round(CAST(embedding[j + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS q
              FROM e, unnest(generate_series(0, len(embedding) - 1)) u(j)),
       proj AS (SELECT vec_id,
           $ys
         FROM qs GROUP BY vec_id),
       pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
                 FROM e a JOIN e b ON b.vec_id = a.vec_id + 17),
       fc AS (SELECT p.va, p.vb,
                  round(CAST(sum(x.q * y.q) AS DOUBLE)
                    / (sqrt(CAST(sum(x.q * x.q) AS DOUBLE))
                       * sqrt(CAST(sum(y.q * y.q) AS DOUBLE))), 4) AS cos_full
                FROM pairs p JOIN qs x ON p.va = x.vec_id
                     JOIN qs y ON p.vb = y.vec_id AND x.j = y.j
                GROUP BY p.va, p.vb),
       jl AS (SELECT p.va, p.vb,
                round(CAST($dotJl AS DOUBLE)
                  / (sqrt(CAST(${nJl("a")} AS DOUBLE))
                     * sqrt(CAST(${nJl("b")} AS DOUBLE))), 4) AS cos_jl
              FROM pairs p JOIN proj a ON p.va = a.vec_id
                   JOIN proj b ON p.vb = b.vec_id)
       SELECT f.va, f.vb, f.cos_full, j2.cos_jl,
         round(abs(f.cos_full - j2.cos_jl), 4) AS abs_err
       FROM fc f JOIN jl j2 ON f.va = j2.va AND f.vb = j2.vb
       ORDER BY f.va"""
  }

  // --------------------------------------------------------------- x101
  /** First-stage shortlist ranks on this embedding PREFIX (32 of 64
    * dims = 2× fewer scan bytes); the funnel re-ranks with full dims. */
  val MatryoshkaPrefixDims = 32
  /** Shortlist width R ≫ k absorbs prefix-ranking error before the
    * exact re-rank. */
  val MatryoshkaShortlist = 100

  /** x101 — Matryoshka adaptive retrieval (Kusupati et al., NeurIPS
    * 2022 §4.3 "adaptive retrieval"): MRL-trained embeddings pack the
    * most discriminative directions into the PREFIX, so retrieval can
    * shortlist with the first [[MatryoshkaPrefixDims]] dims (2× fewer
    * bytes scanned than b29's full-dim pass) and re-rank only the
    * [[MatryoshkaShortlist]]-row shortlist with full dims — the
    * published funnel. These synthetic embeddings are not MRL-trained
    * (disclosed), so the prefix is an untrained truncation — IvfSpec
    * measures the funnel's recall against exact b29 rather than
    * assuming the paper's; the PLAN properties (prefix-width scan,
    * bounded re-rank) hold regardless of training.
    *
    * Both stages round cosines to 4dp BEFORE their cut and break ties
    * on vec_id, so shortlist membership and the final top-k are
    * engine-deterministic (the b29 discipline). Scale: stage 1 is
    * b29's shape on a 2×-narrower vector (query broadcast, corpus
    * streams map-side into a TakeOrderedAndProject heap — no shuffle);
    * stage 2 touches R rows. At rest the prefix can live as its own
    * column/file (MRL's storage layout), making the byte cut physical;
    * here it is a `slice`, the logical form of the same plan. */
  def annMatryoshkaTopK(s: SparkSession, dir: String): DataFrame = {
    reg(s)
    val e = Tables.t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"),
        slice(col("embedding"), 1, MatryoshkaPrefixDims).as("q_pre"))
    val short = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("q_emb"),
        round(cosine(slice(col("embedding"), 1, MatryoshkaPrefixDims),
          col("q_pre")), 4).as("cos_pre"))
      .orderBy(col("cos_pre").desc, col("vec_id"))
      .limit(MatryoshkaShortlist)
    short
      .select(col("vec_id"), col("cos_pre"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  private lazy val x101Sql =
    s"""WITH q AS (SELECT embedding AS qe,
             embedding[1:$MatryoshkaPrefixDims] AS qp
           FROM embeddings WHERE vec_id = 0),
       zp AS (SELECT vec_id, unnest(embedding[1:$MatryoshkaPrefixDims]) AS x,
                unnest((SELECT qp FROM q)) AS y
              FROM embeddings WHERE vec_id <> 0),
       sp AS (SELECT vec_id,
                sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
                sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nq
              FROM zp GROUP BY vec_id),
       pre AS (SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 4) AS cos_pre
               FROM sp),
       short AS (SELECT vec_id, cos_pre FROM pre
                 ORDER BY cos_pre DESC, vec_id LIMIT $MatryoshkaShortlist),
       zf AS (SELECT e.vec_id, unnest(e.embedding) AS x,
                unnest((SELECT qe FROM q)) AS y
              FROM embeddings e JOIN short ON e.vec_id = short.vec_id),
       sf AS (SELECT vec_id,
                sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
                sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nq
              FROM zf GROUP BY vec_id)
       SELECT sf.vec_id, short.cos_pre,
         round(sf.dot / (sqrt(sf.na) * sqrt(sf.nq)), 4) AS cosine
       FROM sf JOIN short ON sf.vec_id = short.vec_id
       ORDER BY cosine DESC, sf.vec_id LIMIT 10"""

  // ---------------------------------------------------------------- IVF
  /** IVF-style ANN: restrict the scan to the query vector's coarse
    * partition (`label`), then exact cosine top-k inside it. */
  def annIvfTopK(s: SparkSession, dir: String): DataFrame = {
    reg(s)
    val e = Tables.t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("label").as("q_label"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("label") === col("q_label"))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  private val b29bSql =
    """WITH q AS (SELECT embedding AS qe, label AS ql FROM embeddings WHERE vec_id = 0),
       z AS (SELECT vec_id, label, unnest(embedding) AS x, unnest((SELECT qe FROM q)) AS y
             FROM embeddings WHERE vec_id <> 0 AND label = (SELECT ql FROM q)),
       s AS (SELECT vec_id, label,
               sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
               sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
               sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nq
             FROM z GROUP BY vec_id, label)
       SELECT vec_id, label, round(dot / (sqrt(na) * sqrt(nq)), 4) AS cosine
       FROM s ORDER BY cosine DESC, vec_id LIMIT 5"""

  // ---------------------------------------------------------------- LSH
  /** Random-hyperplane LSH banding layout: `bands` bands × `bits` sign
    * bits. Two vectors are candidates iff ALL bits of at least one band
    * agree — banding trades per-band precision for recall exactly as in
    * MinHash LSH. The layout is a PARAMETER of every bucket builder
    * ([[bucketedOf]], [[embeddingNearDupsLshOn]],
    * [[incrementalSemanticDedupBucketed]], [[lshCostProfileOn]]) so the
    * engine can act on its own cost measurements: [[lshLayoutProfileOn]]
    * (x136b) sweeps [[LshLayoutLadder]] and [[selectLshLayout]] turns
    * the profile into a layout choice — the governance loop the r15
    * audit asked for (the constants were previously hard-coded and the
    * x136 profile could only be read, never applied). */
  final case class LshLayout(bands: Int, bits: Int) {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(bits >= 1 && bits <= 63,
      s"bits must fit a signed-long bucket id (1..63), got $bits")
    def nPlanes: Int = bands * bits
  }

  /** The historical 2-band × 16-bit layout (the pre-r17 default for the
    * pair-generating registrations, now flipped to [[SelectedLshLayout]]
    * — the x136b ladder measured 2×16 as its WORST row, 37.1M sf1
    * candidates vs 6.5M selected). Still the layout of the bucket-COUNT
    * consumers that want multi-band collision paths or profile the
    * historical table: x07's query-time ANN (2 bands = 2 recall paths
    * per vector at no pair cost — it joins only against the one query
    * vector's buckets), x97's density estimate, and the x136 cap
    * profile. None of those materialize a corpus pair set, so the
    * candidate-mass economics that forced the flip do not apply. */
  val DefaultLshLayout: LshLayout = LshLayout(2, 16)

  /** The layout [[selectLshLayout]] picks off this corpus's x136b
    * profile (SimilarityLayoutSpec pins the equality at test scale, so
    * this constant can never silently drift from the rule): one band of
    * 63 sign bits. Measured on the sf1 scale-up corpus: candidate mass
    * 37,118,462 → 6,548,359 (5.67× down) vs the 2×16 default, and
    * 5.75× down at sf0.1 — while the dispatch-regime recall floor
    * (identical re-encodings) is untouched by construction, which
    * x36b's brute-force oracle certifies end-to-end every round. As of
    * r17 this is the DEFAULT of every pair-generating builder
    * ([[embeddingNearDupsLshOn]], [[crossSemanticPairs]],
    * [[semanticLabelsAt]], [[x09PairCtes]]) — declared here, above the
    * first oracle `val` that interpolates it, because object-init order
    * is the one place a forward reference turns into a null. */
  val SelectedLshLayout: LshLayout = LshLayout(1, 63)

  val LshBands: Int = DefaultLshLayout.bands
  val LshBandBits: Int = DefaultLshLayout.bits
  private val NPlanes = DefaultLshLayout.nPlanes
  // (plane, dim) → well-mixed bits via the shared Knuth hash constants.
  private val Knuth = HashConstants.Knuth
  private val TwoTo32 = HashConstants.TwoTo32

  /** Quantize a coordinate to an integer (×1e6) so the projection sum is
    * order-independent EXACT integer arithmetic — bucket ids then match
    * bit-for-bit across engines regardless of aggregation order. */
  private def quant(x: Column): Column =
    round(dbl(x) * 1000000, 0).cast("long")

  /** (vec_id, band, bucket) — one row per band per vector.
    *
    * Computed as a flat explode→aggregate pipeline rather than nested
    * higher-order folds: (vec, dim, plane) rows are narrow longs flowing
    * through whole-stage codegen, and the two aggregations combine
    * map-side before their exchanges. The input is repartitioned first so
    * a single-file local read does not serialize the projection work — at
    * deployment scale the scan is already many-partition and the
    * repartition collapses into the existing distribution. */
  private def bucketed(s: SparkSession, dir: String): DataFrame =
    bucketedOf(Tables.t(s, dir, "embeddings"))

  /** (vec_id, band, bucket) of an arbitrary (vec_id, embedding) frame —
    * the library form behind [[bucketed]] and the x36b bucketed
    * incremental tier (which buckets a BATCH frame, not the table). */
  private[pipeline] def bucketedOf(emb: DataFrame): DataFrame =
    bucketedOf(emb, DefaultLshLayout)

  /** (vec_id, s0..s{nPlanes-1}) — the per-vector signed projection sums
    * every banding layout's buckets derive from. Factored out of
    * [[bucketedOf]] so the x136b ladder sweep can compute the WIDEST
    * layout's projections ONCE and slice every narrower layout from the
    * same columns (plane p's definition depends only on p, never on the
    * layout, so layout (bands, bits) reads planes 0..bands·bits−1 of any
    * wider frame bit-identically). */
  private def projOf(emb: DataFrame, nPlanes: Int): DataFrame = {
    val e = emb.repartition(col("vec_id"))
    // One row per (vector, dimension); the PLANE axis stays columnar — the
    // plane index is static per expression, so each projection is a plain
    // conditional sum and all nPlanes of them ride ONE aggregation (no
    // nPlanes× row blowup, no lambda in the aggregate, exchange-free after
    // the repartition).
    val byDim = e.select(col("vec_id"),
      posexplode(transform(col("embedding"), x => quant(x))).as(Seq("j", "q")))
    val projSums = (0 until nPlanes).map { p =>
      sum(when(((lit(p.toLong) * 10007L + col("j")) * Knuth) % TwoTo32 >= TwoTo32 / 2,
        col("q")).otherwise(-col("q"))).as(s"s$p")
    }
    byDim.groupBy("vec_id").agg(projSums.head, projSums.tail: _*)
  }

  /** (vec_id, band, bucket) from a [[projOf]] frame carrying at least
    * `layout.nPlanes` projection columns. */
  private def bucketsFromProj(proj: DataFrame, layout: LshLayout): DataFrame = {
    val bands = (0 until layout.bands).map { b =>
      (0 until layout.bits).map { k =>
        when(col(s"s${b * layout.bits + k}") > 0, lit(1L << k)).otherwise(0L)
      }.reduce(_ + _)
    }
    proj.select(col("vec_id"),
      posexplode(array(bands: _*)).as(Seq("band", "bucket")))
  }

  /** [[bucketedOf]] at an explicit banding [[LshLayout]]. */
  private[pipeline] def bucketedOf(emb: DataFrame, layout: LshLayout): DataFrame =
    bucketsFromProj(projOf(emb, layout.nPlanes), layout)

  /** Shared DuckDB CTE computing the same (vec_id, band, bucket) rows at
    * an arbitrary layout. The dims CTE derives the dimensionality from
    * the data (as the Spark side's posexplode does) rather than
    * hardcoding it; `sfx` suffixes the CTE names so the x136b layout
    * sweep can place several layouts' chains in ONE statement. The shift
    * base is CAST to BIGINT because 63-bit layouts shift past INT32. */
  private[pipeline] def bucketsCteFor(l: LshLayout, sfx: String = ""): String =
    s"""dims$sfx AS (SELECT unnest(generate_series(0,
           (SELECT max(len(embedding)) - 1 FROM embeddings))) AS j),
       planes$sfx AS (SELECT p FROM generate_series(0, ${l.nPlanes - 1}) t(p)),
       z$sfx AS (SELECT vec_id, j, embedding[j + 1] AS x FROM embeddings CROSS JOIN dims$sfx),
       proj$sfx AS (SELECT vec_id, p,
           sum(CASE WHEN ((p * 10007 + j) * $Knuth) % $TwoTo32 >= ${TwoTo32 / 2}
               THEN CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
               ELSE -CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) END) AS s
         FROM z$sfx CROSS JOIN planes$sfx GROUP BY vec_id, p),
       buckets$sfx AS (SELECT vec_id, p // ${l.bits} AS band,
           sum(CASE WHEN s > 0 THEN 1 ELSE 0 END * (CAST(1 AS BIGINT) << (p % ${l.bits}))) AS bucket
         FROM proj$sfx GROUP BY vec_id, p // ${l.bits})"""

  private val bucketsCte = bucketsCteFor(DefaultLshLayout)

  /** LSH-bucketed ANN: candidates share ≥1 band bucket with the vec_id=0
    * query vector; exact cosine ranks them. Candidate generation is a
    * broadcast equi-join on (band, bucket). */
  def annLshQuery(s: SparkSession, dir: String): DataFrame = {
    reg(s)
    val b = bucketed(s, dir)
    val qb = b.filter(col("vec_id") === 0).select(col("band"), col("bucket"))
    val qe = Tables.t(s, dir, "embeddings")
      .filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val cand = b.filter(col("vec_id") =!= 0)
      .join(broadcast(qb), Seq("band", "bucket"))
      .select(col("vec_id")).distinct()
    cand
      .join(Tables.t(s, dir, "embeddings"), "vec_id")
      .crossJoin(broadcast(qe))
      .select(col("vec_id"), round(cosine(col("embedding"), col("q_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  private val x07Sql =
    s"""WITH $bucketsCte,
       qb AS (SELECT band, bucket FROM buckets WHERE vec_id = 0),
       cand AS (SELECT DISTINCT b.vec_id FROM buckets b JOIN qb USING (band, bucket)
                WHERE b.vec_id <> 0),
       pz AS (SELECT e.vec_id, unnest(e.embedding) AS x,
                unnest((SELECT embedding FROM embeddings WHERE vec_id = 0)) AS y
              FROM embeddings e JOIN cand USING (vec_id)),
       sc AS (SELECT vec_id,
                sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
                sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nq
              FROM pz GROUP BY vec_id)
       SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 4) AS cosine
       FROM sc ORDER BY cosine DESC, vec_id"""

  // ------------------------------------------------------- near-dup (x09)
  /** Embedding near-dup detection, LSH-bucketed (the embedding analogue of
    * B28's posting-list join): candidate pairs collide in ≥1 band
    * (equi-join on (band, bucket), distinct), then exact cosine verifies
    * against `threshold`. No all-pairs product anywhere — candidate cost
    * is Σ_bucket n_b², i.e. proportional to genuine cluster structure,
    * not to n². */
  def embeddingNearDupsLsh(s: SparkSession, dir: String, threshold: Double = 0.3): DataFrame =
    embeddingNearDupsLshOn(Tables.t(s, dir, "embeddings"), threshold)

  /** [[embeddingNearDupsLsh]] over an arbitrary (vec_id, embedding)
    * frame — the library form the x46 pipeline composes (its semantic
    * tier clusters the pair graph restricted to the docs still alive at
    * that stage).
    *
    * DEFAULT LAYOUT = [[SelectedLshLayout]] as of r17 (previously the
    * 2×16 [[DefaultLshLayout]]). The x136b governance loop chose it
    * (5.67× less candidate mass at sf1, the ladder's cheapest row) and
    * x09c/x36b certified it for two rounds before every registration
    * adopted it. Honesty ledger for the recall trade, same terms as
    * x09c's: LSH near-dup recall below the production re-encoding
    * regime is layout-dependent — at the registered 0.3/0.45 cuts the
    * 1×63 band surfaces FEWER diffuse-tail pairs than 2×16 did (sf0.01:
    * 65 vs 202 pairs at 0.3) while the identical-re-encoding floor
    * (`floor_pairs` — equal quantized arrays collide under ANY layout)
    * is untouched by construction. Every oracle re-derives candidates
    * at the SAME layout, so the hash gate certifies the plan, and
    * SimilarityLayoutSpec pins the floor-recall invariant. A caller
    * needing the diffuse tail passes an explicit many-band layout
    * (the [[selectLshLayout]] diffuse regime). */
  def embeddingNearDupsLshOn(emb: DataFrame, threshold: Double): DataFrame =
    embeddingNearDupsLshOn(emb, threshold, SelectedLshLayout)

  /** [[embeddingNearDupsLshOn]] at an explicit banding layout — the form
    * x09c registers with [[SelectedLshLayout]] (chosen by
    * [[selectLshLayout]] off the x136b profile: 5.7× less candidate mass
    * at sf1 than the default, with the identical-vector recall floor
    * intact under any layout). */
  def embeddingNearDupsLshOn(emb: DataFrame, threshold: Double,
      layout: LshLayout): DataFrame = {
    reg(emb.sparkSession)
    val b = bucketedOf(emb, layout)
    val cand = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    // Norms are per-vector: compute them once on the 1×n side, so each
    // candidate pair costs a single dot-product fold, not three.
    val e = emb
      .select(col("vec_id"), col("embedding"), sqrt(norm2(col("embedding"))).as("norm"))
    cand
      .join(e.select(col("vec_id").as("va"), col("embedding").as("ea"), col("norm").as("na")), "va")
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("norm").as("nb")), "vb")
      .select(col("va"), col("vb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("va", "vb")
  }

  /** Shared CTE chain ending in `pairs(va, vb, cosine)` — the x09 pair
    * graph at `threshold`; single source for x09Sql, x33Sql/x43Sql AND
    * the x46 pipeline oracle, mirroring the b28PairCtes/x16Sql pattern.
    * `candCond` (e.g. an endpoint-membership restriction) is injected
    * into the candidate join — restricting candidates before the exact
    * verify is equivalent to filtering verified pairs, since the verify
    * is per-pair. */
  private[pipeline] def x09PairCtes(threshold: Double, candCond: String = ""): String =
    x09PairCtesFor(threshold, SelectedLshLayout, candCond)

  /** [[x09PairCtes]] at an explicit banding layout (x09c's oracle). */
  private[pipeline] def x09PairCtesFor(threshold: Double, layout: LshLayout,
      candCond: String = ""): String =
    s"""${bucketsCteFor(layout)},
       cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
                WHERE 1 = 1 $candCond),
       pz AS (SELECT va, vb, unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
              FROM cand JOIN embeddings ea ON va = ea.vec_id
                        JOIN embeddings eb ON vb = eb.vec_id),
       sc AS (SELECT va, vb,
                sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
                sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb
              FROM pz GROUP BY va, vb),
       pairs AS (SELECT va, vb, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cosine
                 FROM sc WHERE round(dot / (sqrt(na) * sqrt(nb)), 4) >= $threshold)"""

  private val x09Sql =
    s"WITH ${x09PairCtes(0.3)} SELECT va, vb, cosine FROM pairs ORDER BY va, vb"

  // ---------------------------------------------------------------- x136
  /** Bucket-membership caps the x136 cost profile sweeps. */
  val LshCostCaps: Seq[Long] = Seq(8L, 16L, 32L, 64L, 128L, 256L)

  /** Per-(band, bucket) populations of the LSH table — the x136 profile's
    * input, exposed for the spec's independent Scala-side fold. */
  private[pipeline] def lshCandidateBucketSizes(emb: DataFrame): DataFrame =
    bucketedOf(emb).groupBy("band", "bucket").agg(count(lit(1)).as("n")).select("n")

  /** x136 — the hot-crowd cost profile of the embedding LSH table: per
    * candidate-side cap, how much of the x09/x33/idx_sem_labels
    * candidate mass Σ_bucket C(n_b, 2) a per-(band, bucket) membership
    * cap would keep, how many buckets it would clip, and the saved
    * fraction in basis points. This is the GOVERNANCE table for the one
    * superlinear term the scale probe exposed (idx_sem_labels grew 5.3×
    * at 10× data — candidate mass grows with bucket population², the
    * disclosed Σ n_b² term): before a 100 TB run, a curation team reads
    * this profile off a sample to decide whether the banding layout
    * needs more bits (smaller buckets), whether oversized crowds should
    * be quarantined into a dedicated pass, and what a cap would cost.
    *
    * The registration deliberately profiles the cap rather than
    * APPLYING one: measured on this corpus, rank-truncating buckets to
    * 64 members keeps only ~13% of sf0.1's verified x09 pairs — at
    * [[LshBands]] = 2 each vector has exactly two candidate paths, so
    * clipping a crowd removes the ONLY path for most of its pairs
    * (unlike the lexical tier's df-cap, where a near-dup pair shares
    * many grams and hot-gram removal is near-lossless — the two
    * governors are NOT analogous, which is exactly what this table
    * makes visible). The actionable remedies are layout changes — and
    * as of r16 the engine applies them: [[lshLayoutProfileOn]] (x136b)
    * sweeps [[LshLayoutLadder]], [[selectLshLayout]] picks a layout
    * off the profile, and x09c / the x36b bucketed tier run on the
    * pick ([[SelectedLshLayout]]).
    *
    * Everything is integer arithmetic over bucket COUNTS (n·(n−1)/2 is
    * exact — n·(n−1) is even; saved_bp is integer division), so the
    * profile hash-matches the DuckDB re-derivation at every scale.
    *
    * Scale shape: one (band, bucket) groupBy count over the bucket
    * table (the same shuffle key the candidate join itself uses — the
    * profile is strictly cheaper than one candidate round), then a
    * |caps| × |buckets| broadcast expansion aggregated to |caps| rows;
    * no pair is ever materialized. */
  def lshCostProfileOn(emb: DataFrame, caps: Seq[Long]): DataFrame = {
    val s = emb.sparkSession
    val bs = bucketedOf(emb).groupBy("band", "bucket").agg(count(lit(1)).as("n"))
    val capDf = s.createDataFrame(caps.map(Tuple1(_))).toDF("cap")
    bs.crossJoin(broadcast(capDf))
      .groupBy("cap")
      .agg(
        sum(when(col("n") > col("cap"), 1L).otherwise(0L)).as("buckets_clipped"),
        max("n").as("max_bucket"),
        sum(expr("n * (n - 1) div 2")).as("cand_exact"),
        sum(expr("least(n, cap) * (least(n, cap) - 1) div 2")).as("cand_capped"))
      .withColumn("saved_bp", expr(
        """CASE WHEN cand_exact = 0 THEN 0L
                ELSE (cand_exact - cand_capped) * 10000 div cand_exact END"""))
      .select("cap", "buckets_clipped", "max_bucket", "cand_exact",
        "cand_capped", "saved_bp")
      .orderBy("cap")
  }

  private def x136(s: SparkSession, dir: String): DataFrame =
    lshCostProfileOn(Tables.t(s, dir, "embeddings"), LshCostCaps)

  // --------------------------------------------- x136b layout governance
  /** Candidate banding layouts the x136b decision table sweeps — the
    * default plus wider-bit / fewer-band variants. Dense hyperplanes
    * only: sparse (Achlioptas-style) planes were measured on this
    * corpus and REJECTED — at density 1/8 a 2×16 layout's candidate
    * mass collapses 4000× but recall collapses with it (0.1% of true
    * pairs at cosine 0.3; the sparse projections are noise-dominated,
    * so same-cluster members stop colliding). Documented so the next
    * round doesn't re-derive it. */
  val LshLayoutLadder: Seq[LshLayout] = Seq(
    LshLayout(2, 16), LshLayout(2, 32), LshLayout(1, 32), LshLayout(2, 48),
    LshLayout(1, 48), LshLayout(2, 63), LshLayout(1, 63))

  /** x136b — the LAYOUT decision table x136's scaladoc promised: per
    * candidate layout in `ladder`, the bucket-population shape
    * (buckets, max_bucket) and the exact candidate mass Σ C(n_b, 2)
    * the (band, bucket) self-join would pay, next to the corpus's
    * identical-signature pair floor (`floor_pairs` = Σ C(g, 2) over
    * groups of bit-identical quantized embeddings — pairs EVERY layout
    * is guaranteed to surface, because equal arrays produce equal
    * bucket ids under any layout; this is the x36b dispatch regime's
    * recall-1 argument as a measured column). [[selectLshLayout]] is
    * the rule that turns this table into a layout choice; x09c and
    * the x36b bucketed tier run on its output. Everything is integer
    * arithmetic over bucket/group COUNTS, so the table hash-matches
    * the DuckDB re-derivation at every scale.
    *
    * Scale shape: one bucket projection + (band, bucket) count per
    * ladder layout (each strictly cheaper than one candidate round at
    * that layout — no pair is ever materialized) and one groupBy on
    * the quantized signature for the floor; at 100 TB this is the
    * profile a curation team runs ON A SAMPLE before committing a
    * corpus-scale near-dup pass, exactly as x136's cap profile. */
  def lshLayoutProfileOn(emb: DataFrame, ladder: Seq[LshLayout]): DataFrame = {
    val s = emb.sparkSession
    val floor = emb
      .groupBy(transform(col("embedding"), x => quant(x)).as("sig"))
      .agg(count(lit(1)).as("g"))
      .agg(coalesce(sum(expr("g * (g - 1) div 2")), lit(0L)).as("floor_pairs"))
    // ONE projection pass at the ladder's widest plane count, shared by
    // every layout (plane p's definition is layout-independent — see
    // [[projOf]]): the per-layout sweep previously re-scanned, re-exploded
    // and re-aggregated the embedding table once per ladder row (7×); the
    // checkpoint bounds that to a single pass and each layout's bucket
    // derivation is a cheap projection over the cached columns (§5
    // caching / §2.4 remove repeated passes). Bit-identical by
    // construction; SimilarityLayoutSpec pins the profile values.
    val proj = Checkpoints.stable(projOf(emb, ladder.map(_.nPlanes).max))
    val perLayout = ladder.map { l =>
      bucketsFromProj(proj, l).groupBy("band", "bucket").agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("buckets"),
          max("n").as("max_bucket"),
          sum(expr("n * (n - 1) div 2")).as("cand_exact"))
        .select(lit(l.bands).as("bands"), lit(l.bits).as("bits"),
          col("buckets"), col("max_bucket"), col("cand_exact"))
    }
    perLayout.reduce(_.unionAll(_))
      .crossJoin(broadcast(floor))
      .orderBy("bands", "bits")
  }

  private def x136b(s: SparkSession, dir: String): DataFrame =
    lshLayoutProfileOn(Tables.t(s, dir, "embeddings"), LshLayoutLadder)

  private val x136bSql = {
    val layoutSelects = LshLayoutLadder.map { l =>
      val sfx = s"_${l.bands}_${l.bits}"
      val cte =
        s"""bs$sfx AS (SELECT band, bucket, count(*) AS n
             FROM buckets$sfx GROUP BY band, bucket),
           prof$sfx AS (SELECT CAST(${l.bands} AS INTEGER) AS bands,
               CAST(${l.bits} AS INTEGER) AS bits,
               CAST(count(*) AS BIGINT) AS buckets,
               CAST(max(n) AS BIGINT) AS max_bucket,
               CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_exact
             FROM bs$sfx)"""
      (s"${bucketsCteFor(l, sfx)},\n       $cte", s"SELECT * FROM prof$sfx")
    }
    s"""WITH sig AS (SELECT [CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
           FOR x IN embedding] AS sg FROM embeddings),
       fl AS (SELECT CAST(coalesce(sum(g * (g - 1) // 2), 0) AS BIGINT) AS floor_pairs
              FROM (SELECT count(*) AS g FROM sig GROUP BY sg)),
       ${layoutSelects.map(_._1).mkString(",\n       ")}
       SELECT bands, bits, buckets, max_bucket, cand_exact, floor_pairs
       FROM (${layoutSelects.map(_._2).mkString(" UNION ALL ")}) CROSS JOIN fl
       ORDER BY bands, bits"""
  }

  /** The layout-selection rule — the engine ACTING on its own x136b
    * measurement (the r15 audit's one named scale gap: the profile
    * existed but nothing could apply it).
    *
    * - Default regime (`diffuseHighCosineTail = false` — this corpus,
    *   where the x36b measurement shows every pair at the dispatch cut
    *   is a bit-identical re-encoding): identical arrays collide under
    *   ANY layout (the floor_pairs column's structural recall-1), so
    *   the rule simply minimizes `cand_exact`; ties prefer more bands
    *   then more bits (strictly more collision paths at equal cost).
    * - Diffuse regime (a real high-cosine tail of NON-identical pairs,
    *   where band recall is 1−(1−p^bits)^bands): recall scales with
    *   bands, so the rule keeps the most bands affordable under
    *   `candBudget`, breaking ties toward less mass; if nothing fits
    *   the budget it degrades to the cheapest row rather than failing.
    *
    * The profile is ladder-sized (single digits), so the collect is a
    * bounded driver-side decision read, not a data move. */
  def selectLshLayout(profile: DataFrame, diffuseHighCosineTail: Boolean = false,
      candBudget: Long = Long.MaxValue): LshLayout = {
    val rows = profile.select("bands", "bits", "cand_exact").collect()
      .map(r => (LshLayout(r.getInt(0), r.getInt(1)), r.getLong(2)))
    require(rows.nonEmpty, "empty layout profile")
    if (!diffuseHighCosineTail)
      rows.minBy { case (l, m) => (m, -l.bands.toLong, -l.bits.toLong) }._1
    else {
      val fits = rows.filter(_._2 <= candBudget)
      val pool = if (fits.nonEmpty) fits else Array(rows.minBy(_._2))
      pool.minBy { case (l, m) => (-l.bands.toLong, m) }._1
    }
  }

  /** x09c — [[embeddingNearDupsLshOn]] at an EXPLICIT
    * [[SelectedLshLayout]]: registered in r16 as the proof that the
    * parameterized layout + selection rule compose (5.7× less candidate
    * mass at sf1); since the r17 default flip it coincides with x09 and
    * stays registered as the explicit-layout pin — if the default ever
    * drifts from the rule's pick, x09 and x09c diverge and the
    * correctness gate says so. */
  private def x09c(s: SparkSession, dir: String): DataFrame =
    embeddingNearDupsLshOn(Tables.t(s, dir, "embeddings"), 0.3, SelectedLshLayout)

  private val x09cSql =
    s"WITH ${x09PairCtesFor(0.3, SelectedLshLayout)} SELECT va, vb, cosine FROM pairs ORDER BY va, vb"

  private val x136Sql =
    s"""WITH $bucketsCte,
       bs AS (SELECT band, bucket, count(*) AS n FROM buckets GROUP BY band, bucket),
       caps AS (SELECT CAST(unnest([${LshCostCaps.mkString(", ")}]) AS BIGINT) AS cap),
       agg AS (SELECT cap,
                 CAST(sum(CASE WHEN n > cap THEN 1 ELSE 0 END) AS BIGINT) AS buckets_clipped,
                 CAST(max(n) AS BIGINT) AS max_bucket,
                 CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_exact,
                 CAST(sum(least(n, cap) * (least(n, cap) - 1) // 2) AS BIGINT) AS cand_capped
               FROM caps CROSS JOIN bs GROUP BY cap)
       SELECT cap, buckets_clipped, max_bucket, cand_exact, cand_capped,
         CAST(CASE WHEN cand_exact = 0 THEN 0
                   ELSE (cand_exact - cand_capped) * 10000 // cand_exact END AS BIGINT) AS saved_bp
       FROM agg ORDER BY cap"""

  // ---------------------------------------------------------------- x78
  /** Hard negatives per query doc. */
  val HardNegK = 2

  /** x78 — hard-negative mining for contrastive/embedding training: for
    * each document, the [[HardNegK]] most-similar OTHER documents in
    * the band [x09's 0.3, [[SemanticDedupThreshold]]) — semantically
    * close enough to be informative negatives, strictly below the
    * near-dup cut so no positive leaks into the negative set (the
    * standard in-batch-negatives upgrade: Karpukhin et al. 2020 §3.2
    * mine hard negatives from a retriever; here the retriever is the
    * engine's own LSH candidate generator, so no corpus product is
    * ever formed). Pairs are symmetric — each LSH pair serves as a
    * candidate in both directions — and the per-doc top-k is
    * rank-deterministic on (cosine DESC, partner id).
    *
    * Scale: x09's banded candidate join (cost proportional to genuine
    * cluster structure) + a doc-keyed window over candidates only —
    * rows ≤ 2·|candidate pairs|, never n². */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.t(s, dir, "embeddings")
    val pairs = embeddingNearDupsLshOn(emb, 0.3)
      .filter(col("cosine") < SemanticDedupThreshold)
    val sym = pairs.select(col("va").as("doc_id"), col("vb").as("neg_id"), col("cosine"))
      .union(pairs.select(col("vb").as("doc_id"), col("va").as("neg_id"), col("cosine")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("cosine").desc, col("neg_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HardNegK)
      .orderBy("doc_id", "rank")
  }

  // lazy: SemanticDedupThreshold is declared BELOW — a plain val here
  // would interpolate its pre-init 0.0 (caught: band `cosine < 0.0`
  // emptied the oracle while the def-evaluated Spark side read 0.45).
  private lazy val x78Sql =
    s"""WITH ${x09PairCtes(0.3)},
       band AS (SELECT va, vb, cosine FROM pairs
                WHERE cosine < $SemanticDedupThreshold),
       sym AS (SELECT va AS doc_id, vb AS neg_id, cosine FROM band
               UNION ALL
               SELECT vb, va, cosine FROM band),
       ranked AS (SELECT doc_id, neg_id, cosine,
                    CAST(row_number() OVER (PARTITION BY doc_id
                      ORDER BY cosine DESC, neg_id) AS INT) AS rank
                  FROM sym)
       SELECT doc_id, neg_id, cosine, rank FROM ranked
       WHERE rank <= $HardNegK ORDER BY doc_id, rank"""

  // ---------------------------------------------------------------- x97
  /** x97 — inverse-propensity density sampling over the embedding space
    * (the DENSITY sampler of Sachdeva et al. 2024, "How to Train
    * Data-Efficient LLMs", built on the RACE-style LSH kernel-density
    * estimate of Coleman & Shrivastava 2020): a document's local density
    * is estimated by how many corpus members share its LSH buckets, and
    * the keep probability is proportional to 1/density — dense semantic
    * regions (boilerplate clusters, template farms) are thinned toward
    * uniform coverage of the embedding space while sparse regions are
    * kept whole, WITHOUT ever materializing pairs (contrast x33, which
    * must verify candidate pairs; density needs only bucket counts).
    *
    * Engine-exact form: the density estimate is the INTEGER sum over the
    * [[LshBands]] bands of the vector's bucket population (each vector
    * counts itself once per band, so dens ≥ [[LshBands]] and the
    * keep-probability ratio LshBands/dens is ≤ 1 with no clamp); the
    * keep decision compares the [[Sampling]] Knuth-hash selector u ∈
    * [0, 10⁴) as u·dens < 10⁴·LshBands — cross-multiplied so no
    * division ever truncates the probability. The exported weight_ppm =
    * 10⁶·LshBands div dens is the Horvitz–Thompson reweighting factor a
    * loss-weighted consumer applies (floor-divided, in ppm).
    *
    * Scale: bucket counts are one partial+final agg on (band, bucket)
    * keys — bounded by corpus structure, never pairs; the per-vector
    * density is a [[LshBands]]-row rollup on vec_id (already the bucket
    * frame's grain); the decision is map-only integer arithmetic. At
    * 100 TB this is the cheapest semantic thinning in the library: two
    * narrow shuffles of (id, long) rows, no text or vector exchange. */
  // Distinct from every other registered salt (SamplingSpec gates
  // pairwise distinctness); round 12's 104729 collided with x23's
  // MixSalt, correlating the density keep-draw with upsampling.
  private[pipeline] val DensSalt = 1299709L

  def densitySample(s: SparkSession, dir: String): DataFrame = {
    val b = bucketedOf(Tables.t(s, dir, "embeddings"))
    val sizes = b.groupBy("band", "bucket").agg(count(lit(1)).as("cnt"))
    val dens = b.join(sizes, Seq("band", "bucket"))
      .groupBy("vec_id").agg(sum("cnt").as("dens"))
    val u = pmod(pmod(col("vec_id") + DensSalt, lit(HashConstants.HashPrime)) *
      lit(Knuth), lit(HashConstants.HashPrime)) % 10000L
    dens
      .select(col("vec_id"), col("dens"),
        expr(s"(1000000 * $LshBands) div dens").as("weight_ppm"),
        (u * col("dens") < lit(10000L * LshBands)).as("kept"))
      .orderBy("vec_id")
  }

  private val x97Sql =
    s"""WITH $bucketsCte,
       sizes AS (SELECT band, bucket, count(*) AS cnt
                 FROM buckets GROUP BY band, bucket),
       dens AS (SELECT b.vec_id, CAST(sum(s.cnt) AS BIGINT) AS dens
                FROM buckets b JOIN sizes s USING (band, bucket)
                GROUP BY b.vec_id)
       SELECT vec_id, dens,
         CAST((1000000 * $LshBands) // dens AS BIGINT) AS weight_ppm,
         ((((vec_id + $DensSalt) % ${HashConstants.HashPrime}) * $Knuth
            % ${HashConstants.HashPrime}) % 10000) * dens
           < ${10000L * LshBands} AS kept
       FROM dens ORDER BY vec_id"""

  /** Exact all-pairs cosine above a threshold — TEST-ONLY oracle for
    * cross-validating the LSH path (every LSH-verified pair must appear
    * here with the same cosine). Deliberately NOT a registered query: the
    * `vec_id < vec_id` self-join is a nested-loop product that does not
    * survive scale-up; the registered form is [[embeddingNearDupsLsh]]. */
  def embeddingNearDupsAllPairs(df: DataFrame, threshold: Double): DataFrame = {
    reg(df.sparkSession)
    val e = df.select(col("vec_id"), col("embedding"), sqrt(norm2(col("embedding"))).as("norm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.norm") * col("b.norm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  private def x09(s: SparkSession, dir: String): DataFrame =
    embeddingNearDupsLsh(s, dir)

  // ---------------------------------------------------- semantic dedup (x33)
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    * cluster the embedding space by near-duplicate cosine pairs and keep
    * ONE representative per semantic cluster — the embedding-level
    * complement of lexical dedup (catches paraphrases and re-encodings
    * that share no tokens). Composition of proven parts: the x09
    * LSH-bucketed pair graph (no all-pairs product) into x16's
    * pointer-doubling min-label components; the cluster minimum vec_id is
    * the kept representative. Output labels EVERY vector with its
    * semantic cluster and keep flag (singletons keep themselves), so a
    * caller can either filter `keep` or audit cluster mass.
    *
    * Scale: pair generation is Σ_bucket n_b² (cluster structure, not n²);
    * the component loop is log₂(diameter) rounds of equi-join +
    * partial-agg min; the final labelling is one left join of the corpus
    * against the (pairs-participants-only) label table. The oracle
    * clusters over the SAME pair CTE chain as x09 plus the recursive-CTE
    * fixpoint — single-sourced, so the pair graphs cannot drift. */
  /** Registered threshold: real SemDeDup cuts at very high cosine
    * (~0.95+ of text-embedding space); the synthetic corpus's
    * near-random vectors have NO pairs there (0 at ≥0.7 even at sf0.1),
    * while ≥0.3 is "related", not "duplicate" — a 15k-edge graph at
    * sf0.1 whose propagation cost measures graph size, not dedup. 0.45
    * keeps genuine sparse clusters present at every test scale (7 pairs
    * at sf0.001, 14 at sf0.01) — the shape a duplicate graph actually
    * has. */
  val SemanticDedupThreshold = 0.45

  /** The semantic near-dup label map (node → min-label cluster id) at
    * `threshold` — the embedding-side cluster index. At the default
    * [[SemanticDedupThreshold]] it is memoized per corpus snapshot
    * exactly like [[Curation.b28Labels]] (x33/x43/x47 consume the
    * identical pair pipeline, their dominant cost); a non-default
    * threshold always computes fresh. */
  private[pipeline] def semanticLabelsAt(s: SparkSession, dir: String,
      threshold: Double, layout: LshLayout = SelectedLshLayout): DataFrame = {
    def build: DataFrame = {
      val pairs = embeddingNearDupsLshOn(
          Tables.t(s, dir, "embeddings"), threshold, layout)
        .select(col("va").as("da"), col("vb").as("db"))
      Curation.propagateMinLabels(Curation.undirectedEdges(pairs))._1
    }
    if (threshold == SemanticDedupThreshold && layout == SelectedLshLayout)
      graft.pipeline.Ivf.memoModel(Tables.t(s, dir, "embeddings"),
        "semlabels") {
        Checkpoints.stable(build)
      }
    else build
  }

  def semanticDedup(s: SparkSession, dir: String,
      threshold: Double = SemanticDedupThreshold): DataFrame = {
    val labels = semanticLabelsAt(s, dir, threshold)
    Tables.t(s, dir, "embeddings").select(col("vec_id"))
      .join(labels.select(col("node").as("vec_id"), col("lbl").as("cid")),
        Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("cid"), col("vec_id")))
      .select(col("vec_id"), col("cluster_id"),
        (col("cluster_id") === col("vec_id")).as("keep"))
      .orderBy("vec_id")
  }

  // ------------------------------------- semantic keep-best dedup (x43)
  /** x33's clusters with x37's survivor rule — the production SemDeDup
    * shape end-to-end: cluster in EMBEDDING space (paraphrases collapse
    * regardless of wording), then keep each cluster's best document by
    * the TEXT-side x01 quality column (vec_id ≡ doc_id on this corpus —
    * the embedding of document i). The cross-modal composition is the
    * point: the similarity signal and the survivor-ranking signal come
    * from different representations, which is exactly what a real
    * pipeline does (cosine decides "same", quality decides "which").
    * All pieces are individually proven: x09 pairs, x16 propagation,
    * x37 selection — this registers their composition under one oracle
    * (x09 CTEs + recursive fixpoint + quality window, single-sourced). */
  def semanticDedupKeepBest(s: SparkSession, dir: String,
      threshold: Double = SemanticDedupThreshold): DataFrame = {
    val scored = Tables.t(s, dir, "documents")
      .select(col("doc_id"), TextStats.qualityColumn.as("quality"))
    Curation.dedupClustersKeepByLabels(scored,
        semanticLabelsAt(s, dir, threshold), col("quality"))
      .select(col("doc_id"), col("quality"), col("cluster_id"), col("keep"))
      .orderBy("doc_id")
  }

  private val x43Sql =
    s"""WITH RECURSIVE ${ccCtesSql(SemanticDedupThreshold)},
       scored AS (SELECT doc_id, ${TextStats.qualitySqlExpr} AS quality
                  FROM documents),
       lab AS (SELECT s.doc_id, s.quality, coalesce(cc.cid, s.doc_id) AS cluster_id
               FROM scored s LEFT JOIN cc ON s.doc_id = cc.node)
       SELECT doc_id, quality, cluster_id,
              row_number() OVER (PARTITION BY cluster_id
                ORDER BY quality DESC NULLS LAST, doc_id) = 1 AS keep
       FROM lab ORDER BY doc_id"""

  // ---------------------------------- centroid-diverse dedup (x47)
  /** x33's clusters with SemDeDup's PUBLISHED survivor rule (Abbas et
    * al. 2023, §3): within each cluster of near-duplicates keep the
    * member with the LOWEST cosine to the cluster centroid — the
    * diversity-preserving choice (the kept set spans the cluster's
    * outer hull instead of collapsing to its mode). Complements x43,
    * which keeps by an EXTRINSIC text-quality signal; a real pipeline
    * picks per corpus tier ("which is best" vs "which adds variety").
    *
    * Engine-exactness: centroids of float vectors are order-dependent
    * FP sums, so the centroid is computed over the SAME ×1e6 integer
    * quantization the LSH buckets use — per-(cluster, dim) integer sums
    * are aggregation-order-free, and the member↔centroid cosine then
    * derives from identical integers on both engines (IEEE division and
    * sqrt are correctly rounded, so even the pre-rounding doubles
    * match; the row_number orders by the raw value with a vec_id
    * tiebreak). Overflow bound: Σ_j q·S ≤ dims·|cluster|·1e12 — safe to
    * |cluster| ≈ 10⁵ at 64 dims; near-dup clusters are orders of
    * magnitude smaller by construction.
    *
    * Scale shape: pair graph and propagation are x33's; the centroid
    * adds one (cluster, dim)-keyed partial+final integer agg (narrow
    * long rows), one equi-join back on the same key, and one window on
    * cluster_id — no product, no corpus-wide collect. Singletons are
    * their own centroid (cosine 1) and keep themselves. */
  def semanticKeepDiverse(s: SparkSession, dir: String,
      threshold: Double = SemanticDedupThreshold): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    reg(s)
    val emb = Tables.t(s, dir, "embeddings")
    val labels = semanticLabelsAt(s, dir, threshold)
    val lab = emb.select(col("vec_id"))
      .join(labels.select(col("node").as("vec_id"), col("lbl").as("cid")),
        Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("cid"), col("vec_id")))
      .drop("cid")
    val q = emb.select(col("vec_id"),
        posexplode(transform(col("embedding"), x => quant(x))).as(Seq("j", "q")))
      .join(lab, "vec_id")
    val cent = q.groupBy("cluster_id", "j").agg(sum("q").as("s"))
    val scored = q.join(cent, Seq("cluster_id", "j"))
      .groupBy("vec_id", "cluster_id")
      .agg(sum(col("q") * col("s")).as("dot"), sum(col("q") * col("q")).as("nq"))
    val cnorm = cent.groupBy("cluster_id").agg(sum(col("s") * col("s")).as("ss"))
    val w = Window.partitionBy("cluster_id").orderBy(col("cosc").asc, col("vec_id"))
    scored.join(cnorm, "cluster_id")
      .withColumn("cosc", col("dot").cast("double") /
        (sqrt(col("nq").cast("double")) * sqrt(col("ss").cast("double"))))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("vec_id"), col("cluster_id"),
        round(col("cosc"), 4).as("cos_centroid"), col("keep"))
      .orderBy("vec_id")
  }

  private val x47Sql =
    s"""WITH RECURSIVE ${ccCtesSql(SemanticDedupThreshold)},
       lab AS (SELECT e.vec_id, coalesce(cc.cid, e.vec_id) AS cluster_id
               FROM embeddings e LEFT JOIN cc ON e.vec_id = cc.node),
       qv AS (SELECT vec_id, u.j - 1 AS j,
                CAST(round(CAST(embedding[u.j] AS DOUBLE) * 1000000) AS BIGINT) AS q
              FROM embeddings, unnest(generate_series(1, len(embedding))) u(j)),
       qq AS (SELECT l.cluster_id, qv.vec_id, qv.j, qv.q
              FROM qv JOIN lab l USING (vec_id)),
       cent AS (SELECT cluster_id, j, CAST(sum(q) AS BIGINT) AS s
                FROM qq GROUP BY cluster_id, j),
       sc2 AS (SELECT qq.vec_id, qq.cluster_id,
                 CAST(sum(qq.q * cent.s) AS BIGINT) AS dot,
                 CAST(sum(qq.q * qq.q) AS BIGINT) AS nq
               FROM qq JOIN cent ON qq.cluster_id = cent.cluster_id AND qq.j = cent.j
               GROUP BY qq.vec_id, qq.cluster_id),
       cn AS (SELECT cluster_id, CAST(sum(s * s) AS BIGINT) AS ss
              FROM cent GROUP BY cluster_id),
       cosd AS (SELECT vec_id, sc2.cluster_id,
                  CAST(dot AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(ss AS DOUBLE))) AS cosc
                FROM sc2 JOIN cn ON sc2.cluster_id = cn.cluster_id)
       SELECT vec_id, cluster_id, round(cosc, 4) AS cos_centroid,
              row_number() OVER (PARTITION BY cluster_id
                ORDER BY cosc ASC, vec_id) = 1 AS keep
       FROM cosd ORDER BY vec_id"""

  // ------------------------------------------------ semantic decon (x35)
  /** Semantic decontamination — x17's idea at the embedding level: score
    * every training vector by its MAXIMUM cosine against the held-out
    * eval slice and flag those above `threshold`. Catches paraphrased
    * benchmark leakage that shares no shingle with the eval text (the
    * case n-gram decontamination structurally misses); run alongside
    * x17, not instead of it.
    *
    * Scale shape: the eval side is corpus-tiny at any scale (the x17
    * argument) and BROADCASTS; the train corpus streams through ONE pass
    * of a broadcast nested-loop join — here that plan is the correct
    * one, not a smell: there is no equi-key for a max-over-all-pairs
    * score, the driver-side build is |eval| vectors, and each train
    * partition scans it locally with the codegen'd `vec_dot` kernel. The
    * per-train-vector max is a partial+final aggregation on vec_id. At
    * 100 TB this is exactly a map-side scan: no shuffle of the corpus
    * until the (vec_id-keyed, already-tiny) agg. */
  def semanticDecon(train: DataFrame, evalVecs: DataFrame,
      threshold: Double): DataFrame = {
    reg(train.sparkSession)
    val t = train.select(col("vec_id"), col("embedding"),
      sqrt(norm2(col("embedding"))).as("tn"))
    val e = evalVecs.select(col("embedding").as("e_emb"),
      sqrt(norm2(col("embedding"))).as("en"))
    t.crossJoin(broadcast(e))
      .groupBy("vec_id")
      .agg(round(max(dot(col("embedding"), col("e_emb")) / (col("tn") * col("en"))), 4)
        .as("max_eval_cosine"))
      .withColumn("contaminated", col("max_eval_cosine") >= threshold)
      .orderBy("vec_id")
  }

  /** Registered x35: the `vec_id % 19 = 0` slice is the eval set; flag
    * train vectors above cosine 0.4 (the synthetic corpus's related-pair
    * regime — real text-embedding decon cuts higher, same plan). */
  private def x35(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.t(s, dir, "embeddings")
    semanticDecon(emb.filter(col("vec_id") % 19 =!= 0),
      emb.filter(col("vec_id") % 19 === 0), 0.4)
  }

  private val x35Sql =
    """WITH tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 19 <> 0),
       ev AS (SELECT vec_id AS eid, embedding AS e FROM embeddings WHERE vec_id % 19 = 0),
       pz AS (SELECT t.vec_id, ev.eid, unnest(t.embedding) AS x, unnest(ev.e) AS y
              FROM tr t CROSS JOIN ev),
       sc AS (SELECT vec_id, eid,
                sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nt,
                sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ne
              FROM pz GROUP BY vec_id, eid)
       SELECT vec_id, round(max(dot / (sqrt(nt) * sqrt(ne))), 4) AS max_eval_cosine,
              round(max(dot / (sqrt(nt) * sqrt(ne))), 4) >= 0.4 AS contaminated
       FROM sc GROUP BY vec_id ORDER BY vec_id"""

  // ------------------------------------- incremental semantic dedup (x36)
  /** Incremental semantic dedup — x26's ingestion-edge shape at the
    * embedding tier: drop each NEW (micro-batch) vector whose cosine
    * against ANY vector of the at-rest corpus reaches `threshold`; the
    * survivors are what gets appended. With this and the x26 lexical
    * tiers, every dedup tier (exact, lexical-near, semantic) runs per
    * micro-batch — see [[graft.streaming.StreamingJobs.incrementalSemanticDedupStream]].
    *
    * Deliberately EXACT, not LSH-bucketed: measured on this corpus at
    * sf0.001/0.01/0.1, the banded sign buckets miss 75–96% of the true
    * cross-corpus pairs at the dup threshold (0.4) even at the
    * historical 2×16 layout (fewer-band layouts miss more) — random-
    * hyperplane band recall only approaches 1 near cosine ≈ 1, and this
    * corpus has no such regime — so a bucketed candidate tier here would
    * silently admit most duplicates. At real SemDeDup cuts of ~0.95+ the
    * buckets ARE a sound pre-filter — that tier is
    * [[incrementalSemanticDedupBucketed]] (x36b, oracle-certified), and
    * [[incrementalSemanticDedupAuto]] dispatches between the two by
    * threshold.
    *
    * The exact plan is the x35 argument transposed: at an ingestion edge
    * the BATCH side is corpus-tiny (a micro-batch vs the accumulated
    * corpus) and BROADCASTS; the corpus streams through ONE map-side
    * broadcast nested-loop pass of the codegen'd `vec_dot` kernel — no
    * equi-key exists for "any pair ≥ t" — and the per-batch-vector
    * verdict is a partial+final max aggregation on the already-tiny
    * batch id. N×ΔN multiplies per batch, zero corpus shuffle, never N².
    * Rounding to 4 decimals before the cut keeps the decision bit-exact
    * across engines (round is monotone, so round∘max = max∘round and the
    * any-pair predicate is unchanged). */
  def incrementalSemanticDedup(batch: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame = {
    // BOTH sessions: under foreachBatch the batch frame is bound to the
    // stream's CLONED session while the at-rest corpus frame is bound to
    // the main one — and the combined plan analyzes against the session
    // of the frame the chain is BUILT from (the corpus side here), so
    // registering only on batch.sparkSession leaves vec_dot/vec_norm2
    // unresolved on a fresh session (RecoverySpec restart test caught
    // this; suite-shared sessions had masked it).
    reg(batch.sparkSession)
    reg(corpus.sparkSession)
    val b = batch.select(col("vec_id"), col("embedding").as("b_emb"),
      sqrt(norm2(col("embedding"))).as("bn"))
    val c = corpus.select(col("embedding").as("c_emb"),
      sqrt(norm2(col("embedding"))).as("cn"))
    val dup = c.crossJoin(broadcast(b))
      .groupBy("vec_id")
      .agg(round(max(dot(col("b_emb"), col("c_emb")) / (col("bn") * col("cn"))), 4)
        .as("max_corpus_cosine"))
      .filter(col("max_corpus_cosine") >= threshold)
      .select("vec_id")
    batch.join(dup, Seq("vec_id"), "left_anti")
  }

  /** Registered x36: the `vec_id % 3 = 1` slice arrives as the new batch
    * against the rest as corpus (measured: 30 dup batch vectors at
    * sf0.001, 319 at sf0.1 — signal at every test scale; a production
    * micro-batch is far smaller than a third of the corpus, making the
    * broadcast side tinier still); threshold 0.4, the corpus's
    * related-pair regime (x35's cut). Oracle is brute-force cross-corpus
    * cosine — certifying the exact tier is LOSSLESS, which is the point
    * of not bucketing. */
  private def x36(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.t(s, dir, "embeddings")
    incrementalSemanticDedup(emb.filter(col("vec_id") % 3 === 1),
      emb.filter(col("vec_id") % 3 =!= 1), 0.4)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  // ------------------------------ bucketed incremental dedup (x36b)
  /** The 100 TB tier of [[incrementalSemanticDedup]]: candidate
    * pre-filtering by the x09 LSH buckets, exact cosine verify on the
    * candidates only. The at-rest corpus's (vec_id, band, bucket) rows
    * are a per-vector, append-only projection — computed once at ingest
    * and maintained incrementally — so each micro-batch costs bucket
    * projection of ΔN vectors + one equi-join on (band, bucket) + exact
    * verify on the collisions. The corpus is NEVER rescanned per batch —
    * this is the swap-in x36's scaladoc promises, registered and
    * oracle-certified as x36b.
    *
    * When is the pre-filter lossless? Identical re-encodings — the pairs
    * that exist at production SemDeDup cuts on this corpus (measured:
    * max non-identical cross-slice cosine is 0.49 at sf0.01, so the
    * ≥ [[SemanticBucketMinThreshold]] regime is exactly replayed /
    * re-encoded vectors) — land in identical buckets DETERMINISTICALLY:
    * the bucket id is pure integer arithmetic over the quantized
    * coordinates, so equal arrays give equal ids, recall 1 by
    * construction. The x36b oracle is brute force at the same threshold,
    * certifying end-to-end that the buckets lose nothing THERE. For a
    * corpus with a diffuse high-cosine tail of NON-identical pairs,
    * random-hyperplane recall is 1−(1−p^bits)^bands with p = 1−θ/π
    * (≈ 0.33 at cosine 0.95 with 2×16) — pass a more-bands `layout`
    * (chosen by [[selectLshLayout]] in its diffuse regime) or
    * multi-probe before trusting the pre-filter below ≈ 0.99. The
    * DEFAULT layout here is [[SelectedLshLayout]] (the x136b rule's
    * pick): in the identical-re-encoding regime this tier dispatches
    * at, recall is 1 under any layout, so the cheapest-candidate
    * layout is strictly better — and the brute-force oracle certifies
    * the swap every round. */
  def incrementalSemanticDedupBucketed(batch: DataFrame, corpus: DataFrame,
      threshold: Double, layout: LshLayout = SelectedLshLayout): DataFrame = {
    // Both sessions, same reasoning as incrementalSemanticDedup.
    reg(batch.sparkSession)
    reg(corpus.sparkSession)
    val cand = bucketedOf(batch.select(col("vec_id"), col("embedding")), layout).as("b")
      .join(bucketedOf(corpus.select(col("vec_id"), col("embedding")), layout).as("c"),
        col("b.band") === col("c.band") && col("b.bucket") === col("c.bucket"))
      .select(col("b.vec_id").as("bv"), col("c.vec_id").as("cv"))
      .distinct()
    val be = batch.select(col("vec_id").as("bv"), col("embedding").as("b_emb"),
      sqrt(norm2(col("embedding"))).as("bn"))
    val ce = corpus.select(col("vec_id").as("cv"), col("embedding").as("c_emb"),
      sqrt(norm2(col("embedding"))).as("cn"))
    val dup = cand.join(be, "bv").join(ce, "cv")
      .select(col("bv"),
        round(dot(col("b_emb"), col("c_emb")) / (col("bn") * col("cn")), 4).as("cos"))
      .groupBy("bv")
      .agg(max("cos").as("max_bucket_cosine"))
      .filter(col("max_bucket_cosine") >= threshold)
      .select(col("bv").as("vec_id"))
    batch.join(dup, Seq("vec_id"), "left_anti")
  }

  /** Threshold at/above which the bucketed tier is the sound default and
    * below which only the exact tier is honest on this corpus — the
    * embedding-side analogue of [[Dedup.PrefixFilterMinThreshold]]'s
    * dispatch: x09's 2×16 buckets miss 75–96% of true pairs at cosine
    * 0.4 (the x36 measurement), while the ≥ 0.9 regime is re-encodings
    * that bucket-collide deterministically. */
  val SemanticBucketMinThreshold = 0.9

  /** Threshold-dispatched incremental semantic dedup ([[Dedup.nearDupPairsOn]]'s
    * convention): bucketed pre-filter at production cuts, exact
    * broadcast scan below them. */
  def incrementalSemanticDedupAuto(batch: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame =
    if (threshold >= SemanticBucketMinThreshold)
      incrementalSemanticDedupBucketed(batch, corpus, threshold)
    else incrementalSemanticDedup(batch, corpus, threshold)

  /** Registered x36b: a re-ingestion batch — the `%5 == 2` slice arrives
    * as genuinely new vectors (measured max cosine vs the corpus: 0.49,
    * all admitted) together with REPLAYED copies of the corpus's
    * `%7 == 0` vectors under fresh ids (the at-least-once re-delivery
    * every ingestion edge sees; all 57 dropped at cosine 1.0). Threshold
    * 0.95, the SemDeDup production regime. The oracle is brute-force
    * cross cosine — a bucket-recall miss would admit a replay and fail
    * the hash compare. */
  val X36bThreshold = 0.95
  private val X36bReplayOffset = 10000000L

  private def x36b(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.t(s, dir, "embeddings")
    val fresh = emb.filter(col("vec_id") % 5 === 2)
      .select(col("vec_id"), col("embedding"))
    val replayed = emb.filter(col("vec_id") % 5 =!= 2 && col("vec_id") % 7 === 0)
      .select((col("vec_id") + X36bReplayOffset).as("vec_id"), col("embedding"))
    incrementalSemanticDedupBucketed(
      fresh.union(replayed),
      emb.filter(col("vec_id") % 5 =!= 2), X36bThreshold)
      .select(col("vec_id"))
      .orderBy("vec_id")
  }

  private val x36bSql =
    s"""WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 2
              UNION ALL
              SELECT vec_id + $X36bReplayOffset, embedding FROM embeddings
              WHERE vec_id % 5 <> 2 AND vec_id % 7 = 0),
       c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
             WHERE vec_id % 5 <> 2),
       pz AS (SELECT b.vec_id, c.cid, unnest(b.embedding) AS x, unnest(c.ce) AS y
              FROM b CROSS JOIN c),
       sc AS (SELECT vec_id, cid,
                sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nb,
                sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nc
              FROM pz GROUP BY vec_id, cid),
       dup AS (SELECT DISTINCT vec_id FROM sc
               WHERE round(dot / (sqrt(nb) * sqrt(nc)), 4) >= $X36bThreshold)
       SELECT vec_id FROM b
       WHERE vec_id NOT IN (SELECT vec_id FROM dup)
       ORDER BY vec_id"""

  private val x36Sql =
    """WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 1),
       c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 3 <> 1),
       pz AS (SELECT b.vec_id, c.cid, unnest(b.embedding) AS x, unnest(c.ce) AS y
              FROM b CROSS JOIN c),
       sc AS (SELECT vec_id, cid,
                sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nb,
                sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nc
              FROM pz GROUP BY vec_id, cid),
       dup AS (SELECT DISTINCT vec_id FROM sc
               WHERE round(dot / (sqrt(nb) * sqrt(nc)), 4) >= 0.4)
       SELECT e.vec_id, e.label FROM embeddings e
       WHERE e.vec_id % 3 = 1 AND e.vec_id NOT IN (SELECT vec_id FROM dup)
       ORDER BY vec_id"""

  /** The x09 pair graph's connected components as a CTE chain ending in
    * `cc(node, cid)` — pairs → symmetric edges → recursive min-label
    * reach → per-node min. Single source for the x33/x43/x47/x94
    * oracles (the Spark side single-sources the same way through
    * [[semanticLabelsAt]]'s memoized map). Caller must open the WITH
    * with RECURSIVE. */
  private[pipeline] def ccCtesSql(threshold: Double): String =
    s"""${x09PairCtes(threshold)},
       edges AS (SELECT va AS src, vb AS dst FROM pairs
                 UNION ALL SELECT vb, va FROM pairs),
       reach AS (SELECT DISTINCT src AS node, src AS lbl FROM edges
                 UNION
                 SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.node = e.src),
       cc AS (SELECT node, min(lbl) AS cid FROM reach GROUP BY node)"""

  /** CTE chain ending in `alive(vec_id)` — x33's keep set (cluster
    * minimum or singleton) at the default threshold, the SemDeDup
    * survivor frame the D4 composition ([[Ivf.d4Prune]]) prunes
    * further. Caller must open the WITH with RECURSIVE. */
  private[pipeline] def aliveCteSql: String =
    s"""${ccCtesSql(SemanticDedupThreshold)},
       alive AS (SELECT e.vec_id FROM embeddings e
                 LEFT JOIN cc ON e.vec_id = cc.node
                 WHERE coalesce(cc.cid, e.vec_id) = e.vec_id)"""

  /** vec_ids surviving x33's semantic dedup at the default threshold —
    * the Spark twin of [[aliveCteSql]], reading the same memoized label
    * map as [[semanticDedup]] so the alive set can never drift between
    * the registered dedup and its downstream compositions. */
  private[pipeline] def semanticAliveIds(s: SparkSession, dir: String): DataFrame = {
    val labels = semanticLabelsAt(s, dir, SemanticDedupThreshold)
    Tables.t(s, dir, "embeddings").select(col("vec_id"))
      .join(labels.select(col("node").as("vec_id"), col("lbl").as("cid")),
        Seq("vec_id"), "left")
      .filter(coalesce(col("cid"), col("vec_id")) === col("vec_id"))
      .select(col("vec_id"))
  }

  private val x33Sql =
    s"""WITH RECURSIVE ${ccCtesSql(SemanticDedupThreshold)}
       SELECT e.vec_id, coalesce(cc.cid, e.vec_id) AS cluster_id,
              coalesce(cc.cid, e.vec_id) = e.vec_id AS keep
       FROM embeddings e LEFT JOIN cc ON e.vec_id = cc.node
       ORDER BY vec_id"""

  // ---------------------------------------------------------------- x122
  /** x122 — leakage-safe train/val/test split in EMBEDDING space: x27's
    * whole-cluster-per-split discipline with the SEMANTIC cluster id as
    * the split key, so a vector and its paraphrases (cosine near-dups —
    * the rewordings lexical dedup structurally misses) can never
    * straddle train and eval. This is the split an embedding-trained
    * reranker/classifier needs: x27 stops lexical leakage, x122 stops
    * semantic leakage; a pipeline holding both keys can intersect the
    * constraints.
    *
    * The cluster key is the same memoized semantic label map every x33-
    * family consumer reads ([[semanticLabelsAt]] — the per-snapshot
    * index artifact), and the bucket hash is x14/x27's integer Knuth
    * chain on the CANONICAL id — same-cluster ⇒ same-bucket by
    * construction, engine/cluster/run-exact. Scale: one label-map left
    * join + map-only bucket arithmetic; nothing beyond the one-time
    * index build shuffles. */
  def semanticSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val labels = semanticLabelsAt(s, dir, SemanticDedupThreshold)
    val bucket = pmod(pmod(col("cluster_id"), lit(HashConstants.HashPrime)) *
      lit(HashConstants.Knuth), lit(HashConstants.HashPrime)) % 100
    Tables.t(s, dir, "embeddings").select(col("vec_id"))
      .join(labels.select(col("node").as("vec_id"), col("lbl").as("cid")),
        Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("cid"), col("vec_id")))
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .select("vec_id", "cluster_id", "split")
      .orderBy("vec_id")
  }

  private lazy val x122Sql = {
    val b = s"((cluster_id % ${HashConstants.HashPrime}) * ${HashConstants.Knuth}" +
      s" % ${HashConstants.HashPrime}) % 100"
    s"""WITH RECURSIVE ${ccCtesSql(SemanticDedupThreshold)},
       lab AS (SELECT e.vec_id, coalesce(cc.cid, e.vec_id) AS cluster_id
               FROM embeddings e LEFT JOIN cc ON e.vec_id = cc.node)
       SELECT vec_id, cluster_id,
         CASE WHEN $b < 90 THEN 'train'
              WHEN $b < 95 THEN 'val' ELSE 'test' END AS split
       FROM lab ORDER BY vec_id"""
  }

  // ---------------------------------------------------------------- x129
  /** All (new, ref) embedding pairs sharing ≥1 LSH band bucket with
    * cosine ≥ `threshold` — the CROSS tier of semantic index
    * maintenance (the embedding analogue of
    * [[graft.pipeline.Dedup.crossNearDupPairs]]). A vector's band
    * buckets depend only on its own coordinates (the hyperplanes are
    * fixed integer hashes of (plane, dim)), so bucketing the two frames
    * separately yields exactly the buckets a union-frame bucketing
    * would — the candidate join across frames surfaces precisely the
    * union corpus's cross pairs, no re-bucketing of the reference
    * corpus's ENTIRE history required (at 100 TB the ref side's
    * (vec_id, band, bucket) rows are a standing at-rest index; only
    * the batch side is hashed fresh).
    *
    * Scale: candidate cost is Σ_bucket n_new,b · n_ref,b — batch-size
    * bound per bucket, never |new|·|ref|; the verify is one dot-product
    * fold per candidate. */
  def crossSemanticPairs(newEmb: DataFrame, refEmb: DataFrame,
      threshold: Double): DataFrame =
    crossSemanticPairs(newEmb, refEmb, threshold, SelectedLshLayout)

  /** [[crossSemanticPairs]] at an explicit banding layout. The layout
    * must MATCH the one any standing edge/bucket index it merges with
    * was built at (the x46b/x46c union-edge-set law quantifies over one
    * bucket function) — both sides default together. */
  def crossSemanticPairs(newEmb: DataFrame, refEmb: DataFrame,
      threshold: Double, layout: LshLayout): DataFrame = {
    reg(newEmb.sparkSession)
    val cand = bucketedOf(newEmb, layout).as("a").join(bucketedOf(refEmb, layout).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    val en = newEmb.select(col("vec_id").as("va"), col("embedding").as("ea"),
      sqrt(norm2(col("embedding"))).as("na"))
    val er = refEmb.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      sqrt(norm2(col("embedding"))).as("nb"))
    cand.join(en, "va").join(er, "vb")
      .select(col("va"), col("vb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** x129 — incremental SEMANTIC cluster-index maintenance: merge a new
    * batch of embeddings into a standing semantic label map
    * ([[semanticLabelsAt]]'s artifact) WITHOUT re-clustering the old
    * corpus — x121's star-edge + delta-pair merge
    * ([[graft.pipeline.Curation.incrementalClustersFromIndex]])
    * transplanted from the lexical Jaccard chain to the LSH cosine
    * chain. This closes the one asymmetry the r13 audit flagged: the
    * semantic index was the only major standing artifact without an
    * append-only maintenance path.
    *
    * Why incremental ≡ full re-cluster (the oracle hash-proves it):
    * pair admission is PAIRWISE — (a, b) is an edge iff they share a
    * band bucket AND exact cosine ≥ t, and both conditions depend only
    * on the two vectors (buckets are per-vector functions of the fixed
    * hyperplanes) — so the union corpus's edge set is exactly
    * (old×old edges) ∪ (new×new edges) ∪ (new×old edges); and an old
    * cluster's star edges (node—label) have the same connectivity
    * closure as its original pair set, so min-label components over
    * star ∪ delta equal components over the full edge set. Unlike the
    * lexical tier there is NO threshold restriction: the argument never
    * invokes a prefix filter, only the per-vector bucket determinism.
    *
    * Scale: the old side contributes its two-column label map (plus
    * its at-rest bucket index for the cross join); the propagation loop
    * runs over ~|old clusters| + |delta| edges, not the old pair graph
    * — O(N·ΔN) candidate work for the append, never O(N²). */
  def incrementalSemanticClustersFromIndex(newEmb: DataFrame,
      refEmb: DataFrame, oldLabels: DataFrame, threshold: Double): DataFrame =
    mergedSemanticClusterMap(newEmb, refEmb, oldLabels, threshold)
      .orderBy("vec_id")

  /** The semantic merge wave's label map WITHOUT the oracle-contract
    * total order — the frame checkpointed once per wave and shared
    * between the index commit (x129) and the drift report (x135), so
    * delta-pair generation + propagation is charged once per wave. */
  private[pipeline] def mergedSemanticClusterMap(newEmb: DataFrame,
      refEmb: DataFrame, oldLabels: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val newNew = embeddingNearDupsLshOn(newEmb, threshold)
      .select(col("va").as("da"), col("vb").as("db"))
    val cross = crossSemanticPairs(newEmb, refEmb, threshold)
      .select(col("va").as("da"), col("vb").as("db"))
    // Eager-checkpoint the DELTA pairs before propagation — the wave's
    // own artifact, and the lineage truncation that keeps Catalyst's
    // stats estimation bounded (the sf1 probe caught the union of two
    // LSH bucket-join trees sending sizeInBytes planning exponential).
    val delta = graft.pipeline.Checkpoints.stable(newNew.union(cross))
    val star = oldLabels.filter(col("node") =!= col("lbl"))
      .select(col("node").as("da"), col("lbl").as("db"))
    val (labels, _) = Curation.propagateMinLabels(
      Curation.undirectedEdges(delta.union(star)))
    newEmb.select(col("vec_id")).union(refEmb.select(col("vec_id")))
      .join(labels.select(col("node").as("vec_id"), col("lbl").as("cid")),
        Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("cid"), col("vec_id")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select("vec_id", "cluster_id", "cluster_size")
  }

  /** The registered x129's STANDING index — the even-vec_id half's
    * semantic label map at the default threshold, memoized per corpus
    * snapshot like [[semanticLabelsAt]]: in production this artifact is
    * READ, not rebuilt, per batch wave, so the registered query's
    * steady-state cost is the delta + merge only. Timed as its own
    * `idx_x129_old_index` bench line. */
  private[pipeline] def x129OldIndex(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Ivf.memoModel(Tables.t(s, dir, "embeddings"),
        "x129oldidx") {
      val ref = Tables.t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0)
      Checkpoints.stable(Curation.propagateMinLabels(Curation.undirectedEdges(
        embeddingNearDupsLshOn(ref, SemanticDedupThreshold)
          .select(col("va").as("da"), col("vb").as("db"))))._1)
    }

  /** Registered x129: odd vec_ids arrive as the batch against the even
    * half's standing index (memoized — see [[x129OldIndex]]) at the
    * default threshold. The oracle is a FULL RE-CLUSTER of the whole
    * embeddings table through the same x09 CTE chain — the hash match
    * certifies incremental ≡ full recompute end-to-end. */
  /** The registered wave's MERGED semantic map (odd vec_ids against the
    * even half's standing index), checkpointed and memoized per corpus
    * snapshot — built once (timed as `idx_x129_merged`) and READ by
    * both the index commit (x129) and the drift report (x135). */
  private[pipeline] def x129MergedMap(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Ivf.memoModel(Tables.t(s, dir, "embeddings"),
        "x129merged") {
      val e = Tables.t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.pipeline.Checkpoints.stable(mergedSemanticClusterMap(
        e.filter(col("vec_id") % 2 === 1),
        e.filter(col("vec_id") % 2 === 0),
        x129OldIndex(s, dir), SemanticDedupThreshold))
    }

  private def x129(s: SparkSession, dir: String): DataFrame =
    x129MergedMap(s, dir).orderBy("vec_id")

  private lazy val x129Sql =
    s"""WITH RECURSIVE ${ccCtesSql(SemanticDedupThreshold)},
       lab AS (SELECT e.vec_id, coalesce(cc.cid, e.vec_id) AS cluster_id
               FROM embeddings e LEFT JOIN cc ON e.vec_id = cc.node)
       SELECT vec_id, cluster_id,
              count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       FROM lab ORDER BY vec_id"""

  // ---------------------------------------------------------------- x135
  /** x135 — the merge DRIFT REPORT for the SEMANTIC index: x132's seven
    * counters ([[Curation.mergeReportFrom]] — shared code, so the
    * counter semantics cannot drift between the index families) over
    * the x129 wave. Embedding-side fusion is the alarm that matters
    * most in practice: a paraphrase arriving between two standing
    * semantic clusters means the threshold was fragmenting one topic's
    * near-dups. The oracle derives the standing structure from the
    * FULL pair chain restricted to even ids — sound because admission
    * is pairwise, so pairs(even slice) ≡ pairs(all) ∩ even×even — and
    * the merged structure from a full re-cluster. */
  def incrementalSemanticMergeReport(newEmb: DataFrame, refEmb: DataFrame,
      oldLabels: DataFrame, threshold: Double): DataFrame =
    Curation.mergeReportFrom(
      graft.pipeline.Checkpoints.stable(
        mergedSemanticClusterMap(newEmb, refEmb, oldLabels, threshold))
        .withColumnRenamed("vec_id", "doc_id"),
      newEmb.select(col("vec_id").as("doc_id")),
      refEmb.select(col("vec_id").as("doc_id")), oldLabels)

  private def x135(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings").select("vec_id", "embedding")
    Curation.mergeReportFrom(
      x129MergedMap(s, dir).withColumnRenamed("vec_id", "doc_id"),
      e.filter(col("vec_id") % 2 === 1).select(col("vec_id").as("doc_id")),
      e.filter(col("vec_id") % 2 === 0).select(col("vec_id").as("doc_id")),
      x129OldIndex(s, dir))
  }

  private lazy val x135Sql =
    s"""WITH RECURSIVE ${ccCtesSql(SemanticDedupThreshold)},
       opairs AS (SELECT va, vb FROM pairs WHERE va % 2 = 0 AND vb % 2 = 0),
       oedges AS (SELECT va AS src, vb AS dst FROM opairs
                  UNION ALL SELECT vb, va FROM opairs),
       oreach AS (SELECT DISTINCT src AS node, src AS lbl FROM oedges
                  UNION
                  SELECT e.dst, r.lbl FROM oreach r JOIN oedges e ON r.node = e.src),
       occ AS (SELECT node, min(lbl) AS cid FROM oreach GROUP BY node),
       lab AS (SELECT e.vec_id, coalesce(cc.cid, e.vec_id) AS cluster_id
               FROM embeddings e LEFT JOIN cc ON e.vec_id = cc.node),
       sz AS (SELECT cluster_id, count(*) AS n FROM lab GROUP BY cluster_id),
       labn AS (SELECT lab.vec_id, lab.cluster_id, sz.n
                FROM lab JOIN sz USING (cluster_id)),
       bat AS (SELECT * FROM labn WHERE vec_id % 2 = 1),
       refc AS (SELECT DISTINCT cluster_id FROM labn WHERE vec_id % 2 = 0)
       SELECT
         (SELECT count(*) FROM bat) AS n_batch,
         (SELECT count(*) FROM labn WHERE vec_id % 2 = 0) AS n_ref,
         (SELECT count(*) FROM bat
          WHERE cluster_id IN (SELECT cluster_id FROM refc)) AS batch_joined_old,
         (SELECT count(DISTINCT cluster_id) FROM bat
          WHERE n >= 2 AND cluster_id NOT IN (SELECT cluster_id FROM refc))
           AS batch_new_clusters,
         (SELECT count(*) FROM bat WHERE n = 1) AS batch_singletons,
         (SELECT count(DISTINCT cid) FROM occ) AS old_clusters,
         (SELECT count(DISTINCT cid) FROM occ)
           - (SELECT count(DISTINCT l.cluster_id)
              FROM occ o JOIN lab l ON o.node = l.vec_id) AS old_fusions"""

  // ----------------------------------------------------------------
  // ---------------------------------------------------------------- x52
  /** Scalar-quantization width: int8 symmetric, the FAISS `SQ8` scheme. */
  val Sq8Max = 127.0

  /** Int8 scalar-quantized ANN (x52): quantize every vector to int8 codes
    * q[d] = round(x[d] · 127 / max|x|) with ONE corpus-wide symmetric
    * scale, then rank by the cosine of the CODES — the uniform scale
    * cancels in the cosine, so the integer dot/norm sums are exact and
    * engine-identical (the ×1e6 discipline of x09/x47 at int8 width).
    *
    * Why this exists at 100 TB: float32 embeddings at this scale are
    * memory-bound (64-dim × 4 B × 10¹¹ vectors ≈ 26 TB resident); int8
    * codes are 4× smaller and the dot product runs on 8-bit integer
    * lanes. The codes are a pure per-row projection — at rest they'd be
    * materialized ONCE as a `binary`/`array<tinyint>` sibling column
    * (computed at ingest, the x36b append-only discipline), and the
    * query-time plan is identical to b29's: query codes broadcast, corpus
    * streams map-side, TakeOrderedAndProject cut. Registered form
    * quantizes inline (the corpus is test-sized) with the scale as a
    * broadcast 1-row frame; IvfSpec gates recall@10 = 1.0 vs exact b29
    * and max |cos₈ − cos| ≤ 0.005 on this corpus. */
  /** The corpus-wide symmetric scale (broadcast 1-row frame), the per-
    * vector code projection (`scale` column in scope), the integer code
    * dot product, and the code-cosine — shared by x52 and x52b. */
  private def sq8Scale(e: DataFrame): DataFrame =
    e.select(explode(col("embedding")).as("x"))
      .agg((lit(Sq8Max) / max(abs(dbl(col("x"))))).as("scale"))
  private def sq8Codes(c: Column): Column =
    transform(c, x => round(dbl(x) * col("scale"), 0).cast("long"))
  private def sq8Dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (p, q) => p * q), lit(0L), (acc, v) => acc + v)
  private def sq8Cosine(a: Column, b: Column): Column =
    round(dbl(sq8Dot(a, b)) /
      (sqrt(dbl(sq8Dot(a, a))) * sqrt(dbl(sq8Dot(b, b)))), 4)

  def annSq8TopK(s: SparkSession, dir: String): DataFrame = {
    reg(s)
    val e = Tables.t(s, dir, "embeddings")
    val eq = e.crossJoin(broadcast(sq8Scale(e)))
      .select(col("vec_id"), sq8Codes(col("embedding")).as("qe"))
    val qv = eq.filter(col("vec_id") === 0).select(col("qe").as("q_qe"))
    eq.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), sq8Cosine(col("qe"), col("q_qe")).as("cos_sq8"))
      .orderBy(col("cos_sq8").desc, col("vec_id"))
      .limit(10)
      .orderBy(col("cos_sq8").desc, col("vec_id"))
  }

  private val x52Sql =
    s"""WITH sc AS (SELECT $Sq8Max / max(abs(CAST(x AS DOUBLE))) AS scale
                    FROM (SELECT unnest(embedding) AS x FROM embeddings)),
       z0 AS (SELECT vec_id, unnest(embedding) AS a0,
                unnest((SELECT embedding FROM embeddings WHERE vec_id = 0)) AS b0
              FROM embeddings WHERE vec_id <> 0),
       z AS (SELECT vec_id,
               CAST(round(CAST(a0 AS DOUBLE) * scale) AS BIGINT) AS a,
               CAST(round(CAST(b0 AS DOUBLE) * scale) AS BIGINT) AS b
             FROM z0, sc),
       d AS (SELECT vec_id, sum(a * b) AS dot, sum(a * a) AS na, sum(b * b) AS nb
             FROM z GROUP BY vec_id)
       SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sq8
       FROM d ORDER BY cos_sq8 DESC, vec_id LIMIT 10"""

  // --------------------------------------------------------------- x52b
  /** IVF + SQ8 composed (x52b): the production big-index shape — coarse
    * pruning by the query's IVF list (b29b's label restriction) over int8
    * codes (x52's quantization), ranked by quantized cosine. At 100 TB
    * this is the FAISS IVF-SQ layout verbatim: the at-rest table is
    * bucketed by list id holding int8 codes (4× smaller resident set),
    * a query prunes to nprobe lists via partition pruning and scans
    * integer lanes. Both prunings compose because each is a pure
    * restriction: IVF cuts WHICH rows are scanned, SQ8 cuts the BYTES
    * per row — IvfSpec cross-validates the composed top-5 against b29b's
    * exact-in-list top-5. */
  def annIvfSq8TopK(s: SparkSession, dir: String): DataFrame = {
    reg(s)
    val e = Tables.t(s, dir, "embeddings")
    val eq = e.crossJoin(broadcast(sq8Scale(e)))
      .select(col("vec_id"), col("label"), sq8Codes(col("embedding")).as("qe"))
    val qv = eq.filter(col("vec_id") === 0)
      .select(col("qe").as("q_qe"), col("label").as("q_label"))
    eq.filter(col("vec_id") =!= 0)
      .join(broadcast(qv), col("label") === col("q_label"))
      .select(col("vec_id"), col("label"),
        sq8Cosine(col("qe"), col("q_qe")).as("cos_sq8"))
      .orderBy(col("cos_sq8").desc, col("vec_id"))
      .limit(5)
      .orderBy(col("cos_sq8").desc, col("vec_id"))
  }

  private val x52bSql =
    s"""WITH sc AS (SELECT $Sq8Max / max(abs(CAST(x AS DOUBLE))) AS scale
                    FROM (SELECT unnest(embedding) AS x FROM embeddings)),
       q AS (SELECT label AS ql FROM embeddings WHERE vec_id = 0),
       z0 AS (SELECT vec_id, label, unnest(embedding) AS a0,
                unnest((SELECT embedding FROM embeddings WHERE vec_id = 0)) AS b0
              FROM embeddings
              WHERE vec_id <> 0 AND label = (SELECT ql FROM q)),
       z AS (SELECT vec_id, label,
               CAST(round(CAST(a0 AS DOUBLE) * scale) AS BIGINT) AS a,
               CAST(round(CAST(b0 AS DOUBLE) * scale) AS BIGINT) AS b
             FROM z0, sc),
       d AS (SELECT vec_id, label, sum(a * b) AS dot, sum(a * a) AS na, sum(b * b) AS nb
             FROM z GROUP BY vec_id, label)
       SELECT vec_id, label, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sq8
       FROM d ORDER BY cos_sq8 DESC, vec_id LIMIT 5"""

  // ---------------------------------------------------------------- x68
  /** Batch size and per-query cut of the x68 batched retrieval. */
  val AnnBatchQueries = 8
  val AnnBatchK = 5

  /** x68 — batched ANN retrieval: B29's exact cosine search for a SET of
    * queries in ONE corpus pass (embedding-dedup and retrieval services
    * run hundreds of queries per scan, not one; this is x49b's
    * batch-vs-single relationship applied to the dense side). The query
    * block (ids < [[AnnBatchQueries]]) broadcasts; every corpus row
    * scores all queries in the same scan; per-query top-k is a rank
    * window over (q_id) on the ROUNDED score with vec_id tiebreak — the
    * x49b determinism discipline.
    *
    * Scale: corpus scanned once regardless of |Q| (the win vs |Q|
    * single-query passes); the window's per-query partitions carry the
    * whole corpus, so at 100 TB the x41b sub-stratum pre-prune applies
    * verbatim (rank within (q_id, id-hash stratum) ≤ k first — lossless
    * — then the exact window over ≤ strata·k rows), or the scan-side
    * per-partition heap of TakeOrdered generalized per query. The
    * registered form keeps the single window the oracle can mirror. */
  def annBatchTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    annTopKOn(
      e.filter(col("vec_id") < AnnBatchQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      e.filter(col("vec_id") >= AnnBatchQueries),
      AnnBatchK)
  }

  /** The x68 kernel as a library form: per-query exact cosine top-`k`
    * of `queries` (q_id, q_emb) against `corpus` (vec_id, embedding) —
    * the retrieval-serving operator a deployment calls with whatever
    * query block just arrived. Query block broadcasts, corpus streams
    * map-side in ONE pass regardless of |Q|, per-query rank on the
    * rounded score with vec_id tie-break (deterministic). Composed by
    * the x68 registration AND the ingestion-edge serve job
    * ([[graft.streaming.StreamingJobs.annServeStream]] runs it verbatim
    * per micro-batch — queries are independent, so batch boundaries
    * cannot change any result row, the same batch ≡ stream argument as
    * the dedup gates). */
  def annTopKOn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    reg(corpus.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    corpus
      .crossJoin(broadcast(queries.select(col("q_id"), col("q_emb"))))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  private val x68Sql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                 WHERE vec_id < $AnnBatchQueries),
       z AS (SELECT q.q_id, e.vec_id,
               unnest(e.embedding) AS x, unnest(q.qe) AS y
             FROM embeddings e CROSS JOIN q WHERE e.vec_id >= $AnnBatchQueries),
       s AS (SELECT q_id, vec_id,
               sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
               sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
               sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nq
             FROM z GROUP BY q_id, vec_id),
       r AS (SELECT q_id, vec_id,
               round(dot / (sqrt(na) * sqrt(nq)), 4) AS cosine,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 4) DESC, vec_id) AS rank
             FROM s)
       SELECT q_id, rank, vec_id, cosine FROM r
       WHERE rank <= $AnnBatchK ORDER BY q_id, rank"""

  // ---------------------------------------------------------------- x89
  /** Margin threshold in basis points: a pair is mined only when its
    * affinity beats its two neighborhoods' average (margin > 1.0 —
    * Artetxe & Schwenk's "ratio" criterion at the canonical cutoff). */
  val BitextMarginBp = 10000L
  /** Neighborhood size for the margin denominator (k in the paper). */
  val BitextK = 4

  /** x89 — bitext margin mining (Artetxe & Schwenk 2019; the CCMatrix
    * pipeline, Schwenk et al. 2021): align each English document with
    * its best candidate in every other language by the RATIO margin
    * score(x,y) = a(x,y) / (avg top-k a(x,·)/2 + avg top-k a(·,y)/2) —
    * raw affinity alone over-selects hub vectors; dividing by the two
    * local neighborhoods cancels hubness, the paper's core finding.
    *
    * Engine-exact: affinities are BIGINT dots over integer-millionths
    * vectors (the x52/x60 discipline), and the margin is the pure
    * integer rational a·2·kx·ky·10⁴ div (A·ky + B·kx) — no float, no
    * sqrt, so no rounding convention anywhere (margins compare within
    * en↔L, where the shared-norm cancellation makes dot ordering the
    * cosine ordering up to per-doc norm variance — disclosed). Every
    * branch is restricted to a(x,y) > 0 and a positive denominator
    * before the division, so Spark's truncating `div` and DuckDB's
    * flooring `//` agree. Overflow envelope, disclosed: the numerator
    * fits BIGINT for L2-normalized embeddings (dot ≤ 10¹²) and up to
    * per-component |x| ≤ 0.6 unnormalized; ANSI throws loudly beyond.
    *
    * Scale: candidates are LABEL-cell equi-joins (the b29b/x52b at-rest
    * IVF-list surface — CCMatrix itself mines inside FAISS IVF cells),
    * never a corpus product; the joined-lang frame and the candidate
    * frame are each checkpointed once for their multiple consumers;
    * neighborhoods are (src,lang)- and dst-keyed top-k windows over
    * candidates; the best-pair cut is one more bounded window. */
  def bitextMarginMining(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    reg(s)
    val e = Tables.t(s, dir, "embeddings").select(col("vec_id"), col("label"),
      graft.pipeline.Ivf.intMillionths(col("embedding")).as("xi"))
    val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val v = Checkpoints.stable(
      e.join(d, col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("label"), col("lang"), col("xi")))
    val en = v.filter(col("lang") === "en")
      .select(col("vec_id").as("src"), col("label"), col("xi").as("xa"))
    val xx = v.filter(col("lang") =!= "en")
      .select(col("vec_id").as("dst"), col("lang").as("dst_lang"),
        col("label"), col("xi").as("xb"))
    // The per-pair affinity runs through the native codegen'd
    // vec_dot_long kernel (bit-identical to the aggregate(zip_with)
    // fold it replaced — exact long arithmetic, same array order): the
    // lambda fold allocated an intermediate 64-element array and paid
    // two lambda dispatches per element PER CANDIDATE PAIR, the
    // label-cell join's dominant cost at sf1.
    val cand = Checkpoints.stable(en.join(xx, Seq("label"))
      .select(col("src"), col("dst"), col("dst_lang"),
        call_function("vec_dot_long", col("xa"), col("xb")).as("dt")))
    val wS = Window.partitionBy("src", "dst_lang")
      .orderBy(col("dt").desc, col("dst"))
    val nns = cand.withColumn("r", row_number().over(wS))
      .filter(col("r") <= BitextK)
      .groupBy("src", "dst_lang")
      .agg(sum("dt").as("an"), count(lit(1)).as("kx"))
    val wD = Window.partitionBy("dst").orderBy(col("dt").desc, col("src"))
    val nnd = cand.withColumn("r", row_number().over(wD))
      .filter(col("r") <= BitextK)
      .groupBy("dst").agg(sum("dt").as("bn"), count(lit(1)).as("ky"))
    val m = cand.join(nns, Seq("src", "dst_lang")).join(nnd, Seq("dst"))
      .filter(col("dt") > 0 && col("an") * col("ky") + col("bn") * col("kx") > 0)
      .withColumn("margin_bp",
        expr("(dt * 2 * kx * ky * 10000) div (an * ky + bn * kx)"))
    val wB = Window.partitionBy("src", "dst_lang")
      .orderBy(col("margin_bp").desc, col("dst"))
    m.withColumn("rb", row_number().over(wB))
      .filter(col("rb") === 1 && col("margin_bp") > BitextMarginBp)
      .select(col("src"), col("dst_lang"), col("dst"), col("dt"),
        col("margin_bp"))
      .orderBy("src", "dst_lang")
  }

  private lazy val x89Sql = {
    val dot64 = graft.pipeline.Ivf.dotS("a.xi", "b.xi", 64)
    s"""WITH e AS (SELECT vec_id, label,
           [CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) FOR x IN embedding] AS xi
         FROM embeddings),
       v AS (SELECT e.vec_id, e.label, d.lang, e.xi
             FROM e JOIN documents d ON e.vec_id = d.doc_id),
       cand AS (SELECT a.vec_id AS src, b.vec_id AS dst, b.lang AS dst_lang,
                  CAST($dot64 AS BIGINT) AS dt
                FROM (SELECT * FROM v WHERE lang = 'en') a
                JOIN (SELECT * FROM v WHERE lang <> 'en') b USING (label)),
       nns AS (SELECT src, dst_lang, CAST(sum(dt) AS BIGINT) AS an,
                 count(*) AS kx
               FROM (SELECT *, row_number() OVER (PARTITION BY src, dst_lang
                       ORDER BY dt DESC, dst) AS r FROM cand)
               WHERE r <= $BitextK GROUP BY src, dst_lang),
       nnd AS (SELECT dst, CAST(sum(dt) AS BIGINT) AS bn, count(*) AS ky
               FROM (SELECT *, row_number() OVER (PARTITION BY dst
                       ORDER BY dt DESC, src) AS r FROM cand)
               WHERE r <= $BitextK GROUP BY dst),
       m AS (SELECT c.src, c.dst, c.dst_lang, c.dt,
               CAST((c.dt * 2 * s.kx * d2.ky * 10000)
                    // (s.an * d2.ky + d2.bn * s.kx) AS BIGINT) AS margin_bp
             FROM cand c JOIN nns s ON c.src = s.src AND c.dst_lang = s.dst_lang
                  JOIN nnd d2 ON c.dst = d2.dst
             WHERE c.dt > 0 AND s.an * d2.ky + d2.bn * s.kx > 0),
       best AS (SELECT *, row_number() OVER (PARTITION BY src, dst_lang
                  ORDER BY margin_bp DESC, dst) AS rb FROM m)
       SELECT src, dst_lang, dst, dt, margin_bp
       FROM best WHERE rb = 1 AND margin_bp > $BitextMarginBp
       ORDER BY src, dst_lang"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("x89_bitext_margin", bitextMarginMining, Some(x89Sql)),
    QueryDef("x68_ann_batch", annBatchTopK, Some(x68Sql)),
    QueryDef("x78_hard_negatives", hardNegatives, Some(x78Sql)),
    QueryDef("b29_cosine_topk", cosineTopK, Some(b29Sql)),
    QueryDef("x52_ann_sq8", annSq8TopK, Some(x52Sql)),
    QueryDef("x101_ann_matryoshka", annMatryoshkaTopK, Some(x101Sql)),
    QueryDef("x111_jl_distortion", jlDistortion, Some(x111Sql)),
    QueryDef("x52b_ann_ivf_sq8", annIvfSq8TopK, Some(x52bSql)),
    QueryDef("b29b_ann_ivf", annIvfTopK, Some(b29bSql)),
    QueryDef("x07_ann_lsh", annLshQuery, Some(x07Sql)),
    QueryDef("x09_embedding_neardup", x09, Some(x09Sql)),
    QueryDef("x09c_embedding_neardup_sel", x09c, Some(x09cSql)),
    QueryDef("x136_lsh_cost_profile", x136, Some(x136Sql)),
    QueryDef("x136b_lsh_layout_profile", x136b, Some(x136bSql)),
    QueryDef("x33_semantic_dedup", (s, d) => semanticDedup(s, d), Some(x33Sql)),
    QueryDef("x122_semantic_safe_split", semanticSafeSplit, Some(x122Sql)),
    QueryDef("x129_incremental_semantic_clusters", x129, Some(x129Sql)),
    QueryDef("x135_semantic_merge_report", x135, Some(x135Sql)),
    QueryDef("x35_semantic_decon", x35, Some(x35Sql)),
    QueryDef("x36_incremental_semantic_dedup", x36, Some(x36Sql)),
    QueryDef("x36b_incremental_semantic_bucketed", x36b, Some(x36bSql)),
    QueryDef("x43_semantic_keep_best", (s, d) => semanticDedupKeepBest(s, d), Some(x43Sql)),
    QueryDef("x47_semantic_keep_diverse", (s, d) => semanticKeepDiverse(s, d), Some(x47Sql)),
    QueryDef("x97_density_sample", densitySample, Some(x97Sql)))
}
