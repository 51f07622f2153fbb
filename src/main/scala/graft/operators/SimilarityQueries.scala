package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorFunctions.{cosineExact, dotExact, l2SqExact}
import graft.operators.OracleFragments.{oCosineSums, oDot, oL2Sq, oL2SqDec}
import graft.plans.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Embedding similarity search (SURVEY.md §2.D): brute-force cosine top-k
  * as the baseline, IVF (inverted-file) bucketing as the scale path.
  *
  * Scale notes (100 TB): the query vector and the centroid table are tiny
  * → broadcast; the fact side streams through codegen'd projections with
  * no shuffle except the final top-k (TakeOrderedAndProject) / bucket agg.
  * s03 demonstrates the codegen'd native expression (`vec_dot`).
  */
object SimilarityQueries {

  /** Brute-force exact cosine top-k vs the vec_id=0 query vector,
    * decimal-exact math → bit-identical to the oracle. The ground truth
    * every ANN variant (s04–s09) trades recall against; shared by s01
    * and the s10 recall harness.
    */
  private def exactCosineTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id",
        round(cosineExact("embedding", "qv"), 9).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id".asc)
      .limit(k)
  }

  /** Banded random-hyperplane sign signatures for EVERY vector:
    * (vec_id, embedding, band, bval) — the reusable LSH index side,
    * shared by s07/s10 (single probe) and s12 (batch probe).
    */
  private def hyperplaneBands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    // The hyperplane matrix is a pure function of (plane, dim) —
    // component sign = first hex digit of md5("p:d") — so it is
    // folded to a LITERAL 16×64 array at plan build (Catalyst can't
    // fold it itself across the lambda variables, and evaluating
    // 1024 md5s per ROW would dominate the scan). JVM MD5 here ==
    // SQL md5 in the oracle, so the values are identical.
    val md = java.security.MessageDigest.getInstance("MD5")
    val planesLit = typedLit((0 until 16).map { p =>
      (0 until 64).map { d =>
        val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (hex.head < '8') -1.0 else 1.0
      }
    })
    // bits[p] = sign bit of <embedding, hyperplane_p>, p = 0..15
    // posexplode_OUTER: the inner variant makes Catalyst infer a
    // size/notnull filter that inlines the full 16-plane signature
    // into a Filter, tripling the per-row decimal work (see d05's
    // scaladoc for the measured pathology); the banding array is
    // never empty, so outer emits identical rows
    emb
      .select($"vec_id", $"embedding", planesLit.as("planes"))
      .select($"vec_id", $"embedding", expr(
        """transform(sequence(1, 16), p ->
             CASE WHEN CAST(aggregate(
               zip_with(embedding, element_at(planes, p),
                 (x, h) -> CAST(x AS DOUBLE) * h),
               CAST(0 AS DECIMAL(38,18)),
               (acc, v) -> CAST(acc + CAST(v AS DECIMAL(38,18)) AS DECIMAL(38,18)))
             AS DOUBLE) >= 0 THEN 1 ELSE 0 END)""").as("bits"))
      .select($"vec_id", $"embedding", posexplode_outer(expr(
        """transform(sequence(0, 3), b ->
             element_at(bits, 4*b+1)*8 + element_at(bits, 4*b+2)*4 +
             element_at(bits, 4*b+3)*2 + element_at(bits, 4*b+4))"""))
        .as(Seq("band", "bval")))
      .filter($"bval".isNotNull)
  }

  /** s07's random-hyperplane LSH pipeline as a reusable builder: banded
    * sign signatures, broadcast band probe, exact re-rank, top-k. Shared
    * by s07 and the s10 recall harness.
    */
  private def hyperplaneLshTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val bands = hyperplaneBands(s, dir)
    val qBands = bands.filter($"vec_id" === 0)
      .select($"band".as("qband"), $"bval".as("qbval"), $"embedding".as("qv"))
    bands.filter($"vec_id" =!= 0)
      .join(broadcast(qBands), $"band" === $"qband" && $"bval" === $"qbval")
      .dropDuplicates("vec_id") // qv is constant across the 4 band rows
      .select($"vec_id", round(cosineExact("embedding", "qv"), 9).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id".asc)
      .limit(k)
  }

  /** The s07 oracle's CTE chain up to `dots(vec_id, dot, na, nq)` over the
    * LSH candidate set — shared verbatim by the s07 and s10 oracles.
    */
  private def lshDotsSqlChain: String = s"""
        WITH planes AS (
          SELECT p AS plane,
                 list_transform(range(0, 64), d ->
                   CASE WHEN substr(md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1) < '8'
                        THEN -1.0 ELSE 1.0 END) AS hv
          FROM (SELECT unnest(range(0, 16)) AS p)),
        comps AS (SELECT e.vec_id, pl.plane,
                         unnest(e.embedding) AS x, unnest(pl.hv) AS h
                  FROM embeddings e CROSS JOIN planes pl),
        bits AS (SELECT vec_id, plane,
                        CASE WHEN ${oDot("x", "h")} >= 0
                             THEN 1 ELSE 0 END AS bit
                 FROM comps GROUP BY vec_id, plane),
        bands AS (SELECT vec_id, plane // 4 AS band,
                         SUM(bit * CASE plane % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                                  WHEN 2 THEN 2 ELSE 1 END) AS bval
                  FROM bits GROUP BY vec_id, plane // 4),
        qb AS (SELECT band, bval FROM bands WHERE vec_id = 0),
        qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        cands AS (SELECT DISTINCT b.vec_id FROM bands b
                  JOIN qb ON b.band = qb.band AND b.bval = qb.bval
                  WHERE b.vec_id <> 0),
        pairs AS (SELECT c.vec_id, unnest(e.embedding) AS x, unnest(qv.qv) AS y
                  FROM cands c JOIN embeddings e ON e.vec_id = c.vec_id, qv),
        dots AS (SELECT vec_id,
                        ${oCosineSums()}
                 FROM pairs GROUP BY vec_id)"""

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // s01: brute-force cosine top-20 vs the vec_id=0 query vector,
    // decimal-exact math → bit-identical to the oracle.
    QueryDef(
      "s01_cosine_topk",
      (s, dir) => exactCosineTopK(s, dir, 20),
      Some(s"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        pairs AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
                  FROM embeddings e, q WHERE e.vec_id <> 0),
        dots AS (SELECT vec_id,
                        ${oCosineSums()}
                 FROM pairs GROUP BY vec_id)
        SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
        FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 20"""),
      doc = "brute-force cosine top-k (exact decimal math)"),

    // ------------------------------------------------------------------
    // s02: IVF assignment — nearest of 8 centroids (vec_id 0..7) per
    // vector; bucket histogram. Centroids broadcast; argmin via window.
    QueryDef(
      "s02_ivf_assign",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val w = Window.partitionBy($"vec_id").orderBy($"dist2".asc, $"cid".asc)
        emb.crossJoin(broadcast(cents))
          .select($"vec_id", $"cid", round(l2SqExact("embedding", "cv"), 9).as("dist2"))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" === 1)
          .groupBy($"cid")
          .agg(count(lit(1)).as("n_vectors"))
          .orderBy($"cid")
      },
      Some(s"""
        WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        pairs AS (SELECT e.vec_id, c.cid, unnest(e.embedding) AS x, unnest(c.cv) AS y
                  FROM embeddings e CROSS JOIN cents c),
        dists AS (SELECT vec_id, cid,
                         ${oL2Sq("x", "y")} AS dist2_raw
                  FROM pairs GROUP BY vec_id, cid),
        distsr AS (SELECT vec_id, cid, round(dist2_raw, 9) AS dist2 FROM dists),
        assigned AS (SELECT vec_id, cid,
                            ROW_NUMBER() OVER (PARTITION BY vec_id
                                               ORDER BY dist2 ASC, cid ASC) AS rk
                     FROM distsr)
        SELECT cid, COUNT(*) AS n_vectors FROM assigned
        WHERE rk = 1 GROUP BY cid ORDER BY cid"""),
      doc = "IVF centroid assignment (broadcast centroids + window argmin)"),

    // ------------------------------------------------------------------
    // s03: cosine top-20 via the codegen'd native vec_dot expression.
    // Sequential double accumulation differs from decimal sums at ~1e-16,
    // so both sides round to 6 digits before comparing/ordering.
    QueryDef(
      "s03_cosine_topk_native",
      (s, dir) => {
        import s.implicits._
        VectorExpressions.register(s)
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        emb.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .select($"vec_id",
            round(expr("vec_dot(embedding, qv)") /
              (sqrt(expr("vec_dot(embedding, embedding)")) * sqrt(expr("vec_dot(qv, qv)"))), 6)
              .as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc)
          .limit(20)
      },
      Some("""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        pairs AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
                  FROM embeddings e, q WHERE e.vec_id <> 0),
        dots AS (SELECT vec_id,
                        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                        SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
                        SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nq
                 FROM pairs GROUP BY vec_id)
        SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 6) AS cosine
        FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 20"""),
      doc = "cosine top-k via custom codegen'd Catalyst expression"),

    // ------------------------------------------------------------------
    // s04: IVF probe — search only the query's bucket, top-5 by cosine.
    QueryDef(
      "s04_ivf_search",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val w = Window.partitionBy($"vec_id").orderBy($"dist2".asc, $"cid".asc)
        val assigned = emb.crossJoin(broadcast(cents))
          .select($"vec_id", $"embedding", $"cid", round(l2SqExact("embedding", "cv"), 9).as("dist2"))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" === 1)
          .select($"vec_id", $"embedding", $"cid")
        // the query vector (vec_id 0) is its own centroid → bucket 0
        val q = assigned.filter($"vec_id" === 0)
          .select($"cid".as("qcid"), $"embedding".as("qv"))
        assigned.join(broadcast(q), $"cid" === $"qcid")
          .filter($"vec_id" =!= 0)
          .select($"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc)
          .limit(5)
      },
      Some(s"""
        WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        cpairs AS (SELECT e.vec_id, c.cid, unnest(e.embedding) AS x, unnest(c.cv) AS y
                   FROM embeddings e CROSS JOIN cents c),
        dists AS (SELECT vec_id, cid,
                         ${oL2Sq("x", "y")} AS dist2_raw
                  FROM cpairs GROUP BY vec_id, cid),
        distsr AS (SELECT vec_id, cid, round(dist2_raw, 9) AS dist2 FROM dists),
        assigned AS (SELECT vec_id, cid FROM (
                       SELECT vec_id, cid,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                                 ORDER BY dist2 ASC, cid ASC) AS rk
                       FROM distsr) t WHERE rk = 1),
        bucket AS (SELECT a.vec_id FROM assigned a
                   WHERE a.cid = (SELECT cid FROM assigned WHERE vec_id = 0)
                     AND a.vec_id <> 0),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        pairs AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
                  FROM embeddings e JOIN bucket b ON e.vec_id = b.vec_id, q),
        dots AS (SELECT vec_id,
                        ${oCosineSums()}
                 FROM pairs GROUP BY vec_id)
        SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
        FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 5"""),
      doc = "IVF bucket-probed similarity search"),

    // ------------------------------------------------------------------
    // s05: IVF with one Lloyd (k-means) refinement step — assign to the
    // seed centroids (vec_id 0..7), recompute each centroid as the
    // per-dimension decimal-exact mean of its members, re-assign, and
    // report bucket sizes before/after. All float summation goes through
    // DECIMAL(38,18) (order-independent) and distances are rounded to 9
    // digits before the argmin, so both engines pick identical buckets.
    // At scale: centroids stay broadcast-sized; each pass is one scan +
    // one (cid, dim) partial aggregate — the standard distributed-k-means
    // shape, iterated a fixed number of times.
    QueryDef(
      "s05_ivf_kmeans_refined",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        val emb = Tables.load(s, dir, "embeddings")
        val cents0 = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val w = Window.partitionBy($"vec_id").orderBy($"dist2".asc, $"cid".asc)
        val assign0 = emb.crossJoin(broadcast(cents0))
          .select($"vec_id", $"embedding", $"cid",
            round(l2SqExact("embedding", "cv"), 9).as("dist2"))
          .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
          .select($"vec_id", $"embedding", $"cid")
        // Lloyd step: per-dimension decimal-exact member mean
        val cent1 = assign0
          .select($"cid", posexplode($"embedding").as(Seq("d", "x")))
          .groupBy($"cid", $"d")
          .agg((sum($"x".cast("double").cast(DecimalType(38, 18)))
            .cast("double") / count(lit(1))).as("c"))
          .groupBy($"cid")
          .agg(expr("transform(sort_array(collect_list(struct(d, c))), p -> p.c)")
            .as("cv"))
        val assign1 = emb.crossJoin(broadcast(cent1))
          .select($"vec_id", $"cid",
            round(l2SqExact("embedding", "cv"), 9).as("dist2"))
          .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
        val n0 = assign0.groupBy($"cid").agg(count(lit(1)).as("n0"))
        val n1 = assign1.groupBy($"cid").agg(count(lit(1)).as("n1"))
        n0.join(n1, Seq("cid"), "left")
          .select($"cid", $"n0", coalesce($"n1", lit(0L)).as("n1"))
          .orderBy($"cid")
      },
      Some(s"""
        WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        cpairs AS (SELECT e.vec_id, c.cid, unnest(e.embedding) AS x, unnest(c.cv) AS y
                   FROM embeddings e CROSS JOIN cents c),
        dists0 AS (SELECT vec_id, cid,
                          ${oL2Sq("x", "y")} AS dist2_raw
                   FROM cpairs GROUP BY vec_id, cid),
        assign0 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid,
                             ROW_NUMBER() OVER (PARTITION BY vec_id
                                                ORDER BY round(dist2_raw, 9) ASC, cid ASC) AS rk
                      FROM dists0) t WHERE rk = 1),
        members AS (SELECT a.cid, unnest(e.embedding) AS x,
                           unnest(range(0, len(e.embedding))) AS d
                    FROM assign0 a JOIN embeddings e ON e.vec_id = a.vec_id),
        cent1 AS (SELECT cid, d,
                         CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
                           / COUNT(*) AS c
                  FROM members GROUP BY cid, d),
        eflat AS (SELECT vec_id, unnest(embedding) AS x,
                         unnest(range(0, len(embedding))) AS d
                  FROM embeddings),
        dists1 AS (SELECT f.vec_id, c.cid,
                          ${oL2Sq("f.x", "c.c")} AS dist2_raw
                   FROM eflat f JOIN cent1 c ON f.d = c.d
                   GROUP BY f.vec_id, c.cid),
        assign1 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid,
                             ROW_NUMBER() OVER (PARTITION BY vec_id
                                                ORDER BY round(dist2_raw, 9) ASC, cid ASC) AS rk
                      FROM dists1) t WHERE rk = 1),
        n0 AS (SELECT cid, COUNT(*) AS n0 FROM assign0 GROUP BY cid),
        n1 AS (SELECT cid, COUNT(*) AS n1 FROM assign1 GROUP BY cid)
        SELECT n0.cid, n0.n0, COALESCE(n1.n1, CAST(0 AS BIGINT)) AS n1
        FROM n0 LEFT JOIN n1 ON n0.cid = n1.cid
        ORDER BY n0.cid"""),
      doc = "IVF with one Lloyd refinement (decimal-exact means, identical argmin)"),

    // ------------------------------------------------------------------
    // s06: multiprobe IVF — search the 2 buckets nearest the QUERY
    // VECTOR (not just its own), the recall/cost knob of real IVF
    // deployments: rows scanned grow linearly with the probe count while
    // recall approaches brute force. Same exact-decimal distances and
    // 9-digit rounding as s02/s04, so bucket membership and ranking are
    // engine-identical.
    QueryDef(
      "s06_ivf_multiprobe",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val w = Window.partitionBy($"vec_id").orderBy($"dist2".asc, $"cid".asc)
        val dists = emb.crossJoin(broadcast(cents))
          .select($"vec_id", $"embedding", $"cid",
            round(l2SqExact("embedding", "cv"), 9).as("dist2"))
          .withColumn("rk", row_number().over(w))
        val assigned = dists.filter($"rk" === 1)
          .select($"vec_id", $"embedding", $"cid")
        // the 2 centroids nearest the query vector
        val probes = dists.filter($"vec_id" === 0 && $"rk" <= 2)
          .select($"cid".as("pcid"))
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        assigned.join(broadcast(probes), $"cid" === $"pcid")
          .filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .select($"vec_id", $"cid",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc)
          .limit(10)
      },
      Some(s"""
        WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        cpairs AS (SELECT e.vec_id, c.cid, unnest(e.embedding) AS x, unnest(c.cv) AS y
                   FROM embeddings e CROSS JOIN cents c),
        dists AS (SELECT vec_id, cid,
                         ${oL2Sq("x", "y")} AS dist2_raw
                  FROM cpairs GROUP BY vec_id, cid),
        ranked AS (SELECT vec_id, cid,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY round(dist2_raw, 9) ASC, cid ASC) AS rk
                   FROM dists),
        assigned AS (SELECT vec_id, cid FROM ranked WHERE rk = 1),
        probes AS (SELECT cid FROM ranked WHERE vec_id = 0 AND rk <= 2),
        bucket AS (SELECT a.vec_id, a.cid FROM assigned a
                   JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> 0),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        pairs AS (SELECT b.vec_id, b.cid, unnest(e.embedding) AS x, unnest(q.qv) AS y
                  FROM bucket b JOIN embeddings e ON e.vec_id = b.vec_id, q),
        dots AS (SELECT vec_id, cid,
                        ${oCosineSums()}
                 FROM pairs GROUP BY vec_id, cid)
        SELECT vec_id, cid, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
        FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 10"""),
      doc = "multiprobe IVF: 2 nearest buckets, the recall/cost knob"),

    // ------------------------------------------------------------------
    // s07: random-hyperplane LSH (sign random projection) — the classic
    // cosine-preserving LSH family (Charikar'02), complementing the IVF
    // path: 16 deterministic ±1 hyperplanes (component sign = first md5
    // hex digit of "plane:dim"), each vector's 16-bit signature banded
    // 4×4; candidates share ≥1 band with the query, then exact cosine
    // re-ranks. The signature is computed per-row by pure nested
    // higher-order functions — MAP-ONLY, no plane crossJoin, no shuffle
    // until the (tiny) candidate set — so at 100 TB the expensive part
    // is embarrassingly parallel and the only joins are broadcasts of
    // the query's 4 band rows. Exact decimal dot products make the
    // sign threshold (>= 0) engine-identical.
    QueryDef(
      "s07_hyperplane_lsh",
      (s, dir) => hyperplaneLshTopK(s, dir, 10),
      Some(s"""$lshDotsSqlChain
        SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
        FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 10"""),
      doc = "random-hyperplane LSH: banded sign signatures + exact re-rank"),

    // ------------------------------------------------------------------
    // s08: product quantization (PQ) with asymmetric distance computation
    // (ADC) — the memory-compression half of real billion-scale ANN
    // (IVF_PQ): 64 dims split into 8 subspaces of 8; per-subspace
    // codebook = the slices of vectors 1..4; every vector encoded as 8
    // small codes (argmin sub-distance); query distance ≈ sum of
    // precomputed query→centroid sub-distances looked up by code.
    // At 100 TB the payoff is that scan-side data shrinks from 64 floats
    // to 8 codes and the per-candidate cost is 8 table lookups — here
    // both the encode (subspace explode + broadcast codebook join +
    // per-(vec,sp) argmin) and the ADC lookup join are the real
    // distributed plumbing. All sub-distances stay DECIMAL(38,18)
    // end-to-end (never rounded through double), so code assignment and
    // the final ADC ranking are bit-identical across engines.
    QueryDef(
      "s08_pq_adc",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.l2SqDecimal
        val emb = Tables.load(s, dir, "embeddings")
        // posexplode_outer: avoid the inferred-filter re-evaluation of
        // the slicing chain (see s07); the slice array is never empty
        val subs = emb.select($"vec_id", posexplode_outer(expr(
          "transform(sequence(0, 7), sp -> slice(embedding, 8*sp+1, 8))"))
          .as(Seq("sp", "sv")))
        val cents = subs.filter($"vec_id".between(1, 4))
          .select($"vec_id".as("cid"), $"sp".as("csp"), $"sv".as("cv"))
        val dists = subs.join(broadcast(cents), $"sp" === $"csp")
          .select($"vec_id", $"sp", $"cid", l2SqDecimal("sv", "cv").as("d2"))
        val w = Window.partitionBy($"vec_id", $"sp").orderBy($"d2".asc, $"cid".asc)
        val codes = dists.withColumn("rk", row_number().over(w))
          .filter($"rk" === 1).select($"vec_id", $"sp", $"cid".as("code"))
        val qd = dists.filter($"vec_id" === 0)
          .select($"sp".as("qsp"), $"cid".as("qcid"), $"d2".as("qd2"))
        codes.filter($"vec_id" =!= 0)
          .join(broadcast(qd), $"sp" === $"qsp" && $"code" === $"qcid")
          .groupBy($"vec_id").agg(sum($"qd2").as("adc_dec"))
          .select($"vec_id", round($"adc_dec".cast("double"), 9).as("adc"))
          .orderBy($"adc".asc, $"vec_id".asc)
          .limit(10)
      },
      Some(pqAdcOracleSql),
      doc = "product quantization + ADC lookup (decimal-exact codes and ranking)"),

    // ------------------------------------------------------------------
    // s09: IVF-PQ — the combined billion-scale ANN recipe (coarse
    // quantizer prunes the search space, product quantizer compresses
    // what's left): vectors IVF-assigned to the nearest of 8 centroids
    // (s02's argmin), the query's bucket selected, and ONLY its members
    // ranked by PQ/ADC lookup (s08's codebook + lookup join). Everything
    // joins against broadcasts (centroids, codebook, query distance
    // table); the expensive per-vector work — IVF distance + PQ encode —
    // is one pass each, and ADC never touches the raw vectors of the
    // candidates. Decimal-exact throughout.
    QueryDef(
      "s09_ivf_pq",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.l2SqDecimal
        val emb = Tables.load(s, dir, "embeddings")
        // coarse quantizer: nearest of 8 IVF centroids per vector
        val icents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("icid"), $"embedding".as("icv"))
        val wA = Window.partitionBy($"vec_id").orderBy($"idist".asc, $"icid".asc)
        val assigned = emb.crossJoin(broadcast(icents))
          .select($"vec_id", $"embedding", $"icid",
            round(l2SqExact("embedding", "icv"), 9).as("idist"))
          .withColumn("rk", row_number().over(wA)).filter($"rk" === 1)
          .select($"vec_id", $"embedding", $"icid")
        val qBucket = assigned.filter($"vec_id" === 0).select($"icid".as("qcid"))
        val bucket = assigned.join(broadcast(qBucket), $"icid" === $"qcid")
          .filter($"vec_id" =!= 0)
        // PQ codebook (8 subspaces × 4 centroids from vectors 1..4)
        val slices =
          "transform(sequence(0, 7), sp -> slice(embedding, 8*sp+1, 8))"
        val pqCents = emb.filter($"vec_id".between(1, 4))
          .select($"vec_id".as("cid"), posexplode_outer(expr(slices)).as(Seq("csp", "cv")))
        // encode ONLY the bucket members
        val subs = bucket.select($"vec_id", posexplode_outer(expr(slices)).as(Seq("sp", "sv")))
        val dists = subs.join(broadcast(pqCents), $"sp" === $"csp")
          .select($"vec_id", $"sp", $"cid", l2SqDecimal("sv", "cv").as("d2"))
        val wC = Window.partitionBy($"vec_id", $"sp").orderBy($"d2".asc, $"cid".asc)
        val codes = dists.withColumn("rk", row_number().over(wC))
          .filter($"rk" === 1).select($"vec_id", $"sp", $"cid".as("code"))
        // query → codebook sub-distance table (32 rows, broadcast)
        val qd = emb.filter($"vec_id" === 0)
          .select(posexplode_outer(expr(slices)).as(Seq("qsp0", "qv")))
          .join(broadcast(pqCents), $"qsp0" === $"csp")
          .select($"qsp0".as("qsp"), $"cid".as("qcid"),
            l2SqDecimal("qv", "cv").as("qd2"))
        codes.join(broadcast(qd), $"sp" === $"qsp" && $"code" === $"qcid")
          .groupBy($"vec_id").agg(sum($"qd2").as("adc_dec"))
          .select($"vec_id", round($"adc_dec".cast("double"), 9).as("adc"))
          .orderBy($"adc".asc, $"vec_id".asc)
          .limit(5)
      },
      Some(s"""
        WITH icents AS (SELECT vec_id AS icid, embedding AS icv
                        FROM embeddings WHERE vec_id < 8),
        ipairs AS (SELECT e.vec_id, c.icid,
                          unnest(e.embedding) AS x, unnest(c.icv) AS y
                   FROM embeddings e CROSS JOIN icents c),
        idists AS (SELECT vec_id, icid,
                          round(${oL2Sq("x", "y")}, 9) AS idist
                   FROM ipairs GROUP BY vec_id, icid),
        iassign AS (SELECT vec_id, icid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY idist ASC, icid ASC) AS rk
                    FROM idists),
        assigned AS (SELECT vec_id, icid FROM iassign WHERE rk = 1),
        qbucket AS (SELECT icid FROM assigned WHERE vec_id = 0),
        bucket AS (SELECT a.vec_id FROM assigned a JOIN qbucket q
                   ON a.icid = q.icid WHERE a.vec_id <> 0),
        spn AS (SELECT unnest(range(0, 8)) AS sp),
        pqcents AS (
          SELECT e.vec_id AS cid, spn.sp AS csp,
                 e.embedding[(8*spn.sp+1):(8*spn.sp+8)] AS cv
          FROM embeddings e CROSS JOIN spn WHERE e.vec_id BETWEEN 1 AND 4),
        subs AS (
          SELECT b.vec_id, spn.sp, e.embedding[(8*spn.sp+1):(8*spn.sp+8)] AS sv
          FROM bucket b JOIN embeddings e ON e.vec_id = b.vec_id CROSS JOIN spn),
        dpairs AS (
          SELECT su.vec_id, su.sp, c.cid, unnest(su.sv) AS x, unnest(c.cv) AS y
          FROM subs su JOIN pqcents c ON su.sp = c.csp),
        dists AS (
          SELECT vec_id, sp, cid,
                 ${oL2SqDec("x", "y")} AS d2
          FROM dpairs GROUP BY vec_id, sp, cid),
        codes AS (
          SELECT vec_id, sp, cid AS code,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sp
                                    ORDER BY d2 ASC, cid ASC) AS rk
          FROM dists),
        qpairs AS (
          SELECT spn.sp, c.cid, unnest(e.embedding[(8*spn.sp+1):(8*spn.sp+8)]) AS x,
                 unnest(c.cv) AS y
          FROM embeddings e CROSS JOIN spn
          JOIN pqcents c ON spn.sp = c.csp
          WHERE e.vec_id = 0),
        qd AS (
          SELECT sp AS qsp, cid AS qcid,
                 ${oL2SqDec("x", "y")} AS qd2
          FROM qpairs GROUP BY sp, cid),
        adc AS (
          SELECT c.vec_id, SUM(q.qd2) AS adc_dec
          FROM codes c JOIN qd q ON c.sp = q.qsp AND c.code = q.qcid
          WHERE c.rk = 1 GROUP BY c.vec_id)
        SELECT vec_id, round(CAST(adc_dec AS DOUBLE), 9) AS adc
        FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 5"""),
      doc = "IVF-PQ: coarse bucket pruning + PQ/ADC ranking of the survivors"),

    // ------------------------------------------------------------------
    // s10: ANN recall evaluation — the harness every production index
    // ships with: the exact brute-force top-10 (ground truth) LEFT JOINs
    // the LSH top-10, and each truth row reports whether the approximate
    // index found it (recall@10 = fraction of TRUE). Both legs reuse the
    // s01/s07 builders verbatim, so this also locks their agreement into
    // the correctness gate. Cost = one brute-force pass + one LSH pass,
    // both already scale-shaped (broadcast probes, TakeOrdered top-k);
    // in production the truth leg runs on a sampled query set only.
    QueryDef(
      "s10_ann_recall",
      (s, dir) => {
        import s.implicits._
        val truth = exactCosineTopK(s, dir, 10)
        val lsh = hyperplaneLshTopK(s, dir, 10)
          .select($"vec_id", lit(true).as("hit"))
        truth.join(lsh, Seq("vec_id"), "left")
          .select($"vec_id", $"cosine",
            coalesce($"hit", lit(false)).as("found_by_lsh"))
          .orderBy($"cosine".desc, $"vec_id".asc)
      },
      Some(s"""$lshDotsSqlChain,
        lsh10 AS (
          SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
          FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 10),
        pairs2 AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(qv.qv) AS y
                   FROM embeddings e, qv WHERE e.vec_id <> 0),
        dots2 AS (SELECT vec_id,
                         ${oCosineSums()}
                  FROM pairs2 GROUP BY vec_id),
        exact10 AS (
          SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
          FROM dots2 ORDER BY cosine DESC, vec_id ASC LIMIT 10)
        SELECT e.vec_id, e.cosine, l.vec_id IS NOT NULL AS found_by_lsh
        FROM exact10 e LEFT JOIN lsh10 l ON e.vec_id = l.vec_id
        ORDER BY e.cosine DESC, e.vec_id ASC"""),
      doc = "ANN recall@10 harness: exact ground truth vs LSH top-k, per-row hit flags"),

    // ------------------------------------------------------------------
    // s11: k-NN JOIN — a SET of query vectors (not s01's single probe)
    // each matched to its top-3 corpus neighbors in ONE corpus pass:
    // broadcast the query side, score every (query, corpus) pair with
    // the decimal-exact cosine, rank per-query. The per-query window
    // ranks |Q| rows per corpus vector, shuffled on qid — the standard
    // batch-retrieval shape (embedding-table lookups, eval harnesses).
    //
    // Scale: the query side of a kNN join is broadcast-sized by
    // definition of the workload (requests per batch), so the corpus
    // never shuffles for scoring; only (qid, vec_id, cosine) tuples —
    // 24 bytes — move for the rank. A corpus-×-corpus kNN join would
    // instead go through the s07 LSH band path (bucketed candidates,
    // exact re-rank), same as d16's cluster partitioning.
    QueryDef(
      "s11_knn_join",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter($"vec_id" >= 1 && $"vec_id" <= 4)
          .select($"vec_id".as("qid"), $"embedding".as("qv"))
        val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id".asc)
        emb.filter($"vec_id" > 4)
          .crossJoin(broadcast(queries))
          .select($"qid", $"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .withColumn("knn_rank", row_number().over(w).cast("long"))
          .filter($"knn_rank" <= 3)
          .orderBy($"qid", $"knn_rank")
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                   WHERE vec_id BETWEEN 1 AND 4),
        pairs AS (SELECT q.qid, e.vec_id,
                         unnest(e.embedding) AS x, unnest(q.qv) AS y
                  FROM embeddings e CROSS JOIN q WHERE e.vec_id > 4),
        dots AS (SELECT qid, vec_id,
                        ${oCosineSums()}
                 FROM pairs GROUP BY qid, vec_id),
        scored AS (SELECT qid, vec_id,
                          round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
                   FROM dots),
        ranked AS (SELECT qid, vec_id, cosine,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id ASC) AS rk
                   FROM scored)
        SELECT qid, vec_id, cosine, CAST(rk AS BIGINT) AS knn_rank
        FROM ranked WHERE rk <= 3 ORDER BY qid, knn_rank"""),
      doc = "k-NN join: query-set batch retrieval, broadcast queries, per-query top-k"),

    // ------------------------------------------------------------------
    // s12: LSH BATCH retrieval — s11's query set served through s07's
    // hyperplane-band index instead of exact scoring: the corpus is
    // banded ONCE (map-only signatures), the 16 query band rows are
    // broadcast, and only band-colliding (query, corpus) pairs get the
    // decimal-exact cosine + per-query rank. This is the scale path
    // s11's scaladoc names: per query the exact work drops from |corpus|
    // to the candidate set (~20% at the 4×4-bit recall knob, 0.36% at
    // the 2×8-bit scale knob — BASELINE.md ScaleSpec table), and the
    // corpus is still scanned exactly once for the whole batch.
    QueryDef(
      "s12_lsh_batch_retrieval",
      (s, dir) => {
        import s.implicits._
        val bands = hyperplaneBands(s, dir)
        val qBands = bands.filter($"vec_id" >= 1 && $"vec_id" <= 4)
          .select($"vec_id".as("qid"), $"band".as("qband"),
            $"bval".as("qbval"), $"embedding".as("qv"))
        val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id".asc)
        bands.filter($"vec_id" > 4)
          .join(broadcast(qBands), $"band" === $"qband" && $"bval" === $"qbval")
          .dropDuplicates("qid", "vec_id") // qv constant per qid band rows
          .select($"qid", $"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .withColumn("lsh_rank", row_number().over(w).cast("long"))
          .filter($"lsh_rank" <= 3)
          .orderBy($"qid", $"lsh_rank")
      },
      Some(s"""
        WITH planes AS (
          SELECT p AS plane,
                 list_transform(range(0, 64), d ->
                   CASE WHEN substr(md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1) < '8'
                        THEN -1.0 ELSE 1.0 END) AS hv
          FROM (SELECT unnest(range(0, 16)) AS p)),
        comps AS (SELECT e.vec_id, pl.plane,
                         unnest(e.embedding) AS x, unnest(pl.hv) AS h
                  FROM embeddings e CROSS JOIN planes pl),
        bits AS (SELECT vec_id, plane,
                        CASE WHEN ${oDot("x", "h")} >= 0
                             THEN 1 ELSE 0 END AS bit
                 FROM comps GROUP BY vec_id, plane),
        bands AS (SELECT vec_id, plane // 4 AS band,
                         SUM(bit * CASE plane % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                                  WHEN 2 THEN 2 ELSE 1 END) AS bval
                  FROM bits GROUP BY vec_id, plane // 4),
        qb AS (SELECT vec_id AS qid, band, bval FROM bands
               WHERE vec_id BETWEEN 1 AND 4),
        cands AS (SELECT DISTINCT qb.qid, b.vec_id FROM bands b
                  JOIN qb ON b.band = qb.band AND b.bval = qb.bval
                  WHERE b.vec_id > 4),
        qv AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id BETWEEN 1 AND 4),
        pairs AS (SELECT c.qid, c.vec_id,
                         unnest(e.embedding) AS x, unnest(q.qv) AS y
                  FROM cands c
                  JOIN embeddings e ON e.vec_id = c.vec_id
                  JOIN qv q ON q.qid = c.qid),
        dots AS (SELECT qid, vec_id,
                        ${oCosineSums()}
                 FROM pairs GROUP BY qid, vec_id),
        scored AS (SELECT qid, vec_id,
                          round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
                   FROM dots),
        ranked AS (SELECT qid, vec_id, cosine,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id ASC) AS rk
                   FROM scored)
        SELECT qid, vec_id, cosine, CAST(rk AS BIGINT) AS lsh_rank
        FROM ranked WHERE rk <= 3 ORDER BY qid, lsh_rank"""),
      doc = "LSH batch retrieval: banded index probed by a broadcast query set"),

    // ------------------------------------------------------------------
    // s13: FILTERED ANN — attribute-constrained similarity search (the
    // "pre-filter vs post-filter" problem every vector store names):
    // top-10 by cosine among ONLY the corpus vectors sharing the query's
    // `label`. Here the filter is applied BEFORE scoring (pre-filter:
    // exact, no recall loss, cheapest when the predicate is selective —
    // the label cuts the corpus ~10×); post-filtering an unconstrained
    // top-k would UNDER-fill k whenever the label is selective. At
    // scale the label becomes a partition/bucket column of the IVF or
    // LSH index so the predicate prunes index partitions at plan time —
    // the same partition-pruning machinery every other query here uses.
    QueryDef(
      "s13_filtered_ann",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter($"vec_id" === 0)
          .select($"embedding".as("qv"), $"label".as("qlabel"))
        emb.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .filter($"label" === $"qlabel")
          .select($"vec_id", $"label",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc)
          .limit(10)
      },
      Some(s"""
        WITH q AS (SELECT embedding AS qv, label AS qlabel
                   FROM embeddings WHERE vec_id = 0),
        pairs AS (SELECT e.vec_id, e.label,
                         unnest(e.embedding) AS x, unnest(q.qv) AS y
                  FROM embeddings e CROSS JOIN q
                  WHERE e.vec_id <> 0 AND e.label = q.qlabel),
        dots AS (SELECT vec_id, label,
                        ${oCosineSums()}
                 FROM pairs GROUP BY vec_id, label)
        SELECT vec_id, label, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
        FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 10"""),
      doc = "filtered ANN: attribute-constrained top-k (pre-filter, no recall loss)"),

    // ------------------------------------------------------------------
    // s14: PERSISTED IVF index — the s-series analog of d19. The build
    // phase runs s04's clustering ONCE and stores the index as tables
    // (centroids + bucket-clustered vector assignments, FactTable-logged
    // like any fact data); the search phase answers s04's query purely
    // from the STORED index: the probe bucket comes from the persisted
    // assignment, vectors come from the persisted bucket-clustered
    // store, and the corpus is never re-clustered (no centroid
    // cross-join, no per-vector argmin window — PlanSpec-asserted).
    // This is the 100 TB serving shape: clustering is an offline build
    // amortized over millions of queries; each query touches one
    // bucket of a persisted index. Oracle = s04's (same index, same
    // probe → identical top-5).
    QueryDef(
      "s14_ivf_stored_index",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        // ---- offline build (one-time; identical assignment to s02/s04)
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val w = Window.partitionBy($"vec_id").orderBy($"dist2".asc, $"cid".asc)
        val assigned = emb.crossJoin(broadcast(cents))
          .select($"vec_id", $"embedding", $"cid",
            round(l2SqExact("embedding", "cv"), 9).as("dist2"))
          .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
          .select($"vec_id", $"cid", $"embedding")
        val dt = to_date(lit("2024-01-01"))
        val idxT = new graft.storage.FactTable(graft.TempDirs.scratch("s14_ivf_idx"), s)
        idxT.append(assigned.withColumn("date", dt), 0)
        val centT = new graft.storage.FactTable(graft.TempDirs.scratch("s14_ivf_cent"), s)
        centT.append(cents.withColumn("date", dt), 0)
        // ---- online search: stored index only (appends above already
        // ran eagerly, so the returned plan reads just these tables)
        val idx = idxT.read().select($"vec_id", $"cid", $"embedding")
        val q = idx.filter($"vec_id" === 0)
          .select($"cid".as("qcid"), $"embedding".as("qv"))
        idx.join(broadcast(q), $"cid" === $"qcid")
          .filter($"vec_id" =!= 0)
          .select($"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc)
          .limit(5)
      },
      Some(storedIvfOracleSql()),
      doc = "persisted IVF index: offline build, bucket-probed search with no re-clustering"),

    // ------------------------------------------------------------------
    // s15: INCREMENTAL IVF APPEND — the index-lifecycle step s14 leaves
    // out and the d13-analog for ANN: new vectors arrive AFTER the
    // offline build, get assigned to the FROZEN centroids (broadcast,
    // batch-only work — the indexed corpus is not re-read, let alone
    // re-clustered), and land in the stored index via a second
    // txn-idempotent append. Because assignment to frozen centroids is
    // per-vector deterministic, append-then-search ≡ rebuild-then-search
    // — so the oracle is s14's verbatim, and that equality IS the
    // correctness contract that lets a deployment append forever between
    // periodic re-trains (centroid drift is a retrain decision, not an
    // ingest-path one). OperatorSpec asserts s15 ≡ s14 row-for-row.
    QueryDef(
      "s15_ivf_incremental_append",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        def assign(v: DataFrame): DataFrame = assignToFrozen(cents, v)
        val dt = to_date(lit("2024-01-01"))
        val idxT = new graft.storage.FactTable(graft.TempDirs.scratch("s15_ivf_idx"), s)
        // offline build over the base corpus (80%), then the later batch
        // (vec_id ≡ 4 mod 5) appended incrementally — frozen centroids,
        // batch-only assignment work
        idxT.append(assign(emb.filter($"vec_id" % 5 =!= 4))
          .withColumn("date", dt), 0)
        idxT.append(assign(emb.filter($"vec_id" % 5 === 4))
          .withColumn("date", dt), 1)
        val idx = idxT.read().select($"vec_id", $"cid", $"embedding")
        val q = idx.filter($"vec_id" === 0)
          .select($"cid".as("qcid"), $"embedding".as("qv"))
        idx.join(broadcast(q), $"cid" === $"qcid")
          .filter($"vec_id" =!= 0)
          .select($"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc)
          .limit(5)
      },
      Some(storedIvfOracleSql()),
      doc = "incremental IVF append: frozen-centroid assignment of a late batch, append == rebuild"),

    // ------------------------------------------------------------------
    // s16: SCALAR QUANTIZATION (SQ8) ANN — the third compression family
    // after IVF (s04, bucket pruning) and PQ (s08, subspace codebooks):
    // each float dimension is quantized independently to an 8-bit code
    // against per-dimension corpus [min, max] ranges (FAISS
    // ScalarQuantizer QT_8bit). Asymmetric distance: the query stays
    // exact; corpus vectors are ranked by L2² against their DEQUANTIZED
    // midpoints. Output contrasts the approximate distance with the
    // exact one, so the quantization error is visible in the result.
    //
    // Scale (100 TB): the trained "codebook" is a 64-row min/max table —
    // one partial-aggregated shuffle to build (64 groups), broadcast
    // back for both encode and rank; 4× memory compression on the
    // corpus side, and the scan stays one map-only pass + final top-k.
    // Determinism: codes come from IEEE double ops (sub/div/floor) that
    // are bit-identical across engines; per-dim squared terms are
    // decimal-summed so partial-agg order can't move the rank.
    QueryDef(
      "s16_sq8_quantized",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val comps = emb.select($"vec_id",
          posexplode_outer($"embedding").as(Seq("dim", "x")))
        // per-dimension quantizer training: corpus [min, max] (64 rows)
        val stats = comps.groupBy($"dim")
          .agg(min($"x").as("mn"), max($"x").as("mx"))
        val q = comps.filter($"vec_id" === 0)
          .select($"dim".as("qdim"), $"x".as("qx"))
        comps.filter($"vec_id" =!= 0)
          .join(broadcast(stats), Seq("dim"))
          .join(broadcast(q), $"dim" === $"qdim")
          .select($"vec_id", expr(
            """CASE WHEN mx = mn THEN CAST(mn AS DOUBLE) ELSE
                 CAST(mn AS DOUBLE) +
                 (LEAST(255, CAST(FLOOR((CAST(x AS DOUBLE) - CAST(mn AS DOUBLE))
                    / ((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) / 255.0)) AS INT))
                  + 0.5) * ((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) / 255.0)
               END""").as("xq"),
            $"x", $"qx")
          .groupBy($"vec_id")
          .agg(
            sum(expr("""CAST((CAST(qx AS DOUBLE) - xq)
                           * (CAST(qx AS DOUBLE) - xq) AS DECIMAL(38,18))"""))
              .as("adec"),
            sum(expr("""CAST((CAST(qx AS DOUBLE) - CAST(x AS DOUBLE))
                           * (CAST(qx AS DOUBLE) - CAST(x AS DOUBLE)) AS DECIMAL(38,18))"""))
              .as("edec"))
          .select($"vec_id", round($"adec".cast("double"), 9).as("approx_d2"),
            round($"edec".cast("double"), 9).as("exact_d2"))
          .orderBy($"approx_d2".asc, $"vec_id".asc)
          .limit(10)
      },
      Some("""
        WITH dims AS (SELECT unnest(range(1, 65)) AS d),
        comps AS (SELECT e.vec_id, d.d - 1 AS dim, e.embedding[d.d] AS x
                  FROM embeddings e CROSS JOIN dims d),
        stats AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx
                  FROM comps GROUP BY dim),
        q AS (SELECT dim AS qdim, x AS qx FROM comps WHERE vec_id = 0),
        terms AS (
          SELECT c.vec_id,
                 CASE WHEN s.mx = s.mn THEN CAST(s.mn AS DOUBLE) ELSE
                   CAST(s.mn AS DOUBLE) +
                   (LEAST(255, CAST(FLOOR((CAST(c.x AS DOUBLE) - CAST(s.mn AS DOUBLE))
                      / ((CAST(s.mx AS DOUBLE) - CAST(s.mn AS DOUBLE)) / 255.0)) AS INT))
                    + 0.5) * ((CAST(s.mx AS DOUBLE) - CAST(s.mn AS DOUBLE)) / 255.0)
                 END AS xq,
                 CAST(c.x AS DOUBLE) AS x, CAST(q.qx AS DOUBLE) AS qx
          FROM comps c
          JOIN stats s ON c.dim = s.dim
          JOIN q ON c.dim = q.qdim
          WHERE c.vec_id <> 0),
        dists AS (
          SELECT vec_id,
                 SUM(CAST((qx - xq) * (qx - xq) AS DECIMAL(38,18))) AS adec,
                 SUM(CAST((qx - x) * (qx - x) AS DECIMAL(38,18))) AS edec
          FROM terms GROUP BY vec_id)
        SELECT vec_id, round(CAST(adec AS DOUBLE), 9) AS approx_d2,
               round(CAST(edec AS DOUBLE), 9) AS exact_d2
        FROM dists ORDER BY approx_d2 ASC, vec_id ASC LIMIT 10"""),
      doc = "SQ8 scalar-quantization ANN: per-dim 8-bit codes, asymmetric dequantized ranking"),

    // ------------------------------------------------------------------
    // s17: BINARY (1-bit) quantization ANN — the fourth compression
    // family after IVF / PQ / SQ8, and the most aggressive: each
    // dimension becomes the sign bit of (x − μ_d) against the per-dim
    // corpus mean, packed 32 dims per word (two BIGINT words for the
    // 64-dim test embeddings; an array of words at any width — bit 63
    // of a signed BIGINT is deliberately unused so neither engine's
    // shift overflows). Ranking = Hamming distance, computed as
    // bit_count(xor(word, qword)) summed over words — 32 corpus bytes
    // per vector instead of 256 float bytes, and candidate ranking
    // needs only XOR+POPCNT (SIMD-trivial on any executor). The exact
    // cosine of each Hamming winner rides along so the compression
    // error is visible in the result, and ties (common in Hamming
    // space) break on vec_id for a total order.
    //
    // Scale (100 TB): the "codebook" is 64 means — one partial-agg
    // shuffle, broadcast back; encoding is map-only after that; the
    // Hamming scan is the cheapest possible first-stage filter before
    // exact re-ranking (the standard binary-embedding retrieval
    // cascade). Determinism: μ comes from decimal-exact sums; the
    // sign test and bit packing are integer-exact in both engines.
    QueryDef(
      "s17_binary_hamming",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val comps = emb.select($"vec_id",
          posexplode_outer($"embedding").as(Seq("dim", "x")))
        val thr = comps.groupBy($"dim")
          .agg((sum(expr("CAST(CAST(x AS DOUBLE) AS DECIMAL(38,18))"))
            .cast("double") / count(lit(1))).as("mu"))
        val codes = comps.join(broadcast(thr), Seq("dim"))
          .groupBy($"vec_id")
          .agg(
            expr("""bit_or(CASE WHEN dim < 32 AND CAST(x AS DOUBLE) > mu
                      THEN shiftleft(CAST(1 AS BIGINT), dim) ELSE CAST(0 AS BIGINT) END)""")
              .as("w0"),
            expr("""bit_or(CASE WHEN dim >= 32 AND CAST(x AS DOUBLE) > mu
                      THEN shiftleft(CAST(1 AS BIGINT), dim - 32) ELSE CAST(0 AS BIGINT) END)""")
              .as("w1"))
        val q = codes.filter($"vec_id" === 0)
          .select($"w0".as("q0"), $"w1".as("q1"))
        val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        codes.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .select($"vec_id",
            expr("CAST(bit_count(w0 ^ q0) + bit_count(w1 ^ q1) AS BIGINT)")
              .as("hamming"))
          .join(emb.select($"vec_id", $"embedding"), Seq("vec_id"))
          .crossJoin(broadcast(qv))
          .select($"vec_id", $"hamming",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"hamming".asc, $"vec_id".asc)
          .limit(10)
      },
      Some(s"""
        WITH dims AS (SELECT unnest(range(1, 65)) AS d),
        comps AS (SELECT e.vec_id, d.d - 1 AS dim, e.embedding[d.d] AS x
                  FROM embeddings e CROSS JOIN dims d),
        thr AS (SELECT dim,
                       CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,18)))
                            AS DOUBLE) / COUNT(*) AS mu
                FROM comps GROUP BY dim),
        codes AS (
          SELECT c.vec_id,
                 bit_or(CASE WHEN c.dim < 32 AND CAST(c.x AS DOUBLE) > t.mu
                        THEN (1::BIGINT << c.dim) ELSE 0::BIGINT END) AS w0,
                 bit_or(CASE WHEN c.dim >= 32 AND CAST(c.x AS DOUBLE) > t.mu
                        THEN (1::BIGINT << (c.dim - 32)) ELSE 0::BIGINT END) AS w1
          FROM comps c JOIN thr t ON c.dim = t.dim
          GROUP BY c.vec_id),
        q AS (SELECT w0 AS q0, w1 AS q1 FROM codes WHERE vec_id = 0),
        qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        ham AS (SELECT c.vec_id,
                       CAST(bit_count(xor(c.w0, q.q0))
                            + bit_count(xor(c.w1, q.q1)) AS BIGINT) AS hamming
                FROM codes c, q WHERE c.vec_id <> 0),
        pairs AS (SELECT h.vec_id, h.hamming,
                         unnest(e.embedding) AS x, unnest(qv.qv) AS y
                  FROM ham h JOIN embeddings e ON e.vec_id = h.vec_id, qv),
        dots AS (SELECT vec_id, hamming,
                        ${OracleFragments.oCosineSums()}
                 FROM pairs GROUP BY vec_id, hamming)
        SELECT vec_id, hamming,
               round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
        FROM dots ORDER BY hamming ASC, vec_id ASC LIMIT 10"""),
      doc = "binary sign-bit quantization ANN: 32-dims-per-word packing, XOR+POPCNT Hamming ranking"),

    // ------------------------------------------------------------------
    // s18: INDEX DELETE (tombstones in the persisted IVF index) — the
    // lifecycle step after build (s14) and append (s15): a deterministic
    // slice of indexed vectors is taken down via the storage layer's
    // key tombstones (dx23's deletion vectors): O(deleted keys) write,
    // NO index part rewritten, centroids untouched — deletes never
    // retrain, exactly as FAISS/Vespa handle removals with an ID
    // selector / tombstone until the next index rebuild. The search is
    // s14's verbatim, running through the masked read, so deleted
    // vectors can neither match nor serve as the probe anchor. Oracle =
    // s04's recompute over the SURVIVING corpus (delete-then-search ≡
    // rebuild-on-survivors for bucket membership — frozen centroids
    // make assignment per-vector deterministic); OperatorSpec also
    // asserts that equality row-for-row against a filtered s14 rebuild.
    QueryDef(
      "s18_ivf_tombstone_delete",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val w = Window.partitionBy($"vec_id").orderBy($"dist2".asc, $"cid".asc)
        val assigned = emb.crossJoin(broadcast(cents))
          .select($"vec_id", $"embedding", $"cid",
            round(l2SqExact("embedding", "cv"), 9).as("dist2"))
          .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
          .select($"vec_id", $"cid", $"embedding")
        val dt = to_date(lit("2024-01-01"))
        val idxT = new graft.storage.FactTable(graft.TempDirs.scratch("s18_ivf_idx"), s)
        idxT.append(assigned.withColumn("date", dt), 0)
        val partsBefore = idxT.snapshot().dataFiles.map(_.path).toSet
        val nDel = idxT.softDelete($"vec_id" % 7 === 3, Seq("vec_id"))
        require(nDel > 0, "index tombstone delete removed nothing")
        require(idxT.snapshot().dataFiles.map(_.path).toSet == partsBefore,
          "index delete rewrote parts — tombstones must be O(keys)")
        val idx = idxT.read().select($"vec_id", $"cid", $"embedding")
        val q = idx.filter($"vec_id" === 0)
          .select($"cid".as("qcid"), $"embedding".as("qv"))
        idx.join(broadcast(q), $"cid" === $"qcid")
          .filter($"vec_id" =!= 0)
          .select($"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc)
          .limit(5)
      },
      Some(storedIvfOracleSql(" AND a.vec_id % 7 <> 3")),
      doc = "IVF index delete: key tombstones mask the stored index, no rewrite, no retrain"),

    // ------------------------------------------------------------------
    // s19: MMR-diversified retrieval (Maximal Marginal Relevance,
    // Carbonell & Goldstein 1998) — the standard answer to "the top-k
    // are all near-duplicates of each other" when sampling eval/demo
    // sets from a deduplicated-but-still-clumpy corpus. Two stages with
    // sharply different scale behavior, deliberately separated:
    //   1. candidate generation — the DISTRIBUTED part: exact top-16 by
    //      rounded cosine vs the query (s01's plan: broadcast query,
    //      map-side scoring, TakeOrderedAndProject). At 100 TB this is
    //      per-query ANN (s07/s09/s14) instead; MMR only ever sees the
    //      small head.
    //   2. greedy re-rank — the PER-QUERY part: λ·rel − (1−λ)·max-sim-
    //      to-selected, λ=0.7, k=6. The candidate head collapses to ONE
    //      row (array of 16 structs) and the whole greedy loop runs as
    //      an in-row aggregate() fold — zero driver involvement, zero
    //      per-step shuffles, and with many queries it parallelizes as
    //      one row per query (the fold is a plain projection).
    // Determinism: rel and pairwise sims go through the decimal-exact
    // dot fold rounded to 9 (the s01 contract); the MMR score arithmetic
    // is double with identical literals/association both sides; every
    // argmax tie-breaks to the smaller vec_id (struct-max over
    // (score, -vec_id)). Seed convention: the first pick is argmax rel
    // and records score = rel (max over an empty selected set).
    QueryDef(
      "s19_mmr_diversified",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        val cands = emb.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .select($"vec_id", $"embedding".as("emb"),
            round(cosineExact("embedding", "qv"), 9).as("rel"),
            sqrt(dotExact("embedding", "embedding")).as("na"))
          .orderBy($"rel".desc, $"vec_id".asc)
          .limit(16)
        // collapse the head to one array row, rel-desc/vec_id-asc sorted:
        // nk = -(rel·1e9 as long) is a faithful descending key for a
        // 9-rounded |rel| ≤ 1 (integral, far inside 2^53)
        val packed = cands.agg(expr(
          """sort_array(collect_list(named_struct(
               'nk', -CAST(round(rel * 1e9) AS BIGINT),
               'vec_id', vec_id, 'rel', rel, 'na', na, 'emb', emb)))""")
          .as("cs"))
        packed.select(expr(mmrGreedySql).as("sel"))
          .select(posexplode($"sel").as(Seq("i", "r")))
          .select(($"i" + 1).cast("long").as("rank"), $"r.vec_id".as("vec_id"),
            $"r.rel".as("rel"), $"r.score".as("score"))
          .orderBy($"rank")
      },
      Some(mmrOracleSql),
      doc = "MMR-diversified top-k: distributed candidate head + in-row greedy λ·rel − (1−λ)·max-sim re-rank, argmax ties to smaller vec_id"),

    // ------------------------------------------------------------------
    // s21: STREAMING ANN INGEST, batch shadow — the s-series d20: the
    // whole corpus arrives as a SEQUENCE of micro-batches (vec_id % 4)
    // that build the stored IVF index via frozen-centroid assignment
    // and per-batch txn-idempotent appends; nothing is ever clustered
    // or read twice. Because `assignToFrozen` is per-vector
    // deterministic and order-independent, ANY batching of the corpus
    // builds byte-identical index content — so the searched result
    // equals s14's one-shot build and the oracle is s14's verbatim.
    // That equality is the delivery contract that lets the real
    // `streaming/AnnStream.AnnIngest` foreachBatch path (StreamingSpec:
    // stream-built index ≡ this fold, replay convergence) ingest
    // vectors forever between retrains. The quantizer (8 centroids) is
    // the offline-trained artifact that must exist before ingest
    // starts — the retrain cadence is an index-lifecycle decision
    // (s14 build / s15 append / s18 delete), not an ingest-path one.
    QueryDef(
      "s21_streaming_ann_ingest",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val dt = to_date(lit("2024-01-01"))
        val idxT = new graft.storage.FactTable(graft.TempDirs.scratch("s21_ivf_idx"), s)
        (0 to 3).foreach { k =>
          idxT.append(
            assignToFrozen(cents, emb.filter($"vec_id" % 4 === k))
              .withColumn("date", dt), k.toLong)
        }
        val idx = idxT.read().select($"vec_id", $"cid", $"embedding")
        val q = idx.filter($"vec_id" === 0)
          .select($"cid".as("qcid"), $"embedding".as("qv"))
        idx.join(broadcast(q), $"cid" === $"qcid")
          .filter($"vec_id" =!= 0)
          .select($"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc)
          .limit(5)
      },
      Some(storedIvfOracleSql()),
      doc = "streaming ANN ingest (batch shadow): whole corpus as sequential micro-batch appends to the stored IVF index; any batching == rebuild"),

    // ------------------------------------------------------------------
    // s20: IVF bucket-balance report — the index-maintenance signal the
    // s14/s15/s21 lifecycle decides RETRAINS on: per-centroid population
    // and share, plus a hot flag (bucket > 2× the even share) marking
    // quantizer drift. A skewed inverted file loses exactly what IVF
    // buys — probe cost is the probed bucket's size, so one hot bucket
    // makes every query landing there pay the skew (the ANN twin of the
    // d03 hot-bucket problem; there the router salts around skew, here
    // the report tells the operator to retrain/split). Everything is
    // exact integer arithmetic: share in ppm via integer div, hot via
    // cross-multiplication (8·n > 2·total) — no float thresholds to
    // drift across engines. Shape: the assignment is the broadcast
    // centroid join (nlist rows), the report one 8-group partial agg +
    // a broadcast of the 1-row total; at any corpus size this is a
    // map-side-combined scan.
    QueryDef(
      "s20_ivf_balance_report",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val buckets = assignToFrozen(cents, emb)
          .groupBy($"cid").agg(count(lit(1)).as("n_vecs"))
        val total = buckets.agg(sum($"n_vecs").as("total"))
        buckets.crossJoin(broadcast(total))
          .select($"cid", $"n_vecs",
            expr("n_vecs * 1000000 div total").as("share_ppm"),
            ($"n_vecs" * 8 > $"total" * 2).as("hot"))
          .orderBy($"cid")
      },
      Some(s"""
        $ivfAssignSqlCtes,
        buckets AS (SELECT cid, COUNT(*) AS n_vecs FROM assigned GROUP BY cid),
        tot AS (SELECT SUM(n_vecs) AS total FROM buckets)
        SELECT cid, CAST(n_vecs AS BIGINT) AS n_vecs,
               CAST(n_vecs * 1000000 // total AS BIGINT) AS share_ppm,
               n_vecs * 8 > total * 2 AS hot
        FROM buckets, tot ORDER BY cid"""),
      doc = "IVF bucket-balance report: per-centroid population/share + integer-exact hot flag — the retrain signal for the stored-index lifecycle"),

    // ------------------------------------------------------------------
    // s22: RANGE SEARCH (FAISS range_search / radius retrieval) — the
    // threshold dual of the s11 k-NN join: for a broadcast probe SET,
    // ALL corpus vectors with cosine ≥ τ, not a fixed top-k. This is
    // the retrieval mode dedup-adjacent pipelines actually want ("give
    // me every near-copy", where k is unknowable a priori); the corpus
    // plants ×2-scaled copies (the d06 convention), which are
    // cosine-1.0 hits for their probes. Two-phase scoring (the
    // d06/d16 pattern): the codegen'd double vec_dot prefilters the
    // probe×corpus candidate stream map-side against the broadcast
    // probes — no shuffle at all before the final sort — and only
    // near-threshold survivors (1e-6 slack vs ~1e-12 double error, so
    // provably no boundary loss) run the decimal-exact kernel that
    // decides τ bit-identically to the oracle. At 100 TB this is one
    // scan of the corpus with a fixed per-row cost of |probes| double
    // dots — the shape a brute-force range scan must have; the IVF
    // bucket route (s14) bounds it further when τ is tight.
    QueryDef(
      "s22_range_search",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.dotExact
        val tau = 0.95
        val base = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val copies = base.filter($"vec_id" % 25 === 0)
          .select(($"vec_id" + 1000000L).as("vec_id"),
            expr("transform(embedding, x -> x * CAST(2.0 AS FLOAT))")
              .as("embedding"))
        val corpus = base.unionByName(copies)
          .withColumn("norm", sqrt(dotExact("embedding", "embedding")))
        val probes = base.filter($"vec_id" < 4 || $"vec_id" === 25)
          .withColumn("qnorm", sqrt(dotExact("embedding", "embedding")))
          .select($"vec_id".as("qid"), $"embedding".as("qv"), $"qnorm")
        graft.plans.VectorExpressions.register(s)
        corpus.crossJoin(broadcast(probes))
          .filter($"vec_id" =!= $"qid")
          .filter(expr("vec_dot(embedding, qv)") / ($"norm" * $"qnorm")
            >= tau - 1e-6)
          .select($"qid", $"vec_id",
            round(dotExact("embedding", "qv") / ($"norm" * $"qnorm"), 9)
              .as("cosine"))
          .filter($"cosine" >= tau)
          .orderBy($"qid", $"vec_id")
      },
      Some(s"""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000,
                 list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
          FROM embeddings WHERE vec_id % 25 = 0),
        probes AS (
          SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id < 4 OR vec_id = 25),
        flat AS (SELECT c.vec_id, p.qid, unnest(c.embedding) AS x,
                        unnest(p.qv) AS y
                 FROM corpus c CROSS JOIN probes p WHERE c.vec_id <> p.qid),
        dots AS (SELECT qid, vec_id,
                        ${graft.operators.OracleFragments.oCosineSums()}
                 FROM flat GROUP BY qid, vec_id)
        SELECT qid, vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
        FROM dots
        WHERE round(dot / (sqrt(na) * sqrt(nq)), 9) >= 0.95
        ORDER BY qid, vec_id"""),
      doc = "range search: threshold retrieval over a broadcast probe set — all cosine >= tau hits, two-phase double-prefilter + decimal-exact confirm, map-side until the final sort"),

    // ------------------------------------------------------------------
    // s23: JL RANDOM PROJECTION + DISTORTION AUDIT — 64-dim embeddings
    // compressed to 16 dims with an Achlioptas ±1 sign matrix (the
    // storage/bandwidth lever for a 100 TB vector corpus: 4× smaller
    // vectors with Johnson-Lindenstrauss distance guarantees), plus the
    // audit that makes the compression trustworthy: for a planted
    // sample of pairs, the projected-vs-original squared-distance ratio
    // (×16 normalization folded into the denominator so no vector is
    // ever divided). The sign matrix is a pure function of (row, dim) —
    // md5 parity, 'jl:' salt — folded to a literal at plan build (the
    // s07 hyperplane trick), so projection is MAP-ONLY: 16 decimal
    // folds per row, no shuffle anywhere before the audit's pair join.
    // Components surface as correctly-rounded doubles of exact decimal
    // sums, so both engines see bit-identical projections; distances
    // then go through the shared l2SqExact kernel.
    QueryDef(
      "s23_jl_projection_audit",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.l2SqExact
        val md = java.security.MessageDigest.getInstance("MD5")
        val signsLit = typedLit((1 to 16).map { j =>
          (0 until 64).map { d =>
            val hex = md.digest(s"jl:$j:$d".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            if (hex.head < '8') -1.0 else 1.0
          }
        })
        val proj = Tables.load(s, dir, "embeddings")
          .filter($"vec_id" < 64)
          .select($"vec_id", $"embedding", signsLit.as("sg"))
          .withColumn("proj", expr(
            """transform(sequence(1, 16), j ->
                 CAST(aggregate(
                   zip_with(embedding, element_at(sg, j),
                     (x, h) -> CAST(x AS DOUBLE) * h),
                   CAST(0 AS DECIMAL(38,18)),
                   (acc, v) -> CAST(acc + CAST(v AS DECIMAL(38,18))
                               AS DECIMAL(38,18)))
                 AS DOUBLE))"""))
          .select($"vec_id", $"embedding", $"proj")
        val a = proj.filter($"vec_id" % 2 === 0)
          .select($"vec_id".as("id_a"), $"embedding".as("ea"), $"proj".as("pa"))
        val b = proj.filter($"vec_id" % 2 === 1)
          .select($"vec_id".as("id_b"), $"embedding".as("eb"), $"proj".as("pb"))
        a.join(b, $"id_b" === $"id_a" + 1)
          .select($"id_a", $"id_b",
            round(l2SqExact("ea", "eb"), 9).as("d2_orig"),
            round(l2SqExact("pa", "pb"), 9).as("d2_proj"))
          .withColumn("ratio",
            round($"d2_proj" / (lit(16.0) * $"d2_orig"), 6))
          .withColumn("ok", abs($"ratio" - 1.0) <= 0.8)
          .orderBy($"id_a")
      },
      Some(s"""
        WITH comp AS (
          SELECT e.vec_id, t.j,
                 CAST(SUM(CAST(CAST(e.embedding[u.d + 1] AS DOUBLE)
                   * (CASE WHEN substr(md5('jl:' || t.j || ':' || u.d), 1, 1)
                           < '8' THEN -1.0 ELSE 1.0 END)
                   AS DECIMAL(38,18))) AS DOUBLE) AS p
          FROM embeddings e, range(1, 17) t(j), range(0, 64) u(d)
          WHERE e.vec_id < 64
          GROUP BY e.vec_id, t.j),
        projv AS (SELECT vec_id, list(p ORDER BY j) AS proj
                  FROM comp GROUP BY vec_id),
        prs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ea.embedding AS ea, eb.embedding AS eb,
                 a.proj AS pa, b.proj AS pb
          FROM projv a JOIN projv b ON b.vec_id = a.vec_id + 1
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
          WHERE a.vec_id % 2 = 0),
        flato AS (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM prs),
        flatp AS (SELECT id_a, id_b, unnest(pa) AS x, unnest(pb) AS y FROM prs),
        d2o AS (SELECT id_a, id_b, round(${graft.operators.OracleFragments
          .oL2Sq("x", "y")}, 9) AS d2_orig FROM flato GROUP BY id_a, id_b),
        d2p AS (SELECT id_a, id_b, round(${graft.operators.OracleFragments
          .oL2Sq("x", "y")}, 9) AS d2_proj FROM flatp GROUP BY id_a, id_b)
        SELECT d2o.id_a, d2o.id_b, d2_orig, d2_proj,
               round(d2_proj / (16.0 * d2_orig), 6) AS ratio,
               abs(round(d2_proj / (16.0 * d2_orig), 6) - 1.0) <= 0.8 AS ok
        FROM d2o JOIN d2p ON d2o.id_a = d2p.id_a AND d2o.id_b = d2p.id_b
        ORDER BY d2o.id_a"""),
      doc = "JL random projection (64->16, Achlioptas sign matrix as a folded literal) + distortion audit: projected-vs-original squared-distance ratios over planted pairs, map-only projection, decimal-exact kernels"),

    // ------------------------------------------------------------------
    // s24: STORED-INDEX MULTI-PROBE — s14's serving path at a production
    // recall target (VERDICT r9 #3): the persisted IVF index answers the
    // query by probing the nprobe=2 buckets nearest the QUERY VECTOR
    // (s06's knob), still with ZERO re-clustering. Probe selection reads
    // only the STORED centroid table: 8 rows join the single query row
    // on a constant key (a broadcast hash join, not a cross join), rank
    // by exact L2², keep 2 via orderBy+limit — a TakeOrderedAndProject
    // over nlist rows, no Window, no per-vector argmin. The probed
    // centroids then broadcast into the bucket-clustered store exactly
    // like s14's single probe. At 100 TB: probe selection is
    // O(nlist · nqueries) broadcast work (the ONE nested-loop join in
    // the plan, over the nlist-row centroid table — never the corpus),
    // bucket scan cost grows linearly in nprobe while recall approaches
    // brute force — the same curve s06 demonstrates on the recompute
    // path, now amortized over the offline build. PlanSpec locks: no
    // Window anywhere, the single NLJ, broadcast bucket probe.
    QueryDef(
      "s24_ivf_stored_multiprobe",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        // ---- offline build (identical assignment to s02/s04/s14)
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val w = Window.partitionBy($"vec_id").orderBy($"dist2".asc, $"cid".asc)
        val assigned = emb.crossJoin(broadcast(cents))
          .select($"vec_id", $"embedding", $"cid",
            round(l2SqExact("embedding", "cv"), 9).as("dist2"))
          .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
          .select($"vec_id", $"cid", $"embedding")
        val dt = to_date(lit("2024-01-01"))
        val idxT = new graft.storage.FactTable(graft.TempDirs.scratch("s24_ivf_idx"), s)
        idxT.append(assigned.withColumn("date", dt), 0)
        val centT = new graft.storage.FactTable(graft.TempDirs.scratch("s24_ivf_cent"), s)
        centT.append(cents.withColumn("date", dt), 0)
        // ---- online search: stored tables only
        val idx = idxT.read().select($"vec_id", $"cid", $"embedding")
        val q = idx.filter($"vec_id" === 0).select($"embedding".as("qv"))
        val probes = centT.read().select($"cid", $"cv")
          .crossJoin(broadcast(q))
          .select($"cid", $"qv", round(l2SqExact("cv", "qv"), 9).as("dist2"))
          .orderBy($"dist2".asc, $"cid".asc)
          .limit(2)
          .select($"cid".as("pcid"), $"qv")
        idx.join(broadcast(probes), $"cid" === $"pcid")
          .filter($"vec_id" =!= 0)
          .select($"vec_id", $"cid",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc)
          .limit(10)
      },
      Some(s"""
        $ivfAssignSqlCtes,
        probes AS (SELECT cid FROM (
                     SELECT cid, ROW_NUMBER() OVER (ORDER BY dist2 ASC, cid ASC) AS rk
                     FROM distsr WHERE vec_id = 0) t WHERE rk <= 2),
        bucket AS (SELECT a.vec_id, a.cid FROM assigned a
                   JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> 0),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        pairs AS (SELECT b.vec_id, b.cid, unnest(e.embedding) AS x, unnest(q.qv) AS y
                  FROM bucket b JOIN embeddings e ON e.vec_id = b.vec_id, q),
        dots AS (SELECT vec_id, cid,
                        ${oCosineSums()}
                 FROM pairs GROUP BY vec_id, cid)
        SELECT vec_id, cid, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
        FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 10"""),
      doc = "stored-index multi-probe IVF: persisted centroid table ranks nprobe=2 buckets for the query, bucket-clustered store probed via broadcast — production recall knob with zero re-clustering"),

    // ------------------------------------------------------------------
    // s25: SUBSCRIBED ANN INDEX MAINTENANCE — d36's change-feed loop for
    // the vector modality, closing what s15 shortcuts: s15's late batch
    // is a recomputed filter over the corpus; s25's batch arrives as
    // dx28's CHANGE FEED of a vector FactTable (v1's inserts — the only
    // vector rows the maintenance path ever touches). The feed rows
    // assign to the FROZEN stored centroids (broadcast, O(batch) work)
    // and append to the stored index; because frozen-centroid
    // assignment is per-vector deterministic, feed-driven append ≡
    // rebuild — so the oracle is s14's verbatim, through the store.
    // This is the ingest cadence of a production vector store: vectors
    // land in the fact table, the index tails its change feed.
    QueryDef(
      "s25_subscribed_ann_maintenance",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val dt = to_date(lit("2024-01-01"))
        def tmp(p: String) = graft.TempDirs.scratch(p)
        // vector fact table: v0 = base corpus, v1 = the late batch
        val vecT = new graft.storage.FactTable(tmp("s25_vecs"), s)
        vecT.append(emb.filter($"vec_id" % 5 =!= 4)
          .select($"vec_id", $"embedding").withColumn("date", dt), 0)
        vecT.append(emb.filter($"vec_id" % 5 === 4)
          .select($"vec_id", $"embedding").withColumn("date", dt), 1)
        // offline index build over v0 (frozen centroids, s15's kernel)
        val idxT = new graft.storage.FactTable(tmp("s25_idx"), s)
        idxT.append(assignToFrozen(cents,
          vecT.read(0).select($"vec_id", $"embedding"))
          .withColumn("date", dt), 0)
        // maintenance: ONLY the change feed flows into the index
        val fed = vecT.changesBetween(1, 1)
          .filter($"_change_type" === "insert")
          .select($"vec_id", $"embedding")
        idxT.append(assignToFrozen(cents, fed).withColumn("date", dt), 1)
        // search the stored index (s14's single-probe shape)
        val idx = idxT.read().select($"vec_id", $"cid", $"embedding")
        val q = idx.filter($"vec_id" === 0)
          .select($"cid".as("qcid"), $"embedding".as("qv"))
        idx.join(broadcast(q), $"cid" === $"qcid")
          .filter($"vec_id" =!= 0)
          .select($"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc)
          .limit(5)
      },
      Some(storedIvfOracleSql()),
      doc = "subscribed ANN maintenance: vector fact table's change feed assigned to frozen stored centroids and appended to the stored index — feed-driven append == rebuild, O(batch) ingest work"),

    // ------------------------------------------------------------------
    // s26: STORED PQ-CODE INDEX — the persisted-serving half of s08, and
    // the memory story a 100 TB vector corpus actually needs: the store
    // holds 8 SMALL CODES per vector plus a 32-row codebook, NOT the 64
    // floats (the 8× scan compression is the whole point of PQ). The
    // offline build runs s08's encode ONCE (subspace slices, broadcast
    // codebook join, per-(vec,sp) argmin) and persists codes + codebook
    // via FactTable; the SERVING path touches only the stored tables —
    // the query's raw vector is sliced against the STORED codebook into
    // a 32-entry lookup table (broadcast; 32 sub-distances total, no
    // per-corpus-vector distance work), and ranking is one lookup-join +
    // sum over the stored codes. The corpus embeddings are never read at
    // serving time and the encode argmin never re-runs (PlanSpec: the
    // search plan has NO Window). Decimal-exact end-to-end, so the
    // stored-serving ranking is bit-identical to s08's recompute path —
    // the oracle is s08's verbatim, and that equality is the contract
    // that lets the store serve forever between re-encodes.
    QueryDef(
      "s26_pq_stored_codes",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.l2SqDecimal
        val emb = Tables.load(s, dir, "embeddings")
        // ---- offline build: s08's encode, persisted ONCE per corpus
        // (pqStoresFor — corpus-keyed with s48's traversal sharing it)
        val (codesT, bookT) = pqStoresFor(s, dir)
        // ---- serving: stored codes + stored codebook only; the raw
        // query vector arrives from outside the index (production shape)
        val book = bookT.read().select($"cid", $"csp", $"cv")
        val qsubs = emb.filter($"vec_id" === 0)
          .select(posexplode_outer(expr(
            "transform(sequence(0, 7), sp -> slice(embedding, 8*sp+1, 8))"))
            .as(Seq("qsp", "qv")))
        val qd = qsubs.join(broadcast(book), $"qsp" === $"csp")
          .select($"qsp", $"cid".as("qcid"), l2SqDecimal("qv", "cv").as("qd2"))
        codesT.read().select($"vec_id", $"sp", $"code")
          .filter($"vec_id" =!= 0)
          .join(broadcast(qd), $"sp" === $"qsp" && $"code" === $"qcid")
          .groupBy($"vec_id").agg(sum($"qd2").as("adc_dec"))
          .select($"vec_id", round($"adc_dec".cast("double"), 9).as("adc"))
          .orderBy($"adc".asc, $"vec_id".asc)
          .limit(10)
      },
      Some(pqAdcOracleSql),
      doc = "stored PQ-code index: offline encode persisted as 8 codes/vector + 32-row codebook, serving = broadcast 32-entry query lookup table + one lookup-join over stored codes, corpus raw vectors never read — stored-serving ranking == s08's recompute path"),

    // ------------------------------------------------------------------
    // s27: STORED IVF-PQ SERVING — the assembled production stack the
    // s-series has been building toward (the Faiss IVFPQ shape): s24's
    // persisted multi-probe bucket pruning composed with s26's persisted
    // PQ codes. The offline build runs coarse assignment (s02) + PQ
    // encode (s08) ONCE and persists three tables — bucket-tagged codes
    // (vec_id, icid, 8 codes), the nlist-row coarse centroids, and the
    // 32-row PQ codebook. SERVING touches only the stores: the raw query
    // ranks the stored centroid table for nprobe=2 buckets (orderBy +
    // limit, no Window), slices itself against the stored codebook into
    // a broadcast 32-entry lookup table, and ADC-ranks ONLY the probed
    // buckets' stored codes — at 100 TB that is a partition-pruned scan
    // of ~nprobe/nlist of an 8×-compressed index, with every join a
    // broadcast. Decimal-exact throughout, so the oracle is the closed
    // recompute form (s09's CTEs with rank ≤ 2 probe selection).
    QueryDef(
      "s27_ivfpq_stored_serving",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.l2SqDecimal
        val emb = Tables.load(s, dir, "embeddings")
        val slices =
          "transform(sequence(0, 7), sp -> slice(embedding, 8*sp+1, 8))"
        // ---- offline build: coarse assign + PQ encode, persisted
        val icents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("icid"), $"embedding".as("icv"))
        val wA = Window.partitionBy($"vec_id").orderBy($"idist".asc, $"icid".asc)
        val assigned = emb.crossJoin(broadcast(icents))
          .select($"vec_id", $"embedding", $"icid",
            round(l2SqExact("embedding", "icv"), 9).as("idist"))
          .withColumn("rk", row_number().over(wA)).filter($"rk" === 1)
          .select($"vec_id", $"embedding", $"icid")
        val pqCents = emb.filter($"vec_id".between(1, 4))
          .select($"vec_id".as("cid"),
            posexplode_outer(expr(slices)).as(Seq("csp", "cv")))
        val wC = Window.partitionBy($"vec_id", $"sp")
          .orderBy($"d2".asc, $"cid".asc)
        val codes = assigned
          .select($"vec_id", $"icid", posexplode_outer(expr(slices)).as(Seq("sp", "sv")))
          .join(broadcast(pqCents), $"sp" === $"csp")
          .select($"vec_id", $"icid", $"sp", $"cid",
            l2SqDecimal("sv", "cv").as("d2"))
          .withColumn("rk", row_number().over(wC)).filter($"rk" === 1)
          .select($"vec_id", $"icid", $"sp", $"cid".as("code"))
        val dt = to_date(lit("2024-01-01"))
        def tmp(p: String) = graft.TempDirs.scratch(p)
        // codes land CLUSTERED by coarse bucket: repartitionByRange with
        // an EXPLICIT partition count (AQE coalesces a count-less
        // repartition of a small build into one file, killing the stats)
        // gives each file a tight contiguous icid range, so the log's
        // per-file min/max stats on icid let a probe-time filter SKIP
        // every non-probed file at plan time (the dx10 machinery —
        // ClickHouse's sparse PK / Delta file stats). This is what makes
        // "scan ~nprobe/nlist of the index" literal, not aspirational.
        // hash-repartition with an EXPLICIT count, not repartitionByRange:
        // range sampling re-executes the whole encode pipeline a second
        // time (measured 107 s at ×100), and a count-less repartition is
        // AQE-coalesced into one file on a small build (killing the
        // stats). Hash with 32 buckets over nlist=8 ids leaves each file
        // covering one icid (rarely two on a hash collision) — tight
        // enough for the min/max skip — at the cost of one plain
        // exchange of the skinny code rows.
        val codesT = new graft.storage.FactTable(tmp("s27_codes"), s)
        codesT.append(codes.repartition(32, $"icid")
          .withColumn("date", dt), 0)
        val centT = new graft.storage.FactTable(tmp("s27_icent"), s)
        centT.append(icents.withColumn("date", dt), 0)
        val bookT = new graft.storage.FactTable(tmp("s27_book"), s)
        bookT.append(pqCents.withColumn("date", dt), 0)
        // ---- serving: stored tables only; the raw query arrives from
        // outside the index. Probe selection COLLECTS nprobe=2 centroid
        // ids — a bounded driver artifact (this is how a vector store
        // plans: read the tiny centroid index, then issue pruned scans).
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        val probeCids = centT.read().select($"icid", $"icv")
          .crossJoin(broadcast(q))
          .select($"icid", round(l2SqExact("icv", "qv"), 9).as("dist2"))
          .orderBy($"dist2".asc, $"icid".asc).limit(2)
          .select($"icid").as[Long].collect().toSeq
        val probeCond = $"icid".isin(probeCids: _*)
        val (kept, total) = codesT.pruneReport(probeCond)
        require(kept < total,
          s"codes-store probe pruning regressed: $kept/$total files kept")
        val qd = emb.filter($"vec_id" === 0)
          .select(posexplode_outer(expr(slices)).as(Seq("qsp0", "qv")))
          .join(broadcast(bookT.read().select($"cid", $"csp", $"cv")),
            $"qsp0" === $"csp")
          .select($"qsp0".as("qsp"), $"cid".as("qcid"),
            l2SqDecimal("qv", "cv").as("qd2"))
        codesT.readWhere(probeCond)
          .select($"vec_id", $"sp", $"code")
          .filter($"vec_id" =!= 0)
          .join(broadcast(qd), $"sp" === $"qsp" && $"code" === $"qcid")
          .groupBy($"vec_id").agg(sum($"qd2").as("adc_dec"))
          .select($"vec_id", round($"adc_dec".cast("double"), 9).as("adc"))
          .orderBy($"adc".asc, $"vec_id".asc)
          .limit(10)
      },
      Some(s"""
        WITH icents AS (SELECT vec_id AS icid, embedding AS icv
                        FROM embeddings WHERE vec_id < 8),
        ipairs AS (SELECT e.vec_id, c.icid,
                          unnest(e.embedding) AS x, unnest(c.icv) AS y
                   FROM embeddings e CROSS JOIN icents c),
        idists AS (SELECT vec_id, icid,
                          round(${oL2Sq("x", "y")}, 9) AS idist
                   FROM ipairs GROUP BY vec_id, icid),
        iassign AS (SELECT vec_id, icid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY idist ASC, icid ASC) AS rk
                    FROM idists),
        assigned AS (SELECT vec_id, icid FROM iassign WHERE rk = 1),
        probes AS (SELECT icid FROM iassign WHERE vec_id = 0 AND rk <= 2),
        bucket AS (SELECT a.vec_id FROM assigned a JOIN probes p
                   ON a.icid = p.icid WHERE a.vec_id <> 0),
        spn AS (SELECT unnest(range(0, 8)) AS sp),
        pqcents AS (
          SELECT e.vec_id AS cid, spn.sp AS csp,
                 e.embedding[(8*spn.sp+1):(8*spn.sp+8)] AS cv
          FROM embeddings e CROSS JOIN spn WHERE e.vec_id BETWEEN 1 AND 4),
        subs AS (
          SELECT b.vec_id, spn.sp, e.embedding[(8*spn.sp+1):(8*spn.sp+8)] AS sv
          FROM bucket b JOIN embeddings e ON e.vec_id = b.vec_id CROSS JOIN spn),
        dpairs AS (
          SELECT su.vec_id, su.sp, c.cid, unnest(su.sv) AS x, unnest(c.cv) AS y
          FROM subs su JOIN pqcents c ON su.sp = c.csp),
        dists AS (
          SELECT vec_id, sp, cid,
                 ${oL2SqDec("x", "y")} AS d2
          FROM dpairs GROUP BY vec_id, sp, cid),
        codes AS (
          SELECT vec_id, sp, cid AS code,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sp
                                    ORDER BY d2 ASC, cid ASC) AS rk
          FROM dists),
        qpairs AS (
          SELECT spn.sp, c.cid, unnest(e.embedding[(8*spn.sp+1):(8*spn.sp+8)]) AS x,
                 unnest(c.cv) AS y
          FROM embeddings e CROSS JOIN spn
          JOIN pqcents c ON spn.sp = c.csp
          WHERE e.vec_id = 0),
        qd AS (
          SELECT sp AS qsp, cid AS qcid,
                 ${oL2SqDec("x", "y")} AS qd2
          FROM qpairs GROUP BY sp, cid),
        adc AS (
          SELECT c.vec_id, SUM(q.qd2) AS adc_dec
          FROM codes c JOIN qd q ON c.sp = q.qsp AND c.code = q.qcid
          WHERE c.rk = 1 GROUP BY c.vec_id)
        SELECT vec_id, round(CAST(adc_dec AS DOUBLE), 9) AS adc
        FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 10"""),
      doc = "stored IVF-PQ serving: nprobe=2 bucket pruning from the stored centroid table + ADC over the probed buckets' stored codes — the assembled production ANN stack, every serving join a broadcast"),

    // ------------------------------------------------------------------
    // s28: IVF-PQ RECALL AUDIT — the third leg of the recall-audit
    // family (d18 quantifies dedup recall, s10 LSH recall): how much of
    // the EXACT L2 top-10 does the s27 serving stack (nprobe=2 coarse
    // pruning + 8×8 PQ/ADC ranking) actually return? Both error sources
    // are in play — bucket pruning can drop a true neighbor assigned to
    // an unprobed centroid, and code quantization can re-rank the
    // survivors — and the audit attributes misses: in_probed_bucket
    // distinguishes a pruning miss (false) from a quantization miss
    // (true but not in the ADC top-10). Both legs are the exact shapes
    // already locked elsewhere (brute-force TakeOrdered; s27's serving
    // CTEs), so this also pins their agreement into the correctness
    // gate. In production the truth leg runs on a sampled query set
    // only; the audit is a cheap nightly job against the live index.
    QueryDef(
      "s28_ivfpq_recall",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.l2SqDecimal
        val emb = Tables.load(s, dir, "embeddings")
        val slices =
          "transform(sequence(0, 7), sp -> slice(embedding, 8*sp+1, 8))"
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        // exact L2 top-10 ground truth (decimal-exact, ties to smaller id)
        val truth = emb.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .select($"vec_id", round(l2SqExact("embedding", "qv"), 9).as("l2"))
          .orderBy($"l2".asc, $"vec_id".asc)
          .limit(10)
        // the s27 serving pipeline (recomputed here — the audit must not
        // depend on a store side effect): coarse assign, nprobe=2, ADC
        val icents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("icid"), $"embedding".as("icv"))
        val wA = Window.partitionBy($"vec_id").orderBy($"idist".asc, $"icid".asc)
        val assigned = emb.crossJoin(broadcast(icents))
          .select($"vec_id", $"embedding", $"icid",
            round(l2SqExact("embedding", "icv"), 9).as("idist"))
          .withColumn("rk", row_number().over(wA)).filter($"rk" === 1)
          .select($"vec_id", $"embedding", $"icid")
        val probes = assigned.filter($"vec_id" === 0)
          .select($"embedding".as("qe"))
          .crossJoin(broadcast(icents))
          .select($"icid", round(l2SqExact("icv", "qe"), 9).as("dist2"))
          .orderBy($"dist2".asc, $"icid".asc).limit(2)
          .select($"icid".as("pcid"))
        val bucket = assigned.join(broadcast(probes), $"icid" === $"pcid")
          .filter($"vec_id" =!= 0)
        val pqCents = emb.filter($"vec_id".between(1, 4))
          .select($"vec_id".as("cid"),
            posexplode_outer(expr(slices)).as(Seq("csp", "cv")))
        val wC = Window.partitionBy($"vec_id", $"sp")
          .orderBy($"d2".asc, $"cid".asc)
        val codes = bucket
          .select($"vec_id", posexplode_outer(expr(slices)).as(Seq("sp", "sv")))
          .join(broadcast(pqCents), $"sp" === $"csp")
          .select($"vec_id", $"sp", $"cid", l2SqDecimal("sv", "cv").as("d2"))
          .withColumn("rk", row_number().over(wC)).filter($"rk" === 1)
          .select($"vec_id", $"sp", $"cid".as("code"))
        val qd = emb.filter($"vec_id" === 0)
          .select(posexplode_outer(expr(slices)).as(Seq("qsp0", "qvs")))
          .join(broadcast(pqCents), $"qsp0" === $"csp")
          .select($"qsp0".as("qsp"), $"cid".as("qcid"),
            l2SqDecimal("qvs", "cv").as("qd2"))
        val served = codes
          .join(broadcast(qd), $"sp" === $"qsp" && $"code" === $"qcid")
          .groupBy($"vec_id").agg(sum($"qd2").as("adc_dec"))
          .select($"vec_id", round($"adc_dec".cast("double"), 9).as("adc"))
          .orderBy($"adc".asc, $"vec_id".asc)
          .limit(10)
          .select($"vec_id", lit(true).as("hit"))
        val probedIds = bucket.select($"vec_id", lit(true).as("probed"))
        truth
          .join(served, Seq("vec_id"), "left")
          .join(probedIds, Seq("vec_id"), "left")
          .select($"vec_id", $"l2",
            coalesce($"probed", lit(false)).as("in_probed_bucket"),
            coalesce($"hit", lit(false)).as("found_by_ivfpq"))
          .orderBy($"l2".asc, $"vec_id".asc)
      },
      Some(s"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        tpairs AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
                   FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
        truth AS (
          SELECT vec_id, round(${oL2Sq("x", "y")}, 9) AS l2
          FROM tpairs GROUP BY vec_id
          ORDER BY l2 ASC, vec_id ASC LIMIT 10),
        icents AS (SELECT vec_id AS icid, embedding AS icv
                   FROM embeddings WHERE vec_id < 8),
        ipairs AS (SELECT e.vec_id, c.icid,
                          unnest(e.embedding) AS x, unnest(c.icv) AS y
                   FROM embeddings e CROSS JOIN icents c),
        idists AS (SELECT vec_id, icid,
                          round(${oL2Sq("x", "y")}, 9) AS idist
                   FROM ipairs GROUP BY vec_id, icid),
        iassign AS (SELECT vec_id, icid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY idist ASC, icid ASC) AS rk
                    FROM idists),
        assigned AS (SELECT vec_id, icid FROM iassign WHERE rk = 1),
        probes AS (SELECT icid FROM iassign WHERE vec_id = 0 AND rk <= 2),
        bucket AS (SELECT a.vec_id FROM assigned a JOIN probes p
                   ON a.icid = p.icid WHERE a.vec_id <> 0),
        spn AS (SELECT unnest(range(0, 8)) AS sp),
        pqcents AS (
          SELECT e.vec_id AS cid, spn.sp AS csp,
                 e.embedding[(8*spn.sp+1):(8*spn.sp+8)] AS cv
          FROM embeddings e CROSS JOIN spn WHERE e.vec_id BETWEEN 1 AND 4),
        subs AS (
          SELECT b.vec_id, spn.sp, e.embedding[(8*spn.sp+1):(8*spn.sp+8)] AS sv
          FROM bucket b JOIN embeddings e ON e.vec_id = b.vec_id CROSS JOIN spn),
        dpairs AS (
          SELECT su.vec_id, su.sp, c.cid, unnest(su.sv) AS x, unnest(c.cv) AS y
          FROM subs su JOIN pqcents c ON su.sp = c.csp),
        dists AS (
          SELECT vec_id, sp, cid,
                 ${oL2SqDec("x", "y")} AS d2
          FROM dpairs GROUP BY vec_id, sp, cid),
        codes AS (
          SELECT vec_id, sp, cid AS code,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sp
                                    ORDER BY d2 ASC, cid ASC) AS rk
          FROM dists),
        qpairs AS (
          SELECT spn.sp, c.cid, unnest(e.embedding[(8*spn.sp+1):(8*spn.sp+8)]) AS x,
                 unnest(c.cv) AS y
          FROM embeddings e CROSS JOIN spn
          JOIN pqcents c ON spn.sp = c.csp
          WHERE e.vec_id = 0),
        qd AS (
          SELECT sp AS qsp, cid AS qcid,
                 ${oL2SqDec("x", "y")} AS qd2
          FROM qpairs GROUP BY sp, cid),
        served AS (
          SELECT c.vec_id, SUM(q.qd2) AS adc_dec
          FROM codes c JOIN qd q ON c.sp = q.qsp AND c.code = q.qcid
          WHERE c.rk = 1 GROUP BY c.vec_id
          ORDER BY round(CAST(adc_dec AS DOUBLE), 9) ASC, vec_id ASC
          LIMIT 10)
        SELECT t.vec_id, t.l2,
               EXISTS (SELECT 1 FROM bucket b WHERE b.vec_id = t.vec_id)
                 AS in_probed_bucket,
               EXISTS (SELECT 1 FROM served s WHERE s.vec_id = t.vec_id)
                 AS found_by_ivfpq
        FROM truth t ORDER BY t.l2 ASC, t.vec_id ASC"""),
      doc = "IVF-PQ recall audit: exact L2 top-10 truth vs the s27 serving stack, misses attributed to bucket pruning vs code quantization"),

    // ------------------------------------------------------------------
    // s29: HYBRID RETRIEVAL with reciprocal-rank fusion — the production
    // retrieval stack every RAG / retrieval-augmented training pipeline
    // runs: a lexical BM25 leg (k1=1.2, b=0.75, the +1 "BM25+" idf that
    // never goes negative) over document text, and a dense cosine leg
    // over the row-aligned embeddings table, fused per query by RRF
    // (score = Σ legs 1/(60+rank)) — rank-only fusion, so the two legs
    // need NO score calibration. Three query documents probe both legs;
    // each leg's top-20 fuses into a final top-10 per query.
    //   Determinism: per-term BM25 contributions round to 6 digits THEN
    // DECIMAL-sum (order-independent across partial aggregation); the
    // dense leg is the s01 decimal-cosine kernel rounded to 9; the RRF
    // score is INTEGER micro-points (10^9 div (60+rank)), so the fused
    // ordering is exact integer math; every rank ties to smaller doc_id.
    //   Scale (100 TB): query terms and query vectors are tiny
    // broadcasts; df / N / avgdl corpus statistics partial-aggregate
    // map-side; each leg's per-query rank is a WindowGroupLimit top-20
    // over only the candidate-matched rows (docs sharing ≥1 query term /
    // all-candidate cosine), and the fusion full-outer join sees ≤ 20
    // rows per leg per query. Document text shuffles once (the tf
    // aggregate); embeddings never shuffle at all.
    QueryDef(
      "s29_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        val qids = Seq(0L, 7L, 13L)
        rrfFuse(bm25LexTop(s, dir, qids, 20), exactVecTop(s, dir, qids, 20), 10)
          .select($"qid", $"rk", $"doc_id", $"rrf_micro", $"lex_rk", $"vec_rk")
          .orderBy($"qid", $"rk")
      },
      Some(s"""
        WITH ${bm25LexSqlCtes("0, 7, 13", 20)},
        qv AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id IN (0, 7, 13)),
        vpairs AS (SELECT q.qid, e.vec_id, unnest(e.embedding) AS x,
                          unnest(q.qv) AS y
                   FROM embeddings e CROSS JOIN qv q
                   WHERE e.vec_id NOT IN (0, 7, 13)),
        vdots AS (SELECT qid, vec_id, ${oCosineSums()}
                  FROM vpairs GROUP BY qid, vec_id),
        vrank AS (SELECT qid, vec_id AS doc_id,
                         ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9) DESC,
                                    vec_id ASC) AS vec_rk
                  FROM vdots),
        vtop AS (SELECT qid, doc_id, vec_rk FROM vrank WHERE vec_rk <= 20),
        fused AS (
          SELECT COALESCE(l.qid, v.qid) AS qid,
                 COALESCE(l.doc_id, v.doc_id) AS doc_id,
                 l.lex_rk, v.vec_rk,
                 CAST(COALESCE(1000000000 // (60 + l.lex_rk), 0)
                      + COALESCE(1000000000 // (60 + v.vec_rk), 0)
                   AS BIGINT) AS rrf_micro
          FROM lextop l FULL OUTER JOIN vtop v
            ON l.qid = v.qid AND l.doc_id = v.doc_id),
        ranked AS (SELECT qid, doc_id, rrf_micro, lex_rk, vec_rk,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY rrf_micro DESC, doc_id ASC) AS rk
                   FROM fused)
        SELECT qid, rk, doc_id, rrf_micro, lex_rk, vec_rk
        FROM ranked WHERE rk <= 10 ORDER BY qid, rk"""),
      doc = "hybrid retrieval: BM25 lexical leg + exact-cosine dense leg fused by integer reciprocal-rank fusion — rank-only fusion needs no score calibration; broadcast query terms/vectors, WindowGroupLimit top-k per leg"),

    // ------------------------------------------------------------------
    // s30: NPROBE RECALL/COST SWEEP — the measured trade-off curve for
    // the IVF family (the similarity dual of d24's LSH banding sweep):
    // for nprobe ∈ {1,2,4,8} over the 8-centroid index, how many
    // candidates does the probe scan and how many of the exact top-10
    // does it recover? Serving inside the probed buckets is exact
    // cosine, so every miss is attributable to bucket PRUNING alone —
    // this is the table an operator reads to pick the production nprobe
    // (s24/s27 ship nprobe=2; this query shows what that buys).
    //   One pass: each candidate row carries its centroid's probe rank
    // and replicates only into the levels that would scan it (explode of
    // a 4-element literal); per-level top-10 is a WindowGroupLimit; the
    // truth set is a broadcast 10-row join. All-integer output.
    QueryDef(
      "s30_nprobe_sweep",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val cents = emb.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        // probe order: centroids ranked by L2 to the query (8 rows —
        // the unpartitioned window is a deliberate driver-size sort)
        val crank = cents.crossJoin(broadcast(q))
          .select($"cid", round(l2SqExact("cv", "qv"), 9).as("cdist"))
          .withColumn("crk", row_number()
            .over(Window.orderBy($"cdist".asc, $"cid".asc)).cast("long"))
          .select($"cid", $"crk")
        val wA = Window.partitionBy($"vec_id").orderBy($"dist2".asc, $"cid".asc)
        // the assignment argmin feeds both the count and the hit pass —
        // pinned so it computes once (in production this is the STORED
        // s14/s24 index read, not a recompute at all)
        val assigned = emb.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(cents))
          .select($"vec_id", $"embedding", $"cid",
            round(l2SqExact("embedding", "cv"), 9).as("dist2"))
          .withColumn("rk", row_number().over(wA)).filter($"rk" === 1)
          .select($"vec_id", $"embedding", $"cid")
          .localCheckpoint(eager = false)
        val truth = exactCosineTopK(s, dir, 10)
          .select($"vec_id", lit(true).as("in_truth"))
        val wS = Window.partitionBy($"nprobe")
          .orderBy($"cosine".desc, $"vec_id".asc)
        // n_candidates per level is DERIVED, not scanned: per-centroid
        // bucket sizes (an 8-row partial aggregate) summed over the
        // centroids each level probes — the corpus is never re-read to
        // count itself.
        val counts = assigned.groupBy($"cid").agg(count(lit(1)).as("bn"))
          .join(broadcast(crank), "cid")
          .withColumn("nprobe", explode(typedLit(Seq(1L, 2L, 4L, 8L))))
          .filter($"crk" <= $"nprobe")
          .groupBy($"nprobe").agg(sum($"bn").as("n_candidates"))
        // The rank filter sits DIRECTLY on the row_number so
        // WindowGroupLimit fires — without it the nprobe=8 window is
        // one task fully sorting the whole corpus, the classic 100-TB
        // window scale-killer (the first cut had the rank test buried
        // inside the aggregate and planned exactly that).
        val hits = assigned.join(broadcast(crank), "cid")
          .crossJoin(broadcast(q))
          .withColumn("cosine", round(cosineExact("embedding", "qv"), 9))
          .withColumn("nprobe", explode(typedLit(Seq(1L, 2L, 4L, 8L))))
          .filter($"crk" <= $"nprobe")
          .withColumn("srk", row_number().over(wS).cast("long"))
          .filter($"srk" <= 10)
          .join(broadcast(truth), Seq("vec_id"), "left")
          .groupBy($"nprobe")
          .agg(sum(when($"in_truth", lit(1L)).otherwise(lit(0L)))
            .as("hits_at_10"))
        counts.join(hits, "nprobe").orderBy($"nprobe")
      },
      Some(s"""
        $ivfAssignSqlCtes,
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        ccpairs AS (SELECT c.cid, unnest(c.cv) AS x, unnest(q.qv) AS y
                    FROM cents c CROSS JOIN q),
        cdists AS (SELECT cid, round(${oL2Sq("x", "y")}, 9) AS cdist
                   FROM ccpairs GROUP BY cid),
        crank AS (SELECT cid, ROW_NUMBER() OVER
                    (ORDER BY cdist ASC, cid ASC) AS crk
                  FROM cdists),
        tpairs AS (SELECT e.vec_id, unnest(e.embedding) AS x,
                          unnest(q.qv) AS y
                   FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
        tdots AS (SELECT vec_id, ${oCosineSums()}
                  FROM tpairs GROUP BY vec_id),
        cosines AS (SELECT vec_id,
                           round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
                    FROM tdots),
        truth AS (SELECT vec_id FROM cosines
                  ORDER BY cosine DESC, vec_id ASC LIMIT 10),
        lvl AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS nprobe),
        cand AS (SELECT l.nprobe, a.vec_id, co.cosine
                 FROM assigned a
                 JOIN crank r ON a.cid = r.cid
                 JOIN cosines co ON co.vec_id = a.vec_id
                 CROSS JOIN lvl l
                 WHERE a.vec_id <> 0 AND r.crk <= l.nprobe),
        srk AS (SELECT nprobe, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY nprobe
                         ORDER BY cosine DESC, vec_id ASC) AS srk
                FROM cand)
        SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN srk <= 10 AND vec_id IN
                      (SELECT vec_id FROM truth) THEN 1 ELSE 0 END)
                 AS BIGINT) AS hits_at_10
        FROM srk GROUP BY nprobe ORDER BY nprobe"""),
      doc = "nprobe recall/cost sweep: per probe depth, candidates scanned + exact-top-10 hits recovered — misses attributable to bucket pruning alone; the production nprobe selection table"),

    // ------------------------------------------------------------------
    // s31: BATCH SERVING over the stored IVF index — s24 answers ONE
    // query; a production vector store answers a BATCH (the s12 LSH
    // batch-retrieval pattern applied to the persisted index). The
    // query set reads from the store itself, broadcasts against the
    // tiny stored centroid table for per-query nprobe=2 probe selection
    // (a WindowGroupLimit over nlist×nqueries rows — never the corpus),
    // and the (qid, probed-bucket, query-vector) triples broadcast into
    // the bucket-clustered store: each corpus vector is scored only
    // against the queries that probed its bucket. Per-query top-5 via
    // group-limited window. At 100 TB the serving cost is
    // O(Σ probed-bucket sizes), independent of the query count's
    // interaction with the full corpus — the batched amortization every
    // vector-store serving tier relies on. Zero re-clustering.
    QueryDef(
      "s31_ivf_batch_serving",
      (s, dir) => {
        import s.implicits._
        storedIvfBatchRank(s, dir, Seq(0L, 9L, 21L), "s31")
          .filter($"srk" <= 5)
          .select($"qid", $"srk".as("rk"), $"vec_id", $"cosine")
          .orderBy($"qid", $"rk")
      },
      Some(s"""
        $ivfAssignSqlCtes,
        ${storedIvfBatchSqlCtes("0, 9, 21")}
        SELECT qid, rk, vec_id, cosine FROM rankd
        WHERE rk <= 5 ORDER BY qid, rk"""),
      doc = "batch serving over the stored IVF index: broadcast query set, per-query nprobe=2 probe selection from the stored centroid table, each corpus vector scored only against the queries that probed its bucket — the batched vector-store serving tier, zero re-clustering"),

    // ------------------------------------------------------------------
    // s32: the ASSEMBLED HYBRID SERVING STACK — s29's fusion semantics
    // with the dense leg swapped from brute-force cosine to the STORED
    // IVF batch-serving path (s31's kernel): this is the retrieval tier
    // a production RAG system actually deploys — lexical BM25 + an ANN
    // index, rank-fused by RRF. The dense leg now ranks only within each
    // query's nprobe=2 probed buckets (the recall/cost trade the index
    // buys), so its ranks — and therefore the fusion — legitimately
    // differ from s29's exact-dense reference: comparing the two queries
    // IS the end-to-end recall measurement for the assembled stack.
    // Scale: the lexical leg is s29's (one pinned tf aggregate, tiny
    // broadcasts, group-limited top-20); the dense leg is s31's
    // (bucket-bounded stored scan); fusion joins ≤ 20 rows per leg per
    // query. Everything heavy is shared, oracle-checked code.
    QueryDef(
      "s32_hybrid_stored_serving",
      (s, dir) => {
        import s.implicits._
        val qids = Seq(0L, 7L, 13L)
        val vecTop = storedIvfBatchRank(s, dir, qids, "s32")
          .filter($"srk" <= 20)
          .select($"qid", $"vec_id".as("doc_id"), $"srk".as("vec_rk"))
        rrfFuse(bm25LexTop(s, dir, qids, 20), vecTop, 10)
          .select($"qid", $"rk", $"doc_id", $"rrf_micro", $"lex_rk", $"vec_rk")
          .orderBy($"qid", $"rk")
      },
      Some(s"""
        $ivfAssignSqlCtes,
        ${bm25LexSqlCtes("0, 7, 13", 20)},
        ${storedIvfBatchSqlCtes("0, 7, 13")},
        vtop AS (SELECT qid, vec_id AS doc_id, rk AS vec_rk
                 FROM rankd WHERE rk <= 20),
        fused AS (
          SELECT COALESCE(l.qid, v.qid) AS qid,
                 COALESCE(l.doc_id, v.doc_id) AS doc_id,
                 l.lex_rk, v.vec_rk,
                 CAST(COALESCE(1000000000 // (60 + l.lex_rk), 0)
                      + COALESCE(1000000000 // (60 + v.vec_rk), 0)
                   AS BIGINT) AS rrf_micro
          FROM lextop l FULL OUTER JOIN vtop v
            ON l.qid = v.qid AND l.doc_id = v.doc_id),
        franked AS (SELECT qid, doc_id, rrf_micro, lex_rk, vec_rk,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY rrf_micro DESC, doc_id ASC) AS rk
                    FROM fused)
        SELECT qid, rk, doc_id, rrf_micro, lex_rk, vec_rk
        FROM franked WHERE rk <= 10 ORDER BY qid, rk"""),
      doc = "assembled hybrid serving stack: BM25 lexical leg + STORED-IVF batch-served dense leg fused by integer RRF — the deployed RAG retrieval tier; dense ranks come from the probed buckets, so s29-vs-s32 diff IS the stack's recall cost"),

    // ------------------------------------------------------------------
    // s33: HYBRID RECALL AUDIT — the measurement s32's scaladoc promises
    // (the fourth recall-audit leg after d18/s10/s28): s29's exact
    // hybrid top-10 is the truth set, s32's served hybrid top-10 is the
    // system under test, and every miss is attributed to the only
    // approximation in the stack — the dense leg's bucket pruning
    // (in_probed_bucket=false ⇒ the doc was invisible to the served
    // dense leg; =true ⇒ the miss came from rank displacement inside the
    // fusion, not from pruning). This is the end-to-end number a team
    // quotes when deciding whether nprobe=2 is enough for their hybrid
    // tier — per-leg recall (s28, s30) provably does not compose into
    // fused recall, which is why the audit exists. Both sides recompute
    // through the SHARED oracle-checked cores; the lexical leg is built
    // once and pinned (it feeds both fusions).
    QueryDef(
      "s33_hybrid_recall_audit",
      (s, dir) => {
        import s.implicits._
        val qids = Seq(0L, 7L, 13L)
        // the lexical leg feeds BOTH fusions: pin its ≤ 20·|q| rows
        val lex = bm25LexTop(s, dir, qids, 20).localCheckpoint(eager = false)
        val truth = rrfFuse(lex, exactVecTop(s, dir, qids, 20), 10)
          .select($"qid", $"rk", $"doc_id")
        val servedRank = storedIvfBatchRank(s, dir, qids, "s33")
        val served = rrfFuse(lex, servedRank.filter($"srk" <= 20)
            .select($"qid", $"vec_id".as("doc_id"), $"srk".as("vec_rk")), 10)
          .select($"qid", $"doc_id", lit(true).as("found"))
        // every (qid, vec) pair the stored dense leg COULD see — the
        // ranking before its top-20 cut is exactly the probed buckets
        val probed = servedRank
          .select($"qid", $"vec_id".as("doc_id"), lit(true).as("probed"))
        truth
          .join(served, Seq("qid", "doc_id"), "left")
          .join(probed, Seq("qid", "doc_id"), "left")
          .select($"qid", $"rk", $"doc_id",
            coalesce($"found", lit(false)).as("found_by_served"),
            coalesce($"probed", lit(false)).as("in_probed_bucket"))
          .orderBy($"qid", $"rk")
      },
      Some(s"""
        ${hybridTruthServedSqlCtes("0, 7, 13")}
        SELECT t.qid, t.rk, t.doc_id,
               EXISTS (SELECT 1 FROM sranked sr WHERE sr.qid = t.qid
                         AND sr.doc_id = t.doc_id AND sr.rk <= 10)
                 AS found_by_served,
               EXISTS (SELECT 1 FROM bucket b WHERE b.qid = t.qid
                         AND b.vec_id = t.doc_id)
                 AS in_probed_bucket
        FROM tranked t WHERE t.rk <= 10 ORDER BY t.qid, t.rk"""),
      doc = "hybrid recall audit: exact-hybrid top-10 truth vs the s32 served stack, misses attributed to dense-leg bucket pruning vs fusion rank displacement — per-leg recall does not compose into fused recall; this measures the composition"),

    // ------------------------------------------------------------------
    // s34: METADATA-FILTERED ANN SERVING — the vector-store problem none
    // of s01-s33 touches and every production deployment hits first:
    // "nearest neighbors WHERE lang = X" (tenant, language, date range,
    // ACL). The two deployed strategies diverge hard: POST-filtering
    // runs plain ANN then drops non-matching hits (recall collapses as
    // the filter sharpens — the top-k may contain zero matches);
    // PRE-filtering pushes the predicate INTO the probed-bucket scan,
    // which is exactly what a columnar index store does for free — the
    // metadata lives in the same stored index table as the codes, so the
    // filter composes with bucket pruning as an ordinary conjunct (and,
    // on a FactTable clustered by the metadata column, as a stats-pruned
    // one). This entry serves the PRE-filtered path over the SHARED
    // stored IVF pair (s31's, corpus-keyed — no extra build) and audits
    // it against the exact filtered top-5: within probed buckets the
    // filtered scan is EXACT, so every miss is attributable to bucket
    // pruning alone — the in-body require pins that theorem (a
    // served_found=false row with in_probed_bucket=true would mean the
    // serving path itself lost a candidate). Queries are deliberately
    // OUTSIDE the filter class (the cross-lingual / cross-tenant search
    // shape). At 100 TB: the filter multiplies with nprobe pruning
    // instead of degrading recall — the argument for metadata-in-index
    // over post-filtering a separate ANN service.
    QueryDef(
      "s34_filtered_ann_serving",
      (s, dir) => {
        import s.implicits._
        val (idxT, centT) = storedIvfStores(s, dir)
        // metadata column of the stored index (derived deterministically
        // from vec_id — stands in for a stored lang/tenant column)
        val idx = idxT.read().select($"vec_id", $"cid", $"embedding",
          concat(lit("l"), ($"vec_id" % 4).cast("string")).as("lang"))
        val qids = Seq(2L, 11L, 23L)
        val queries = idx.filter($"vec_id".isin(qids: _*))
          .select($"vec_id".as("qid"), $"embedding".as("qv"))
        val wP = Window.partitionBy($"qid").orderBy($"qdist".asc, $"cid".asc)
        val probes = centT.read().select($"cid", $"cv")
          .crossJoin(broadcast(queries))
          .select($"qid", $"cid", $"qv",
            round(l2SqExact("cv", "qv"), 9).as("qdist"))
          .withColumn("prk", row_number().over(wP)).filter($"prk" <= 2)
          .select($"qid", $"cid".as("pcid"), $"qv")
        val flt = idx.filter($"lang" === "l1")
        // PRE-filtered serving: the predicate rides the bucket scan
        val wS = Window.partitionBy($"qid")
          .orderBy($"cosine".desc, $"vec_id".asc)
        val served = flt.join(broadcast(probes), $"cid" === $"pcid")
          .filter($"vec_id" =!= $"qid")
          .select($"qid", $"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .withColumn("srk", row_number().over(wS)).filter($"srk" <= 5)
          .select($"qid", $"vec_id", lit(true).as("served_found"))
        // exact filtered truth: brute force over the filtered corpus
        val wT = Window.partitionBy($"qid")
          .orderBy($"cosine".desc, $"vec_id".asc)
        val truth = flt.crossJoin(broadcast(queries))
          .filter($"vec_id" =!= $"qid")
          .select($"qid", $"vec_id", $"cid",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .withColumn("trk", row_number().over(wT)).filter($"trk" <= 5)
        val probed = probes.select($"qid".as("pq"), $"pcid").distinct()
        val out = truth
          .join(served, Seq("qid", "vec_id"), "left")
          .join(broadcast(probed),
            $"qid" === $"pq" && $"cid" === $"pcid", "left")
          .select($"qid", $"trk".cast("long").as("rk"), $"vec_id", $"cosine",
            coalesce($"served_found", lit(false)).as("served_found"),
            $"pq".isNotNull.as("in_probed_bucket"))
          .orderBy($"qid", $"rk")
        // the pre-filter theorem: within probed buckets the filtered
        // scan is exact — every miss is bucket pruning, never the path
        require(out.filter($"served_found" === false &&
            $"in_probed_bucket" === true).isEmpty,
          "filtered serving lost a candidate inside a probed bucket")
        out
      },
      Some(s"""
        $ivfAssignSqlCtes,
        qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id IN (2, 11, 23)),
        qprobe AS (SELECT q.qid, d.cid,
                          ROW_NUMBER() OVER (PARTITION BY q.qid
                            ORDER BY d.dist2 ASC, d.cid ASC) AS rk
                   FROM qs q JOIN distsr d ON d.vec_id = q.qid),
        probes AS (SELECT qid, cid FROM qprobe WHERE rk <= 2),
        flt AS (SELECT a.vec_id, a.cid, e.embedding FROM assigned a
                JOIN embeddings e ON e.vec_id = a.vec_id
                WHERE a.vec_id % 4 = 1),
        tpairs AS (SELECT q.qid, f.vec_id, f.cid, unnest(f.embedding) AS x,
                          unnest(q.qv) AS y
                   FROM flt f CROSS JOIN qs q WHERE f.vec_id <> q.qid),
        tdots AS (SELECT qid, vec_id, cid, ${oCosineSums()}
                  FROM tpairs GROUP BY qid, vec_id, cid),
        truth AS (SELECT qid, vec_id, cid,
                         round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine,
                         ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9)
                             DESC, vec_id ASC) AS trk
                  FROM tdots),
        served AS (SELECT t.qid, t.vec_id,
                          ROW_NUMBER() OVER (PARTITION BY t.qid
                            ORDER BY t.cosine DESC, t.vec_id ASC) AS srk
                   FROM truth t
                   JOIN probes p ON p.qid = t.qid AND p.cid = t.cid)
        SELECT t.qid, t.trk AS rk, t.vec_id, t.cosine,
               COALESCE(sv.found, FALSE) AS served_found,
               p2.qid IS NOT NULL AS in_probed_bucket
        FROM truth t
        LEFT JOIN (SELECT qid, vec_id, TRUE AS found FROM served
                   WHERE srk <= 5) sv
          ON sv.qid = t.qid AND sv.vec_id = t.vec_id
        LEFT JOIN probes p2 ON p2.qid = t.qid AND p2.cid = t.cid
        WHERE t.trk <= 5
        ORDER BY t.qid, rk"""),
      doc = "metadata-filtered ANN serving (the filtered-search problem every production vector store hits): the predicate rides the probed-bucket scan of the SHARED stored IVF pair as an ordinary conjunct (pre-filtering — composes with bucket pruning instead of degrading recall like post-filtering), audited against the exact filtered top-5 with every miss attributed to bucket pruning alone (the pre-filter exactness theorem, required in-body); queries deliberately outside the filter class"),

    // ------------------------------------------------------------------
    // s35: MATRYOSHKA prefix-dimension re-ranking (Kusupati et al. 2022,
    // "Matryoshka Representation Learning"; the adaptive-retrieval
    // funnel OpenAI/Nomic ship as dimension-truncatable embeddings) —
    // a THIRD cheap-first serving geometry next to IVF's bucket pruning
    // (s24/s27) and PQ's code compression (s08/s26): the COARSE pass
    // scores cosine on only the FIRST 16 of 64 components, keeps the
    // top-50 per query, and only those 50 load their full-width vectors
    // for the exact re-rank top-10. At 100 TB the prefix lives as its
    // own parquet column, so the corpus-sized scan reads 25 % of the
    // embedding bytes via plain column pruning — no index build, no
    // stored sidecar, the one ANN variant whose scale lever is the
    // SCHEMA — and the full vectors materialize for 50 rows per query,
    // not the corpus. Audit mirrors s34's attribution discipline: exact
    // full-dim top-10 is the truth side, every re-rank miss must be a
    // coarse-shortlist miss (within the shortlist the re-rank is exact
    // decimal cosine — required in-body), and per-truth-row flags let
    // the oracle check recall attribution row by row.
    QueryDef(
      "s35_matryoshka_rerank",
      (s, dir) => {
        import s.implicits._
        val qids = Seq(0L, 1L, 2L)
        val C = 50
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter($"vec_id".isin(qids: _*))
          .select($"vec_id".as("qid"), $"embedding".as("qv"))
        val corpus = emb.filter(!$"vec_id".isin(qids: _*))
        val scored = corpus.crossJoin(broadcast(queries))
          .select($"qid", $"vec_id", $"embedding", $"qv",
            round(cosineExact("slice(embedding, 1, 16)",
              "slice(qv, 1, 16)"), 9).as("pcos"))
        val wC = Window.partitionBy($"qid").orderBy($"pcos".desc, $"vec_id".asc)
        val shortlist = scored
          .withColumn("crk", row_number().over(wC)).filter($"crk" <= C)
        val wR = Window.partitionBy($"qid").orderBy($"fcos".desc, $"vec_id".asc)
        val reranked = shortlist
          .select($"qid", $"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("fcos"))
          .withColumn("rrk", row_number().over(wR)).filter($"rrk" <= 10)
          .select($"qid", $"vec_id", lit(true).as("rerank_found"))
        val wT = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id".asc)
        val truth = corpus.crossJoin(broadcast(queries))
          .select($"qid", $"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .withColumn("rk", row_number().over(wT)).filter($"rk" <= 10)
        val inShort = shortlist
          .select($"qid", $"vec_id", lit(true).as("in_shortlist"))
        val out = truth
          .join(reranked, Seq("qid", "vec_id"), "left")
          .join(inShort, Seq("qid", "vec_id"), "left")
          .select($"qid", $"rk".cast("long").as("rk"), $"vec_id", $"cosine",
            coalesce($"rerank_found", lit(false)).as("rerank_found"),
            coalesce($"in_shortlist", lit(false)).as("in_shortlist"))
          .orderBy($"qid", $"rk")
          // cached: the theorem require executes the full audit once;
          // the caller then reads the 30-row cache — the q93/d40 lesson
          .persist()
        // the funnel-exactness theorem: re-rank over the shortlist is
        // exact, so every miss is a coarse prefix miss, never the re-rank
        require(out.filter($"rerank_found" === false &&
            $"in_shortlist" === true).isEmpty,
          "matryoshka re-rank lost a truth row inside the shortlist")
        out
      },
      Some(s"""
        WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                    WHERE vec_id IN (0, 1, 2)),
        corpus AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id NOT IN (0, 1, 2)),
        ppairs AS (SELECT q.qid, c.vec_id,
                          unnest(c.embedding[1:16]) AS x,
                          unnest(q.qv[1:16]) AS y
                   FROM corpus c CROSS JOIN qs q),
        pdots AS (SELECT qid, vec_id, ${oCosineSums()}
                  FROM ppairs GROUP BY qid, vec_id),
        coarse AS (SELECT qid, vec_id,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9)
                              DESC, vec_id ASC) AS crk
                   FROM pdots),
        short AS (SELECT qid, vec_id FROM coarse WHERE crk <= 50),
        fpairs AS (SELECT q.qid, c.vec_id, unnest(c.embedding) AS x,
                          unnest(q.qv) AS y
                   FROM corpus c CROSS JOIN qs q),
        fdots AS (SELECT qid, vec_id, ${oCosineSums()}
                  FROM fpairs GROUP BY qid, vec_id),
        fcos AS (SELECT qid, vec_id,
                        round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
                 FROM fdots),
        rerank AS (SELECT f.qid, f.vec_id,
                          ROW_NUMBER() OVER (PARTITION BY f.qid
                            ORDER BY f.cosine DESC, f.vec_id ASC) AS rrk
                   FROM fcos f JOIN short s
                     ON s.qid = f.qid AND s.vec_id = f.vec_id),
        truth AS (SELECT qid, vec_id, cosine,
                         ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY cosine DESC, vec_id ASC) AS rk
                  FROM fcos)
        SELECT t.qid, t.rk, t.vec_id, t.cosine,
               COALESCE(rr.found, FALSE) AS rerank_found,
               sh.vec_id IS NOT NULL AS in_shortlist
        FROM truth t
        LEFT JOIN (SELECT qid, vec_id, TRUE AS found FROM rerank
                   WHERE rrk <= 10) rr
          ON rr.qid = t.qid AND rr.vec_id = t.vec_id
        LEFT JOIN short sh ON sh.qid = t.qid AND sh.vec_id = t.vec_id
        WHERE t.rk <= 10
        ORDER BY t.qid, t.rk"""),
      doc = "Matryoshka prefix-dimension funnel (MRL, Kusupati et al. 2022): coarse cosine on the first 16 of 64 components shortlists 50 per query, full-width exact re-rank serves top-10 — the ANN variant whose 100 TB lever is pure SCHEMA (prefix as its own column ⇒ the corpus scan reads 25 % of embedding bytes via column pruning; full vectors load for 50 rows/query); audited against exact full-dim truth with every miss attributed to the coarse shortlist (funnel-exactness require in-body)"),

    // ------------------------------------------------------------------
    // s36: FUNNEL-WIDTH / RECALL CURVE for the matryoshka funnel — the
    // s30 cost/recall discipline (nprobe there, shortlist width here):
    // how much recall@10 does each extra shortlist row buy when the
    // coarse pass reads only the first 16 of 64 components? The coarse
    // ranking is computed ONCE; each truth row's coarse rank then
    // answers every width by a threshold count — widening the funnel
    // can only ADD shortlist members (top-25 ⊆ top-50 ⊆ top-100), so
    // recall is non-decreasing BY CONSTRUCTION and required so in-body
    // (the structural claim; contrast the prefix-width axis, which on
    // untrained random embeddings is deliberately NOT asserted — MRL
    // monotonicity in dimensions is a property of trained nests, not
    // of this synthetic corpus). Cost model per row: coarse scan is
    // fixed (prefix bytes × corpus); the re-rank leg is width × full
    // vectors — the curve is exactly the knob a serving team tunes.
    QueryDef(
      "s36_matryoshka_width_curve",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        val corpus = emb.filter($"vec_id" =!= 0)
        // the cap is a LIMIT on the coarse order, not a rank filter: an
        // unpartitioned rank window gets no WindowGroupLimit push (it
        // sorted the whole corpus in one partition — measured 95 s at
        // ×100), while orderBy().limit(100) plans as the distributed
        // TakeOrderedAndProject and the rank window then runs over 100
        // rows; a truth row outside the cap left-joins to null =
        // missed at every width
        val wC = Window.orderBy($"pcos".desc, $"vec_id".asc)
        val coarse = corpus.crossJoin(broadcast(q))
          .select($"vec_id",
            round(cosineExact("slice(embedding, 1, 16)",
              "slice(qv, 1, 16)"), 9).as("pcos"))
          .orderBy($"pcos".desc, $"vec_id".asc).limit(100)
          .withColumn("crk", row_number().over(wC))
        // truth is a SET of 10 ids — same distributed-top-k shape as the
        // coarse cap (an unpartitioned rank window would single-partition
        // sort the corpus here too)
        val truth = corpus.crossJoin(broadcast(q))
          .select($"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc).limit(10)
          .select($"vec_id")
        val ranked = truth
          .join(coarse.select($"vec_id", $"crk"), Seq("vec_id"), "left")
        val widths = Seq(25, 50, 100)
        // persist: the require below executes the full audit — without
        // the cache the two corpus rankings would run TWICE per
        // invocation (the q93/d40 double-execution lesson); persist
        // (unlike localCheckpoint) keeps the lineage visible to the
        // PlanSpec shape locks while the caller's execution hits the
        // 3-row cache
        val out = ranked
          .crossJoin(broadcast(widths.toDF("width")))
          .groupBy($"width")
          .agg(sum(when($"crk".isNotNull && $"crk" <= $"width", 1L)
            .otherwise(0L)).as("hits_at_10"))
          .withColumn("recall_pct", $"hits_at_10" * 10)
          .orderBy($"width")
          .persist()
        val rows = out.select($"width", $"hits_at_10")
          .as[(Int, Long)].collect().sortBy(_._1)
        require(rows.map(_._2).sameElements(rows.map(_._2).sorted),
          s"widening the funnel reduced recall — impossible: ${rows.toSeq}")
        out
      },
      Some(s"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        corpus AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id <> 0),
        pp AS (SELECT c.vec_id, unnest(c.embedding[1:16]) AS x,
                      unnest(q.qv[1:16]) AS y
               FROM corpus c, q),
        pd AS (SELECT vec_id, ${oCosineSums()} FROM pp GROUP BY vec_id),
        coarse AS (SELECT vec_id, crk FROM (
                     SELECT vec_id,
                            ROW_NUMBER() OVER (
                              ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9)
                                DESC, vec_id ASC) AS crk
                     FROM pd) c WHERE crk <= 100),
        fp AS (SELECT c.vec_id, unnest(c.embedding) AS x, unnest(q.qv) AS y
               FROM corpus c, q),
        fd AS (SELECT vec_id, ${oCosineSums()} FROM fp GROUP BY vec_id),
        truth AS (SELECT vec_id FROM (
                    SELECT vec_id,
                           ROW_NUMBER() OVER (
                             ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9)
                               DESC, vec_id ASC) AS rk
                    FROM fd) t WHERE rk <= 10),
        ranked AS (SELECT c.crk FROM truth t
                   LEFT JOIN coarse c ON c.vec_id = t.vec_id),
        widths AS (SELECT unnest([25, 50, 100]) AS width)
        SELECT w.width,
               CAST(SUM(CASE WHEN r.crk IS NOT NULL AND r.crk <= w.width
                             THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_10,
               CAST(SUM(CASE WHEN r.crk IS NOT NULL AND r.crk <= w.width
                             THEN 1 ELSE 0 END) * 10 AS BIGINT)
                 AS recall_pct
        FROM widths w CROSS JOIN ranked r
        GROUP BY w.width ORDER BY width"""),
      doc = "funnel-width/recall curve for the matryoshka funnel (the s30 cost/recall discipline on the shortlist axis): coarse prefix-16 ranking computed once, every width answered by a threshold count over the truth rows' coarse ranks; recall non-decreasing in width BY CONSTRUCTION (top-25 ⊆ top-50 ⊆ top-100) and required so in-body — the prefix-dimension axis is deliberately NOT asserted on untrained random embeddings"),

    // ------------------------------------------------------------------
    // s37: STORED PREFIX-COLUMN SERVING — s35 claims the matryoshka
    // funnel's 100 TB lever is SCHEMA ("store the prefix as its own
    // column and the coarse scan reads 25 % of the bytes via plain
    // column pruning"); s37 is that claim made PHYSICAL and locked: the
    // store is written with the 16-dim prefix as its own parquet
    // column beside the full 64-dim vector, the coarse leg scans
    // (vec_id, prefix) ONLY — PlanSpec asserts a scan whose ReadSchema
    // carries prefix and NOT embedding, the same mechanical proof as
    // q01's column-pruning lock — and the full vectors load through a
    // broadcast semi join for the 50 shortlisted rows. This is the
    // column-pruning story every serving team gets for free from the
    // layout, with zero index structures; the s14/s24 stored-serving
    // convention (build cost in-query, serving path the object under
    // test). Oracle mirrors the funnel from the source table (prefix =
    // embedding[1:16] — the store's content is a pure projection).
    QueryDef(
      "s37_stored_prefix_serving",
      (s, dir) => {
        import s.implicits._
        val storeDir = graft.TempDirs.scratch("s37_store")
        Tables.load(s, dir, "embeddings")
          .select($"vec_id", expr("slice(embedding, 1, 16)").as("prefix"),
            $"embedding")
          .write.mode("overwrite").parquet(storeDir)
        val store = s.read.parquet(storeDir)
        val qp = store.filter($"vec_id" === 0).select($"prefix".as("qp"))
        val qv = store.filter($"vec_id" === 0).select($"embedding".as("qv"))
        val shortlist = store.select($"vec_id", $"prefix")
          .filter($"vec_id" =!= 0)
          .crossJoin(broadcast(qp))
          .select($"vec_id", round(cosineExact("prefix", "qp"), 9).as("pcos"))
          .orderBy($"pcos".desc, $"vec_id".asc).limit(50)
          .select($"vec_id")
        val wR = Window.orderBy($"cosine".desc, $"vec_id".asc)
        store.select($"vec_id", $"embedding")
          .join(broadcast(shortlist), Seq("vec_id"), "left_semi")
          .crossJoin(broadcast(qv))
          .select($"vec_id", round(cosineExact("embedding", "qv"), 9)
            .as("cosine"))
          .orderBy($"cosine".desc, $"vec_id".asc).limit(10)
          .withColumn("rk", row_number().over(wR).cast("long"))
          .select($"rk", $"vec_id", $"cosine")
          .orderBy($"rk")
      },
      Some(s"""
        WITH q AS (SELECT embedding AS qv, embedding[1:16] AS qp
                   FROM embeddings WHERE vec_id = 0),
        corpus AS (SELECT vec_id, embedding, embedding[1:16] AS prefix
                   FROM embeddings WHERE vec_id <> 0),
        pp AS (SELECT c.vec_id, unnest(c.prefix) AS x, unnest(q.qp) AS y
               FROM corpus c, q),
        pd AS (SELECT vec_id, ${oCosineSums()} FROM pp GROUP BY vec_id),
        short AS (SELECT vec_id FROM (
                    SELECT vec_id,
                           ROW_NUMBER() OVER (
                             ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9)
                               DESC, vec_id ASC) AS crk
                    FROM pd) t WHERE crk <= 50),
        fp AS (SELECT c.vec_id, unnest(c.embedding) AS x, unnest(q.qv) AS y
               FROM corpus c JOIN short sh ON sh.vec_id = c.vec_id, q),
        fd AS (SELECT vec_id, ${oCosineSums()} FROM fp GROUP BY vec_id)
        SELECT ROW_NUMBER() OVER (
                 ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9) DESC,
                          vec_id ASC) AS rk,
               vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
        FROM fd
        ORDER BY rk LIMIT 10"""),
      doc = "stored prefix-column serving (s35's schema claim made physical): the store carries the 16-dim prefix as its OWN parquet column beside the full vector; the coarse leg's scan reads (vec_id, prefix) only — PlanSpec asserts a ReadSchema with prefix and without embedding, the q01 column-pruning lock applied to vectors — and full vectors load via broadcast semi join for the 50 shortlisted rows; zero index structures, the layout IS the index"),

    // ------------------------------------------------------------------
    // s38: GRAPH-BASED ANN — stored k-NN-graph beam search, the one
    // major serving-index family s01-s37 lacked (LSH s07, IVF s04/s14,
    // PQ s08, SQ s16, binary s17, Matryoshka s35 all present); the
    // single-layer NSW core of the HNSW/DiskANN family. OFFLINE: each
    // corpus vector's top-4 exact-cosine neighbors among its LSH
    // band-colliding candidates (s12's candidate generation — never a
    // corpus cross join; buckets md5-capped so skew can't go quadratic)
    // persist as a FactTable edge list — the graph IS the index.
    // SERVING: greedy beam search as R=3 bounded rounds of broadcast
    // joins, driver-composed with no mid-iteration collect (the q94
    // discipline): frontier (≤8 ids) broadcasts into the graph store,
    // fresh neighbors anti-join the visited set, get scored against
    // the broadcast query, and the next frontier is a TakeOrdered
    // top-8; answer = top-10 of everything visited. Per query the
    // exact-score work is ≤ entries + R·B·M vectors (~100) regardless
    // of corpus size — the property that makes graph ANN the
    // lowest-latency serving family at 10⁹ vectors. Oracle: the WHOLE
    // stack replayed in SQL — banding, capped candidate pairs,
    // per-src top-M graph, and the three beam rounds unrolled as CTEs
    // — so graph construction AND traversal order are both checked,
    // not just the final ranks. Recall vs exact truth is s39's audit
    // (never asserted on these untrained random embeddings — the s36
    // lesson).
    QueryDef(
      "s38_graph_beam_search",
      (s, dir) => rankedTop10(beamSearchParts(s, dir)._1),
      Some(s"""$beamSqlCtes
        SELECT * FROM (
          SELECT ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rk,
                 vec_id, cosine
          FROM v$beamR) t
        WHERE rk <= 10 ORDER BY rk"""),
      doc = "graph ANN (stored k-NN-graph beam search — the NSW core of the HNSW/DiskANN family, completing the serving-index taxonomy): offline LSH-banded candidate pairs (bucket-capped, never a cross join) -> per-src top-4 exact-cosine edges persisted via FactTable; serving = 3 rounds of broadcast frontier->neighbor->score joins with a TakeOrdered beam, no mid-iteration collect, ~100 exact scores per query independent of corpus size; oracle unrolls build AND traversal as CTEs"),

    // ------------------------------------------------------------------
    // s39: BEAM-SEARCH RECALL AUDIT with per-miss attribution — the
    // s10/s28/s33 house discipline applied to s38: every exact top-10
    // truth vector is flagged found/missed by the beam, and every miss
    // carries WHY: 'no_incoming_edge' (the vector has in-degree 0 in
    // the stored graph — no beam from ANY entry can ever reach it; a
    // graph-construction budget problem, fixed by more bands or higher
    // M) vs 'outside_horizon' (reachable in principle but not within
    // R rounds from THESE entries — a traversal budget problem, fixed
    // by more rounds/entries/beam width). A visited truth vector is
    // ALWAYS found — the final top-10 ranks the visited set by the
    // same exact cosine that defines truth, so a top-10-global vector
    // in any visited superset stays top-10 — which is why the
    // attribution needs exactly these two classes and no third.
    QueryDef(
      "s39_graph_beam_recall",
      (s, dir) => {
        val (visited, graph) = beamSearchParts(s, dir)
        // bounded (≤ entries + R·B·M rows): pin it so the audit legs
        // don't re-run the beam (the d41 bounded-ledger lesson).
        // ADVICE r12 dropped the visited-set broadcast join — the final
        // top-10 is already a subset of visited, so `hit` and `hasin`
        // alone classify every miss exhaustively (see scaladoc above)
        attributeMisses(exactCosineTopK(s, dir, 10),
          visited.localCheckpoint(), graph, "found_by_beam",
          "no_incoming_edge", "outside_horizon")
      },
      Some(s"""$beamSqlCtes,
        beam10 AS (SELECT vec_id FROM v$beamR
                   ORDER BY cosine DESC, vec_id ASC LIMIT 10),
        indeg AS (SELECT DISTINCT dst AS vec_id FROM graph),
        truth AS (SELECT vec_id, cosine,
                         ROW_NUMBER() OVER (ORDER BY cosine DESC,
                                            vec_id ASC) AS rk
                  FROM qs)
        SELECT t.rk, t.vec_id, t.cosine,
               b.vec_id IS NOT NULL AS found_by_beam,
               CASE WHEN b.vec_id IS NOT NULL THEN ''
                    WHEN i.vec_id IS NULL THEN 'no_incoming_edge'
                    ELSE 'outside_horizon' END AS miss_reason
        FROM truth t
        LEFT JOIN beam10 b ON b.vec_id = t.vec_id
        LEFT JOIN indeg i ON i.vec_id = t.vec_id
        WHERE t.rk <= 10
        ORDER BY t.rk"""),
      doc = "beam-search recall audit with per-miss attribution (the s10/s28/s33 discipline on s38): exact top-10 truth vs beam top-10, each miss classified 'no_incoming_edge' (in-degree 0 in the stored graph — unreachable from ANY entry; a construction-budget defect) vs 'outside_horizon' (reachable but not within R rounds of these entries — a traversal-budget defect); a visited truth vector is provably always found, so these two classes are exhaustive"),

    // ------------------------------------------------------------------
    // s40: HIERARCHICAL (two-layer) DESCENT — the H in HNSW, on top of
    // s38's single-layer NSW: a sparse UPPER layer (the deterministic
    // 1-in-8 node subsample vec_id ≡ 1 mod 8, its own stored k-NN
    // graph, its own pinned entries) is beam-searched FIRST with a
    // short budget; its top-4 results become the BASE layer's entry
    // points, replacing s38's fixed seeds with query-adapted ones (the
    // fixed entries stay unioned in, so the descent can only ADD
    // starting material — s40's visited set ⊇ a fixed-seed start from
    // the same nodes). This is exactly why HNSW layers exist: the
    // upper layer crosses the corpus in a few hops because each hop
    // spans 8× the density, landing the base beam near the answer
    // before it spends its round budget. Both graphs are persisted
    // FactTables (the s14 convention; L0 is literally s38's store,
    // shared); serving is 2 + 3 rounds of the same broadcast-join beam
    // — still ~150 exact scores per query independent of corpus size.
    // The oracle replays EVERYTHING: both layers' banding-capped
    // builds and both unrolled beam phases, seeds flowing between them
    // as a CTE. (s39's audit discipline covers the shared L0 graph;
    // recall is never asserted on these untrained random embeddings.)
    QueryDef(
      "s40_hnsw_layered_descent",
      (s, dir) => {
        val l0 = knnGraphStore(s, dir).read().select(col("src"), col("dst"))
        rankedTop10(beam(l0, descentSeeds(s, s40UpperDescent(s, dir)), beamR,
          servingScorer(s, dir)))
      },
      Some(s"""
        WITH $beamBandsAndScoresSql,
        ${beamGraphSqlCtes("l1", " AND vec_id % 8 = 1", beamL1Entries)},
        ${beamRoundsSqlCtes("l1", "l1graph",
        s"SELECT vec_id, cosine FROM qs WHERE vec_id IN (${beamL1Entries.mkString(", ")})", 2)},
        ${beamGraphSqlCtes("", "", beamEntries)},
        seeds AS (SELECT vec_id FROM l1v2
                  ORDER BY cosine DESC, vec_id ASC LIMIT 4),
        ${beamRoundsSqlCtes("", "graph",
        s"""SELECT q0.vec_id, q0.cosine FROM qs q0
            WHERE q0.vec_id IN (SELECT vec_id FROM seeds)
               OR q0.vec_id IN (${beamEntries.mkString(", ")})""", beamR)}
        SELECT * FROM (
          SELECT ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rk,
                 vec_id, cosine
          FROM v$beamR) t
        WHERE rk <= 10 ORDER BY rk"""),
      doc = "hierarchical two-layer descent (the H in HNSW, over s38's NSW base): a sparse 1-in-8 upper layer with its own stored graph + pinned entries is beam-searched first (2 rounds), its top-4 seed the base layer's beam alongside the fixed entries (query-adapted starts can only ADD material); both stored-graph builds AND both beam phases replay in the oracle with seeds flowing between layers as a CTE; ~150 exact scores per query at any corpus size"),

    // ------------------------------------------------------------------
    // s41: INCREMENTAL GRAPH INSERT — the HNSW insert algorithm, the
    // lifecycle step that makes the graph family production-viable
    // (VERDICT r12 next #1): s38/s40 graphs were build-once; the IVF
    // family had its append path (s15/s21) but a graph index could not
    // take a new batch without a full rebuild — and the reference's
    // scrape loop is incremental append forever (mb8600.py:329-443), so
    // an index requiring rebuilds breaks its contract. The algorithm is
    // HNSW's own (Malkov & Yashunin 2016 §4 Algorithm 1, single layer):
    // each new vector BEAM-SEARCHES the current graph for its
    // neighborhood — the serving path IS the insert path, which is the
    // defining HNSW property — takes its top-M visited as out-edges,
    // and offers itself to each of those M neighbors, whose edge lists
    // re-cap at M (gcos desc, dst asc — the "shrink connections"
    // step), EXCEPT that the BEST neighbor keeps the back-edge
    // unconditionally (the reachability pin — see hnswInsertedGraph;
    // plain shrink measurably left node 22 with in-degree 0 at
    // sf0.001, i.e. a vector the store could never serve). Inserts
    // apply sequentially in ascending id order, so a later insert can
    // traverse to (and link with) an earlier one.
    //   Cost per insert is CORPUS-SIZE INDEPENDENT: one beam
    //   (≤ entries + R·B·M ≈ 100 exact scores) + a ≤M·(M+1)-row recap;
    //   the existing corpus is never re-banded, never re-scored, and
    //   only the ≤M affected source rows change — at 100 TB that is an
    //   append + a bounded MERGE against the stored edge list. The
    //   driver composes the loop with broadcast joins only (the q94
    //   discipline; the per-insert top-M localCheckpoint is a 4-row
    //   pin, the d41 bounded-ledger convention).
    //   Output: every edge incident to the batch after all four inserts
    //   — out-edges AND the reverse edges that survived each neighbor's
    //   re-cap — so the oracle (base build + four unrolled
    //   beam-insert-recap chains, all MATERIALIZED so DuckDB cannot
    //   exponentially inline the graph-version chain) checks the beams'
    //   traversal order, the edge selection, and the cap evictions,
    //   not just a final serving answer.
    QueryDef(
      "s41_hnsw_incremental_insert",
      (s, dir) => {
        import s.implicits._
        val g = hnswInsertedGraph(s, dir)
        g.filter($"src".isin(insertBatch: _*) || $"dst".isin(insertBatch: _*))
          .select($"src", $"dst", $"gcos")
          .orderBy($"src", $"dst")
      },
      Some(s41OracleSql),
      doc = "HNSW incremental insert (Malkov & Yashunin Alg.1, single layer): each new vector beam-searches the stored graph for its top-M neighborhood (the serving path IS the insert path), adds capped bidirectional edges — the best neighbor pins the back-edge so the new vector is never left unreachable — and only the <=M affected sources re-cap: no re-banding, no rebuild, corpus-size-independent insert cost; sequential inserts let later vectors link to earlier ones; oracle replays the base build plus all four beam+recap chains as MATERIALIZED CTEs and checks every batch-incident edge"),

    // ------------------------------------------------------------------
    // s42: FILTERED GRAPH TRAVERSAL — attribute-constrained beam search
    // over s38's stored graph, the filtered-HNSW semantics production
    // vector stores ship (VERDICT r12 next #6; s13/s34 covered the IVF
    // side). Query: top-10 by cosine among ONLY the vectors sharing the
    // query's `label` (~1/10 of the corpus). The naive filtered beam —
    // skip non-matching nodes outright — dies fast: with M=4 edges and
    // a 1-in-10 predicate the expected matching out-degree is 0.4, so
    // frontiers starve. The fix is ACORN-1's expansion rule (Patel et
    // al. 2024): expand each frontier node's 1-hop AND 2-hop
    // neighborhood (traversal may pass THROUGH non-matching nodes),
    // then admit only predicate-matching candidates to the scored
    // visited set — the effective degree becomes M + M², restoring
    // connectivity without ever scoring a non-matching vector. The
    // fixed entry points stay as unscored-for-answer traversal anchors
    // (they are scored into the frontier pool but the answer filters
    // on the predicate). Costs stay corpus-size independent: per round
    // ≤ B·(M + M²) candidate ids, label filtering happens ON the
    // embeddings scan (predicate pushdown) before any cosine.
    QueryDef(
      "s42_filtered_graph_beam",
      (s, dir) => {
        import s.implicits._
        rankedTop10(filteredBeamParts(s, dir)._1.filter($"ok"))
      },
      Some(s"""$filteredBeamSqlCtes
        SELECT * FROM (
          SELECT ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rk,
                 vec_id, cosine
          FROM fv$beamR WHERE ok) t
        WHERE rk <= 10 ORDER BY rk"""),
      doc = "filtered graph traversal (filtered-HNSW / ACORN-1): beam search over the stored s38 graph constrained to the query's label — 1-hop + 2-hop frontier expansion passes THROUGH non-matching nodes while only predicate-matching candidates are scored/admitted (effective degree M+M^2, so a 1-in-10 predicate can't starve the beam), entries stay as traversal anchors, the answer is predicate-only; oracle unrolls the two-hop filtered rounds as CTEs"),

    // ------------------------------------------------------------------
    // s43: FILTERED-BEAM RECALL AUDIT — the s39 discipline applied to
    // s42 (the house rule: every serving path ships with an audit leg,
    // VERDICT r12 next #8): exact filtered truth (s13's semantics —
    // top-10 cosine among label-matching vectors) vs the filtered
    // beam's top-10, every miss attributed: 'no_incoming_edge' (the
    // vector has in-degree 0 in the stored graph — unreachable from
    // ANY entry under ANY budget; a construction defect) vs
    // 'outside_filtered_horizon' (has incoming edges but the
    // label-constrained 2-hop beam didn't reach it within R rounds
    // from these entries — the traversal/filter budget). The two
    // classes are exhaustive for the same reason as s39: the answer
    // ranks visited∩matching by the same exact cosine that defines
    // truth, so a visited matching truth vector is always found.
    QueryDef(
      "s43_filtered_beam_recall",
      (s, dir) => {
        import s.implicits._
        val (visited, graph) = filteredBeamParts(s, dir)
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter($"vec_id" === 0)
          .select($"embedding".as("qv"), $"label".as("qlabel"))
        val truth = emb.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .filter($"label" === $"qlabel")
          .select($"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
        attributeMisses(truth, visited.localCheckpoint().filter($"ok"),
          graph, "found_by_beam", "no_incoming_edge",
          "outside_filtered_horizon")
      },
      Some(s"""$filteredBeamSqlCtes,
        beam10 AS (SELECT vec_id FROM fv$beamR WHERE ok
                   ORDER BY cosine DESC, vec_id ASC LIMIT 10),
        indeg AS (SELECT DISTINCT dst AS vec_id FROM graph),
        ftruth AS (SELECT q.vec_id, q.cosine,
                          ROW_NUMBER() OVER (ORDER BY q.cosine DESC,
                                             q.vec_id ASC) AS rk
                   FROM qs q JOIN embeddings e ON e.vec_id = q.vec_id
                   WHERE e.label = (SELECT label FROM embeddings
                                    WHERE vec_id = 0))
        SELECT t.rk, t.vec_id, t.cosine,
               b.vec_id IS NOT NULL AS found_by_beam,
               CASE WHEN b.vec_id IS NOT NULL THEN ''
                    WHEN i.vec_id IS NULL THEN 'no_incoming_edge'
                    ELSE 'outside_filtered_horizon' END AS miss_reason
        FROM ftruth t
        LEFT JOIN beam10 b ON b.vec_id = t.vec_id
        LEFT JOIN indeg i ON i.vec_id = t.vec_id
        WHERE t.rk <= 10
        ORDER BY t.rk"""),
      doc = "filtered-beam recall audit (the s39 per-miss-attribution discipline on s42): exact label-constrained top-10 truth vs the filtered beam's answer, each miss classified 'no_incoming_edge' (in-degree 0 in the stored graph — a construction-budget defect) vs 'outside_filtered_horizon' (reachable but not within the label-constrained 2-hop budget — a traversal/filter-budget defect); a visited matching truth vector is provably always found, so the classes are exhaustive"),

    // ------------------------------------------------------------------
    // s44: BULK HNSW INGEST — s41 turned the graph index incremental;
    // s44 makes the increment a BATCH (VERDICT r13 next #1). s41's
    // loop is inherently 1-2 inserts/s: each insert is R driver-
    // coordinated job waves, and the NEXT insert's beam depends on
    // this one's merge, so nothing overlaps — a fleet scraping
    // thousands of modems (mb8600.py:329-443 appends forever) would
    // fall behind its own ingest. s44 runs ALL B insert beams against
    // the FROZEN pre-batch graph as ONE batched job set (the s31
    // batch-serving shape: qid rides every step, per-qid frontiers are
    // one partitioned group-limit window) and applies every edge
    // addition + re-cap as ONE deterministic bounded merge: per
    // touched source, re-cap over base edges ∪ ALL its offers, pinned
    // offers (each x's best neighbor) first. Batch members not seeing
    // each other is the PRECISELY-STATED semantics the oracle replays
    // — B independent beam chains, no version chain — and a batch of
    // 1 is EXACTLY sequential semantics (the spec asserts edge-set
    // equality vs s41's builder on a shared base). Wall-clock per
    // batch: O(R) job waves regardless of B; merge input ≤ B·M·(M+1)
    // rows. Output: every batch-incident edge, the s41 shape.
    QueryDef(
      "s44_hnsw_bulk_ingest",
      (s, dir) => {
        import s.implicits._
        val g = bulkInsertedGraph(s, dir)
        g.filter($"src".isin(bulkBatch: _*) || $"dst".isin(bulkBatch: _*))
          .select($"src", $"dst", $"gcos")
          .orderBy($"src", $"dst")
      },
      Some(s44OracleSql),
      doc = "bulk HNSW ingest: a micro-batch of B new vectors beam-searches the FROZEN pre-batch graph as one batched job set (qid-carrying rounds, per-qid frontiers via one partitioned group-limit window — O(R) job waves regardless of B, vs O(B·R) for s41's sequential loop), then ONE deterministic bounded merge re-caps every touched source over base edges + all offers with each vector's best-neighbor offer pinned; batch-of-1 equals sequential insert exactly (spec-asserted), and the oracle replays the B independent beam chains + the single merge verbatim"),

    // ------------------------------------------------------------------
    // s49: CHAINED BULK INGEST — the batch fold that SHADOWS the
    // streaming graph ingest (VERDICT r13 next #2; the s21/d20
    // convention: every foreachBatch path ships with a registered,
    // oracle-checked batch fold it must equal row-for-row). Two
    // successive s44 merges: batch 2's beams traverse batch 1's merged
    // graph, so a later micro-batch links to (and re-caps) earlier
    // inserts exactly as a live stream would. Version state is the s41
    // delta representation — base ANTI touched ∪ bounded checkpointed
    // delta — constant plan depth per batch; streaming.GraphIngest
    // commits exactly bulkMergeDelta's changed rows per micro-batch
    // under a per-src latest-batch-wins (Replacing) view, and
    // StreamingSpec asserts stream ≡ this fold + committed-replay
    // no-op. The oracle chains two merge blocks, the second reading
    // the first's MATERIALIZED merged graph.
    QueryDef(
      "s49_graph_ingest_fold",
      (s, dir) => {
        import s.implicits._
        val all = chainBatches.flatten
        bulkChainGraph(s, dir)
          .filter($"src".isin(all: _*) || $"dst".isin(all: _*))
          .select($"src", $"dst", $"gcos")
          .orderBy($"src", $"dst")
      },
      Some(s49OracleSql),
      doc = "chained bulk HNSW ingest (the streaming ingest's registered batch fold, the s21/d20 convention): two successive s44 bulk merges where batch 2's frozen beams traverse batch 1's merged graph — later micro-batches link to and re-cap earlier inserts exactly as a live foreachBatch stream does; version state is the delta representation (base ANTI touched + bounded checkpointed delta, constant plan depth per batch); the oracle chains two merge blocks through a MATERIALIZED intermediate graph, and StreamingSpec asserts GraphIngest's store view equals this fold row-for-row"),

    // ------------------------------------------------------------------
    // s45: GRAPH DELETE LIFECYCLE (VERDICT r13 next #3) — the graph
    // family's takedown path, completing insert (s41) / bulk ingest
    // (s44/s49) / DELETE. Deleting a vector kills its out-list AND
    // every incident in-edge; a graph that only masks leaves survivors
    // under-connected (each touched source silently drops below degree
    // M, and a deleted HUB can disconnect whole regions). The repair is
    // FreshDiskANN's delete-consolidation rule (Singh et al. 2021
    // §4.2): each source that lost an edge to deleted d re-caps over
    // its surviving edges ∪ d's surviving out-edges (it may link
    // THROUGH the deleted node to its neighborhood) by exact cosine.
    // Storage is the dx23 tombstone shape, asserted at build: ONE
    // O(keys) softDelete (edges incident to the batch + the touched
    // sources' replaced lists), parts untouched, repair rows appended
    // after — the masked read IS the repaired graph. Work is bounded:
    // candidates ≤ touched·(M + M²) rows, every join broadcasts, no
    // re-band, no re-beam — at 100 TB a takedown writes kilobytes.
    QueryDef(
      "s45_graph_delete_repair",
      (s, dir) => {
        import s.implicits._
        val view = deletedRepairedStore(s, dir).read()
        view.join(broadcast(deleteTouched(s, dir)), Seq("src"), "left_semi")
          .select($"src", $"dst", $"gcos")
          .orderBy($"src", $"dst")
      },
      Some(s45OracleSql),
      doc = "graph delete lifecycle (FreshDiskANN delete-consolidation): tombstoned vectors' edges masked via ONE O(keys) deletion-vector write (parts untouched, spec-asserted), then every touched source re-caps over its surviving edges plus the deleted neighbors' surviving out-edges by exact cosine — bounded local repair, no re-band, no re-beam; the masked store read is the repaired serving graph and the oracle replays delete + candidate set + re-cap verbatim"),

    // ------------------------------------------------------------------
    // s45 AUDIT: post-delete recall attribution (the s39/s43 house
    // rule: every serving path ships an audit leg). Exact top-10 truth
    // over the SURVIVING corpus vs the standard beam served through
    // the repaired masked graph; each miss classified
    // 'repair_disconnected' (in-degree 0 in the repaired graph — the
    // deleted-hub case the repair failed to reconnect; a repair
    // defect) vs 'outside_horizon' (reachable but beyond the R-round
    // beam budget from these entries — the traversal budget). Classes
    // are exhaustive by the s39 argument: the answer ranks visited by
    // the same exact cosine that defines truth.
    QueryDef(
      "s45_delete_recall_audit",
      (s, dir) => {
        import s.implicits._
        val view = deletedRepairedStore(s, dir).read()
          .select($"src", $"dst", $"gcos")
        val visited = beam(view.select($"src", $"dst"),
          beamEntries.toDF("vec_id"), beamR, servingScorer(s, dir))
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        val truth = emb
          .filter($"vec_id" =!= 0 && !$"vec_id".isin(deleteBatch: _*))
          .crossJoin(broadcast(q))
          .select($"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
        attributeMisses(truth, visited, view, "found_by_beam",
          "repair_disconnected", "outside_horizon")
      },
      Some(s45AuditOracleSql),
      doc = "post-delete recall audit (the s39/s43 miss-attribution discipline on the s45 repaired graph): exact top-10 truth over the surviving corpus vs the beam served through the masked repaired store, each miss classified 'repair_disconnected' (in-degree 0 after repair — the deleted-hub disconnection case) vs 'outside_horizon' (reachable but beyond the R-round budget); deleted vectors can neither match nor be traversed"),

    // ------------------------------------------------------------------
    // s46: MULTI-LAYER HNSW INSERT (VERDICT r13 next #4) — Alg.1
    // across layers, completing what s41 did for one: each new vector
    // gets a DETERMINISTIC level (vec_id ≡ 1 mod 8 ⇒ level 1 — the
    // SAME rule that defines s40's upper layer, replacing the
    // geometric coin at the same p = 1/8; membership parity is what
    // makes insert ≡ rebuild a meaningful contract), DESCENDS like a
    // query (2 upper beam rounds, top-4 + fixed entries seed the base
    // beam — s40's serving path verbatim: the insert path IS the
    // serving path, per layer), and LINKS with the s41 kernel in every
    // layer ≤ its level. A level-0 insert still beams the upper layer
    // for seeds — that IS the descent. Both layers hold the delta
    // representation, so per-insert cost stays corpus-size independent
    // and the upper layer's work is 1/8 scale. Output: every
    // batch-incident edge of both layers, layer-tagged; the oracle
    // replays both base builds + all four descent/link chains with
    // graph versions threaded through MATERIALIZED CTEs.
    QueryDef(
      "s46_multilayer_insert",
      (s, dir) => {
        import s.implicits._
        mlInsertedGraph(s, dir)
          .filter($"src".isin(mlInsertBatch: _*) ||
            $"dst".isin(mlInsertBatch: _*))
          .select($"layer", $"src", $"dst", $"gcos")
          .orderBy($"layer", $"src", $"dst")
      },
      Some(s46OracleSql),
      doc = "multi-layer HNSW insert (Malkov & Yashunin Alg.1 across layers): deterministic 1-in-8 level assignment matching s40's layer-membership rule, query-style descent (upper beam's top-4 + fixed entries seed the base beam), and the s41 link kernel (top-M out-edges, best-pin back-edge, bounded recap) in every layer <= the vector's level — level-0 inserts still beam the upper layer for seeds; per-layer delta representation keeps insert cost corpus-size independent; the oracle replays both base builds and all four descent/link chains"),

    // ------------------------------------------------------------------
    // s47: RETRIEVAL EVAL METRICS (VERDICT r13 next #6) — nDCG@10,
    // MRR, recall@5/@10 over s33's truth-vs-served hybrid frames: the
    // numbers a RAG deployment actually tunes nprobe/fusion against
    // (s33 attributes INDIVIDUAL misses; s47 is the scalar scoreboard
    // those misses roll up into). Definitions, stated precisely:
    //   truth(q)  = exact-hybrid top-10 (graded gain 11 - truth_rank);
    //   served(q) = served-hybrid top-10 (the ranking under test);
    //   recall@k  = |served top-k ∩ truth| / 10;
    //   MRR       = 1 / rank of the first served hit;
    //   nDCG@10   = Σ gain(doc_i)·w_i / Σ ideal, w_i = 1/log2(i+1).
    // All in exact integer micro-units: the log2 discounts are a
    // 10-row fixed-point CONSTANT table spelled identically in source
    // and oracle (no runtime libm — engines' libm ulps differ), gains
    // and divisions are integer end-to-end (the RRF micro-points
    // discipline). Scale: everything downstream of the two fusions is
    // a ≤10-row-per-query aggregation; the expensive legs are the
    // SHARED oracle-checked cores s33 already bounded.
    QueryDef(
      "s47_retrieval_metrics",
      (s, dir) => {
        import s.implicits._
        val qids = Seq(0L, 7L, 13L)
        val lex = bm25LexTop(s, dir, qids, 20).localCheckpoint(eager = false)
        val truth = rrfFuse(lex, exactVecTop(s, dir, qids, 20), 10)
          .select($"qid", $"doc_id", $"rk".as("trk"))
        val servedRank = storedIvfBatchRank(s, dir, qids, "s47")
        val served = rrfFuse(lex, servedRank.filter($"srk" <= 20)
            .select($"qid", $"vec_id".as("doc_id"), $"srk".as("vec_rk")), 10)
          .select($"qid", $"doc_id", $"rk".as("srk"))
        val wts = dcgWeights.toDF("i", "w")
        val idcg = dcgWeights.map { case (i, w) => (11 - i) * w }.sum
        served
          .join(broadcast(truth), Seq("qid", "doc_id"), "left")
          .join(broadcast(wts), $"srk" === $"i", "left")
          .groupBy($"qid")
          .agg(
            expr("CAST(count(CASE WHEN trk IS NOT NULL AND srk <= 5 THEN 1 END) * 100000 AS BIGINT)")
              .as("recall5_micro"),
            expr("CAST(count(CASE WHEN trk IS NOT NULL THEN 1 END) * 100000 AS BIGINT)")
              .as("recall10_micro"),
            expr("COALESCE(CAST(1000000 AS BIGINT) div min(CASE WHEN trk IS NOT NULL THEN srk END), CAST(0 AS BIGINT))")
              .as("mrr_micro"),
            expr(s"CAST(COALESCE(sum(CASE WHEN trk IS NOT NULL THEN (11 - trk) * w END), 0) * 1000000 div $idcg AS BIGINT)")
              .as("ndcg10_micro"))
          .orderBy($"qid")
      },
      Some(s47OracleSql),
      doc = "retrieval eval metrics battery over the s33 truth-vs-served hybrid frames: recall@5/@10, MRR and nDCG@10 per query in exact integer micro-units — graded gains 11-rank, log2 discounts from a fixed-point constant table spelled identically on both sides (no runtime libm drift), integer division throughout; the scalar scoreboard a RAG deployment tunes nprobe and fusion against"),

    // ------------------------------------------------------------------
    // s48: PQ-GUIDED GRAPH SERVING — the DiskANN shape (Subramanya et
    // al. 2019; VERDICT r13 next #7): beam search over the STORED s38
    // graph with every traversal distance computed from the STORED PQ
    // codes (s26's 8 codes/vector + 32-row codebook — 8× smaller than
    // raw), then ONE exact re-rank of the bounded visited set from raw
    // vectors. This is the memory story that makes graph ANN work at
    // 100 TB: adjacency + compressed distances fit hot storage, full-
    // precision vectors are touched ≤ (entries + R·B·M) times per
    // query — never scanned. Per round: neighbors semi-join the codes
    // store, one broadcast 32-entry lookup join, one partial-agg sum.
    // The re-rank re-orders by the SAME exact cosine that defines
    // truth, so quantization error can steer the walk but never
    // corrupt the ranking of what the walk found.
    QueryDef(
      "s48_pq_graph_serving",
      (s, dir) => {
        import s.implicits._
        val visited = beam(servingGraph(s, dir).select($"src", $"dst"),
          beamEntries.toDF("vec_id"), beamR, adcScorer(s, dir))
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        rankedTop10(exactScorer(emb, q)(visited.select($"vec_id")))
      },
      Some(s48OracleSql),
      doc = "PQ-guided graph serving (the DiskANN shape): beam over the stored graph with traversal distances from the stored PQ codes (8 codes/vector + broadcast 32-entry query lookup — raw corpus vectors never read during the walk), then one exact-cosine re-rank of the bounded visited set; at 100 TB the hot path holds adjacency + 8x-compressed codes while full-precision vectors serve only the final <=40-row re-rank"),

    // ------------------------------------------------------------------
    // s48 AUDIT: PQ-traversal recall attribution (the s28/s39 house
    // rule). Exact top-10 truth vs the PQ-guided serve; since the
    // exact re-rank provably surfaces every VISITED truth vector, a
    // miss is always a failure to visit — attributed three ways:
    // 'no_incoming_edge' (unreachable in the graph — construction),
    // 'pq_detour' (the EXACT-guided beam visits it from the same
    // entries/budget but the PQ-guided beam does not — quantization
    // distortion steered the walk away; the number that tells you to
    // spend bits on the codebook, not rounds on the beam), and
    // 'outside_horizon' (neither beam reaches it — traversal budget).
    QueryDef(
      "s48_pq_recall_audit",
      (s, dir) => {
        import s.implicits._
        val g = servingGraph(s, dir)
        val entries = beamEntries.toDF("vec_id")
        val pqVisited = beam(g.select($"src", $"dst"), entries, beamR,
          adcScorer(s, dir)).localCheckpoint()
        val exVisited = beam(g.select($"src", $"dst"), entries, beamR,
          servingScorer(s, dir))
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        val truth = emb.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .select($"vec_id",
            round(cosineExact("embedding", "qv"), 9).as("cosine"))
        attributeMisses(truth,
          exactScorer(emb, q)(pqVisited.select($"vec_id")), g,
          "found_by_served", "no_incoming_edge", "outside_horizon",
          exactVisited = Some(exVisited))
      },
      Some(s48AuditOracleSql),
      doc = "PQ-traversal recall audit (the s28/s39 attribution discipline on s48): exact top-10 truth vs the PQ-guided serve — a visited truth vector is provably always found by the exact re-rank, so every miss is a failure to visit, classified 'no_incoming_edge' (graph construction) vs 'pq_detour' (the exact-guided beam visits it under the same budget but quantized distances steer the walk away — spend bits, not rounds) vs 'outside_horizon' (neither beam reaches it — budget)")
  )

  /** s42/s43's filtered beam: ACORN-1 two-hop expansion over the
    * stored s38 graph with admission restricted to the query's label.
    * Returns (visited with `ok` = predicate flag, graph df). Entries
    * are scored as traversal anchors whatever their label; every other
    * visited row matches the predicate by construction.
    */
  private[graft] def filteredBeamParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding".as("qv"), $"label".as("qlabel"))
    val vecs = emb.filter($"vec_id" =!= 0)
      .select($"vec_id", $"embedding", $"label")
    val graph = knnGraphStore(s, dir).read().select($"src", $"dst")
    // admission: only predicate-matching candidates are scored — the
    // label conjunct sits on the embeddings scan (pushdown), so a
    // non-matching vector's cosine is never computed
    (beam(graph, beamEntries.toDF("vec_id"), beamR,
      exactScorer(vecs, q, ($"label" === $"qlabel").as("ok")),
      twoHop = true, admit = Some($"ok")), graph)
  }

  /** The s42/s43 oracle CTE chain: bands + query scores + the stored
    * graph replay + the R two-hop filtered rounds unrolled (fv0..fvR,
    * each (vec_id, cosine, ok)).
    */
  private def filteredBeamSqlCtes: String = {
    val qlbl = "(SELECT label FROM embeddings WHERE vec_id = 0)"
    val steps = (1 to beamR).map { r =>
      s"""fn$r AS (SELECT DISTINCT vec_id FROM (
               SELECT g.dst AS vec_id
               FROM graph g JOIN ff${r - 1} f ON g.src = f.vec_id
               UNION ALL
               SELECT g2.dst
               FROM graph g1 JOIN ff${r - 1} f ON g1.src = f.vec_id
               JOIN graph g2 ON g2.src = g1.dst) t),
        fw$r AS (SELECT n.vec_id FROM fn$r n
                 JOIN embeddings e ON e.vec_id = n.vec_id
                 WHERE e.label = $qlbl
                 EXCEPT SELECT vec_id FROM fv${r - 1}),
        fv$r AS (SELECT * FROM fv${r - 1}
                 UNION ALL
                 SELECT q$r.vec_id, q$r.cosine, TRUE AS ok
                 FROM qs q$r JOIN fw$r ON fw$r.vec_id = q$r.vec_id),
        ff$r AS (SELECT vec_id FROM fv$r
                 ORDER BY cosine DESC, vec_id ASC LIMIT $beamB)"""
    }.mkString(",\n        ")
    s"""
        WITH $beamBandsAndScoresSql,
        ${beamGraphSqlCtes("", "", beamEntries)},
        fv0 AS (SELECT q0.vec_id, q0.cosine, e.label = $qlbl AS ok
                FROM qs q0 JOIN embeddings e ON e.vec_id = q0.vec_id
                WHERE q0.vec_id IN (${beamEntries.mkString(", ")})),
        ff0 AS (SELECT vec_id FROM fv0
                ORDER BY cosine DESC, vec_id ASC LIMIT $beamB),
        $steps"""
  }

  /** s41's insert batch: held OUT of the base graph build, inserted
    * sequentially in ascending order. Chosen off the entry/query ids;
    * all < 500 so they exist at every SF (the embeddings table is a
    * fixed 500-vector corpus).
    */
  private[graft] def insertBatch = Seq(11L, 22L, 33L, 44L)

  /** [[hnswInsertedGraphBuild]] behind the store memo (ADVICE r13: the
    * s41 QueryDef and both s41 specs each re-ran the full 4-insert chain
    * — 4 beams + 4 recaps + 4 localCheckpoints — per call). The final
    * edge list is a deterministic function of the corpus alone, so one
    * FactTable materialization serves every caller.
    */
  private[graft] def hnswInsertedGraph(s: SparkSession, dir: String)
      : DataFrame =
    factStore(s, "s41_ins", dir)(hnswInsertedGraphBuild(s, dir)).read()
      .select(col("src"), col("dst"), col("gcos"))

  /** The HNSW-inserted graph: the `baseTag` store (corpus minus the
    * batch) plus the sequential inserts applied, each one beam over the
    * current [[DeltaGraph]] version with x as the query. Returns the full
    * (src, dst, gcos) edge list — the spec asserts degree/reachability
    * invariants and serving parity on it.
    */
  private[graft] def hnswInsertedGraphBuild(s: SparkSession, dir: String,
      batch: Seq[Long] = insertBatch, baseTag: String = "s41_base")
      : DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val vecs = emb.filter($"vec_id" =!= 0).select($"vec_id", $"embedding")
    val base = knnGraphStoreFor(s, dir, baseTag, None, beamEntries,
      exclude = batch).read().select($"src", $"dst", $"gcos")
    batch.sorted.foldLeft(new DeltaGraph(base)) { (g, x) =>
      val graph = g.now
      val visited = beam(graph.select($"src", $"dst"),
        beamEntries.toDF("vec_id"), beamR, exactScorer(vecs,
          emb.filter($"vec_id" === x).select($"embedding".as("qv"))))
      val (changed, changedSrcs) = insertDelta(s, graph, x, visited)
      g(changed, changedSrcs)
    }.now
  }

  /** One graph VERSION in the delta representation (the 100 TB MERGE
    * shape, dx23's deletion-vector pattern): `base ANTI touched-srcs ∪
    * delta`. The base store is never rewritten; `apply` replaces the
    * changed sources' edge lists in the bounded delta (≤ batch·M·(M+1)
    * rows) and pins it with one tiny localCheckpoint per step — WITHOUT
    * this flattening, version i's plan references version i-1 three
    * times (anti + two recap branches) and the lineage grows 3^i-fold
    * (measured: the nested form ran 10× slower at sf0.001). Shared by
    * s41's inserts, both s46 layers, s49's chained batches and the s44
    * single merge (an unpinned delta).
    */
  private[graft] final class DeltaGraph(base: DataFrame, delta: DataFrame) {
    def this(base: DataFrame) = this(base, base.limit(0))

    def now: DataFrame = base
      .join(broadcast(delta.select(col("src")).distinct()), Seq("src"),
        "left_anti")
      .unionByName(delta)

    /** The next version: `changes` replace every edge of `changedSrcs`. */
    def apply(changes: DataFrame, changedSrcs: DataFrame): DeltaGraph =
      new DeltaGraph(base, delta
        .join(broadcast(changedSrcs), Seq("src"), "left_anti")
        .unionByName(changes)
        .localCheckpoint())
  }

  /** ONE s41 insert's merged rows over an arbitrary graph — the HNSW
    * Alg.1 link step given x's beam visited set. Returns (changed
    * source rows, changed src ids): the new node's out-edges plus each
    * top-M neighbor's recapped list. Shared by the s41 single-layer
    * loop and s46's per-layer multi-layer inserts.
    *
    * REACHABILITY PIN (the build's entry-pinning discipline applied
    * to inserts): plain Alg.1 shrink can reject ALL M back-edge
    * offers — every neighbor's existing edges outscore the new node
    * — leaving the fresh vector permanently unservable (observed:
    * node 22 at sf0.001, in-degree 0). So the BEST neighbor keeps
    * the back-edge unconditionally and fills with its top-(M-1)
    * existing edges (identical to natural shrink whenever the offer
    * would have survived anyway); the other M-1 neighbors shrink
    * naturally.
    */
  private def insertDelta(s: SparkSession, graph: DataFrame, x: Long,
      visited: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    // the new node's neighborhood: top-M of the beam's visited set —
    // bounded (M rows), read several times below, so pin it
    val wTop = Window.orderBy($"cosine".desc, $"vec_id".asc)
    val xtop = visited.orderBy($"cosine".desc, $"vec_id".asc)
      .limit(beamM).withColumn("nrk", row_number().over(wTop))
      .localCheckpoint()
    val xout = xtop.select(lit(x).as("src"), $"vec_id".as("dst"),
      $"cosine".as("gcos"))
    val best = xtop.filter($"nrk" === 1)
    val others = xtop.filter($"nrk" > 1)
    val wCap = Window.partitionBy($"src").orderBy($"gcos".desc, $"dst".asc)
    val recapOthers = graph
      .join(broadcast(others.select($"vec_id".as("src"))), Seq("src"),
        "left_semi")
      .unionByName(others.select($"vec_id".as("src"), lit(x).as("dst"),
        $"cosine".as("gcos")))
      .withColumn("grk", row_number().over(wCap)).filter($"grk" <= beamM)
      .select($"src", $"dst", $"gcos")
    val recapBest = graph
      .join(broadcast(best.select($"vec_id".as("src"))), Seq("src"),
        "left_semi")
      .withColumn("grk", row_number().over(wCap)).filter($"grk" <= beamM - 1)
      .select($"src", $"dst", $"gcos")
      .unionByName(best.select($"vec_id".as("src"), lit(x).as("dst"),
        $"cosine".as("gcos")))
    (recapOthers.unionByName(recapBest).unionByName(xout),
      xtop.select($"vec_id".as("src")))
  }

  /** s46's multi-layer insert batch (ascending insert order): two
    * level-1 vectors (41, 49 ≡ 1 mod 8) and two level-0 (30, 58) —
    * both levels exercised, no overlap with entries or the other
    * lifecycle batches, all < 500.
    */
  private[graft] def mlInsertBatch = Seq(30L, 41L, 49L, 58L)

  /** Deterministic HNSW level assignment (s46): level ≥ 1 iff
    * vec_id ≡ 1 (mod 8) — the SAME membership rule that defines s40's
    * upper layer, which is what makes insert ≡ rebuild serving parity
    * on the union corpus a meaningful contract (an insert must land in
    * exactly the layers a from-scratch build would put it in). The
    * deterministic 1-in-8 subsample replaces HNSW's geometric coin
    * flip (Malkov & Yashunin §4.1: P(level ≥ l) = p^l with
    * p = exp(-1/mL)) at the same p = 1/8 expectation — the repo-wide
    * determinism convention (everything replayable by the oracle).
    */
  private[graft] def mlLevel(x: Long): Int = if (x % 8 == 1) 1 else 0

  /** MULTI-LAYER HNSW INSERT (s46) — Malkov & Yashunin Alg.1 across
    * layers, completing what s41 did for one layer: each new vector x
    * DESCENDS like a query (the s40 serving path: 2 upper-layer beam
    * rounds from the L1 entries, top-4 + the fixed L0 entries seed the
    * base beam) and LINKS in every layer ≤ its level with the same
    * insert kernel ([[insertDelta]]: top-M out-edges, best-pin
    * back-edge, ≤M neighbors recap). A level-0 insert still beams the
    * upper layer — for seeds only (that IS the descent; it links
    * nowhere above its level). Each layer is a [[DeltaGraph]] (base
    * ANTI touched ∪ bounded checkpointed delta), so per-insert cost
    * stays corpus-size independent on each layer.
    * Returns (base-layer graph, upper-layer graph).
    */
  private[graft] def mlInsertedGraphBuild(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val vecs = emb.filter($"vec_id" =!= 0).select($"vec_id", $"embedding")
    val base0 = knnGraphStoreFor(s, dir, "s46_l0", None, beamEntries,
      exclude = mlInsertBatch).read().select($"src", $"dst", $"gcos")
    val base1 = knnGraphStoreFor(s, dir, "s46_l1", Some((8L, 1L)),
      beamL1Entries, exclude = mlInsertBatch).read()
      .select($"src", $"dst", $"gcos")
    val (l0, l1) = mlInsertBatch.sorted.foldLeft(
        (new DeltaGraph(base0), new DeltaGraph(base1))) { case ((v0, v1), x) =>
      val score = exactScorer(vecs,
        emb.filter($"vec_id" === x).select($"embedding".as("qv")))
      val g1 = v1.now
      val uvisited = beam(g1.select($"src", $"dst"),
        beamL1Entries.toDF("vec_id"), 2, score)
      val next1 = if (mlLevel(x) >= 1) {
        val (changed1, srcs1) = insertDelta(s, g1, x, uvisited)
        v1(changed1, srcs1)
      } else v1
      val g0 = v0.now
      val visited = beam(g0.select($"src", $"dst"),
        descentSeeds(s, uvisited), beamR, score)
      val (changed0, srcs0) = insertDelta(s, g0, x, visited)
      (v0(changed0, srcs0), next1)
    }
    (l0.now, l1.now)
  }

  /** [[mlInsertedGraphBuild]] behind the store memo: both layers land
    * in ONE FactTable with a `layer` column. Returns (layer, src, dst,
    * gcos).
    */
  private[graft] def mlInsertedGraph(s: SparkSession, dir: String)
      : DataFrame =
    factStore(s, "s46_ml", dir) {
      val (g0, g1) = mlInsertedGraphBuild(s, dir)
      g0.withColumn("layer", lit(0))
        .unionByName(g1.withColumn("layer", lit(1)))
    }.read().select(col("layer"), col("src"), col("dst"), col("gcos"))

  /** Build (or reuse — memoized per corpus) the persisted PQ store
    * pair: (codes table: 8 rows/vector of (vec_id, sp, code); codebook
    * table: 32 rows of (cid, csp, cv)). The build is s08's encode run
    * ONCE (subspace slices, broadcast codebook join, per-(vec,sp)
    * decimal argmin). Shared by s26's stored serving and s48's
    * PQ-guided traversal.
    */
  private[graft] def pqStoresFor(s: SparkSession, dir: String)
      : (graft.storage.FactTable, graft.storage.FactTable) = {
    import s.implicits._
    import graft.functions.VectorFunctions.l2SqDecimal
    lazy val subs = Tables.load(s, dir, "embeddings")
      .select($"vec_id", posexplode_outer(expr(
        "transform(sequence(0, 7), sp -> slice(embedding, 8*sp+1, 8))"))
        .as(Seq("sp", "sv")))
    def cents = subs.filter($"vec_id".between(1, 4))
      .select($"vec_id".as("cid"), $"sp".as("csp"), $"sv".as("cv"))
    val codes = factStore(s, "s48_codes", dir) {
      val dists = subs.join(broadcast(cents), $"sp" === $"csp")
        .select($"vec_id", $"sp", $"cid",
          l2SqDecimal("sv", "cv").as("d2"))
      val w = Window.partitionBy($"vec_id", $"sp")
        .orderBy($"d2".asc, $"cid".asc)
      dists.withColumn("rk", row_number().over(w))
        .filter($"rk" === 1).select($"vec_id", $"sp", $"cid".as("code"))
    }
    (codes, factStore(s, "s48_book", dir)(cents))
  }

  /** PQ-GUIDED [[beam]] scorer (the DiskANN traversal shape, Subramanya
    * et al. 2019: graph adjacency + compressed in-memory distances):
    * every candidate scored from the STORED codes — per round the
    * frontier's neighbors semi-join the 8-codes-per-vector store and
    * sum the broadcast 32-entry query lookup table (one
    * partial-aggregated groupBy over ≤ 8·|cands| rows); the corpus's raw
    * vectors are NEVER read during traversal. Scores surface NEGATED
    * (cosine = -rounded ADC) so the frontier order (cosine desc, vec_id
    * asc) is ADC asc, vec_id asc and the oracle reuses the shared beam
    * CTEs through the same negation.
    */
  private def adcScorer(s: SparkSession, dir: String)
      : DataFrame => DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.l2SqDecimal
    val (codesT, bookT) = pqStoresFor(s, dir)
    val emb = Tables.load(s, dir, "embeddings")
    val qsubs = emb.filter($"vec_id" === 0)
      .select(posexplode_outer(expr(
        "transform(sequence(0, 7), sp -> slice(embedding, 8*sp+1, 8))"))
        .as(Seq("qsp", "qv")))
    // the query's 32-entry sub-distance lookup table: built once,
    // read by every round's scoring join — pin it
    val qd = qsubs
      .join(broadcast(bookT.read().select($"cid", $"csp", $"cv")),
        $"qsp" === $"csp")
      .select($"qsp", $"cid".as("qcid"), l2SqDecimal("qv", "cv").as("qd2"))
      .localCheckpoint()
    val codes = codesT.read().select($"vec_id", $"sp", $"code")
      .filter($"vec_id" =!= 0)
    ids => codes
      .join(broadcast(ids), Seq("vec_id"), "left_semi")
      .join(broadcast(qd), $"sp" === $"qsp" && $"code" === $"qcid")
      .groupBy($"vec_id").agg(sum($"qd2").as("adc_dec"))
      .select($"vec_id",
        (-round($"adc_dec".cast("double"), 9)).as("cosine"))
  }

  /** The s40 two-layer descent serving probe over ARBITRARY layer
    * graphs (query = vec 0): 2 upper rounds from the L1 entries, top-4
    * ∪ fixed entries seed the base beam, top-10 answer — the s46
    * spec's insert-vs-rebuild parity probe, s40's serving path
    * verbatim.
    */
  private[graft] def descentTop10Over(s: SparkSession, dir: String,
      l0: DataFrame, l1: DataFrame): DataFrame = {
    import s.implicits._
    val score = servingScorer(s, dir)
    val v1 = beam(l1, beamL1Entries.toDF("vec_id"), 2, score)
    beam(l0, descentSeeds(s, v1), beamR, score)
      .orderBy($"cosine".desc, $"vec_id".asc).limit(10)
      .select($"vec_id", $"cosine")
  }

  /** The standard query-serving beam (query = vec 0, fixed entries, R
    * rounds) over an ARBITRARY edge list, cut to s38's top-10 shape —
    * the s41 spec's insert-vs-rebuild serving-parity probe.
    */
  private[graft] def beamTop10Over(s: SparkSession, dir: String,
      graph: DataFrame): DataFrame = {
    import s.implicits._
    beam(graph, beamEntries.toDF("vec_id"), beamR, servingScorer(s, dir))
      .orderBy($"cosine".desc, $"vec_id".asc).limit(10)
      .select($"vec_id", $"cosine")
  }

  /** The s41 oracle: base-graph build (batch excluded) + the four
    * insert chains unrolled — per insert x_i: its exact score table,
    * the beam rounds over graph version g_{i-1}, the top-M
    * neighborhood, and the next graph version g_i (recapped affected
    * sources + untouched sources + the new node's out-edges). Graph
    * versions and score tables are MATERIALIZED: each is referenced by
    * every later chain, and plain-CTE inlining would grow the SQL
    * exponentially in the batch size (the s19 mmr lesson).
    */
  private def s41OracleSql: String = {
    val batch = insertBatch.sorted
    val chains = batch.zipWithIndex.map { case (x, i) =>
      val pfx = s"x$i"
      val prevG = if (i == 0) "bgraph" else s"g${i - 1}"
      s"""${xScoreSql(pfx, x)},
        ${beamRoundsSqlCtes(pfx, prevG,
        s"SELECT vec_id, cosine FROM ${pfx}qs WHERE vec_id IN (${beamEntries.mkString(", ")})",
        beamR, s"${pfx}qs")},
        ${insertRecapSql(pfx, x, prevG, s"g$i", s"${pfx}v$beamR")}"""
    }.mkString(",\n        ")
    val bl = batch.mkString(", ")
    s"""
        WITH $beamBandsAndScoresSql,
        ${beamGraphSqlCtes("b", s" AND vec_id NOT IN ($bl)", beamEntries)},
        $chains
        SELECT src, dst, gcos FROM g${batch.length - 1}
        WHERE src IN ($bl) OR dst IN ($bl)
        ORDER BY src, dst"""
  }

  /** Insert-x's exact score table, `pfx`-namespaced, ending in the
    * MATERIALIZED `${pfx}qs(vec_id, cosine)` — referenced by every
    * beam round and recap of that insert. Shared by the s41/s46
    * oracles.
    */
  private def xScoreSql(pfx: String, x: Long): String =
    s"""${pfx}p AS (SELECT e.vec_id, unnest(e.embedding) AS x,
                     unnest(q.embedding) AS y
              FROM embeddings e, embeddings q
              WHERE q.vec_id = $x AND e.vec_id <> 0),
        ${pfx}d AS (SELECT vec_id, ${oCosineSums()}
                    FROM ${pfx}p GROUP BY vec_id),
        ${pfx}qs AS MATERIALIZED (
          SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
          FROM ${pfx}d)"""

  /** One sequential insert's LINK step as CTEs (the [[insertDelta]]
    * kernel verbatim): `${pfx}top` = x's MATERIALIZED top-M
    * neighborhood out of `$visitedCte`, then `$outG` = the next graph
    * version — others recap naturally, the BEST neighbor pins the
    * back-edge and fills with top-(M-1), untouched sources carry over,
    * plus x's out-edges. Shared by the s41 (single-layer) and s46
    * (per-layer) oracles; graph versions MATERIALIZE because every
    * later chain references them (the s19 inlining lesson).
    */
  private def insertRecapSql(pfx: String, x: Long, prevG: String,
      outG: String, visitedCte: String): String =
    s"""${pfx}top AS MATERIALIZED (
          SELECT vec_id, cosine,
                 ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS nrk
          FROM (SELECT vec_id, cosine FROM $visitedCte
                ORDER BY cosine DESC, vec_id ASC LIMIT $beamM) t),
        $outG AS MATERIALIZED (
          SELECT src, dst, gcos FROM (
            SELECT src, dst, gcos,
                   ROW_NUMBER() OVER (PARTITION BY src
                     ORDER BY gcos DESC, dst ASC) AS rk
            FROM (SELECT p.src, p.dst, p.gcos FROM $prevG p
                  WHERE p.src IN (SELECT vec_id FROM ${pfx}top WHERE nrk > 1)
                  UNION ALL
                  SELECT t.vec_id, CAST($x AS BIGINT), t.cosine
                  FROM ${pfx}top t WHERE t.nrk > 1) u) w
          WHERE rk <= $beamM
          UNION ALL
          SELECT src, dst, gcos FROM (
            SELECT p.src, p.dst, p.gcos,
                   ROW_NUMBER() OVER (PARTITION BY p.src
                     ORDER BY p.gcos DESC, p.dst ASC) AS rk
            FROM $prevG p
            WHERE p.src IN (SELECT vec_id FROM ${pfx}top WHERE nrk = 1)) w2
          WHERE rk <= ${beamM - 1}
          UNION ALL
          SELECT t.vec_id, CAST($x AS BIGINT), t.cosine
          FROM ${pfx}top t WHERE t.nrk = 1
          UNION ALL
          SELECT src, dst, gcos FROM $prevG
          WHERE src NOT IN (SELECT vec_id FROM ${pfx}top)
          UNION ALL
          SELECT CAST($x AS BIGINT) AS src, vec_id AS dst, cosine AS gcos
          FROM ${pfx}top)"""

  /** The s46 oracle: both layers' base builds (batch excluded; the
    * upper layer = the 1-in-8 subsample), then per insert x_i in
    * ascending order — score table, 2 upper beam rounds over the
    * CURRENT upper graph, top-4 seeds, an upper-layer link iff
    * level(x) ≥ 1, the seeded base beam over the CURRENT base graph,
    * and the base-layer link. Output: every batch-incident edge of
    * both final layers, layer-tagged.
    */
  private def s46OracleSql: String = {
    val batch = mlInsertBatch.sorted
    val l1e = beamL1Entries.mkString(", ")
    val l0e = beamEntries.mkString(", ")
    val bl = batch.mkString(", ")
    var prevU = "mugraph"
    var prevG = "mbgraph"
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    batch.zipWithIndex.foreach { case (x, i) =>
      val p = s"m$i"
      parts += xScoreSql(p, x)
      parts += beamRoundsSqlCtes(s"${p}u", prevU,
        s"SELECT vec_id, cosine FROM ${p}qs WHERE vec_id IN ($l1e)", 2,
        s"${p}qs")
      parts += s"""${p}useeds AS (SELECT vec_id FROM ${p}uv2
                   ORDER BY cosine DESC, vec_id ASC LIMIT 4)"""
      if (mlLevel(x) >= 1) {
        val out = s"ug$i"
        parts += insertRecapSql(s"${p}w", x, prevU, out, s"${p}uv2")
        prevU = out
      }
      parts += beamRoundsSqlCtes(p, prevG,
        s"""SELECT vec_id, cosine FROM ${p}qs
            WHERE vec_id IN (SELECT vec_id FROM ${p}useeds)
               OR vec_id IN ($l0e)""", beamR, s"${p}qs")
      val out0 = s"mg$i"
      parts += insertRecapSql(s"${p}z", x, prevG, out0, s"${p}v$beamR")
      prevG = out0
    }
    s"""
        WITH $beamBandsAndScoresSql,
        ${beamGraphSqlCtes("mb", s" AND vec_id NOT IN ($bl)", beamEntries)},
        ${beamGraphSqlCtes("mu",
        s" AND vec_id % 8 = 1 AND vec_id NOT IN ($bl)", beamL1Entries)},
        ${parts.mkString(",\n        ")}
        SELECT layer, src, dst, gcos FROM (
          SELECT 0 AS layer, src, dst, gcos FROM $prevG
          WHERE src IN ($bl) OR dst IN ($bl)
          UNION ALL
          SELECT 1 AS layer, src, dst, gcos FROM $prevU
          WHERE src IN ($bl) OR dst IN ($bl)) t
        ORDER BY layer, src, dst"""
  }

  /** The s44 oracle: base-graph build (bulk batch excluded) + the B
    * INDEPENDENT beam chains — every one against the same frozen
    * `bgraph`, no version chain (that independence IS the batch
    * semantics) — then the single merge: offers (pinned = per-x rank-1
    * neighbor) union base edges of touched sources, one per-src
    * re-cap window ordered (pinned first, gcos desc, dst asc), plus
    * out-edges and the untouched remainder. Per-x score tables and
    * top-M neighborhoods MATERIALIZE (the s41 lesson: DuckDB would
    * otherwise inline each into its several consumers).
    */
  private def s44OracleSql: String = {
    val bl = bulkBatch.sorted.mkString(", ")
    s"""
        WITH $beamBandsAndScoresSql,
        ${beamGraphSqlCtes("b", s" AND vec_id NOT IN ($bl)", beamEntries)},
        ${bulkMergeSqlBlock(bulkBatch.sorted, "y", "bgraph", "merged")}
        SELECT src, dst, gcos FROM merged
        WHERE src IN ($bl) OR dst IN ($bl)
        ORDER BY src, dst"""
  }

  /** One bulk-merge CTE block, `pfx`-namespaced: per-x score tables +
    * frozen beams against `graphCte` + MATERIALIZED top-M
    * neighborhoods, then the single merge (offers with per-x rank-1
    * pins, one per-src re-cap, untouched remainder) ending in
    * `$outCte` = the full merged graph (MATERIALIZED — s49 chains a
    * second block off it). Shared by the s44 and s49 oracles.
    */
  private def bulkMergeSqlBlock(batch: Seq[Long], pfx: String,
      graphCte: String, outCte: String): String = {
    val chains = batch.zipWithIndex.map { case (x, i) =>
      val p = s"$pfx$i"
      s"""${p}p AS (SELECT e.vec_id, unnest(e.embedding) AS x,
                     unnest(q.embedding) AS y
              FROM embeddings e, embeddings q
              WHERE q.vec_id = $x AND e.vec_id <> 0),
        ${p}d AS (SELECT vec_id, ${oCosineSums()}
                    FROM ${p}p GROUP BY vec_id),
        ${p}qs AS MATERIALIZED (
          SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
          FROM ${p}d),
        ${beamRoundsSqlCtes(p, graphCte,
        s"SELECT vec_id, cosine FROM ${p}qs WHERE vec_id IN (${beamEntries.mkString(", ")})",
        beamR, s"${p}qs")},
        ${p}top AS MATERIALIZED (
          SELECT vec_id, cosine,
                 ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS nrk
          FROM (SELECT vec_id, cosine FROM ${p}v$beamR
                ORDER BY cosine DESC, vec_id ASC LIMIT $beamM) t)"""
    }.mkString(",\n        ")
    val offerUnion = batch.zipWithIndex.map { case (x, i) =>
      s"""SELECT vec_id AS src, CAST($x AS BIGINT) AS dst,
                 cosine AS gcos, nrk = 1 AS pinned FROM $pfx${i}top"""
    }.mkString("\n          UNION ALL\n          ")
    val outUnion = batch.zipWithIndex.map { case (x, i) =>
      s"""SELECT CAST($x AS BIGINT) AS src, vec_id AS dst,
                 cosine AS gcos FROM $pfx${i}top"""
    }.mkString("\n          UNION ALL\n          ")
    s"""$chains,
        ${pfx}offers AS MATERIALIZED (
          $offerUnion),
        ${pfx}outedges AS (
          $outUnion),
        ${pfx}touched AS (SELECT DISTINCT src FROM ${pfx}offers),
        ${pfx}recap AS (
          SELECT src, dst, gcos FROM (
            SELECT src, dst, gcos,
                   ROW_NUMBER() OVER (PARTITION BY src
                     ORDER BY CASE WHEN pinned THEN 0 ELSE 1 END,
                              gcos DESC, dst ASC) AS rk
            FROM (SELECT src, dst, gcos, FALSE AS pinned FROM $graphCte
                  WHERE src IN (SELECT src FROM ${pfx}touched)
                  UNION ALL
                  SELECT src, dst, gcos, pinned FROM ${pfx}offers) u) w
          WHERE rk <= $beamM),
        $outCte AS MATERIALIZED (
          SELECT src, dst, gcos FROM $graphCte
          WHERE src NOT IN (SELECT src FROM ${pfx}touched)
          UNION ALL SELECT src, dst, gcos FROM ${pfx}recap
          UNION ALL SELECT src, dst, gcos FROM ${pfx}outedges)"""
  }

  /** The s49 oracle: base build (every chained id excluded) + TWO
    * bulk-merge blocks, the second's beams running against the
    * first's MATERIALIZED merged graph — the fold the streaming
    * ingest must equal.
    */
  private def s49OracleSql: String = {
    val all = chainBatches.flatten.sorted
    val al = all.mkString(", ")
    val blocks = chainBatches.zipWithIndex.map { case (b, k) =>
      val inCte = if (k == 0) "cgraph" else s"cg$k"
      bulkMergeSqlBlock(b.sorted, s"z$k", inCte, s"cg${k + 1}")
    }.mkString(",\n        ")
    s"""
        WITH $beamBandsAndScoresSql,
        ${beamGraphSqlCtes("c", s" AND vec_id NOT IN ($al)", beamEntries)},
        $blocks
        SELECT src, dst, gcos FROM cg${chainBatches.length}
        WHERE src IN ($al) OR dst IN ($al)
        ORDER BY src, dst"""
  }

  /** The s45 delete + local-repair CTE block, appended after the full
    * graph build (`graph` CTE): lost-edge pairs, touched sources,
    * FreshDiskANN candidate set (surviving own edges ∪ deleted
    * neighbors' surviving out-edges), exact-cosine re-cap (`drep`),
    * and the post-delete serving graph (`dgraph` = untouched survivors
    * ∪ repaired lists). Shared by the s45 repair and audit oracles.
    */
  private def s45RepairSqlCtes: String = {
    val dl = deleteBatch.sorted.mkString(", ")
    s"""dlost AS (SELECT src, dst AS d FROM graph
                  WHERE dst IN ($dl) AND src NOT IN ($dl)),
        dtouch AS (SELECT DISTINCT src FROM dlost),
        dsurv AS (SELECT src, dst FROM graph
                  WHERE src IN (SELECT src FROM dtouch)
                    AND dst NOT IN ($dl)),
        dthru AS (SELECT l.src, g.dst
                  FROM dlost l JOIN graph g ON g.src = l.d
                  WHERE g.dst NOT IN ($dl) AND g.dst <> l.src),
        dcand AS (SELECT DISTINCT src, dst FROM
                  (SELECT src, dst FROM dsurv
                   UNION ALL SELECT src, dst FROM dthru) u),
        dcp AS (SELECT c.src, c.dst,
                       unnest(a.embedding) AS x, unnest(b.embedding) AS y
                FROM dcand c JOIN embeddings a ON a.vec_id = c.src
                             JOIN embeddings b ON b.vec_id = c.dst),
        dcd AS (SELECT src, dst, ${oCosineSums()}
                FROM dcp GROUP BY src, dst),
        drep AS MATERIALIZED (SELECT src, dst, gcos FROM (
                SELECT src, dst,
                       round(dot / (sqrt(na) * sqrt(nq)), 9) AS gcos,
                       ROW_NUMBER() OVER (PARTITION BY src
                         ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9) DESC,
                                  dst ASC) AS rk
                FROM dcd) t WHERE rk <= $beamM),
        dgraph AS MATERIALIZED (
          SELECT src, dst, gcos FROM graph
          WHERE src NOT IN ($dl) AND dst NOT IN ($dl)
            AND src NOT IN (SELECT src FROM dtouch)
          UNION ALL SELECT src, dst, gcos FROM drep)"""
  }

  private def s45OracleSql: String = s"""
        WITH $beamBandsAndScoresSql,
        ${beamGraphSqlCtes("", "", beamEntries)},
        $s45RepairSqlCtes
        SELECT src, dst, gcos FROM drep
        ORDER BY src, dst"""

  private def s45AuditOracleSql: String = {
    val dl = deleteBatch.sorted.mkString(", ")
    s"""
        WITH $beamBandsAndScoresSql,
        ${beamGraphSqlCtes("", "", beamEntries)},
        $s45RepairSqlCtes,
        ${beamRoundsSqlCtes("da", "dgraph",
        s"SELECT vec_id, cosine FROM qs WHERE vec_id IN (${beamEntries.mkString(", ")})",
        beamR)},
        dbeam10 AS (SELECT vec_id FROM dav$beamR
                    ORDER BY cosine DESC, vec_id ASC LIMIT 10),
        dindeg AS (SELECT DISTINCT dst AS vec_id FROM dgraph),
        dtruth AS (SELECT vec_id, cosine,
                          ROW_NUMBER() OVER (ORDER BY cosine DESC,
                                             vec_id ASC) AS rk
                   FROM qs WHERE vec_id NOT IN ($dl))
        SELECT t.rk, t.vec_id, t.cosine,
               b.vec_id IS NOT NULL AS found_by_beam,
               CASE WHEN b.vec_id IS NOT NULL THEN ''
                    WHEN i.vec_id IS NULL THEN 'repair_disconnected'
                    ELSE 'outside_horizon' END AS miss_reason
        FROM dtruth t
        LEFT JOIN dbeam10 b ON b.vec_id = t.vec_id
        LEFT JOIN dindeg i ON i.vec_id = t.vec_id
        WHERE t.rk <= 10
        ORDER BY t.rk"""
  }

  /** The exact-cosine dense leg of the hybrid stack (shared by s29 and
    * the s33 audit's truth side): per-query top-k (qid, doc_id, vec_rk)
    * over the full embeddings table — broadcast query vectors, one
    * group-limited window, the s01 decimal-cosine kernel.
    */
  private def exactVecTop(s: SparkSession, dir: String,
      qids: Seq[Long], k: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val qvecs = emb.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val wVec = Window.partitionBy($"qid").orderBy($"cosine".desc, $"doc_id".asc)
    emb.filter(!$"vec_id".isin(qids: _*))
      .crossJoin(broadcast(qvecs))
      .select($"qid", $"vec_id".as("doc_id"),
        round(cosineExact("embedding", "qv"), 9).as("cosine"))
      .withColumn("vec_rk", row_number().over(wVec).cast("long"))
      .filter($"vec_rk" <= k)
      .select($"qid", $"doc_id", $"vec_rk")
  }

  /** Integer reciprocal-rank fusion (shared by s29/s32/s33): full-outer
    * join of (qid, doc_id, lex_rk) with (qid, doc_id, vec_rk), RRF
    * micro-points 10^9 div (60+rank) per present leg, fused top-k with
    * ties to the smaller doc_id. Exact integer math end to end.
    */
  private def rrfFuse(lexTop: DataFrame, vecTop: DataFrame, k: Int): DataFrame = {
    val wFuse = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    lexTop.join(vecTop, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_micro", expr(
        """coalesce(1000000000 div (60 + lex_rk), CAST(0 AS BIGINT))
           + coalesce(1000000000 div (60 + vec_rk), CAST(0 AS BIGINT))"""))
      .withColumn("rk", row_number().over(wFuse).cast("long"))
      .filter(col("rk") <= k)
  }

  /** s29's lexical BM25 leg as a reusable builder (shared with s32): the
    * per-query top-k (qid, doc_id, lex_rk) over the documents table for
    * a literal query-doc id set. k1=1.2, b=0.75, never-negative BM25+
    * idf; per-term scores round to 6 digits then DECIMAL-sum so partial
    * aggregation is order-independent. tf feeds four consumers — pinned
    * once via lazy localCheckpoint (the d32 re-read lesson); df is
    * restricted to the query vocabulary so its join side broadcasts.
    */
  private def bm25LexTop(s: SparkSession, dir: String,
      qids: Seq[Long], k: Int): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    // spread the tokenize+explode pass off the one-task sub-split-size
    // doc scan (guide §2.5; Tables.spread is a no-op at scale)
    val docs = Tables.spread(
      Tables.load(s, dir, "documents").select($"doc_id", $"text"))
    val toks = docs
      .select($"doc_id", explode_outer(tokens($"text")).as("token"))
      .filter($"token" =!= "")
    val tf = toks.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("tot_dl"))
    val qterms = tf.filter($"doc_id".isin(qids: _*))
      .select($"doc_id".as("qid"), $"token")
    val qtok = qterms.select($"token").distinct()
    val dfreq = tf.join(broadcast(qtok), "token")
      .groupBy($"token").agg(count(lit(1)).as("df"))
    val wLex = Window.partitionBy($"qid")
      .orderBy($"lex_dec".desc, $"doc_id".asc)
    tf.filter(!$"doc_id".isin(qids: _*))
      .join(broadcast(qterms), "token")
      .join(dl, "doc_id")
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(corpus))
      // textually identical arithmetic to the oracle: every intermediate
      // is a deterministic IEEE double, rounded to 6 before the
      // order-independent decimal sum
      .withColumn("sterm", expr(
        """CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
             ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl * n_docs) / tot_dl))), 6)
           AS DECIMAL(28,6))"""))
      .groupBy($"qid", $"doc_id").agg(sum($"sterm").as("lex_dec"))
      .withColumn("lex_rk", row_number().over(wLex).cast("long"))
      .filter($"lex_rk" <= k)
      .select($"qid", $"doc_id", $"lex_rk")
  }

  /** The matching DuckDB CTE chain (no leading WITH): toksraw…lextop,
    * ending in lextop(qid, doc_id, lex_rk ≤ k). Shared by s29 and s32. */
  private def bm25LexSqlCtes(qidList: String, k: Int): String = s"""
        toksraw AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS token
          FROM documents),
        tok AS (SELECT doc_id, token FROM toksraw WHERE token <> ''),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf
               FROM tok GROUP BY doc_id, token),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM dl),
        qterms AS (SELECT doc_id AS qid, token FROM tf
                   WHERE doc_id IN ($qidList)),
        lexterm AS (
          SELECT qt.qid, t.doc_id,
                 CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
                   ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + (0.75 * d.dl * n_docs) / tot_dl))), 6)
                 AS DECIMAL(28,6)) AS sterm
          FROM tf t
          JOIN qterms qt ON t.token = qt.token
          JOIN dl d ON d.doc_id = t.doc_id
          JOIN dfreq f ON f.token = t.token
          CROSS JOIN corpus
          WHERE t.doc_id NOT IN ($qidList)),
        lexs AS (SELECT qid, doc_id, SUM(sterm) AS lex_dec
                 FROM lexterm GROUP BY qid, doc_id),
        lexr AS (SELECT qid, doc_id,
                        ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY lex_dec DESC, doc_id ASC) AS lex_rk
                 FROM lexs),
        lextop AS (SELECT qid, doc_id, lex_rk FROM lexr WHERE lex_rk <= $k)"""

  // ---- s38/s39: stored k-NN-graph beam search (the HNSW/NSW family) ----

  /** Beam-search knobs: M-degree graph, B-wide beam, R rounds, fixed
    * entry points, hot-bucket candidate cap. CAP is a no-op at the gate
    * SFs (biggest (band,bval) bucket ≈ 125 members at sf0.1) and bites
    * only on the ×100 replicated corpus — the d05 hot-shingle
    * discipline applied to graph construction.
    */
  // defs, not vals: `defs` (declared above) references these through
  // beamSqlCtes during object init — a val here would still be null then
  private def beamM = 4
  private def beamB = 8
  private def beamR = 3
  private def beamEntries = Seq(1L, 2L, 3L, 4L)
  // s40's upper-layer entries: must lie in the 1-in-8 subsample
  // (all ≡ 1 mod 8) and exist at every SF (ids < 500)
  private def beamL1Entries = Seq(1L, 9L, 17L, 25L)
  private def beamCap = 256

  /** Build (or reuse — memoized per corpus) the
    * persisted k-NN GRAPH: per corpus vector, its top-M neighbors by
    * exact cosine among the hyperplane-LSH band-colliding candidates
    * (s12's candidate generation — the s11 scaladoc's prescription for
    * corpus×corpus kNN: a full cross join would be quadratic, band
    * collision keeps it an equijoin). Buckets are capped at [[beamCap]]
    * members (md5-order, deterministic) so a skewed bucket can never go
    * quadratic at scale. One band-keyed shuffle + one per-src
    * group-limited window; the graph (N·M edges) lands in a FactTable.
    */
  private def knnGraphStore(s: SparkSession, dir: String)
      : graft.storage.FactTable =
    knnGraphStoreFor(s, dir, "s38_graph", None, beamEntries)

  /** [[knnGraphStore]] parameterized for s40's LAYERS and s41's
    * pre-insert base: `subsetMod` = Some((m, r)) restricts the graph to
    * vec_id ≡ r (mod m) — the deterministic node subsample that makes
    * an upper HNSW layer — `exclude` drops an explicit id set (s41's
    * not-yet-inserted batch), and `entries` are the fixed nodes the cap
    * must pin. The memo key covers (dir, tag) AND every build input, so
    * one tag built with two exclude sets yields two stores.
    */
  private def knnGraphStoreFor(s: SparkSession, dir: String, tag: String,
      subsetMod: Option[(Long, Long)], entries: Seq[Long],
      exclude: Seq[Long] = Nil)
      : graft.storage.FactTable =
    factStore(s, tag, dir, subsetMod, entries, exclude) {
      import s.implicits._
      val bands0 = subsetMod.foldLeft(
        hyperplaneBands(s, dir).filter($"vec_id" =!= 0)) {
        case (df, (m, rr)) => df.filter($"vec_id" % m === rr)
      }
      val bands = if (exclude.isEmpty) bands0
        else bands0.filter(!$"vec_id".isin(exclude: _*))
      // ENTRY PINNING: the fixed entry points sort FIRST in the cap
      // order — a serving graph must contain its entry nodes (the
      // HNSW entry-node invariant); the r12 ×10 sweep caught the
      // md5-only order evicting all four entries from every capped
      // bucket, which left them edgeless and killed the beam at the
      // seed set (out_rows 4, not 10)
      val wCap = Window.partitionBy($"band", $"bval")
        .orderBy(when($"vec_id".isin(entries: _*), 0).otherwise(1).asc,
          md5($"vec_id".cast("string")).asc, $"vec_id".asc)
      val capped = bands
        .withColumn("crk", row_number().over(wCap))
        .filter($"crk" <= beamCap)
        .select($"vec_id", $"embedding", $"band", $"bval")
      val wG = Window.partitionBy($"src").orderBy($"gcos".desc, $"dst".asc)
      // shuffle discipline (two r12 sweep lessons in one shape): the
      // band self-join emits ONLY (src, dst) — 16 bytes — so the
      // multi-band pair dedup shuffles narrow rows (deduping with the
      // embeddings attached shuffled two 64-float arrays per
      // candidate: 900 s at ×10), and the vectors attach AFTER the
      // distinct via two vec_id-keyed joins so each distinct pair
      // pays the decimal cosine exactly ONCE (scoring pre-dedup
      // re-ran it per band collision: 4× the decimal work, 96 s at
      // ×1). Only the final (src, dst, gcos) triple reaches the
      // per-src top-M window.
      // self-norms are PER-VECTOR quantities: folding them per PAIR
      // (what cosineExact inlines) tripled the dominant decimal work
      // — precompute once (N rows) and carry them through the joins;
      // the final expression is cosineExact's op tree verbatim, so
      // the rounded value is bit-identical
      val vecs = Tables.load(s, dir, "embeddings")
        .filter($"vec_id" =!= 0).select($"vec_id", $"embedding")
        .withColumn("nn", dotExact("embedding", "embedding"))
      capped
        .select($"vec_id".as("src"), $"band", $"bval")
        .join(capped.select($"vec_id".as("dst"), $"band", $"bval"),
          Seq("band", "bval"))
        .filter($"src" =!= $"dst")
        .select($"src", $"dst").distinct()
        .join(vecs.select($"vec_id".as("src"), $"embedding".as("sv"),
          $"nn".as("sn")), Seq("src"))
        .join(vecs.select($"vec_id".as("dst"), $"embedding".as("dv"),
          $"nn".as("dn")), Seq("dst"))
        .select($"src", $"dst",
          round(dotExact("sv", "dv") / (sqrt($"sn") * sqrt($"dn")), 9)
            .as("gcos"))
        .withColumn("grk", row_number().over(wG)).filter($"grk" <= beamM)
        .select($"src", $"dst", $"gcos")
    }

  /** A memoized one-append FactTable store ([[graft.TempDirs.store]]):
    * `rows`, dated 2024-01-01, append once at txn 0 per key; every later
    * call with the same key reads the same store. */
  private def factStore(s: SparkSession, tag: String, inputs: Any*)(
      rows: => DataFrame): graft.storage.FactTable =
    new graft.storage.FactTable(graft.TempDirs.store(tag, inputs: _*) { r =>
      new graft.storage.FactTable(r, s)
        .append(rows.withColumn("date", to_date(lit("2024-01-01"))), 0)
    }, s)

  /** s38's serving beam over the STORED graph: entries → R rounds of
    * [[beam]] scored against query vec 0. Returns (visited scored set,
    * graph df) — everything downstream (top-k, audits) is a bounded
    * rearrangement. The corpus is never re-banded and the graph never
    * rebuilt (the store is the serving artifact; PlanSpec locks the
    * store read into the plan).
    */
  private def beamSearchParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val graph = knnGraphStore(s, dir).read().select($"src", $"dst")
    (beam(graph, beamEntries.toDF("vec_id"), beamR, servingScorer(s, dir)),
      graph)
  }

  /** s40's UPPER-layer descent (the 2-round beam over the stored
    * s40_l1 graph that produces the base layer's seeds), exposed the
    * way [[hnswInsertedGraphBuild]] is: the beam pin (per-round
    * localCheckpoint in [[beam]]) truncates the upper layer out
    * of the SERVED plan's lineage, so PlanSpec locks the s40_l1 store
    * read on this plan instead.
    */
  private[graft] def s40UpperDescent(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val l1 = knnGraphStoreFor(s, dir, "s40_l1", Some((8L, 1L)),
      beamL1Entries).read().select($"src", $"dst")
    beam(l1, beamL1Entries.toDF("vec_id"), 2, servingScorer(s, dir))
  }

  /** THE beam kernel shared by every graph traversal of s38–s49 —
    * serving, filtered serving, PQ-guided serving, HNSW inserts and the
    * batched bulk-ingest beams. Fixed rounds, the plan composed by the
    * driver with no mid-iteration collect (the q94 discipline): per
    * round the ≤B-row frontier broadcasts into `graph` (src, dst) for
    * its neighbors, fresh nodes anti-join the visited set, get scored,
    * and union into visited; the next frontier is visited's top-B by
    * (cosine desc, vec_id asc). Parameters:
    *  - `score`: candidate ids → (vec_id, cosine, …) rows; exact cosine
    *    against a 1-row query ([[exactScorer]]), per-qid queries
    *    ([[batchScorer]]) or ADC from stored PQ codes ([[adcScorer]]).
    *    ADC scores surface as `cosine` too, so one frontier order serves
    *    all three;
    *  - `twoHop`: ACORN-1 expansion — each frontier node's 1-hop AND
    *    2-hop neighborhood (traversal passes THROUGH nodes the
    *    admission filter rejects);
    *  - `admit`: the admission filter on scored fresh candidates (s42's
    *    `ok`); seeds are always admitted as traversal anchors;
    *  - `perQid`: every step carries `qid` (seeds are (qid, vec_id)) and
    *    the frontier is one per-qid group-limited window — the s44/s49
    *    batch shape, O(R) job waves for any number of queries — instead
    *    of the global `orderBy.limit` that plans as TakeOrderedAndProject
    *    (PlanSpec locks that form for s38/s40/s42).
    * Returns the visited set. Per query the scoring work is
    * ≤ |seeds| + R·B·M (M + M² per node with `twoHop`) candidates,
    * independent of corpus size.
    */
  private[graft] def beam(graph: DataFrame, seeds: DataFrame, rounds: Int,
      score: DataFrame => DataFrame, perQid: Boolean = false,
      twoHop: Boolean = false, admit: Option[Column] = None): DataFrame = {
    val qid = if (perQid) Seq("qid") else Nil
    val keys = qid :+ "vec_id"
    val byCos = Seq(col("cosine").desc, col("vec_id").asc)
    def frontierOf(v: DataFrame): DataFrame = {
      val top =
        if (perQid) v.withColumn("frk",
            row_number().over(Window.partitionBy(col("qid")).orderBy(byCos: _*)))
          .filter(col("frk") <= beamB)
        else v.orderBy(byCos: _*).limit(beamB)
      top.select(qid.map(col) :+ col("vec_id").as("fid"): _*)
    }
    def expand(from: DataFrame): DataFrame =
      graph.join(broadcast(from), col("src") === col("fid"))
        .select(qid.map(col) :+ col("dst").as("vec_id"): _*)
    var visited = score(seeds)
    var frontier = frontierOf(visited)
    for (r <- 1 to rounds) {
      val hop1 = expand(frontier).distinct()
      val nbrs = if (!twoHop) hop1
        else hop1.unionByName(expand(
          hop1.select(qid.map(col) :+ col("vec_id").as("fid"): _*))).distinct()
      val fresh = nbrs.join(broadcast(visited.select(keys.map(col): _*)),
        keys, "left_anti")
      val scored = score(fresh)
      visited = visited.unionByName(admit.fold(scored)(scored.filter))
      // pin every round but the last: round r's plan references visited
      // three times (frontier, anti-join, union), so the unpinned tree
      // grows 3^r-fold — the s41 lineage pathology on the serving path
      // (measured: s42 4.9 s → sub-second with the pin; values are
      // unchanged, and the final round stays live so the stored-graph
      // read and the TakeOrdered frontier keep their locked places in
      // the served plan)
      if (r < rounds) visited = visited.localCheckpoint()
      frontier = frontierOf(visited)
    }
    visited
  }

  /** Exact-cosine [[beam]] scorer against a 1-row query frame `q`
    * (column `qv`): candidate ids semi-join `vecs` (vec_id, embedding,
    * …), the query broadcasts. `extra` columns ride along (s42's `ok`
    * label-match flag). s41/s46 inserts pass each NEW vector as `q` —
    * the HNSW property: the serving path IS the insert path.
    */
  private def exactScorer(vecs: DataFrame, q: DataFrame, extra: Column*)
      : DataFrame => DataFrame = ids =>
    vecs.join(broadcast(ids), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select(col("vec_id") +:
        round(cosineExact("embedding", "qv"), 9).as("cosine") +: extra: _*)

  /** [[exactScorer]] against the fixed query vec 0 over the corpus. */
  private def servingScorer(s: SparkSession, dir: String)
      : DataFrame => DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    exactScorer(emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding")),
      emb.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
  }

  /** The base-layer seeds of an HNSW descent (s40/s46): the upper
    * beam's top-4 ∪ the fixed entries — query-adapted starts can only
    * ADD material to a fixed-seed start.
    */
  private def descentSeeds(s: SparkSession, upper: DataFrame): DataFrame = {
    import s.implicits._
    upper.orderBy($"cosine".desc, $"vec_id".asc).limit(4).select($"vec_id")
      .unionByName(beamEntries.toDF("vec_id")).distinct()
  }

  /** A served (vec_id, cosine) set cut to the ranked top-10 answer
    * (rk, vec_id, cosine): a TakeOrdered top-10, then the rank window
    * over those 10 rows.
    */
  private def rankedTop10(scored: DataFrame): DataFrame = {
    val byCos = Seq(col("cosine").desc, col("vec_id").asc)
    scored.orderBy(byCos: _*).limit(10)
      .withColumn("rk", row_number().over(Window.orderBy(byCos: _*)).cast("long"))
      .select(col("rk"), col("vec_id"), col("cosine"))
      .orderBy(col("rk"))
  }

  /** The per-qid exact-cosine scorer of the batched beam (s44/s49 and
    * the streaming ingest, which scores from ITS OWN vector store):
    * (qid, vec_id) candidates join `vecs` and their own query vector
    * from the broadcast (qid, qv) batch. Returns (qid, vec_id, cosine).
    */
  private def batchScorer(vecs: DataFrame, queries: DataFrame)
      : DataFrame => DataFrame = ids =>
    vecs.join(broadcast(ids), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosineExact("embedding", "qv"), 9).as("cosine"))

  /** The recall-audit tail of s39/s43/s45/s48 (the s10/s28/s33 house
    * discipline): exact top-10 `truth` (ranked here from its (vec_id,
    * cosine) rows) ⋈ the `served` answer's top-10 ⋈ the in-degree of
    * `graph`, every truth vector flagged found/missed in `found` and
    * every miss given a `miss_reason`: `unreachable` when no edge
    * enters it (a construction defect), `pq_detour` when it is in
    * `exactVisited` (s48: the exact-guided beam reaches it, the
    * PQ-guided one does not), `horizon` otherwise (the traversal
    * budget). The classes are exhaustive because the served answer
    * ranks its visited set by the same exact cosine that defines
    * truth, so a visited truth vector is always found. Every leg is
    * bounded (≤ 10 .. N·M rows) and broadcasts.
    */
  private def attributeMisses(truth: DataFrame, served: DataFrame,
      graph: DataFrame, found: String, unreachable: String, horizon: String,
      exactVisited: Option[DataFrame] = None): DataFrame = {
    val byCos = Seq(col("cosine").desc, col("vec_id").asc)
    val hit = coalesce(col("hit"), lit(false))
    val legs = Seq(
      served.orderBy(byCos: _*).limit(10)
        .select(col("vec_id"), lit(true).as("hit")),
      graph.select(col("dst").as("vec_id")).distinct()
        .withColumn("hasin", lit(true))) ++
      exactVisited.map(_.select(col("vec_id"), lit(true).as("exvis")))
    val classes = when(hit, "").when(col("hasin").isNull, unreachable)
    val reason = if (exactVisited.isEmpty) classes
      else classes.when(col("exvis").isNotNull, "pq_detour")
    val ranked = truth
      .withColumn("rk",
        row_number().over(Window.orderBy(byCos: _*)).cast("long"))
      .filter(col("rk") <= 10)
    legs.foldLeft(ranked)((t, leg) =>
        t.join(broadcast(leg), Seq("vec_id"), "left"))
      .select(col("rk"), col("vec_id"), col("cosine"), hit.as(found),
        reason.otherwise(horizon).as("miss_reason"))
      .orderBy(col("rk"))
  }

  /** s44's micro-batch: disjoint from s41's, all < 500 so they exist
    * at every SF.
    */
  private[graft] def bulkBatch = Seq(55L, 66L, 77L, 88L)

  /** BULK HNSW ingest (s44): apply a micro-batch of B new vectors to a
    * frozen base graph as ONE batched job set + ONE bounded merge —
    * the production ingest path s41's sequential loop cannot be
    * (VERDICT r13 next #1). Batch semantics, stated precisely (and
    * replayed verbatim by the oracle):
    *
    *  1. FROZEN BEAMS: every new vector beam-searches the SAME
    *     pre-batch graph version — batch members do not see each
    *     other (the standard frozen-version bulk-build rule; a batch
    *     of 1 is exactly sequential semantics, which the spec asserts
    *     as edge-set EQUALITY against [[hnswInsertedGraphBuild]]).
    *  2. OUT-EDGES: x → its beam's top-M visited, for each x.
    *  3. ONE MERGE: each touched source re-caps ONCE over its base
    *     edges ∪ ALL its back-edge offers, ordered (pinned first,
    *     gcos desc, dst asc), cap M — deterministic under any offer
    *     arrival order. The reachability pin generalizes s41's: each
    *     x's BEST neighbor's offer ranks ahead of every natural edge,
    *     so every new vector keeps ≥1 incoming edge even if natural
    *     shrink would evict all B offers.
    *
    * Cost per batch is O(B) bounded broadcasts + one window over
    * ≤ B·M·(M+1) rows; the base store is read, never rewritten — at
    * 100 TB this is the one MERGE statement a vector store's ingest
    * pipeline commits per micro-batch. The merged edge list lands in
    * a memoized FactTable store keyed on the batch and base tag.
    */
  private[graft] def bulkInsertedGraph(s: SparkSession, dir: String,
      batch: Seq[Long] = bulkBatch, baseTag: String = "s44_base")
      : DataFrame =
    factStore(s, baseTag + "_ins", dir, batch)(
      bulkInsertedGraphBuild(s, dir, batch, baseTag)).read()
      .select(col("src"), col("dst"), col("gcos"))

  /** The uncached s44 build — see [[bulkInsertedGraph]] for the batch
    * semantics. PlanSpec probes this directly for the base-store-read
    * and broadcast-only locks.
    */
  private[graft] def bulkInsertedGraphBuild(s: SparkSession, dir: String,
      batch: Seq[Long] = bulkBatch, baseTag: String = "s44_base")
      : DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val base = knnGraphStoreFor(s, dir, baseTag, None, beamEntries,
      exclude = batch).read().select($"src", $"dst", $"gcos")
    val queries = emb.filter($"vec_id".isin(batch: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val vecs = emb.filter($"vec_id" =!= 0)
      .select($"vec_id", $"embedding")
    new DeltaGraph(base, bulkMergeDelta(s, base, vecs, queries, beamEntries))
      .now
  }

  /** The s44 bulk-merge CORE, over arbitrary frames: returns ONLY the
    * CHANGED rows — each touched source's complete recapped edge list
    * plus every new node's out-edges (≤ B·M·(M+1) rows total). This is
    * the MERGE a store commits per micro-batch: the caller composes
    * `base ANTI changed-srcs ∪ delta` (the s41 delta representation),
    * appends it under a Replacing per-src latest-batch-wins view
    * (GraphIngest), or chains it ([[bulkChainGraph]]). Semantics as
    * documented on [[bulkInsertedGraph]]; the per-query top-M
    * neighborhoods pin once (bounded localCheckpoint) because the
    * out-edge, offer, and recap legs all read them — and the pin also
    * makes the delta's graph/vecs reads happen-before any append the
    * caller commits.
    */
  private[graft] def bulkMergeDelta(s: SparkSession, graph: DataFrame,
      vecs: DataFrame, queries: DataFrame, entries: Seq[Long])
      : DataFrame = {
    import s.implicits._
    val visited = beam(graph.select($"src", $"dst"),
      queries.select($"qid").crossJoin(entries.toDF("vec_id")), beamR,
      batchScorer(vecs, queries), perQid = true)
    val wTop = Window.partitionBy($"qid")
      .orderBy($"cosine".desc, $"vec_id".asc)
    val xtop = visited.withColumn("nrk", row_number().over(wTop))
      .filter($"nrk" <= beamM).localCheckpoint()
    val outEdges = xtop.select($"qid".as("src"), $"vec_id".as("dst"),
      $"cosine".as("gcos"))
    val offers = xtop.select($"vec_id".as("src"), $"qid".as("dst"),
      $"cosine".as("gcos"), ($"nrk" === 1).as("pinned"))
    val touched = offers.select($"src").distinct()
    val wCap = Window.partitionBy($"src")
      .orderBy(when($"pinned", 0).otherwise(1).asc, $"gcos".desc, $"dst".asc)
    val recapped = graph
      .join(broadcast(touched), Seq("src"), "left_semi")
      .withColumn("pinned", lit(false))
      .unionByName(offers)
      .withColumn("grk", row_number().over(wCap)).filter($"grk" <= beamM)
      .select($"src", $"dst", $"gcos")
    recapped.unionByName(outEdges)
  }

  /** s49's two-batch split of the bulk ids, and its base tag: the fold
    * that shadows the STREAMING graph ingest (GraphIngest) — batch 2's
    * beams run against batch 1's merged graph, so later batches link
    * to earlier ones exactly as a live ingest would.
    */
  private[graft] def chainBatches = Seq(Seq(55L, 66L), Seq(77L, 88L))

  /** The s49 base-graph edges (corpus minus every chained id) — shared
    * verbatim by the fold below and StreamingSpec's GraphIngest
    * bootstrap, so stream ≡ fold starts from the identical store.
    */
  private[graft] def chainBaseEdges(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    knnGraphStoreFor(s, dir, "s49_base", None, beamEntries,
      exclude = chainBatches.flatten).read()
      .select($"src", $"dst", $"gcos")
  }

  /** [[bulkChainGraphBuild]] behind the store memo (VERDICT r13 #9;
    * without it the QueryDef and the StreamingSpec fold comparison each
    * re-pay the two-batch beam+merge chain). One FactTable
    * materialization per JVM per corpus.
    */
  private[graft] def bulkChainGraph(s: SparkSession, dir: String)
      : DataFrame =
    factStore(s, "s49_chain_ins", dir)(bulkChainGraphBuild(s, dir)).read()
      .select(col("src"), col("dst"), col("gcos"))

  /** Chained bulk ingest (s49, the GraphIngest batch fold): successive
    * [[bulkMergeDelta]] batches, each beam-searching the PREVIOUS
    * batch's merged graph, folded through one [[DeltaGraph]] — so plan
    * depth stays constant however many batches fold in.
    */
  private[graft] def bulkChainGraphBuild(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val vecs = emb.filter($"vec_id" =!= 0).select($"vec_id", $"embedding")
    chainBatches.foldLeft(new DeltaGraph(chainBaseEdges(s, dir))) { (g, b) =>
      val queries = emb.filter($"vec_id".isin(b: _*))
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val changes = bulkMergeDelta(s, g.now, vecs, queries, beamEntries)
      g(changes, changes.select($"src").distinct())
    }.now
  }

  /** s45's delete batch: vectors taken down from the FULL serving
    * graph. Never the entries (they anchor every traversal), never 0
    * (the query), all < 500 so they exist at every SF; disjoint from
    * the s41/s44/s49 insert batches for clarity.
    */
  private[graft] def deleteBatch = Seq(7L, 23L, 42L)

  /** The shared s38 FULL serving graph's edge list (pre-delete state
    * for the s45 lifecycle; identical content to the s45 copy's txn-0
    * state).
    */
  private[graft] def servingGraph(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    knnGraphStoreFor(s, dir, "s38_graph", None, beamEntries).read()
      .select($"src", $"dst", $"gcos")
  }

  /** A from-scratch band build over the SURVIVING corpus (the delete
    * batch excluded) — s45's survivor-rebuild comparison graph, the
    * s18 delete ≡ rebuild-on-survivors discipline.
    */
  private[graft] def survivorRebuildGraph(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    knnGraphStoreFor(s, dir, "s45_rebuild", None, beamEntries,
      exclude = deleteBatch).read()
      .select($"src", $"dst", $"gcos")
  }

  /** Sources that LOSE an edge when [[deleteBatch]] goes down: every
    * surviving src with a pre-delete edge into the batch. Computed from
    * the shared s38 serving store; bounded by the batch's in-degree.
    */
  private[graft] def deleteTouched(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    servingGraph(s, dir)
      .filter($"dst".isin(deleteBatch: _*) &&
        !$"src".isin(deleteBatch: _*))
      .select($"src").distinct()
  }

  /** GRAPH DELETE LOCAL REPAIR (s45) — each touched source's edge list
    * recomputed after the delete, the FreshDiskANN delete-consolidation
    * rule (Singh et al. 2021 §4.2): a source s that lost its edge to a
    * deleted d re-caps over the CANDIDATE set
    *   { its own surviving out-edges } ∪
    *   { the deleted neighbors' surviving out-edges } (s may link
    *     THROUGH d to d's neighborhood; never to itself, never into
    *     the batch),
    * top-[[beamM]] by exact cosine (gcos desc, dst asc — the standard
    * cap order). Pure bounded local work: the candidate frame is
    * ≤ touched·(M + M²) rows, every join broadcasts it, and NOTHING
    * re-bands or re-beams — at 100 TB a delete batch costs one
    * tombstone write + this one bounded merge, corpus-size
    * independent. Both sides recompute every candidate's cosine
    * through the same decimal-exact formula, so surviving edges
    * re-enter with bit-identical gcos.
    */
  private[graft] def deleteRepairBuild(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val g = servingGraph(s, dir)
    val del = deleteBatch
    // (survivor, deleted) lost-edge pairs — bounded by in-degree(D)
    val lost = g.filter($"dst".isin(del: _*) && !$"src".isin(del: _*))
      .select($"src", $"dst".as("d"))
    val touched = lost.select($"src").distinct()
    val surv = g.join(broadcast(touched), Seq("src"), "left_semi")
      .filter(!$"dst".isin(del: _*)).select($"src", $"dst")
    val thru = g.select($"src".as("d"), $"dst".as("c"))
      .join(broadcast(lost), Seq("d"))
      .filter(!$"c".isin(del: _*) && $"c" =!= $"src")
      .select($"src", $"c".as("dst"))
    val cand = surv.unionByName(thru).distinct()
    val vecs = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" =!= 0).select($"vec_id", $"embedding")
    val withSv = vecs.select($"vec_id".as("src"), $"embedding".as("sv"))
      .join(broadcast(cand), Seq("src"))
    val wCap = Window.partitionBy($"src").orderBy($"gcos".desc, $"dst".asc)
    vecs.select($"vec_id".as("dst"), $"embedding".as("dv"))
      .join(broadcast(withSv), Seq("dst"))
      .select($"src", $"dst",
        round(cosineExact("sv", "dv"), 9).as("gcos"))
      .withColumn("grk", row_number().over(wCap)).filter($"grk" <= beamM)
      .select($"src", $"dst", $"gcos")
  }

  /** The s45 DELETE LIFECYCLE store, memoized per corpus: a copy of
    * the full serving graph taken through the
    * dx23 tombstone delete + [[deleteRepairBuild]]'s repair append.
    * Storage semantics, asserted at build time:
    *  - ONE `softDelete` masks every edge incident to [[deleteBatch]]
    *    plus the touched sources' surviving rows (their lists are
    *    REPLACED wholesale by the repair — the s44 merge shape) —
    *    O(keys) tombstone write, parts provably untouched;
    *  - the repair rows append AFTER the tombstone, so the deletion
    *    vector (scoped to pre-delete parts) never masks them — the
    *    insert-after-delete contract `softDelete` documents.
    * The masked read IS the repaired graph: untouched survivors' rows
    * + repaired lists, zero deleted-incident edges.
    */
  private[graft] def deletedRepairedStore(s: SparkSession, dir: String)
      : graft.storage.FactTable = {
    import s.implicits._
    val root = graft.TempDirs.store("s45_del", dir) { r =>
      val t = new graft.storage.FactTable(r, s)
      val dt = to_date(lit("2024-01-01"))
      t.append(servingGraph(s, dir).withColumn("date", dt), 0)
      // repair reads the PRE-delete graph (FreshDiskANN's lazy-delete
      // consolidation uses the deleted nodes' out-lists); pinned so
      // its store reads happen-before the tombstone commits
      val repaired = deleteRepairBuild(s, dir).localCheckpoint()
      val touchedIds = repaired.select($"src").distinct()
        .as[Long].collect().sorted // bounded delete ledger (d41)
      val partsBefore = t.snapshot().dataFiles.map(_.path).toSet
      val nDel = t.softDelete(
        $"src".isin(deleteBatch: _*) || $"dst".isin(deleteBatch: _*) ||
          $"src".isin(touchedIds: _*), Seq("src", "dst"))
      require(nDel > 0, "graph delete tombstoned nothing")
      require(t.snapshot().dataFiles.map(_.path).toSet == partsBefore,
        "graph delete rewrote parts — tombstones must be O(keys)")
      t.append(repaired.withColumn("date", dt), 1)
    }
    new graft.storage.FactTable(root, s)
  }

  /** The DuckDB replay of the whole beam stack — banding, capped
    * candidate pairs, per-src top-M graph, exact query scores, and the
    * R beam rounds UNROLLED (v0/f0 … vR) — ending with CTEs `graph`,
    * `qs(vec_id, cosine)` and `v$beamR` (the visited set). Shared by
    * the s38 and s39 oracles.
    */
  private def beamSqlCtes: String =
    s"""
        WITH $beamBandsAndScoresSql,
        ${beamGraphSqlCtes("", "", beamEntries)},
        ${beamRoundsSqlCtes("", "graph",
      s"SELECT vec_id, cosine FROM qs WHERE vec_id IN (${beamEntries.mkString(", ")})",
      beamR)}"""

  /** Banding + exact query-score CTEs shared by every graph layer:
    * planes..bands over ALL vectors, qs(vec_id, cosine) vs the query.
    */
  private def beamBandsAndScoresSql: String = s"""planes AS (
          SELECT p AS plane,
                 list_transform(range(0, 64), d ->
                   CASE WHEN substr(md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1) < '8'
                        THEN -1.0 ELSE 1.0 END) AS hv
          FROM (SELECT unnest(range(0, 16)) AS p)),
        comps AS (SELECT e.vec_id, pl.plane,
                         unnest(e.embedding) AS x, unnest(pl.hv) AS h
                  FROM embeddings e CROSS JOIN planes pl),
        bits AS (SELECT vec_id, plane,
                        CASE WHEN ${oDot("x", "h")} >= 0
                             THEN 1 ELSE 0 END AS bit
                 FROM comps GROUP BY vec_id, plane),
        bands AS (SELECT vec_id, plane // 4 AS band,
                         SUM(bit * CASE plane % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                                  WHEN 2 THEN 2 ELSE 1 END) AS bval
                  FROM bits GROUP BY vec_id, plane // 4),
        qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        qp AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
               FROM embeddings e, qv q WHERE e.vec_id <> 0),
        qd AS (SELECT vec_id, ${oCosineSums()} FROM qp GROUP BY vec_id),
        qs AS (SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
               FROM qd)"""

  /** One layer's graph-construction CTEs, `pfx`-namespaced: capped
    * membership (entries pinned), distinct band-colliding pairs, exact
    * pair cosines, per-src top-M edges. `extraPred` restricts the
    * layer's node set (s40's upper layer).
    */
  private def beamGraphSqlCtes(pfx: String, extraPred: String,
      entries: Seq[Long]): String = {
    val es = entries.mkString(", ")
    s"""${pfx}capped AS (SELECT vec_id, band, bval FROM (
            SELECT vec_id, band, bval,
                   ROW_NUMBER() OVER (PARTITION BY band, bval
                     ORDER BY CASE WHEN vec_id IN ($es) THEN 0 ELSE 1 END,
                              md5(CAST(vec_id AS VARCHAR)), vec_id) AS crk
            FROM bands WHERE vec_id <> 0$extraPred) t
          WHERE crk <= $beamCap),
        ${pfx}cand AS (SELECT DISTINCT b1.vec_id AS src, b2.vec_id AS dst
                 FROM ${pfx}capped b1 JOIN ${pfx}capped b2
                   ON b1.band = b2.band AND b1.bval = b2.bval
                 WHERE b1.vec_id <> b2.vec_id),
        ${pfx}cp AS (SELECT c.src, c.dst,
                      unnest(e1.embedding) AS x, unnest(e2.embedding) AS y
               FROM ${pfx}cand c JOIN embeddings e1 ON e1.vec_id = c.src
                           JOIN embeddings e2 ON e2.vec_id = c.dst),
        ${pfx}cd AS (SELECT src, dst, ${oCosineSums()}
                     FROM ${pfx}cp GROUP BY src, dst),
        ${pfx}graph AS (SELECT src, dst, gcos FROM (
            SELECT src, dst,
                   round(dot / (sqrt(na) * sqrt(nq)), 9) AS gcos,
                   ROW_NUMBER() OVER (PARTITION BY src
                     ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9) DESC,
                              dst ASC) AS grk
            FROM ${pfx}cd) t WHERE grk <= $beamM)"""
  }

  /** One beam phase's CTEs, `pfx`-namespaced: seeds (`v0Body` must
    * yield (vec_id, cosine)), then `rounds` unrolled
    * neighbor→fresh→score→top-B steps over `graphCte`, ending in
    * ${pfx}v$rounds (the visited set). `qsCte` names the per-node
    * score table — s41's inserts score against each NEW vector, not
    * the fixed query.
    */
  private def beamRoundsSqlCtes(pfx: String, graphCte: String,
      v0Body: String, rounds: Int, qsCte: String = "qs"): String = {
    val steps = (1 to rounds).map { r =>
      s"""${pfx}n$r AS (SELECT DISTINCT g.dst AS vec_id
               FROM $graphCte g JOIN ${pfx}f${r - 1} ON g.src = ${pfx}f${r - 1}.vec_id),
        ${pfx}w$r AS (SELECT vec_id FROM ${pfx}n$r
                      EXCEPT SELECT vec_id FROM ${pfx}v${r - 1}),
        ${pfx}v$r AS (SELECT * FROM ${pfx}v${r - 1}
                UNION ALL
                SELECT q$r.vec_id, q$r.cosine FROM $qsCte q$r
                JOIN ${pfx}w$r ON ${pfx}w$r.vec_id = q$r.vec_id),
        ${pfx}f$r AS (SELECT vec_id FROM ${pfx}v$r
                ORDER BY cosine DESC, vec_id ASC LIMIT $beamB)"""
    }.mkString(",\n        ")
    s"""${pfx}v0 AS ($v0Body),
        ${pfx}f0 AS (SELECT vec_id FROM ${pfx}v0 ORDER BY cosine DESC,
               vec_id ASC LIMIT $beamB),
        $steps"""
  }

  /** The stored IVF batch index pair, memoized per corpus (bench
    * hygiene): (index table: vec_id, cid, embedding; centroid table).
    * Shared by s31/s32/s33's batch serving and s34's filtered serving.
    * The build is a deterministic function of the corpus alone (qids
    * only steer the probe side), so s31/s32/s33 — and both timed bench
    * runs of each — share one materialization instead of six (the q84
    * idempotent-layout precedent; a vector store's index build is the
    * offline step its serving queries exist to amortize).
    */
  private def storedIvfStores(s: SparkSession, dir: String)
      : (graft.storage.FactTable, graft.storage.FactTable) = {
    import s.implicits._
    lazy val emb = Tables.load(s, dir, "embeddings")
    def cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
    val idx = factStore(s, "ivfbatch_idx", dir) {
      val w = Window.partitionBy($"vec_id").orderBy($"dist2".asc, $"cid".asc)
      emb.crossJoin(broadcast(cents))
        .select($"vec_id", $"embedding", $"cid",
          round(l2SqExact("embedding", "cv"), 9).as("dist2"))
        .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
        .select($"vec_id", $"cid", $"embedding")
    }
    (idx, factStore(s, "ivfbatch_cent", dir)(cents))
  }

  /** s31's stored-index batch ranking as a reusable builder (shared with
    * s32): builds the bucket-tagged index + centroid FactTable stores,
    * then ranks every probed-bucket vector per query — returns
    * (qid, vec_id, cosine, srk) UNLIMITED; callers cut at their k. The
    * query set reads from the store itself; probe selection is a
    * WindowGroupLimit over nlist×nqueries rows; the (qid, bucket, qv)
    * triples broadcast into the store.
    */

  private def storedIvfBatchRank(s: SparkSession, dir: String,
      qids: Seq[Long], tag: String): DataFrame = {
    import s.implicits._
    val (idxT, centT) = storedIvfStores(s, dir)
    val idx = idxT.read().select($"vec_id", $"cid", $"embedding")
    val queries = idx.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val wP = Window.partitionBy($"qid").orderBy($"qdist".asc, $"cid".asc)
    val probes = centT.read().select($"cid", $"cv")
      .crossJoin(broadcast(queries))
      .select($"qid", $"cid", $"qv",
        round(l2SqExact("cv", "qv"), 9).as("qdist"))
      .withColumn("prk", row_number().over(wP)).filter($"prk" <= 2)
      .select($"qid", $"cid".as("pcid"), $"qv")
    val wR = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id".asc)
    idx.join(broadcast(probes), $"cid" === $"pcid")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        round(cosineExact("embedding", "qv"), 9).as("cosine"))
      .withColumn("srk", row_number().over(wR).cast("long"))
  }

  /** The matching DuckDB CTE chain (no leading WITH; expects
    * `$ivfAssignSqlCtes` upstream): qs…rankd, ending in
    * rankd(qid, vec_id, cosine, rk). Shared by s31 and s32. */
  private def storedIvfBatchSqlCtes(qidList: String): String = s"""
        qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id IN ($qidList)),
        qprobe AS (SELECT q.qid, d.cid,
                          ROW_NUMBER() OVER (PARTITION BY q.qid
                            ORDER BY d.dist2 ASC, d.cid ASC) AS rk
                   FROM qs q JOIN distsr d ON d.vec_id = q.qid),
        probes AS (SELECT qid, cid FROM qprobe WHERE rk <= 2),
        bucket AS (SELECT p.qid, a.vec_id FROM assigned a
                   JOIN probes p ON a.cid = p.cid
                   WHERE a.vec_id <> p.qid),
        bpairs AS (SELECT b.qid, b.vec_id, unnest(e.embedding) AS x,
                          unnest(q2.qv) AS y
                   FROM bucket b
                   JOIN embeddings e ON e.vec_id = b.vec_id
                   JOIN qs q2 ON q2.qid = b.qid),
        bdots AS (SELECT qid, vec_id, ${oCosineSums()}
                  FROM bpairs GROUP BY qid, vec_id),
        rankd AS (SELECT qid, vec_id,
                         round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine,
                         ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9) DESC,
                                    vec_id ASC) AS rk
                  FROM bdots)"""

  /** The hybrid truth-vs-served CTE stack (begins with WITH, ends in
    * CTEs — callers append their final SELECT): IVF assignment + BM25
    * lexical leg + stored-IVF batch serving + exact dense truth leg +
    * both integer RRF fusions, ending in `tranked` (exact-hybrid
    * ranking), `sranked` (served-hybrid ranking) and `bucket` (the
    * probed pairs). Shared by the s33 audit and s47 metrics oracles.
    */
  private def hybridTruthServedSqlCtes(qidList: String): String = s"""
        $ivfAssignSqlCtes,
        ${bm25LexSqlCtes(qidList, 20)},
        ${storedIvfBatchSqlCtes(qidList)},
        qv AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id IN ($qidList)),
        vpairs AS (SELECT q.qid, e.vec_id, unnest(e.embedding) AS x,
                          unnest(q.qv) AS y
                   FROM embeddings e CROSS JOIN qv q
                   WHERE e.vec_id NOT IN ($qidList)),
        vdots AS (SELECT qid, vec_id, ${oCosineSums()}
                  FROM vpairs GROUP BY qid, vec_id),
        vrank AS (SELECT qid, vec_id AS doc_id,
                         ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY round(dot / (sqrt(na) * sqrt(nq)), 9) DESC,
                                    vec_id ASC) AS vec_rk
                  FROM vdots),
        vtop AS (SELECT qid, doc_id, vec_rk FROM vrank WHERE vec_rk <= 20),
        tfused AS (
          SELECT COALESCE(l.qid, v.qid) AS qid,
                 COALESCE(l.doc_id, v.doc_id) AS doc_id,
                 CAST(COALESCE(1000000000 // (60 + l.lex_rk), 0)
                      + COALESCE(1000000000 // (60 + v.vec_rk), 0)
                   AS BIGINT) AS rrf_micro
          FROM lextop l FULL OUTER JOIN vtop v
            ON l.qid = v.qid AND l.doc_id = v.doc_id),
        tranked AS (SELECT qid, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY rrf_micro DESC, doc_id ASC) AS rk
                    FROM tfused),
        svtop AS (SELECT qid, vec_id AS doc_id, rk AS vec_rk
                  FROM rankd WHERE rk <= 20),
        sfused AS (
          SELECT COALESCE(l.qid, v.qid) AS qid,
                 COALESCE(l.doc_id, v.doc_id) AS doc_id,
                 CAST(COALESCE(1000000000 // (60 + l.lex_rk), 0)
                      + COALESCE(1000000000 // (60 + v.vec_rk), 0)
                   AS BIGINT) AS rrf_micro
          FROM lextop l FULL OUTER JOIN svtop v
            ON l.qid = v.qid AND l.doc_id = v.doc_id),
        sranked AS (SELECT qid, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY rrf_micro DESC, doc_id ASC) AS rk
                    FROM sfused)"""

  /** s47's fixed-point DCG discount table: w_i = round(10^6 /
    * log2(i+1)) for serving rank i — CONSTANTS in source (spelled
    * identically in the oracle's VALUES table), so no runtime libm
    * call can drift between engines. The ideal DCG over a full
    * graded truth list (gains 10..1) is Σ(11-i)·w_i, derived from the
    * same table on both sides.
    */
  private def dcgWeights: Seq[(Int, Long)] = Seq(
    1 -> 1000000L, 2 -> 630930L, 3 -> 500000L, 4 -> 430677L,
    5 -> 386853L, 6 -> 356207L, 7 -> 333333L, 8 -> 315465L,
    9 -> 301030L, 10 -> 289065L)

  /** The s47 oracle: the shared hybrid stack + the metrics
    * aggregation — recall@5/@10, MRR and nDCG@10 in exact integer
    * micro-units (graded gains 11-rank, fixed-point discounts, integer
    * division only).
    */
  private def s47OracleSql: String = {
    val wts = dcgWeights.map { case (i, w) => s"($i, $w)" }.mkString(", ")
    val idcg = dcgWeights.map { case (i, w) => (11 - i) * w }.sum
    s"""
        ${hybridTruthServedSqlCtes("0, 7, 13")},
        wts(i, w) AS (VALUES $wts),
        mjoined AS (
          SELECT s.qid, s.rk AS srk, t.rk AS trk, w.w
          FROM sranked s
          LEFT JOIN (SELECT qid, doc_id, rk FROM tranked WHERE rk <= 10) t
            ON t.qid = s.qid AND t.doc_id = s.doc_id
          LEFT JOIN wts w ON w.i = s.rk
          WHERE s.rk <= 10)
        SELECT qid,
          CAST(count(CASE WHEN trk IS NOT NULL AND srk <= 5 THEN 1 END)
               * 100000 AS BIGINT) AS recall5_micro,
          CAST(count(CASE WHEN trk IS NOT NULL THEN 1 END)
               * 100000 AS BIGINT) AS recall10_micro,
          COALESCE(CAST(1000000 AS BIGINT)
                   // min(CASE WHEN trk IS NOT NULL THEN srk END),
                   CAST(0 AS BIGINT)) AS mrr_micro,
          CAST(COALESCE(sum(CASE WHEN trk IS NOT NULL
                                 THEN (11 - trk) * w END), 0)
               * 1000000 // $idcg AS BIGINT) AS ndcg10_micro
        FROM mjoined GROUP BY qid ORDER BY qid"""
  }

  /** The s48 shared CTE stack: full graph build + PQ encode + the
    * ADC-guided beam — `gnscore` negates the rounded ADC so the shared
    * beam CTEs' (cosine DESC, vec_id ASC) frontier order IS (ADC ASC,
    * vec_id ASC) — ending in `gv$beamR` (the PQ-guided visited set).
    */
  private def s48BeamSqlCtes: String = s"""$beamBandsAndScoresSql,
        ${beamGraphSqlCtes("", "", beamEntries)},
        ${pqCodesSqlCtes("g")},
        gnscore AS (SELECT vec_id,
                           -round(CAST(adc_dec AS DOUBLE), 9) AS cosine
                    FROM gadc),
        ${beamRoundsSqlCtes("g", "graph",
    s"SELECT vec_id, cosine FROM gnscore WHERE vec_id IN (${beamEntries.mkString(", ")})",
    beamR, "gnscore")}"""

  private def s48OracleSql: String = s"""
        WITH $s48BeamSqlCtes
        SELECT * FROM (
          SELECT ROW_NUMBER() OVER (ORDER BY q.cosine DESC, q.vec_id ASC) AS rk,
                 q.vec_id, q.cosine
          FROM qs q WHERE q.vec_id IN (SELECT vec_id FROM gv$beamR)) t
        WHERE rk <= 10 ORDER BY rk"""

  private def s48AuditOracleSql: String = s"""
        WITH $s48BeamSqlCtes,
        ${beamRoundsSqlCtes("e", "graph",
    s"SELECT vec_id, cosine FROM qs WHERE vec_id IN (${beamEntries.mkString(", ")})",
    beamR)},
        pserved AS (SELECT vec_id FROM (
            SELECT q.vec_id,
                   ROW_NUMBER() OVER (ORDER BY q.cosine DESC, q.vec_id ASC) AS rk
            FROM qs q WHERE q.vec_id IN (SELECT vec_id FROM gv$beamR)) t
          WHERE rk <= 10),
        pindeg AS (SELECT DISTINCT dst AS vec_id FROM graph),
        ptruth AS (SELECT vec_id, cosine,
                          ROW_NUMBER() OVER (ORDER BY cosine DESC,
                                             vec_id ASC) AS rk
                   FROM qs)
        SELECT t.rk, t.vec_id, t.cosine,
               s.vec_id IS NOT NULL AS found_by_served,
               CASE WHEN s.vec_id IS NOT NULL THEN ''
                    WHEN i.vec_id IS NULL THEN 'no_incoming_edge'
                    WHEN x.vec_id IS NOT NULL THEN 'pq_detour'
                    ELSE 'outside_horizon' END AS miss_reason
        FROM ptruth t
        LEFT JOIN pserved s ON s.vec_id = t.vec_id
        LEFT JOIN pindeg i ON i.vec_id = t.vec_id
        LEFT JOIN (SELECT DISTINCT vec_id FROM ev$beamR) x
          ON x.vec_id = t.vec_id
        WHERE t.rk <= 10
        ORDER BY t.rk"""

  /** s08's full PQ/ADC pipeline in DuckDB — shared verbatim by s26,
    * whose stored-serving path must rank bit-identically to the
    * recompute path (same codes, same decimal query sub-distances).
    */
  private def pqAdcOracleSql: String = s"""
        WITH ${pqCodesSqlCtes("")}
        SELECT vec_id, round(CAST(adc_dec AS DOUBLE), 9) AS adc
        FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 10"""

  /** The s08 PQ encode + query ADC as `pfx`-namespaced CTEs (no
    * leading WITH), ending in `${pfx}adc(vec_id, adc_dec)` — every
    * non-query vector's decimal-exact asymmetric distance to the
    * query through the stored 8-codes-per-vector representation.
    * Shared by the s08/s26 oracle and s48's PQ-guided traversal
    * (which must namespace it: its `qd`/`cents` names collide with
    * the beam-stack CTEs).
    */
  private def pqCodesSqlCtes(pfx: String): String = s"""
        ${pfx}sp AS (SELECT unnest(range(0, 8)) AS sp),
        ${pfx}subs AS (
          SELECT e.vec_id, sp.sp, e.embedding[(8*sp.sp+1):(8*sp.sp+8)] AS sv
          FROM embeddings e CROSS JOIN ${pfx}sp sp),
        ${pfx}cents AS (
          SELECT vec_id AS cid, sp AS csp, sv AS cv FROM ${pfx}subs
          WHERE vec_id BETWEEN 1 AND 4),
        ${pfx}dpairs AS (
          SELECT su.vec_id, su.sp, c.cid, unnest(su.sv) AS x, unnest(c.cv) AS y
          FROM ${pfx}subs su JOIN ${pfx}cents c ON su.sp = c.csp),
        ${pfx}dists AS (
          SELECT vec_id, sp, cid,
                 ${oL2SqDec("x", "y")} AS d2
          FROM ${pfx}dpairs GROUP BY vec_id, sp, cid),
        ${pfx}codes AS (
          SELECT vec_id, sp, cid AS code,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sp
                                    ORDER BY d2 ASC, cid ASC) AS rk
          FROM ${pfx}dists),
        ${pfx}qd AS (SELECT sp AS qsp, cid AS qcid, d2 AS qd2
                     FROM ${pfx}dists WHERE vec_id = 0),
        ${pfx}adc AS (
          SELECT c.vec_id, SUM(q.qd2) AS adc_dec
          FROM ${pfx}codes c
          JOIN ${pfx}qd q ON c.sp = q.qsp AND c.code = q.qcid
          WHERE c.rk = 1 AND c.vec_id <> 0
          GROUP BY c.vec_id)"""

  /** Frozen-centroid IVF assignment — the ingest-path kernel shared by
    * s15 (late-batch append), s21 (multi-batch sequential shadow) and
    * the streaming `AnnIngest` (`streaming/AnnStream.scala`): each
    * vector of `v` joins the broadcast centroid table and keeps its
    * nearest centroid (decimal-exact L2², ties to the smaller cid).
    * Per-vector deterministic and order-independent, which is exactly
    * why append-in-any-batching ≡ rebuild holds for the stored index.
    */
  private[graft] def assignToFrozen(cents: DataFrame, v: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, row_number}
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist2").asc, col("cid").asc)
    v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
        round(l2SqExact("embedding", "cv"), 9).as("dist2"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("cid"), col("embedding"))
  }

  /** The s19 greedy MMR loop as ONE in-row fold over the packed
    * candidate array `cs` (rel-desc sorted structs of
    * (nk, vec_id, rel, na, emb)). State: (sel, rem); five steps append
    * the argmax of round(0.7·rel − 0.3·max-sim-to-sel, 9) with ties to
    * the smaller vec_id via struct-max over (score, -vec_id). The best
    * candidate is recomputed per field access — N=16, k=6 makes the
    * redundancy irrelevant, and it keeps the fold a single expression
    * (SQL lambdas have no let-binding).
    */
  private def mmrGreedySql: String = {
    val sim =
      """round(CAST(aggregate(
           zip_with(c.emb, s.emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
           CAST(0 AS DECIMAL(38,18)),
           (acc, p) -> CAST(acc + CAST(p AS DECIMAL(38,18)) AS DECIMAL(38,18)))
         AS DOUBLE) / (c.na * s.na), 9)"""
    val score =
      s"""round(CAST(0.7 AS DOUBLE) * c.rel
            - CAST(0.3 AS DOUBLE) * array_max(transform(st.sel, s -> $sim)), 9)"""
    val best =
      s"""array_max(transform(st.rem, c ->
            named_struct('score', $score, 'negid', -c.vec_id, 'c', c)))"""
    s"""aggregate(
          sequence(2, 6),
          named_struct(
            'sel', array(named_struct('vec_id', cs[0].vec_id, 'rel', cs[0].rel,
                                      'score', cs[0].rel, 'na', cs[0].na,
                                      'emb', cs[0].emb)),
            'rem', slice(cs, 2, size(cs) - 1)),
          (st, step) -> named_struct(
            'sel', concat(st.sel, array(named_struct(
              'vec_id', $best.c.vec_id, 'rel', $best.c.rel,
              'score', $best.score, 'na', $best.c.na, 'emb', $best.c.emb))),
            'rem', filter(st.rem, r -> r.vec_id != $best.c.vec_id)),
          st -> st.sel)"""
  }

  /** s19's oracle: the same two stages in DuckDB — candidate head +
    * pairwise candidate sims as tables, then the k=6 greedy unrolled as
    * a chained-CTE argmax (ORDER BY score DESC, vec_id LIMIT 1 per
    * step; max-sim via a correlated lookup into the symmetric sims
    * table). Generated programmatically so each step's "selected so
    * far" union stays textually exact. The step CTEs are MATERIALIZED:
    * DuckDB inlines plain CTEs, and each step referencing all previous
    * steps 3× would otherwise expand the chain exponentially (measured:
    * the inlined form never finishes; materialized runs in <0.5 s).
    */
  private def mmrOracleSql: String = {
    val steps = (2 to 6).map { k =>
      val prev = (1 until k).map(i => s"SELECT vec_id FROM sel$i")
        .mkString(" UNION ALL ")
      s""",
        sel$k AS MATERIALIZED (
          SELECT c.vec_id, c.rel,
                 round(CAST(0.7 AS DOUBLE) * c.rel
                   - CAST(0.3 AS DOUBLE) * (
                     SELECT MAX(sm.sim) FROM sims sm
                     WHERE (sm.va = c.vec_id AND sm.vb IN ($prev))
                        OR (sm.vb = c.vec_id AND sm.va IN ($prev))), 9) AS score,
                 $k AS rank
          FROM cand c
          WHERE c.vec_id NOT IN ($prev)
          ORDER BY score DESC, c.vec_id ASC LIMIT 1)"""
    }.mkString
    val union = (1 to 6).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    s"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        qpairs AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
                   FROM embeddings e, q WHERE e.vec_id <> 0),
        reld AS (SELECT vec_id,
                        ${oCosineSums()}
                 FROM qpairs GROUP BY vec_id),
        rels AS (SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS rel
                 FROM reld),
        cand AS MATERIALIZED (SELECT vec_id, rel FROM rels
                 ORDER BY rel DESC, vec_id ASC LIMIT 16),
        cpair AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                         unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
                  FROM cand a JOIN cand b ON a.vec_id < b.vec_id
                  JOIN embeddings ea ON ea.vec_id = a.vec_id
                  JOIN embeddings eb ON eb.vec_id = b.vec_id),
        simd AS (SELECT va, vb,
                        ${oCosineSums("nb")}
                 FROM cpair GROUP BY va, vb),
        sims AS MATERIALIZED (SELECT va, vb, round(dot / (sqrt(na) * sqrt(nb)), 9) AS sim
                 FROM simd),
        sel1 AS MATERIALIZED (SELECT vec_id, rel, rel AS score, 1 AS rank FROM cand
                 ORDER BY rel DESC, vec_id ASC LIMIT 1)$steps
        SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel, score
        FROM ($union) ORDER BY rank"""
  }

  /** s14/s15/s18 shared oracle (s04's search semantics): the one-shot
    * build, the build+incremental-append, and the build+delete must all
    * answer the probe query identically to a full recompute over the
    * (surviving) vectors. `bucketExtra` narrows the candidate bucket —
    * s18 passes the tombstoned-id exclusion.
    */
  /** The 8-centroid frozen assignment as a reusable oracle CTE chain up
    * to `assigned(vec_id, cid)` — the DuckDB mirror of `assignToFrozen`,
    * shared by the stored-index search oracles (s14/s15/s18/s21) and the
    * s20 balance report.
    */
  private def ivfAssignSqlCtes: String = s"""
        WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        cpairs AS (SELECT e.vec_id, c.cid, unnest(e.embedding) AS x, unnest(c.cv) AS y
                   FROM embeddings e CROSS JOIN cents c),
        dists AS (SELECT vec_id, cid,
                         ${oL2Sq("x", "y")} AS dist2_raw
                  FROM cpairs GROUP BY vec_id, cid),
        distsr AS (SELECT vec_id, cid, round(dist2_raw, 9) AS dist2 FROM dists),
        assigned AS (SELECT vec_id, cid FROM (
                       SELECT vec_id, cid,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                                 ORDER BY dist2 ASC, cid ASC) AS rk
                       FROM distsr) t WHERE rk = 1)"""

  private def storedIvfOracleSql(bucketExtra: String = ""): String = s"""
        $ivfAssignSqlCtes,
        bucket AS (SELECT a.vec_id FROM assigned a
                   WHERE a.cid = (SELECT cid FROM assigned WHERE vec_id = 0)
                     AND a.vec_id <> 0$bucketExtra),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        pairs AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
                  FROM embeddings e JOIN bucket b ON e.vec_id = b.vec_id, q),
        dots AS (SELECT vec_id,
                        ${oCosineSums()}
                 FROM pairs GROUP BY vec_id)
        SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 9) AS cosine
        FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 5"""
}
