package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for the training-data pipeline (SURVEY.md §2.D):
  * exact (hash-groupBy), MinHash signatures + LSH band join, SimHash, and
  * n-gram Jaccard via an inverted shingle index.
  *
  * The queries run over a derived corpus = documents ∪ exact copies (every
  * 10th doc) ∪ near-copies (every 10th+1 doc with its first token dropped),
  * built identically in Spark and the oracle SQL, so the operators have
  * guaranteed duplicates to find at any SF.
  *
  * Scale notes (100 TB): all grouping/joining is on fixed-width md5
  * prefixes, never on raw text (narrow shuffle rows); the inverted index
  * caps shingle document-frequency to bound the quadratic candidate
  * blowup on hot shingles — the standard LSH/inverted-index guard.
  */
object DedupQueries {

  /** Derived corpus with guaranteed exact and near duplicates. NOT
    * spread here: most consumers' kernels are cheaper than the spread
    * exchange at bench SFs (measured: a corpus-level spread regressed
    * d01/d02/d04/d17/d20/d21 by the exchange cost while only d05's
    * heavy shingle kernel won) — the few heavy consumers spread at
    * their own site instead.
    */
  def corpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val exact = docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val near = docs.filter($"doc_id" % 10 === 1)
      .select(($"doc_id" + 2000000L).as("doc_id"),
        when(instr($"text", " ") > 0,
          expr("substring(text, instr(text, ' ') + 1)"))
          .otherwise($"text").as("text"))
    docs.unionByName(exact).unionByName(near)
  }

  /** The same corpus as a DuckDB CTE body. */
  val corpusSql: String = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000,
             CASE WHEN instr(text, ' ') > 0
                  THEN substr(text, instr(text, ' ') + 1) ELSE text END
      FROM documents WHERE doc_id % 10 = 1"""

  /** corpus → doc_id + 8-component MinHash signature (md5-salted).
    *
    * Shape evolution (each measured): (r1) per-column higher-order
    * functions — re-evaluates the tokenize+shingle subtree once per
    * permutation after projection collapse; (r2) explode shingles +
    * 8 MIN aggregations — one shingle evaluation but shuffles
    * `docs × shingles` rows; (r3, current) the native `minhash_lanes`
    * expression (plans/MinHashExpression.scala) — one pass over the
    * shingle array computing all 8 lanes, MAP-ONLY: no explode, no
    * shuffle, embarrassingly parallel at any corpus size. NULL lanes
    * for shingle-less docs (matching list_min([]) → NULL in the
    * oracle). The multi-reference of `mhs` below is deliberately NOT
    * collapsible (CollapseProject keeps non-cheap producers used >1×
    * in their own Project), so the kernel runs once per document.
    */
  /** (doc_id, text) → with toks + sh columns (shared tokenize+shingle). */
  private def shingled(df: DataFrame): DataFrame =
    df.withColumn("toks", tokens(col("text"))).withColumn("sh", shingles("toks"))

  /** (doc_id, text) → doc_id + 8-lane MinHash signature via the native
    * map-only `minhash_lanes` expression (see scaladoc above).
    */
  private def sigOf(df: DataFrame): DataFrame =
    shingled(df).withColumn("mhs", expr("minhash_lanes(sh, 8)"))
      .select(col("doc_id") +: (0 until 8).map(p =>
        element_at(col("mhs"), p + 1).as(s"mh$p")): _*)

  /** signature → (doc_id, band, bval): 4 bands × 2 lanes, NULL bands
    * (shingle-less docs) dropped.
    */
  private def bandsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(array((0 until 4).map(b =>
      concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*))
      .as(Seq("band", "bval")))
      .filter(col("bval").isNotNull)

  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    sigOf(corpus(s, dir))

  /** The 8 MinHash lane expressions as DuckDB SQL (over a `sh` column). */
  private val mhColsSql: String = (0 until 8).map(p =>
    s"list_min(list_transform(sh, x -> substr(md5('$p:' || x), 1, 16))) AS mh$p")
    .mkString(",\n               ")

  /** tok → shingle → signature CTE chain over corpus CTE `src`, CTE names
    * suffixed `_$sfx` (lets one oracle carry several signature sets).
    */
  private def sigSqlOver(src: String, sfx: String): String = s"""
      tok_$sfx AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
              FROM $src),
      shi_$sfx AS (SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                          ELSE [] END AS sh
              FROM tok_$sfx),
      sig_$sfx AS (SELECT doc_id, $mhColsSql FROM shi_$sfx)"""

  /** 4×2 band table SQL over a signature CTE. */
  private def bandsSqlOver(sig: String): String = s"""(
          SELECT doc_id, 0 AS band, mh0 || mh1 AS bval FROM $sig
          UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM $sig
          UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM $sig
          UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM $sig)"""

  private val minhashSqlCore: String = {
    val mhCols = mhColsSql
    s"""
      WITH corpus AS ($corpusSql),
      tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
              FROM corpus),
      shi AS (SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                          ELSE [] END AS sh
              FROM tok),
      sig AS (SELECT doc_id,
               $mhCols
              FROM shi)"""
  }

  /** Max documents a shingle may appear in before the inverted index
    * drops it (identical in the oracle). Unlike the band-bucket caps —
    * which adaptiveBucketPairs now routes to a salted lane instead of
    * dropping — this is a SEMANTIC document-frequency filter, not a skew
    * guard: a shingle shared by >100 documents is boilerplate, and
    * counting it toward Jaccard/containment overstates similarity (the
    * standard IDF-style cut in n-gram dedup pipelines, cf. RefinedWeb /
    * Lee et al. 2021). d05/d15/d27 keep it deliberately.
    */
  val maxShingleDf = 100

  /** DF-capped pairwise shared-shingle counts with both set sizes —
    * the exact-Jaccard core shared by d05 (threshold filter) and d27
    * (threshold curve).
    *
    * Per-doc distinct shingles + their count are computed MAP-SIDE
    * with array_distinct over the in-row shingle array (r3 used a
    * groupBy(doc_id).collect_set — a full shuffle of every shingle
    * row that a per-row array op makes unnecessary), so posting-list
    * pairs already carry |A| and |B| with zero pre-shuffles.
    * Shingles travel as fixed-width md5 prefixes, never raw text.
    * explode_OUTER, not explode: the inner explode makes Catalyst
    * infer `size(sh_set) > 0 AND isnotnull(sh_set)`, which inlines
    * the whole tokens→shingles→md5→distinct chain into a Filter
    * where every element_at re-runs the regex split — measured 10×
    * slower. The outer variant infers nothing; the one null row an
    * empty doc produces is dropped right after, at exploded width.
    */
  private def sharedShinglePairs(s: SparkSession, dir: String,
      metric: String): DataFrame = {
    import s.implicits._
    // the shingle+md5 explode is the heavy corpus kernel worth a spread
    // (guide §2.5; measured: d05 4.3 -> 3.0 s, while cheaper corpus
    // consumers lose the exchange cost — so the spread lives here, not
    // in corpus())
    val sh = Tables.spread(corpus(s, dir))
      .withColumn("toks", tokens($"text"))
      .withColumn("sh_set", array_distinct(
        transform(shingles("toks"), x => substring(md5(x), 1, 16))))
      .select($"doc_id", size($"sh_set").cast("long").as("n_sh"),
        explode_outer($"sh_set").as("shingle"))
      .filter($"shingle".isNotNull)
    boundedPostingLists(sh, Seq("shingle"),
      struct($"doc_id", $"n_sh"), maxShingleDf, metric)
      .select(explode_outer(expr(
        """flatten(transform(sequence(1, size(docs) - 1),
             i -> transform(sequence(0, i - 1),
               j -> struct(docs[j].doc_id AS doc_a, docs[j].n_sh AS n_a,
                           docs[i].doc_id AS doc_b, docs[i].n_sh AS n_b))))"""))
        .as("p"))
      .groupBy($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"),
        $"p.n_a".as("n_a"), $"p.n_b".as("n_b"))
      .agg(count(lit(1)).as("shared"))
  }

  /** The d05 pair CTE chain as DuckDB SQL, shared with d27's oracle. */
  private val sharedShinglePairsSql: String = s"""
        WITH corpus AS ($corpusSql),
        tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM corpus),
        sh AS (SELECT DISTINCT doc_id, substr(md5(unnest(
                 CASE WHEN len(toks) >= 3
                      THEN list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                      ELSE [] END)), 1, 16) AS shingle
               FROM tok),
        counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inv AS (SELECT shingle, doc_id FROM sh
                WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                                  HAVING COUNT(*) <= $maxShingleDf)),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
                  FROM inv a JOIN inv b
                    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)"""

  /** Max documents an LSH/blocking bucket may hold before the pair
    * expansion skips it (hot-bucket guard; identical in the oracle).
    * A web crawl routinely lands 100k+ exact copies of one page in a
    * single band bucket — in-row O(k²) expansion there would put 5×10⁹
    * pairs on ONE task. Dropped buckets are exact-or-near-exact clones
    * whose dedup belongs to the exact-hash pass (d01), the standard
    * production split. Chosen far above any bucket sf0.001/sf0.01/sf0.1
    * produce, so test results are unaffected.
    */
  val maxLshBucket = 1000

  /** Bucket-bounded posting-list builder shared by every pair-expansion
    * site (d03/d05/d07/d15/t05): group `rows` by `keys` and collect the
    * `payload` list ONLY for buckets with 2..maxBucket members.
    *
    * The size guard runs COUNT-FIRST: a partial-aggregable count on the
    * bucket key decides survivors, and a semi-join drops hot-bucket rows
    * BEFORE any task materializes a member array — a post-collect_list
    * `size(docs) <= cap` filter (the previous shape here) still builds
    * the full hot array in one row first (a 10M-copy bucket = one
    * multi-GB row) and only then throws it away. The count side is
    * partial-aggregated (bytes per distinct bucket, not per row), and
    * the semi-join + regrouping hash on the same keys, so the plan adds
    * no unbounded state anywhere. Skipped-bucket counts are published as
    * a named observe() metric (`<metric>.dropped_hot_buckets`) so a
    * pipeline can alert on silent coverage loss instead of guessing.
    */
  def boundedPostingLists(rows: DataFrame, keys: Seq[String],
      payload: org.apache.spark.sql.Column, maxBucket: Int,
      metric: String): DataFrame = {
    val n = "__graft_bucket_n"
    val kc = keys.map(col)
    val sized = rows.groupBy(kc: _*).agg(count(lit(1)).as(n))
      .observe(metric,
        sum(when(col(n) > maxBucket, 1L).otherwise(0L))
          .as("dropped_hot_buckets"))
      .filter(col(n) > 1 && col(n) <= maxBucket)
      .select(kc: _*)
    rows.join(sized, keys, "left_semi")
      .groupBy(kc: _*)
      .agg(sort_array(collect_list(payload)).as("docs"))
  }

  /** In-row expansion of an id posting list (`docs` array) into ordered
    * unique pairs — the d03 shape, factored so ScaleSpec can A/B it
    * against [[saltedBucketPairs]] on identical inputs.
    */
  def pairsFromPostingLists(lists: DataFrame): DataFrame =
    lists
      .select(explode_outer(expr(
        """flatten(transform(sequence(1, size(docs) - 1),
             i -> transform(sequence(0, i - 1),
               j -> struct(docs[j] AS doc_a, docs[i] AS doc_b))))"""))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b")).distinct()

  /** ALTERNATIVE pair-generation shape: salted self-join on the bucket
    * key. Where [[boundedPostingLists]]+[[pairsFromPostingLists]] caps a
    * hot bucket (drops it to the exact-dedup pass), this path KEEPS every
    * pair but distributes the O(k²) expansion: the left side carries one
    * salt per row (`pmod(hash(id), salts)`), the right side is replicated
    * once per salt lane, and the equi-join key becomes
    * (bucket, salt) — so a k-row hot bucket becomes `salts` independent
    * join partitions of k/salts × k work instead of ONE task
    * materializing a k-element array and k²/2 in-row pairs. AQE skew-join
    * (`spark.sql.adaptive.skewJoin.enabled`, on by default) further
    * splits any residual fat partition at runtime because the work now
    * lives in a shuffle join, which AQE can re-plan — an in-row
    * `collect_list` is invisible to it.
    *
    * Each qualifying pair (a < b, same bucket) matches EXACTLY the right
    * replica whose lane equals a's salt, so no pair is duplicated within
    * a bucket; `distinct()` dedupes across buckets as in the capped path.
    *
    * Cost model (measured in BASELINE.md): the replication multiplies the
    * whole right side by `salts`, so on a HEALTHY corpus this path pays
    * `salts`× the shuffle volume for no benefit — the capped in-row
    * expansion wins. It is the right shape only when hot buckets must be
    * paired exhaustively rather than dropped. Keep `salts` modest (8-32):
    * it bounds per-task work at k²/salts pairs while the replicated
    * shuffle stays linear in `salts`.
    */
  def saltedBucketPairs(rows: DataFrame, keys: Seq[String], idCol: String,
      salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val left = rows.select(
      keys.map(col) :+ col(idCol).as("__id_a") :+
        pmod(hash(col(idCol)), lit(salts)).as("__salt"): _*)
    val right = rows.select(
      keys.map(k => col(k).as(s"__r_$k")) :+ col(idCol).as("__id_b"): _*)
      .withColumn("__rsalt", explode(sequence(lit(0), lit(salts - 1))))
    val cond = keys.map(k => col(k) === col(s"__r_$k")).reduce(_ && _) &&
      col("__salt") === col("__rsalt") && col("__id_a") < col("__id_b")
    left.join(right, cond)
      .select(col("__id_a").as("doc_a"), col("__id_b").as("doc_b"))
      .distinct()
  }

  /** Semantic drop threshold for ADAPTIVE pair generation: a bucket
    * larger than this is not paired at all (its members are exact or
    * near-exact clones whose dedup belongs to the exact-hash pass, d01).
    * Between `maxLshBucket` and this bound the salted lane pairs the
    * bucket exhaustively; C(20k,2) ≈ 2×10⁸ pairs split across salt
    * lanes is the practical ceiling measured in BASELINE.md's salted
    * A/B (k²/salts per-lane work stays O(10⁷)).
    */
  val dropLshBucket = 20000

  /** ADAPTIVE pair generation — the one shared routine behind every
    * band-bucket pair-expansion site (d03/d07/d24/m07/t05). Routes each
    * bucket BY ITS OBSERVED SIZE, using the same count-first pass that
    * [[boundedPostingLists]] already runs, so the choice between the two
    * expansion shapes is made per bucket from data, not by a static
    * constant:
    *
    *   2..maxBucket rows    → capped in-row posting-list expansion (the
    *                          cheap shape: one shuffle, no replication);
    *   maxBucket+1..dropAbove → salted self-join ([[saltedBucketPairs]]
    *                          shape: exhaustive pairs, O(k²/salts) per
    *                          lane, AQE-visible);
    *   > dropAbove          → dropped (exact-clone pathology; belongs to
    *                          the exact pass — published via observe()).
    *
    * Both lanes and the router live in ONE plan: on a healthy corpus the
    * hot lane's semi-join selects zero buckets, so the salted subtree
    * processes zero rows and the query costs what the capped path cost —
    * no driver-side decision, no second job, and a planted hot bucket
    * switches lanes automatically at ANY scale. The bucket-size
    * aggregate is computed once and reused by both lane filters
    * (ReuseExchange; both semi-joins hash on the same keys).
    *
    * Returns one row per (bucket, qualifying pair): `keys… , pa, pb`
    * with STRICTLY `pa < pb` by payload ordering in both lanes (a payload
    * duplicated within a bucket never self-pairs) — NOT distinct-ed, because
    * shingle-count consumers (shared-count aggregates) need the
    * per-bucket multiplicity; candidate-pair consumers add
    * `.distinct()`. Payload may be any orderable column (plain id or a
    * struct with the id leading).
    *
    * Observability: `<metric>.dropped_hot_buckets` counts buckets past
    * `dropAbove` (silent-coverage-loss alarm, as before) and
    * `<metric>.salted_hot_buckets` counts buckets the salted lane kept —
    * a pipeline can watch skew migrate between lanes across ingests.
    */
  def adaptiveBucketPairs(rows: DataFrame, keys: Seq[String],
      payload: org.apache.spark.sql.Column, metric: String,
      maxBucket: Int = maxLshBucket, salts: Int = 16,
      dropAbove: Int = dropLshBucket): DataFrame = {
    require(maxBucket >= 2 && dropAbove >= maxBucket,
      s"need 2 <= maxBucket <= dropAbove, got ($maxBucket, $dropAbove)")
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val n = "__graft_bucket_n"
    val kc = keys.map(col)
    // The router consumes its input three times (bucket-size aggregate +
    // one semi-join per lane), and Spark instantiates the upstream
    // subtree per consumer — for minhash/simhash band inputs that would
    // triple the signature computation. A LAZY localCheckpoint pins the
    // (narrow: keys + payload) band table to one materialization shared
    // by all three consumers, without making DataFrame CONSTRUCTION run
    // jobs. On a real cluster use reliable checkpoint / a persisted
    // signature table (d19's shape) — same trade, ~100 B/doc of state.
    val withP = rows.withColumn("__p", payload).localCheckpoint(eager = false)
    val sized = withP.groupBy(kc: _*).agg(count(lit(1)).as(n))
      .observe(metric,
        sum(when(col(n) > dropAbove, 1L).otherwise(0L))
          .as("dropped_hot_buckets"),
        sum(when(col(n) > maxBucket && col(n) <= dropAbove, 1L)
          .otherwise(0L)).as("salted_hot_buckets"))
    val small = sized.filter(col(n) > 1 && col(n) <= maxBucket)
      .select(kc: _*)
    val hot = sized.filter(col(n) > maxBucket && col(n) <= dropAbove)
      .select(kc: _*)
    // capped lane: count-first semi-join guard, then in-row expansion
    // (see boundedPostingLists for why the guard must precede collect)
    val smallPairs = withP.join(small, keys, "left_semi")
      .groupBy(kc: _*)
      .agg(sort_array(collect_list(col("__p"))).as("docs"))
      .select(kc :+ explode_outer(expr(
        """flatten(transform(sequence(1, size(docs) - 1),
             i -> transform(sequence(0, i - 1),
               j -> struct(docs[j] AS pa, docs[i] AS pb))))""")).as("__pr"): _*)
      .select(kc :+ col("__pr.pa").as("pa") :+ col("__pr.pb").as("pb"): _*)
      // lane-contract unification: the sorted expansion gives pa <= pb, so
      // a payload appearing twice in one bucket would emit (p, p) here
      // while the hot lane's strict `pa < pb` join drops it — a bucket
      // crossing maxBucket must not change pair semantics. Enforce the
      // strict contract in BOTH lanes.
      .filter(col("pa") =!= col("pb"))
    // salted lane: the hot semi-join is a broadcast (few hot buckets by
    // construction), and replication cost is paid only on hot-bucket rows
    val hotRows = withP.join(hot, keys, "left_semi")
    val left = hotRows.select(
      kc :+ col("__p").as("pa") :+
        pmod(hash(col("__p")), lit(salts)).as("__salt"): _*)
    val right = hotRows.select(
      keys.map(k => col(k).as(s"__r_$k")) :+ col("__p").as("pb"): _*)
      .withColumn("__rsalt", explode(sequence(lit(0), lit(salts - 1))))
    val cond = keys.map(k => col(k) === col(s"__r_$k")).reduce(_ && _) &&
      col("__salt") === col("__rsalt") && col("pa") < col("pb")
    val hotPairs = left.join(right, cond)
      .select(kc :+ col("pa") :+ col("pb"): _*)
    smallPairs.unionByName(hotPairs)
  }

  /** corpus → (doc_id, 32-bit simhash), computed by exploding tokens and
    * hashing each token ONCE, with 32 ±1 partial sums per doc — the
    * per-row `TextFunctions.simhash32` form re-evaluates md5 over every
    * token once per bit (32× the hash work) after projection collapse.
    * sum(±1) > 0 ⇔ the majority vote 2·count > len, ties → 0 in both.
    *
    * Bit j is "hex digit j ≥ '8'", i.e. the high bit of md5 nibble j.
    * Rather than 32 per-bit `substring` evaluations per token, the first
    * 32 hex digits are parsed once into four 32-bit chunks (`conv` —
    * 8 digits each, so the signed-long cast can't overflow under ANSI)
    * and each vote is pure bit arithmetic on those longs.
    */
  def simhashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def vote(j: Int) = {
      val chunk = (j - 1) / 8          // which 8-digit chunk
      val o = (j - 1) % 8 + 1          // 1-based digit within the chunk
      val shift = 35 - 4 * o           // nibble high bit = bit 32-4o+3
      when(shiftright(col(s"h$chunk"), shift).bitwiseAND(1) === 1, 1)
        .otherwise(-1)
    }
    val sums = corpus(s, dir)
      .withColumn("toks", tokens($"text"))
      .select($"doc_id", explode_outer($"toks").as("t")) // outer: no inferred filter re-running split()
      .filter($"t".isNotNull)
      .withColumn("h", md5($"t"))
      .withColumn("h0", expr("cast(conv(substring(h, 1, 8), 16, 10) as long)"))
      .withColumn("h1", expr("cast(conv(substring(h, 9, 8), 16, 10) as long)"))
      .withColumn("h2", expr("cast(conv(substring(h, 17, 8), 16, 10) as long)"))
      .withColumn("h3", expr("cast(conv(substring(h, 25, 8), 16, 10) as long)"))
      .groupBy($"doc_id")
      .agg(sum(vote(1)).as("s1"),
        (2 to 32).map(j => sum(vote(j)).as(s"s$j")): _*)
    sums.select($"doc_id",
      (1 to 32).map(j => when(col(s"s$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** LSH candidate pairs (doc_a < doc_b), shared by d03 and d08: 4 bands
    * × 2 rows over the MinHash signature; docs sharing any band value are
    * candidates. One shuffle on the band value, pairs generated by the
    * ADAPTIVE router (see adaptiveBucketPairs): small buckets expand
    * in-row, hot buckets (maxLshBucket..dropLshBucket) go through the
    * salted lane, larger ones drop to the exact pass — no self-join on
    * the healthy path, so the minhash subtree runs once.
    */
  def lshCandidatePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = bandsOf(minhashSignatures(s, dir))
    adaptiveBucketPairs(bands, Seq("band", "bval"), $"doc_id",
      "d03_hot_buckets")
      .select(col("pa").as("doc_a"), col("pb").as("doc_b"))
      .distinct()
  }

  /** Connected-components labels over the LSH candidate graph: every doc
    * that appears in any candidate pair, labeled with the minimum doc_id
    * reachable from it (iterative min-label propagation; shared by d08
    * and d09). Per round: one key-partitioned join of the label set
    * against the symmetrized edge list + a min-aggregate; rounds = graph
    * diameter (shallow for near-dup clusters); each round
    * localCheckpoint()ed so lineage stays flat.
    */
  private val labelsCache =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  /** Drop the in-memory label memo. Bench/ScaleBench call this between
    * iterations to simulate a cold session. Since round 10 the
    * FactTable-backed label STORE deliberately survives this clear: a
    * cold session re-READS the persisted labels (one parquet scan)
    * rather than re-deriving them — the production amortization
    * VERDICT r9 #4 asked for. The one-time build cost is what the
    * first consumer (and d35's build phase) pays and measures.
    */
  def clearLabelsCache(): Unit = labelsCache.clear()

  /** Truncate lineage between propagation rounds. On a real cluster a
    * lost executor would force recomputing the whole iteration chain from
    * round 0 under `localCheckpoint` (blocks are executor-local), so when
    * a reliable checkpoint dir is configured we use `checkpoint()` (HDFS/
    * object-store backed, survives executor loss). Locally — no
    * checkpoint dir — `localCheckpoint` is the right trade: single JVM,
    * no replication target exists anyway.
    *
    * Invariant of the lazy local form: the first action over the
    * returned frame must compute EVERY partition (a count, a sum, a
    * store append). Until that action the frame still carries its full
    * lineage, and a partial first action (take, limit, isEmpty) makes
    * Spark run one more job for the missing partitions before the pin
    * holds — the extra driver-sequenced job the lazy form exists to
    * avoid.
    */
  private def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    // LAZY local checkpoint: the caller's next action (the per-round
    // convergence sum, a store append) materializes the blocks — an
    // eager pin here would run one extra driver-sequenced job per call,
    // and propagate's loop calls this every round (guide §5)
    else df.localCheckpoint(eager = false)

  /** Iterative min-label propagation over an UNDIRECTED pair list
    * (`doc_a`, `doc_b`): every node labeled with the minimum doc_id
    * reachable from it. The core CC loop shared by clusterLabels (full
    * graph) and d28 (contracted incremental graph). Per round: one
    * key-partitioned join of the label set against the symmetrized edge
    * list + a min-aggregate; rounds = graph diameter; each round
    * checkpointed so lineage stays flat.
    */
  def propagateMinLabels(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val edges = truncate(pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .unionAll(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"))))
      // evaluate the pair source once, not once per round
    var labels = truncate(edges.select($"src".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("canon")))
    // Convergence witness: sum(canon) is strictly monotone decreasing
    // until the fixpoint, so one scalar aggregate per round replaces
    // the previous join-and-isEmpty diff (halves the per-round jobs).
    // coalesce(.,0): sum over an empty label set is NULL — an empty
    // candidate graph (no near-dups in the corpus) must converge
    // immediately, not NPE.
    def canonSum(df: DataFrame): Long =
      df.agg(coalesce(sum($"canon"), lit(0L))).head().getLong(0)
    val maxRounds = 50
    var prevSum = canonSum(labels)
    var converged = prevSum == 0L // empty graph: already at fixpoint
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val nbrMin = edges.join(labels, edges("src") === labels("doc_id"))
        .groupBy($"dst").agg(min($"canon").as("nbr_min"))
      val hooked = labels.join(nbrMin, labels("doc_id") === nbrMin("dst"), "left")
        .select(labels("doc_id"),
          least($"canon", coalesce($"nbr_min", $"canon")).as("canon"))
      // Path halving (the union-find shortcut, Shiloach-Vishkin style):
      // jump every node's label to its LABEL'S label in the same round.
      // The fixpoint — min doc_id reachable, what the oracle's recursive
      // CTE states — is untouched; only the round count drops, from
      // O(graph diameter) to O(log diameter) checkpoint+sum job waves.
      // canon values are always node ids (labels start as the identity
      // and only ever take mins of node ids), so the self-join hits;
      // the coalesce guards the empty-frame edge anyway.
      val canonMap = hooked.select($"doc_id".as("cid"), $"canon".as("cc"))
      val next = truncate(hooked
        .join(canonMap, hooked("canon") === canonMap("cid"), "left")
        .select(hooked("doc_id"),
          least(hooked("canon"), coalesce($"cc", hooked("canon"))).as("canon")))
      val nextSum = canonSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      rounds += 1
    }
    if (sys.env.contains("SPARK_GRAFT_FACT_TIMING"))
      System.err.println(s"[labels] converged in $rounds rounds")
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"propagateMinLabels: hit the $maxRounds-round cap before convergence " +
          s"(graph diameter > $maxRounds); labels may be non-canonical")
    labels
  }

  def clusterLabels(s: SparkSession, dir: String): DataFrame =
    // Two-level materialization. Level 1: memoized per (application,
    // data dir) — the labels are a pure function of the corpus, and
    // d08/d09/c07/c17/d11/d17/d25/c13 all consume them. Level 2: a
    // FactTable-backed STORE (d19's contract applied to clusters —
    // VERDICT r9 #4). The store survives clearLabelsCache(), which
    // Bench/ScaleBench call to simulate a cold session: a cold consumer
    // pays one bucket-clustered parquet read instead of re-running
    // LSH + label propagation (40 s at ×100). This is the production
    // shape — cluster labels are an offline-build artifact amortized
    // across every downstream session, maintained incrementally via
    // d28's star contraction (d35 exercises that lifecycle end to end).
    // Keyed on (applicationId, corpus dir): a new context or corpus
    // always rebuilds; append(txnId=0) makes the build idempotent and
    // skips the computation entirely when the store already exists.
    labelsCache.getOrElseUpdate(
      (s.sparkContext.applicationId, dir), {
        val key = Integer.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(dir))
        val root = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_labels_${s.sparkContext.applicationId}_$key").toString
        val t = new graft.storage.FactTable(root, s)
        if (!t.snapshot().txns.contains(0L))
          t.append(propagateMinLabels(lshCandidatePairs(s, dir))
            .withColumn("date", to_date(lit("2024-01-01"))), 0)
        t.read().select(col("doc_id"), col("canon"))
      })

  /** Incremental dedup: flag every document of a NEW ingest `batch` that
    * near-duplicates the existing `old` corpus (both `(doc_id, text)`),
    * without ever pairing the corpus against itself. Candidates come from
    * MinHash band equality with the (small) batch band table BROADCAST —
    * the corpus side never shuffles — and are confirmed by exact shingle
    * Jaccard ≥ 0.5. Returns one row per batch doc: `(new_id, dup_of,
    * is_dup)` with `dup_of` = the smallest matching corpus id, NULL when
    * fresh. At 100 TB the corpus signatures are the persisted index
    * (FactTable) read instead of recomputed; the shape is otherwise
    * identical.
    */
  /** The d13/d19 ingest batch: exact copies (+1M), first-token-dropped
    * near copies (+2M), and reversed fresh docs (+3M) of `old`.
    */
  private def d13Batch(old: DataFrame): DataFrame =
    old.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(old.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          when(instr(col("text"), " ") > 0,
            expr("substring(text, instr(text, ' ') + 1)"))
            .otherwise(col("text")).as("text")))
      .unionByName(old.filter(col("doc_id") % 10 === 2)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          reverse(col("text")).as("text")))

  def incrementalDedup(old: DataFrame, batch: DataFrame): DataFrame =
    incrementalDedupFromIndex(
      bandsOf(sigOf(old)).withColumnRenamed("doc_id", "old_id"),
      shingled(old)
        .select(col("doc_id").as("old_id"), array_distinct(col("sh")).as("so")),
      batch)

  /** The index-consuming core of `incrementalDedup`: `oldBands`
    * `(old_id, band, bval)` and `oldSets` `(old_id, so)` are the corpus
    * MinHash index — recomputed by `incrementalDedup`, or READ from the
    * persisted index tables (d19) exactly as a 100 TB deployment would;
    * the dedup logic is one code path either way.
    */
  def incrementalDedupFromIndex(oldBands: DataFrame, oldSets: DataFrame,
      batch: DataFrame): DataFrame = {
    val newBands = bandsOf(sigOf(batch)).withColumnRenamed("doc_id", "new_id")
    val cand = oldBands.join(broadcast(newBands), Seq("band", "bval"))
      .select(col("new_id"), col("old_id")).distinct()
    val newSets = shingled(batch)
      .select(col("doc_id").as("new_id"), array_distinct(col("sh")).as("sn"))
    val confirmed = cand.join(oldSets, "old_id").join(newSets, "new_id")
      .withColumn("inter", size(array_intersect(col("sn"), col("so"))).cast("long"))
      .withColumn("uni",
        size(col("sn")).cast("long") + size(col("so")).cast("long") - col("inter"))
      .filter(col("uni") > 0 &&
        col("inter").cast("double") / col("uni").cast("double") >= 0.5)
      .groupBy(col("new_id")).agg(min(col("old_id")).as("dup_of"))
    batch.select(col("doc_id").as("new_id"))
      .join(confirmed, Seq("new_id"), "left")
      .select(col("new_id"), col("dup_of"), col("dup_of").isNotNull.as("is_dup"))
  }

  /** MinHash band index rows `(doc_id, band, bval)` for an arbitrary
    * `(doc_id, text)` batch — the rows a persisted band index stores
    * per document (public for the streaming ingest path).
    */
  def bandIndexOf(docs: DataFrame): DataFrame = bandsOf(sigOf(docs))

  /** Distinct shingle sets `(doc_id, so)` for an arbitrary batch — the
    * verification half of the persisted index.
    */
  def shingleSetsOf(docs: DataFrame): DataFrame =
    shingled(docs).select(col("doc_id"), array_distinct(col("sh")).as("so"))

  /** Sequential (streaming-shaped) near-dup fold: batch k dedups against
    * the index of SURVIVORS of batches 0..k-1 — exactly what the
    * `foreachBatch` ingest path (streaming/DedupStream) produces, in
    * batch form so the two can be asserted row-identical. Batch 0 seeds
    * the index whole; a batch-k doc flagged dup is NOT indexed (the
    * production rule — indexing dups would grow the index with garbage
    * and chain dup_of references). Within-batch dups are deliberately
    * not flagged here: that is the batch pass (d01/d03/d08), not the
    * cross-batch stream's job. Returns (new_id, batch, dup_of, is_dup).
    *
    * Scale: per batch, one broadcast of the BATCH's bands against the
    * big stored index (the d13/d19 core); survivors-only appends keep
    * index growth equal to unique-content growth.
    */
  def sequentialDedupDecisions(batches: Seq[DataFrame]): DataFrame = {
    require(batches.nonEmpty)
    val first = batches.head.select(col("doc_id").as("new_id"),
      lit(0).as("batch"), lit(null).cast("long").as("dup_of"),
      lit(false).as("is_dup"))
    var idxBands = bandIndexOf(batches.head)
    var idxSets = shingleSetsOf(batches.head)
    var out = first
    batches.tail.zipWithIndex.foreach { case (b, i) =>
      val dec = incrementalDedupFromIndex(
        idxBands.withColumnRenamed("doc_id", "old_id"),
        idxSets.withColumnRenamed("doc_id", "old_id"), b)
        .select(col("new_id"), lit(i + 1).as("batch"), col("dup_of"),
          col("is_dup"))
      // fold state stays small at test SF; localCheckpoint would flatten
      // lineage on a long stream (the streaming path has no such chain —
      // its index lives in tables)
      val survivors = b.join(
        dec.filter(!col("is_dup")).select(col("new_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      idxBands = idxBands.unionByName(bandIndexOf(survivors))
      idxSets = idxSets.unionByName(shingleSetsOf(survivors))
      out = out.unionByName(dec)
    }
    out
  }

  /** Paragraph-level exact substring dedup over `(doc_id, text)`: cut each
    * document into non-overlapping 10-token paragraphs, drop every
    * paragraph that already occurred at a lexicographically earlier
    * (doc_id, pos) anywhere in the corpus, and report per document the
    * paragraph counts plus an md5 fingerprint of the reassembled clean
    * text. The keep/drop decision is min(struct(doc_id, pos)) per
    * paragraph HASH — partial-aggregable, so a boilerplate paragraph in
    * 10% of a 100 TB corpus combines map-side instead of collapsing into
    * one unsplittable window partition; the join back is AQE-skew-
    * splittable and groups on md5(para), never raw text.
    */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val paras = docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), posexplode_outer(expr(
        """transform(sequence(0, (size(toks) + 9) div 10 - 1),
             p -> concat_ws(' ', slice(toks, p * 10 + 1, 10)))"""))
        .as(Seq("pos", "para")))
      .withColumn("fp", md5(col("para")))
    val firsts = paras.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    paras.join(firsts, "fp")
      .withColumn("dropped",
        !(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        count(when(col("dropped"), 1)).as("n_dropped"),
        sort_array(collect_list(when(!col("dropped"), struct(col("pos"), col("para")))))
          .as("kept"))
      .select(col("doc_id"), col("n_paras"), col("n_dropped"),
        md5(concat_ws(" ", expr("transform(kept, x -> x.para)")))
          .as("clean_fp"))
  }

  /** The same pairs as an oracle CTE chain ending in `pairs(doc_a, doc_b)`. */
  private val lshPairsSqlCore: String = s"""$minhashSqlCore,
        bands AS (
          SELECT doc_id, 0 AS band, mh0 || mh1 AS bval FROM sig
          UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
          UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
          UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig),
        bsized AS (
          SELECT band, bval FROM bands WHERE bval IS NOT NULL
          GROUP BY band, bval
          HAVING COUNT(*) > 1 AND COUNT(*) <= $dropLshBucket),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
          JOIN bsized s ON s.band = a.band AND s.bval = a.bval
          WHERE a.bval IS NOT NULL)"""

  /** The shared recursive-CTE oracle computing the same `labels(doc_id,
    * canon)` fixpoint as `clusterLabels` (extends `lshPairsSqlCore`).
    */
  private val labelsSqlCore: String =
    s"""${lshPairsSqlCore.replaceFirst("WITH corpus", "WITH RECURSIVE corpus")},
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach(id, r) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
        labels AS (SELECT id AS doc_id, MIN(r) AS canon FROM reach GROUP BY id)"""

  /** d13/d19 shared oracle: the incremental-dedup expected output is
    * identical whether the corpus index is recomputed or read from
    * storage — one SQL string keeps the contract in one place.
    */
  private lazy val incrementalDedupOracleSql: String = s"""
        WITH oldc AS (SELECT doc_id, text FROM documents),
        newc AS (
          SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id + 2000000,
                 CASE WHEN instr(text, ' ') > 0
                      THEN substr(text, instr(text, ' ') + 1) ELSE text END
          FROM documents WHERE doc_id % 10 = 1
          UNION ALL
          SELECT doc_id + 3000000, reverse(text)
          FROM documents WHERE doc_id % 10 = 2),
        ${sigSqlOver("oldc", "o")},
        ${sigSqlOver("newc", "n")},
        bands_o AS ${bandsSqlOver("sig_o")},
        bands_n AS ${bandsSqlOver("sig_n")},
        cand AS (
          SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
          FROM bands_n n JOIN bands_o o ON n.band = o.band AND n.bval = o.bval
          WHERE n.bval IS NOT NULL),
        sets_o AS (SELECT doc_id AS old_id, list_distinct(sh) AS so FROM shi_o),
        sets_n AS (SELECT doc_id AS new_id, list_distinct(sh) AS sn FROM shi_n),
        conf AS (
          SELECT new_id, MIN(old_id) AS dup_of FROM (
            SELECT c.new_id, c.old_id,
                   CAST(len(list_intersect(sn, so)) AS BIGINT) AS inter,
                   CAST(len(sn) + len(so) - len(list_intersect(sn, so)) AS BIGINT) AS uni
            FROM cand c JOIN sets_n USING (new_id) JOIN sets_o USING (old_id)) x
          WHERE uni > 0 AND CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5
          GROUP BY new_id)
        SELECT n.doc_id AS new_id, c.dup_of, c.dup_of IS NOT NULL AS is_dup
        FROM newc n LEFT JOIN conf c ON n.doc_id = c.new_id
        ORDER BY new_id"""

  /** d20 oracle: the 3-batch sequential fold spelled out — batch 1
    * dedups against batch 0, batch 2 against batch 0 ∪ batch-1
    * survivors. Jaccard confirm and band probe are verbatim the
    * d13/d19 core's.
    */
  private lazy val streamingDedupOracleSql: String = {
    def confSql(name: String, cand: String, setsNew: String,
        setsOld: String): String = s"""
        $name AS (
          SELECT new_id, MIN(old_id) AS dup_of FROM (
            SELECT c.new_id, c.old_id,
                   CAST(len(list_intersect(sn.so, so.so)) AS BIGINT) AS inter,
                   CAST(len(sn.so) + len(so.so)
                        - len(list_intersect(sn.so, so.so)) AS BIGINT) AS uni
            FROM $cand c
            JOIN $setsNew sn ON c.new_id = sn.doc_id
            JOIN $setsOld so ON c.old_id = so.doc_id) x
          WHERE uni > 0 AND CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5
          GROUP BY new_id)"""
    s"""
        WITH corpus AS ($corpusSql),
        b0c AS (SELECT doc_id, text FROM corpus WHERE doc_id % 3 = 0),
        b1c AS (SELECT doc_id, text FROM corpus WHERE doc_id % 3 = 1),
        b2c AS (SELECT doc_id, text FROM corpus WHERE doc_id % 3 = 2),
        ${sigSqlOver("b0c", "b0")},
        ${sigSqlOver("b1c", "b1")},
        ${sigSqlOver("b2c", "b2")},
        bands_b0 AS ${bandsSqlOver("sig_b0")},
        bands_b1 AS ${bandsSqlOver("sig_b1")},
        bands_b2 AS ${bandsSqlOver("sig_b2")},
        sets_b0 AS (SELECT doc_id, list_distinct(sh) AS so FROM shi_b0),
        sets_b1 AS (SELECT doc_id, list_distinct(sh) AS so FROM shi_b1),
        sets_b2 AS (SELECT doc_id, list_distinct(sh) AS so FROM shi_b2),
        cand1 AS (
          SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
          FROM bands_b1 n JOIN bands_b0 o
            ON n.band = o.band AND n.bval = o.bval
          WHERE n.bval IS NOT NULL),
        ${confSql("conf1", "cand1", "sets_b1", "sets_b0")},
        idx2b AS (SELECT * FROM bands_b0
                  UNION ALL SELECT * FROM bands_b1
                  WHERE doc_id NOT IN (SELECT new_id FROM conf1)),
        idx2s AS (SELECT * FROM sets_b0
                  UNION ALL SELECT * FROM sets_b1
                  WHERE doc_id NOT IN (SELECT new_id FROM conf1)),
        cand2 AS (
          SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
          FROM bands_b2 n JOIN idx2b o
            ON n.band = o.band AND n.bval = o.bval
          WHERE n.bval IS NOT NULL),
        ${confSql("conf2", "cand2", "sets_b2", "idx2s")}
        SELECT doc_id AS new_id, 0 AS batch,
               CAST(NULL AS BIGINT) AS dup_of, FALSE AS is_dup FROM b0c
        UNION ALL
        SELECT n.doc_id, 1, c.dup_of, c.dup_of IS NOT NULL
        FROM b1c n LEFT JOIN conf1 c ON n.doc_id = c.new_id
        UNION ALL
        SELECT n.doc_id, 2, c.dup_of, c.dup_of IS NOT NULL
        FROM b2c n LEFT JOIN conf2 c ON n.doc_id = c.new_id
        ORDER BY new_id"""
  }

  /** Core of d29 (and its DedupSpec edge harness): per-doc duplicate
    * substring spans over (doc_id, text) rows. A token position is
    * duplicated iff its L-token window occurs in ≥2 distinct docs and
    * this doc is not the window's min-doc_id owner; flagged starts merge
    * into maximal spans (gaps-and-islands). Returns one row per doc with
    * ≥1 span: (doc_id, n_spans, removed_tokens, n_tokens), doc_id-sorted.
    * See the d29 QueryDef scaladoc for the scale analysis.
    */
  /** Flagged duplicate L-token window starts: (doc_id, n, pos) rows where
    * the window at `pos` occurs in ≥2 distinct docs and this doc is not
    * its min-doc_id owner. Shared core of d29 (span report) and c14
    * (scrubbed rewrite) — see the d29 QueryDef scaladoc for why ownership
    * is a gram-partition window (single kernel evaluation, join-free).
    */
  /** (doc_id, text) → one row per L-token rolling window: (doc_id, n,
    * pos, g) with g = md5 of the space-joined window. The shared gram
    * materialization of d29/c14/d30.
    */
  def gramsOf(docs: DataFrame, L: Int): DataFrame =
    docs.withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), size(col("toks")).as("n"), posexplode(expr(
        s"""CASE WHEN size(toks) >= $L
             THEN transform(sequence(0, size(toks) - $L),
                    i -> md5(array_join(slice(toks, i + 1, $L), ' ')))
             ELSE array() END""")).as(Seq("pos", "g")))

  def duplicateWindows(docs: DataFrame, L: Int = 8): DataFrame = {
    val wG = Window.partitionBy(col("g"))
    gramsOf(docs, L)
      .withColumn("owner", min(col("doc_id")).over(wG))
      .withColumn("mxdoc", max(col("doc_id")).over(wG))
      .filter(col("mxdoc") =!= col("owner") && col("doc_id") =!= col("owner"))
      .select(col("doc_id"), col("n"), col("pos"))
  }

  /** Flagged window starts (doc_id, n, pos) → merged maximal covered
    * intervals, one row per island: (doc_id, n, island, s, e2). The
    * gaps-and-islands core shared by d29/d30 (span report tail) and c14
    * (interval-complement rewrite). Window partitions are per-doc, so
    * partition size is bounded by doc length at any corpus size.
    */
  def mergedSpanIntervals(flagged: DataFrame, L: Int): DataFrame = {
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .select(col("doc_id"), col("n"), col("pos"), (col("pos") + L).as("e"))
      .withColumn("pmax", max(col("e")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isNew",
        when(col("pmax").isNull || col("pos") > col("pmax"), 1).otherwise(0))
      .withColumn("island", sum(col("isNew")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("n"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e2"))
  }

  /** Flagged window starts (doc_id, n, pos) → per-doc maximal-span
    * summary (the gaps-and-islands tail shared by d29 and d30).
    */
  def spansFromFlagged(flagged: DataFrame, L: Int): DataFrame = {
    mergedSpanIntervals(flagged, L)
      .groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("n_spans"),
        sum((col("e2") - col("s")).cast("long")).as("removed_tokens"))
      .select(col("doc_id"), col("n_spans"), col("removed_tokens"),
        col("n").cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  def substringSpans(docs: DataFrame, L: Int = 8): DataFrame =
    spansFromFlagged(duplicateWindows(docs, L), L)

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Exact dedup: group by md5(text) — the shuffle key is 32 bytes no
    // matter how large the document is.
    QueryDef(
      "d01_exact_dedup",
      (s, dir) => {
        import s.implicits._
        corpus(s, dir)
          .groupBy(md5($"text").as("fp"))
          .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
          .filter($"n_copies" > 1)
          .select($"keeper", $"n_copies")
          .orderBy($"keeper")
      },
      Some(s"""
        WITH corpus AS ($corpusSql)
        SELECT keeper, n_copies FROM (
          SELECT md5(text) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
          FROM corpus GROUP BY md5(text)) t
        WHERE n_copies > 1 ORDER BY keeper"""),
      doc = "exact dedup via hash-groupBy"),

    // ------------------------------------------------------------------
    // MinHash signatures (8 permutations, md5-salted min over 3-shingles).
    QueryDef(
      "d02_minhash_signatures",
      (s, dir) => minhashSignatures(s, dir).orderBy(col("doc_id")),
      Some(s"""$minhashSqlCore
        SELECT * FROM sig ORDER BY doc_id"""),
      doc = "MinHash signature computation"),

    // ------------------------------------------------------------------
    // LSH candidate pairs: 4 bands × 2 rows; docs sharing any band are
    // candidates. Join key = band value (fixed width), never the text.
    QueryDef(
      "d03_lsh_candidate_pairs",
      (s, dir) => {
        import s.implicits._
        lshCandidatePairs(s, dir).orderBy($"doc_a", $"doc_b")
      },
      Some(s"""$lshPairsSqlCore
        SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b"""),
      doc = "MinHash-LSH band join for near-dup candidates"),

    // ------------------------------------------------------------------
    // Near-dup CLUSTER RESOLUTION: connected components over the LSH
    // candidate graph, each doc labeled with the minimum doc_id reachable
    // from it (the canonical keeper) plus its cluster size — the step
    // that turns pairwise candidates into "keep one per cluster" for a
    // training-data pipeline.
    //
    // Scale: iterative min-label propagation — per round one join of the
    // label set against the (symmetrized) edge list and a min-aggregate,
    // all key-partitioned shuffles on long ids; rounds = graph diameter
    // (near-dup clusters are shallow — copies of a common source), each
    // round localCheckpoint()ed so lineage stays flat. This is the
    // standard large-graph CC recipe (GraphX/Pregel-style); the oracle
    // computes the same fixpoint with a recursive CTE.
    QueryDef(
      "d08_dedup_clusters",
      (s, dir) => {
        import s.implicits._
        val labels = clusterLabels(s, dir)
        val sizes = labels.groupBy($"canon").agg(count(lit(1)).as("cluster_size"))
        labels.join(sizes, "canon")
          .select($"doc_id", $"canon", $"cluster_size")
          .orderBy($"doc_id")
      },
      Some(s"""$labelsSqlCore,
        sizes AS (SELECT canon, CAST(COUNT(*) AS BIGINT) AS cluster_size
                  FROM labels GROUP BY canon)
        SELECT l.doc_id, l.canon, s.cluster_size
        FROM labels l JOIN sizes s ON l.canon = s.canon
        ORDER BY l.doc_id"""),
      doc = "connected-components cluster resolution over LSH candidates"),

    // ------------------------------------------------------------------
    // d09: SURVIVOR SELECTION — the step after d08 that actually emits a
    // deduplicated corpus: keep the canonical (minimum-id) doc of every
    // near-dup cluster plus all unclustered docs, drop the rest; report
    // kept/dropped counts per corpus origin stratum. In the derived
    // corpus, originals are always their cluster's minimum id, so the
    // keep-rule provably retains one representative per cluster.
    // Scale: one left join of the corpus against the (much smaller)
    // label set on a long key + a partial-aggregated rollup — no new
    // shuffle shapes beyond d08.
    QueryDef(
      "d09_dedup_survivors",
      (s, dir) => {
        import s.implicits._
        val labels = clusterLabels(s, dir)
        corpus(s, dir).join(labels, Seq("doc_id"), "left")
          .withColumn("kept", $"canon".isNull || $"canon" === $"doc_id")
          .withColumn("origin",
            when($"doc_id" >= 2000000L, "near_copy")
              .when($"doc_id" >= 1000000L, "exact_copy")
              .otherwise("original"))
          .groupBy($"origin")
          .agg(count(lit(1)).as("n_docs"),
            count(when($"kept", 1)).as("n_kept"),
            count(when(!$"kept", 1)).as("n_dropped"))
          .orderBy($"origin")
      },
      Some(s"""$labelsSqlCore,
        tagged AS (
          SELECT c.doc_id,
                 CASE WHEN c.doc_id >= 2000000 THEN 'near_copy'
                      WHEN c.doc_id >= 1000000 THEN 'exact_copy'
                      ELSE 'original' END AS origin,
                 (l.canon IS NULL OR l.canon = c.doc_id) AS kept
          FROM corpus c LEFT JOIN labels l ON c.doc_id = l.doc_id)
        SELECT origin, COUNT(*) AS n_docs,
               COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
               COUNT(CASE WHEN NOT kept THEN 1 END) AS n_dropped
        FROM tagged GROUP BY origin ORDER BY origin"""),
      doc = "dedup survivor selection: canonical-per-cluster corpus emission"),

    // ------------------------------------------------------------------
    // SimHash: 32-bit signature per document.
    QueryDef(
      "d04_simhash",
      (s, dir) => simhashes(s, dir).orderBy(col("doc_id")),
      Some {
        val terms = (1 to 32).map { j =>
          s"""CASE WHEN 2 * len(list_filter(toks, t -> substr(md5(t), $j, 1) >= '8'))
                        > len(toks) THEN ${1L << (j - 1)} ELSE 0 END"""
        }.mkString(" + ")
        s"""
        WITH corpus AS ($corpusSql)
        SELECT doc_id, CAST($terms AS BIGINT) AS simhash
        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
              FROM corpus) t
        ORDER BY doc_id"""
      },
      doc = "SimHash 32-bit signatures"),

    // ------------------------------------------------------------------
    // n-gram Jaccard near-dup pairs via inverted shingle index with a
    // document-frequency cap on hot shingles.
    QueryDef(
      "d05_ngram_jaccard_pairs",
      (s, dir) => {
        import s.implicits._
        sharedShinglePairs(s, dir, "d05_hot_buckets")
          .withColumn("jaccard",
            $"shared".cast("double") / ($"n_a" + $"n_b" - $"shared"))
          .filter($"jaccard" >= 0.5)
          .select($"doc_a", $"doc_b", $"shared", round($"jaccard", 6).as("jaccard"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some(s"""$sharedShinglePairsSql
        SELECT doc_a, doc_b, shared,
               round(CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared), 6) AS jaccard
        FROM pairs
        JOIN counts ca ON ca.doc_id = doc_a
        JOIN counts cb ON cb.doc_id = doc_b
        WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.5
        ORDER BY doc_a, doc_b"""),
      doc = "n-gram Jaccard near-dup pairs (inverted index + DF cap)"),

    // ------------------------------------------------------------------
    // Embedding-cosine near-dup: candidates bucketed by the sign pattern
    // of the first 8 components (a deterministic random-hyperplane LSH —
    // coordinate axes as hyperplanes), exact decimal cosine within each
    // bucket. The corpus plants scaled copies (×2 per 25th vector), which
    // are cosine-1.0 duplicates landing in the same sign bucket.
    QueryDef(
      "d06_embedding_neardup",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")
        val copies = emb.filter($"vec_id" % 25 === 0)
          .select(($"vec_id" + 1000000L).as("vec_id"),
            expr("transform(embedding, x -> x * CAST(2.0 AS FLOAT))").as("embedding"))
        import graft.functions.VectorFunctions.dotExact
        // self-norms are per-VECTOR facts — computed once before the
        // self-join (the pair loop then does 1 exact dot, not 3),
        // identical doubles to the inline cosine
        val bucketed = emb.unionByName(copies)
          .withColumn("bucket", concat(
            (1 to 8).map(j => when(element_at($"embedding", j) >= 0.0f, lit("1"))
              .otherwise(lit("0"))): _*))
          .withColumn("norm", sqrt(dotExact("embedding", "embedding")))
        val a = bucketed.select($"bucket", $"vec_id".as("id_a"),
          $"embedding".as("ea"), $"norm".as("na"))
        val b = bucketed.select($"bucket", $"vec_id".as("id_b"),
          $"embedding".as("eb"), $"norm".as("nb"))
        // two-phase scoring (the d16 pattern): the codegen'd double
        // vec_dot prefilters the within-bucket pair set ~60× cheaper per
        // pair; only near-threshold survivors run the decimal-exact
        // kernel. Identical results — double-vs-decimal discrepancy
        // ≤ ~1e-12 against 5e-4 of slack below the 0.999 cut.
        graft.plans.VectorExpressions.register(s)
        a.join(b, Seq("bucket"))
          .filter($"id_a" < $"id_b")
          .filter(expr("vec_dot(ea, eb)") / ($"na" * $"nb") >= 0.9985)
          .select($"id_a", $"id_b",
            round(dotExact("ea", "eb") / ($"na" * $"nb"), 9).as("cosine"))
          .filter($"cosine" >= 0.999)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000,
                 list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
          FROM embeddings WHERE vec_id % 25 = 0),
        bucketed AS (
          SELECT vec_id, embedding,
                 CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
                 CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
                 CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
                 CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
                 CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
                 CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
                 CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
                 CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END AS bucket
          FROM corpus),
        cand AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 a.embedding AS ea, b.embedding AS eb
          FROM bucketed a JOIN bucketed b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        flat AS (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM cand),
        dots AS (SELECT id_a, id_b,
                        ${graft.operators.OracleFragments.oCosineSums("nb")}
                 FROM flat GROUP BY id_a, id_b)
        SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 9) AS cosine
        FROM dots
        WHERE round(dot / (sqrt(na) * sqrt(nb)), 9) >= 0.999
        ORDER BY id_a, id_b"""),
      doc = "embedding-cosine near-dup via sign-bucket LSH + exact cosine"),

    // ------------------------------------------------------------------
    // SimHash near-dup pairs: hamming distance ≤ 2 over the 32-bit
    // signatures. Pigeonhole banding (11+11+10 bits): ≤2 differing bits
    // leave at least one of 3 bands identical, so banding finds every
    // qualifying pair without an all-pairs join; bit_count(xor) then
    // filters exactly. Bucket-size cap bounds quadratic pair generation.
    QueryDef(
      "d07_simhash_near_pairs",
      (s, dir) => {
        import s.implicits._
        val sims = simhashes(s, dir)
        val bands = sims.select($"doc_id", $"simhash", posexplode(array(
          ($"simhash" % 2048).as("b0"),
          (expr("simhash div 2048") % 2048).as("b1"),
          expr("simhash div 4194304").as("b2"))).as(Seq("band", "bval")))
        val pairs = adaptiveBucketPairs(bands, Seq("band", "bval"),
          struct($"doc_id", $"simhash"), "d07_hot_buckets")
          .select($"pa.doc_id".as("doc_a"), $"pb.doc_id".as("doc_b"),
            bit_count($"pa.simhash".bitwiseXOR($"pb.simhash"))
              .cast("long").as("hamming"))
          .distinct()
        pairs.filter($"hamming" <= 2)
          .orderBy($"doc_a", $"doc_b")
      },
      Some(s"""
        WITH corpus AS ($corpusSql),
        sims AS (SELECT doc_id, CAST(${(1 to 32).map { j =>
          s"""CASE WHEN 2 * len(list_filter(toks, t -> substr(md5(t), $j, 1) >= '8'))
                        > len(toks) THEN ${1L << (j - 1)} ELSE 0 END"""
        }.mkString(" + ")} AS BIGINT) AS simhash
                 FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                       FROM corpus) t),
        bands AS (
          SELECT doc_id, simhash, 0 AS band, simhash % 2048 AS bval FROM sims
          UNION ALL SELECT doc_id, simhash, 1, (simhash // 2048) % 2048 FROM sims
          UNION ALL SELECT doc_id, simhash, 2, simhash // 4194304 FROM sims),
        sized AS (SELECT band, bval FROM bands GROUP BY band, bval
                  HAVING COUNT(*) > 1 AND COUNT(*) <= $dropLshBucket),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM bands a
          JOIN bands b ON a.band = b.band AND a.bval = b.bval
                      AND a.doc_id < b.doc_id
          JOIN sized s ON s.band = a.band AND s.bval = a.bval)
        SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
        FROM pairs WHERE hamming <= 2
        ORDER BY doc_a, doc_b"""),
      doc = "SimHash hamming≤2 near-dup pairs via pigeonhole banding + bit ops"),

    // ------------------------------------------------------------------
    // d10: benchmark decontamination — flag training documents sharing
    // any word 5-gram with a held-out "benchmark" set (docs with
    // doc_id % 97 == 0 stand in for it; production uses 13-grams against
    // real eval sets, same plan shape). Scale: the benchmark shingle set
    // is tiny (eval benchmarks are MBs against a 100 TB corpus), so it
    // BROADCASTS — the corpus side is a map-only shingle expansion + one
    // broadcast join + per-doc count; the corpus is never shuffled.
    QueryDef(
      "d10_decontaminate",
      (s, dir) => {
        import s.implicits._
        val sh = Tables.load(s, dir, "documents")
          .withColumn("toks", tokens($"text"))
          .withColumn("sh", array_distinct(shingles("toks", 5)))
          .select($"doc_id", $"source", $"sh")
        val bench = sh.filter($"doc_id" % 97 === 0)
          .select(explode_outer($"sh").as("shingle"))
          .filter($"shingle".isNotNull).distinct()
        val hits = sh.filter($"doc_id" % 97 =!= 0)
          .select($"doc_id", explode_outer($"sh").as("shingle"))
          .filter($"shingle".isNotNull)
          .join(broadcast(bench), Seq("shingle"))
          .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        sh.filter($"doc_id" % 97 =!= 0)
          .select($"doc_id", $"source")
          .join(hits, Seq("doc_id"), "left")
          .select($"doc_id", $"source",
            coalesce($"n_shared", lit(0L)).as("n_shared_shingles"),
            $"n_shared".isNotNull.as("contaminated"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, source,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id, source,
                 list_distinct(CASE WHEN len(toks) >= 5
                   THEN list_transform(range(1, len(toks) - 3),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            || ' ' || toks[i+3] || ' ' || toks[i+4])
                   ELSE [] END) AS sh
          FROM tok),
        bench AS (
          SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 97 = 0),
        cand AS (
          SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id % 97 <> 0),
        hits AS (
          SELECT doc_id, COUNT(*) AS n_shared
          FROM cand JOIN bench USING (shingle) GROUP BY doc_id)
        SELECT s.doc_id, s.source,
               COALESCE(h.n_shared, 0) AS n_shared_shingles,
               h.n_shared IS NOT NULL AS contaminated
        FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
        WHERE s.doc_id % 97 <> 0
        ORDER BY s.doc_id"""),
      doc = "benchmark decontamination: broadcast shingle-overlap flags"),

    // ------------------------------------------------------------------
    // d11: leakage-safe train/val/test split — the assignment step after
    // dedup: hash-split on the CLUSTER representative (canon label from
    // d08, the doc itself when unclustered), so near-duplicates can
    // never straddle a split boundary (the classic eval-leakage bug of
    // hashing raw doc_ids). Split = first md5 hex byte of the key:
    // < 'c0' train (192/256), < 'e0' val (32/256), else test. The
    // no_leakage column is a global witness — max distinct splits per
    // cluster — computed once and broadcast; the oracle asserts TRUE.
    QueryDef(
      "d11_leakage_safe_split",
      (s, dir) => {
        import s.implicits._
        val labels = clusterLabels(s, dir)
        val keyed = corpus(s, dir).join(labels, Seq("doc_id"), "left")
          .withColumn("key", coalesce($"canon", $"doc_id"))
          .withColumn("hb", substring(md5($"key".cast("string")), 1, 2))
          .withColumn("split",
            when($"hb" < "c0", "train").when($"hb" < "e0", "val")
              .otherwise("test"))
        val witness = keyed.filter($"canon".isNotNull)
          .groupBy($"canon").agg(countDistinct($"split").as("nsp"))
          .agg(coalesce(max($"nsp"), lit(1L)).as("max_splits_per_cluster"))
        keyed.groupBy($"split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct($"key").as("n_keys"),
            count($"canon").as("n_clustered_docs"))
          .crossJoin(broadcast(witness))
          .select($"split", $"n_docs", $"n_keys", $"n_clustered_docs",
            ($"max_splits_per_cluster" === 1L).as("no_leakage"))
          .orderBy($"split")
      },
      Some(s"""$labelsSqlCore,
        keyed AS (
          SELECT c.doc_id, l.canon,
                 COALESCE(l.canon, c.doc_id) AS key,
                 CASE WHEN substr(md5(CAST(COALESCE(l.canon, c.doc_id) AS VARCHAR)), 1, 2) < 'c0'
                      THEN 'train'
                      WHEN substr(md5(CAST(COALESCE(l.canon, c.doc_id) AS VARCHAR)), 1, 2) < 'e0'
                      THEN 'val' ELSE 'test' END AS split
          FROM corpus c LEFT JOIN labels l ON c.doc_id = l.doc_id)
        SELECT split, COUNT(*) AS n_docs,
               COUNT(DISTINCT key) AS n_keys,
               COUNT(canon) AS n_clustered_docs,
               TRUE AS no_leakage
        FROM keyed GROUP BY split ORDER BY split"""),
      doc = "leakage-safe split: hash on the dedup-cluster representative"),

    // ------------------------------------------------------------------
    // d12: URL canonicalization + dedup — the crawl-side dedup stage that
    // runs BEFORE any content hashing: strip tracking query strings,
    // lowercase the host, drop trailing slashes, then group by the
    // canonical URL. The corpus plants deterministic raw-URL variants
    // (same trick as t12's planted PII): host case on doc_id%4, trailing
    // slash on %5, utm query string on %3 — so normalization provably
    // collapses them at any SF. The normalize chain is map-only regexp
    // arithmetic; the only exchange is the canonical-URL groupBy (hash
    // partial-agg), which is exactly how a 100 TB crawl frontier dedups.
    QueryDef(
      "d12_url_dedup",
      (s, dir) => {
        import s.implicits._
        val raw = Tables.load(s, dir, "documents")
          .withColumn("host",
            concat(lit("www.example"), ($"doc_id" % 7).cast("string"),
              lit(".com")))
          .withColumn("raw_url", concat(
            lit("https://"),
            when($"doc_id" % 4 === 0, upper($"host")).otherwise($"host"),
            lit("/p/"), ($"doc_id" % 50).cast("string"),
            when($"doc_id" % 5 === 0, lit("/")).otherwise(lit("")),
            when($"doc_id" % 3 === 0,
              concat(lit("?utm_source=feed&ref="), $"doc_id".cast("string")))
              .otherwise(lit(""))))
          .withColumn("canonical_url",
            regexp_replace(regexp_replace(lower($"raw_url"),
              "\\?.*$", ""), "/$", ""))
        raw.groupBy($"canonical_url")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct($"raw_url").as("n_raw_variants"),
            min($"doc_id").as("first_doc_id"))
          .orderBy($"canonical_url")
      },
      Some("""
        WITH raw AS (
          SELECT doc_id,
                 'https://'
                 || CASE WHEN doc_id % 4 = 0
                         THEN upper('www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com')
                         ELSE 'www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com' END
                 || '/p/' || CAST(doc_id % 50 AS VARCHAR)
                 || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
                 || CASE WHEN doc_id % 3 = 0
                         THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
                         ELSE '' END AS raw_url
          FROM documents)
        SELECT regexp_replace(regexp_replace(lower(raw_url), '\?.*$', ''),
                              '/$', '') AS canonical_url,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT raw_url) AS n_raw_variants,
               MIN(doc_id) AS first_doc_id
        FROM raw
        GROUP BY canonical_url ORDER BY canonical_url"""),
      doc = "URL canonicalization + dedup: map-only normalize, one hash agg"),

    // ------------------------------------------------------------------
    // d13: incremental dedup — the shape every production pipeline
    // actually runs: a NEW ingest batch checked against the EXISTING
    // corpus's MinHash index, never re-pairing the corpus against itself.
    // The batch plants exact copies (%10==0), near copies (%10==1, first
    // token dropped) and genuinely-fresh docs (%10==2, reversed text →
    // disjoint shingles). Band-matching candidates are confirmed with
    // exact shingle Jaccard ≥ 0.5; every batch doc reports (dup_of,
    // is_dup).
    //
    // Scale shape: the corpus-side signature table is the persisted index
    // (at 100 TB it lives in the FactTable log and is read, not
    // recomputed); the daily batch is orders of magnitude smaller, so its
    // band table is BROADCAST — the corpus never shuffles for candidate
    // generation. The Jaccard confirm joins shingle sets only for
    // candidate doc ids (AQE broadcasts the candidate list); confirmed
    // matches collapse to min(old_id) per batch doc.
    QueryDef(
      "d13_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val old = Tables.load(s, dir, "documents").select($"doc_id", $"text")
        incrementalDedup(old, d13Batch(old)).orderBy($"new_id")
      },
      Some(incrementalDedupOracleSql),
      doc = "incremental dedup: new batch vs corpus MinHash index, Jaccard confirm"),

    // ------------------------------------------------------------------
    // d14: paragraph-level exact substring dedup (the Lee et al. 2021
    // "Deduplicating Training Data" pass at paragraph granularity, the
    // RefinedWeb/CCNet treatment): documents are cut into non-overlapping
    // 10-token paragraphs; every paragraph that already occurred earlier
    // in the corpus — (doc_id, pos)-lexicographic "first occurrence keeps
    // it" — is dropped, and each document reports its reassembled clean
    // text fingerprint. The derived dedup corpus guarantees repeated
    // paragraphs (exact + near copies).
    //
    // Scale shape: keep/drop is decided by min(struct(doc_id, pos)) per
    // paragraph HASH — a partial-aggregable groupBy (map-side combine),
    // NOT a row_number window, because a boilerplate paragraph occurring
    // in 10% of a 100 TB corpus would make one window partition hold
    // billions of rows (windows can't split a key; aggregates combine).
    // The join back is AQE-skew-splittable. Grouping is on md5(para),
    // never the raw paragraph (narrow shuffle rows — d05's lesson).
    QueryDef(
      "d14_paragraph_dedup",
      (s, dir) => {
        import s.implicits._
        paragraphDedup(corpus(s, dir)).orderBy($"doc_id")
      },
      Some(s"""
        WITH corpus AS ($corpusSql),
        tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM corpus),
        para AS (
          SELECT doc_id, CAST(k.k AS INTEGER) AS pos,
                 array_to_string(list_slice(toks, CAST(k.k * 10 + 1 AS INTEGER),
                                            CAST(k.k * 10 + 10 AS INTEGER)), ' ') AS para
          FROM tok, unnest(range(0, (len(toks) + 9) // 10)) AS k(k)),
        r AS (SELECT doc_id, pos, para,
                     row_number() OVER (PARTITION BY md5(para)
                                        ORDER BY doc_id, pos) AS rn
              FROM para)
        SELECT doc_id, COUNT(*) AS n_paras,
               COUNT(CASE WHEN rn > 1 THEN 1 END) AS n_dropped,
               md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN para END,
                                       ' ' ORDER BY pos), '')) AS clean_fp
        FROM r GROUP BY doc_id ORDER BY doc_id"""),
      doc = "paragraph-level exact substring dedup: first occurrence wins"),

    // ------------------------------------------------------------------
    // d15: containment near-dup pairs — the asymmetric case symmetric
    // Jaccard misses: a short document embedded inside a longer one (wire
    // stories in news pages, quoted posts, licence headers) has tiny
    // Jaccard but containment |A∩B| / min(|A|,|B|) ≈ 1. The corpus plants
    // fragments (first 15 tokens of every %7==3 doc) that d05's 0.5
    // Jaccard threshold would never pair with their source. Same
    // inverted-index + DF-cap skeleton as d05 (one shuffle on the md5'd
    // shingle, pairs inside capped posting lists, map-side |A|/|B|);
    // only the final scoring differs: shared / min(n_a, n_b) ≥ 0.9, the
    // smaller-shingle-set side reported as the contained document.
    QueryDef(
      "d15_containment_pairs",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
        val frags = docs.filter($"doc_id" % 7 === 3)
          .withColumn("toks", tokens($"text"))
          .select(($"doc_id" + 4000000L).as("doc_id"),
            concat_ws(" ", slice($"toks", 1, 15)).as("text"))
        val sh = docs.unionByName(frags)
          .withColumn("toks", tokens($"text"))
          .withColumn("sh_set", array_distinct(
            transform(shingles("toks"), x => substring(md5(x), 1, 16))))
          .select($"doc_id", size($"sh_set").cast("long").as("n_sh"),
            explode_outer($"sh_set").as("shingle"))
          .filter($"shingle".isNotNull)
        val pairs = boundedPostingLists(sh, Seq("shingle"),
          struct($"doc_id", $"n_sh"), maxShingleDf, "d15_hot_buckets")
          .select(explode_outer(expr(
            """flatten(transform(sequence(1, size(docs) - 1),
                 i -> transform(sequence(0, i - 1),
                   j -> struct(docs[j].doc_id AS doc_a, docs[j].n_sh AS n_a,
                               docs[i].doc_id AS doc_b, docs[i].n_sh AS n_b))))"""))
            .as("p"))
          .groupBy($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"),
            $"p.n_a".as("n_a"), $"p.n_b".as("n_b"))
          .agg(count(lit(1)).as("shared"))
        pairs
          .withColumn("containment",
            $"shared".cast("double") / least($"n_a", $"n_b").cast("double"))
          .filter($"containment" >= 0.9)
          .select(
            // doc_a < doc_b by construction; ties go to doc_a
            when($"n_b" < $"n_a", $"doc_b").otherwise($"doc_a").as("inner_id"),
            when($"n_b" < $"n_a", $"doc_a").otherwise($"doc_b").as("outer_id"),
            $"shared", round($"containment", 6).as("containment"))
          .orderBy($"inner_id", $"outer_id")
      },
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 4000000,
                 array_to_string(list_slice(
                   regexp_split_to_array(lower(trim(text)), '\\s+'), 1, 15), ' ')
          FROM documents WHERE doc_id % 7 = 3),
        tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM corpus),
        sh AS (SELECT DISTINCT doc_id, substr(md5(unnest(
                 CASE WHEN len(toks) >= 3
                      THEN list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                      ELSE [] END)), 1, 16) AS shingle
               FROM tok),
        counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inv AS (SELECT shingle, doc_id FROM sh
                WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                                  HAVING COUNT(*) <= $maxShingleDf)),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
                  FROM inv a JOIN inv b
                    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        scored AS (
          SELECT doc_a, doc_b, ca.n_sh AS n_a, cb.n_sh AS n_b, shared,
                 CAST(shared AS DOUBLE) / CAST(LEAST(ca.n_sh, cb.n_sh) AS DOUBLE)
                   AS containment
          FROM pairs
          JOIN counts ca ON ca.doc_id = doc_a
          JOIN counts cb ON cb.doc_id = doc_b)
        SELECT CASE WHEN n_b < n_a THEN doc_b ELSE doc_a END AS inner_id,
               CASE WHEN n_b < n_a THEN doc_a ELSE doc_b END AS outer_id,
               shared, round(containment, 6) AS containment
        FROM scored
        WHERE containment >= 0.9
        ORDER BY inner_id, outer_id"""),
      doc = "containment near-dup pairs: fragment-inside-document detection"),

    // ------------------------------------------------------------------
    // d16: SEMANTIC dedup (SemDeDup, Abbas et al. 2023): cluster the
    // embedding space with SPHERICAL k-means assignment (argmax cosine
    // to a small centroid set — scale-invariant, the SemDeDup recipe),
    // then find high-cosine pairs ONLY within each cluster and drop
    // every member that matches a lower-id member (keep one semantic
    // representative). The corpus plants scaled copies (×2.0 of every
    // 25th vector) so the operator has guaranteed semantic duplicates
    // at any SF: ×2 is exact in float, doubles scale exactly through
    // the decimal-exact dot/norm, and sqrt(4a) = 2·sqrt(a) is exact in
    // IEEE — so a copy's centroid cosines are bit-identical to its
    // original's and co-clustering is GUARANTEED, not probabilistic
    // (L2 argmin would send the scaled copy to a different cell).
    //
    // Scale (100 TB): the centroid count GROWS WITH THE CORPUS —
    // nlist = max(8, ceil(sqrt(N))), the flat-IVF sweet spot that keeps
    // assignment (N·nlist dots) and the within-cluster pair join
    // (N·(N/nlist) pairs) both at O(N^1.5). Round-9's measured curve
    // motivated this: a FIXED 8 centroids made the pair stage O(N²/8) —
    // 265 s at 100× sf0.1, 17× the 10× time (BASELINE.md). The centroid
    // table stays broadcast-sized (√N rows). Assignment itself is
    // two-phase so the decimal kernel cost stays ~linear: the codegen'd
    // double `vec_dot` scores all N·nlist candidates map-side (only
    // (vec_id, cid, dcos) narrow rows reach the shuffle — embeddings are
    // never replicated per-centroid), and the decimal-exact kernel
    // re-scores only the 2e-9 head window per vector. The window
    // PROVABLY contains every centroid whose 9-dp-rounded exact cosine
    // can tie the argmax: two cosines rounding to the same 9-dp bucket
    // differ by < 1e-9 exactly, the double kernel's error is ≤ ~1e-12,
    // and 1e-9 + 4·1e-12 < 2e-9 — so the exact (round-9 desc, cid asc)
    // argmax over the window equals the argmax over all centroids, and
    // both engines pick identical clusters and identical duplicate
    // pairs.
    QueryDef(
      "d16_semantic_dedup",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.dotExact
        val emb = Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")
        val copies = emb.filter($"vec_id" % 25 === 0)
          .select(($"vec_id" + 1000000L).as("vec_id"),
            expr("transform(embedding, x -> x * CAST(2.0 AS FLOAT))").as("embedding"))
        // self-norms are per-VECTOR facts (d06's lesson), computed once
        // BEFORE the centroid scoring — each (vector, centroid) pair
        // then runs 1 dot kernel, not 3; same doubles as the inline
        // cosineExact (norm = sqrt(dotExact) either way). Lazy
        // localCheckpoint: corp feeds the count, the double scorer, the
        // exact re-scorer and both pair sides — one materialization.
        val corp = emb.unionByName(copies)
          .withColumn("norm", sqrt(dotExact("embedding", "embedding")))
          .localCheckpoint(eager = false)
        val nlist = math.max(8L,
          math.ceil(math.sqrt(corp.count().toDouble)).toLong)
        val cents = emb.filter($"vec_id" < nlist)
          .select($"vec_id".as("cid"), $"embedding".as("cv"))
          .withColumn("cnorm", sqrt(dotExact("cv", "cv")))
        graft.plans.VectorExpressions.register(s)
        val scoredD = corp.crossJoin(broadcast(cents))
          .select($"vec_id", $"cid",
            (expr("vec_dot(embedding, cv)") / ($"norm" * $"cnorm")).as("dcos"))
        val dmax = scoredD.groupBy($"vec_id").agg(max($"dcos").as("dmax"))
        val candCids = scoredD.join(dmax, "vec_id")
          .filter($"dcos" >= $"dmax" - 2e-9)
          .select($"vec_id", $"cid")
        val w = Window.partitionBy($"vec_id").orderBy($"cos_c".desc, $"cid".asc)
        val assigned = candCids
          .join(corp, "vec_id")
          .join(broadcast(cents), "cid")
          .select($"vec_id", $"embedding", $"norm", $"cid",
            round(dotExact("embedding", "cv") / ($"norm" * $"cnorm"), 9).as("cos_c"))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" === 1)
          .select($"cid", $"vec_id", $"embedding", $"norm")
        val a = assigned.select($"cid", $"vec_id".as("id_a"),
          $"embedding".as("ea"), $"norm".as("na"))
        val b = assigned.select($"cid", $"vec_id".as("id_b"),
          $"embedding".as("eb"), $"norm".as("nb"))
        // Two-phase scoring: the codegen'd double-accumulation vec_dot
        // prefilters the quadratic pair set (~60× cheaper per pair than
        // the decimal kernel); only near-threshold survivors get the
        // decimal-exact oracle-grade re-score. Identical results: the
        // double-vs-decimal discrepancy is ≤ ~1e-12 while the prefilter
        // slack is 5e-4, so no pair crossing 0.999 can be lost.
        a.join(b, Seq("cid"))
          .filter($"id_a" < $"id_b")
          .filter(expr("vec_dot(ea, eb)") / ($"na" * $"nb") >= 0.9985)
          .select($"cid", $"id_a", $"id_b",
            round(dotExact("ea", "eb") / ($"na" * $"nb"), 9).as("cosine"))
          .filter($"cosine" >= 0.999)
          .groupBy($"cid", $"id_b".as("dropped_id"))
          .agg(min($"id_a").as("kept_id"), count(lit(1)).as("n_matches"))
          .orderBy($"dropped_id")
      },
      Some(s"""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000,
                 list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
          FROM embeddings WHERE vec_id % 25 = 0),
        cents AS (SELECT vec_id AS cid, embedding AS cv
                  FROM embeddings
                  WHERE vec_id < (SELECT GREATEST(8,
                          CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))
                        FROM corpus)),
        cpairs AS (SELECT e.vec_id, c.cid,
                          unnest(e.embedding) AS x, unnest(c.cv) AS y
                   FROM corpus e CROSS JOIN cents c),
        cdots AS (SELECT vec_id, cid,
                         ${graft.operators.OracleFragments.oCosineSums("nc")}
                  FROM cpairs GROUP BY vec_id, cid),
        assigned AS (SELECT vec_id, cid FROM (
                       SELECT vec_id, cid,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY round(dot / (sqrt(na) * sqrt(nc)), 9) DESC,
                                         cid ASC) AS rk
                       FROM cdots) t WHERE rk = 1),
        cand AS (SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
                        ea.embedding AS ea, eb.embedding AS eb
                 FROM assigned a
                 JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
                 JOIN corpus ea ON ea.vec_id = a.vec_id
                 JOIN corpus eb ON eb.vec_id = b.vec_id),
        flat AS (SELECT cid, id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM cand),
        dots AS (SELECT cid, id_a, id_b,
                        ${graft.operators.OracleFragments.oCosineSums("nb")}
                 FROM flat GROUP BY cid, id_a, id_b),
        dups AS (SELECT cid, id_a, id_b
                 FROM dots
                 WHERE round(dot / (sqrt(na) * sqrt(nb)), 9) >= 0.999)
        SELECT cid, id_b AS dropped_id, MIN(id_a) AS kept_id,
               COUNT(*) AS n_matches
        FROM dups GROUP BY cid, id_b ORDER BY dropped_id"""),
      doc = "semantic dedup (SemDeDup): within-cluster cosine pairs, keep-one"),

    // ------------------------------------------------------------------
    // d17: QUALITY-AWARE survivor selection — d09 keeps the minimum-id
    // doc per near-dup cluster; real pipelines keep the BEST doc. Here
    // the policy is "longest document wins, ties to the smaller id":
    // token count is an integer, so the argmax is exactly deterministic
    // with no float compare. Composes d08's cluster labels.
    //
    // Scale: one join of the (small) label set against per-doc token
    // counts, then a single partial-aggregable max(struct) per cluster —
    // no window, no second shuffle: max(struct(n_toks, -doc_id)) is the
    // lexicographic argmax with min-id tie-break, combinable map-side.
    QueryDef(
      "d17_quality_survivors",
      (s, dir) => {
        import s.implicits._
        val labels = clusterLabels(s, dir)
        val toks = corpus(s, dir)
          .select($"doc_id", size(tokens($"text")).cast("long").as("n_toks"))
        labels.join(toks, "doc_id")
          .groupBy($"canon")
          .agg(count(lit(1)).as("cluster_size"),
            max(struct($"n_toks", (-$"doc_id").as("neg_id"))).as("best"))
          .select($"canon", (-$"best.neg_id").as("survivor_id"),
            $"best.n_toks".as("survivor_toks"), $"cluster_size")
          .orderBy($"canon")
      },
      Some(s"""$labelsSqlCore,
        scored AS (SELECT l.canon, l.doc_id, len(t.toks) AS n_toks
                   FROM labels l JOIN tok t ON l.doc_id = t.doc_id),
        ranked AS (SELECT canon, doc_id, n_toks,
                          ROW_NUMBER() OVER (PARTITION BY canon
                            ORDER BY n_toks DESC, doc_id ASC) AS rk,
                          COUNT(*) OVER (PARTITION BY canon) AS cluster_size
                   FROM scored)
        SELECT canon, doc_id AS survivor_id,
               CAST(n_toks AS BIGINT) AS survivor_toks,
               CAST(cluster_size AS BIGINT) AS cluster_size
        FROM ranked WHERE rk = 1 ORDER BY canon"""),
      doc = "quality-aware dedup survivors: longest-doc-wins per cluster"),

    // ------------------------------------------------------------------
    // d18: DEDUP QUALITY EVAL — the harness every production dedup
    // ships with (s10's recall idea, for MinHash-LSH): the corpus's
    // PLANTED duplicates are ground truth (exact copies at +1M, first-
    // token-dropped near copies at +2M), so the candidate generator's
    // recall is measurable exactly; the confirm rate (candidates that
    // survive the exact shingle-Jaccard ≥ 0.5 check) bounds the wasted
    // exact-verification work. Run per banding config before committing
    // a knob change — the LSH trade-off made visible as one row.
    QueryDef(
      "d18_dedup_recall",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents").select($"doc_id")
        val truth = d.filter($"doc_id" % 10 === 0)
          .select($"doc_id".as("doc_a"), ($"doc_id" + 1000000L).as("doc_b"))
          .unionByName(d.filter($"doc_id" % 10 === 1)
            .select($"doc_id".as("doc_a"), ($"doc_id" + 2000000L).as("doc_b")))
        val cands = lshCandidatePairs(s, dir)
        val sets = shingled(corpus(s, dir))
          .select($"doc_id", array_distinct($"sh").as("ss"))
        val confirmed = cands
          .join(sets.select($"doc_id".as("doc_a"), $"ss".as("sa")), "doc_a")
          .join(sets.select($"doc_id".as("doc_b"), $"ss".as("sb")), "doc_b")
          .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("long"))
          .withColumn("uni",
            size($"sa").cast("long") + size($"sb").cast("long") - $"inter")
          .filter($"uni" > 0 &&
            $"inter".cast("double") / $"uni".cast("double") >= 0.5)
        val found = truth.join(cands, Seq("doc_a", "doc_b"), "left_semi")
        truth.agg(count(lit(1)).as("n_truth"))
          .crossJoin(broadcast(found.agg(count(lit(1)).as("n_truth_found"))))
          .crossJoin(broadcast(cands.agg(count(lit(1)).as("n_cands"))))
          .crossJoin(broadcast(confirmed.agg(count(lit(1)).as("n_confirmed"))))
          .select($"n_truth", $"n_truth_found", $"n_cands", $"n_confirmed",
            round($"n_truth_found".cast("double") / $"n_truth", 6).as("recall"),
            round($"n_confirmed".cast("double") / $"n_cands", 6).as("confirm_rate"))
      },
      Some(s"""$lshPairsSqlCore,
        truth AS (
          SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
          FROM documents WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id, doc_id + 2000000
          FROM documents WHERE doc_id % 10 = 1),
        sets AS (SELECT doc_id, list_distinct(sh) AS ss FROM shi),
        confirmed AS (
          SELECT p.doc_a, p.doc_b
          FROM pairs p
          JOIN sets a ON a.doc_id = p.doc_a
          JOIN sets b ON b.doc_id = p.doc_b
          WHERE len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)) > 0
            AND CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)))
                >= 0.5),
        m AS (SELECT
          (SELECT COUNT(*) FROM truth) AS n_truth,
          (SELECT COUNT(*) FROM truth t
           WHERE EXISTS (SELECT 1 FROM pairs p
                         WHERE p.doc_a = t.doc_a AND p.doc_b = t.doc_b))
            AS n_truth_found,
          (SELECT COUNT(*) FROM pairs) AS n_cands,
          (SELECT COUNT(*) FROM confirmed) AS n_confirmed)
        SELECT n_truth, n_truth_found, n_cands, n_confirmed,
               round(CAST(n_truth_found AS DOUBLE) / n_truth, 6) AS recall,
               round(CAST(n_confirmed AS DOUBLE) / n_cands, 6) AS confirm_rate
        FROM m"""),
      doc = "dedup quality eval: planted-truth recall + confirm rate of LSH candidates"),

    // ------------------------------------------------------------------
    // d19: PERSISTED-INDEX incremental dedup — what d13's scaladoc
    // promises at 100 TB, actually exercised: the corpus MinHash band
    // table and shingle sets are WRITTEN to transaction-logged index
    // tables once (band-sorted parts, so band-equality probes benefit
    // from footer stats), then the ingest batch dedups against the
    // STORED index via the same `incrementalDedupFromIndex` core d13
    // uses — the corpus text is never re-tokenized, re-hashed, or even
    // re-read. The oracle is d13's verbatim: recompute path and
    // index-read path must produce identical rows, which is exactly the
    // invariant that lets a deployment swap one for the other.
    QueryDef(
      "d19_index_backed_dedup",
      (s, dir) => {
        import s.implicits._
        val old = Tables.load(s, dir, "documents").select($"doc_id", $"text")
        val dt = to_date(lit("2024-03-01"))
        val bandsT = new graft.storage.FactTable(graft.TempDirs.scratch("d19_bands"), s)
        bandsT.append(bandsOf(sigOf(old)).withColumn("date", dt), 0)
        bandsT.compact(sortCols = Seq("band", "bval"))
        val setsT = new graft.storage.FactTable(graft.TempDirs.scratch("d19_sets"), s)
        setsT.append(shingled(old)
          .select($"doc_id", array_distinct($"sh").as("so"))
          .withColumn("date", dt), 0)
        setsT.compact(sortCols = Seq("doc_id"))
        incrementalDedupFromIndex(
          bandsT.read().select($"doc_id".as("old_id"), $"band", $"bval"),
          setsT.read().select($"doc_id".as("old_id"), $"so"),
          d13Batch(old)).orderBy($"new_id")
      },
      Some(incrementalDedupOracleSql),
      doc = "persisted-index dedup: stored MinHash index consumed, corpus never re-read"),

    // ------------------------------------------------------------------
    // d20: STREAMING ingest dedup, batch shadow — the corpus arrives as
    // an ordered stream of 3 micro-batches (doc_id % 3; the +1M/+2M
    // planted-copy offsets are ≡ 1,2 mod 3, so every planted dup lands
    // in a DIFFERENT batch than its original); each batch dedups
    // against the survivors-only index of all earlier batches via the
    // d13/d19 core, and survivors' bands join the index. This fold is
    // row-identical to the real foreachBatch path
    // (streaming/DedupStream, StreamingSpec-asserted) — the inventory
    // row oracle-checks the decision semantics, the spec pins the
    // streaming plumbing to it.
    QueryDef(
      "d20_streaming_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = corpus(s, dir)
        sequentialDedupDecisions(
          (0 to 2).map(k => docs.filter($"doc_id" % 3 === k)))
          .orderBy($"new_id")
      },
      Some(streamingDedupOracleSql),
      doc = "streaming cross-batch dedup: per-batch decisions against a survivors-only index"),

    // ------------------------------------------------------------------
    // d21: EXACT-SUBSTRING window dedup — the suffix-array family of
    // training-data dedup (find repeated ≥W-token spans ACROSS docs),
    // approximated the way it actually ships at scale: every OVERLAPPING
    // 16-token window is hashed (stride 1 — unlike d14's non-overlapping
    // paragraphs, a shared span is detected at ANY alignment), windows
    // occurring in >1 distinct doc are "duplicated", and each doc
    // reports its duplicated-window fraction (integer basis points —
    // same double-rounding dodge as c09). Plan shape: explode_outer the
    // computed window array (round-4 inferred-filter fix), one
    // partial-aggregable count per fingerprint (a boilerplate window in
    // every doc is ONE count row, never a collected list), semi-join
    // back, one per-doc count — two keyed shuffles, no windows, no
    // sorts before the presentation ORDER BY. The planted corpus makes
    // the expected signal exact: +1M exact copies duplicate every
    // window, +2M first-token-dropped copies all but the first 15.
    QueryDef(
      "d21_substring_window_dedup",
      (s, dir) => {
        import s.implicits._
        val W = 16
        val docs = corpus(s, dir).withColumn("toks", tokens($"text"))
        val wins = docs.select($"doc_id",
          explode_outer(expr(
            s"""CASE WHEN size(toks) >= $W THEN
                  transform(sequence(1, size(toks) - ${W - 1}),
                    i -> md5(concat_ws(' ', ${(0 until W)
                      .map(k => s"element_at(toks, i + $k)").mkString(", ")})))
                ELSE array() END""")).as("fp"))
          .filter($"fp".isNotNull)
        val dupFps = wins.groupBy($"fp")
          .agg(countDistinct($"doc_id").as("ndocs"))
          .filter($"ndocs" > 1).select($"fp")
        val perDoc = wins.join(dupFps, Seq("fp"), "left_semi")
          .groupBy($"doc_id").agg(count(lit(1)).as("n_dup_windows"))
        docs.select($"doc_id",
            when(size($"toks") >= W, size($"toks") - (W - 1))
              .otherwise(0).cast("long").as("n_windows"))
          .join(perDoc, Seq("doc_id"), "left")
          .withColumn("n_dup_windows", coalesce($"n_dup_windows", lit(0L)))
          .withColumn("dup_bp",
            when($"n_windows" > 0,
              expr("n_dup_windows * 10000L div n_windows"))
              .otherwise(lit(0L)))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH corpus AS ($corpusSql),
        tok AS (SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM corpus),
        wins AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(toks) >= 16
                        THEN list_transform(range(1, len(toks) - 14),
                               i -> md5(${(0 until 16)
                                 .map(k => s"toks[i+$k]")
                                 .mkString(" || ' ' || ")}))
                        ELSE [] END) AS fp
          FROM tok),
        dupfp AS (SELECT fp FROM wins GROUP BY fp
                  HAVING COUNT(DISTINCT doc_id) > 1),
        perdoc AS (SELECT doc_id, COUNT(*) AS n_dup_windows
                   FROM wins WHERE fp IN (SELECT fp FROM dupfp)
                   GROUP BY doc_id),
        base AS (SELECT doc_id,
                        CAST(CASE WHEN len(toks) >= 16 THEN len(toks) - 15
                             ELSE 0 END AS BIGINT) AS n_windows
                 FROM tok)
        SELECT b.doc_id, b.n_windows,
               CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
               CAST(CASE WHEN b.n_windows > 0
                    THEN COALESCE(p.n_dup_windows, 0) * 10000 // b.n_windows
                    ELSE 0 END AS BIGINT) AS dup_bp
        FROM base b LEFT JOIN perdoc p USING (doc_id)
        ORDER BY doc_id"""),
      doc = "exact-substring window dedup: overlapping 16-token hashed windows, per-doc dup fraction"),

    // ------------------------------------------------------------------
    // d22: INTRA-document repetition dedup — d21's cross-doc window
    // machinery turned inward: how much of EACH document is a repeat of
    // itself (the self-repetition that template spam / boilerplate
    // stuffing / decoding loops produce — the in-doc complement of
    // Gopher's t11 rep metrics, at span granularity). Every overlapping
    // 8-token window is materialized IN-ROW and deduplicated IN-ROW
    // (`array_distinct` — no explode, no shuffle: a doc's windows never
    // leave its row, so the operator is embarrassingly parallel and the
    // per-doc cost is bounded by doc length, not corpus size). Planted
    // +3M self-concatenated docs (text ⧺ text) make the expected signal
    // exact: every window of the first half repeats in the second except
    // boundary ones, so dup fraction ≈ half; originals in the word-soup
    // corpus stay near zero. Presentation sort is the only exchange.
    QueryDef(
      "d22_intra_doc_dedup",
      (s, dir) => {
        import s.implicits._
        val W = 8
        val base = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
        val planted = base.unionByName(
          base.filter($"doc_id" % 7 === 3)
            .select(($"doc_id" + 3000000L).as("doc_id"),
              concat($"text", lit(" "), $"text").as("text")))
        planted
          .withColumn("toks", tokens($"text"))
          .withColumn("wins", expr(
            s"""CASE WHEN size(toks) >= $W THEN
                  transform(sequence(1, size(toks) - ${W - 1}),
                    i -> concat_ws(' ', ${(0 until W)
                      .map(k => s"element_at(toks, i + $k)").mkString(", ")}))
                ELSE array() END"""))
          .select($"doc_id",
            size($"wins").cast("long").as("n_windows"),
            (size($"wins") - size(array_distinct($"wins"))).cast("long")
              .as("n_dup_windows"))
          .withColumn("intra_bp",
            when($"n_windows" > 0,
              expr("n_dup_windows * 10000L div n_windows"))
              .otherwise(lit(0L)))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH planted AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 3000000, text || ' ' || text
          FROM documents WHERE doc_id % 7 = 3),
        tok AS (SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM planted),
        wins AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 8
                      THEN list_transform(range(1, len(toks) - 6),
                             i -> ${(0 until 8).map(k => s"toks[i+$k]")
                               .mkString(" || ' ' || ")})
                      ELSE [] END AS w
          FROM tok)
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_windows,
               CAST(len(w) - len(list_distinct(w)) AS BIGINT) AS n_dup_windows,
               CAST(CASE WHEN len(w) > 0
                    THEN (len(w) - len(list_distinct(w))) * 10000 // len(w)
                    ELSE 0 END AS BIGINT) AS intra_bp
        FROM wins ORDER BY doc_id"""),
      doc = "intra-document repetition: in-row overlapping-window dedup, span-level self-repeat fraction"),

    // ------------------------------------------------------------------
    // d23: BLOOM-PREFILTERED decontamination — the sketch-side scale
    // path d10's broadcast set join cannot take at 100 TB. The benchmark
    // suite's 7-gram shingles compress into a Bloom filter (fpp 1%) on
    // the driver — a 1e9-shingle suite is a ~1-2 GB sketch where the
    // exact broadcast hash set would be tens of GB — and every corpus
    // shingle pays a few codegen'd hash probes (`bloom_contains`,
    // plans/BloomFilterExpression.scala) BEFORE any join. `false` is
    // proven-absent, so the exact confirm join (which kills the ~fpp
    // false-positive tail) runs on the surviving ~1% instead of the
    // full corpus — at cluster scale that confirm can afford a shuffle
    // join even when the suite outgrows broadcast. Result is EXACT
    // (bloom FPs never reach the output), which is what makes the
    // DuckDB oracle a plain set-overlap query. ScaleSpec measures the
    // prefilter's selectivity; PlanSpec locks the probe ahead of the
    // join.
    QueryDef(
      "d23_bloom_decontaminate",
      (s, dir) => {
        import s.implicits._
        val sh = Tables.load(s, dir, "documents")
          .withColumn("toks", tokens($"text"))
          .withColumn("sh", array_distinct(shingles("toks", 7)))
          .select($"doc_id", $"source", $"sh")
        val bench = sh.filter($"doc_id" % 97 === 0)
          .select(explode_outer($"sh").as("shingle"))
          .filter($"shingle".isNotNull).distinct()
        val nBench = bench.count() // driver-known suite size → sized sketch
        val bloom = bench.stat.bloomFilter("shingle",
          math.max(nBench, 1L), 0.01)
        graft.plans.BloomFilterExpressions.register(s, "bench_bloom", bloom)
        val hits = sh.filter($"doc_id" % 97 =!= 0)
          .select($"doc_id", explode_outer($"sh").as("shingle"))
          .filter($"shingle".isNotNull)
          .filter(expr("bench_bloom(shingle)")) // sketch prefilter
          .join(bench, Seq("shingle")) // exact confirm on the ~1% tail
          .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        sh.filter($"doc_id" % 97 =!= 0)
          .select($"doc_id", $"source")
          .join(hits, Seq("doc_id"), "left")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            count($"n_shared").as("n_contaminated"))
          .withColumn("contamination_rate",
            round($"n_contaminated".cast("double") / $"n_docs", 6))
          .orderBy($"source")
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, source,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id, source,
                 list_distinct(CASE WHEN len(toks) >= 7
                   THEN list_transform(range(1, len(toks) - 5),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            || ' ' || toks[i+3] || ' ' || toks[i+4]
                            || ' ' || toks[i+5] || ' ' || toks[i+6])
                   ELSE [] END) AS sh
          FROM tok),
        bench AS (
          SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 97 = 0),
        cand AS (
          SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id % 97 <> 0),
        hits AS (
          SELECT doc_id, COUNT(*) AS n_shared
          FROM cand JOIN bench USING (shingle) GROUP BY doc_id)
        SELECT s.source, COUNT(*) AS n_docs,
               COUNT(h.n_shared) AS n_contaminated,
               round(CAST(COUNT(h.n_shared) AS DOUBLE) / COUNT(*), 6)
                 AS contamination_rate
        FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
        WHERE s.doc_id % 97 <> 0
        GROUP BY s.source ORDER BY s.source"""),
      doc = "bloom-prefiltered decontamination: broadcast sketch probe, exact confirm on the surviving tail"),

    // ------------------------------------------------------------------
    // d24: LSH PARAMETER SWEEP — the banding-theory trade-off MEASURED
    // instead of estimated: the same 8 MinHash lanes sliced as
    // (bands × rows/band) = 8×1, 4×2, 2×4, 1×8, each config's candidate
    // pairs generated by the production path (count-first bounded
    // posting lists), scored against the planted truth (d18's +1M exact
    // / +2M near copies). More rows per band = a stricter AND inside
    // each band: recall falls, candidate load falls — the report is the
    // S-curve a pipeline owner reads before fixing (b, r) for a corpus.
    // Everything is exact integer counts (no pow(), whose last-ulp
    // behavior differs across engines), so the row hashes are stable.
    // Scale: ALL four configs ride ONE plan — each signature row
    // explodes into its 15 (config, band) entries, so the corpus and
    // the signature computation are scanned once and a single band
    // shuffle (keyed by config+band) feeds one capped expansion; the
    // naive per-config union recomputes the signature subtree 4× and
    // runs 12 separate aggregation jobs (measured 3.97 s → this shape,
    // one job). Configs with zero surviving candidates keep their row
    // via the left join from the static config frame.
    QueryDef(
      "d24_lsh_parameter_sweep",
      (s, dir) => {
        import s.implicits._
        val cfgs = Seq(8 -> 1, 4 -> 2, 2 -> 4, 1 -> 8)
        val bands = minhashSignatures(s, dir).select($"doc_id",
          explode(array(cfgs.flatMap { case (b, r) =>
            (0 until b).map { i =>
              struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
                lit(i).as("band"),
                concat((0 until r).map(j => col(s"mh${i * r + j}")): _*)
                  .as("bval"))
            }
          }: _*)).as("c"))
          .select($"doc_id", $"c.bands", $"c.rows_per_band", $"c.band",
            $"c.bval")
          .filter($"bval".isNotNull)
        val cfgKeys = Seq("bands", "rows_per_band")
        val pairs = adaptiveBucketPairs(bands,
          cfgKeys ++ Seq("band", "bval"), $"doc_id", "d24_hot_buckets")
          .select($"bands", $"rows_per_band", $"pa".as("doc_a"),
            $"pb".as("doc_b"))
          .distinct()
        val d = Tables.load(s, dir, "documents").select($"doc_id")
        val truth = d.filter($"doc_id" % 10 === 0)
          .select($"doc_id".as("doc_a"), ($"doc_id" + 1000000L).as("doc_b"))
          .unionByName(d.filter($"doc_id" % 10 === 1)
            .select($"doc_id".as("doc_a"), ($"doc_id" + 2000000L).as("doc_b")))
        val cand = pairs.groupBy(cfgKeys.map(col): _*)
          .agg(count(lit(1)).as("n_cands"))
        val found = truth.join(pairs, Seq("doc_a", "doc_b"))
          .groupBy(cfgKeys.map(col): _*)
          .agg(count(lit(1)).as("n_truth_found"))
        cfgs.toDF("bands", "rows_per_band")
          .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
          .join(broadcast(cand), cfgKeys, "left")
          .join(broadcast(found), cfgKeys, "left")
          .select($"bands", $"rows_per_band", $"n_truth",
            coalesce($"n_cands", lit(0L)).as("n_cands"),
            coalesce($"n_truth_found", lit(0L)).as("n_truth_found"))
          .withColumn("recall",
            round($"n_truth_found".cast("double") / $"n_truth", 6))
          .orderBy($"rows_per_band")
      },
      Some {
        def cfg(b: Int, r: Int): String = {
          val t = s"${b}_$r"
          val bandSelects = (0 until b).map { i =>
            val v = (0 until r).map(j => s"mh${i * r + j}").mkString(" || ")
            s"SELECT doc_id, $i AS band, $v AS bval FROM sig"
          }.mkString("\n          UNION ALL ")
          s"""bands_$t AS ($bandSelects),
        bsized_$t AS (
          SELECT band, bval FROM bands_$t WHERE bval IS NOT NULL
          GROUP BY band, bval
          HAVING COUNT(*) > 1 AND COUNT(*) <= $dropLshBucket),
        pairs_$t AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands_$t a JOIN bands_$t b
            ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
          JOIN bsized_$t s ON s.band = a.band AND s.bval = a.bval
          WHERE a.bval IS NOT NULL),
        m_$t AS (
          SELECT $b AS bands, $r AS rows_per_band,
                 (SELECT COUNT(*) FROM truth) AS n_truth,
                 (SELECT COUNT(*) FROM pairs_$t) AS n_cands,
                 (SELECT COUNT(*) FROM truth t
                  JOIN pairs_$t p ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b)
                   AS n_truth_found)"""
        }
        val cfgs = Seq(8 -> 1, 4 -> 2, 2 -> 4, 1 -> 8)
        s"""$minhashSqlCore,
        truth AS (
          SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
          FROM documents WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id, doc_id + 2000000
          FROM documents WHERE doc_id % 10 = 1),
        ${cfgs.map { case (b, r) => cfg(b, r) }.mkString(",\n        ")}
        SELECT bands, rows_per_band, n_truth, n_cands, n_truth_found,
               round(CAST(n_truth_found AS DOUBLE) / n_truth, 6) AS recall
        FROM (${cfgs.map { case (b, r) => s"SELECT * FROM m_${b}_$r" }
            .mkString(" UNION ALL ")})
        ORDER BY rows_per_band"""
      },
      doc = "LSH banding sweep: 8x1..1x8 lane slicings, measured recall vs candidate load on planted truth"),

    // ------------------------------------------------------------------
    // d25: SOFT DEDUP WEIGHTS — the alternative to dropping duplicates:
    // every document keeps weight 1/cluster_size (unclustered docs
    // weigh 1), so a training run downweights repeated content instead
    // of discarding it — total loss mass per unique content unit stays
    // constant regardless of copy count. The report is the per-origin
    // effective-document mass vs raw count. Determinism: each weight is
    // quantized to a 6-dp DECIMAL before summing, so the sum is exact
    // decimal arithmetic (order-independent) in both engines; a double
    // sum would be addition-order-dependent and hash-flaky. Scale: d08's
    // label fixpoint + two broadcast-sized joins and one partial-agg
    // rollup — no new shuffle shapes.
    QueryDef(
      "d25_soft_dedup_weights",
      (s, dir) => {
        import s.implicits._
        val labels = clusterLabels(s, dir)
        val sizes = labels.groupBy($"canon").agg(count(lit(1)).as("k"))
        corpus(s, dir).join(labels, Seq("doc_id"), "left")
          .join(broadcast(sizes), Seq("canon"), "left")
          .withColumn("k", coalesce($"k", lit(1L)))
          .withColumn("w",
            round(lit(1.0d) / $"k".cast("double"), 6).cast("decimal(18,6)"))
          .withColumn("origin",
            when($"doc_id" >= 2000000L, "near_copy")
              .when($"doc_id" >= 1000000L, "exact_copy")
              .otherwise("original"))
          .groupBy($"origin")
          .agg(count(lit(1)).as("n_docs"),
            sum($"w").cast("double").as("effective_docs"),
            round(sum($"k").cast("double") / count(lit(1)), 6)
              .as("avg_cluster_size"))
          .orderBy($"origin")
      },
      Some(s"""$labelsSqlCore,
        sizes AS (SELECT canon, COUNT(*) AS k FROM labels GROUP BY canon),
        tagged AS (
          SELECT c.doc_id, COALESCE(s.k, 1) AS k,
                 CASE WHEN c.doc_id >= 2000000 THEN 'near_copy'
                      WHEN c.doc_id >= 1000000 THEN 'exact_copy'
                      ELSE 'original' END AS origin
          FROM corpus c
          LEFT JOIN labels l ON c.doc_id = l.doc_id
          LEFT JOIN sizes s ON l.canon = s.canon)
        SELECT origin, COUNT(*) AS n_docs,
               CAST(SUM(CAST(round(CAST(1 AS DOUBLE) / k, 6)
                             AS DECIMAL(18,6))) AS DOUBLE) AS effective_docs,
               round(CAST(SUM(k) AS DOUBLE) / COUNT(*), 6) AS avg_cluster_size
        FROM tagged GROUP BY origin ORDER BY origin"""),
      doc = "soft dedup: 1/cluster_size loss weights, exact decimal effective-doc mass per origin"),

    // ------------------------------------------------------------------
    // c13: SPLIT-CONTAMINATION AUDIT — the matrix a release review asks
    // for after d11 assigns splits: for every directed split pair
    // (a → b), how many distinct 3-gram shingles the two splits share
    // and how many of b's documents contain at least one shingle also
    // present in a. d11's cluster-keyed split proves near-DUPS don't
    // straddle splits; this measures the residual soft overlap (common
    // phrases) that remains by construction — the number reviewers
    // want to SEE, not assume. Scale: both joins key on the shingle
    // value against a per-split-DISTINCT right side, so fan-out per
    // probe row is bounded by the split count (3), never by shingle
    // popularity — no hot-key cap needed, unlike the pair-expansion
    // sites. One distinct + two partial-agg shuffles.
    QueryDef(
      "c13_split_contamination",
      (s, dir) => {
        import s.implicits._
        val labels = clusterLabels(s, dir)
        val hb = substring(md5(coalesce($"canon", $"doc_id")
          .cast("string")), 1, 2)
        val keyed = corpus(s, dir).join(labels, Seq("doc_id"), "left")
          .withColumn("split",
            when(hb < "c0", "train").when(hb < "e0", "val")
              .otherwise("test"))
        val dsh = keyed
          .withColumn("toks", graft.functions.TextFunctions.tokens($"text"))
          .withColumn("sh", graft.functions.TextFunctions.shingles("toks"))
          .select($"doc_id", $"split", explode(array_distinct($"sh")).as("s"))
        val ssh = dsh.select($"split", $"s").distinct()
        val shared = ssh.as("a")
          .join(ssh.as("b"), $"a.s" === $"b.s" && $"a.split" < $"b.split")
          .select($"a.split".as("sa"), $"b.split".as("sb"))
          .groupBy($"sa", $"sb").agg(count(lit(1)).as("n_shared"))
        val hits = dsh.as("d")
          .join(ssh.as("o"), $"d.s" === $"o.s" && $"o.split" =!= $"d.split")
          .select($"o.split".as("split_a"), $"d.split".as("split_b"),
            $"d.doc_id".as("doc_id"))
          .distinct()
          .groupBy($"split_a", $"split_b")
          .agg(count(lit(1)).as("n_docs_b_hit"))
        val nd = keyed.groupBy($"split").agg(count(lit(1)).as("n_docs"))
        nd.select($"split".as("split_a"))
          .crossJoin(nd.select($"split".as("split_b"), $"n_docs".as("n_docs_b")))
          .filter($"split_a" =!= $"split_b")
          .join(broadcast(hits), Seq("split_a", "split_b"), "left")
          .join(broadcast(shared),
            least($"split_a", $"split_b") === $"sa" &&
              greatest($"split_a", $"split_b") === $"sb", "left")
          .select($"split_a", $"split_b",
            coalesce($"n_shared", lit(0L)).as("n_shared_shingles"),
            coalesce($"n_docs_b_hit", lit(0L)).as("n_docs_b_hit"),
            $"n_docs_b",
            round(coalesce($"n_docs_b_hit", lit(0L)).cast("double")
              / $"n_docs_b", 6).as("contamination_rate"))
          .orderBy($"split_a", $"split_b")
      },
      Some(s"""$labelsSqlCore,
        keyed AS (
          SELECT c.doc_id, c.text,
                 CASE WHEN substr(md5(CAST(COALESCE(l.canon, c.doc_id) AS VARCHAR)), 1, 2) < 'c0'
                      THEN 'train'
                      WHEN substr(md5(CAST(COALESCE(l.canon, c.doc_id) AS VARCHAR)), 1, 2) < 'e0'
                      THEN 'val' ELSE 'test' END AS split
          FROM corpus c LEFT JOIN labels l ON c.doc_id = l.doc_id),
        tok_c13 AS (SELECT doc_id, split,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM keyed),
        dsh AS (
          SELECT doc_id, split,
                 unnest(list_distinct(
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                        ELSE [] END)) AS s
          FROM tok_c13),
        ssh AS (SELECT DISTINCT split, s FROM dsh),
        shared AS (
          SELECT a.split AS sa, b.split AS sb, COUNT(*) AS n_shared
          FROM ssh a JOIN ssh b ON a.s = b.s AND a.split < b.split
          GROUP BY a.split, b.split),
        hits AS (
          SELECT o.split AS split_a, d.split AS split_b,
                 COUNT(DISTINCT d.doc_id) AS n_docs_b_hit
          FROM dsh d JOIN ssh o ON d.s = o.s AND o.split <> d.split
          GROUP BY o.split, d.split),
        nd AS (SELECT split, COUNT(*) AS n_docs FROM keyed GROUP BY split)
        SELECT x.split_a, x.split_b,
               COALESCE(s.n_shared, 0) AS n_shared_shingles,
               COALESCE(h.n_docs_b_hit, 0) AS n_docs_b_hit,
               x.n_docs_b,
               round(CAST(COALESCE(h.n_docs_b_hit, 0) AS DOUBLE) / x.n_docs_b, 6)
                 AS contamination_rate
        FROM (SELECT a.split AS split_a, b.split AS split_b,
                     b.n_docs AS n_docs_b
              FROM nd a CROSS JOIN nd b WHERE a.split <> b.split) x
        LEFT JOIN hits h ON h.split_a = x.split_a AND h.split_b = x.split_b
        LEFT JOIN shared s ON s.sa = least(x.split_a, x.split_b)
                          AND s.sb = greatest(x.split_a, x.split_b)
        ORDER BY x.split_a, x.split_b"""),
      doc = "split-contamination matrix: shared shingles + contaminated-doc counts per directed split pair"),

    // ------------------------------------------------------------------
    // d26: PAIR-GRAPH RANK — PageRank (5 rounds, damping 0.85) over the
    // symmetrized LSH candidate graph. High-rank nodes are the HUBS of
    // the near-dup graph — template pages and boilerplate sources whose
    // variants permeate a crawl — the docs a curation pass reviews
    // first. All arithmetic is BIGINT in millionths with truncating
    // division, so five rounds stay bit-identical across engines (a
    // double PageRank diverges in the last ulp by round 2); the oracle
    // unrolls the five rounds as plain CTEs because recursive CTEs
    // cannot aggregate in the recursive term. Scale: per round one
    // keyed join of the score table against the edge list + one
    // partial-agg sum — d08's exact shuffle shape; rounds are fixed
    // (5), not diameter-bounded.
    QueryDef(
      "d26_pair_graph_rank",
      (s, dir) => {
        import s.implicits._
        val pairs = lshCandidatePairs(s, dir)
        val edges = truncate(pairs
          .select($"doc_a".as("src"), $"doc_b".as("dst"))
          .unionAll(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"))))
        val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        var pr = truncate(deg.select($"src".as("doc_id"),
          $"deg", lit(1000000L).as("score")))
        for (_ <- 1 to 5) {
          val contrib = edges
            .join(pr.select($"doc_id".as("src"),
              expr("score div deg").as("c")), "src")
            .groupBy($"dst").agg(sum($"c").as("incoming"))
          pr = truncate(pr.join(contrib, pr("doc_id") === contrib("dst"))
            .select(pr("doc_id"), pr("deg"),
              (lit(150000L) + expr("(850000 * incoming) div 1000000"))
                .as("score")))
        }
        pr.orderBy($"score".desc, $"doc_id").limit(50)
          .select($"doc_id", $"deg", $"score")
      },
      Some {
        val rounds = (1 to 5).map { i =>
          s"""pr$i AS (
          SELECT p.doc_id, p.deg,
                 150000 + (850000 * inc.incoming) // 1000000 AS score
          FROM pr${i - 1} p JOIN (
            SELECT e.dst, SUM(q.score // q.deg) AS incoming
            FROM edges_d26 e JOIN pr${i - 1} q ON q.doc_id = e.src
            GROUP BY e.dst) inc ON inc.dst = p.doc_id)"""
        }.mkString(",\n        ")
        s"""$lshPairsSqlCore,
        edges_d26 AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                      UNION ALL SELECT doc_b, doc_a FROM pairs),
        deg AS (SELECT src, COUNT(*) AS deg FROM edges_d26 GROUP BY src),
        pr0 AS (SELECT src AS doc_id, deg, CAST(1000000 AS BIGINT) AS score
                FROM deg),
        $rounds
        SELECT doc_id, deg, CAST(score AS BIGINT) AS score FROM pr5
        ORDER BY score DESC, doc_id LIMIT 50"""
      },
      doc = "integer PageRank over the near-dup candidate graph: template-hub detection, bit-stable rounds"),

    // ------------------------------------------------------------------
    // d27: SIMILARITY-THRESHOLD CURVE — the knob-tuning report every
    // dedup pass starts from: for Jaccard thresholds 0.3..0.9, how many
    // near-dup pairs and how many affected documents would a pass at
    // that threshold touch? One shared-shingle pair scan (d05's core,
    // factored) serves all seven thresholds — the threshold test is
    // integer cross-multiplication (shared*10 >= t10*union), so the
    // curve is exact in both engines with no double-boundary ambiguity.
    // Scale: the pair set is computed ONCE (DF-capped inverted index);
    // the 7× threshold fan-out happens on the already-reduced pair
    // rows, not on shingles. Zero-pair thresholds still report a row
    // (left join from the literal threshold axis).
    QueryDef(
      "d27_similarity_curve",
      (s, dir) => {
        import s.implicits._
        val pairs = sharedShinglePairs(s, dir, "d27_hot_buckets")
          .withColumn("uni", $"n_a" + $"n_b" - $"shared")
        val hits = pairs
          .select($"doc_a", $"doc_b", $"shared", $"uni",
            explode(sequence(lit(3L), lit(9L))).as("t10"))
          .filter($"shared" * 10 >= $"t10" * $"uni")
        val nPairs = hits.groupBy($"t10").agg(count(lit(1)).as("n_pairs"))
        val nDocs = hits
          .select($"t10", explode(array($"doc_a", $"doc_b")).as("d"))
          .groupBy($"t10").agg(countDistinct($"d").as("n_docs"))
        s.range(3, 10).toDF("t10")
          .join(nPairs, Seq("t10"), "left")
          .join(nDocs, Seq("t10"), "left")
          .select($"t10", coalesce($"n_pairs", lit(0L)).as("n_pairs"),
            coalesce($"n_docs", lit(0L)).as("n_docs"))
          .orderBy($"t10")
      },
      Some(s"""$sharedShinglePairsSql,
        hits AS (
          SELECT t.t10, p.doc_a, p.doc_b
          FROM pairs p
          JOIN counts ca ON ca.doc_id = p.doc_a
          JOIN counts cb ON cb.doc_id = p.doc_b
          CROSS JOIN (SELECT unnest(range(3, 10)) AS t10) t
          WHERE p.shared * 10 >= t.t10 * (ca.n_sh + cb.n_sh - p.shared)),
        np AS (SELECT t10, COUNT(*) AS n_pairs FROM hits GROUP BY t10),
        nd AS (SELECT t10, COUNT(*) AS n_docs FROM
                 (SELECT t10, doc_a AS d FROM hits
                  UNION SELECT t10, doc_b FROM hits) GROUP BY t10)
        SELECT ax.t10,
               COALESCE(np.n_pairs, 0) AS n_pairs,
               COALESCE(nd.n_docs, 0) AS n_docs
        FROM (SELECT unnest(range(3, 10)) AS t10) ax
        LEFT JOIN np ON np.t10 = ax.t10
        LEFT JOIN nd ON nd.t10 = ax.t10
        ORDER BY ax.t10"""),
      doc = "similarity-threshold curve: near-dup pair and affected-doc counts per Jaccard threshold, one pair scan"),

    // ------------------------------------------------------------------
    // d28: INCREMENTAL cluster maintenance — the answer to "a new crawl
    // batch arrived; do NOT re-cluster the corpus". The corpus is split
    // by a deterministic rule into an existing 75% (doc_id % 4 != 3)
    // and a new batch (% 4 == 3). Old labels are the stored state (here
    // computed in-query from old-old pairs; at 100 TB they are the
    // persisted label table, d19-style). The incremental step runs CC
    // on the CONTRACTED graph: one star edge per already-labeled doc
    // (doc → its old canon — edge contraction preserves components
    // exactly) plus only the pairs incident to the new batch. Star
    // topology makes the contracted diameter ~2, so the incremental
    // propagation converges in 2-3 rounds regardless of how deep the
    // original cluster chains were — that plus never re-deriving
    // old-old pairs is the whole scale win. The oracle is d08's
    // full-recompute verbatim: incremental ≡ rebuild IS the invariant
    // (the same append≡rebuild contract as s15).
    QueryDef(
      "d28_incremental_clusters",
      (s, dir) => {
        import s.implicits._
        val pairs = truncate(lshCandidatePairs(s, dir))
        val oldPairs = pairs.filter(
          $"doc_a" % 4 =!= 3 && $"doc_b" % 4 =!= 3)
        val newPairs = pairs.filter(
          $"doc_a" % 4 === 3 || $"doc_b" % 4 === 3)
        val oldLabels = propagateMinLabels(oldPairs)
        val contracted = oldLabels.filter($"doc_id" =!= $"canon")
          .select($"doc_id".as("doc_a"), $"canon".as("doc_b"))
          .unionByName(newPairs.select($"doc_a", $"doc_b"))
        val labels = propagateMinLabels(contracted)
        val sizes = labels.groupBy($"canon").agg(count(lit(1)).as("cluster_size"))
        labels.join(sizes, "canon")
          .select($"doc_id", $"canon", $"cluster_size")
          .orderBy($"doc_id")
      },
      Some(s"""$labelsSqlCore,
        sizes AS (SELECT canon, CAST(COUNT(*) AS BIGINT) AS cluster_size
                  FROM labels GROUP BY canon)
        SELECT l.doc_id, l.canon, s.cluster_size
        FROM labels l JOIN sizes s ON l.canon = s.canon
        ORDER BY l.doc_id"""),
      doc = "incremental cluster maintenance: star-contracted CC over stored labels + new-batch pairs only; rebuild-equality oracle"),

    // ------------------------------------------------------------------
    // c07: DEDUP YIELD report — the number every pipeline publishes
    // after a dedup pass: per corpus stratum, how many documents and how
    // much token mass survive survivor selection (d09's keep rule over
    // d08's clusters). Token-mass yield ≠ doc-count yield whenever
    // near-dups differ in length — exactly what this report makes
    // visible before anyone trains on the output. One left join of the
    // corpus against the label set + a partial-aggregable rollup.
    QueryDef(
      "c07_dedup_yield",
      (s, dir) => {
        import s.implicits._
        val labels = clusterLabels(s, dir)
        corpus(s, dir)
          .withColumn("n_toks", size(tokens($"text")).cast("long"))
          .join(labels, Seq("doc_id"), "left")
          .withColumn("kept", $"canon".isNull || $"canon" === $"doc_id")
          .withColumn("origin",
            when($"doc_id" >= 2000000L, "near_copy")
              .when($"doc_id" >= 1000000L, "exact_copy")
              .otherwise("original"))
          .groupBy($"origin")
          .agg(count(lit(1)).as("n_docs"),
            count(when($"kept", 1)).as("n_kept"),
            sum($"n_toks").as("tok_total"),
            sum(when($"kept", $"n_toks")).as("tok_kept"))
          .withColumn("tok_yield",
            round($"tok_kept".cast("double") / $"tok_total", 6))
          .orderBy($"origin")
      },
      Some(s"""$labelsSqlCore,
        scored AS (
          SELECT c.doc_id,
                 CASE WHEN c.doc_id >= 2000000 THEN 'near_copy'
                      WHEN c.doc_id >= 1000000 THEN 'exact_copy'
                      ELSE 'original' END AS origin,
                 (l.canon IS NULL OR l.canon = c.doc_id) AS kept,
                 CAST(len(t.toks) AS BIGINT) AS n_toks
          FROM corpus c
          JOIN tok t ON t.doc_id = c.doc_id
          LEFT JOIN labels l ON c.doc_id = l.doc_id)
        SELECT origin, COUNT(*) AS n_docs,
               COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
               CAST(SUM(n_toks) AS BIGINT) AS tok_total,
               CAST(SUM(CASE WHEN kept THEN n_toks END) AS BIGINT) AS tok_kept,
               round(CAST(SUM(CASE WHEN kept THEN n_toks END) AS DOUBLE)
                     / SUM(n_toks), 6) AS tok_yield
        FROM scored GROUP BY origin ORDER BY origin"""),
      doc = "dedup yield report: per-stratum doc and token-mass survival after dedup"),

    // ------------------------------------------------------------------
    // d29: EXACT-SUBSTRING SPAN DEDUP (the Lee et al. 2022
    // "Deduplicating Training Data Makes Language Models Better"
    // span-removal shape, fixed-L rolling-window form): a token
    // position is duplicated iff its L=8-token window occurs in ≥2
    // distinct documents AND this document is not the window's
    // canonical owner (min doc_id) — every copy loses the span, the
    // canonical document keeps it. Flagged window starts then merge
    // into maximal spans per document (gaps-and-islands: running-max
    // window end + island counter), and the report is per-doc span
    // count / removed-token mass — the numbers a span-removal pass
    // publishes before rewriting the corpus.
    //
    // Spark shape vs the suffix-array original: a distributed suffix
    // array is replaced by ONE gram shuffle keyed on md5(window) —
    // fixed-width 32-char keys, never raw text (same contract as the
    // shingle index). Duplication + ownership come from TWO window
    // aggregates over the gram partition instead of a groupBy+join:
    // "≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id), owner =
    // min(doc_id) — so the expensive gram kernel (md5 over L-token
    // slices) is evaluated ONCE and the (doc,pos) rows never meet a
    // join (a groupBy+join-back shape re-ran the whole explode for
    // the probe side: measured 5.8 s → 2.6 s at sf0.1). Cost is
    // O(total tokens) rows through 2 shuffles (gram window, doc
    // window), both AQE-sized. The islands pass is a per-doc sort
    // window — per-partition data is bounded by doc length, the same
    // cost shape at any corpus size. Exact copies (+1e6 ids) must
    // come out fully removed (removed_tokens = n_tokens) — the
    // planted-truth invariant the OperatorSpec asserts.
    QueryDef(
      "d29_substring_spans",
      (s, dir) => substringSpans(corpus(s, dir)),
      Some(s"""
        WITH corpus AS ($corpusSql),
        tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM corpus),
        grams AS (
          SELECT doc_id, len(toks) AS n, i - 1 AS pos,
                 md5(array_to_string(toks[i:i+7], ' ')) AS g
          FROM tok, UNNEST(range(1, GREATEST(len(toks) - 6, 1))) AS u(i)),
        stats AS (SELECT g, COUNT(DISTINCT doc_id) AS df, MIN(doc_id) AS owner
                  FROM grams GROUP BY g),
        cov AS (SELECT gr.doc_id, gr.n, gr.pos, gr.pos + 8 AS e
                FROM grams gr JOIN stats st USING (g)
                WHERE st.df >= 2 AND gr.doc_id <> st.owner),
        isl AS (SELECT doc_id, n, pos, e,
                  MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM cov),
        isl2 AS (SELECT doc_id, n, pos, e,
                  SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS island
                 FROM isl),
        spans AS (SELECT doc_id, n, island, MIN(pos) AS s, MAX(e) AS e2
                  FROM isl2 GROUP BY 1, 2, 3)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e2 - s) AS BIGINT) AS removed_tokens,
               CAST(n AS BIGINT) AS n_tokens
        FROM spans GROUP BY doc_id, n ORDER BY doc_id"""),
      doc = "exact-substring span dedup: L-token rolling windows, df>=2 non-owner flagging, gaps-and-islands span merge (Lee et al. span removal)"),

    // ------------------------------------------------------------------
    // c14: SPAN-SCRUBBED CORPUS EXPORT — the rewrite d29's report
    // implies: emit every surviving document's text with its duplicated
    // spans excised (fully-covered docs drop out entirely), plus the
    // kept-token count. This is the operator a pipeline actually runs
    // after deciding on span removal; d29 is its audit report.
    //
    // Shape (round-9 scale rewrite): the flagged starts collapse to
    // per-doc MERGED INTERVALS first (the shared d29 islands core —
    // rows ∝ flagged windows only), aggregate to one small sorted
    // interval array per flagged doc, and join the corpus ONCE at doc
    // granularity (AQE broadcasts the interval side on healthy
    // corpora — the corpus never shuffles). Reassembly is then pure
    // in-row: the kept segments are the complement of the merged
    // intervals ([0,s₁)∪[e₁,s₂)∪…∪[eₖ,n)), each sliced out of the
    // token array and flattened back — O(kept tokens) work per doc,
    // zero token-granular shuffles. The previous shape anti-joined
    // (doc, pos, token) rows against exploded covered positions and
    // re-collected them — two full-token shuffles that measured 90.8 s
    // at the ×100 scale sweep; this form removes both (token rows
    // never leave their document row).
    QueryDef(
      "c14_span_scrubbed_export",
      (s, dir) => {
        import s.implicits._
        val L = 8
        val docs = corpus(s, dir)
        val spans = mergedSpanIntervals(duplicateWindows(docs, L), L)
          .groupBy($"doc_id")
          .agg(sort_array(collect_list(struct($"s", $"e2"))).as("sp"))
        docs.withColumn("toks", tokens($"text"))
          .select($"doc_id", $"toks", size($"toks").as("n"))
          .join(spans, Seq("doc_id"), "left")
          .withColumn("kept", expr(
            """CASE WHEN sp IS NULL THEN toks ELSE
                 flatten(transform(
                   filter(transform(sequence(0, size(sp)),
                     i -> struct(IF(i = 0, 0, sp[i - 1].e2) AS b,
                                 IF(i = size(sp), n, sp[i].s) AS t)),
                     g -> g.t > g.b),
                   g -> slice(toks, g.b + 1, g.t - g.b)))
               END"""))
          .filter(size($"kept") > 0)
          .select($"doc_id", size($"kept").cast("long").as("n_kept"),
            array_join($"kept", " ").as("clean_text"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH corpus AS ($corpusSql),
        tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM corpus),
        grams AS (SELECT doc_id, len(toks) AS n, i - 1 AS pos,
                         md5(array_to_string(toks[i:i+7], ' ')) AS g
                  FROM tok, UNNEST(range(1, GREATEST(len(toks) - 6, 1))) AS u(i)),
        stats AS (SELECT g, COUNT(DISTINCT doc_id) AS df, MIN(doc_id) AS owner
                  FROM grams GROUP BY g),
        cov AS (SELECT DISTINCT gr.doc_id, gr.pos + o.off AS p
                FROM grams gr JOIN stats st USING (g), UNNEST(range(0, 8)) AS o(off)
                WHERE st.df >= 2 AND gr.doc_id <> st.owner),
        toksp AS (SELECT t.doc_id, u.i - 1 AS p, toks[u.i] AS w
                  FROM tok t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
        kept AS (SELECT tp.doc_id, tp.p, tp.w FROM toksp tp
                 LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.p = c.p
                 WHERE c.p IS NULL)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(w, ' ' ORDER BY p) AS clean_text
        FROM kept GROUP BY doc_id ORDER BY doc_id"""),
      doc = "span-scrubbed corpus export: duplicated spans excised from surviving docs, deterministic token reassembly"),

    // ------------------------------------------------------------------
    // d30: INCREMENTAL substring-span dedup — d29's answer to "a new
    // crawl batch arrived; do NOT re-scan the corpus" (the d13/d19/d28
    // pattern applied to the substring family). The corpus splits by
    // the d28 convention into an existing 75% (doc_id % 4 != 3) and a
    // new batch (% 4 == 3). The existing side contributes only its
    // GRAM INDEX — gram → (min owner, present) — which at 100 TB is
    // the persisted, incrementally-maintained table (built in-query
    // here so the oracle can see it); its documents are never
    // re-flagged and their text never re-read by the incremental step.
    // A batch window is duplicated iff its gram exists in the index OR
    // in ≥2 distinct batch docs, and the doc is not the GLOBAL owner
    // (min of index owner and batch min — window aggregates over the
    // batch gram partition, the d29 shape). Incremental ≡ rebuild IS
    // the invariant: the oracle is d29's full-recompute SQL verbatim,
    // restricted to batch docs.
    QueryDef(
      "d30_incremental_substring",
      (s, dir) => {
        import s.implicits._
        val L = 8
        val all = corpus(s, dir)
        val idx = gramsOf(all.filter($"doc_id" % 4 =!= 3), L)
          .groupBy($"g").agg(min($"doc_id").as("old_owner"))
        val wG = Window.partitionBy($"g")
        val flagged = gramsOf(all.filter($"doc_id" % 4 === 3), L)
          .withColumn("new_min", min($"doc_id").over(wG))
          .withColumn("new_max", max($"doc_id").over(wG))
          .join(idx, Seq("g"), "left")
          .withColumn("owner", least(coalesce($"old_owner", $"new_min"), $"new_min"))
          .filter(($"old_owner".isNotNull || $"new_min" =!= $"new_max")
            && $"doc_id" =!= $"owner")
          .select($"doc_id", $"n", $"pos")
        spansFromFlagged(flagged, L)
      },
      Some(s"""
        WITH corpus AS ($corpusSql),
        tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM corpus),
        grams AS (
          SELECT doc_id, len(toks) AS n, i - 1 AS pos,
                 md5(array_to_string(toks[i:i+7], ' ')) AS g
          FROM tok, UNNEST(range(1, GREATEST(len(toks) - 6, 1))) AS u(i)),
        stats AS (SELECT g, COUNT(DISTINCT doc_id) AS df, MIN(doc_id) AS owner
                  FROM grams GROUP BY g),
        cov AS (SELECT gr.doc_id, gr.n, gr.pos, gr.pos + 8 AS e
                FROM grams gr JOIN stats st USING (g)
                WHERE st.df >= 2 AND gr.doc_id <> st.owner
                  AND gr.doc_id % 4 = 3),
        isl AS (SELECT doc_id, n, pos, e,
                  MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM cov),
        isl2 AS (SELECT doc_id, n, pos, e,
                  SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS island
                 FROM isl),
        spans AS (SELECT doc_id, n, island, MIN(pos) AS s, MAX(e) AS e2
                  FROM isl2 GROUP BY 1, 2, 3)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e2 - s) AS BIGINT) AS removed_tokens,
               CAST(n AS BIGINT) AS n_tokens
        FROM spans GROUP BY doc_id, n ORDER BY doc_id"""),
      doc = "incremental substring-span dedup: batch grams vs stored gram index, global ownership reconstructed; rebuild-equality oracle (d29 restricted to the batch)"),

    // ------------------------------------------------------------------
    // d31: STRUCTURED-RECORD linkage dedup (Fellegi-Sunter blocking +
    // agreement scoring) — the dedup family applied to RECORDS instead
    // of text/embeddings/media: dirty copies of customers (one
    // OCR-style digit→letter substitution in the name, planted for
    // custkey ≡ 5 mod 17 at key+10⁹) are re-identified by blocking on
    // (nationkey, name-suffix) and scoring each in-block pair on an
    // agreement vector: levenshtein(name) ≤ 1 (+40), segment equality
    // (+30), balance equality (+30); threshold 75 forces all three, so
    // survivors are exactly the planted links while near-miss
    // candidates (base customers colliding on a block with lev-1
    // names but differing balances) are generated AND rejected — the
    // false-positive surface is exercised, not avoided. Blocking
    // reuses `adaptiveBucketPairs`, so a pathological block (one
    // nation+suffix holding millions) routes through the same capped /
    // salted / dropped lanes as every LSH bucket; candidate scoring is
    // two keyed joins back to the records. levenshtein is the same
    // classic edit distance in both engines.
    QueryDef(
      "d31_record_linkage",
      (s, dir) => {
        import s.implicits._
        val base = Tables.load(s, dir, "customer")
        val dirty = base.filter($"c_custkey" % 17 === 5)
          .select(($"c_custkey" + 1000000000L).as("c_custkey"),
            concat(substring($"c_name", 1, 9), lit("O"),
              substring($"c_name", 11, 8)).as("c_name"),
            $"c_nationkey", $"c_acctbal", $"c_mktsegment")
        val recs = base.select($"c_custkey", $"c_name", $"c_nationkey",
            $"c_acctbal", $"c_mktsegment")
          .unionByName(dirty)
          .withColumn("bkey", concat($"c_nationkey".cast("string"), lit(":"),
            substring($"c_name", 15, 4)))
        val pairs = adaptiveBucketPairs(recs.select($"bkey", $"c_custkey"),
          Seq("bkey"), $"c_custkey", "d31_blocks")
          .select($"pa", $"pb")
        val a = recs.select($"c_custkey".as("pa"), $"c_name".as("name_a"),
          $"c_acctbal".as("bal_a"), $"c_mktsegment".as("seg_a"))
        val b = recs.select($"c_custkey".as("pb"), $"c_name".as("name_b"),
          $"c_acctbal".as("bal_b"), $"c_mktsegment".as("seg_b"))
        pairs.join(a, Seq("pa")).join(b, Seq("pb"))
          .select($"pa".as("a_key"), $"pb".as("b_key"),
            levenshtein($"name_a", $"name_b").cast("long").as("name_lev"),
            ($"seg_a" === $"seg_b").as("seg_eq"),
            ($"bal_a" === $"bal_b").as("bal_eq"))
          .withColumn("score",
            when($"name_lev" <= 1, 40L).otherwise(0L)
              + when($"seg_eq", 30L).otherwise(0L)
              + when($"bal_eq", 30L).otherwise(0L))
          .filter($"score" >= 75)
          .orderBy($"a_key", $"b_key")
      },
      Some("""
        WITH dirty AS (
          SELECT c_custkey + 1000000000 AS c_custkey,
                 substr(c_name, 1, 9) || 'O' || substr(c_name, 11, 8) AS c_name,
                 c_nationkey, c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 17 = 5),
        recs AS (
          SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          FROM customer
          UNION ALL SELECT * FROM dirty),
        keyed AS (
          SELECT CAST(c_nationkey AS VARCHAR) || ':' || substr(c_name, 15, 4)
                   AS bkey,
                 c_custkey, c_name, c_acctbal, c_mktsegment
          FROM recs),
        cand AS (
          SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
                 CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS name_lev,
                 a.c_mktsegment = b.c_mktsegment AS seg_eq,
                 a.c_acctbal = b.c_acctbal AS bal_eq
          FROM keyed a JOIN keyed b
            ON a.bkey = b.bkey AND a.c_custkey < b.c_custkey),
        scored AS (
          SELECT a_key, b_key, name_lev, seg_eq, bal_eq,
                 CAST(CASE WHEN name_lev <= 1 THEN 40 ELSE 0 END
                      + CASE WHEN seg_eq THEN 30 ELSE 0 END
                      + CASE WHEN bal_eq THEN 30 ELSE 0 END AS BIGINT) AS score
          FROM cand)
        SELECT a_key, b_key, name_lev, seg_eq, bal_eq, score
        FROM scored WHERE score >= 75
        ORDER BY a_key, b_key"""),
      doc = "structured-record linkage dedup: blocking via the adaptive pair router + agreement-vector scoring (name edit distance, segment, balance); planted OCR variants re-identified, near-miss candidates rejected"),

    // ------------------------------------------------------------------
    // d32: MinHash ESTIMATOR-ACCURACY AUDIT — the q61/q72 "trust but
    // verify the sketch" pattern applied to the dedup sketch itself:
    // for every LSH candidate pair, the signature-agreement estimate
    // (matching lanes / 8, the textbook unbiased MinHash estimator of
    // Jaccard) is compared against the EXACT shingle-set Jaccard, with
    // an integer cross-multiplied tolerance verdict (|m/8 − i/u| ≤ ¼
    // ⟺ |m·u − 8·i| ≤ 2·u — no float boundary can disagree between
    // engines). This is the calibration report that justifies the d03
    // banding parameters in production: systematic verdict failures
    // mean the 8-lane signature is too coarse for the corpus.
    //
    // Shape: candidates come from the shared adaptive-router core
    // (never all-pairs); each pair side then fetches ONE per-doc
    // feature row carrying both the 8-lane signature array and the
    // distinct shingle set, so the corpus feature kernel runs once per
    // side (a first cut joined signatures and sets separately — four
    // corpus scans; consolidating to one projection measured 56.7 s →
    // see BASELINE.md at the ×100 sweep). Lane agreement and exact
    // Jaccard are both in-row folds — no shingle ever re-shuffles. At
    // 100 TB the feature side is the STORED d19 signature index, not a
    // recompute.
    QueryDef(
      "d32_minhash_estimator_audit",
      (s, dir) => {
        import s.implicits._
        val feats = corpus(s, dir)
          .withColumn("toks", tokens($"text"))
          .withColumn("sh", shingles("toks"))
          .withColumn("mhs", expr("minhash_lanes(sh, 8)"))
          .withColumn("ss", array_distinct(
            transform($"sh", x => substring(md5(x), 1, 16))))
          .select($"doc_id", $"mhs", $"ss")
        lshCandidatePairs(s, dir)
          .join(feats.select($"doc_id".as("doc_a"), $"mhs".as("ma"),
            $"ss".as("sa")), "doc_a")
          .join(feats.select($"doc_id".as("doc_b"), $"mhs".as("mb"),
            $"ss".as("sb")), "doc_b")
          .withColumn("matches", expr(
            "aggregate(zip_with(ma, mb, (x, y) -> IF(x = y, 1L, 0L)), 0L, (a, v) -> a + v)"))
          .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("long"))
          .withColumn("uni",
            size($"sa").cast("long") + size($"sb").cast("long") - $"inter")
          .select($"doc_a", $"doc_b", $"matches", $"inter", $"uni",
            (abs($"matches" * $"uni" - lit(8L) * $"inter") <= lit(2L) * $"uni")
              .as("within_tol"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some(s"""$lshPairsSqlCore,
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform(sh, x -> substr(md5(x), 1, 16)))
                   AS ss
          FROM shi),
        audited AS (
          SELECT p.doc_a, p.doc_b,
                 CAST(${(0 until 8).map(i =>
                   s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
                   .mkString(" + ")} AS BIGINT) AS matches,
                 CAST(len(list_intersect(sa.ss, sb.ss)) AS BIGINT) AS inter,
                 CAST(len(sa.ss) + len(sb.ss)
                      - len(list_intersect(sa.ss, sb.ss)) AS BIGINT) AS uni
          FROM pairs p
          JOIN sig a ON a.doc_id = p.doc_a
          JOIN sig b ON b.doc_id = p.doc_b
          JOIN sets sa ON sa.doc_id = p.doc_a
          JOIN sets sb ON sb.doc_id = p.doc_b)
        SELECT doc_a, doc_b, matches, inter, uni,
               abs(matches * uni - 8 * inter) <= 2 * uni AS within_tol
        FROM audited ORDER BY doc_a, doc_b"""),
      doc = "MinHash estimator-accuracy audit: per-candidate signature-agreement estimate vs exact shingle Jaccard, integer cross-multiplied tolerance verdicts"),

    // ------------------------------------------------------------------
    // c17: DEDUP PROVENANCE MANIFEST — the lineage record a curation
    // pipeline must publish alongside d09's survivor corpus: for every
    // multi-document cluster, the canonical survivor plus the SORTED
    // list of documents it absorbed. This is what makes a dedup pass
    // auditable (and reversible) downstream: takedown requests, license
    // audits, and eval-contamination tracebacks all resolve through it.
    // Shape: one grouped pass over the shared memoized cluster labels
    // (collect_list is bounded by cluster size — the same contract as
    // q74's per-day key cardinality), no joins beyond the label read.
    QueryDef(
      "c17_dedup_provenance",
      (s, dir) => {
        import s.implicits._
        clusterLabels(s, dir)
          .filter($"canon" =!= $"doc_id")
          .groupBy($"canon".as("survivor"))
          .agg(count(lit(1)).as("n_removed"),
            sort_array(collect_list($"doc_id")).as("removed_arr"))
          // Raw ARRAY output crashes the driver's pandas comparator
          // (unhashable numpy arrays under sort_values — the q64
          // lesson). Serialize the absorbed-doc list to its canonical
          // CSV string, matching the oracle's array_to_string exactly.
          .select($"survivor", $"n_removed",
            expr("concat_ws(',', cast(removed_arr as array<string>))")
              .as("removed"))
          .orderBy($"survivor")
      },
      Some(s"""$labelsSqlCore
        SELECT canon AS survivor, COUNT(*) AS n_removed,
               array_to_string(list(doc_id ORDER BY doc_id), ',') AS removed
        FROM labels WHERE canon <> doc_id
        GROUP BY canon ORDER BY survivor"""),
      doc = "dedup provenance manifest: per-cluster survivor with the sorted absorbed-document list — the lineage record takedowns and contamination tracebacks resolve through"),

    // ------------------------------------------------------------------
    // d33: BAG-OF-WORDS (reordering-invariant) dedup — the blind spot
    // between d01 and d03: a copy whose sentences/paragraphs were
    // SHUFFLED has a different exact hash AND mostly different
    // shingles (every 3-gram spanning a cut point changes), yet it is
    // the same document. The order-free fingerprint md5(sorted token
    // multiset) catches exactly this class: the corpus plants
    // token-rotated copies (first word moved to the end — a minimal
    // reorder no shingle window survives intact at the boundary), and
    // the report keeps clusters where >1 docs share a bag but carry
    // >1 distinct exact texts, i.e. reordering is actually involved.
    // Shape: fingerprint is one in-row sort_array over the token
    // array (map-only — a doc's tokens never leave its row), then a
    // single 32-byte-key groupBy; the cheapest near-dup pass there is,
    // which is why real pipelines run it between exact and MinHash.
    QueryDef(
      "d33_bag_of_words_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
        val rotated = docs.filter($"doc_id" % 10 === 3)
          .select(($"doc_id" + 4000000L).as("doc_id"),
            when(instr($"text", " ") > 0, concat(
              expr("substring(text, instr(text, ' ') + 1)"), lit(" "),
              expr("substring(text, 1, instr(text, ' ') - 1)")))
              .otherwise($"text").as("text"))
        docs.unionByName(rotated)
          .withColumn("bag", md5(array_join(sort_array(tokens($"text")), " ")))
          .withColumn("exact", md5($"text"))
          .groupBy($"bag")
          .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_docs"),
            countDistinct($"exact").as("n_texts"))
          .filter($"n_docs" > 1 && $"n_texts" > 1)
          .select($"keeper", $"n_docs", $"n_texts")
          .orderBy($"keeper")
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 4000000,
                 CASE WHEN instr(text, ' ') > 0
                      THEN substr(text, instr(text, ' ') + 1) || ' '
                           || substr(text, 1, instr(text, ' ') - 1)
                      ELSE text END
          FROM documents WHERE doc_id % 10 = 3),
        fp AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(
                   regexp_split_to_array(lower(trim(text)), '\s+')), ' ')) AS bag,
                 md5(text) AS ex
          FROM corpus)
        SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_docs,
               COUNT(DISTINCT ex) AS n_texts
        FROM fp GROUP BY bag
        HAVING COUNT(*) > 1 AND COUNT(DISTINCT ex) > 1
        ORDER BY keeper"""),
      doc = "bag-of-words reordering-invariant dedup: md5(sorted token multiset) fingerprint, map-only, catches shuffled copies exact hash and shingles both miss"),

    // ------------------------------------------------------------------
    // d34: VARIABLE-LENGTH exact-substring spans with EXACT boundaries —
    // the Lee-et-al fidelity item d29 summarizes away (VERDICT r9 #5):
    // d29 reports per-doc span counts/mass; d34 emits the maximal shared
    // spans THEMSELVES, (span_start, span_end), and proves the
    // L-gram + gaps-and-islands composition recovers true span
    // semantics at ANY length ≥ L: the planted truth covers spans of
    // exactly L (=8: one flagged window — the minimum detectable),
    // 2L-1 (=15: L-1 overlapping windows merging across window
    // boundaries into one island), and 5L (=40: a long quote). The
    // plant is private-pair salted (donor tokens carry the pair's
    // doc_id, receiver filler is per-doc unique), so each receiver's
    // ONLY shared grams are its planted span — boundaries are closed
    // form and the oracle checks them exactly. Scale shape: identical
    // to d29 — one md5-gram shuffle, per-doc islands window; emitting
    // boundaries instead of counts adds nothing to the exchange.
    QueryDef(
      "d34_varlen_substring_spans",
      (s, dir) => {
        import s.implicits._
        val base = Tables.load(s, dir, "documents")
          .filter($"doc_id" % 10 === 6)
          .select($"doc_id", tokens($"text").as("toks"))
          .filter(size($"toks") >= 40)
          .withColumn("st",
            expr("transform(toks, t -> concat(t, 'd', CAST(doc_id AS STRING)))"))
          .withColumn("k", when($"doc_id" % 3 === 0, 8)
            .when($"doc_id" % 3 === 1, 15).otherwise(40))
        val donors = base.select(($"doc_id" + 5000000L).as("doc_id"),
          array_join($"st", " ").as("text"))
        val receivers = base.select(($"doc_id" + 6000000L).as("doc_id"),
          array_join(concat(
            expr("transform(sequence(0, 4), " +
              "i -> concat('fp', CAST(doc_id AS STRING), 'x', CAST(i AS STRING)))"),
            expr("slice(st, 1, k)"),
            expr("transform(sequence(0, 4), " +
              "i -> concat('fq', CAST(doc_id AS STRING), 'x', CAST(i AS STRING)))")),
            " ").as("text"))
        mergedSpanIntervals(
          duplicateWindows(donors.unionByName(receivers), 8), 8)
          .select($"doc_id", $"s".cast("long").as("span_start"),
            $"e2".cast("long").as("span_end"),
            ($"e2" - $"s").cast("long").as("span_len"))
          .orderBy($"doc_id", $"span_start")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE doc_id % 10 = 6),
        big AS (SELECT doc_id,
                       list_transform(toks, t -> t || 'd' || doc_id) AS st,
                       CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 15
                            ELSE 40 END AS k
                FROM base WHERE len(toks) >= 40),
        corpus AS (
          SELECT doc_id + 5000000 AS doc_id, st AS toks FROM big
          UNION ALL
          SELECT doc_id + 6000000 AS doc_id,
                 list_concat(list_concat(
                   list_transform(range(0, 5), i -> 'fp' || doc_id || 'x' || i),
                   st[1:k]),
                   list_transform(range(0, 5), i -> 'fq' || doc_id || 'x' || i))
          FROM big),
        grams AS (
          SELECT doc_id, i - 1 AS pos,
                 md5(array_to_string(toks[i:i+7], ' ')) AS g
          FROM corpus, UNNEST(range(1, GREATEST(len(toks) - 6, 1))) AS u(i)),
        stats AS (SELECT g, COUNT(DISTINCT doc_id) AS df, MIN(doc_id) AS owner
                  FROM grams GROUP BY g),
        cov AS (SELECT gr.doc_id, gr.pos, gr.pos + 8 AS e
                FROM grams gr JOIN stats st USING (g)
                WHERE st.df >= 2 AND gr.doc_id <> st.owner),
        isl AS (SELECT doc_id, pos, e,
                  MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM cov),
        isl2 AS (SELECT doc_id, pos, e,
                  SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS island
                 FROM isl)
        SELECT doc_id, MIN(pos) AS span_start, MAX(e) AS span_end,
               MAX(e) - MIN(pos) AS span_len
        FROM isl2 GROUP BY doc_id, island
        ORDER BY doc_id, span_start"""),
      doc = "variable-length exact-substring spans with exact boundaries: private-pair salted plants at L, 2L-1, and 5L tokens prove gram windows + island merge recover true Lee-et-al span semantics at any length >= L"),

    // ------------------------------------------------------------------
    // d35: STORED-LABEL LIFECYCLE — d19's persisted-index contract
    // applied to d08's cluster labels (VERDICT r9 #4), end to end:
    // (1) offline build persists the OLD corpus' labels to a FactTable;
    // (2) a new batch arrives and the store is maintained INCREMENTALLY
    // with d28's star contraction — stored labels contract to
    // (member → canon) edges, propagation runs over those plus only the
    // NEW batch's candidate pairs, and only the CHANGED labels merge
    // back (mergeInto broadcasts just the delta keys, so maintenance
    // cost scales with the batch, not the corpus); (3) the consumer
    // reads ONE stored-table scan — the cold-session cost every
    // downstream session pays after clusterLabels' store is built.
    // Incremental ≡ rebuild is the oracle: the stored table after the
    // merge must equal propagating the FULL corpus graph from scratch
    // (d28's rebuild-equality contract, now asserted THROUGH the store).
    QueryDef(
      "d35_stored_label_lifecycle",
      (s, dir) => {
        import s.implicits._
        val pairs = truncate(lshCandidatePairs(s, dir))
        val oldPairs = pairs.filter($"doc_a" % 4 =!= 3 && $"doc_b" % 4 =!= 3)
        val newPairs = pairs.filter($"doc_a" % 4 === 3 || $"doc_b" % 4 === 3)
        val dt = to_date(lit("2024-01-01"))
        val t = new graft.storage.FactTable(graft.TempDirs.scratch("d35_labels"), s)
        // offline build: persist the old corpus' labels (v0)
        t.append(propagateMinLabels(oldPairs).withColumn("date", dt), 0)
        // incremental maintenance against the STORE
        val stored = t.read().select($"doc_id", $"canon")
        val contracted = stored.filter($"doc_id" =!= $"canon")
          .select($"doc_id".as("doc_a"), $"canon".as("doc_b"))
          .unionByName(newPairs.select($"doc_a", $"doc_b"))
        val updated = propagateMinLabels(contracted)
        val delta = updated
          .join(stored.withColumnRenamed("canon", "old_canon"),
            Seq("doc_id"), "left")
          .filter($"old_canon".isNull || $"old_canon" =!= $"canon")
          .select($"doc_id", $"canon")
        t.mergeInto(delta.withColumn("date", dt), Seq("doc_id"))
        // cold consumer: one stored-table scan + the d28 report
        val lab = t.read().select($"doc_id", $"canon")
        val sizes = lab.groupBy($"canon").agg(count(lit(1)).as("cluster_size"))
        lab.join(sizes, "canon")
          .select($"doc_id", $"canon", $"cluster_size")
          .orderBy($"doc_id")
      },
      Some(s"""$labelsSqlCore,
        sizes AS (SELECT canon, CAST(COUNT(*) AS BIGINT) AS cluster_size
                  FROM labels GROUP BY canon)
        SELECT l.doc_id, l.canon, s.cluster_size
        FROM labels l JOIN sizes s ON l.canon = s.canon
        ORDER BY l.doc_id"""),
      doc = "stored cluster-label lifecycle: offline label build persisted via FactTable, star-contracted incremental merge of only the changed labels, one-scan stored read; incremental == rebuild oracle"),

    // ------------------------------------------------------------------
    // d36: SUBSCRIBED LABEL MAINTENANCE — the full production subscribe
    // loop, closing what d35 shortcuts: d35 derives the new batch's
    // pairs by filtering the FULL corpus pair graph (touches every
    // document); d36's maintenance path touches only (a) the CHANGE
    // FEED (dx28's changesBetween — the batch rows, O(batch)), (b) the
    // STORED band index (d19's contract — one indexed-table read,
    // batch bands broadcast against it, corpus text never re-read),
    // and (c) the STORED labels (star contraction, d28). The changed
    // labels delta-merge back and the band index grows by the batch's
    // bands — both tables then serve the next batch. This is exactly
    // the cadence a 100 TB deployment runs between periodic rebuilds:
    // per batch, work ∝ batch size. Oracle: full-graph rebuild (d28's
    // contract, asserted through BOTH stores); the band-join pair
    // derivation equals the adaptive router's at gate SFs because no
    // cap/drop lane fires there (d03's own oracle asserts that).
    QueryDef(
      "d36_subscribed_label_maintenance",
      (s, dir) => {
        import s.implicits._
        val all = corpus(s, dir)
        val old = all.filter($"doc_id" % 4 =!= 3)
        val dt = to_date(lit("2024-01-01"))
        def tmp(p: String) = graft.TempDirs.scratch(p)
        // ---- offline state: docs table (v0 old, v1 batch), band index,
        // label store — the artifacts a deployment already has
        val docsT = new graft.storage.FactTable(tmp("d36_docs"), s)
        docsT.append(old.withColumn("date", dt), 0)
        docsT.append(all.filter($"doc_id" % 4 === 3).withColumn("date", dt), 1)
        val bandT = new graft.storage.FactTable(tmp("d36_bands"), s)
        bandT.append(bandIndexOf(old).withColumn("date", dt), 0)
        // the offline labels are built FROM the stored band index (the
        // minhash kernel runs once, for the index write; restricting
        // bands to old docs yields exactly the old-old pair set)
        val labelT = new graft.storage.FactTable(tmp("d36_labels"), s)
        labelT.append(propagateMinLabels(
          adaptiveBucketPairs(
            bandT.read().select($"band", $"bval", $"doc_id"),
            Seq("band", "bval"), $"doc_id", "d36_blocks")
            .select(col("pa").as("doc_a"), col("pb").as("doc_b"))
            .distinct())
          .withColumn("date", dt), 0)
        // ---- maintenance: driven entirely by the change feed
        val fed = docsT.changesBetween(1, 1)
          .filter($"_change_type" === "insert").select($"doc_id", $"text")
        val newBands = bandIndexOf(fed)
        bandT.append(newBands.withColumn("date", dt), 1) // index growth
        val probe = newBands.select($"doc_id".as("nid"), $"band", $"bval")
        val newPairs = bandT.read().select($"doc_id", $"band", $"bval")
          .join(broadcast(probe), Seq("band", "bval"))
          .filter($"doc_id" =!= $"nid")
          .select(least($"doc_id", $"nid").as("doc_a"),
            greatest($"doc_id", $"nid").as("doc_b"))
          .distinct()
        val stored = labelT.read().select($"doc_id", $"canon")
        val contracted = stored.filter($"doc_id" =!= $"canon")
          .select($"doc_id".as("doc_a"), $"canon".as("doc_b"))
          .unionByName(newPairs)
        val updated = propagateMinLabels(contracted)
        val delta = updated
          .join(stored.withColumnRenamed("canon", "old_canon"),
            Seq("doc_id"), "left")
          .filter($"old_canon".isNull || $"old_canon" =!= $"canon")
          .select($"doc_id", $"canon")
        labelT.mergeInto(delta.withColumn("date", dt), Seq("doc_id"))
        // ---- consumer: one stored-table scan + the d28 report
        val lab = labelT.read().select($"doc_id", $"canon")
        val sizes = lab.groupBy($"canon").agg(count(lit(1)).as("cluster_size"))
        lab.join(sizes, "canon")
          .select($"doc_id", $"canon", $"cluster_size")
          .orderBy($"doc_id")
      },
      Some(s"""$labelsSqlCore,
        sizes AS (SELECT canon, CAST(COUNT(*) AS BIGINT) AS cluster_size
                  FROM labels GROUP BY canon)
        SELECT l.doc_id, l.canon, s.cluster_size
        FROM labels l JOIN sizes s ON l.canon = s.canon
        ORDER BY l.doc_id"""),
      doc = "subscribed label maintenance: change feed -> batch bands broadcast against the stored band index -> star contraction against stored labels -> delta merge; per-batch work proportional to the batch, full-rebuild oracle through both stores"),

    // ------------------------------------------------------------------
    // d37: WEIGHTED (bag) JACCARD RE-RANK of the LSH candidates — the
    // refinement the unweighted set measure (d05) misses: two docs that
    // share a short boilerplate vocabulary repeated many times look
    // near-identical to SET Jaccard (every repeated token collapses to
    // one element), while weighted Jaccard Σmin(tf_a,tf_b)/Σmax(tf_a,
    // tf_b) scores the actual token-mass overlap — the SlimPajama-style
    // second pass. Computed EXACTLY on candidate pairs only (d03's LSH
    // kernel bounds the quadratic; the corpus never self-pairs), with
    // pure integer math: Σmax = n_a + n_b − Σmin identities keep the
    // score a ppm integer — no float division to drift cross-engine.
    // Pairs with no shared tokens surface as wmin = 0 (left join), so
    // the re-rank also AUDITS the LSH layer: a candidate with tiny
    // weighted overlap is a banding false positive.
    QueryDef(
      "d37_weighted_jaccard_rerank",
      (s, dir) => {
        import s.implicits._
        val pairs = lshCandidatePairs(s, dir)
        val tf = corpus(s, dir)
          .select($"doc_id", explode(tokens($"text")).as("token"))
          .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
        val sz = tf.groupBy($"doc_id").agg(sum($"tf").as("n"))
        val inter = pairs
          .join(tf.as("ta"), $"doc_a" === $"ta.doc_id")
          .join(tf.as("tb"),
            $"doc_b" === $"tb.doc_id" && $"ta.token" === $"tb.token")
          .groupBy($"doc_a", $"doc_b")
          .agg(sum(least($"ta.tf", $"tb.tf")).as("wmin"))
        pairs
          .join(inter, Seq("doc_a", "doc_b"), "left")
          .na.fill(0L, Seq("wmin"))
          .join(sz.as("sa"), $"doc_a" === $"sa.doc_id")
          .join(sz.as("sb"), $"doc_b" === $"sb.doc_id")
          .select($"doc_a", $"doc_b",
            $"sa.n".as("n_a"), $"sb.n".as("n_b"), $"wmin",
            expr("(1000000 * wmin) div (sa.n + sb.n - wmin)").as("wj_ppm"))
          .withColumn("is_dup", $"wj_ppm" >= 500000)
          .orderBy($"doc_a", $"doc_b")
      },
      Some(s"""$lshPairsSqlCore,
        tf AS (SELECT doc_id, token, COUNT(*) AS tf
               FROM (SELECT doc_id, unnest(toks) AS token FROM tok)
               GROUP BY 1, 2),
        sz AS (SELECT doc_id, SUM(tf) AS n FROM tf GROUP BY 1),
        inter AS (
          SELECT p.doc_a, p.doc_b, SUM(LEAST(a.tf, b.tf)) AS wmin
          FROM pairs p
          JOIN tf a ON a.doc_id = p.doc_a
          JOIN tf b ON b.doc_id = p.doc_b AND b.token = a.token
          GROUP BY 1, 2)
        SELECT p.doc_a, p.doc_b,
               CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
               CAST(COALESCE(i.wmin, 0) AS BIGINT) AS wmin,
               (1000000 * CAST(COALESCE(i.wmin, 0) AS BIGINT))
                 // CAST(sa.n + sb.n - COALESCE(i.wmin, 0) AS BIGINT) AS wj_ppm,
               (1000000 * CAST(COALESCE(i.wmin, 0) AS BIGINT))
                 // CAST(sa.n + sb.n - COALESCE(i.wmin, 0) AS BIGINT)
                 >= 500000 AS is_dup
        FROM pairs p
        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        JOIN sz sa ON sa.doc_id = p.doc_a
        JOIN sz sb ON sb.doc_id = p.doc_b
        ORDER BY p.doc_a, p.doc_b"""),
      doc = "weighted (bag) Jaccard re-rank of LSH candidates: exact integer token-mass overlap (Sum-min / Sum-max via the n_a+n_b-wmin identity, ppm score, no float division) on candidate pairs only; zero-overlap candidates expose banding false positives"),

    // ------------------------------------------------------------------
    // d38: b-BIT MINHASH AUDIT (Li & König, "b-Bit Minwise Hashing",
    // WWW'10) — the signature-COMPRESSION counterpart of d32's accuracy
    // audit. Production near-dup indexes at 100 TB are storage-bound:
    // the d19 stored index carries 8 × 64-bit lanes per document, and
    // b-bit minhashing keeps only the low b bits of each lane — at
    // b = 1 that is a 64× smaller index. The estimator changes: for
    // 1-bit lanes E[agreement] = ½ + J/2 (two unrelated sets still
    // agree on half their bits by chance), so Ĵ = 2·(agree/k) − 1.
    // This entry reports, per LSH candidate pair, the 1-bit agreement
    // count, the debiased estimate, and an integer cross-multiplied
    // tolerance verdict against the EXACT shingle Jaccard
    // (|(2a−k)/k − i/u| ≤ ½ ⟺ |(2a−8)·u − 8·i| ≤ 4u at k = 8 — no
    // float boundary can disagree between engines). Systematic verdict
    // failures at a chosen b mean the compressed index needs more lanes
    // (the paper's k·b tradeoff) — the calibration a production
    // deployment runs BEFORE shrinking its index.
    //
    // The low bit of each 16-hex-char lane is its last hex digit's
    // parity — a byte-compare both engines spell identically. Shape =
    // d32: candidates from the shared adaptive router (never
    // all-pairs), ONE per-doc feature projection per side, bit
    // agreement and exact Jaccard both in-row folds.
    QueryDef(
      "d38_bbit_minhash_audit",
      (s, dir) => {
        import s.implicits._
        val lowBits =
          "transform(mhs, x -> IF(substring(x, 16, 1) IN " +
            "('1','3','5','7','9','b','d','f'), 1L, 0L))"
        val feats = corpus(s, dir)
          .withColumn("toks", tokens($"text"))
          .withColumn("sh", shingles("toks"))
          .withColumn("mhs", expr("minhash_lanes(sh, 8)"))
          .withColumn("bits", expr(lowBits))
          .withColumn("ss", array_distinct(
            transform($"sh", x => substring(md5(x), 1, 16))))
          .select($"doc_id", $"bits", $"ss")
        lshCandidatePairs(s, dir)
          .join(feats.select($"doc_id".as("doc_a"), $"bits".as("ba"),
            $"ss".as("sa")), "doc_a")
          .join(feats.select($"doc_id".as("doc_b"), $"bits".as("bb"),
            $"ss".as("sb")), "doc_b")
          .withColumn("agree", expr(
            "aggregate(zip_with(ba, bb, (x, y) -> IF(x = y, 1L, 0L)), 0L, (a, v) -> a + v)"))
          .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("long"))
          .withColumn("uni",
            size($"sa").cast("long") + size($"sb").cast("long") - $"inter")
          .select($"doc_a", $"doc_b", $"agree",
            (lit(2L) * $"agree" - lit(8L)).as("jhat_x8"),
            $"inter", $"uni",
            (abs((lit(2L) * $"agree" - lit(8L)) * $"uni" - lit(8L) * $"inter")
              <= lit(4L) * $"uni").as("within_tol"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some(s"""$lshPairsSqlCore,
        bits AS (
          SELECT doc_id,
                 ${(0 until 8).map(i =>
                   s"CASE WHEN substr(mh$i, 16, 1) IN " +
                     "('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END " +
                     s"AS b$i").mkString(", ")}
          FROM sig),
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform(sh, x -> substr(md5(x), 1, 16)))
                   AS ss
          FROM shi),
        audited AS (
          SELECT p.doc_a, p.doc_b,
                 CAST(${(0 until 8).map(i =>
                   s"CASE WHEN a.b$i = b.b$i THEN 1 ELSE 0 END")
                   .mkString(" + ")} AS BIGINT) AS agree,
                 CAST(len(list_intersect(sa.ss, sb.ss)) AS BIGINT) AS inter,
                 CAST(len(sa.ss) + len(sb.ss)
                      - len(list_intersect(sa.ss, sb.ss)) AS BIGINT) AS uni
          FROM pairs p
          JOIN bits a ON a.doc_id = p.doc_a
          JOIN bits b ON b.doc_id = p.doc_b
          JOIN sets sa ON sa.doc_id = p.doc_a
          JOIN sets sb ON sb.doc_id = p.doc_b)
        SELECT doc_a, doc_b, agree, 2 * agree - 8 AS jhat_x8, inter, uni,
               abs((2 * agree - 8) * uni - 8 * inter) <= 4 * uni AS within_tol
        FROM audited ORDER BY doc_a, doc_b"""),
      doc = "b-bit (b=1) MinHash compression audit: low-bit lane agreement with the 2a/k-1 debiased Jaccard estimate vs exact shingle Jaccard, integer cross-multiplied tolerance — the k*b calibration run before shrinking a stored near-dup index 64x"),

    // ------------------------------------------------------------------
    // d39: ONE-PERMUTATION HASHING audit (Li, Owen & Zhang, NIPS'12;
    // rotation densification per Shrivastava & Li, ICML'14) — the
    // COMPUTE half of the signature-cost story, alongside d38's storage
    // half: classic k-lane MinHash hashes every shingle k times
    // (minhash_lanes evaluates k salted hashes per element), while OPH
    // hashes each shingle ONCE and partitions the hash space into k
    // bins, taking the min within each bin — a k× hashing-cost
    // reduction that matters when the 100 TB corpus pays the signature
    // kernel on every document. Empty bins (the small-document regime)
    // are densified by borrowing the nearest non-empty bin clockwise
    // (the rotation scheme), keeping collision probability ≈ J.
    //
    // Lanes are per-bin minima of the 16-hex shingle fingerprints the
    // d32 pipeline already carries; the bin is the fingerprint's last
    // nibble mod 8 (bin bits and min order share one hash — standard
    // OPH). Densification is an 8-term clockwise coalesce — closed-form
    // and identical in both engines. The audit mirrors d32/d38: per LSH
    // candidate pair, densified-lane agreement (the OPH Jaccard
    // estimator) vs exact shingle Jaccard with the integer
    // cross-multiplied ±¼ tolerance, plus each side's empty-bin count
    // (the densification-pressure diagnostic: high n_empty = the doc is
    // too small for this k, the knob the paper's variance analysis
    // turns on).
    QueryDef(
      "d39_oph_minhash_audit",
      (s, dir) => {
        import s.implicits._
        // ONE pass over the fingerprints: each element's bin is derived
        // once, then folded into an 8-slot running-min array (the first
        // cut ran 8 filter() passes, re-deriving conv(substring(..)) for
        // every element 8 times — measured 109.5 → 53.2 s at the ×100
        // sweep; this is the OPH paper's cost model made literal)
        val binMins =
          """aggregate(
               transform(ss, e -> named_struct(
                 'b', CAST(conv(substring(e, 16, 1), 16, 10) AS INT) % 8,
                 'v', e)),
               array_repeat(CAST(NULL AS STRING), 8),
               (acc, p) -> transform(acc, (cur, i) ->
                 IF(p.b = i AND (cur IS NULL OR p.v < cur), p.v, cur)))"""
        val densified =
          "transform(sequence(0, 7), b -> coalesce(" +
            (0 until 8).map(r => s"element_at(m, (b + $r) % 8 + 1)")
              .mkString(", ") + "))"
        val feats = corpus(s, dir)
          .withColumn("toks", tokens($"text"))
          .withColumn("sh", shingles("toks"))
          .withColumn("ss", array_distinct(
            transform($"sh", x => substring(md5(x), 1, 16))))
          .withColumn("m", expr(binMins))
          .withColumn("oph", expr(densified))
          .withColumn("n_empty", expr(
            "size(filter(m, x -> x IS NULL))").cast("long"))
          .select($"doc_id", $"oph", $"n_empty", $"ss")
        lshCandidatePairs(s, dir)
          .join(feats.select($"doc_id".as("doc_a"), $"oph".as("oa"),
            $"n_empty".as("n_empty_a"), $"ss".as("sa")), "doc_a")
          .join(feats.select($"doc_id".as("doc_b"), $"oph".as("ob"),
            $"n_empty".as("n_empty_b"), $"ss".as("sb")), "doc_b")
          .withColumn("agree", expr(
            "aggregate(zip_with(oa, ob, (x, y) -> IF(x <=> y, 1L, 0L)), 0L, (a, v) -> a + v)"))
          .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("long"))
          .withColumn("uni",
            size($"sa").cast("long") + size($"sb").cast("long") - $"inter")
          .select($"doc_a", $"doc_b", $"agree", $"n_empty_a", $"n_empty_b",
            $"inter", $"uni",
            (abs($"agree" * $"uni" - lit(8L) * $"inter") <= lit(2L) * $"uni")
              .as("within_tol"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some {
        def oBin(e: String) =
          s"(strpos('0123456789abcdef', substr($e, 16, 1)) - 1) % 8"
        val oMins = (0 until 8).map(b =>
          s"list_min(list_filter(ss, e -> ${oBin("e")} = $b)) AS m$b")
          .mkString(", ")
        val oDens = (0 until 8).map { b =>
          "COALESCE(" + (0 until 8).map(r => s"m${(b + r) % 8}")
            .mkString(", ") + s") AS o$b"
        }.mkString(", ")
        val oEmpty = (0 until 8).map(b =>
          s"CASE WHEN m$b IS NULL THEN 1 ELSE 0 END").mkString(" + ")
        val oAgree = (0 until 8).map(b =>
          s"CASE WHEN a.o$b IS NOT DISTINCT FROM b.o$b THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""$lshPairsSqlCore,
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform(sh, x -> substr(md5(x), 1, 16)))
                   AS ss
          FROM shi),
        mins AS (SELECT doc_id, ss, $oMins FROM sets),
        oph AS (
          SELECT doc_id, ss, $oDens, CAST($oEmpty AS BIGINT) AS n_empty
          FROM mins),
        audited AS (
          SELECT p.doc_a, p.doc_b,
                 CAST($oAgree AS BIGINT) AS agree,
                 a.n_empty AS n_empty_a, b.n_empty AS n_empty_b,
                 CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS inter,
                 CAST(len(a.ss) + len(b.ss)
                      - len(list_intersect(a.ss, b.ss)) AS BIGINT) AS uni
          FROM pairs p
          JOIN oph a ON a.doc_id = p.doc_a
          JOIN oph b ON b.doc_id = p.doc_b)
        SELECT doc_a, doc_b, agree, n_empty_a, n_empty_b, inter, uni,
               abs(agree * uni - 8 * inter) <= 2 * uni AS within_tol
        FROM audited ORDER BY doc_a, doc_b"""
      },
      doc = "one-permutation MinHash (OPH) audit: one hash per shingle binned into k=8 lanes with clockwise rotation densification of empty bins — the k-times hashing-cost reduction of the signature kernel — estimator agreement vs exact shingle Jaccard with integer tolerance, per-doc empty-bin pressure surfaced"),

    // ------------------------------------------------------------------
    // d40: CONTENT-DEFINED CHUNKING (CDC) dedup — the rsync/LBFS/backup
    // -class chunk-level dedup family, a different KERNEL from everything
    // in d01-d39: those dedup at document granularity (exact, estimated,
    // or span); CDC dedups STORAGE of near-identical document REVISIONS
    // by splitting each document where a rolling window's hash hits a
    // boundary pattern, so chunk boundaries are a function of CONTENT,
    // not offset. The defining property — the reason every backup system
    // and delta store uses it — is INSERTION RESILIENCE: a prefix edit
    // shifts every byte offset, but 8 chars past the edit the windows
    // re-synchronize and every downstream boundary (hence every chunk
    // fingerprint) realigns. The fixture proves it as a measured
    // counterfactual (the c21 discipline): each doc gets a 'PATCH: '
    // prefix revision; CDC chunks reuse nearly everything (first chunk
    // pays for the edit), while FIXED-size chunks at the same average
    // length reuse almost nothing (every boundary misaligned by 7).
    // Both chunkers run as pure higher-order expressions (filter/
    // transform/sequence over the text column — map-only, no UDF, no
    // explode: reuse is computed by one doc_id-keyed self-join over
    // bounded fingerprint arrays). The md5-of-window boundary test
    // stands in for a gear/Rabin rolling hash (same semantics; a
    // production build swaps in an O(1)-per-position codegen Expression)
    // and makes the oracle bit-identical. At 100 TB: revision-heavy
    // corpora (wikis, code, crawl re-fetches) store deltas instead of
    // copies, and the whole pass is one map + one co-partitioned join.
    QueryDef(
      "d40_cdc_chunk_dedup",
      (s, dir) => {
        import s.implicits._
        val src = graft.Tables.load(s, dir, "documents")
          .filter($"doc_id" % 7 === 3 && $"n_chars" >= 200)
        val variants = src
          .select($"doc_id", lit(true).as("is_orig"), $"text".as("s"))
          .unionByName(src.select($"doc_id", lit(false).as("is_orig"),
            concat(lit("PATCH: "), $"text").as("s")))
        // boundary i ends a chunk when the 8-char window hashing to a
        // 1/32 pattern; fixed-size counterfactual cuts every 32 chars
        val chunked = variants
          .withColumn("len", length($"s"))
          .withColumn("bs", expr(
            "filter(sequence(8, len - 1), i -> " +
              "substring(md5(substring(s, i - 7, 8)), 1, 2) < '08')"))
          .withColumn("fbs", expr("sequence(32, len - 1, 32)"))
          .withColumn("cfps", expr(
            "transform(sequence(1, size(bs) + 1), k -> md5(substring(s, " +
              "element_at(concat(array(1), transform(bs, b -> b + 1)), k), " +
              "element_at(concat(bs, array(len)), k) - " +
              "element_at(concat(array(1), transform(bs, b -> b + 1)), k) + 1)))"))
          .withColumn("ffps", expr(
            "transform(sequence(1, size(fbs) + 1), k -> md5(substring(s, " +
              "element_at(concat(array(1), transform(fbs, b -> b + 1)), k), " +
              "element_at(concat(fbs, array(len)), k) - " +
              "element_at(concat(array(1), transform(fbs, b -> b + 1)), k) + 1)))"))
        val o = chunked.filter($"is_orig")
          .select($"doc_id", $"cfps".as("ocfps"), $"ffps".as("offps"))
        val r = chunked.filter(!$"is_orig")
          .select($"doc_id", $"cfps".as("rcfps"), $"ffps".as("rffps"))
        // memoize the per-doc ledger (5 bounded columns per revision):
        // the threshold requires below and the harness's collect
        // otherwise EACH re-run the full md5 chunk pass + join (the d41
        // lesson applied back to d40)
        val out = r.join(o, "doc_id")
          .select($"doc_id",
            size($"rcfps").cast("long").as("cdc_chunks"),
            expr("CAST(size(filter(rcfps, f -> array_contains(ocfps, f))) AS BIGINT)")
              .as("cdc_reused"),
            size($"rffps").cast("long").as("fixed_chunks"),
            expr("CAST(size(filter(rffps, f -> array_contains(offps, f))) AS BIGINT)")
              .as("fixed_reused"))
          .orderBy($"doc_id")
          .localCheckpoint()
        // the CDC claim, measured: most revision bytes dedup against the
        // original (the edit costs ~one chunk), and fixed-size chunking
        // at the same average length provably cannot
        val t = out.agg(sum($"cdc_chunks"), sum($"cdc_reused"),
          sum($"fixed_chunks"), sum($"fixed_reused")).head()
        val (cc, cr, fc, fr) = (t.getLong(0), t.getLong(1),
          t.getLong(2), t.getLong(3))
        require(cr * 10 >= cc * 7,
          s"CDC reuse $cr/$cc below the 70% insertion-resilience bar")
        require(cr * fc > 2 * fr * cc,
          s"CDC reuse ratio $cr/$cc must beat fixed-size $fr/$fc by > 2x")
        out
      },
      Some("""
        WITH src AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id % 7 = 3 AND n_chars >= 200),
        v AS (
          SELECT doc_id, TRUE AS is_orig, text AS s FROM src
          UNION ALL
          SELECT doc_id, FALSE, 'PATCH: ' || text FROM src),
        ch AS (
          SELECT doc_id, is_orig, s, length(s) AS len,
                 list_filter(range(8, length(s)),
                   i -> substr(md5(substr(s, CAST(i - 7 AS INT), 8)), 1, 2)
                        < '08') AS bs,
                 range(32, length(s), 32) AS fbs
          FROM v),
        fp AS (
          SELECT doc_id, is_orig,
                 list_transform(range(1, len(bs) + 2), k -> md5(substr(s,
                   CAST(list_prepend(1, list_transform(bs, b -> b + 1))[k] AS INT),
                   CAST(list_append(bs, len)[k]
                     - list_prepend(1, list_transform(bs, b -> b + 1))[k] + 1
                     AS INT)))) AS cfps,
                 list_transform(range(1, len(fbs) + 2), k -> md5(substr(s,
                   CAST(list_prepend(1, list_transform(fbs, b -> b + 1))[k] AS INT),
                   CAST(list_append(fbs, len)[k]
                     - list_prepend(1, list_transform(fbs, b -> b + 1))[k] + 1
                     AS INT)))) AS ffps
          FROM ch)
        SELECT r.doc_id,
               CAST(len(r.cfps) AS BIGINT) AS cdc_chunks,
               CAST(len(list_filter(r.cfps,
                 f -> list_contains(o.cfps, f))) AS BIGINT) AS cdc_reused,
               CAST(len(r.ffps) AS BIGINT) AS fixed_chunks,
               CAST(len(list_filter(r.ffps,
                 f -> list_contains(o.ffps, f))) AS BIGINT) AS fixed_reused
        FROM fp r JOIN fp o ON r.doc_id = o.doc_id
        WHERE NOT r.is_orig AND o.is_orig
        ORDER BY r.doc_id"""),
      doc = "content-defined chunking dedup (rsync/LBFS family — chunk-granularity storage dedup of document revisions): boundaries where an 8-char window's hash hits a 1/32 pattern, so a prefix edit realigns 8 chars downstream and nearly every chunk fingerprint reuses (>= 70% required in-body), while same-length FIXED chunking provably cannot (measured counterfactual, > 2x margin); pure higher-order expressions, no explode — reuse via one doc-keyed join over bounded fingerprint arrays"),

    // ------------------------------------------------------------------
    // d41: INCREMENTAL CHUNK-STORE INGEST — d40's chunker driven through
    // the actual backup-system/delta-store LIFECYCLE (the d19/d30
    // incremental discipline at chunk granularity): a persistent
    // fingerprint store (FactTable) receives batch 0 (the originals)
    // whole, then batch 1 (the nightly re-crawl: every doc re-fetched
    // with a 'PATCH: ' prefix) appends ONLY the chunks whose fingerprint
    // the store has never seen — an anti-join against the stored keys,
    // never a re-chunk of history. The output is the per-batch ingest
    // LEDGER a storage bill is computed from (chunks/bytes in, distinct,
    // novel stored, bytes stored), with novel counts read back THROUGH
    // the store so the oracle gate checks the store content, not a
    // shadow computation. Batch 1's bytes_stored must be < 1/3 of its
    // bytes_in (required in-body — the CDC realignment is what makes a
    // re-crawl cheap to store), and a replayed batch-1 append must
    // no-op (txn idempotence — the dx08 contract). At 100 TB this is
    // why re-crawl storage grows with the EDIT rate, not the fetch
    // rate: the anti-join is fp-keyed (co-partitionable with the
    // store's layout), the chunker is map-only.
    QueryDef(
      "d41_cdc_chunk_store",
      (s, dir) => {
        import s.implicits._
        // spread the O(len·md5) rolling-window pass across the cluster
        // (guide §2.5 input skew): the filtered doc subset is a
        // sub-split-size scan (ONE task at sf0.1 — measured 3.3 s +
        // 4.0 s serial for the two batches, and the whole query ran
        // FASTER at 8 cores than 32). A bare repartition is NOT enough:
        // InferFiltersFromGenerate derives `size(cs) > 0` from the
        // explode below and filter pushdown carries the whole md5 chunk
        // expression back through the exchange into the one-task scan —
        // so the repartitioned (doc_id, text) slice is PINNED (bounded:
        // ~1/7 of docs), which both spreads the chunk pass and stops
        // the inferred filter from crossing the exchange.
        val src = graft.Tables.spread(graft.Tables.load(s, dir, "documents")
          .filter($"doc_id" % 7 === 3 && $"n_chars" >= 200)
          .select($"doc_id", $"text"))
          .localCheckpoint()
        def chunked(batch: Long, rev: Boolean) = {
          val base = if (rev)
            src.select($"doc_id", concat(lit("PATCH: "), $"text").as("s"))
          else src.select($"doc_id", $"text".as("s"))
          // the boundary array is LET-BOUND via transform(array(...),
          // B -> ...) — t30's binding idiom. A plain withColumn("bs")
          // gets inlined by CollapseProject into every one of the ~4
          // references per chunk element, re-running the O(len)
          // md5-window filter tens of times per row (measured ~80x at
          // sf0.1); the lambda variable is evaluated exactly once.
          base.withColumn("len", length($"s"))
            .withColumn("cs", expr(
              "element_at(transform(array(" +
                "filter(sequence(8, len - 1), i -> " +
                "substring(md5(substring(s, i - 7, 8)), 1, 2) < '08')), " +
                "B -> transform(sequence(1, size(B) + 1), k -> named_struct(" +
                "'fp', md5(substring(s, " +
                "element_at(concat(array(1), transform(B, b -> b + 1)), k), " +
                "element_at(concat(B, array(len)), k) - " +
                "element_at(concat(array(1), transform(B, b -> b + 1)), k) + 1)), " +
                "'ln', element_at(concat(B, array(len)), k) - " +
                "element_at(concat(array(1), transform(B, b -> b + 1)), k) + 1))), 1)"))
            .select(lit(batch).as("batch"), explode($"cs").as("c"))
            .select($"batch", $"c.fp".as("fp"), $"c.ln".cast("long").as("ln"))
        }
        // memoize each batch's chunk table (one md5 pass per batch,
        // ever): the distinct sets, the appends, the replay, and the
        // ledger all otherwise re-run the full chunk pass per action
        val b0 = chunked(0L, rev = false).localCheckpoint()
        val b1 = chunked(1L, rev = true).localCheckpoint()
        val root = graft.TempDirs.scratch("d41_chunks")
        val store = new graft.storage.FactTable(root, s)
        val dt = to_date(lit("2024-01-01"))
        val dist0 = b0.groupBy($"fp").agg(max($"ln").as("ln"))
        val dist1 = b1.groupBy($"fp").agg(max($"ln").as("ln"))
        // batch 0: all distinct fingerprints are novel
        store.append(dist0
          .select(lit(0L).as("batch"), $"fp", $"ln")
          .withColumn("date", dt), 0)
        // batch 1: anti-join against the STORE's keys — history is
        // never re-chunked
        val novel1 = dist1
          .join(store.read().select($"fp"), Seq("fp"), "left_anti")
          .select(lit(1L).as("batch"), $"fp", $"ln")
          .withColumn("date", dt)
        store.append(novel1, 1)
        require(!store.append(novel1, 1),
          s"replayed chunk batch must no-op at $root")
        // ledger: incoming side from the batches, stored side READ BACK
        // through the store
        val per = b0.unionByName(b1).groupBy($"batch")
          .agg(count(lit(1)).as("chunks_in"), sum($"ln").as("bytes_in"),
            countDistinct($"fp").as("distinct_in"))
        val stored = store.read().groupBy($"batch")
          .agg(count(lit(1)).as("novel_stored"),
            sum($"ln").as("bytes_stored"))
        val out = per.join(stored, "batch")
          .select($"batch", $"chunks_in", $"bytes_in", $"distinct_in",
            $"novel_stored", $"bytes_stored")
          .orderBy($"batch")
        val led = out.collect()
        require(led.length == 2 &&
            led(1).getLong(5) * 3 < led(1).getLong(2),
          s"re-crawl must store < 1/3 of its bytes at $root: " +
            led.mkString(", "))
        out
      },
      Some("""
        WITH src AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id % 7 = 3 AND n_chars >= 200),
        v AS (
          SELECT doc_id, CAST(0 AS BIGINT) AS batch, text AS s FROM src
          UNION ALL
          SELECT doc_id, CAST(1 AS BIGINT), 'PATCH: ' || text FROM src),
        ch AS (
          SELECT doc_id, batch, s, length(s) AS len,
                 list_filter(range(8, length(s)),
                   i -> substr(md5(substr(s, CAST(i - 7 AS INT), 8)), 1, 2)
                        < '08') AS bs
          FROM v),
        ck AS (
          SELECT batch,
                 unnest(list_transform(range(1, len(bs) + 2),
                   k -> struct_pack(
                     fp := md5(substr(s,
                       CAST(list_prepend(1,
                         list_transform(bs, b -> b + 1))[k] AS INT),
                       CAST(list_append(bs, len)[k]
                         - list_prepend(1,
                             list_transform(bs, b -> b + 1))[k] + 1
                         AS INT))),
                     ln := list_append(bs, len)[k]
                       - list_prepend(1,
                           list_transform(bs, b -> b + 1))[k] + 1))) AS c
          FROM ch),
        fl AS (SELECT batch, c.fp AS fp, CAST(c.ln AS BIGINT) AS ln FROM ck),
        per AS (
          SELECT batch, COUNT(*) AS chunks_in,
                 CAST(SUM(ln) AS BIGINT) AS bytes_in,
                 COUNT(DISTINCT fp) AS distinct_in
          FROM fl GROUP BY batch),
        d0 AS (SELECT DISTINCT fp FROM fl WHERE batch = 0),
        nov AS (
          SELECT CAST(0 AS BIGINT) AS batch, COUNT(*) AS novel_stored,
                 CAST(SUM(ln) AS BIGINT) AS bytes_stored
          FROM (SELECT fp, MAX(ln) AS ln FROM fl WHERE batch = 0
                GROUP BY fp)
          UNION ALL
          SELECT CAST(1 AS BIGINT), COUNT(*),
                 CAST(COALESCE(SUM(ln), 0) AS BIGINT)
          FROM (SELECT fp, MAX(ln) AS ln FROM fl
                WHERE batch = 1 AND fp NOT IN (SELECT fp FROM d0)
                GROUP BY fp))
        SELECT p.batch, p.chunks_in, p.bytes_in, p.distinct_in,
               n.novel_stored, n.bytes_stored
        FROM per p JOIN nov n ON n.batch = p.batch
        ORDER BY p.batch"""),
      doc = "incremental chunk-store ingest (the backup/delta-store lifecycle over d40's chunker): a persistent fingerprint FactTable receives originals whole, then a re-crawl batch appends only never-seen chunk fingerprints via an fp-keyed anti-join — history is never re-chunked, replays no-op, and the per-batch ingest ledger is read back THROUGH the store; re-crawl bytes stored < 1/3 of bytes in required in-body — storage grows with the edit rate, not the fetch rate"),

    // ------------------------------------------------------------------
    // d42: SORTED-NEIGHBORHOOD record linkage (Hernández & Stolfo 1995,
    // the SNM kernel) — the third blocking GEOMETRY in the linkage/dedup
    // family: LSH hashes similar items into the same bucket (d03),
    // Fellegi-Sunter blocks on equality of derived keys (d31); SNM
    // instead SORTS on a dirt-tolerant key and compares each record
    // only against its w−1 sort neighbors — candidates are O(n·w)
    // by construction with NO bucket-size tail at all (the one
    // geometry where a hot key is impossible: every record has exactly
    // w−1 neighbors). The fixture plants OCR-style dirty clones (last
    // digit 9 → 'g', balance copied exactly) that land sort-ADJACENT
    // to their originals — near, not equal, so this is a genuine sort
    // neighborhood, not blocking in disguise — while consecutive
    // ORIGINALS enter the same windows and are rejected by the
    // agreement rule (levenshtein ≤ 1 AND exact balance), so the
    // false-candidate surface is exercised (~60× more candidates than
    // links), never avoided. Distributed shape: the sort partitions by
    // nation (the shard key; clones never cross nations by
    // construction) and windows parallelize per shard — the practical
    // MPP form of SNM, whose canonical answer to cross-shard dirt is
    // the multi-pass variant (re-run with a different sort key), not a
    // global sort. lead() pairs ride the SAME sort the window needs —
    // one shuffle total. Recall is required in-body: every planted
    // clone must be re-linked at every SF.
    QueryDef(
      "d42_sorted_neighborhood",
      (s, dir) => {
        import s.implicits._
        // the record string is DERIVED from the key (zero-padded 16
        // digits), not taken from c_name: the sweep's replication salts
        // c_name's low digits through a shared 10^4 space, so replica
        // names collide exactly and same-named strangers pile between a
        // clone and its original — a key-derived string is unique at
        // any replication factor while preserving the fixture's whole
        // point (dirty clones land sort-NEAR their originals)
        val cust = Tables.load(s, dir, "customer")
          .select($"c_custkey",
            concat(lit("C#"), lpad($"c_custkey".cast("string"), 16, "0"))
              .as("c_name"),
            $"c_nationkey", $"c_acctbal")
        val dirty = cust
          .filter($"c_custkey" % 10 === 9 && $"c_custkey" % 3 === 0)
          .select(($"c_custkey" + 2000000000L).as("c_custkey"),
            concat(expr("substring(c_name, 1, length(c_name) - 1)"),
              lit("g")).as("c_name"),
            $"c_nationkey", $"c_acctbal")
        val nPlants = dirty.count()
        val w = Window.partitionBy($"c_nationkey")
          .orderBy($"c_name".asc, $"c_custkey".asc)
        val led = cust.unionByName(dirty)
          .withColumn("n1",
            lead(struct($"c_name", $"c_acctbal", $"c_custkey"), 1).over(w))
          .withColumn("n2",
            lead(struct($"c_name", $"c_acctbal", $"c_custkey"), 2).over(w))
        val pairs = led
          .select($"c_nationkey", $"c_name", $"c_acctbal", $"c_custkey",
            explode(array($"n1", $"n2")).as("nb"))
          .filter($"nb".isNotNull)
          .withColumn("is_link",
            levenshtein($"c_name", $"nb.c_name") <= 1 &&
              $"c_acctbal" === $"nb.c_acctbal")
        // cached: the recall require below executes the whole sort +
        // levenshtein pipeline; without the cache the caller pays it
        // again — the q93/d40 lesson
        val out = pairs.groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n_candidates"),
            sum(when($"is_link", 1L).otherwise(0L)).as("n_links"),
            // RECALL is asserted on the planted pairs alone (clone =
            // original + 2e9, identifiable by the key offset): a chance
            // agreement between two real neighbors — lev ≤ 1 names with
            // colliding balances — is a legitimate SNM link both engines
            // count identically, and must not abort the query
            sum(when($"is_link" &&
              $"nb.c_custkey" - $"c_custkey" === 2000000000L, 1L)
              .otherwise(0L)).as("planted_links"))
          .persist()
        val plantedFound = out.agg(sum($"planted_links")).as[Long].head()
        require(plantedFound == nPlants,
          s"SNM recall broke: $plantedFound of $nPlants planted clones re-linked")
        out.select($"c_nationkey", $"n_candidates", $"n_links")
          .orderBy($"c_nationkey")
      },
      Some("""
        WITH cust AS (
          SELECT c_custkey,
                 'C#' || lpad(CAST(c_custkey AS VARCHAR), 16, '0') AS c_name,
                 c_nationkey, c_acctbal
          FROM customer),
        dirty AS (
          SELECT c_custkey + 2000000000 AS c_custkey,
                 substr(c_name, 1, length(c_name) - 1) || 'g' AS c_name,
                 c_nationkey, c_acctbal
          FROM cust WHERE c_custkey % 10 = 9 AND c_custkey % 3 = 0),
        led AS (
          SELECT c_nationkey, c_name, c_acctbal,
                 LEAD(c_name, 1) OVER w AS name1,
                 LEAD(c_acctbal, 1) OVER w AS bal1,
                 LEAD(c_name, 2) OVER w AS name2,
                 LEAD(c_acctbal, 2) OVER w AS bal2
          FROM (SELECT * FROM cust UNION ALL SELECT * FROM dirty)
          WINDOW w AS (PARTITION BY c_nationkey
                       ORDER BY c_name ASC, c_custkey ASC)),
        pairs AS (
          SELECT c_nationkey, c_name, c_acctbal, name1 AS nbn, bal1 AS nbb
          FROM led WHERE name1 IS NOT NULL
          UNION ALL
          SELECT c_nationkey, c_name, c_acctbal, name2, bal2
          FROM led WHERE name2 IS NOT NULL)
        SELECT c_nationkey, COUNT(*) AS n_candidates,
               CAST(SUM(CASE WHEN levenshtein(c_name, nbn) <= 1
                              AND c_acctbal = nbb
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_links
        FROM pairs GROUP BY c_nationkey ORDER BY c_nationkey"""),
      doc = "sorted-neighborhood record linkage (Hernández & Stolfo 1995): the third blocking geometry after LSH buckets (d03) and equality blocks (d31) — sort on a dirt-tolerant key, compare only w−1 sort neighbors, candidates O(n·w) with no hot-bucket tail possible; OCR-dirty clones land sort-adjacent (near, not equal), consecutive originals fill the rejected-candidate surface, recall required in-body; one per-shard sort-shuffle carries both the window and the lead() pairs")
  )
}
