package graft.operators

import graft.Tables
import graft.functions.SimHash64
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline text operators over the `documents` table: exact and
  * near deduplication (hash, MinHash+LSH, SimHash, n-gram Jaccard),
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Scale notes:
  *  - Exact dedup is a hash aggregate on a digest, never on raw text: at
  *    100 TB you shuffle 16-byte digests, not documents.
  *  - MinHash pairs come from an LSH band join (equi-join on band hash),
  *    never an O(n^2) cross join.
  *  - All token work uses codegen'd built-ins (regexp_extract_all etc.);
  *    SimHash is a native Catalyst expression, not a UDF.
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame

  /** Word tokens, lowercase. Same regex class works in Java and RE2.
    * Column-based (not a SQL string around `c.toString`), so ANY derived
    * column expression tokenizes, not just simple references. */
  private def tokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  private def docsWithTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).withColumn("toks", tokens(col("text")))

  // ---- q30: exact dedup via content digest --------------------------------
  private val q30: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("h", md5(col("text").cast("binary")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dup"))
      .orderBy(col("source"))
  }
  private val q30Sql =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_unique,
      |  count(*) - count(DISTINCT md5(text)) AS n_dup
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- q31: normalized dedup (lower, strip punct, collapse ws) ------------
  private val q31: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("norm",
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
      .withColumn("h", md5(col("norm").cast("binary")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("h")).as("n_unique_norm"))
      .orderBy(col("source"))
  }
  private val q31Sql =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))) AS n_unique_norm
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- q32: token counting per language -----------------------------------
  private val q32: Q = (s, d) => {
    docsWithTokens(s, d)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("lang"))
  }
  private val q32Sql =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS total_tokens,
      |  round(avg(len(regexp_extract_all(lower(text), '[a-z0-9]+'))), 4) AS avg_tokens,
      |  max(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS max_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---- q33: per-document quality scoring ----------------------------------
  private val q33: Q = (s, d) => {
    docsWithTokens(s, d)
      .withColumn("n_len", length(col("text")))
      .withColumn("n_alpha", length(regexp_replace(col("text"), "[^a-zA-Z]", "")))
      .withColumn("n_tokens", size(col("toks")))
      // zero-length guard BOTH sides: Spark's x/0 is NULL, DuckDB's is
      // NaN — an empty document would hash-diverge the gate; pin 0.0
      .withColumn("alpha_ratio",
        when(col("n_len") > 0,
          round(col("n_alpha").cast("double") / col("n_len"), 4)).otherwise(0.0))
      .withColumn("stopwords",
        size(expr("regexp_extract_all(lower(text), '\\\\b(the|and|of|to|in|is|a)\\\\b', 0)")))
      .withColumn("quality",
        when(col("n_tokens") >= 20 && col("alpha_ratio") > 0.7 && col("stopwords") >= 2, "good")
          .when(col("n_tokens") >= 5, "fair")
          .otherwise("poor"))
      .select(col("doc_id"), col("n_len"), col("n_tokens"), col("alpha_ratio"),
        col("stopwords"), col("quality"))
      .orderBy(col("doc_id"))
  }
  private val q33Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS INT) AS n_len,
      |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INT) AS n_alpha,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_tokens,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS INT) AS stopwords
      |  FROM documents)
      |SELECT doc_id, n_len, n_tokens,
      |  CASE WHEN n_len > 0 THEN round(CAST(n_alpha AS DOUBLE) / n_len, 4)
      |       ELSE 0.0 END AS alpha_ratio, stopwords,
      |  CASE WHEN n_tokens >= 20
      |            AND (CASE WHEN n_len > 0
      |                      THEN round(CAST(n_alpha AS DOUBLE) / n_len, 4)
      |                      ELSE 0.0 END) > 0.7
      |            AND stopwords >= 2 THEN 'good'
      |       WHEN n_tokens >= 5 THEN 'fair' ELSE 'poor' END AS quality
      |FROM t
      |ORDER BY doc_id""".stripMargin

  // ---- q34: language-ID heuristic (stopword n-gram scoring) ---------------
  private val q34: Q = (s, d) => {
    def cnt(pat: String): Column =
      size(expr(s"regexp_extract_all(lower(text), '$pat', 0)"))
    Tables.documents(s, d)
      .withColumn("c_en", cnt("\\\\b(the|and|of|to|in|is)\\\\b"))
      .withColumn("c_de", cnt("\\\\b(der|die|das|und|ist|nicht)\\\\b"))
      .withColumn("c_es", cnt("\\\\b(el|los|de|que|es|y)\\\\b"))
      .withColumn("c_fr", cnt("\\\\b(le|les|et|des|est|une)\\\\b"))
      .withColumn("pred",
        when(col("c_en") >= col("c_de") && col("c_en") >= col("c_es") && col("c_en") >= col("c_fr"), "en")
          .when(col("c_de") >= col("c_es") && col("c_de") >= col("c_fr"), "de")
          .when(col("c_es") >= col("c_fr"), "es")
          .otherwise("fr"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))
  }
  private val q34Sql =
    """WITH t AS (
      |  SELECT lang,
      |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) AS c_en,
      |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS c_de,
      |    len(regexp_extract_all(lower(text), '\b(el|los|de|que|es|y)\b')) AS c_es,
      |    len(regexp_extract_all(lower(text), '\b(le|les|et|des|est|une)\b')) AS c_fr
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
      |       WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
      |       WHEN c_es >= c_fr THEN 'es' ELSE 'fr' END AS pred,
      |  count(*) AS n
      |FROM t
      |GROUP BY 1, 2
      |ORDER BY lang, pred""".stripMargin

  // ---- q35: MinHash + LSH near-dup pairs, exactly verified (hash oracle) --
  private val NumHashes = 32
  private val NumBands = 8 // 4 rows per band
  private val RowsPerBand = NumHashes / NumBands

  /** doc_id -> minhash signature over 3-word shingles. The i-th hash
    * function is xxhash64 seeded by i (prepended column), so there is no
    * affine arithmetic that could overflow under ANSI mode. */
  private def minhashSignatures(s: SparkSession, d: String): DataFrame =
    minhashSigsOf(docsWithTokens(s, d))

  /** Same, over any (doc_id, toks) corpus (q35b plants twin docs).
    * Signatures come from the per-row [[graft.functions.MinHashSig]]
    * expression — bit-identical to the explode → groupBy → 32×min
    * construction (`MinHashSigSpec` proves equality) but with ZERO
    * shuffles: no per-shingle rows, no exchange to regroup them; the LSH
    * banding join downstream is the first exchange the pipeline pays. */
  private[operators] def minhashSigsOf(corpus: DataFrame): DataFrame = {
    corpus.filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("toks"), NumHashes).as("sig"))
  }

  /** One row per (doc, band): the band's signature rows hashed to a
    * bucket key; equi-joining on (band, bh) is LSH candidate generation. */
  private[operators] def bandHashes(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until NumBands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(concat_ws(",",
            (0 until RowsPerBand).map(i => col("sig")(b * RowsPerBand + i)): _*)).as("bh"))
      }: _*)).as("bs"))
      .select(col("doc_id"), col("sig"), col("bs.band").as("band"), col("bs.bh").as("bh"))

  /** Hot-bucket guard for the LSH band join. A bucket of n members emits
    * n² candidate pairs INSIDE ONE JOIN KEY — no partitioning scheme can
    * split it, so one viral document copied 10⁵ times turns a linear
    * banding pass into a 10¹⁰-pair task. Buckets larger than `cap` are
    * salt-split into ⌈n/cap⌉ sub-buckets keyed by hash(doc_id, band):
    * pairs then form within sub-buckets only, bounding every task's
    * bucket input at ~cap members (~cap² pairs).
    *
    * Recall cost, stated: a true pair inside a SPLIT bucket survives
    * that band w.p. 1/⌈n/cap⌉ (same salt), and overall w.p.
    * 1−(1−J⁴/m)⁸ across the 8 bands — but split buckets are by
    * construction NEAR-DUPLICATE CLUSTERS far above the cap, where any
    * surviving edge keeps the member attached to the cluster for dedup
    * purposes (an expected ≤ m·ln(m)/8 of orphaned members is the
    * theoretical tail, ~0 at m ≤ 16). Buckets at or under the cap are
    * untouched: salt is the 0 literal there, so un-skewed corpora (and
    * the q35/q35b/q35c oracles) produce bit-identical pairs. */
  private[operators] def saltHotBuckets(bands0: DataFrame, cap: Int): DataFrame = {
    // the band table feeds BOTH the hot-set aggregation and the
    // join-back — checkpoint it or the upstream tokenize+signature
    // pipeline runs twice
    val bands = bands0.localCheckpoint()
    // the hot set is tiny by construction (only buckets > cap) — one
    // aggregation finds it, a broadcast joins it back
    val hot = bands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("n")).filter(col("n") > cap)
    bands.join(broadcast(hot), Seq("band", "bh"), "left")
      .withColumn("salt", when(col("n").isNull, lit(0L)).otherwise(
        pmod(xxhash64(col("doc_id"), col("band")),
          ceil(col("n") / lit(cap.toDouble)).cast("long"))))
      .drop("n")
  }

  /** Default hot-bucket cap: 4096 members ≈ 16M pairs per bucket task —
    * large enough that no legitimate near-dup cluster in the gates ever
    * splits, small enough that a viral bucket stays one task's work. */
  private[operators] val HotBucketCap = 4096

  // The full near-dup pipeline at production shape — signatures, banded
  // candidate generation, hot-bucket salting — closed by an EXACT
  // verification stage: every candidate pair's true 3-shingle Jaccard is
  // recomputed (a join against the per-doc shingle sets, cost ∝
  // candidates, not pairs) and only verified pairs (jac ≥ 0.5) are
  // emitted. That reduction is DuckDB-recomputable, so the gate carries
  // a REAL hash oracle: the oracle brute-forces all pairs ≥ 0.5 and the
  // outputs must MATCH — i.e. the banding must have 100% recall at the
  // threshold on this corpus. That is a sound determinism claim, not
  // luck: the corpus's pair-Jaccard distribution is gapped (measured:
  // every true near-dup ≥ 0.9, everything else < 0.3 at all SFs), the
  // hash family is fixed/seeded, and a J ≥ 0.9 pair agrees on ≥ 65% of
  // minhashes in expectation — missing all 8 bands has p < 2e-4 per
  // pair AND is a fixed function of the corpus, verified green at every
  // shipped SF. Recall/precision under perturbation stay gated by the
  // planted twins (q35b/q35c).
  private val q35: Q = (s, d) => {
    // the band table feeds BOTH join sides as different projections —
    // checkpoint so the tokenize+signature pipeline runs once, not twice
    // (q35c's established pattern)
    val bands = saltHotBuckets(
      bandHashes(minhashSignatures(s, d)), HotBucketCap).localCheckpoint()
    val l = bands.select(col("doc_id").as("id1"), col("band"), col("bh"), col("salt"))
    val r = bands.select(col("doc_id").as("id2"), col("band"), col("bh"), col("salt"))
    // Equi-join on (band, band_hash, salt): LSH candidate generation —
    // linear not quadratic, with viral buckets salt-bounded (see
    // saltHotBuckets; salt is identically 0 on un-skewed corpora)
    val cands = l.join(r, Seq("band", "bh", "salt"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
    // exact verification: per-doc distinct 3-shingle sets, joined to the
    // CANDIDATES only (at 100 TB: |candidates| rows, never |docs|²).
    // Shingles travel as xxhash64 longs, not strings: the arrays are
    // shuffled whole through both pair joins and only ever intersected/
    // unioned by equality, so the digest cuts the array bytes ~5x and
    // makes the set ops compare longs. A collision would need two
    // different shingles within ONE candidate pair's sets
    // (~(shingles/doc)^2/2^64 per pair) — jac is bit-identical to the
    // string-set computation absent that, and the gate's oracle stays
    // hash-green.
    val sh = docsWithTokens(s, d).filter(size(col("toks")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> xxhash64(concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))"))
        .as("sh"))
      .localCheckpoint() // feeds both sides of the verification join
    cands
      .join(sh.select(col("doc_id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .withColumn("jac", round(
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))), 4))
      .filter(col("jac") >= 0.5)
      .select(col("id1"), col("id2"), col("jac"))
      .orderBy(col("id1"), col("id2"))
  }
  private val q35Sql =
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |           FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, len(toks) - 1),
      |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |      FROM t WHERE len(toks) >= 3),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
      |        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |              / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jac
      |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
      |SELECT id1, id2, jac FROM p WHERE jac >= 0.5
      |ORDER BY id1, id2""".stripMargin

  // ---- q35b: MinHash-LSH recall against planted duplicate docs ------------
  // The q46 trick applied to the banding path above: every 20th doc with
  // >= 20 tokens AND >= 16 DISTINCT shingles re-enters the corpus under
  // shifted ids, once VERBATIM (shingle set identical -> identical
  // signature -> every band collides; recovery is certain by
  // construction) and once with its first token dropped (that removes at
  // most ONE distinct shingle, so set-Jaccard >= 15/16 — the distinct
  // floor matters: a repetitive doc like "a b b b…" has only 2 distinct
  // shingles and J could hit 1/2, where a band miss is likely. At J >=
  // 15/16 a 4-row band agrees w.p. J^4 >= 0.77 and >= 1 of 8 bands
  // collides w.p. 1 - 7e-6; with the FIXED xxhash64 seeds the outcome
  // per dataset is deterministic, so the oracle asserts full recovery
  // exactly). Any regression in shingling, signature aggregation, or
  // band bucketing hash-fails this gate.
  private val PlantShiftDocs = 1000000000L

  /** Planted-twin substrate SHARED by the recall (q35b) and precision
    * (q35c) gates: (base corpus, eligible planted population). One
    * definition on purpose — if the eligibility thresholds or the
    * shingle expression drifted between the two gates, recall and
    * precision would silently test different populations. */
  private def plantEligible(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = docsWithTokens(s, d).select(col("doc_id"), col("toks"))
    // guard the shingle lambda behind the size check: sequence(1, n-2)
    // with n < 3 draws a descending range and slice() rejects index 0
    val distinctShingles = when(size(col("toks")) >= 3, size(expr(
      "array_distinct(transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3))))"
    ))).otherwise(lit(0))
    // the planted population is referenced several times per gate (twin
    // construction inside the band pipeline, plus 2-3 plantedIds probes
    // in the final aggregate) and each reference would otherwise re-run
    // the corpus tokenize + the distinct-shingle eligibility transform —
    // the most expensive per-row expressions in these gates. It is ~5%
    // of the corpus by construction (doc_id % 20), so one bounded
    // materialization replaces the recomputes.
    val eligible = base.filter(col("doc_id") % 20 === 0 &&
      size(col("toks")) >= 20 && distinctShingles >= 16).localCheckpoint()
    (base, eligible)
  }

  private val q35b: Q = (s, d) => {
    val (base, eligible) = plantEligible(s, d)
    val exactTwin = eligible.withColumn("doc_id", col("doc_id") + PlantShiftDocs)
    val nearTwin = eligible
      .withColumn("toks", slice(col("toks"), lit(2), size(col("toks")) - 1))
      .withColumn("doc_id", col("doc_id") + 2 * PlantShiftDocs)
    val bands = saltHotBuckets(bandHashes(minhashSigsOf(
      base.unionByName(exactTwin).unionByName(nearTwin))), HotBucketCap)
      .localCheckpoint()
    val l = bands.select(col("doc_id").as("id1"), col("band"), col("bh"), col("salt"))
    val r = bands.select(col("doc_id").as("id2"), col("band"), col("bh"), col("salt"))
    val pairs = l.join(r, Seq("band", "bh", "salt"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    // one job, not three crossJoined aggregates: pairs are distinct and
    // the twin-id filters pin id2 to a function of id1, so each found
    // set is unique per id1 and two left joins count all three numbers
    // in a single pass over the planted set
    val plantedIds = eligible.select(col("doc_id").as("id1"))
    val exactFound = pairs.filter(col("id2") === col("id1") + PlantShiftDocs)
      .select(col("id1")).withColumn("_e", lit(1))
    val nearFound = pairs.filter(col("id2") === col("id1") + 2 * PlantShiftDocs)
      .select(col("id1")).withColumn("_n", lit(1))
    plantedIds.join(exactFound, Seq("id1"), "left")
      .join(nearFound, Seq("id1"), "left")
      .agg(count(lit(1)).as("n_planted"),
        count(col("_e")).as("n_exact_recovered"),
        count(col("_n")).as("n_near_recovered"))
  }
  private val q35bSql =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
      |  FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n_planted,
      |  CAST(count(*) AS BIGINT) AS n_exact_recovered,
      |  CAST(count(*) AS BIGINT) AS n_near_recovered
      |FROM t
      |WHERE doc_id % 20 = 0 AND len(tk) >= 20
      |  AND len(list_distinct(list_transform(generate_series(1, len(tk) - 2),
      |        i -> array_to_string(tk[i:i+2], ' ')))) >= 16""".stripMargin

  // ---- q36: SimHash fingerprints with a planted-truth oracle --------------
  // The q46 trick applied to SimHash: gate the custom expression on
  // outcomes the CONSTRUCTION guarantees, so DuckDB can state the
  // expected result without computing a SimHash.
  //  - bag semantics: SimHash weights token votes order-independently,
  //    so a doc and its token-reversed twin hash EQUAL — always.
  //  - discrimination: prefixing every token yields a disjoint token
  //    bag whose 64-bit hash matches the original's only on a 2^-64
  //    collision (the same assumption q30's md5 oracle already makes).
  // Both checks run per planted doc across all partitions, so they also
  // gate expression determinism under distribution.
  private val q36: Q = (s, d) => {
    val planted = docsWithTokens(s, d)
      .filter(col("doc_id") % 20 === 0 && size(col("toks")) > 0)
      .withColumn("h_orig", SimHash64.simhash64(col("toks")))
      .withColumn("h_perm", SimHash64.simhash64(reverse(col("toks"))))
      .withColumn("h_disj",
        SimHash64.simhash64(transform(col("toks"), t => concat(lit("zq_"), t))))
    planted.agg(
      count(lit(1)).as("n_planted"),
      sum(when(col("h_orig") === col("h_perm"), 1L).otherwise(0L)).as("n_equal_permuted"),
      sum(when(col("h_orig") =!= col("h_disj"), 1L).otherwise(0L)).as("n_differ_disjoint"))
  }
  private val q36Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_planted,
      |  CAST(count(*) AS BIGINT) AS n_equal_permuted,
      |  CAST(count(*) AS BIGINT) AS n_differ_disjoint
      |FROM documents
      |WHERE doc_id % 20 = 0
      |  AND len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0""".stripMargin

  // ---- q37: exact n-gram Jaccard similarity, top-5 neighbors per probe ----
  // INVERTED-INDEX join: both sides explode to (lang, token) postings and
  // equi-join there; |intersection| falls out of a count per (probe, doc)
  // pair and |union| from the two set sizes. Nothing is broadcast — the
  // probe side can grow with the corpus (it's 1% of it) and the whole
  // thing stays shuffle-partitioned; candidate pairs are only docs
  // sharing ≥1 token (a zero-overlap doc can never rank above one with
  // overlap, so top-5 semantics are unchanged while skipping the
  // all-pairs evaluation a broadcast join implies).
  //
  // SKEW: stop tokens ("the", "a") post in ~every document, so the raw
  // (lang, tok) key is quadratically hot — one reducer would generate
  // |docs|x|probes| pairs for "the" while the rest idle. The join is
  // therefore SALTED: the doc side sends each posting to one of
  // `JaccardSalt` buckets keyed by hash(doc_id); the probe side
  // replicates each posting into all buckets. Every (doc, probe, tok)
  // pair still meets exactly once (in the doc's bucket), so intersection
  // counts — and thus results — are bit-identical to the unsalted join,
  // but the hot key's work is spread over `JaccardSalt` tasks. Probe-side
  // replication is cheap: probes are 1% of the corpus, so x16 replication
  // is 16% of one corpus-side explode. Pair counts partial-aggregate
  // map-side before the (probe, doc) shuffle.
  //
  // SCALING (measured, r16 sf1 run): exact top-k Jaccard costs
  // Θ(overlapping pairs). On real text the inverted index is sparse and
  // that is near-linear; THIS corpus draws from a ~30-word vocab, so
  // ~every same-lang (probe, doc) pair overlaps and the pair count is
  // quadratic — 10x docs measured 28x wall (sf0.1 1.1 s -> sf1 29.9 s).
  // That is intrinsic to the semantics, not the plan: dedup to distinct
  // token SETS only removes 26% of docs here (measured), and the same
  // query in DuckDB (32 threads) takes 189 s at sf1 — this plan beats
  // the single-node oracle 6.3x at the scale where both go quadratic.
  // The sub-quadratic paths for dense-overlap corpora are the gates
  // built for that regime: q35 (MinHash LSH) and q41/q44 (ANN).
  private val JaccardSalt = 16
  private val q37: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = docsWithTokens(s, d)
      .withColumn("tset", array_distinct(col("toks")))
      .select(col("doc_id"), col("lang"), col("tset"), size(col("tset")).as("tsize"))
    val docTok = toks.select(col("doc_id"), col("lang"), col("tsize"),
        explode(col("tset")).as("tok"))
      .withColumn("salt", pmod(hash(col("doc_id")), lit(JaccardSalt)))
    val probeTok = toks.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("probe_id"), col("lang"), col("tsize").as("psize"),
        explode(col("tset")).as("tok"))
      .withColumn("salt", explode(sequence(lit(0), lit(JaccardSalt - 1))))
    val joined = docTok.join(probeTok, Seq("lang", "tok", "salt"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id"), col("psize"), col("tsize"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("psize") + col("tsize") - col("inter")), 6))
    // semantics note (mirrored in the oracle's intersect>0 filter): only
    // OVERLAPPING pairs rank — the inverted index can't see, and top-k
    // near-dup genuinely doesn't want, jaccard-0 strangers; a probe with
    // fewer than 5 overlapping neighbors returns fewer than 5 rows
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("jaccard").desc, col("doc_id"))
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("doc_id"), col("jaccard"))
      .orderBy(col("probe_id"), col("rk"))
  }
  private val q37Sql =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tset
      |  FROM documents),
      |p AS (SELECT doc_id AS probe_id, lang, tset AS probe_set FROM t WHERE doc_id % 100 = 0),
      |j AS (
      |  SELECT p.probe_id, t.doc_id,
      |    round(CAST(len(list_intersect(t.tset, p.probe_set)) AS DOUBLE)
      |          / len(list_distinct(list_concat(t.tset, p.probe_set))), 6) AS jaccard
      |  FROM t JOIN p ON t.lang = p.lang AND t.doc_id <> p.probe_id
      |  WHERE len(list_intersect(t.tset, p.probe_set)) > 0),
      |r AS (
      |  SELECT probe_id, doc_id, jaccard,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY jaccard DESC, doc_id) AS rk
      |  FROM j)
      |SELECT probe_id, rk, doc_id, jaccard
      |FROM r WHERE rk <= 5
      |ORDER BY probe_id, rk""".stripMargin

  // ---- q38: bag-of-words document fingerprint -----------------------------
  private val q38: Q = (s, d) => {
    docsWithTokens(s, d)
      .withColumn("fp", md5(array_join(array_sort(array_distinct(col("toks"))), " ").cast("binary")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_fingerprints"))
      .orderBy(col("source"))
  }
  private val q38Sql =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(array_to_string(list_sort(list_distinct(
      |    regexp_extract_all(lower(text), '[a-z0-9]+'))), ' '))) AS n_fingerprints
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- q39: BPE-style pre-tokenization counts ------------------------------
  // GPT-2-ish splitting simplified to a class regex with identical
  // semantics in Java regex (Spark) and RE2 (DuckDB): letter runs,
  // single digits, single punctuation marks.
  private val BpePattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\\\s]"
  private val q39: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("toks", expr(s"regexp_extract_all(text, '$BpePattern', 0)"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_bpe_tokens"),
        round(avg(col("n_tok")), 4).as("avg_bpe_tokens"),
        sum(size(array_distinct(col("toks"))).cast("long")).as("sum_distinct_tokens"))
      .orderBy(col("lang"))
  }
  private val q39Sql =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]'))) AS BIGINT) AS total_bpe_tokens,
      |  round(avg(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]'))), 4) AS avg_bpe_tokens,
      |  CAST(sum(len(list_distinct(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')))) AS BIGINT) AS sum_distinct_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---- q38b: rolling-hash fingerprints, planted-truth oracle --------------
  // Order-SENSITIVE counterpart of q36: the construction guarantees
  //  - identity: the same token sequence reached through a different
  //    expression tree (reverse∘reverse) hashes EQUAL — always;
  //  - order sensitivity: a non-palindromic sequence and its reverse
  //    hash DIFFERENT up to a 2^-64 collision. "Non-palindromic" is
  //    computable in plain SQL, so DuckDB can predict the exact count.
  private val q38b: Q = (s, d) => {
    val rh: Column => Column = graft.functions.RollingHash64.rollingHash64
    val planted = docsWithTokens(s, d)
      .filter(col("doc_id") % 20 === 0)
      .withColumn("asym", col("toks") =!= reverse(col("toks")))
    planted.agg(
      count(lit(1)).as("n_planted"),
      sum(when(rh(reverse(reverse(col("toks")))) === rh(col("toks")), 1L)
        .otherwise(0L)).as("n_equal_identity"),
      sum(when(col("asym") && rh(reverse(col("toks"))) =!= rh(col("toks")), 1L)
        .otherwise(0L)).as("n_order_sensitive"))
  }
  private val q38bSql =
    """WITH t AS (
      |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents WHERE doc_id % 20 = 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_planted,
      |  CAST(count(*) AS BIGINT) AS n_equal_identity,
      |  CAST(sum(CASE WHEN toks <> list_reverse(toks) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_order_sensitive
      |FROM t""".stripMargin

  // ---- q37b: edit-distance near-dup with prefix blocking -------------------
  // Fuzzy dedup by Levenshtein distance, made linear by blocking: only
  // docs sharing a 12-char normalized prefix are compared, so the
  // quadratic distance computation runs inside tiny blocks instead of
  // across the corpus. Block sizes track how often 12-char prefixes
  // collide: negligible on real text (prefixes are nearly unique), but
  // this corpus draws from a ~30-word vocab, so blocks grow linearly
  // with the corpus and in-block pairs quadratically (sf1 measured
  // ~100x pairs at 10x docs). The per-pair cost is therefore the lever:
  // the THRESHOLDED levenshtein (3-arg, banded O(len*k) with early
  // exit, -1 when the distance exceeds k) replaces the full O(len^2)
  // DP — identical results for the <=5 filter, ~6x cheaper per pair
  // (sf1 solo 8.5 s -> beat the 3.9 s DuckDB-32-thread oracle).
  private val q37b: Q = (s, d) => {
    val t = Tables.documents(s, d)
      .withColumn("norm", lower(substring(col("text"), 1, 40)))
      .withColumn("blk", substring(col("norm"), 1, 12))
      .select(col("doc_id"), col("norm"), col("blk"))
    val a = t.select(col("doc_id").as("id1"), col("norm").as("n1"), col("blk"))
    val b = t.select(col("doc_id").as("id2"), col("norm").as("n2"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("id1") < col("id2"))
      .withColumn("lev", levenshtein(col("n1"), col("n2"), 5))
      .filter(col("lev") >= 0)
      .select(col("id1"), col("id2"), col("lev"))
      .orderBy(col("id1"), col("id2"))
      .limit(100)
  }
  private val q37bSql =
    """WITH t AS (
      |  SELECT doc_id, lower(substr(text, 1, 40)) AS norm,
      |         substr(lower(substr(text, 1, 40)), 1, 12) AS blk
      |  FROM documents)
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |       levenshtein(a.norm, b.norm) AS lev
      |FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.norm, b.norm) <= 5
      |ORDER BY id1, id2
      |LIMIT 100""".stripMargin

  // ---- q47: PII redaction ---------------------------------------------------
  // The training-data scrub pass: emails/phones replaced by placeholder
  // tokens, redaction counts reported per source. The synthetic corpus
  // carries no PII, so both sides INJECT deterministic PII derived from
  // doc_id first — the oracle performs the identical construction, so a
  // hash match proves the redaction regexes and counters, not the data.
  // Codegen'd regexp_replace/regexp_extract_all, no UDFs.
  private val EmailRe = "[a-z0-9.-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "555-[0-9]{4}"
  private val q47: Q = (s, d) => {
    val withPii = Tables.documents(s, d).withColumn("text2",
      concat(col("text"), lit(" contact-"), col("doc_id").cast("string"),
        lit("@example.com"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
    withPii
      .withColumn("n_emails", size(regexp_extract_all(col("text2"), lit(EmailRe), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(col("text2"), lit(PhoneRe), lit(0))))
      .withColumn("clean", regexp_replace(
        regexp_replace(col("text2"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_emails")).cast("long").as("n_emails"),
        sum(col("n_phones")).cast("long").as("n_phones"),
        sum(length(col("clean"))).cast("long").as("clean_chars"))
      .orderBy(col("source"))
  }
  private val q47Sql =
    """WITH pii AS (
      |  SELECT source,
      |    concat(text, ' contact-', CAST(doc_id AS VARCHAR), '@example.com',
      |      CASE WHEN doc_id % 5 = 0
      |           THEN concat(' call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
      |           ELSE '' END) AS text2
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(text2, '[a-z0-9.-]+@[a-z0-9.-]+\.[a-z]{2,}'))) AS BIGINT) AS n_emails,
      |  CAST(sum(len(regexp_extract_all(text2, '555-[0-9]{4}'))) AS BIGINT) AS n_phones,
      |  CAST(sum(len(regexp_replace(regexp_replace(text2, '[a-z0-9.-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'), '555-[0-9]{4}', '<PHONE>', 'g'))) AS BIGINT) AS clean_chars
      |FROM pii
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- q48: Gopher-style repetition filter ---------------------------------
  // Per-doc top-word dominance ratio (max single-word count / word count);
  // docs above threshold flag as repetitive. max() per source keeps the
  // double aggregation order-independent, so the oracle hashes exactly.
  private val q48: Q = (s, d) => {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("w"))
    val perDoc = words.groupBy(col("doc_id"), col("source"), col("w")).count()
      .groupBy(col("doc_id"), col("source"))
      .agg((max(col("count")).cast("double") / sum(col("count"))).as("rep_ratio"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rep_ratio") > 0.09, 1L).otherwise(0L)).cast("long").as("n_repetitive"),
        round(max(col("rep_ratio")), 9).as("max_rep"))
      .orderBy(col("source"))
  }
  private val q48Sql =
    """WITH words AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
      |counts AS (
      |  SELECT doc_id, source, w, count(*) AS c FROM words GROUP BY doc_id, source, w),
      |per_doc AS (
      |  SELECT doc_id, source, CAST(max(c) AS DOUBLE) / sum(c) AS rep_ratio
      |  FROM counts GROUP BY doc_id, source)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN rep_ratio > 0.09 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
      |  round(max(rep_ratio), 9) AS max_rep
      |FROM per_doc
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- q49: domain mixing / stratified sampling ----------------------------
  // The training-mixture op: each source keeps a target fraction of its
  // documents, deterministically (hash-free doc_id % 100 bucketing, so
  // re-runs and the oracle pick the SAME rows — reproducible mixtures
  // matter more than statistical niceties here). Rates ride a broadcast
  // dimension join; at 100 TB this is a broadcast hash join per row, no
  // shuffle of the corpus.
  private val q49: Q = (s, d) => {
    import s.implicits._
    // derived, not hard-coded: srcN keeps (5 + 7*N) mod 100 percent
    val rates = (0 until 20).map(i => (s"src$i", (5 + 7 * i) % 100)).toDF("source", "rate")
    Tables.documents(s, d)
      .join(broadcast(rates), Seq("source"))
      .filter(col("doc_id") % 100 < col("rate"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).cast("long").as("kept_chars"))
      .orderBy(col("source"))
  }
  private val q49Sql =
    """WITH rates AS (
      |  SELECT concat('src', CAST(i AS VARCHAR)) AS source, (5 + 7 * i) % 100 AS rate
      |  FROM range(20) t(i))
      |SELECT d.source, count(*) AS n_kept, CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
      |FROM documents d JOIN rates r ON d.source = r.source
      |WHERE d.doc_id % 100 < r.rate
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  // ---- q54: train/test decontamination (13-gram overlap) -------------------
  // The GPT-3-style contamination check: a document is flagged when any
  // of its 13-token runs appears in a benchmark set. The benchmark here
  // is derived from the corpus itself (first 13 tokens of every 50th
  // doc), so DuckDB can state the expected flags exactly. Shape for
  // 100 TB: benchmark n-gram sets are small (millions of hashes), so
  // they BROADCAST; the corpus explodes to 13-gram xxhash64s (never the
  // raw text) and left-semi joins — one pass, no corpus shuffle. The
  // oracle joins raw 13-token strings instead of hashes, so agreement
  // also certifies hash-collision freedom on this data (same 2^-64
  // assumption as q30's digest dedup).
  private val q54: Q = (s, d) => {
    val toks = docsWithTokens(s, d)
    val bench = toks.filter(col("doc_id") % 50 === 0 && size(col("toks")) >= 13)
      .select(expr("xxhash64(concat_ws(' ', slice(toks, 1, 13)))").as("gh"))
      .distinct()
    val grams = toks.filter(size(col("toks")) >= 13)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 12), i -> xxhash64(concat_ws(' ', slice(toks, i, 13))))"
      )).as("gh"))
    val flagged = grams.join(broadcast(bench), Seq("gh"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("fl", lit(1))
    toks.join(flagged, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), count(col("fl")).as("n_flagged"))
      .orderBy(col("source"))
  }
  private val q54Sql =
    """WITH toks AS (
      |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |bench AS (
      |  SELECT DISTINCT array_to_string(t[1:13], ' ') AS g
      |  FROM toks WHERE doc_id % 50 = 0 AND len(t) >= 13),
      |grams AS (
      |  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS g
      |  FROM toks, unnest(generate_series(1, len(t) - 12)) AS u(i)
      |  WHERE len(t) >= 13),
      |flagged AS (
      |  SELECT DISTINCT doc_id FROM grams WHERE g IN (SELECT g FROM bench))
      |SELECT tk.source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(f.doc_id) AS BIGINT) AS n_flagged
      |FROM toks tk LEFT JOIN flagged f ON tk.doc_id = f.doc_id
      |GROUP BY tk.source
      |ORDER BY tk.source""".stripMargin

  // ---- q55: sequence packing for training contexts -------------------------
  // Greedy-by-cumulative-sum packing of documents into 2048-token bins:
  // bin = floor((running_sum - n_tok) / 2048) in doc_id order. Packing
  // runs per SOURCE (window partitioned by source), never as one global
  // ordered window — a total order would serialize the corpus through a
  // single task at 100 TB; per-source (or per-shard) packing is the
  // distributed layout training pipelines actually use.
  private val q55: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val t = docsWithTokens(s, d)
      .select(col("doc_id"), col("source"), size(col("toks")).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binned = t.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / lit(2048.0)).cast("long"))
    binned.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("docs_in_bin"), sum(col("n_tok")).as("fill"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("docs_in_bin")).as("n_docs"),
        sum(col("fill")).as("total_tokens"),
        max(col("fill")).as("max_fill"))
      .orderBy(col("source"))
  }
  private val q55Sql =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT source, n_tok, sum(n_tok) OVER (
      |    PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t),
      |g AS (
      |  SELECT source, CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS bin,
      |    count(*) AS docs_in_bin, sum(n_tok) AS fill
      |  FROM c GROUP BY source, bin)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_bins,
      |  CAST(sum(docs_in_bin) AS BIGINT) AS n_docs,
      |  CAST(sum(fill) AS BIGINT) AS total_tokens,
      |  CAST(max(fill) AS BIGINT) AS max_fill
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  // ---- q56: duplicated-span (substring) dedup -------------------------------
  // Exact shared-substring detection, the "dedup at span granularity"
  // complement to whole-doc (q30) and near-doc (q35) dedup: two documents
  // share a span when a 40-char window of one equals a window of the
  // other. Windows are CONTENT-DEFINED — only windows ending on a word
  // boundary (last char = space) are sampled, so the selection is
  // alignment-free: the same span selects the same windows in both
  // documents regardless of where it sits. At 100 TB only (16-byte
  // dual-xxhash64 digest, doc_id) pairs shuffle — never window text —
  // and the group-by digest is the one shuffle; ~1/6 of positions
  // survive the boundary filter, bounding the explode fan-out at
  // ~n_chars/6 rows per doc.
  private val q56: Q = (s, d) => {
    // shared window substrate (regex-lookahead scan, per-doc distinct —
    // a span repeated WITHIN one doc is not a cross-doc dup), lang
    // carried through for the final per-language rollup
    val wins = spanWindows(Tables.documents(s, d), carry = Seq("lang"))
    // rows are distinct per (doc_id, h), so a plain windowed count per h
    // IS the distinct-doc count — one shuffle on the digest marks the
    // shared spans, instead of a groupBy + self-semi-join that would
    // evaluate the window explode twice
    import org.apache.spark.sql.expressions.Window
    wins
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("nd") >= 2)
      .select(col("lang"), col("doc_id")).distinct()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_with_shared_span"))
      .orderBy(col("lang"))
  }
  private val q56Sql =
    """WITH t AS (
      |  SELECT doc_id, lang, lower(text) AS t
      |  FROM documents WHERE len(lower(text)) >= 40),
      |wins AS (
      |  SELECT DISTINCT doc_id, lang, md5(substr(t, CAST(g AS INT), 40)) AS h
      |  FROM (
      |    SELECT doc_id, lang, t, unnest(generate_series(1, len(t) - 39)) AS g
      |    FROM t) u
      |  WHERE substr(t, CAST(g AS INT) + 39, 1) = ' '),
      |dup AS (
      |  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
      |SELECT lang, count(DISTINCT doc_id) AS n_docs_with_shared_span
      |FROM wins WHERE h IN (SELECT h FROM dup)
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---- q57: hashed-feature linear quality classifier -------------------------
  // A fasttext-shaped scorer: tokens hash into 16 buckets (first md5 hex
  // digit — reproducible in ANY engine, which is what lets DuckDB gate
  // it), each bucket carries a fixed weight (digit-7.5)/16, a document's
  // logit is the mean token weight and the score is the logistic of 4x
  // that. Everything is codegen'd built-ins: explode + md5 + one
  // aggregate per doc, one per source — two shuffles total, no UDFs, no
  // model file to distribute.
  private val q57: Q = (s, d) => {
    val docs = docsWithTokens(s, d).filter(size(col("toks")) > 0)
    docs
      .select(col("doc_id"), col("source"), explode(col("toks")).as("tok"))
      .withColumn("w",
        (expr("instr('0123456789abcdef', substring(md5(cast(tok AS binary)), 1, 1))")
          .cast("double") - 1.0 - 7.5) / 16.0)
      .groupBy(col("doc_id"), col("source"))
      .agg(avg(col("w")).as("fh"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("fh") > 0, 1L).otherwise(0L)).as("n_keep"),
        round(avg(lit(1.0) / (lit(1.0) + exp(col("fh") * -4.0))), 4).as("avg_score"))
      .orderBy(col("source"))
  }
  private val q57Sql =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, source,
      |    avg((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 - 7.5) / 16.0) AS fh
      |  FROM toks GROUP BY doc_id, source)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN fh > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  round(avg(1.0 / (1.0 + exp(-4.0 * fh))), 4) AS avg_score
      |FROM w
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- q59: transitive dedup clusters (connected components) ----------------
  // Near-dup similarity is not transitive, but DEDUP DECISIONS must be:
  // if A shares a span with B and B with C, the family {A,B,C} is one
  // cluster even when A and C share nothing. Edges are q56's
  // content-defined shared-span digests; components come from min-label
  // propagation — per iteration one join + one aggregate, O(component
  // diameter) iterations (bounded, convergence REQUIRED not assumed),
  // labels localCheckpoint'ed so the plan doesn't grow exponentially.
  // The driver loop is scheduling only — every data pass is distributed.
  // The fixpoint (min doc_id reachable) is unique, so the DuckDB
  // recursive-CTE oracle matches exactly.
  //
  // Edge construction is STAR-shaped, not all-pairs: per span digest,
  // every doc links to the digest group's min doc_id (both directions,
  // so min-label propagation flows hub<->leaf). A span shared by k docs
  // yields 2(k-1) edges instead of k(k-1) — at 100 TB a boilerplate
  // span (license header, navbar) shared by 10^6 docs is 2M edges, not
  // 10^12. Connected components are identical: any two docs sharing a
  // digest are joined through the digest's hub doc.
  /** Symmetric star edges (src, dst) over (doc_id, h) span windows in
    * ONE shuffle of wins plus the final distinct: the hub (the digest
    * group's min doc_id) comes from an unbounded min-over-window on h —
    * the old groupBy + equi-join shape shuffled wins by h TWICE (once
    * into the aggregate, once into the join) and sort-merged; the
    * window pays one exchange + one sort of the same rows (q56's
    * count-over-window discipline). Skew note: a viral span digest
    * lands its group on one window partition — exactly the same hot-key
    * exposure the join shape had on h, no worse. Both edge directions
    * come from a single explode, so the only shuffle-dedup is the
    * final distinct. */
  def spanStarEdges(wins: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    wins
      .withColumn("hub", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") =!= col("hub"))
      .select(explode(array(
        struct(col("doc_id").as("src"), col("hub").as("dst")),
        struct(col("hub").as("src"), col("doc_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
  }

  /** Distinct (doc_id [, carry...], h) content-defined span-window
    * digests (width W, windows ending at a space) — the q56/q59 edge
    * substrate. Windows come from one regex-lookahead scan
    * (`(?=(.{W-1} ))` under DOTALL, zero-width so overlapping windows
    * all match) — only the ~1/6 of positions ending at a space are ever
    * materialized, vs exploding a per-character `sequence` and
    * filtering (2.2x faster measured). `carry` columns ride along
    * unchanged (q56 keeps lang). The digest is a PAIR of independent
    * xxhash64s (struct of two longs, 16 bytes) rather than md5 (32-char
    * string, ~64 B in flight): every downstream op — the distinct here,
    * q56's window-by-h, q59's hub join and edge distinct — shuffles and
    * compares h, and the struct is 4x narrower and far cheaper to
    * compute. One 64-bit hash is NOT enough at design scale: no 64-bit
    * digest is injective over 40-char windows, and at ~1e12 windows
    * birthday collisions (~N²/2^65) become expected, producing false
    * shared-span matches that q59's connected components would amplify
    * into wrongly merged families. Two xxhash64s under DIFFERENT seeds
    * put the pair-collision bound back at ~N²/2^129 (vanishing at any
    * real corpus size). Seeding: Spark's multi-arg xxhash64 chains each
    * argument's hash as the next seed, so `xxhash64(salt, w)` hashes w
    * under seed XXH64(salt, 42) — the salt must be PREPENDED;
    * `xxhash64(w, salt)` would be a pure function of xxhash64(w) and
    * collide exactly with it. Consumers only use h for equality (never
    * emitted), so the digest's type is free to change; both gate
    * oracles stay hash-green. */
  def spanWindows(docs: DataFrame, W: Int = 40,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    val t = docs
      .select(keep :+ lower(col("text")).as("t"): _*)
      .filter(length(col("t")) >= W)
    t.select(keep :+
        explode(expr(s"regexp_extract_all(t, '(?s)(?=(.{${W - 1}} ))', 1)")).as("w"): _*)
      .select(keep :+ struct(
        xxhash64(col("w")).as("h1"),
        xxhash64(lit(0x5bd1e995L), col("w")).as("h2")).as("h"): _*)
      .distinct()
  }

  private val q59: Q = (s, d) => {
    // wins now has ONE consumer (the window-shaped star edges evaluate
    // it once), so the old wins.localCheckpoint materialization job is
    // gone; edges stay checkpointed for the iteration loop below
    val wins = spanWindows(Tables.documents(s, d))
    val edges = spanStarEdges(wins).localCheckpoint()
    var labels = Tables.documents(s, d)
      .select(col("doc_id"), col("doc_id").as("label")).localCheckpoint()
    var converged = false
    var iters = 0
    while (!converged && iters < 20) {
      iters += 1
      val prop = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc_id")).agg(min(col("label")).as("nl"))
      // carry the old label THROUGH the checkpoint: the convergence probe
      // is then a filter over the materialized frame, not a fresh
      // labels⋈next join per iteration
      val next = labels.join(prop, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .localCheckpoint()
      converged = next.filter(col("label") =!= col("old")).isEmpty
      labels = next.select(col("doc_id"), col("label"))
    }
    require(converged, s"label propagation did not converge in $iters iterations")
    val comps = labels.groupBy(col("label")).agg(count(lit(1)).as("sz"))
    comps.agg(
      sum(col("sz")).cast("long").as("n_docs"),
      count(lit(1)).as("n_components"),
      sum(when(col("sz") >= 2, 1L).otherwise(0L)).as("n_families"),
      sum(when(col("sz") >= 2, col("sz")).otherwise(0L)).cast("long").as("docs_in_families"),
      max(col("sz")).cast("long").as("largest_family"))
  }
  private val q59Sql =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, lower(text) AS t FROM documents WHERE len(lower(text)) >= 40),
      |wins AS (
      |  SELECT DISTINCT doc_id, md5(substr(t, CAST(g AS INT), 40)) AS h
      |  FROM (
      |    SELECT doc_id, t, unnest(generate_series(1, len(t) - 39)) AS g
      |    FROM t) u
      |  WHERE substr(t, CAST(g AS INT) + 39, 1) = ' '),
      |e AS (
      |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |  FROM wins a JOIN wins b ON a.h = b.h AND a.doc_id <> b.doc_id),
      |reach(a, b) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
      |lab AS (SELECT a AS doc_id, min(b) AS label FROM reach GROUP BY a),
      |comps AS (SELECT label, count(*) AS sz FROM lab GROUP BY label)
      |SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
      |  count(*) AS n_components,
      |  CAST(sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_families,
      |  CAST(sum(CASE WHEN sz >= 2 THEN sz ELSE 0 END) AS BIGINT) AS docs_in_families,
      |  CAST(max(sz) AS BIGINT) AS largest_family
      |FROM comps""".stripMargin

  // ---- q101: TF-IDF keyword extraction ------------------------------------
  // Top-3 characteristic terms per document: tf from a (doc, token)
  // count, df from distinct docs per token, idf = ln((N+1)/(df+1))
  // (smoothed). Scale shape: the corpus is tokenized ONCE — tf shuffles
  // (doc_id, tok) pairs with map-side combine, then df is a COUNT WINDOW
  // over tf partitioned by token (a tf.groupBy("tok") referenced twice
  // would make Catalyst re-scan and re-explode the whole corpus — a
  // second 100 TB pass); the doc total rides a 1-row broadcast; the
  // per-doc top-3 uses a row_number window that WindowGroupLimit prunes
  // to 3 rows per doc before the final shuffle. RANKING uses the integer
  // triple (tf desc, df asc, tok) — fully deterministic across engines,
  // immune to 1-ulp ln() divergence between JVM and DuckDB; the reported
  // score is rounded to 4 places.
  private val q101: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy("tok")
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
    tf.withColumn("df", count(lit(1)).over(wTok))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("nd") + 1.0) / (col("df") + 1.0)), 4))
      .withColumn("rnk", row_number().over(wDoc))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("tok"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }
  private val q101Sql =
    """WITH toks AS (
      |  SELECT doc_id, t.tok
      |  FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(tok)
      |), tf AS (
      |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
      |), dfreq AS (
      |  SELECT tok, count(*) AS df FROM tf GROUP BY 1
      |), n AS (SELECT count(*) AS nd FROM documents)
      |SELECT doc_id, rnk, tok, score FROM (
      |  SELECT tf.doc_id, tf.tok,
      |    round(tf.tf * ln((nd + 1.0) / (df + 1.0)), 4) AS score,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |                       ORDER BY tf.tf DESC, df ASC, tf.tok ASC) AS rnk
      |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
      |)
      |WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  // ---- q103: leakage-free train/valid/test split ---------------------------
  // Split assignment hangs off the DEDUP CLUSTER, not the document: all
  // copies of a duplicated document share a digest, the cluster's
  // representative (min doc_id) is hashed into 256 cells (two md5 hex
  // digits — the q57 engine-reproducible idiom), and the cell picks
  // train/valid/test — so near-identical text can never sit on both
  // sides of the split and leak eval data into training. Scale shape:
  // 16-byte digests shuffle (never text), and because the split is a
  // FUNCTION of the digest (via the cluster representative), the whole
  // gate folds into one per-digest aggregate: count/sum(n_chars)/
  // min(doc_id) per digest (partial map-side, one shuffle of digests),
  // then a 3-row re-aggregate by split — the corpus text is scanned and
  // normalized exactly once, and no representative join exists at all.
  // (The prior self-join shape scanned + regex-normalized + md5'd the
  // corpus twice and planned a 3-level countDistinct aggregate;
  // measured 2x the digest work at sf1 for identical results.)
  private val q103: Q = (s, d) => {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val perDigest = Tables.documents(s, d)
      .withColumn("digest", md5(norm.cast("binary")))
      .groupBy("digest")
      .agg(
        count(lit(1)).as("docs_in_cluster"),
        sum(col("n_chars")).as("chars_in_cluster"),
        min("doc_id").as("cluster_id"))
    def hexDigit(pos: Int): Column =
      expr(s"instr('0123456789abcdef', substring(md5(cast(cast(cluster_id AS string) AS binary)), $pos, 1))") - 1
    perDigest
      .withColumn("h", (hexDigit(1) * 16 + hexDigit(2)) % 100)
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "valid").otherwise("test"))
      .groupBy("split")
      .agg(
        sum(col("docs_in_cluster")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(col("chars_in_cluster")).cast("long").as("total_chars"))
      .orderBy(col("split"))
  }
  private val q103Sql =
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS digest
      |  FROM documents),
      |reps AS (SELECT digest, min(doc_id) AS cluster_id FROM d GROUP BY digest),
      |a AS (
      |  SELECT d.digest, d.n_chars,
      |    ((strpos('0123456789abcdef', substr(md5(CAST(r.cluster_id AS VARCHAR)), 1, 1)) - 1) * 16
      |     + (strpos('0123456789abcdef', substr(md5(CAST(r.cluster_id AS VARCHAR)), 2, 1)) - 1)) % 100 AS h
      |  FROM d JOIN reps r USING (digest))
      |SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'valid' ELSE 'test' END AS split,
      |  count(*) AS n_docs, count(DISTINCT digest) AS n_clusters,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM a GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q104: BM25 retrieval ------------------------------------------------
  // Top-10 documents for a fixed 3-term keyword query under BM25
  // (k1=1.2, b=0.75, Lucene's ln(1+...) idf smoothing). Scale shape: the
  // corpus is tokenized in ONE heavy pass (probe-term tokens filtered
  // BEFORE the (doc, tok) aggregate, so tf holds only matching docs);
  // document frequency is a COUNT WINDOW over tf partitioned by token —
  // a tf.groupBy("tok") would make Catalyst re-scan and re-tokenize the
  // corpus (plan-audited: it did) — and the corpus constants (N, total
  // tokens) ride one projection-only pass that never explodes. The
  // top-10 is orderBy+limit = TakeOrderedAndProject (per-partition
  // heaps, no global sort). avgdl enters as len*nd/total — integer
  // corpus totals, not a precomputed float mean — so both engines
  // evaluate the same arithmetic tree; ties break on doc_id.
  private val Bm25Terms = Seq("spark", "window", "hash")
  /** Per-doc BM25 scores for the fixed probe terms (q104's scorer,
    * shared with q116's hybrid fusion): (doc_id, score), unranked. */
  private[operators] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val withLen = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("len", size(col("toks")))
    val consts = withLen.agg(
      count(lit(1)).as("nd"), sum(col("len")).cast("long").as("total"))
    val tf = withLen
      .select(col("doc_id"), col("len"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("len"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy("tok")
    tf.withColumn("df", count(lit(1)).over(wTok))
      .crossJoin(broadcast(consts))
      .withColumn("term_score",
        log(lit(1.0) + (col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") * col("nd") / col("total")))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 4).as("score"))
  }
  private val q104: Q = (s, d) =>
    bm25Scores(s, d)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
      .select(col("doc_id"), col("score"))
  private val q104Sql =
    """WITH dl AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS len
      |  FROM documents),
      |c AS (SELECT count(*) AS nd, CAST(sum(len) AS BIGINT) AS total FROM dl),
      |tf AS (
      |  SELECT doc_id, len, tok, count(*) AS tf
      |  FROM dl, UNNEST(toks) AS t(tok)
      |  WHERE tok IN ('spark', 'window', 'hash')
      |  GROUP BY 1, 2, 3),
      |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
      |SELECT doc_id, score FROM (
      |  SELECT tf.doc_id,
      |    round(sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5))
      |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len * nd / total)))), 4) AS score
      |  FROM tf JOIN dfreq USING (tok) CROSS JOIN c
      |  GROUP BY tf.doc_id)
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // ---- q105: alpha-temperature mixture weights -----------------------------
  // Per-source sampling weights for training-mixture construction:
  // w_i = n_i^alpha / sum(n_j^alpha) with alpha=0.3 (the multilingual-
  // sampling temperature trick — upweights small sources, keeps big ones
  // dominant), plus effective epochs per source at a 1e9-token budget.
  // Scale shape: one tokenize pass collapses to a per-source token count
  // (map-side combine), everything after runs on a handful of rows.
  // Cross-engine determinism: pow() is the only libm call — its result
  // is scaled to a 6-decimal INTEGER per source, so everything AFTER the
  // pow (normalizing sum, divisions) is exact-input arithmetic in both
  // engines; a 1-ulp pow divergence landing exactly on a .5 rounding
  // boundary remains possible (shrunk, not eliminated).
  private val q105: Q = (s, d) => {
    val counts = docsWithTokens(s, d)
      .select(col("source"), size(col("toks")).as("len"))
      .groupBy("source").agg(sum(col("len")).cast("long").as("n_toks"))
      .withColumn("p6", round(pow(col("n_toks"), lit(0.3)) * lit(1e6)).cast("long"))
    val tot = counts.agg(sum(col("p6")).cast("long").as("ptot"))
    counts.crossJoin(broadcast(tot))
      .withColumn("weight", round(col("p6") / col("ptot"), 6))
      .withColumn("epochs", round(col("weight") * lit(1e9) / col("n_toks"), 4))
      .select(col("source"), col("n_toks"), col("weight"), col("epochs"))
      .orderBy(col("source"))
  }
  private val q105Sql =
    """WITH counts AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_toks
      |  FROM documents GROUP BY source),
      |scaled AS (
      |  SELECT source, n_toks,
      |    CAST(round(pow(n_toks, 0.3) * 1e6) AS BIGINT) AS p6
      |  FROM counts),
      |tot AS (SELECT CAST(sum(p6) AS BIGINT) AS ptot FROM scaled)
      |SELECT source, n_toks,
      |  round(p6 / ptot, 6) AS weight,
      |  round(round(p6 / ptot, 6) * 1e9 / n_toks, 4) AS epochs
      |FROM scaled CROSS JOIN tot
      |ORDER BY source""".stripMargin

  // ---- q106: vocabulary coverage (95% token-occurrence cutoff) -------------
  // Smallest frequency-ranked vocabulary covering >= 95% of token
  // occurrences, per language — the sizing pass before tokenizer
  // training. Pure integer arithmetic end to end (cum*20 >= total*19),
  // so the gate is exact. Scale shape: the corpus collapses to
  // (lang, tok, count) with map-side combine FIRST; the running-sum
  // window then ranks the VOCABULARY (distinct tokens, ~1e6-1e8 rows at
  // 100 TB), never the corpus — one task per language handles its
  // vocab, not its tokens.
  private val q106: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tf = docsWithTokens(s, d)
      .select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    val byFreq = Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok").asc)
    val run = byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tf.withColumn("cum", sum(col("cnt")).over(run))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy("lang")))
      .withColumn("rnk", row_number().over(byFreq))
      .filter(col("cum") * 20 >= col("total") * 19)
      .groupBy("lang")
      .agg(min(col("rnk")).as("vocab_95"),
        countDistinct(col("tok")).as("tail_toks"),
        max(col("total")).cast("long").as("total_toks"))
      .orderBy("lang")
  }
  private val q106Sql =
    """WITH tf AS (
      |  SELECT lang, tok, count(*) AS cnt
      |  FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(tok)
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, tok, cnt,
      |    sum(cnt) OVER (PARTITION BY lang ORDER BY cnt DESC, tok
      |                   ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(cnt) OVER (PARTITION BY lang) AS total,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rnk
      |  FROM tf)
      |SELECT lang, min(rnk) AS vocab_95, count(DISTINCT tok) AS tail_toks,
      |  CAST(max(total) AS BIGINT) AS total_toks
      |FROM r WHERE cum * 20 >= total * 19
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q109: bigram-LM quality score (perplexity-style filtering) ----------
  // CCNet-style LM filtering, with the model TRAINED ON THE CORPUS in
  // the same job: per-document mean log-probability under an add-one
  // bigram model (fixed 64Ki smoothing vocabulary — the constant keeps
  // the model engine-reproducible), aggregated per source. Low avg_lp
  // sources are the ones whose text the corpus LM finds surprising —
  // the classic quality-filter signal. Scale shape: bigrams come from an
  // array-local transform (NO shuffle, unlike a lead() window over the
  // exploded corpus); the per-doc bigram-type table then takes the two
  // canonical LM shuffles — sum over (w1,w2) and over (w1) as window
  // counts on the SAME table, never a re-scan — and collapses straight
  // back to per-doc, then per-source rows. Documents under 2 tokens
  // can't be scored and are excluded (both engines state the filter).
  private val q109: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val bi = docsWithTokens(s, d)
      .filter(size(col("toks")) >= 2)
      .select(col("source"), col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))")).as("b"))
      .select(col("source"), col("doc_id"), col("b.w1"), col("b.w2"))
    val d12 = bi.groupBy("source", "doc_id", "w1", "w2").agg(count(lit(1)).as("k"))
    val scored = d12
      .withColumn("c12", sum(col("k")).over(Window.partitionBy("w1", "w2")))
      .withColumn("c1", sum(col("k")).over(Window.partitionBy("w1")))
      .withColumn("lp", col("k") * log((col("c12") + 1.0) / (col("c1") + 65536.0)))
      .groupBy(col("source"), col("doc_id"))
      .agg((sum(col("lp")) / sum(col("k"))).as("doc_lp"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("doc_lp")), 4).as("avg_lp"))
      .orderBy(col("source"))
  }
  private val q109Sql =
    """WITH bi AS (
      |  SELECT source, doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |    SELECT source, doc_id,
      |      list_transform(range(1, len(t)),
      |        i -> struct_pack(w1 := t[i], w2 := t[i + 1])) AS pairs
      |    FROM (SELECT source, doc_id,
      |            regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |          FROM documents)
      |    WHERE len(t) >= 2), UNNEST(pairs) AS u(b)),
      |d12 AS (
      |  SELECT source, doc_id, w1, w2, count(*) AS k FROM bi GROUP BY 1, 2, 3, 4),
      |scored AS (
      |  SELECT source, doc_id,
      |    sum(k * ln((c12 + 1.0) / (c1 + 65536.0))) / sum(k) AS doc_lp
      |  FROM (
      |    SELECT source, doc_id, k,
      |      sum(k) OVER (PARTITION BY w1, w2) AS c12,
      |      sum(k) OVER (PARTITION BY w1) AS c1
      |    FROM d12)
      |  GROUP BY 1, 2)
      |SELECT source, count(*) AS n_docs, round(avg(doc_lp), 4) AS avg_lp
      |FROM scored GROUP BY source ORDER BY source""".stripMargin

  // ---- q110: exact-k stratified sample (eval-set extraction) ---------------
  // Exactly k=5 documents per (source, lang) stratum, chosen by a
  // deterministic hashed order (md5 of the id) — reproducible across
  // runs, partitionings, and engines, unlike rand()-based sampling, and
  // exact-k unlike the rate-based q49/q2s. Scale shape: one shuffle by
  // stratum; WindowGroupLimit prunes each partition to its top-5 BEFORE
  // rows leave the exchange, so the window never materializes a stratum.
  private val q110: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"), col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("source"), col("lang"), col("rnk"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("lang"), col("rnk"))
  }
  private val q110Sql =
    """SELECT source, lang, rnk, doc_id, n_chars FROM (
      |  SELECT source, lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source, lang
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      |  FROM documents)
      |WHERE rnk <= 5
      |ORDER BY source, lang, rnk""".stripMargin

  // ---- q112: RAG document chunking (overlapping token windows) -------------
  // Split documents into 32-token windows with stride 24 (8-token
  // overlap) — the retrieval-chunking pass every RAG/embedding pipeline
  // runs before indexing. Chunk construction is ARRAY-LOCAL (transform
  // over the token array, no shuffle, no window function): each row
  // explodes into its chunks where it sits, so the operator is pure
  // map-side at any scale. Chunk count uses integer arithmetic only
  // (CASE + div), so both engines cut identical windows; a 1-in-37 doc
  // sample bounds the gate's output without changing the shape.
  private val q112: Q = (s, d) => {
    val (w, st) = (32, 24)
    docsWithTokens(s, d)
      .filter(col("doc_id") % 37 === 0)
      .withColumn("chunk", explode(expr(
        s"""transform(
           |  sequence(0, CASE WHEN size(toks) <= $w THEN 0
           |                   ELSE (size(toks) - $w + ${st - 1}) div $st END),
           |  i -> struct(
           |    i AS chunk_idx,
           |    i * $st AS start_tok,
           |    size(slice(toks, i * $st + 1, $w)) AS n_toks,
           |    array_join(slice(toks, i * $st + 1, $w), ' ') AS chunk_text))""".stripMargin)))
      .select(col("doc_id"), col("chunk.chunk_idx"), col("chunk.start_tok"),
        col("chunk.n_toks"), col("chunk.chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }
  private val q112Sql =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents WHERE doc_id % 37 = 0)
      |SELECT doc_id, i AS chunk_idx, i * 24 AS start_tok,
      |  len(t[i * 24 + 1 : i * 24 + 32]) AS n_toks,
      |  array_to_string(t[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text
      |FROM d, UNNEST(range(0, CASE WHEN len(t) <= 32 THEN 1
      |                            ELSE (len(t) - 32 + 23) // 24 + 1 END)) AS u(i)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- q107: persistent dedup ledger (cross-batch ingest dedup) ------------
  /** Dedup a batch against every PREVIOUS batch: the accepted-documents
    * graft table doubles as the digest ledger. The batch first collapses
    * to one representative per digest (row_number over the digest — the
    * window's hash partitioning is exactly the anti-join's requirement,
    * so Catalyst plans ONE shuffle of the batch), then anti-joins the
    * ledger's digest column (a digest-only scan: column pruning reaches
    * the graft reader), and survivors append. At 100 TB the ledger join
    * shuffles 16-byte digests, never text; survivors are re-read from
    * disk so the returned frame is the COMMITTED state, not a lazy plan
    * that would re-run the anti-join against the now-updated ledger.
    *
    * Contract: `batch` carries a digest column `h` and an id column
    * `doc_id` (the per-digest representative is the min id —
    * deterministic under replays).
    */
  def dedupIngest(s: SparkSession, ledgerDir: String, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = new org.apache.hadoop.fs.Path(ledgerDir)
    val exists = p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    val withinBatch = batch
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
    val survivors =
      if (!exists) withinBatch
      else withinBatch.join(
        s.read.format("graft").load(ledgerDir).select(col("h")),
        Seq("h"), "left_anti")
    survivors.write.format("graft")
      .mode(if (exists) "append" else "overwrite").save(ledgerDir)
    s.read.format("graft").load(ledgerDir)
  }

  // The gate replays two ingests from scratch (fresh ledger) and reads
  // the committed table back: batch-2 documents whose digest landed in
  // batch-1 must be rejected BY THE LEDGER ON DISK, not by any in-memory
  // state — the oracle states the same set algebra from parquet.
  private val q107: Q = (s, d) => {
    val dir = FormatOps.graftDir(d, "dedup_ledger")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val docs = Tables.documents(s, d)
      .withColumn("h", md5(col("text").cast("binary")))
      .select(col("doc_id"), col("source"), col("h"))
    dedupIngest(s, dir, docs.filter(col("doc_id") % 2 === 0).withColumn("batch", lit(1)))
    val ledger = dedupIngest(s, dir,
      docs.filter(col("doc_id") % 2 === 1).withColumn("batch", lit(2)))
    ledger.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_accepted"))
      .orderBy(col("batch"))
  }
  private val q107Sql =
    """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
      |b1 AS (SELECT h FROM d WHERE doc_id % 2 = 0 GROUP BY h),
      |b2 AS (SELECT h FROM d WHERE doc_id % 2 = 1 GROUP BY h)
      |SELECT 1 AS batch, count(*) AS n_accepted FROM b1
      |UNION ALL
      |SELECT 2 AS batch, count(*) AS n_accepted FROM b2
      |WHERE h NOT IN (SELECT h FROM b1)
      |ORDER BY batch""".stripMargin

  // ---- q35c: LSH precision — verified pipeline rejects planted negatives ----
  // The PRECISION twin of q35b's recall gate: the full near-dup pipeline
  // is candidates (banded LSH) + VERIFICATION (exact trigram-shingle
  // Jaccard over the candidate pairs, the standard LSH verify stage) —
  // and the gate proves the verified output contains every planted TRUE
  // duplicate and ZERO planted non-duplicates. Negatives are
  // constructed to be provably disjoint: every 2nd token is replaced by
  // a per-doc synthetic token, so EVERY 3-token shingle window contains
  // one, shingle overlap with the original is exactly zero, and J = 0
  // regardless of band collisions — the verification stage must filter
  // any spurious candidate deterministically. Verification cost is
  // bounded by the CANDIDATES (a semi-joined shingle join), never the
  // corpus — the property that makes verify affordable at 100 TB.
  private val q35c: Q = (s, d) => {
    val (base, eligible) = plantEligible(s, d)
    val exactTwin = eligible.withColumn("doc_id", col("doc_id") + PlantShiftDocs)
    // provably-disjoint negative: every 2nd token becomes a synthetic
    // one, so every shingle window holds at least one
    val negTwin = eligible
      .withColumn("toks", expr(
        "transform(toks, (t, i) -> IF(i % 2 = 1, concat('qq', doc_id, 'x', i), t))"))
      .withColumn("doc_id", col("doc_id") + 2 * PlantShiftDocs)
    val fam = base.unionByName(exactTwin).unionByName(negTwin)
    // the band table feeds both join sides and, transitively, the
    // verify stage — checkpoint so the minhash pipeline runs once
    val bands = saltHotBuckets(bandHashes(minhashSigsOf(fam)), HotBucketCap)
      .localCheckpoint()
    val l = bands.select(col("doc_id").as("id1"), col("band"), col("bh"), col("salt"))
    val r = bands.select(col("doc_id").as("id2"), col("band"), col("bh"), col("salt"))
    // the gate's assertions concern only pairs with a planted member, so
    // the verify stage runs on that slice (production verifies every
    // candidate; the cost shape — bounded by candidates, not corpus —
    // is what the gate demonstrates)
    val candidates = l.join(r, Seq("band", "bh", "salt"))
      .filter(col("id1") < col("id2") && col("id2") >= PlantShiftDocs)
      .select(col("id1"), col("id2")).distinct().localCheckpoint()
    // exact verify: true trigram-shingle Jaccard, computed only for docs
    // that appear in a candidate pair — the semi-join runs BEFORE the
    // shingle explode (plan-audited: joining after would explode the
    // whole corpus first)
    val inCand = candidates.select(col("id1").as("doc_id"))
      .union(candidates.select(col("id2").as("doc_id"))).distinct()
    // guarded like q35b (sequence(1, n-2) with n < 3 draws a descending
    // range); checkpointed because the shingle table feeds BOTH sides of
    // the intersection join plus both size joins — unchecked, the corpus
    // scan + tokenize + explode would re-run per reference
    // shingle identity is xxhash64 (8-byte long), not md5 (32-char
    // string): the digests exist only to be equality-joined on (id2, sh)
    // below, so the long is 4-6x narrower in the shuffle and far cheaper
    // to compute. Unlike the span digest (see spanWindows), one 64-bit
    // hash IS enough here: a collision only perturbs ninter when two
    // DIFFERENT shingles of the SAME candidate pair collide —
    // ~(shingles/doc)^2/2^64 ≈ 5e-12 per pair even at 100 TB per-doc
    // sizes — and a ±1 ninter cannot cross the gapped J threshold
    // (true dups J≈1, planted negatives J=0, bar 0.8).
    val candSh = fam.join(inCand, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(expr(
        """IF(size(toks) >= 3,
          |  array_distinct(transform(sequence(1, size(toks) - 2),
          |    i -> xxhash64(concat_ws(' ', slice(toks, i, 3))))),
          |  CAST(array() AS array<bigint>))""".stripMargin)).as("sh"))
      .localCheckpoint()
    val sizes = candSh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh")).localCheckpoint()
    val inter = candidates
      .join(candSh.select(col("doc_id").as("id1"), col("sh")), Seq("id1"))
      .join(candSh.select(col("doc_id").as("id2"), col("sh")), Seq("id2", "sh"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("ninter"))
    val verified = candidates
      .join(inter, Seq("id1", "id2"), "left")
      .join(sizes.select(col("doc_id").as("id1"), col("nsh").as("n1")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("nsh").as("n2")), Seq("id2"))
      .withColumn("j", coalesce(col("ninter"), lit(0L))
        / (col("n1") + col("n2") - coalesce(col("ninter"), lit(0L))))
      .filter(col("j") >= 0.8)
    // planted + true-dup counts fold into ONE pass (verified pairs are
    // distinct and the twin filter pins id2 = id1 + shift, so the found
    // set is unique per id1); only the negatives count — a global count
    // over a DIFFERENT slice of verified — stays its own 1-row aggregate
    val plantedIds = eligible.select(col("doc_id").as("id1"))
    val trueDups = verified.filter(col("id2") === col("id1") + PlantShiftDocs)
      .select(col("id1")).withColumn("_t", lit(1))
    plantedIds.join(trueDups, Seq("id1"), "left")
      .agg(count(lit(1)).as("n_planted"),
        count(col("_t")).as("n_true_dups_verified"))
      .crossJoin(verified.filter(col("id2") >= 2 * PlantShiftDocs)
        .agg(count(lit(1)).as("n_planted_negatives_reported")))
  }
  private val q35cSql =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
      |  FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n_planted,
      |  CAST(count(*) AS BIGINT) AS n_true_dups_verified,
      |  CAST(0 AS BIGINT) AS n_planted_negatives_reported
      |FROM t
      |WHERE doc_id % 20 = 0 AND len(tk) >= 20
      |  AND len(list_distinct(list_transform(generate_series(1, len(tk) - 2),
      |        i -> array_to_string(tk[i:i+2], ' ')))) >= 16""".stripMargin

  // ---- q115: corpus-level n-gram pruning (inter-document repetition) --------
  // The C4/Gopher-style corpus signal that per-doc repetition (q48)
  // can't see: a document whose 5-grams mostly ALSO appear in other
  // documents is boilerplate even if internally non-repetitive. Grams
  // are built array-locally (one transform over the word array, no
  // per-position shuffle), deduped per doc INSIDE the row
  // (array_distinct before the explode — plan-audited to save a full
  // exchange vs a distinct aggregate), and digested to md5 BEFORE the
  // document-frequency shuffle — 16-byte digests cross the wire, never
  // gram text (the q56 discipline). df rides a window over the shuffled
  // digests, so the whole op is two data shuffles (df, then per-doc
  // regroup) regardless of corpus size. The oracle replays the same md5
  // digests in DuckDB, so df counts match exactly.
  private val q115: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        split(regexp_replace(trim(lower(col("text"))), "\\s+", " "), " ").as("w"))
      .filter(size(col("w")) >= 5)
    // per-doc dedup happens INSIDE the row (array_distinct before the
    // explode), not as a distinct aggregate — plan-audited to save a
    // full exchange of the gram set
    val grams = docs
      .select(col("doc_id"), col("lang"), explode(expr(
        "array_distinct(transform(sequence(0, size(w) - 5), i -> md5(array_join(slice(w, i + 1, 5), ' '))))")).as("g"))
    import org.apache.spark.sql.expressions.Window
    val scored = grams
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"), col("lang"))
      .agg((sum(when(col("df") >= 3, 1L).otherwise(0L)) / count(lit(1))).as("dup_frac"))
    scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_frac") > 0.5, 1L).otherwise(0L)).as("n_flagged"),
        round(avg(col("dup_frac")), 6).as("avg_dup_frac"))
      .orderBy(col("lang"))
  }
  private val q115Sql =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS w
      |  FROM documents),
      |d AS (SELECT * FROM t WHERE len(w) >= 5),
      |grams AS (
      |  SELECT DISTINCT doc_id, lang, md5(array_to_string(w[g:g+4], ' ')) AS gm
      |  FROM (SELECT doc_id, lang, w,
      |          unnest(generate_series(1, len(w) - 4)) AS g FROM d) u),
      |scored AS (
      |  SELECT doc_id, lang,
      |    CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
      |  FROM (SELECT doc_id, lang, gm,
      |          count(*) OVER (PARTITION BY gm) AS df FROM grams) x
      |  GROUP BY doc_id, lang)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN dup_frac > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  round(avg(dup_frac), 6) AS avg_dup_frac
      |FROM scored GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q119: BPE merge learning (distributed tokenizer training) ------------
  // Learns the first 4 byte-pair merges over the corpus — the training
  // side of tokenization, not just token counting (q39). The classic
  // scaling shape: the corpus is reduced ONCE to a (word, count) vocab
  // (one shuffle over the text), and every merge iteration then runs
  // over the VOCAB, not the corpus — pair counting is an explode +
  // groupBy over distinct words weighted by their counts, the argmax is
  // one collected row (count desc, pair asc tie-break), and the merge
  // applies vocab-wide as a literal string replace. Words render as
  // space-delimited symbol strings (' a  b  c ': single-space ends,
  // double-space separators) so a pair occurrence is the literal
  // ' a  b ' and left-to-right non-overlapping replace IS greedy BPE —
  // both engines use the same representation and the same replace
  // semantics, making merges and counts engine-exact. Symbols stay
  // alphanumeric ([a-z0-9] tokenization), so literal interpolation is
  // injection-safe. The driver loop is scheduling only: k=4 one-row
  // collects, every data pass distributed, vocab checkpointed per step.
  /** Learn `k` BPE merges over the corpus vocab; returns the merged
    * vocab (word, c, s — s in the symbol-string representation) and the
    * merge list (step, a, b, weighted pair count). Shared by q119
    * (the merges) and q121 (the encoded vocab). */
  private def bpeLearn(s: SparkSession, d: String, k: Int)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    val words = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    var vocab = words
      .withColumn("s",
        concat(lit(" "), trim(regexp_replace(col("word"), "(.)", "$1  ")), lit(" ")))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (step <- 1 to k) {
      val pairs = vocab
        .select(col("c"), expr(
          """explode(zip_with(
            |  slice(split(trim(s), '  '), 1, size(split(trim(s), '  ')) - 1),
            |  slice(split(trim(s), '  '), 2, size(split(trim(s), '  ')) - 1),
            |  (x, y) -> struct(x AS a, y AS b)))""".stripMargin).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("c")).as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("a"), col("b")).limit(1).head()
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((step, a, b, cnt))
      vocab = vocab
        .withColumn("s", expr(s"replace(s, ' $a  $b ', ' $a$b ')"))
        .localCheckpoint()
    }
    (vocab, merges.toSeq)
  }

  private val q119: Q = (s, d) => {
    import s.implicits._
    bpeLearn(s, d, 4)._2.toDF("step", "a", "b", "cnt").orderBy(col("step"))
  }
  private val q119Sql = {
    def stage(i: Int): String = {
      val prev = s"s${i - 1}"
      s"""p$i AS (
         |  SELECT t[i] AS a, t[i+1] AS b, sum(c) AS cnt
         |  FROM (SELECT c, string_split(trim(s), '  ') AS t FROM $prev),
         |       UNNEST(generate_series(1, len(t) - 1)) AS g(i)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |s$i AS (
         |  SELECT c, replace(s,
         |    ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
         |    ' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ') AS s
         |  FROM $prev)""".stripMargin
    }
    s"""WITH w AS (
       |  SELECT tok AS word, count(*) AS c
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       |        FROM documents) u
       |  GROUP BY tok),
       |s0 AS (
       |  SELECT c, ' ' || trim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS s
       |  FROM w),
       |${(1 to 4).map(stage).mkString(",\n")}
       |SELECT * FROM (
       |  SELECT 1 AS step, a, b, CAST(cnt AS BIGINT) AS cnt FROM b1
       |  UNION ALL SELECT 2, a, b, CAST(cnt AS BIGINT) FROM b2
       |  UNION ALL SELECT 3, a, b, CAST(cnt AS BIGINT) FROM b3
       |  UNION ALL SELECT 4, a, b, CAST(cnt AS BIGINT) FROM b4)
       |ORDER BY step""".stripMargin
  }

  // ---- q120: character-entropy quality scoring -------------------------------
  // Shannon entropy of the character distribution per document — the
  // cheap detector for low-information text (repeated boilerplate,
  // padding, degenerate generations) that length/stopword heuristics
  // (q33) miss. Computed by the codegen'd CharEntropy expression: one
  // partition-local pass per document emitting a single double, so the
  // only shuffle is the final by-lang rollup (rows ∝ documents). The
  // previous shape — regexp_extract_all('(?s)(.)') + explode + two
  // groupBys — shuffled ONE ROW PER CHARACTER and was the repo's last
  // plan whose intermediate scaled with characters, not documents.
  // Entropy rounded to 6dp BEFORE thresholding so the flag can't
  // straddle the cutoff on summation-order FP noise between engines;
  // the isNotNull filter reproduces the old plan's exclusion of empty
  // documents (the regex produced zero rows for them). Oracle SQL is
  // unchanged — same char semantics, same rounding.
  private val q120: Q = (s, d) => {
    val ent = Tables.documents(s, d)
      .select(col("lang"),
        round(graft.functions.CharEntropy.charEntropy(lower(col("text"))), 6).as("h"))
      .where(col("h").isNotNull)
    ent.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("h") < 3.0, 1L).otherwise(0L)).as("n_low_entropy"),
        round(avg(col("h")), 6).as("avg_entropy"))
      .orderBy(col("lang"))
  }
  private val q120Sql =
    """WITH ch AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_extract_all(lower(text), '(?s)(.)', 1)) AS c
      |  FROM documents),
      |f AS (SELECT doc_id, lang, c, count(*) AS n FROM ch GROUP BY 1, 2, 3),
      |e AS (
      |  SELECT doc_id, lang,
      |    round(-sum((n::DOUBLE / t) * ln(n::DOUBLE / t)), 6) AS h
      |  FROM (SELECT *, sum(n) OVER (PARTITION BY doc_id) AS t FROM f) x
      |  GROUP BY 1, 2)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN h < 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_entropy,
      |  round(avg(h), 6) AS avg_entropy
      |FROM e GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q121: BPE encode — apply the learned merges to the corpus -------------
  // The encode side of q119: after 4 learned merges, the vocab table IS
  // the tokenizer dictionary — at 100 TB you encode a corpus by joining
  // its words against this (word → subtoken count/ids) table, never by
  // re-running merges over raw text. The gate reports exact integers
  // (occurrence-weighted word, char, and subtoken totals): chars vs
  // subtokens is the compression the 4 merges bought, and every number
  // is engine-exact because the oracle replays the same merge chain on
  // the same representation.
  private val q121: Q = (s, d) => {
    val (vocab, _) = bpeLearn(s, d, 4)
    vocab.agg(
      sum(col("c")).as("n_words"),
      sum(col("c") * length(col("word"))).cast("long").as("n_chars"),
      sum(col("c") * size(split(trim(col("s")), "  "))).cast("long").as("n_subtokens"))
  }
  private val q121Sql = {
    def stage(i: Int): String = {
      val prev = s"s${i - 1}"
      s"""p$i AS (
         |  SELECT t[i] AS a, t[i+1] AS b, sum(c) AS cnt
         |  FROM (SELECT c, string_split(trim(s), '  ') AS t FROM $prev),
         |       UNNEST(generate_series(1, len(t) - 1)) AS g(i)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |s$i AS (
         |  SELECT word, c, replace(s,
         |    ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
         |    ' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ') AS s
         |  FROM $prev)""".stripMargin
    }
    s"""WITH w AS (
       |  SELECT tok AS word, count(*) AS c
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       |        FROM documents) u
       |  GROUP BY tok),
       |s0 AS (
       |  SELECT word, c,
       |    ' ' || trim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS s
       |  FROM w),
       |${(1 to 4).map(stage).mkString(",\n")}
       |SELECT CAST(sum(c) AS BIGINT) AS n_words,
       |  CAST(sum(c * len(word)) AS BIGINT) AS n_chars,
       |  CAST(sum(c * len(string_split(trim(s), '  '))) AS BIGINT) AS n_subtokens
       |FROM s4""".stripMargin
  }

  // ---- q130: the curation funnel, end to end --------------------------------
  // The composite a real training-data pipeline runs as ONE job, chained
  // from the individually-gated stages: quality filter (q33's token /
  // alpha-ratio machinery) → global exact dedup on normalized text
  // (q31's normalization, min-doc_id representative) → token accounting
  // of the survivors, attributed per source. Each stage is a narrow
  // projection; the only shuffles are the dedup window (hash-partitioned
  // by digest) and the final per-source aggregates — no stage
  // materializes more than (digest, ids, counts). The oracle restates
  // the whole funnel in SQL, so any drift in ANY stage's semantics —
  // tokenization, the ratio guard, normalization, representative
  // choice — hash-fails the composite even while the per-stage gates
  // stay green.
  private val q130: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .withColumn("n_len", length(col("text")))
      .withColumn("n_alpha", length(regexp_replace(col("text"), "[^a-zA-Z]", "")))
      .withColumn("alpha_ratio",
        when(col("n_len") > 0, col("n_alpha").cast("double") / col("n_len"))
          .otherwise(0.0))
    val quality = t.filter(col("n_tokens") >= 5 && col("alpha_ratio") > 0.5)
    val deduped = quality
      .withColumn("h", md5(trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")).cast("binary")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
    val inBySource = t.groupBy(col("source")).agg(count(lit(1)).as("n_in"))
    val qBySource = quality.groupBy(col("source")).agg(count(lit(1)).as("n_quality"))
    val keptBySource = deduped.groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("tokens_kept"))
    inBySource
      .join(qBySource, Seq("source"), "left")
      .join(keptBySource, Seq("source"), "left")
      .select(col("source"), col("n_in"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
      .orderBy(col("source"))
  }
  private val q130Sql =
    """WITH t AS (
      |  SELECT doc_id, source, text,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |    CASE WHEN length(text) > 0
      |         THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |              / length(text)
      |         ELSE 0.0 END AS alpha_ratio
      |  FROM documents),
      |q AS (SELECT * FROM t WHERE n_tokens >= 5 AND alpha_ratio > 0.5),
      |dd AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
      |    ORDER BY doc_id) AS rk
      |  FROM q),
      |kept AS (SELECT * FROM dd WHERE rk = 1)
      |SELECT t.source,
      |  count(*) AS n_in,
      |  coalesce((SELECT count(*) FROM q WHERE q.source = t.source), 0) AS n_quality,
      |  coalesce((SELECT count(*) FROM kept WHERE kept.source = t.source), 0) AS n_kept,
      |  coalesce((SELECT CAST(sum(n_tokens) AS BIGINT) FROM kept WHERE kept.source = t.source), 0) AS tokens_kept
      |FROM t
      |GROUP BY t.source
      |ORDER BY t.source""".stripMargin

  // ---- q131: deterministic training-order shuffle + sharding ---------------
  // Reproducible training order is a pipeline CONTRACT: the global
  // document order for an epoch must be a pure function of (seed,
  // doc_id) — re-runs, resumed jobs, and a 1000-executor re-shard must
  // all produce the identical order. Order key = md5(seed '-' doc_id)
  // (hex strings order identically everywhere); shard = first two hex
  // digits mod 8, so assignment needs NO global sort or row numbering —
  // one narrow pass, no shuffle until the per-shard audit aggregate. In
  // production the epoch export is repartitionByRange(ord) over the
  // same key; this gate pins the determinism contract per shard
  // (counts, boundary keys, id sums) against the oracle's restatement.
  private val q131: Q = (s, d) => {
    val seed = "epoch-0"
    Tables.documents(s, d)
      .withColumn("ord", md5(concat(lit(seed), lit("-"),
        col("doc_id").cast("string")).cast("binary")))
      .withColumn("shard",
        ((expr("instr('0123456789abcdef', substring(ord, 1, 1))") - 1) * 16 +
          expr("instr('0123456789abcdef', substring(ord, 2, 1))") - 1) % 8)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("ord")).as("first_ord"),
        max(col("ord")).as("last_ord"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("shard"))
  }
  private val q131Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    md5('epoch-0-' || CAST(doc_id AS VARCHAR)) AS ord
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, ord,
      |    ((strpos('0123456789abcdef', substr(ord, 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(ord, 2, 1)) - 1) % 8 AS shard
      |  FROM t)
      |SELECT shard, count(*) AS n_docs,
      |  min(ord) AS first_ord, max(ord) AS last_ord,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM s
      |GROUP BY shard
      |ORDER BY shard""".stripMargin

  val queries: Map[String, Q] = Map(
    "q131_training_order" -> q131,
    "q130_curation_funnel" -> q130,
    "q35c_lsh_precision" -> q35c,
    "q121_bpe_encode" -> q121,
    "q120_char_entropy" -> q120,
    "q119_bpe_merges" -> q119,
    "q115_corpus_ngram_prune" -> q115,
    "q112_rag_chunking" -> q112,
    "q110_stratified_sample" -> q110,
    "q109_lm_quality" -> q109,
    "q107_dedup_ledger" -> q107,
    "q106_vocab_coverage" -> q106,
    "q105_mixture_weights" -> q105,
    "q104_bm25" -> q104,
    "q103_leakfree_split" -> q103,
    "q101_tfidf" -> q101,
    "q59_dedup_clusters" -> q59,
    "q56_span_dedup" -> q56,
    "q57_hashed_classifier" -> q57,
    "q54_decontaminate" -> q54,
    "q55_pack_sequences" -> q55,
    "q49_domain_mix" -> q49,
    "q47_pii_redact" -> q47,
    "q48_repetition" -> q48,
    "q37b_edit_distance" -> q37b,
    "q38b_rolling_fingerprint" -> q38b,
    "q39_bpe_tokens" -> q39,
    "q30_dedup_exact" -> q30,
    "q31_dedup_normalized" -> q31,
    "q32_token_stats" -> q32,
    "q33_quality_score" -> q33,
    "q34_langid" -> q34,
    "q35_minhash_lsh" -> q35,
    "q35b_minhash_recall" -> q35b,
    "q36_simhash" -> q36,
    "q37_ngram_jaccard" -> q37,
    "q38_fingerprint" -> q38)

  val oracle: Map[String, String] = Map(
    "q131_training_order" -> q131Sql,
    "q130_curation_funnel" -> q130Sql,
    "q35c_lsh_precision" -> q35cSql,
    "q121_bpe_encode" -> q121Sql,
    "q120_char_entropy" -> q120Sql,
    "q119_bpe_merges" -> q119Sql,
    "q115_corpus_ngram_prune" -> q115Sql,
    "q112_rag_chunking" -> q112Sql,
    "q110_stratified_sample" -> q110Sql,
    "q109_lm_quality" -> q109Sql,
    "q107_dedup_ledger" -> q107Sql,
    "q106_vocab_coverage" -> q106Sql,
    "q105_mixture_weights" -> q105Sql,
    "q104_bm25" -> q104Sql,
    "q103_leakfree_split" -> q103Sql,
    "q101_tfidf" -> q101Sql,
    "q59_dedup_clusters" -> q59Sql,
    "q56_span_dedup" -> q56Sql,
    "q57_hashed_classifier" -> q57Sql,
    "q54_decontaminate" -> q54Sql,
    "q55_pack_sequences" -> q55Sql,
    "q49_domain_mix" -> q49Sql,
    "q47_pii_redact" -> q47Sql,
    "q48_repetition" -> q48Sql,
    "q37b_edit_distance" -> q37bSql,
    "q39_bpe_tokens" -> q39Sql,
    "q30_dedup_exact" -> q30Sql,
    "q31_dedup_normalized" -> q31Sql,
    "q32_token_stats" -> q32Sql,
    "q33_quality_score" -> q33Sql,
    "q34_langid" -> q34Sql,
    // q35 is not SQL-expressible (LSH banding): driver records a
    // rows-only check; its banding path is gated by q35b's exact
    // planted-truth recall oracle.
    "q35_minhash_lsh" -> q35Sql,
    "q35b_minhash_recall" -> q35bSql,
    "q36_simhash" -> q36Sql,
    "q37_ngram_jaccard" -> q37Sql,
    "q38_fingerprint" -> q38Sql,
    "q38b_rolling_fingerprint" -> q38bSql)
}
