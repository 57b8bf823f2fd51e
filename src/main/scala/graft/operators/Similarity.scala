package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - Brute-force cosine top-k: the exact baseline. The probe set is tiny
  *    and broadcast; the corpus side streams — at 100 TB this is one scan,
  *    no shuffle of the corpus.
  *  - Random-hyperplane LSH: the approximate scale path. Vectors are
  *    bucketed by sign-bit signatures of dot products with fixed seeded
  *    hyperplanes; candidates come from an equi-join on the bucket key.
  *
  * All dot products run through the codegen'd [[graft.functions
  * .DotProduct]] expression on array<double|float> — no UDFs, and the
  * float path scans embeddings cast-free (q153).
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  /** Left-fold dot product (native codegen'd expression — see
    * [[graft.functions.DotProduct]]; deterministic sequential order =>
    * bit-identical with the DuckDB oracle's list_dot_product). */
  private def dot(a: String, b: String): Column =
    graft.functions.VectorOps.dot(col(a), col(b))

  /** Corpus with the L2 norm computed ONCE per vector, before any join —
    * recomputing norms inside an N×K pair join costs 2 extra dot
    * products per pair. */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("nv", sqrt(graft.functions.VectorOps.dot(col("v"), col("v"))))

  // ---- q40: brute-force cosine top-10 vs one probe vector -----------------
  private val q40: Q = (s, d) => {
    val e = emb(s, d)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("nv").as("np"))
    e.filter(col("vec_id") > 0)
      .crossJoin(broadcast(probe))
      .withColumn("cosine", round(dot("v", "pv") / (col("nv") * col("np")), 6))
      .select(col("vec_id"), col("label"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }
  private val q40Sql =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
      |sc AS (
      |  SELECT e.vec_id, e.label,
      |    round(list_dot_product(e.v, p.pv)
      |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6) AS cosine
      |  FROM e CROSS JOIN p WHERE e.vec_id > 0)
      |SELECT vec_id, label, cosine FROM sc
      |ORDER BY cosine DESC, vec_id
      |LIMIT 10""".stripMargin

  // ---- q153: q40's float32 twin over graft-stored float vectors -----------
  // Real embedding stores are float32; the double cast q40's `emb` pays
  // doubles every scanned vector byte. Here the corpus is written to
  // graft AS array<float> (values at 4 bytes; the constant-stride
  // offsets delta-encode to ~nothing) and scanned cast-free: [[
  // graft.functions.DotProduct]] widens each float element to double
  // INSIDE the fold, which is bit-identical to casting the array first
  // (float→double widening is exact) — so the oracle remains the exact
  // double-domain recompute, while the scan reads half the bytes. At
  // 100 TB that is the difference between a 50 TB and a 100 TB
  // vector-scan per curation pass.
  private val q153: Q = (s, d) => {
    val dir = FormatOps.graftDir(d, "float_vectors")
    Tables.embeddings(s, d)
      .write.format("graft").mode("overwrite").save(dir)
    val e = s.read.format("graft").load(dir)
      .withColumn("nv", sqrt(dot("embedding", "embedding"))) // float in, double out
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pv"), col("nv").as("np"))
    e.filter(col("vec_id") > 0)
      .crossJoin(broadcast(probe))
      .withColumn("cosine", round(dot("embedding", "pv") / (col("nv") * col("np")), 6))
      .select(col("vec_id"), col("label"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }
  // identical to q40's oracle: the cast-free float fold is bit-equal to
  // the double-domain recompute
  private val q153Sql = q40Sql

  // ---- q42: k-NN join (5-NN for every 50th vector) ------------------------
  // Exact k-NN is irreducibly |corpus|×|probes| pair evaluations; the
  // join SHAPE is left to the planner: with AQE a small probe side
  // broadcasts at runtime, and a probe side that grows with the corpus
  // (it's 2% of it) degrades to a blocked cartesian instead of an
  // executor-OOM broadcast. The sub-quadratic scale path is q44's IVF.
  //
  // A triangle-inequality cell-pruned EXACT variant (per-cell centroid +
  // radius over normalized vectors; prune cells whose best-possible
  // cosine can't beat a counted kth-lower-bound) was evaluated and
  // REJECTED with data: this corpus is isotropic — per-label centroids
  // of the normalized vectors have ||c|| ≈ 0.07 and radius ≈ 1.02
  // (essentially random unit vectors in 64-d), so every cell's cosine
  // upper bound ≈ 1 and the bound prunes NOTHING; the "pruned" plan is
  // the cartesian plus overhead. Metric pruning only works on clustered
  // embeddings, and the clustered case is exactly what the IVF family
  // (q44/q44b planted truths) already serves sub-quadratically.
  private val q42: Q = (s, d) => {
    val e = emb(s, d)
    val probes = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nv").as("np"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("vec_id"))
    e.crossJoin(probes)
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", round(dot("v", "pv") / (col("nv") * col("np")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("vec_id"), col("cosine"))
      .orderBy(col("probe_id"), col("rk"))
  }
  private val q42Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id % 50 = 0),
      |sc AS (
      |  SELECT p.probe_id, e.vec_id,
      |    round(list_dot_product(e.v, p.pv)
      |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6) AS cosine
      |  FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id),
      |r AS (SELECT probe_id, vec_id, cosine,
      |        row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rk
      |      FROM sc)
      |SELECT probe_id, rk, vec_id, cosine FROM r WHERE rk <= 5
      |ORDER BY probe_id, rk""".stripMargin

  // ---- multi-band random-hyperplane LSH core (q41/q45/q46) -----------------
  // 4 bands × 8 planes (the q35 MinHash banding rotated onto hyperplane
  // signs): a pair collides when ANY band's 8 sign bits all agree —
  // near-identical vectors (θ→0) match a band with prob ≈ (1-θ/π)^8 ≈
  // 0.95, so 4 bands give ~1-(0.05)^4 near-certain recall, while random
  // pairs (θ≈π/2) pass a band with prob 2^-8. Per-band buckets bound the
  // self-join: no single 2^12 bucket whose skew goes quadratic — and the
  // knobs scale independently (more planes/band → smaller buckets; more
  // bands → higher recall).
  private val NumBands = 4
  private val PlanesPerBand = 8
  /** Fixed seeded hyperplanes: deterministic across runs and executors. */
  private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(NumBands * PlanesPerBand)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** (vec_id, v, nv, bucket) with one row per band; `bucket` folds the
    * band id in, so a plain equi-join on it never crosses bands. */
  private def banded(df: DataFrame): DataFrame = {
    val planeLit = array(planes.map(p => array(p.map(lit): _*)): _*)
    df.withColumn("planes", planeLit)
      .withColumn("sigbits", expr(
        """transform(planes, p ->
          |  IF(aggregate(zip_with(v, p, (x, y) -> x * y), CAST(0.0 AS DOUBLE),
          |     (acc, w) -> acc + w) >= 0.0, 1, 0))""".stripMargin))
      .withColumn("band", explode(sequence(lit(0), lit(NumBands - 1))))
      .withColumn("bucket", expr(
        s"aggregate(slice(sigbits, band * $PlanesPerBand + 1, $PlanesPerBand), " +
          "CAST(band AS BIGINT), (acc, b) -> acc * 2 + b)"))
      .select(col("vec_id"), col("v"), col("nv"), col("bucket"))
  }

  /** Candidate pairs (id1 < id2), UNIONED across bands and de-duplicated
    * BEFORE any scoring — a pair colliding in 3 bands is scored once. */
  private def candidatePairs(corpus0: DataFrame): DataFrame = {
    // the corpus feeds FOUR subtrees (both band sides + both vector
    // probes) as different projections Catalyst won't unify — checkpoint
    // once so the embedding pipeline (incl. any planted-twin synthesis)
    // runs once, not four times
    val corpus = corpus0.localCheckpoint()
    val b = banded(corpus).localCheckpoint() // both join sides below
    val l = b.select(col("vec_id").as("id1"), col("bucket"))
    val r = b.select(col("vec_id").as("id2"), col("bucket"))
    val pairs = l.join(r, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    val v1 = corpus.select(col("vec_id").as("id1"), col("v").as("v1"), col("nv").as("n1"))
    val v2 = corpus.select(col("vec_id").as("id2"), col("v").as("v2"), col("nv").as("n2"))
    pairs.join(v1, Seq("id1")).join(v2, Seq("id2"))
      .withColumn("cosine", dot("v1", "v2") / (col("n1") * col("n2")))
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Deterministic planted near-duplicates: every 10th vector re-enters
    * the corpus under a shifted id with ~2% multiplicative perturbation
    * (cosine vs the original ≈ 0.9996). Gives the approximate-ANN gate
    * queries exact oracles: recall is checkable against a known truth
    * set instead of data-dependent neighbor structure. */
  private val PlantShift = 10000000L
  private def withPlanted(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"), col("v"), col("nv"))
    val planted = e.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + PlantShift)
      .withColumn("v", expr("transform(v, (x, i) -> x * (1.0 + 0.02 * sin(CAST(i AS DOUBLE))))"))
      .withColumn("nv", sqrt(graft.functions.VectorOps.dot(col("v"), col("v"))))
      .select(col("vec_id"), col("v"), col("nv"))
    base.union(planted)
  }

  // ---- q41: LSH-bucketed neighbors, deterministically oracled -------------
  // The full hyperplane-LSH pipeline — signatures, banded buckets,
  // candidate join, exact cosine verification — reduced to an output a
  // SQL oracle can state: every 10th vector re-enters the corpus as an
  // EXACT copy under a shifted id. Identical vectors produce identical
  // sign bits against every hyperplane, so each (orig, copy) pair lands
  // in the same bucket in ALL bands — candidacy is GUARANTEED, not
  // probabilistic — and its verified cosine rounds to exactly 1.0. A
  // regression anywhere in the banding/bucket/join/verify path drops a
  // pair and goes hash-red. The probabilistic recall/precision behavior
  // under perturbation stays gated by q46's planted truth set.
  private val q41: Q = (s, d) => {
    val e = emb(s, d)
    val copies = e.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + PlantShift)
      .select(col("vec_id"), col("v"), col("nv"))
    val corpus = e.select(col("vec_id"), col("v"), col("nv")).union(copies)
    candidatePairs(corpus)
      .filter(col("id2") === col("id1") + PlantShift && col("id1") % 10 === 0)
      .withColumn("cosine", round(col("cosine"), 6))
      .select(col("id1"), col("id2"), col("cosine"))
      .orderBy(col("id1"))
  }
  private val q41Sql =
    """SELECT vec_id AS id1, vec_id + 10000000 AS id2, CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings WHERE vec_id % 10 = 0
      |ORDER BY id1""".stripMargin

  // ---- q46: LSH recall against a planted truth set (exact oracle) ---------
  // Every planted pair (id, id + shift) has cosine ≈ 0.9996; the banded
  // LSH must surface ≥ 90% of them (empirically 100% with the fixed
  // seed — the oracle asserts full recall, so ANY regression in the
  // banding/candidate path hash-fails the gate).
  private val q46: Q = (s, d) => {
    val e = emb(s, d)
    val found = candidatePairs(withPlanted(e))
      .filter(col("cosine") > 0.99 && col("id2") === col("id1") + PlantShift)
      .select(col("id1"))
    // one job, not two crossJoined aggregates: found is unique per id1
    // (candidatePairs dedups pairs), so a left join counts both sides
    val plantedIds = e.filter(col("vec_id") % 10 === 0).select(col("vec_id").as("id1"))
    plantedIds.join(found.withColumn("_f", lit(1)), Seq("id1"), "left")
      .agg(count(lit(1)).as("n_planted"), count(col("_f")).as("n_recovered"))
      .select(col("n_planted"), col("n_recovered"),
        (col("n_recovered") >= col("n_planted") * 0.9).as("recall_ok"))
  }
  private val q46Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_planted,
      |  CAST(count(*) AS BIGINT) AS n_recovered,
      |  true AS recall_ok
      |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin

  // ---- q43: per-label centroids (element-wise mean via posexplode) --------
  private val q43: Q = (s, d) => {
    emb(s, d)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("x")), 6).as("mean_x"))
      .filter(col("pos") < 8)
      .orderBy(col("label"), col("pos"))
  }
  // DuckDB parallel-unnest zips the two lists positionally.
  private val q43Oracle =
    """WITH t AS (
      |  SELECT label,
      |    CAST(unnest(generate_series(0, 63)) AS INT) AS pos,
      |    unnest(CAST(embedding AS DOUBLE[])) AS x
      |  FROM embeddings)
      |SELECT label, pos, round(avg(x), 6) AS mean_x
      |FROM t
      |WHERE pos < 8
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  /** Coarse-quantizer centroids: label → mean vector, one
    * dimension-exploded distributed aggregate (tiny result; every
    * caller broadcasts it). `cellAsLong` casts the cell id for the
    * persisted index paths, whose hive partition column round-trips as
    * a string. ONE implementation — five hand-copies of this pipeline
    * (q44/q44b/q44c/q44d/q122) drifted before. */
  private def centroidsOf(e: DataFrame, cellAsLong: Boolean = false): DataFrame = {
    val base = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("cx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
    val cell = if (cellAsLong) col("label").cast("long") else col("label")
    base.select(cell.as("cell"), expr("transform(pairs, p -> p.cx)").as("cv"))
  }

  /** Score every vector against every centroid and keep its top-`k`
    * cells — rk 1 is the home cell, rk ≤ k the multi-probe set. The
    * (score desc, cell) tie-break is the assignment contract all IVF
    * gates share.
    *
    * ZERO-shuffle by construction: the (tiny) centroid table collapses
    * to ONE array row — centroid norms precomputed per centroid, not
    * per (vector, centroid) pair — which broadcasts, and each vector
    * ranks its cells INSIDE its own row (array_sort over (-score, cell)
    * structs, then slice to k). The old shape crossJoined the broadcast
    * and ranked with a row_number window, which paid one exchange AND
    * one sort of |corpus|×|cells| rows per call — pure machinery, since
    * the rank only ever compares cells of the SAME vector. Ordering is
    * identical: IEEE negation is exact, so ascending (-score, cell)
    * reproduces (score desc, cell asc) bit-for-bit (scores are never
    * NaN here: norms are positive and centroid vectors non-degenerate
    * by construction). */
  private def rankCells(df: DataFrame, against: DataFrame, k: Int): DataFrame = {
    val cents = against
      .select(struct(col("cell"), col("cv"),
        sqrt(dot("cv", "cv")).as("cn")).as("c"))
      .agg(collect_list(col("c")).as("_cents"))
    val keep = df.columns.map(col).toSeq
    df.crossJoin(broadcast(cents))
      .withColumn("_top", slice(array_sort(transform(col("_cents"),
        c => struct(
          negate(graft.functions.VectorOps.dot(col("v"), c.getField("cv")) /
            (col("nv") * c.getField("cn"))).as("ns"),
          c.getField("cell").as("cell")))), lit(1), lit(k)))
      .select(keep :+ posexplode(col("_top")).as(Seq("_rk0", "_t")): _*)
      .select(keep :+ (col("_rk0") + 1).as("rk") :+
        negate(col("_t.ns")).as("score") :+ col("_t.cell").as("cell"): _*)
  }

  /** (n_planted, n_recovered, recall_ok) in ONE job. The old shape ran
    * the planted set twice — a count aggregate crossJoined with a
    * semi-join aggregate, each its own scan+shuffle subtree; one LEFT
    * join against the (per-orig_id unique) found set counts both in a
    * single pass. */
  private def recallReport(plantedIds: DataFrame, found: DataFrame): DataFrame =
    plantedIds.join(found.withColumn("_f", lit(1)), Seq("orig_id"), "left")
      .agg(count(lit(1)).as("n_planted"), count(col("_f")).as("n_recovered"))
      .select(col("n_planted"), col("n_recovered"),
        (col("n_recovered") === col("n_planted")).as("recall_ok"))

  // ---- q44: IVF-style ANN (coarse quantize -> search one cell) ------------
  // The scale path for ANN: build coarse centroids (here: per-label means,
  // a distributed agg), assign every vector + probe to its nearest
  // centroid, then search only within the probe's cell — an equi-join on
  // cell id, so the corpus is never cross-joined. Deterministically
  // oracled: probes are EXACT copies of every 100th corpus vector under
  // a shifted id. An identical vector computes identical centroid
  // cosines, so the probe lands in its twin's cell BY CONSTRUCTION, and
  // the cell search must return the twin at rank 1 with cosine 1.0 (no
  // other pair in this corpus reaches it). Centroid build, assignment,
  // cell equi-join and ranking are all on the hash path; recall under
  // real perturbation stays gated by q44b's multi-probe planted truth.
  private val q44: Q = (s, d) => {
    val e = emb(s, d)
    val cents = centroidsOf(e)
    // assign: nearest centroid by cosine (centroid set is tiny => broadcast)
    val assigned = rankCells(e, cents, k = 1)
      .select(col("vec_id"), col("label"), col("v"), col("nv"), col("cell"))
    val probes = rankCells(
      e.filter(col("vec_id") % 100 === 0)
        .withColumn("vec_id", col("vec_id") + PlantShift), cents, k = 1)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nv").as("np"), col("cell"))
    // search only the probe's cell: equi-join on cell, linear in corpus.
    // The probe side is 1% of the corpus BY QUERY SHAPE (an ANN search's
    // probe batch) — explicitly broadcast: the zero-shuffle rank path
    // feeds the join through a Generate whose size ESTIMATE balloons
    // (cross-join row product), which otherwise flips the planner to a
    // sort-merge join with both sides exchanged+sorted.
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .withColumn("cosine", round(dot("v", "pv") / (col("nv") * col("np")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select((col("probe_id") - PlantShift).as("orig_id"),
        col("vec_id").as("found_id"), col("cosine"))
      .orderBy(col("orig_id"))
  }
  private val q44Sql =
    """SELECT vec_id AS orig_id, vec_id AS found_id, CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings WHERE vec_id % 100 = 0
      |ORDER BY orig_id""".stripMargin

  // ---- q44b: IVF recall gate with multi-probe (planted truth) --------------
  // The q46 trick applied to the IVF path: the planted near-dups (cosine
  // ~0.9996 to their originals) must be recoverable through the cell
  // structure. Corpus vectors live in ONE cell (nearest centroid); each
  // probe searches its TOP-2 cells — standard multi-probe IVF, which
  // closes the boundary case where the tiny perturbation lands a copy's
  // nearest centroid across a cell border: the original's cell is then
  // the probe's second-nearest, so the pair still meets. Any regression
  // in centroid building, assignment ranking, or the cell equi-join
  // hash-fails the gate.
  private val q44b: Q = (s, d) => {
    val e = emb(s, d)
    val cents = centroidsOf(e)
    val scored = rankCells(withPlanted(e), cents, k = 2)
    val assigned = scored.filter(col("rk") === 1 && col("vec_id") < PlantShift)
      .select(col("vec_id"), col("cell"))
    val probes = scored.filter(col("rk") <= 2 && col("vec_id") >= PlantShift)
      .select((col("vec_id") - PlantShift).as("orig_id"), col("cell"))
    val found = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") === col("orig_id"))
      .select(col("orig_id")).distinct()
    val plantedIds = e.filter(col("vec_id") % 10 === 0).select(col("vec_id").as("orig_id"))
    recallReport(plantedIds, found)
  }
  private val q44bSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_planted,
      |  CAST(count(*) AS BIGINT) AS n_recovered,
      |  true AS recall_ok
      |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin

  // ---- q44c: PERSISTENT IVF index — cells as hive partitions ----------------
  // The index IS data: assignments land in a graft dir PARTITIONED BY
  // cell (one dynamic-partition write), centroids in a sibling graft
  // table. A search broadcasts the (tiny) centroids table, ranks top-2
  // cells per probe, and joins only those cells' rows — on a 100 TB
  // corpus the cell filter prunes partitions (planning-time for literal
  // cells, runtime/DPP for join-derived ones — the machinery q90 gates),
  // so an ANN query schedules tasks for k cells' files, not the corpus.
  // Unlike q44b, every search-side input here is READ BACK from disk,
  // so the gate also proves index round-trip fidelity (vectors, norms,
  // and the cell layout). Exact oracle via the planted truth set.
  private val q44c: Q = (s, d) => {
    val root = FormatOps.graftDir(d, "ivf_index")
    val e = emb(s, d)
    val corpus = withPlanted(e)
    val cents = centroidsOf(e, cellAsLong = true)
    // build: corpus vectors live in their ONE nearest cell on disk
    rankCells(corpus.filter(col("vec_id") < PlantShift), cents, k = 1)
      .select(col("vec_id"), col("v"), col("nv"), col("cell"))
      .write.format("graft").option("partitionBy", "cell")
      .mode("overwrite").save(s"$root/cells")
    cents.write.format("graft").mode("overwrite").save(s"$root/centroids")
    // search: centroids and cells both come back off disk
    val centsR = s.read.format("graft").load(s"$root/centroids")
    val probeCells = rankCells(corpus.filter(col("vec_id") >= PlantShift), centsR, k = 2)
      .select((col("vec_id") - PlantShift).as("orig_id"), col("cell"))
    val cellsR = s.read.format("graft").load(s"$root/cells")
      .withColumn("cell", col("cell").cast("long")) // hive partition col reads as string
    val found = probeCells.join(cellsR, Seq("cell"))
      .filter(col("vec_id") === col("orig_id"))
      .select(col("orig_id")).distinct()
    val plantedIds = e.filter(col("vec_id") % 10 === 0).select(col("vec_id").as("orig_id"))
    recallReport(plantedIds, found)
  }
  private val q44cSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_planted,
      |  CAST(count(*) AS BIGINT) AS n_recovered,
      |  true AS recall_ok
      |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin

  /** Incremental IVF maintenance: assign a batch of NEW vectors to their
    * nearest existing cell (the tiny centroids table broadcast off disk)
    * and append them into the cell-partitioned index — no rebuild. Cost
    * is O(batch × centroids) scoring plus one dynamic-partition append;
    * the corpus-sized cells dir is never re-read or rewritten, which at
    * 100 TB is the difference between index upkeep and index
    * reconstruction. Centroids drift as the corpus grows; re-clustering
    * cadence stays an offline policy knob — the standard IVF trade.
    * `batch` needs (vec_id, v: array<double>, nv). */
  def ivfAppend(s: SparkSession, indexRoot: String, batch: DataFrame): Unit = {
    val cents = s.read.format("graft").load(s"$indexRoot/centroids")
    rankCells(batch.select(col("vec_id"), col("v"), col("nv")), cents, k = 1)
      .select(col("vec_id"), col("v"), col("nv"), col("cell"))
      .write.format("graft").option("partitionBy", "cell")
      .mode("append").save(s"$indexRoot/cells")
  }

  // ---- q44d: incremental IVF append (planted truth through disk) -----------
  // q44c's persisted index, maintained instead of rebuilt: the index is
  // built from the BASE corpus only, then the planted near-dups arrive
  // as a later batch through [[ivfAppend]]. Each original then probes
  // its top-2 cells off disk and must find its planted twin — proving
  // appended vectors are discoverable through the persisted layout with
  // zero index rebuild. Exact oracle via the planted truth set.
  private val q44d: Q = (s, d) => {
    val root = FormatOps.graftDir(d, "ivf_incr")
    val e = emb(s, d)
    val cents = centroidsOf(e, cellAsLong = true)
    // build from the base corpus only (overwrite = idempotent reruns)
    rankCells(e.select(col("vec_id"), col("v"), col("nv")), cents, k = 1)
      .select(col("vec_id"), col("v"), col("nv"), col("cell"))
      .write.format("graft").option("partitionBy", "cell")
      .mode("overwrite").save(s"$root/cells")
    cents.write.format("graft").mode("overwrite").save(s"$root/centroids")
    // the planted copies arrive LATER: incremental append, no rebuild
    ivfAppend(s, root, withPlanted(e).filter(col("vec_id") >= PlantShift))
    // search off disk: each original probes its top-2 cells for its twin
    val centsR = s.read.format("graft").load(s"$root/centroids")
    val probeCells = rankCells(e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("v"), col("nv")), centsR, k = 2)
      .select(col("vec_id").as("orig_id"), col("cell"))
    val cellsR = s.read.format("graft").load(s"$root/cells")
      .withColumn("cell", col("cell").cast("long"))
    val found = probeCells.join(cellsR, Seq("cell"))
      .filter(col("vec_id") === col("orig_id") + PlantShift)
      .select(col("orig_id")).distinct()
    val plantedIds = e.filter(col("vec_id") % 10 === 0).select(col("vec_id").as("orig_id"))
    recallReport(plantedIds, found)
  }
  private val q44dSql = q44cSql

  /** Offline IVF index maintenance: re-cluster a persisted index into
    * `nCells` cells (SQL surface: `CALL sys.reindex_ivf(ns, cells)`).
    * Centroids drift as [[ivfAppend]] grows the corpus; this is the
    * re-clustering the append path's contract defers to an offline
    * policy knob.
    *
    * One pass of Lloyd's iteration, fully distributed: seed groups by
    * `vec_id % nCells` (deterministic — gates replay byte-identically),
    * seed centroids = per-group dimension means (the same exploded
    * aggregate shape as the build), then every vector re-assigns to its
    * nearest seed centroid (tiny centroid set broadcast) and the final
    * centroids are recomputed over the REAL assignment. Writes overwrite
    * `cells` (hive-partitioned by cell — the partition-pruned search
    * layout q44c gates) and `centroids`; each dir's overwrite publishes
    * through the source's atomic swap, and the tiny centroids table
    * lands LAST so a racing search pairs old-with-old or new-with-new
    * cells for every centroid set it can read. Cost is two corpus scans
    * plus one dynamic-partition write — never a pairwise join. */
  def ivfReindex(s: SparkSession, indexRoot: String, nCells: Int): Unit = {
    require(nCells >= 1 && nCells <= (1 << 16), s"bad cell count $nCells")
    val all = s.read.format("graft").load(s"$indexRoot/cells")
      .select(col("vec_id"), col("v"), col("nv"))
    val seeds = centroidsOf(
      all.withColumn("label", col("vec_id") % nCells), cellAsLong = true)
    val assigned = rankCells(all, seeds, k = 1)
      .select(col("vec_id"), col("v"), col("nv"), col("cell"))
      // REQUIRED barrier, not a layout nicety: a path-mode graft
      // overwrite truncates the target at write-job start (it is not
      // COW), and this write's source IS the dir being overwritten. The
      // shuffle's map stage must fully read the old cells before the
      // write stage's truncate runs — Spark's scheduler guarantees that
      // ordering for any shuffle boundary. (The old rank-by-window shape
      // provided the same barrier implicitly through its exchange.)
      // Clustering by cell also lands each cell as ONE file instead of
      // one per write task.
      .repartition(col("cell"))
    assigned
      .write.format("graft").option("partitionBy", "cell")
      .mode("overwrite").save(s"$indexRoot/cells")
    // final centroids fold over the rows JUST WRITTEN, read back from the
    // published cells dir — not over `assigned`'s lineage, which would
    // re-run the seed aggregate + broadcast + rank over the whole corpus
    // a second time (measured: the centroid write was the single most
    // expensive step of the procedure because of that recompute; the
    // read-back costs one columnar scan of the index instead). Write
    // order is unchanged: cells land first, the tiny centroid table
    // last, so a racing search still pairs old-with-old or new-with-new.
    val written = s.read.format("graft").load(s"$indexRoot/cells")
      .withColumn("label", col("cell").cast("long"))
    val finalCents = centroidsOf(written, cellAsLong = true)
    finalCents.write.format("graft").mode("overwrite")
      .save(s"$indexRoot/centroids")
  }

  // ---- q134: IVF reindex procedure (planted truth through the swap) --------
  // q44d's maintained index, then `CALL sys.reindex_ivf` re-clusters it
  // into a DIFFERENT cell count — and every original must still find its
  // planted twin through the reindexed layout (top-2 multi-probe off
  // disk). Proves the procedure preserves searchability end-to-end:
  // assignments, centroid fidelity, and the partition-pruned layout all
  // survive the swap. Exact oracle via the planted truth set.
  private val q134: Q = (s, d) => {
    val root = FormatOps.graftDir(d, "ivf_reindex")
    val e = emb(s, d)
    // Prologue on a budget: reindex_ivf re-seeds and reassigns EVERY
    // vector, so the initial cell layout it consumes is irrelevant — a
    // deterministic vec_id % 5 split stands in for q44d's scored build
    // (which q44d itself still gates), saving a corpus-wide
    // score-and-rank pass here. The final reindexed state is identical:
    // the procedure only reads the vector set. Initial centroids are
    // the % 5 group means so the ivfAppend step still scores the
    // planted batch against a real centroid table.
    val initCells = 5
    // fixture: the prologue index state (cells + centroids + planted
    // append) the reindex consumes; the tracked engine side is
    // reindex_ivf + the probe search (FixtureClock / BENCH fixture_s)
    graft.operators.FixtureClock.time {
      e.select(col("vec_id"), col("v"), col("nv"),
          (col("vec_id") % initCells).as("cell"))
        .write.format("graft").option("partitionBy", "cell")
        .mode("overwrite").save(s"$root/cells")
      centroidsOf(e.withColumn("label", col("vec_id") % initCells), cellAsLong = true)
        .write.format("graft").mode("overwrite").save(s"$root/centroids")
      ivfAppend(s, root, withPlanted(e).filter(col("vec_id") >= PlantShift))
    }
    // the maintenance procedure, through the SQL surface
    val parent = new java.io.File(root).getParent
    val ns = new java.io.File(root).getName
    s.conf.set("spark.sql.catalog.graft_ivfm", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_ivfm.root", parent)
    s.sql(s"CALL graft_ivfm.sys.reindex_ivf(ns => '$ns', cells => 7)")
    // search the REINDEXED layout off disk. Top-3 multi-probe (vs the
    // label-clustered q44c/q44d's top-2): seeded Lloyd cells are not
    // semantically separated, so near-dup pairs sit closer to cell
    // boundaries — the standard IVF answer is one more probe, still k
    // cells' partitions scheduled, never the corpus
    val centsR = s.read.format("graft").load(s"$root/centroids")
    val probeCells = rankCells(e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("v"), col("nv")), centsR, k = 3)
      .select(col("vec_id").as("orig_id"), col("cell"))
    val cellsR = s.read.format("graft").load(s"$root/cells")
      .withColumn("cell", col("cell").cast("long"))
    val found = probeCells.join(cellsR, Seq("cell"))
      .filter(col("vec_id") === col("orig_id") + PlantShift)
      .select(col("orig_id")).distinct()
    val plantedIds = e.filter(col("vec_id") % 10 === 0).select(col("vec_id").as("orig_id"))
    recallReport(plantedIds, found)
  }
  private val q134Sql = q44cSql

  // ---- q45: embedding-cosine near-dup dedup (exact oracle) -----------------
  // Dedup on top of the multi-band LSH candidates, over the corpus with
  // planted near-dups (each planted copy's only >0.95 partner is its
  // original, so the truth set is exact and the oracle computable).
  //
  // Collapse POLICY (pairwise-lower-id, stated explicitly): a vector is
  // removed iff some LOWER-id vector is its near-dup; survivors are the
  // ids that are never the higher end of a qualifying pair. For chains
  // a~b~c this keeps local minima (a, and b when b's only partner is c)
  // rather than computing connected components — the iterative min-id
  // closure costs a multi-round join at 100 TB and changes nothing when
  // near-dup similarity is near-transitive (the dedup use case).
  // Everything returns from ONE job: no driver-side counts mid-query.
  private val q45: Q = (s, d) => {
    val corpus = withPlanted(emb(s, d))
    val dupIds = candidatePairs(corpus)
      .filter(col("cosine") > 0.95)
      .select(col("id2").as("dup_id")).distinct()
    corpus.join(dupIds, col("vec_id") === col("dup_id"), "left")
      .agg(
        count(lit(1)).as("n_total"),
        count(col("dup_id")).as("n_near_dups"),
        (count(lit(1)) - count(col("dup_id"))).as("n_survivors"))
  }
  private val q45Sql =
    """WITH b AS (SELECT count(*) AS n,
      |  sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS p FROM embeddings)
      |SELECT CAST(n + p AS BIGINT) AS n_total, CAST(p AS BIGINT) AS n_near_dups,
      |  CAST(n AS BIGINT) AS n_survivors
      |FROM b""".stripMargin

  // ---- q58: int8 scalar quantization + top-k recall gate --------------------
  // The storage-scale path for embeddings: per-vector symmetric int8
  // quantization (scale = 127 / max|x|) shrinks a float corpus 4x and
  // keeps cosine ranks nearly intact on 64-dim vectors. The gate
  // computes, per probe (every 97th vector), the exact float top-10 and
  // the top-10 over DEQUANTIZED vectors, and asserts >= 80% average
  // overlap — so any quantizer regression (wrong scale, clipping,
  // asymmetry) hash-fails against the constant-truth oracle, the q46
  // pattern. All array math is codegen'd transform/aggregate; the two
  // rank passes share one probe×corpus join each, never a corpus self-join.
  private val q58: Q = (s, d) => {
    val e = emb(s, d)
    // round() on array elements via transform; x -> round(x*scale)/scale
    val quant = e
      .withColumn("scale", expr("127.0 / aggregate(v, CAST(0.0 AS DOUBLE), " +
        "(acc, x) -> greatest(acc, abs(x)))"))
      .withColumn("qv", expr("transform(v, x -> round(x * scale) / scale)"))
      .withColumn("nqv", sqrt(graft.functions.VectorOps.dot(col("qv"), col("qv"))))
    val probes = quant.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nv").as("np"))
    def topk(corpus: DataFrame, vcol: String, ncol: String, rank: String) = {
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      corpus.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos",
          graft.functions.VectorOps.dot(col(vcol), col("pv")) / (col(ncol) * col("np")))
        .withColumn(rank, row_number().over(w))
        .filter(col(rank) <= 10)
        .select(col("probe_id"), col("vec_id"))
    }
    val truth = topk(quant, "v", "nv", "rt")
    val approx = topk(quant, "qv", "nqv", "ra")
    val overlap = truth.join(approx, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("hits"))
    probes.select(col("probe_id")).join(overlap, Seq("probe_id"), "left")
      .agg(
        count(lit(1)).as("n_probes"),
        (avg(coalesce(col("hits"), lit(0L)) / 10.0) >= 0.8).as("recall_ok"))
  }
  private val q58Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_probes, true AS recall_ok
      |FROM embeddings WHERE vec_id % 97 = 0""".stripMargin

  // ---- q116: hybrid retrieval — reciprocal rank fusion ----------------------
  // The standard RAG-era hybrid: fuse a LEXICAL ranking (q104's BM25
  // scorer over documents) with a DENSE ranking (cosine vs the probe
  // vector over embeddings) by reciprocal rank: rrf(d) = Σ 1/(60+rank).
  // Scale shape: each list is cut to its top-50 by TakeOrderedAndProject
  // (distributed per-partition heaps — NO global sort of the corpus);
  // row_number's unpartitioned window then runs over 50 rows, not the
  // table. The fusion itself is a full-outer join of two 50-row sets
  // (items in only one list still score). Every rank order carries a
  // unique tie-break (score desc, id asc), so ranks — and therefore the
  // fused rationals — are engine-exact; the DuckDB oracle replays both
  // rankings and the same 1/(60+r) arithmetic.
  private val q116: Q = (s, d) => {
    val topN = 50
    val lex = TextOps.bm25Scores(s, d)
      .orderBy(col("score").desc, col("doc_id").asc).limit(topN)
      .withColumn("lr", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id").as("id"), col("lr"))
    val e = emb(s, d)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("nv").as("np"))
    val dense = e.filter(col("vec_id") > 0)
      .crossJoin(broadcast(probe))
      .withColumn("cosine", round(dot("v", "pv") / (col("nv") * col("np")), 6))
      .orderBy(col("cosine").desc, col("vec_id")).limit(topN)
      .withColumn("dr", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id"))))
      .select(col("vec_id").as("id"), col("dr"))
    lex.join(dense, Seq("id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("id"))
      .limit(15)
      .select(col("id"), col("rrf"))
  }
  private val q116Sql =
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
      |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |bm AS (
      |  SELECT tf.doc_id,
      |    round(sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5))
      |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len * nd / total)))), 4) AS score
      |  FROM tf JOIN dfreq USING (tok) CROSS JOIN c
      |  GROUP BY tf.doc_id),
      |lex AS (
      |  SELECT doc_id AS id, row_number() OVER (ORDER BY score DESC, doc_id) AS lr
      |  FROM bm ORDER BY score DESC, doc_id LIMIT 50),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
      |sc AS (
      |  SELECT e.vec_id,
      |    round(list_dot_product(e.v, p.pv)
      |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6) AS cosine
      |  FROM e CROSS JOIN p WHERE e.vec_id > 0),
      |dense AS (
      |  SELECT vec_id AS id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS dr
      |  FROM sc ORDER BY cosine DESC, vec_id LIMIT 50)
      |SELECT id,
      |  round(coalesce(1.0 / (60 + lr), 0) + coalesce(1.0 / (60 + dr), 0), 6) AS rrf
      |FROM lex FULL OUTER JOIN dense USING (id)
      |ORDER BY rrf DESC, id LIMIT 15""".stripMargin

  // ---- q117: multi-vector late interaction (ColBERT-style MaxSim) -----------
  // Each 64-d embedding is treated as 4 sub-vectors of 16 (token-level
  // vectors in a real late-interaction index); the score against the
  // probe is MaxSim: for each probe sub-vector take the best-matching
  // doc sub-vector's cosine, then sum the four maxima. The entire
  // 4x4 score matrix evaluates ARRAY-LOCALLY inside one nested
  // higher-order expression (sequence/slice/zip_with/aggregate) — per
  // row, no explode, no shuffle; the only distributed moves are the
  // broadcast probe and the TakeOrdered top-10. Sub-vector dots fold
  // left-to-right exactly like DuckDB's list_dot_product, so the oracle
  // replays the identical arithmetic on the identical slices.
  private val q117: Q = (s, d) => {
    def sub(arr: String, i: String) = s"slice($arr, $i * 16 + 1, 16)"
    def dotE(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
    def cosE(qi: String, dj: String) =
      s"${dotE(sub("pv", qi), sub("v", dj))} / " +
        s"(sqrt(${dotE(sub("pv", qi), sub("pv", qi))}) * sqrt(${dotE(sub("v", dj), sub("v", dj))}))"
    val maxsim =
      s"""aggregate(sequence(0, 3), CAST(0.0 AS DOUBLE), (acc, qi) ->
         |  acc + aggregate(sequence(0, 3), CAST(-1.0 AS DOUBLE),
         |    (m, dj) -> greatest(m, ${cosE("qi", "dj")})))""".stripMargin
    val e = emb(s, d)
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    e.filter(col("vec_id") > 0)
      .crossJoin(broadcast(probe))
      .withColumn("maxsim", round(expr(maxsim), 6))
      .select(col("vec_id"), col("maxsim"))
      .orderBy(col("maxsim").desc, col("vec_id"))
      .limit(10)
  }
  private val q117Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
      |parts AS (SELECT UNNEST(generate_series(0, 3)) AS i),
      |pairs AS (
      |  SELECT e.vec_id, q.i AS qi,
      |    list_dot_product(pv[q.i*16+1 : q.i*16+16], v[d.i*16+1 : d.i*16+16])
      |      / (sqrt(list_dot_product(pv[q.i*16+1 : q.i*16+16], pv[q.i*16+1 : q.i*16+16]))
      |         * sqrt(list_dot_product(v[d.i*16+1 : d.i*16+16], v[d.i*16+1 : d.i*16+16]))) AS s
      |  FROM e CROSS JOIN p CROSS JOIN parts q CROSS JOIN parts d
      |  WHERE e.vec_id > 0),
      |mx AS (SELECT vec_id, qi, max(s) AS ms FROM pairs GROUP BY vec_id, qi)
      |SELECT vec_id, round(sum(ms), 6) AS maxsim FROM mx GROUP BY vec_id
      |ORDER BY maxsim DESC, vec_id LIMIT 10""".stripMargin

  // ---- q122: embedding outlier detection (distance-to-centroid z-score) -----
  // The curation op that catches mislabeled or corrupt vectors: each
  // embedding's Euclidean distance to its label's centroid, z-scored
  // within the label, outliers = z > 2. Scale shape: centroids are one
  // dimension-exploded aggregate (labels × dims rows) broadcast back;
  // distances are one pass over the vectors via the expansion
  // |v-c|² = v·v − 2 v·c + c·c (codegen'd dots, no per-dim explode on
  // the big side); the per-label mean/stddev ride a window. z rounds to
  // 4dp BEFORE thresholding so the outlier flag can't straddle the
  // cutoff on FP summation noise between engines.
  private val q122: Q = (s, d) => {
    val e = emb(s, d)
    val cents = centroidsOf(e).withColumnRenamed("cell", "label")
    val dist = e.join(broadcast(cents), Seq("label"))
      .withColumn("d", sqrt(greatest(
        dot("v", "v") - lit(2.0) * dot("v", "cv") + dot("cv", "cv"), lit(0.0))))
    val w = Window.partitionBy(col("label"))
    dist
      // zero-variance guard BOTH sides: Spark's x/0 is NULL (never an
      // outlier) while DuckDB's is NaN (whose NaN > 2.0 is TRUE — every
      // row an outlier). A label of identical vectors must z-score 0.
      .withColumn("sd", stddev_samp(col("d")).over(w))
      .withColumn("z", when(col("sd") > 0.0,
        round((col("d") - avg(col("d")).over(w)) / col("sd"), 4)).otherwise(0.0))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("z") > 2.0, 1L).otherwise(0L)).as("n_outliers"),
        round(avg(col("d")), 6).as("avg_dist"))
      .orderBy(col("label"))
  }
  private val q122Sql =
    """WITH t AS (
      |  SELECT label,
      |    CAST(unnest(generate_series(0, 63)) AS INT) AS pos,
      |    unnest(CAST(embedding AS DOUBLE[])) AS x
      |  FROM embeddings),
      |c AS (SELECT label, pos, avg(x) AS cx FROM t GROUP BY 1, 2),
      |cv AS (SELECT label, list(cx ORDER BY pos) AS cv FROM c GROUP BY label),
      |e2 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |dd AS (
      |  SELECT e2.vec_id, e2.label,
      |    sqrt(greatest(list_dot_product(v, v) - 2 * list_dot_product(v, cv)
      |      + list_dot_product(cv, cv), 0)) AS d
      |  FROM e2 JOIN cv USING (label)),
      |z AS (
      |  SELECT label, d,
      |    CASE WHEN stddev_samp(d) OVER (PARTITION BY label) > 0
      |         THEN round((d - avg(d) OVER (PARTITION BY label))
      |           / stddev_samp(d) OVER (PARTITION BY label), 4)
      |         ELSE 0.0 END AS z
      |  FROM dd)
      |SELECT label, count(*) AS n,
      |  CAST(sum(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(avg(d), 6) AS avg_dist
      |FROM z GROUP BY label ORDER BY label""".stripMargin

  val queries: Map[String, Q] = Map(
    "q122_embedding_outliers" -> q122,
    "q117_maxsim" -> q117,
    "q116_hybrid_rrf" -> q116,
    "q58_quantized_ann" -> q58,
    "q44c_ivf_persisted" -> q44c,
    "q44d_ivf_append" -> q44d,
    "q40_cosine_topk" -> q40,
    "q153_float_vectors" -> q153,
    "q41_ann_lsh" -> q41,
    "q42_knn_join" -> q42,
    "q43_centroids" -> q43,
    "q44_ivf_ann" -> q44,
    "q44b_ivf_recall" -> q44b,
    "q45_embedding_dedup" -> q45,
    "q134_ivf_reindex" -> q134,
    "q46_lsh_recall" -> q46)

  val oracle: Map[String, String] = Map(
    "q122_embedding_outliers" -> q122Sql,
    "q117_maxsim" -> q117Sql,
    "q116_hybrid_rrf" -> q116Sql,
    "q58_quantized_ann" -> q58Sql,
    "q44c_ivf_persisted" -> q44cSql,
    "q44d_ivf_append" -> q44dSql,
    "q40_cosine_topk" -> q40Sql,
    "q153_float_vectors" -> q153Sql,
    "q41_ann_lsh" -> q41Sql,
    "q44_ivf_ann" -> q44Sql,
    "q42_knn_join" -> q42Sql,
    "q43_centroids" -> q43Oracle,
    "q44b_ivf_recall" -> q44bSql,
    "q45_embedding_dedup" -> q45Sql,
    "q134_ivf_reindex" -> q134Sql,
    "q46_lsh_recall" -> q46Sql)
}
