package graft

import graft.QH._
import graft.llmdata.{Bpe, Dedup, Multimodal, Sampling, Similarity, Sketches, TextAnalysis, Unigram, WordPiece}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over documents/embeddings:
  * dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
  * cosine), similarity search (brute-force, LSH, IVF), text analysis.
  * Exact variants are oracle-checked; hash-based scale paths are
  * rows-only (Spark murmur3/xxhash64 are not DuckDB functions).
  */
object QueriesLLM {

  /** Exact dedup via md5 of normalized text (hash -> group). */
  private val q40_dedup_exact: Q = (
    (s, dir) => Dedup.exact(read(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("fingerprint")),
    Some("""SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                     AS fingerprint,
                   min(doc_id) AS canonical_id, count(*) AS n_docs
            FROM documents GROUP BY 1 ORDER BY fingerprint"""))

  /** Exact 3-gram Jaccard near-dup pairs on a bounded id range
    * (the oracle-checkable verification stage; LSH is the scale
    * path).
    */
  private val q41_jaccard_pairs: Q = (
    (s, dir) => Dedup.jaccardAllPairs(
      read(s, dir, "documents").where(col("doc_id") < 300),
      "doc_id", "text", shingleN = 3, threshold = 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6)
        .as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b")),
    Some("""WITH n AS (SELECT doc_id,
                         string_split(trim(regexp_replace(regexp_replace(
                           lower(text), '[^a-z0-9 ]', '', 'g'),
                           ' +', ' ', 'g')), ' ') AS w
                       FROM documents WHERE doc_id < 300),
                 sh AS (SELECT doc_id,
                          list_distinct(list_transform(
                            range(1, greatest(len(w) - 1, 1)),
                            i -> array_to_string(w[i:i+2], ' '))) AS sh
                        FROM n)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CAST(len(list_filter(a.sh,
                       x -> list_contains(b.sh, x))) AS DOUBLE)
                     / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x)))
                    AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.8
            ORDER BY doc_a, doc_b"""))

  /** Canonical assignment for near-dup clusters: connected components
    * over the exact-Jaccard pair graph (min-label propagation,
    * Dedup.duplicateClusters), oracled by a DuckDB recursive-CTE
    * transitive closure over the same pairs.
    */
  private val q69_dup_clusters: Q = (
    (s, dir) => Dedup.duplicateClusters(
        Dedup.jaccardAllPairs(
          read(s, dir, "documents").where(col("doc_id") < 300),
          "doc_id", "text", shingleN = 3, threshold = 0.8))
      .orderBy(col("doc_id")),
    Some("""WITH RECURSIVE n AS (SELECT doc_id,
                 string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' ') AS w
               FROM documents WHERE doc_id < 300),
             sh AS (SELECT doc_id,
                      list_distinct(list_transform(
                        range(1, greatest(len(w) - 1, 1)),
                        i -> array_to_string(w[i:i+2], ' '))) AS sh
                    FROM n),
             p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                   WHERE CAST(len(list_filter(a.sh,
                           x -> list_contains(b.sh, x))) AS DOUBLE)
                         / len(list_distinct(a.sh || b.sh)) >= 0.8),
             e AS (SELECT doc_a AS s, doc_b AS t FROM p
                   UNION SELECT doc_b, doc_a FROM p),
             reach(s, t) AS (
               SELECT s, t FROM e
               UNION
               SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s)
            SELECT s AS doc_id, least(min(t), s) AS canonical_id
            FROM reach GROUP BY s ORDER BY doc_id"""))

  /** MinHash-LSH near-dup detection: banded minhash candidates
    * verified by exact shingle Jaccard — the O(colliding pairs) scale
    * path. Hash-based: rows-only.
    */
  private val q42_dedup_minhash: Q = (
    (s, dir) => Dedup.minhashDedup(read(s, dir, "documents"),
      "doc_id", "text", shingleN = 3, bands = 8, rows = 4,
      threshold = 0.7)
      .orderBy(col("doc_a"), col("doc_b")),
    None)

  /** MinHash-LSH in exact-recall parameterization, ORACLE-checked:
    * with bands=64, rows=2 a true pair at J >= 0.8 escapes the
    * candidate set with probability (1 - 0.8^2)^64 ≈ 5e-29 — beyond
    * any float-rounding noise — so candidates + exact-Jaccard verify
    * EQUALS the all-pairs answer, which DuckDB computes directly.
    * (q42 keeps the production banding; this entry pins the LSH
    * pipeline end-to-end against an exact oracle.)
    */
  private val q79_minhash_verified: Q = (
    (s, dir) => Dedup.minhashDedup(
      read(s, dir, "documents").where(col("doc_id") < 1000),
      "doc_id", "text", shingleN = 3, bands = 64, rows = 2,
      threshold = 0.8)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b")),
    Some("""WITH n AS (SELECT doc_id,
                 string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' ') AS w
               FROM documents WHERE doc_id < 1000),
                 sh AS (SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(w) - 1, 1)),
                   i -> array_to_string(w[i:i+2], ' '))) AS sh
               FROM n)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CAST(len(list_filter(a.sh,
                       x -> list_contains(b.sh, x))) AS DOUBLE)
                     / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x)))
                    AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.8
            ORDER BY doc_a, doc_b"""))

  /** SimHash near-dup: 64-bit fingerprints, chunk-banded candidates,
    * Hamming verify. Rows-only (xxhash64-based). maxHamming 6 — the
    * operator's documented production band: 7 chunks of 9-10 bits
    * keep buckets selective, where the loose band this entry once
    * used (h=12 -> 13 chunks of 4-5 bits, 2^5 key space) made bucket
    * population linear in the corpus and the candidate self-join
    * QUADRATIC — the sf1 scale capture showed 24x growth at 10x data
    * (BENCH_NOTES r6); h=6 restored ~linear scaling with the recall
    * guarantee intact.
    */
  private val q43_dedup_simhash: Q = (
    (s, dir) => Dedup.simhashDedup(read(s, dir, "documents"),
      "doc_id", "text", maxHamming = 6)
      .orderBy(col("doc_a"), col("doc_b")),
    None)

  /** Portable SimHash, ORACLE-checked end-to-end: 60-bit fingerprints
    * from two char-polynomial token hashes (DuckDB recomputes the
    * EXACT fingerprints — murmur3/xxhash64 can't cross engines), chunk
    * banding with the pigeonhole recall guarantee (chunks >=
    * maxHamming+1, so candidates+verify IS the all-pairs answer), and
    * all-pairs bit_count(xor) in the oracle. q43 keeps the 64-bit
    * production hash; this pins the whole simhash pipeline.
    * maxHamming 3 (chunks = 4 >= 3+1, guarantee intact; 15-bit chunk
    * keys keep buckets selective on this shared-vocab corpus —
    * looser bands flood the candidate join with skewed buckets).
    */
  private val q81_simhash_portable: Q = (
    (s, dir) => {
      // cache the (doc, fp) frame — 8 bytes/doc — so the candidate
      // self-join doesn't recompute the fingerprint UDF per side
      val fp = Dedup.simhashPortableDf(
        read(s, dir, "documents"), "doc_id", "text").cache()
      Dedup.hammingPairs(fp, maxHamming = 3, bits = 60)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some("""WITH n AS (SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '') AS w
               FROM documents),
                 hs AS (SELECT doc_id,
                 list_transform(w, t ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split_regex(t, ''),
                       c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> (a * 131 + b) % 1000000007)
                   + (list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split_regex(t, ''),
                       c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> (a * 137 + b) % 998244353) << 30)) AS hs
               FROM n),
                 fp AS (SELECT doc_id,
                 list_reduce(list_transform(range(0, 60), j ->
                   CASE WHEN coalesce(list_sum(list_transform(hs, h ->
                       CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1
                            THEN 1 ELSE -1 END)), 0) > 0
                     THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
                     ELSE CAST(0 AS BIGINT) END),
                   (a, b) -> a | b) AS fp
               FROM hs)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.fp, b.fp)) <= 3
            ORDER BY doc_a, doc_b"""))

  /** Embedding-cosine near-dup pairs on a bounded range — exact,
    * oracle-checked against DuckDB's list_cosine_similarity.
    */
  private val q44_embed_cosine_pairs: Q = (
    (s, dir) => Similarity.cosinePairs(
      read(s, dir, "embeddings").where(col("vec_id") < 500),
      "vec_id", "embedding", threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("similarity"), 6)
        .as("similarity"))
      .orderBy(col("id_a"), col("id_b")),
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                     CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])), 6) AS similarity
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 500 AND b.vec_id < 500
              AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])) >= 0.5
            ORDER BY id_a, id_b"""))

  /** LSH bucket-join machinery, oracle-checked via the degenerate
    * exact configuration: nBits = 0 leaves one bucket, so the
    * signature + bucket self-join + cosine verify must equal
    * all-pairs cosine at the threshold, which DuckDB computes
    * directly. q46 is the bucketed production shape of the same path.
    */
  private val q85_lsh_exact: Q = (
    (s, dir) => Similarity.lshNeighbors(
      read(s, dir, "embeddings").where(col("vec_id") < 500),
      "vec_id", "embedding", dim = 64, nBits = 0, threshold = 0.3)
      .select(col("id_a"), col("id_b"), round(col("similarity"), 6)
        .as("similarity"))
      .orderBy(col("id_a"), col("id_b")),
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                     CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])), 6) AS similarity
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 500 AND b.vec_id < 500
              AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])) >= 0.3
            ORDER BY id_a, id_b"""))

  /** Brute-force cosine top-k for the vec_id=0 query vector. */
  private val q45_ann_topk: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Similarity.bruteForceTopK(e.where(col("vec_id") > 0),
        "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("similarity"), 6)
          .as("similarity"))
        .orderBy(col("similarity").desc, col("vec_id"))
    },
    Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round(list_cosine_similarity(
                     CAST(embedding AS DOUBLE[]), q.qv), 6) AS similarity
            FROM embeddings, q WHERE vec_id > 0
            ORDER BY similarity DESC, vec_id LIMIT 10"""))

  /** LSH-bucketed ANN pairs (random hyperplanes) — the scale path;
    * rows-only (hash-seeded planes).
    */
  private val q46_ann_lsh: Q = (
    (s, dir) => Similarity.lshNeighbors(read(s, dir, "embeddings"),
      "vec_id", "embedding", dim = 64, nBits = 8, threshold = 0.2)
      .orderBy(col("id_a"), col("id_b")),
    None)

  /** IVF ANN with LEARNED centroids (KMeans over normalized vectors)
    * and multi-probe cell pruning: scan top-4 of 8 cells, exact
    * rescore inside. Rows-only (cells are solver-derived); recall vs
    * brute force is asserted by LlmDataSpec.
    */
  private val q60_ann_ivf: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Similarity.ivfProbe(
        Similarity.ivfFit(e.where(col("vec_id") > 0), "vec_id",
          "embedding", nCells = 8, maxIter = 6, assign = 3),
        "vec_id", "embedding", q, 10, probes = 4)
        .orderBy(col("similarity").desc, col("vec_id"))
    },
    None)

  /** A 64-dim ±axis centroid as a DuckDB array literal. */
  private def axisSql(k: Int, sign: String): String =
    (0 until 64).map(i => if (i == k) s"${sign}1.0" else "0.0")
      .mkString("[", ", ", "]")

  /** IVF INDEX PERSISTENCE + INCREMENTAL REFRESH
    * ([[Similarity.ivfUpsert]] / ivfSave / ivfLoad): build the index
    * over two-thirds of the corpus, save -> load -> upsert the
    * remaining third into the LOADED index, probe top-10 — the
    * fit-once / ingest-forever serving lifecycle. Static ±axis
    * centroids make the whole trajectory exact ([[Similarity
    * .cosine]]'s sequential pass on both engines; |centroid| = 1 so
    * every score is ±x_k/|x| bit-for-bit), so the oracle replays
    * assignment + cell-pruned probe over the merged corpus directly
    * — hash-equality proves the save/load round-trip and the
    * A-then-B merge changed nothing vs all-at-once. q60 is the
    * learned-centroid production shape of the same path.
    */
  private val q397_ivf_upsert: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      def axis(k: Int, sign: Double) =
        Array.tabulate(64)(i => if (i == k) sign else 0.0)
      val cents = Array(axis(0, 1.0), axis(0, -1.0),
        axis(1, 1.0), axis(1, -1.0))
      val empty = e.where(lit(false)).select(col("vec_id"),
        col("embedding"), lit(0).cast("int").as("__cell"))
      val base = Similarity.ivfUpsert(
        Similarity.IvfIndex(cents, empty),
        e.where(col("vec_id") > 0 && col("vec_id") % 3 =!= 0),
        "vec_id", "embedding")
      // per-JVM-unique path (the q155 Derby lesson: no cross-run
      // on-disk state)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivf").toString
      Similarity.ivfSave(base, path)
      val full = Similarity.ivfUpsert(Similarity.ivfLoad(s, path),
        e.where(col("vec_id") > 0 && col("vec_id") % 3 === 0),
        "vec_id", "embedding")
      Similarity.ivfProbe(full, "vec_id", "embedding", q, 10,
          probes = 2)
        .select(col("vec_id"), round(col("similarity"), 6)
          .as("similarity"))
        .orderBy(col("similarity").desc, col("vec_id"))
    },
    Some(s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                        FROM embeddings WHERE vec_id = 0),
             cs AS (SELECT 0 AS cell, ${axisSql(0, "")} AS cv
                    UNION ALL SELECT 1, ${axisSql(0, "-")}
                    UNION ALL SELECT 2, ${axisSql(1, "")}
                    UNION ALL SELECT 3, ${axisSql(1, "-")}),
             pc AS (SELECT cell FROM cs, q
                    ORDER BY list_cosine_similarity(qv, cv) DESC,
                      cell LIMIT 2),
             asg AS (SELECT vec_id, dv,
                 CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
                      WHEN s1 >= s2 AND s1 >= s3 THEN 1
                      WHEN s2 >= s3 THEN 2 ELSE 3 END AS cell
               FROM (SELECT vec_id,
                       CAST(embedding AS DOUBLE[]) AS dv,
                       list_cosine_similarity(
                         CAST(embedding AS DOUBLE[]),
                         ${axisSql(0, "")}) AS s0,
                       list_cosine_similarity(
                         CAST(embedding AS DOUBLE[]),
                         ${axisSql(0, "-")}) AS s1,
                       list_cosine_similarity(
                         CAST(embedding AS DOUBLE[]),
                         ${axisSql(1, "")}) AS s2,
                       list_cosine_similarity(
                         CAST(embedding AS DOUBLE[]),
                         ${axisSql(1, "-")}) AS s3
                     FROM embeddings WHERE vec_id > 0)),
             sel AS (SELECT vec_id,
                       list_cosine_similarity(dv, qv) AS s
                     FROM asg, q
                     WHERE cell IN (SELECT cell FROM pc)
                     ORDER BY s DESC, vec_id LIMIT 10)
        SELECT vec_id, round(s, 6) AS similarity FROM sel
        ORDER BY similarity DESC, vec_id"""))

  /** Product-quantization ANN (Jégou et al. 2011): 64-dim vectors
    * compress to 8 subspace codes, the query serves by asymmetric
    * distance over the code table — the raw vectors are never read at
    * serving time, which is the memory story that keeps an index over
    * 100 TB of embeddings in RAM. Rows-only (KMeans codebooks aren't
    * SQL-derivable) with an IN-PLAN recall gate: the PQ top-10 must
    * recover >= 60% of the exact brute-force top-10 or the query
    * raises — the same gated-rows-only pattern as the ML entries.
    */
  /** PCA over the embedding corpus ([[Similarity.pcaFit]] /
    * [[Similarity.pcaProject]]): covariance + cyclic Jacobi on a
    * bounded hash-ordered sample (driver — a distributed eigensolver
    * for 64x64 is pure job overhead), deterministic sign convention,
    * then one codegen'd projection pass over the corpus. Rows-only
    * (eigenvectors aren't SQL-derivable); gated in-build: explained
    * variance of the top 8 must cover >= 10% of total and be
    * eigenvalue-descending, or the entry raises. q266 oracle-checks
    * the identical projection arithmetic under static components.
    */
  private val q265_pca: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
      val model = Similarity.pcaFit(e, "vec_id", "embedding", k = 8)
      val frac = model.explained.sum / model.totalVariance
      require(frac >= 0.10,
        f"q265: top-8 explained variance $frac%.4f below 0.10 — " +
          "solver degenerated")
      require(model.explained.zip(model.explained.tail)
        .forall { case (a, b) => a >= b - 1e-12 },
        "q265: eigenvalues not descending")
      Similarity.pcaProject(e, "vec_id", "embedding", model)
        .orderBy(col("vec_id"))
    },
    None)

  /** The PCA PROJECTION arithmetic under the ORACLE (the q211
    * static-weight rule): two fixed orthogonal unit components
    * (constant 1/8, and alternating +-1/8), centered at zero,
    * projected by the same left-fold dot product DuckDB replays with
    * list_reduce — element order and fold order identical, 6dp.
    */
  private val q266_pca_static: Q = (
    (s, dir) => {
      val vd = col("embedding").cast("array<double>")
      def proj(weight: org.apache.spark.sql.Column =>
          org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        round(aggregate(
          transform(sequence(lit(1), lit(64)),
            i => element_at(vd, i) * weight(i)),
          lit(0.0), (acc, x) => acc + x), 6)
      read(s, dir, "embeddings")
        .select(col("vec_id"),
          proj(_ => lit(0.125)).as("pc1"),
          proj(i => when(pmod(i, lit(2)) === 1, 0.125)
            .otherwise(-0.125)).as("pc2"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id,
               round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, 65),
                   i -> CAST(embedding[i] AS DOUBLE) * 0.125)),
                 (a, b) -> a + b), 6) AS pc1,
               round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, 65),
                   i -> CAST(embedding[i] AS DOUBLE) *
                     (CASE WHEN i % 2 = 1 THEN 0.125
                      ELSE -0.125 END))),
                 (a, b) -> a + b), 6) AS pc2
        FROM embeddings ORDER BY vec_id"""))

  private val q114_ann_pq: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 7)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // synthetic embeddings are near-uniform — the adversarial case
      // for any ANN — so the code budget (k=64: 48-bit codes) and the
      // shortlist are set where the recall dial actually holds
      val cb = Similarity.pqFit(e, "vec_id", "embedding", m = 8,
        k = 64, maxIter = 10)
      val pq = Similarity.pqTopKRerank(
        Similarity.pqEncode(e, "vec_id", "embedding", cb),
        e, "vec_id", "embedding", cb, q, 10, shortlist = 200)
      val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, 10).select(col("vec_id").as("__bf"))
      val recall = pq.join(exact, pq("vec_id") === col("__bf"))
        .agg((count(lit(1)) / 10.0).as("__rec"))
      pq.crossJoin(broadcast(recall))
        .withColumn("similarity",
          when(col("__rec") < 0.6,
            raise_error(concat(lit("q114_ann_pq: recall@10 "),
              round(col("__rec"), 2),
              lit(" below 0.6 — quantizer degenerated")))
              .cast("double"))
            .otherwise(round(col("similarity"), 9)))
        .drop("__rec")
        .orderBy(col("similarity").desc, col("vec_id").asc)
    },
    None)

  /** IVF + PQ composed (the FAISS IVFADC billion-scale layout):
    * learned cells prune which vectors are scanned, PQ codes compress
    * what is scanned, and only the final shortlist reads raw vectors.
    * Rows-only with the same in-plan recall gate as q114; probes
    * cover half the cells and the shortlist recovers quantization
    * error on this near-uniform (ANN-adversarial) data.
    */
  private val q116_ann_ivfpq: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 7)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val idx = Similarity.ivfPqFit(e, "vec_id", "embedding",
        nCells = 8, m = 8, k = 64, maxIter = 8)
      val ann = Similarity.ivfPqTopK(idx, e, "vec_id", "embedding",
        q, 10, probes = 4, shortlist = 200)
      val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, 10).select(col("vec_id").as("__bf"))
      val recall = ann.join(exact, ann("vec_id") === col("__bf"))
        .agg((count(lit(1)) / 10.0).as("__rec"))
      ann.crossJoin(broadcast(recall))
        .withColumn("similarity",
          when(col("__rec") < 0.5,
            raise_error(concat(lit("q116_ann_ivfpq: recall@10 "),
              round(col("__rec"), 2),
              lit(" below 0.5 — index degenerated")))
              .cast("double"))
            .otherwise(round(col("similarity"), 9)))
        .drop("__rec")
        .orderBy(col("similarity").desc, col("vec_id").asc)
    },
    None)

  /** Batched IVF serving, oracle-checked: with probes = nCells every
    * query scans every learned cell, so the cell-join + rescore +
    * per-query ranked window must EQUAL brute-force top-k — which
    * DuckDB computes directly. Pins the one-job query-set path
    * (cell join, dedup, partitioned rank) with a real oracle; q60 is
    * the pruned-probe production shape of the same machinery.
    */
  private val q84_ivf_batch_exact: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      val corpus = e.where(col("vec_id") >= 10)
      Similarity.ivfProbeBatch(
        Similarity.ivfFit(corpus, "vec_id", "embedding",
          nCells = 8, maxIter = 6),
        "vec_id", "embedding", queries, "qid", "embedding",
        k = 10, probes = 8)
        .select(col("qid"), col("vec_id"),
          round(col("similarity"), 6).as("similarity"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH q AS (SELECT vec_id AS qid,
                              CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 10),
                 c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings WHERE vec_id >= 10),
                 s AS (SELECT qid, vec_id,
                              list_cosine_similarity(cv, qv) AS sim,
                              row_number() OVER (PARTITION BY qid
                                ORDER BY list_cosine_similarity(cv, qv)
                                  DESC, vec_id) AS rank
                       FROM q, c)
            SELECT qid, vec_id, round(sim, 6) AS similarity, rank
            FROM s WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Overlapping context-window chunking of long documents
    * (maxTokens=64, overlap=16): pure array expressions + one
    * explode, oracle-checked end-to-end including chunk text.
    */
  private val q87_chunking: Q = (
    (s, dir) => llmdata.Packing.chunkDocuments(
      spread(read(s, dir, "documents")), "doc_id", "text",
      maxTokens = 64, overlap = 16)
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""WITH d AS (SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                   x -> x <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             dd AS (SELECT doc_id, w, len(w) AS n FROM d
                    WHERE len(w) >= 1),
             c AS (SELECT doc_id, n, w,
                     unnest(range(0, greatest(n - 17, 0) + 1, 48)) AS s
                   FROM dd)
            SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx,
                   CAST(least(64, n - s) AS BIGINT) AS n_tokens,
                   array_to_string(w[s+1 : s+64], ' ') AS chunk_text
            FROM c ORDER BY doc_id, chunk_idx"""))

  /** Bigram-LM perplexity quality filter (CCNet-style), fully
    * oracle-checked: add-k-smoothed conditional probabilities are
    * pure count arithmetic, so DuckDB recomputes the identical score.
    */
  private val q86_lm_perplexity: Q = (
    (s, dir) => TextAnalysis.lmPerplexity(
      spread(read(s, dir, "documents")), "doc_id", "text", addK = 0.5)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("perplexity"), 6).as("perplexity"))
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), w -> w <> '') AS t
               FROM documents WHERE text IS NOT NULL),
             dd AS (SELECT doc_id, t FROM d WHERE len(t) >= 2),
             bp AS (SELECT doc_id,
                      unnest(list_transform(range(1, len(t)),
                        i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
                    FROM dd),
             bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bp),
             bc AS (SELECT w1, w2, count(*) AS bc FROM bi GROUP BY 1, 2),
             hc AS (SELECT w1, sum(bc) AS hc FROM bc GROUP BY 1),
             v AS (SELECT count(DISTINCT w) AS v FROM
                     (SELECT unnest(t) AS w FROM dd)),
             sc AS (SELECT bi.doc_id,
                      ln((bc.bc + 0.5) / (hc.hc + 0.5 * v.v)) AS lp
                    FROM bi JOIN bc USING (w1, w2)
                            JOIN hc USING (w1), v)
            SELECT doc_id, count(*) AS n_bigrams,
                   round(exp(-avg(lp)), 6) AS perplexity
            FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  /** Text quality features + composite score. */
  private val q47_text_quality: Q = (
    (s, dir) => TextAnalysis.qualityScore(spread(read(s, dir, "documents")), "text")
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        round(col("quality"), 6).as("quality"))
      .orderBy(col("doc_id")),
    Some("""WITH f AS (SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS nc,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS nw,
                 CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                   w -> lower(w) IN ('the','a','an','and','or','of','to',
                     'in','is','it','that','for','on','with','as')))
                   AS DOUBLE) AS nstop,
                 CAST(nc - length(regexp_replace(text, '[[:punct:]]', '',
                   'g')) AS DOUBLE) AS npunct
               FROM documents)
            SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
                   round(npunct / nc, 6) AS punct_ratio,
                   round(nstop / nw, 6) AS stopword_ratio,
                   round((CASE WHEN nw >= 10 THEN 0.4 ELSE nw * 0.04 END)
                     + (CASE WHEN npunct / nc <= 0.1 THEN 0.3
                        ELSE greatest(0.0, 0.3 - npunct / nc) END)
                     + (CASE WHEN nstop / nw >= 0.1 THEN 0.3
                        ELSE nstop / nw * 3.0 END), 6) AS quality
            FROM f ORDER BY doc_id"""))

  /** Heuristic stopword-voting language ID. */
  private val q48_text_langid: Q = (
    (s, dir) => spread(read(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS ws
               FROM documents),
                 h AS (SELECT doc_id,
                 [{'hits': len(list_filter(ws, x -> x IN ('the','and','of',
                     'to','is','in','that','it'))), 'tie': -1, 'lang': 'en'},
                  {'hits': len(list_filter(ws, x -> x IN ('el','la','de',
                     'que','y','en','los','del'))), 'tie': -2, 'lang': 'es'},
                  {'hits': len(list_filter(ws, x -> x IN ('le','la','de',
                     'et','les','des','est','une'))), 'tie': -3, 'lang': 'fr'},
                  {'hits': len(list_filter(ws, x -> x IN ('der','die','und',
                     'das','ist','von','den','mit'))), 'tie': 0, 'lang': 'de'}]
                   AS cand
               FROM w)
            SELECT doc_id,
                   CASE WHEN list_sort(cand)[-1].hits > 0
                        THEN list_sort(cand)[-1].lang
                        ELSE 'und' END AS lang_pred
            FROM h ORDER BY doc_id"""))

  /** Token counting: whitespace + BPE-ish subword estimate
    * (ceil(len/4) pieces per word).
    */
  private val q49_text_tokens: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      val words = split(trim(col("text")), "\\s+")
      d.select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_tokens_ws"),
        aggregate(words, lit(0L), (acc, w) =>
          acc + ceil(length(w).cast("double") / 4.0).cast("long"))
          .as("n_tokens_bpe"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                     AS n_tokens_ws,
                   CAST(list_sum(list_transform(
                     string_split_regex(trim(text), '\s+'),
                     w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT)
                     AS n_tokens_bpe
            FROM documents ORDER BY doc_id"""))

  /** Per-document content fingerprint (md5 of normalized text). */
  private val q50_fingerprint: Q = (
    (s, dir) => spread(read(s, dir, "documents"))
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                     AS fingerprint
            FROM documents ORDER BY doc_id"""))

  /** Rolling polynomial hash (order-sensitive fingerprint) —
    * xxhash64-based, rows-only.
    */
  private val q51_rolling_hash: Q = (
    (s, dir) => spread(read(s, dir, "documents"))
      .select(col("doc_id"),
        TextAnalysis.rollingHash(col("text")).as("rhash"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                         string_split_regex(trim(regexp_replace(
                           regexp_replace(lower(text), '[^a-z0-9 ]', '',
                             'g'), ' +', ' ', 'g')), ' '),
                         t -> list_reduce(
                           list_prepend(CAST(0 AS BIGINT),
                             list_transform(string_split_regex(t, ''),
                               c -> CAST(ascii(c) AS BIGINT))),
                           (a, b) -> (a * 131 + b) % 1000000007))),
                     (a, b) -> (a * 31627 + b) % 1000000007) AS rhash
            FROM documents ORDER BY doc_id"""))

  /** PII/URL scrubbing with RE2-compatible patterns (same regexes run
    * in the DuckDB oracle).
    */
  private val q62_text_redact: Q = (
    (s, dir) => spread(read(s, dir, "documents"))
      .select(col("doc_id"),
        TextAnalysis.redact(col("text")).as("redacted"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     'https?://[^\s]+', '<URL>', 'g'),
                     '[0-9][0-9 ()+.-]{7,}[0-9]', '<NUMBER>', 'g')
                     AS redacted
            FROM documents ORDER BY doc_id"""))

  /** Repetition ratio: duplicate word-trigram share per doc — the
    * Gopher-style boilerplate signal, oracled via DuckDB list ops over
    * the same shingle construction.
    */
  private val q63_text_repetition: Q = (
    (s, dir) => spread(read(s, dir, "documents"))
      .select(col("doc_id"),
        round(TextAnalysis.repetitionRatio(col("text"), 3), 6)
          .as("rep_ratio"))
      .orderBy(col("doc_id")),
    Some("""WITH n AS (SELECT doc_id,
                 string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' ') AS w
               FROM documents),
                 sh AS (SELECT doc_id,
                 list_transform(range(1, greatest(len(w) - 1, 1)),
                   i -> array_to_string(w[i:i+2], ' ')) AS g
               FROM n)
            SELECT doc_id,
                   round(CASE WHEN len(g) = 0 THEN 0.0
                     ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                          / len(g) END, 6) AS rep_ratio
            FROM sh ORDER BY doc_id"""))

  /** Feature hashing (the hashing trick) in relational form: tokens
    * land in portable-hash buckets mod 64, the featurizer is the
    * per-(doc, bucket) count. The polynomial hash is plain integer
    * arithmetic, so DuckDB rebuilds the identical feature space.
    */
  private val q115_feature_hash: Q = (
    (s, dir) => TextAnalysis.hashingTf(
        spread(read(s, dir, "documents")), "doc_id", "text",
        numFeatures = 64)
      .orderBy(col("doc_id"), col("bucket")),
    Some("""WITH toks AS (SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                   x -> x <> '')) AS tok
               FROM documents WHERE text IS NOT NULL)
            SELECT doc_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(tok, ''),
                       c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 1000000007) % 64
                     AS bucket,
                   count(*) AS tf
            FROM toks GROUP BY 1, 2
            ORDER BY doc_id, bucket"""))

  /** fastText-style QUALITY CLASSIFIER end-to-end: plant spam
    * boilerplate into every 3rd document (the weak labels), train a
    * logistic head over the hashed bag-of-words on a bounded
    * hash-sample (the q57 budget contract), quantize the coefficients
    * to integers, and serve the WHOLE corpus through the exact-
    * arithmetic [[TextAnalysis.linearScore]] path — MLlib never
    * touches the scoring plan. Rows-only (solver-dependent weights);
    * the in-plan gate raises unless served accuracy >= 0.95 on the
    * planted labels, and q145 oracle-checks the identical serving
    * machinery under static weights.
    */
  private val q144_quality_classifier: Q = (
    (s, dir) => {
      val spam = " click here to subscribe now free offer buy cheap" +
        " winner prize bonus deal"
      val d = spread(read(s, dir, "documents"))
        .withColumn("label",
          when(col("doc_id") % 3 === 0, 1.0).otherwise(0.0))
        .withColumn("t",
          when(col("label") === 1.0,
            concat(col("text"), lit(spam), lit(spam)))
            .otherwise(col("text")))
        .select(col("doc_id"), col("t"), col("label"))
        .cache()
      val trainSet = Sampling.hashSample(d, "doc_id",
        math.min(1.0, 30000.0 / d.count()))
      val (w, b) = TextAnalysis.fitQualityClassifier(trainSet,
        "doc_id", "t", "label", numFeatures = 256, maxIter = 15)
      val scored = TextAnalysis.linearScore(d, "doc_id", "t", w, b)
        .join(d.select(col("doc_id"), col("label")), Seq("doc_id"))
        .withColumn("pred",
          when(col("score_raw") > 0L, 1.0).otherwise(0.0))
      val g = scored.agg(
        avg(when(col("label") === col("pred"), 1.0).otherwise(0.0))
          .as("__acc"))
      scored.crossJoin(broadcast(g))
        .withColumn("pred",
          when(col("__acc") < 0.95,
            raise_error(concat(
              lit("q144: served accuracy "), round(col("__acc"), 4),
              lit(" below 0.95 — classifier or quantized serving "),
              lit("degenerated"))).cast("double"))
            .otherwise(col("pred")))
        .select(col("doc_id"), col("n_tokens"), col("score_raw"),
          col("label"), col("pred"))
        .orderBy(col("doc_id"))
    },
    None)

  /** The linear-scorer serving machinery under the ORACLE: static
    * integer weights `w(b) = (b mod 7) - 3` over the 64-bucket hashed
    * feature space, intercept 5 — the per-doc score is exact int64
    * arithmetic DuckDB rebuilds term for term (portable hash, bucket
    * mod, literal-array lookup, partial-agg sum). Pins the path q144
    * serves its trained weights through.
    */
  private val q145_linear_score: Q = (
    (s, dir) => TextAnalysis.linearScore(
        spread(read(s, dir, "documents")), "doc_id", "text",
        weights = (0 until 64).map(b => (b % 7).toLong - 3L),
        intercept = 5L)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                   x -> x <> '')) AS tok
               FROM documents WHERE text IS NOT NULL),
             b AS (SELECT doc_id,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(tok, ''),
                         c -> CAST(ascii(c) AS BIGINT))),
                       (a, b) -> (a * 31 + b) % 1000000007) % 64
                       AS bucket
                   FROM toks)
            SELECT doc_id, count(*) AS n_tokens,
                   CAST(5 + sum((bucket % 7) - 3) AS BIGINT)
                     AS score_raw
            FROM b GROUP BY doc_id ORDER BY doc_id"""))

  /** The STREAMING-SAFE row scorer under the same oracle as q145:
    * one stateless UDF per document row (no explode, no aggregate —
    * the q132 pattern, so the plan runs on an APPEND-mode stream for
    * ingest-time quality filtering), producing bit-identical rows to
    * the grouped form. LlmDataSpec drives it through a MemoryStream
    * and pins row == grouped == stream.
    */
  private val q146_linear_score_stream: Q = (
    (s, dir) => TextAnalysis.linearScoreRow(
        spread(read(s, dir, "documents")), "doc_id", "text",
        weights = (0 until 64).map(b => (b % 7).toLong - 3L),
        intercept = 5L)
      .orderBy(col("doc_id")),
    q145_linear_score._2)

  /** END-TO-END CORPUS BUILD under one oracle — the flagship
    * composition: every stage is the library's ORACLE-EXACT variant,
    * so DuckDB replays the entire pipeline and every document's fate
    * hash-matches. Stages, in attribution order:
    *
    *   1. exact dedup    — min-id keeper per normalized fingerprint
    *                       (q40 machinery)
    *   2. quality filter — integer linear score > 0 over hashed
    *                       features (q145 machinery)
    *   3. decontamination— drop docs sharing an 8-token sliding
    *                       window with the eval split (doc_id %% 97;
    *                       eval windows are bounded and broadcast —
    *                       eval sets are curated, not data-scale)
    *   4. token budget   — portable-hash order, integer prefix sums,
    *                       keep while cum <= 12000 (q92 machinery;
    *                       range-bucketed, no global window)
    *
    * Output: one row per input document with n_tokens and its fate
    * ('eval' | 'dedup' | 'quality' | 'decontam' | 'budget' | 'kept')
    * — the attribution data card a corpus build ships with. Plants
    * make every stage attribute: every 10th doc gets an exact copy
    * (id + off — dedup fodder), every eval doc gets a train-side
    * copy (id + 2*off — contamination fodder) with
    * off = max(doc_id)+1 so plant ids can never collide with real
    * docs at any scale, and the intercept (135)
    * sits at the measured p10 of the corpus score so the quality
    * stage drops the bottom decile rather than everything.
    */
  private val q147_corpus_pipeline: Q = (
    (s, dir) => {
      val W = (0 until 64).map(b => (b % 7).toLong - 3L)
      def toks = filter(split(col("text"), " "), t => t =!= "")
      // pin the source scan: the three union branches (corpus + two
      // plant frames) and the downstream stages then read ONE parquet
      // pass instead of three
      val raw = graft.Caches.pin(spread(read(s, dir, "documents"))
        .where(col("text").isNotNull)
        .select(col("doc_id"), col("text")))
      // plant ids live at +off/+2*off with off DERIVED from
      // max(doc_id)+1, so they can never collide with real docs at any
      // scale (ADVICE r7: the fixed 1e6 offsets silently assumed
      // doc_id < 1e6, and the sf1 derived set reaches 9e8 — both
      // engines replay the same data-determined arithmetic)
      val off = raw.agg(max(col("doc_id"))).head.getLong(0) + 1L
      val dupPlant = raw.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + off).as("doc_id"), col("text"))
      val contamPlant = raw.where(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 2L * off).as("doc_id"), col("text"))
      val d0 = raw.unionByName(dupPlant).unionByName(contamPlant)
        .select(col("doc_id"), col("text"),
          size(toks).cast("long").as("n_tokens"),
          md5(Dedup.normalize(col("text"))).as("__fp"),
          (col("doc_id") % 97 === 0).as("__eval"))
      val base = graft.Caches.pin(d0)
      val train = base.where(!col("__eval"))
      val keeper = train.groupBy(col("__fp"))
        .agg(min(col("doc_id")).as("__keep"))
      val scored = TextAnalysis.linearScoreRow(train, "doc_id",
          "text", W, intercept = 135L)
        .select(col("doc_id"), col("score_raw"))
      def wins(df: org.apache.spark.sql.DataFrame) =
        df.where(size(toks) >= 8)
          .select(col("doc_id"), explode(transform(
            sequence(lit(0), size(toks) - 8),
            i => array_join(slice(toks, i + 1, lit(8)), " "))).as("__w"))
      val evalW = wins(base.where(col("__eval")))
        .select(col("__w")).distinct()
      val contam = wins(train).join(broadcast(evalW), Seq("__w"))
        .select(col("doc_id")).distinct()
        .withColumn("__contam", lit(true))
      // pin the NARROW fate frame (doc_id, n_tokens, early_stage):
      // staged feeds both the budget-stage survivors and the final
      // fate join, and without the pin the whole attribution build —
      // keeper agg, the linearScoreRow UDF pass, the 8-gram
      // contamination join — runs TWICE (the q287 rebuild-not-compute
      // lesson; r15 phase split: 7.28s -> 3.34s median, -54%). Three
      // narrow columns per corpus document — far smaller than the
      // text it summarizes, so the pin holds at any scale the corpus
      // itself does.
      val staged = graft.Caches.pin(base
        .join(keeper, Seq("__fp"), "left")
        .join(scored, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .withColumn("early_stage",
          when(col("__eval"), "eval")
            .when(col("doc_id") =!= col("__keep"), "dedup")
            .when(coalesce(col("score_raw"), lit(0L)) <= 0L, "quality")
            .when(coalesce(col("__contam"), lit(false)), "decontam"))
        .select(col("doc_id"), col("n_tokens"), col("early_stage")))
      val surv = staged.where(col("early_stage").isNull)
        .select(col("doc_id"), col("n_tokens"))
      val kept = Sampling.sampleToTokenBudget(surv, "doc_id",
          col("n_tokens"), budget = 12000L)
        .select(col("doc_id")).withColumn("__kept", lit(true))
      staged.join(kept, Seq("doc_id"), "left")
        .withColumn("stage", coalesce(col("early_stage"),
          when(coalesce(col("__kept"), lit(false)), "kept")
            .otherwise("budget")))
        .select(col("doc_id"), col("n_tokens"), col("stage"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH mx AS (SELECT max(doc_id) + 1 AS off FROM documents
                        WHERE text IS NOT NULL),
             src AS (SELECT doc_id, text FROM documents
                   UNION ALL
                   SELECT doc_id + (SELECT off FROM mx), text
                   FROM documents
                   WHERE doc_id % 10 = 0 AND text IS NOT NULL
                   UNION ALL
                   SELECT doc_id + 2 * (SELECT off FROM mx), text
                   FROM documents
                   WHERE doc_id % 97 = 0 AND text IS NOT NULL),
             d AS (SELECT doc_id, text,
                 CAST(len(list_filter(string_split(text, ' '),
                   x -> x <> '')) AS BIGINT) AS n_tokens,
                 (doc_id * 2654435761 + 42) % 1000000007 AS h,
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm,
                 (doc_id % 97 = 0) AS is_eval
               FROM src WHERE text IS NOT NULL),
             keeper AS (SELECT norm, min(doc_id) AS keep_id
                        FROM d WHERE NOT is_eval GROUP BY norm),
             toks AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, ' '),
                          x -> x <> '')) AS tok
                      FROM d WHERE NOT is_eval),
             sc AS (SELECT doc_id,
                      135 + sum((list_reduce(list_prepend(
                            CAST(0 AS BIGINT),
                            list_transform(string_split(tok, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
                            (a, b) -> (a * 31 + b) % 1000000007)
                          % 64) % 7 - 3) AS score
                    FROM toks GROUP BY doc_id),
             w8 AS (SELECT doc_id, is_eval,
                      unnest(list_transform(range(1, len(w) - 6),
                        i -> array_to_string(w[i:i+7], ' '))) AS win
                    FROM (SELECT doc_id, is_eval,
                            list_filter(string_split(text, ' '),
                              x -> x <> '') AS w
                          FROM d)
                    WHERE len(w) >= 8),
             ew AS (SELECT DISTINCT win FROM w8 WHERE is_eval),
             contam AS (SELECT DISTINCT w8.doc_id
                        FROM w8 JOIN ew USING (win)
                        WHERE NOT is_eval),
             staged AS (SELECT d.doc_id, d.n_tokens, d.h,
                 CASE WHEN d.is_eval THEN 'eval'
                      WHEN d.doc_id <> k.keep_id THEN 'dedup'
                      WHEN coalesce(s.score, 0) <= 0 THEN 'quality'
                      WHEN c.doc_id IS NOT NULL THEN 'decontam'
                      ELSE NULL END AS early_stage
               FROM d
               LEFT JOIN keeper k
                 ON d.norm = k.norm AND NOT d.is_eval
               LEFT JOIN sc s ON d.doc_id = s.doc_id
               LEFT JOIN contam c ON d.doc_id = c.doc_id),
             cum AS (SELECT doc_id,
                       sum(n_tokens) OVER (ORDER BY h) AS ct
                     FROM staged WHERE early_stage IS NULL)
            SELECT st.doc_id, st.n_tokens,
                   coalesce(st.early_stage,
                     CASE WHEN c.ct <= 12000 THEN 'kept'
                          ELSE 'budget' END) AS stage
            FROM staged st LEFT JOIN cum c ON st.doc_id = c.doc_id
            ORDER BY st.doc_id"""))

  /** Corpus TF-IDF: smooth idf, top-3 terms per doc, term tiebreak.
    * The classic two-aggregate + vocab-join shape — df comes from the
    * already-distinct (doc, term) rows, N by broadcast cross join.
    */
  /** Per-label embedding centroids via ORDER-FREE exact sums: each
    * dimension accumulates in decimal(38,18) (floats cast exactly
    * through double first), so the centroid is independent of row
    * order and partitioning and DuckDB reproduces it from the same
    * arithmetic — the embedding-space analytics primitive (class
    * prototypes, drift baselines, k-means seeds). One posexplode +
    * grouped sum: (labels x dims) cells, partial-aggregated
    * map-side.
    */
  private val q201_label_centroids: Q = (
    (s, dir) => read(s, dir, "embeddings")
      .where(col("label").isNotNull)
      .select(col("label"), posexplode(col("embedding"))
        .as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast("double").cast("decimal(38,18)"))
        .cast("double") / count(lit(1))).as("centroid"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos").cast("long").as("pos"),
        round(col("centroid"), 8).as("centroid"), col("n"))
      .orderBy(col("label"), col("pos")),
    Some("""WITH x AS (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) - 1 AS pos
               FROM embeddings WHERE label IS NOT NULL)
        SELECT label, CAST(pos AS BIGINT) AS pos,
               round(CAST(sum(CAST(CAST(v AS DOUBLE)
                   AS DECIMAL(38,18))) AS DOUBLE) / count(*), 8)
                 AS centroid,
               count(*) AS n
        FROM x GROUP BY label, pos
        ORDER BY label, pos"""))

  /** Mislabel candidates: each vector's cosine to its OWN label
    * centroid (q201's exact construction), lowest first — the
    * embedding-space label-noise audit. The centroid table is
    * (labels x dims), broadcast back; the per-row cosine folds in
    * index order on both engines and rounds 5dp (the q45
    * convention). TakeOrdered top-k, no global sort.
    */
  private val q202_mislabel_candidates: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings").where(col("label").isNotNull)
      val cent = e.select(col("label"), posexplode(col("embedding"))
          .as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("v").cast("double").cast("decimal(38,18)"))
          .cast("double") / count(lit(1))).as("c"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
          .as("__cs"))
        .select(col("label"), expr("transform(__cs, x -> x.c)")
          .as("cent"))
      e.join(broadcast(cent), Seq("label"))
        .withColumn("dot", aggregate(
          zip_with(col("embedding").cast("array<double>"), col("cent"),
            (x, y) => x * y), lit(0.0), (acc, z) => acc + z))
        .withColumn("na", sqrt(aggregate(
          zip_with(col("embedding").cast("array<double>"),
            col("embedding").cast("array<double>"),
            (x, y) => x * y), lit(0.0), (acc, z) => acc + z)))
        .withColumn("nc", sqrt(aggregate(
          zip_with(col("cent"), col("cent"), (x, y) => x * y),
          lit(0.0), (acc, z) => acc + z)))
        .select(col("vec_id"), col("label"),
          round(col("dot") / (col("na") * col("nc")), 5).as("cos"))
        .orderBy(col("cos").asc, col("vec_id")).limit(25)
    },
    Some("""WITH x AS (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) - 1 AS pos
               FROM embeddings WHERE label IS NOT NULL),
             cent AS (SELECT label, pos,
                 CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,18)))
                   AS DOUBLE) / count(*) AS c
               FROM x GROUP BY label, pos),
             cl AS (SELECT label, list(c ORDER BY pos) AS cent
               FROM cent GROUP BY label)
        SELECT vec_id, e.label,
               round(list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]), cl.cent), 5) AS cos
        FROM embeddings e JOIN cl ON e.label = cl.label
        ORDER BY cos ASC, vec_id LIMIT 25"""))

  /** Nested scaling-law subsets: the portable hash filter at
    * fractions 10/20/40/80% gives SUBSETS BY CONSTRUCTION
    * (bucket < f1*B implies bucket < f2*B for f1 < f2) — the
    * reproducible data ladder scaling-law experiments need: the 10%
    * run's documents are exactly contained in the 20% run's, at any
    * scale, forever. One codegen'd filter per rung; counts oracled.
    */
  private val q203_nested_subsets: Q = (
    (s, dir) => {
      val d = read(s, dir, "documents")
      val rungs = Seq(0.1, 0.2, 0.4, 0.8).map { f =>
        Sampling.hashSample(d, "doc_id", f)
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"))
          .select(lit(f).as("fraction"), col("n_docs"),
            col("n_chars"))
      }
      rungs.reduce(_ unionByName _).orderBy(col("fraction"))
    },
    Some("""SELECT fraction, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars
            FROM documents,
                 (SELECT unnest([0.1, 0.2, 0.4, 0.8]) AS fraction)
            WHERE ((doc_id * 2654435761 + 42) % 1000000007) % 1000000
                  < CAST(fraction * 1000000 AS BIGINT)
            GROUP BY fraction ORDER BY fraction"""))

  /** Token frequency-of-frequencies spectrum (the count-of-counts
    * table Good-Turing smoothing and vocabulary-growth estimates
    * read): token census, then types per frequency. Two shuffles,
    * both partial-aggregated; the spectrum is tiny at any corpus
    * size.
    */
  private val q204_freq_spectrum: Q = (
    (s, dir) => {
      val toks = spread(read(s, dir, "documents"))
        .where(col("text").isNotNull)
        .select(explode(split(Dedup.normalize(col("text")), " "))
          .as("tok"))
        .where(col("tok") =!= "")
      toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .groupBy(col("freq")).agg(count(lit(1)).as("n_types"))
        .orderBy(col("freq"))
    },
    Some("""WITH toks AS (SELECT unnest(string_split(
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '))
                 AS t
               FROM documents WHERE text IS NOT NULL),
             tf AS (SELECT t, count(*) AS freq FROM toks
               WHERE t <> '' GROUP BY t)
        SELECT freq, count(*) AS n_types
        FROM tf GROUP BY freq ORDER BY freq"""))

  /** Bigram PMI collocations ([[TextAnalysis.pmiCollocations]]):
    * adjacent normalized-token pairs with c_ab >= 5, scored
    * ln(N*c_ab/(c_a*c_b)) — integer counts are the cross-engine
    * surface, the single ln rounds 6dp (the corr/BM25 convention).
    * One pinned corpus scan feeds both censuses; the unigram table
    * broadcasts; the oracle rebuilds bigrams with a positions
    * self-join (same pairs, different mechanics).
    */
  private val q212_pmi: Q = (
    (s, dir) => {
      val out = TextAnalysis.pmiCollocations(
          spread(read(s, dir, "documents")), "text", minCount = 5L)
        .orderBy(col("t_a"), col("t_b"))
      out
    },
    Some("""WITH arr AS (SELECT list_filter(string_split(trim(
                 regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 t -> t <> '') AS a
               FROM documents WHERE text IS NOT NULL),
             arr2 AS (SELECT row_number() OVER () AS rid, a FROM arr
               WHERE len(a) > 0),
             uni AS (SELECT t, count(*) AS c FROM (
                 SELECT unnest(a) AS t FROM arr2) GROUP BY t),
             nn AS (SELECT sum(c) AS n FROM uni),
             tok AS (SELECT rid, unnest(a) AS t,
                 generate_subscripts(a, 1) AS i FROM arr2),
             bi AS (SELECT x.t AS t_a, y.t AS t_b, count(*) AS c_ab
               FROM tok x JOIN tok y
                 ON x.rid = y.rid AND y.i = x.i + 1
               GROUP BY 1, 2 HAVING count(*) >= 5)
        SELECT t_a, t_b, c_ab, ua.c AS c_a, ub.c AS c_b,
               round(ln((CAST(c_ab AS DOUBLE) * CAST(nn.n AS DOUBLE))
                 / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 6)
                 AS pmi
        FROM bi JOIN uni ua ON bi.t_a = ua.t
                JOIN uni ub ON bi.t_b = ub.t
                CROSS JOIN nn
        ORDER BY t_a, t_b"""))

  /** Inverted-index postings ([[TextAnalysis.invertedIndex]]): the
    * materialized (term, df, doc, tf) retrieval artifact with the
    * df >= 20 tail cut. Two partial-aggregated term shuffles; at
    * scale the result writes bucketed by term so query-time lookups
    * are single-bucket scans.
    */
  /** TEXTRANK KEYWORDS ([[graft.llmdata.TextAnalysis
    * .textRankKeywords]]): corpus keywords as integer-exact PageRank
    * over the window-1 word-adjacency graph — q169's fused
    * superstep plan applied to text, oracle-unrolled 3 rounds over
    * the portable-hash node space, dictionary joined back for the
    * emitted words.
    */
  private val q353_textrank: Q = (
    (s, dir) => {
      val out = TextAnalysis.textRankKeywords(
        spread(read(s, dir, "documents")), "text", iters = 3, k = 50)
        .cache()
      out.count()
      graft.Caches.release()
      out
    },
    Some("""WITH n AS (SELECT list_filter(string_split(trim(
                 regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             n2 AS (SELECT w FROM n WHERE len(w) >= 2),
             pr AS (SELECT unnest(list_transform(range(1, len(w)),
                 i -> [w[i], w[i+1]])) AS p FROM n2),
             pw AS (SELECT p[1] AS wa, p[2] AS wb FROM pr
                    WHERE p[1] <> p[2]),
             hp AS (SELECT
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(wa, ''),
                     c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 1000000007) AS src,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(wb, ''),
                     c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 1000000007) AS dst
               FROM pw),
             und AS (SELECT DISTINCT least(src, dst) AS a,
                 greatest(src, dst) AS b FROM hp),
             ed AS (SELECT a AS src, b AS dst FROM und
                    UNION ALL SELECT b, a FROM und),
             deg AS (SELECT src AS node, count(*) AS d FROM ed
                     GROUP BY 1),
             r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r
                    FROM deg),
             r1 AS (SELECT n.node,
                 CAST((15*1000000000000 +
                       85*COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
               FROM deg n LEFT JOIN (
                 SELECT ed.dst AS node, sum(r0.r // deg.d) AS c
                 FROM ed JOIN r0 ON ed.src = r0.node
                         JOIN deg ON ed.src = deg.node
                 GROUP BY 1) s ON n.node = s.node),
             r2 AS (SELECT n.node,
                 CAST((15*1000000000000 +
                       85*COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
               FROM deg n LEFT JOIN (
                 SELECT ed.dst AS node, sum(r1.r // deg.d) AS c
                 FROM ed JOIN r1 ON ed.src = r1.node
                         JOIN deg ON ed.src = deg.node
                 GROUP BY 1) s ON n.node = s.node),
             r3 AS (SELECT n.node,
                 CAST((15*1000000000000 +
                       85*COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
               FROM deg n LEFT JOIN (
                 SELECT ed.dst AS node, sum(r2.r // deg.d) AS c
                 FROM ed JOIN r2 ON ed.src = r2.node
                         JOIN deg ON ed.src = deg.node
                 GROUP BY 1) s ON n.node = s.node),
             top AS (SELECT node, r AS rank FROM r3
                     ORDER BY rank DESC, node LIMIT 50),
             dict AS (SELECT DISTINCT word,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(word, ''),
                     c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 1000000007) AS node
               FROM (SELECT wa AS word FROM pw
                     UNION ALL SELECT wb FROM pw))
        SELECT dict.word, top.rank
        FROM top JOIN dict ON top.node = dict.node
        ORDER BY rank DESC, word"""))

  private val q215_inverted_index: Q = (
    (s, dir) => TextAnalysis.invertedIndex(
        spread(read(s, dir, "documents")), "doc_id", "text",
        minDf = 20L)
      .orderBy(col("term"), col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(
                 string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ',
                   'g')), ' '), t -> t <> '')) AS term
               FROM documents WHERE text IS NOT NULL),
             p AS (SELECT term, doc_id, count(*) AS tf FROM toks
               GROUP BY 1, 2),
             d AS (SELECT term, count(*) AS df FROM p GROUP BY 1
               HAVING count(*) >= 20)
        SELECT p.term, d.df, p.doc_id, p.tf
        FROM p JOIN d USING (term)
        ORDER BY term, doc_id"""))

  /** Scalar int8 quantization of embeddings
    * ([[Similarity.scalarQuantize]]) on the first 8 dimensions:
    * per-dim min/max, half-up codes in floor-primitive arithmetic
    * both engines evaluate identically — every code, lo and hi
    * hash-matches. The in-plan gate raises if any reconstruction
    * error exceeds the rounding guarantee (hi-lo)/(2*255) (+1e-9
    * float slack) — the quantizer's own contract, verified on every
    * row.
    */
  private val q217_int8_quant: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
        .withColumn("embedding", slice(col("embedding"), 1, 8))
      val q = Similarity.scalarQuantize(e, "vec_id", "embedding",
        levels = 255)
      val step = (col("hi") - col("lo")) / lit(255.0)
      q.withColumn("code",
          when(col("hi") =!= col("lo") &&
              abs(col("x") - (col("lo") + col("code") * step)) >
              step / 2 + lit(1e-9),
            raise_error(concat(lit("q217: reconstruction error for "),
              col("vec_id"), lit(" dim "), col("dim"),
              lit(" exceeds the rounding bound"))).cast("long"))
            .otherwise(col("code")))
        .select(col("vec_id"), col("dim"), col("code"), col("lo"),
          col("hi"))
        .orderBy(col("vec_id"), col("dim"))
    },
    Some("""WITH ex AS (SELECT vec_id,
                 unnest(CAST(embedding[1:8] AS DOUBLE[])) AS x,
                 generate_subscripts(embedding[1:8], 1) AS i
               FROM embeddings),
             e2 AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, x
               FROM ex),
             st AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM e2
               GROUP BY dim)
        SELECT vec_id, e2.dim,
               CASE WHEN hi = lo THEN 0
                    ELSE CAST(floor((x - lo) / (hi - lo) * 255.0 + 0.5)
                      AS BIGINT) END AS code,
               lo, hi
        FROM e2 JOIN st USING (dim)
        ORDER BY vec_id, dim"""))

  /** Count-Min sketch with PORTABLE hash rows
    * ([[Sketches.countMin]]): the ENTIRE 4x256 sketch state over the
    * corpus token stream is rebuilt bit-for-bit by DuckDB — sketch
    * auditability one level deeper than the MG/HLL/GK audits (which
    * verify estimates): here the internal counters themselves are
    * the oracle surface. One corpus pass, partial-aggregated to at
    * most depth*width cells per partition before the single tiny
    * shuffle.
    */
  private val q194_count_min: Q = (
    (s, dir) => {
      val toks = spread(read(s, dir, "documents"))
        .where(col("text").isNotNull)
        .select(explode(split(Dedup.normalize(col("text")), " "))
          .as("tok"))
      Sketches.countMin(toks, "tok", depth = 4, width = 256)
        .orderBy(col("row"), col("idx"))
    },
    Some("""WITH toks AS (SELECT unnest(string_split(
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '))
                 AS t
               FROM documents WHERE text IS NOT NULL),
             h AS (SELECT list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(t, ''),
                     c -> CAST(ascii(c) AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) AS hv
               FROM toks WHERE t <> ''),
             cells AS (SELECT r.i AS row,
                 ((hv * (2654435761 + 2*r.i) + (97 + 1000003*r.i))
                   % 1000000007) % 256 AS idx
               FROM h, (SELECT unnest(range(0, 4)) AS i) r)
        SELECT row, CAST(idx AS BIGINT) AS idx, count(*) AS c
        FROM cells GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** GROUPED conservative-update Count-Min
    * ([[Sketches.countMinConservative]]): one independent 4x256
    * sketch per document source, each cell the MAX over colliding
    * token types of their full census count — every cell (and every
    * point estimate) <= the plain q194 sum-merge sketch while the
    * never-undercount guarantee stands (SketchesSpec pins the
    * sandwich true <= conservative <= plain). Census + hash per TYPE
    * (not per occurrence — the hash cost drops from corpus-size to
    * vocab-size), deterministic integer maxes: DuckDB rebuilds the
    * entire grouped state.
    */
  private val q209_cms_conservative: Q = (
    (s, dir) => {
      val toks = spread(read(s, dir, "documents"))
        .where(col("text").isNotNull)
        .select(col("source"),
          explode(split(Dedup.normalize(col("text")), " ")).as("tok"))
      Sketches.countMinConservative(toks, "tok", depth = 4,
          width = 256, grpCols = Seq("source"))
        .orderBy(col("source"), col("row"), col("idx"))
    },
    Some("""WITH toks AS (SELECT source, unnest(string_split(
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '))
                 AS t
               FROM documents WHERE text IS NOT NULL),
             census AS (SELECT source, t, count(*) AS f FROM toks
               WHERE t <> '' GROUP BY 1, 2),
             h AS (SELECT source, f, list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(t, ''),
                     c -> CAST(ascii(c) AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) AS hv
               FROM census),
             cells AS (SELECT source, f, r.i AS row,
                 ((hv * (2654435761 + 2*r.i) + (97 + 1000003*r.i))
                   % 1000000007) % 256 AS idx
               FROM h, (SELECT unnest(range(0, 4)) AS i) r)
        SELECT source, row, CAST(idx AS BIGINT) AS idx, max(f) AS c
        FROM cells GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** Image near-dup by perceptual dHash over a REAL ImageIO decode
    * ([[Multimodal.dHash64]]): gradient PNGs planted from a closed
    * pixel law (every 17th doc; every 10th of those gets a sibling
    * with the same pattern under a shifted id), decoded and hashed
    * on executors, pairs matched on 64-bit hash equality (emitted as
    * two 32-bit halves — the oracle's integer range). DuckDB never
    * decodes a pixel: it replays pattern -> nearest-neighbor 9x8
    * sample -> gradient bits -> halves in pure integer arithmetic,
    * so the REAL decode path (PNG bytes in, bits out) is
    * hash-verified end to end, including any cross-pattern hash
    * collisions (both engines derive them identically).
    */
  private val q232_image_dhash: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
        .where(col("doc_id") % 17 === 0).select(col("doc_id"))
      val rows = d.select(col("doc_id").as("img_id"),
          col("doc_id").as("pat"))
        .unionByName(d.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000000L).as("img_id"),
            col("doc_id").as("pat")))
      val hashed = Multimodal.plantGradientPng(rows, "pat")
        .withColumn("h", Multimodal.dHashUdf(col("payload")))
        .select(col("img_id"),
          col("h").bitwiseAND(lit(0xFFFFFFFFL)).as("h_lo"),
          shiftrightunsigned(col("h"), 32).as("h_hi"))
      val a = hashed.select(col("img_id").as("id_a"), col("h_lo"),
        col("h_hi"))
      val b = hashed.select(col("img_id").as("id_b"), col("h_lo"),
        col("h_hi"))
      a.join(b, Seq("h_lo", "h_hi"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("h_lo"), col("h_hi"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH ids AS (SELECT doc_id AS img_id, doc_id AS pat
               FROM documents WHERE doc_id % 17 = 0
               UNION ALL SELECT doc_id + 100000000, doc_id
               FROM documents WHERE doc_id % 170 = 0),
             g AS (SELECT img_id, pat, 16 + pat % 13 AS w,
                 16 + (3 * pat) % 11 AS h FROM ids),
             bits AS (SELECT img_id, yy.y, xx.x,
                 CASE WHEN ((3 * (((xx.x + 1) * w) // 9)
                             + 5 * ((yy.y * h) // 8) + pat) % 256)
                        > ((3 * ((xx.x * w) // 9)
                             + 5 * ((yy.y * h) // 8) + pat) % 256)
                      THEN 1 ELSE 0 END AS b
               FROM g, (SELECT unnest(range(0, 8)) AS x) xx,
                       (SELECT unnest(range(0, 8)) AS y) yy),
             hs AS (SELECT img_id,
                 CAST(sum(CASE WHEN y * 8 + x < 32
                   THEN b * (CAST(1 AS BIGINT) << (y * 8 + x))
                   ELSE 0 END) AS BIGINT) AS h_lo,
                 CAST(sum(CASE WHEN y * 8 + x >= 32
                   THEN b * (CAST(1 AS BIGINT) << (y * 8 + x - 32))
                   ELSE 0 END) AS BIGINT) AS h_hi
               FROM bits GROUP BY img_id)
        SELECT a.img_id AS id_a, b.img_id AS id_b, a.h_lo, a.h_hi
        FROM hs a JOIN hs b
          ON a.h_lo = b.h_lo AND a.h_hi = b.h_hi
         AND a.img_id < b.img_id
        ORDER BY id_a, id_b"""))

  /** Audio energy over a REAL WAV decode ([[Multimodal.Wav]] /
    * [[Multimodal.wavWindowEnergy]]): 16-bit mono PCM planted from a
    * closed sample law through a real RIFF encoder, parsed back by
    * walking the actual chunk structure, then per-1024-sample
    * windows of exact integer sum-of-squares (the loudness/silence
    * primitive). DuckDB replays the sample law and the windowed sums
    * in pure integer arithmetic — the audio decode path gets the
    * same end-to-end oracle the image path has (q52/q232), replacing
    * the environment-blocked compressed-codec stub for the one
    * mainstream format that needs no codec.
    */
  private val q233_audio_wav: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
        .where(col("doc_id") % 23 === 0).select(col("doc_id"))
      Multimodal.wavWindowEnergy(
          Multimodal.plantWav(d, "doc_id"), "doc_id", "payload",
          window = 1024)
        .orderBy(col("doc_id"), col("win"))
    },
    Some("""WITH ids AS (SELECT doc_id AS pat FROM documents
               WHERE doc_id % 23 = 0),
             n AS (SELECT pat, 2000 + (pat % 7) * 100 AS ns FROM ids),
             sm AS (SELECT pat, ii.i AS i,
                 ((ii.i * 37 + pat * 101) % 65536) - 32768 AS s
               FROM n, (SELECT unnest(range(0, 2600)) AS i) ii
               WHERE ii.i < ns)
        SELECT pat AS doc_id, i // 1024 AS win,
               count(*) AS n_samples,
               CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS sumsq
        FROM sm GROUP BY 1, 2 ORDER BY doc_id, win"""))

  /** VIDEO-shaped scene-cut detection ([[Multimodal.plantFrames]] +
    * [[Multimodal.sceneCuts]]): per sampled doc a real frame
    * sequence (shared dims, per-frame phase), every frame decoded
    * and dHashed for real, hamming distance to the previous frame
    * via a per-video lag window, cut where >= 12 bits flip. The
    * oracle replays pixel law -> bits -> halves -> xor popcount ->
    * lag without decoding a frame — the shot-boundary primitive of
    * video dedup pipelines, end-to-end verified like q232/q233.
    */
  private val q234_scene_cuts: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
        .where(col("doc_id") % 29 === 0).select(col("doc_id"))
      Multimodal.sceneCuts(Multimodal.plantFrames(d, "doc_id"),
          "doc_id", "payload", minBits = 12)
        .orderBy(col("doc_id"), col("frame"))
    },
    Some("""WITH ids AS (SELECT doc_id AS id FROM documents
               WHERE doc_id % 29 = 0),
             fr AS (SELECT id, ff.f AS frame,
                 id * 1000 + ff.f * 29 AS pat,
                 16 + id % 13 AS w, 16 + (3 * id) % 11 AS h
               FROM ids, (SELECT unnest(range(0, 11)) AS f) ff
               WHERE ff.f < 6 + id % 5),
             bits AS (SELECT id, frame, yy.y, xx.x,
                 CASE WHEN ((3 * (((xx.x + 1) * w) // 9)
                             + 5 * ((yy.y * h) // 8) + pat) % 256)
                        > ((3 * ((xx.x * w) // 9)
                             + 5 * ((yy.y * h) // 8) + pat) % 256)
                      THEN 1 ELSE 0 END AS b
               FROM fr, (SELECT unnest(range(0, 8)) AS x) xx,
                        (SELECT unnest(range(0, 8)) AS y) yy),
             hs AS (SELECT id, frame,
                 CAST(sum(CASE WHEN y * 8 + x < 32
                   THEN b * (CAST(1 AS BIGINT) << (y * 8 + x))
                   ELSE 0 END) AS BIGINT) AS h_lo,
                 CAST(sum(CASE WHEN y * 8 + x >= 32
                   THEN b * (CAST(1 AS BIGINT) << (y * 8 + x - 32))
                   ELSE 0 END) AS BIGINT) AS h_hi
               FROM bits GROUP BY 1, 2),
             lg AS (SELECT id, frame, h_lo, h_hi,
                 lag(h_lo) OVER (PARTITION BY id ORDER BY frame)
                   AS plo,
                 lag(h_hi) OVER (PARTITION BY id ORDER BY frame)
                   AS phi
               FROM hs)
        SELECT id AS doc_id, frame,
               CAST(bit_count(xor(h_lo, plo))
                 + bit_count(xor(h_hi, phi)) AS BIGINT) AS hamming,
               CAST(CASE WHEN bit_count(xor(h_lo, plo))
                 + bit_count(xor(h_hi, phi)) >= 12
                 THEN 1 ELSE 0 END AS INTEGER) AS is_cut
        FROM lg WHERE plo IS NOT NULL
        ORDER BY doc_id, frame"""))

  /** Join-size estimation from CM inner products
    * ([[Sketches.joinSizeEstimate]]): the lineitem SELF-join on
    * l_partkey (true size Σ f(k)² — the blow-up a skewed key
    * produces) estimated as min over rows of dot(rowA, rowB) from
    * two sketch-sized summaries. Every dot is an exact integer the
    * oracle recomputes, the true size rides along, and the CM
    * guarantee estimate >= truth is raised on IN-PLAN (a violation
    * means the sketch machinery broke, not the data).
    */
  private val q231_join_size: Q = (
    (s, dir) => {
      val li = read(s, dir, "lineitem")
      val dots = Sketches.joinSizeEstimate(li, "l_partkey", li,
        "l_partkey", depth = 4, width = 1024)
      val est = dots.agg(min(col("dot")).as("estimate"))
      val truth = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("f"))
        .agg(sum(col("f") * col("f")).as("true_size"))
      dots.crossJoin(broadcast(est)).crossJoin(broadcast(truth))
        .withColumn("estimate",
          when(col("estimate") < col("true_size"),
            raise_error(concat(lit("q231: CM estimate "),
              col("estimate"), lit(" undercuts true join size "),
              col("true_size"))).cast("long"))
            .otherwise(col("estimate")))
        .select(col("row"), col("dot"), col("estimate"),
          col("true_size"))
        .orderBy(col("row"))
    },
    Some("""WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS t
               FROM lineitem),
             h AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split_regex(t, ''),
                   c -> CAST(ascii(c) AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) AS hv FROM k),
             cells AS (SELECT r.i AS row,
                 ((hv * (2654435761 + 2*r.i) + (97 + 1000003*r.i))
                   % 1000000007) % 1024 AS idx
               FROM h, (SELECT unnest(range(0, 4)) AS i) r),
             cm AS (SELECT row, idx, count(*) AS c FROM cells
               GROUP BY 1, 2),
             dots AS (SELECT row, CAST(sum(c * c) AS BIGINT) AS dot
               FROM cm GROUP BY row),
             est AS (SELECT min(dot) AS estimate FROM dots),
             tr AS (SELECT CAST(sum(f * f) AS BIGINT) AS true_size
               FROM (SELECT count(*) AS f FROM lineitem
                     GROUP BY l_partkey))
        SELECT row, dot, estimate, true_size
        FROM dots CROSS JOIN est CROSS JOIN tr ORDER BY row"""))

  /** Curriculum ordering ([[Sampling.curriculumOrder]]): documents
    * phased by length ntile (shortest first — the classic
    * length-curriculum) with a deterministic hash-shuffled order
    * inside each phase. The oracle replays the ntile window AND the
    * multiplicative-hash position bit-for-bit — the full epoch-1
    * data order of a 100 TB training run, auditable from SQL.
    */
  private val q174_curriculum: Q = (
    (s, dir) => Sampling.curriculumOrder(
        read(s, dir, "documents").where(col("text").isNotNull)
          .select(col("doc_id"), col("n_chars")),
        col("n_chars"), "doc_id", phases = 4, seed = 42L)
      .select(col("doc_id"), col("phase"), col("ord"))
      .orderBy(col("phase"), col("ord"), col("doc_id")),
    Some("""SELECT doc_id,
                   CAST(ntile(4) OVER (ORDER BY n_chars, doc_id)
                     AS BIGINT) AS phase,
                   ((doc_id * 2654435761 + 42) % 1000000007)
                     % 1000000 AS ord
            FROM documents WHERE text IS NOT NULL
            ORDER BY phase, ord, doc_id"""))

  /** Hybrid retrieval: BM25 keyword branch + dense cosine branch,
    * fused by integer-exact reciprocal-rank fusion
    * ([[Similarity.rrfFuse]]). Each branch ranks by its ROUNDED score
    * (ties broken on doc_id), so branch membership and ranks are
    * cross-engine deterministic; the fusion is pure long arithmetic.
    * The branches are the scale paths already graded elsewhere
    * (one-pass BM25; cosine scored brute-force here, cell-pruned ANN
    * at scale); fusion itself touches only the two top-50 lists.
    */
  /** The two q173 retrieval branches as top-50 (doc_id, rank)
    * shortlists — shared by the RRF fusion (q173) and the
    * second-stage rerankers (q210/q211).
    */
  private def hybridBranches(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val e = read(s, dir, "embeddings")
    val docs = read(s, dir, "documents")
    val qv = e.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val qarr = array(qv.toIndexedSeq.map(v => lit(v.toDouble)): _*)
    val pin = (c: org.apache.spark.sql.Column) => pmod(c, lit(1))
    val denseW = org.apache.spark.sql.expressions.Window
      .partitionBy(pin(col("doc_id")))
      .orderBy(col("sim").desc, col("doc_id"))
    val dense = e.where(col("vec_id") > 0)
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.CosineSimilarity(col("embedding"),
          qarr), 6).as("sim"))
      .withColumn("rank", row_number().over(denseW).cast("long"))
      .where(col("rank") <= 50)
    val sparseW = org.apache.spark.sql.expressions.Window
      .partitionBy(pin(col("doc_id")))
      .orderBy(col("score").desc, col("doc_id"))
    val sparse = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("hash", "join", "spark"), k = 50)
      .withColumn("rank", row_number().over(sparseW).cast("long"))
    (dense.select(col("doc_id"), col("rank")),
      sparse.select(col("doc_id"), col("rank")))
  }

  /** The q173 branch shortlists as a DuckDB CTE block
    * (qv/dense/toks/pd/st/bm/sparse), shared by the q173/q211
    * oracles.
    */
  private val hybridBranchesSql: String =
    """qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id = 0),
             dense AS (SELECT doc_id, rank FROM (
                 SELECT vec_id AS doc_id,
                        row_number() OVER (ORDER BY
                          round(list_cosine_similarity(
                            CAST(embedding AS DOUBLE[]), qv.v), 6)
                            DESC, vec_id) AS rank
                 FROM embeddings, qv WHERE vec_id > 0)
               WHERE rank <= 50),
             toks AS (SELECT doc_id,
                 unnest(string_split(lower(text), ' ')) AS t
               FROM documents WHERE text IS NOT NULL),
             pd AS (SELECT doc_id, count(*) AS dl,
                 sum(CASE WHEN t = 'hash' THEN 1 ELSE 0 END) AS tf0,
                 sum(CASE WHEN t = 'join' THEN 1 ELSE 0 END) AS tf1,
                 sum(CASE WHEN t = 'spark' THEN 1 ELSE 0 END) AS tf2
               FROM toks WHERE t <> '' GROUP BY doc_id),
             st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
                 sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                 sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                 sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
               FROM pd),
             bm AS (SELECT doc_id,
                 round(
                   CASE WHEN tf0 > 0 THEN
                     ln((CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5)
                        / (CAST(df0 AS DOUBLE) + 0.5) + 1.0)
                     * (CAST(tf0 AS DOUBLE) * 2.2)
                     / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25
                        + 0.75 * CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
                   ELSE 0.0 END
                 + CASE WHEN tf1 > 0 THEN
                     ln((CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5)
                        / (CAST(df1 AS DOUBLE) + 0.5) + 1.0)
                     * (CAST(tf1 AS DOUBLE) * 2.2)
                     / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25
                        + 0.75 * CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
                   ELSE 0.0 END
                 + CASE WHEN tf2 > 0 THEN
                     ln((CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5)
                        / (CAST(df2 AS DOUBLE) + 0.5) + 1.0)
                     * (CAST(tf2 AS DOUBLE) * 2.2)
                     / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25
                        + 0.75 * CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
                   ELSE 0.0 END, 6) AS score
               FROM pd, st
               WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
               ORDER BY score DESC, doc_id LIMIT 50),
             sparse AS (SELECT doc_id, row_number() OVER
                 (ORDER BY score DESC, doc_id) AS rank FROM bm)"""

  private val q173_hybrid_rrf: Q = (
    (s, dir) => {
      val (dense, sparse) = hybridBranches(s, dir)
      Similarity.rrfFuse(Seq(dense, sparse), "doc_id")
        .orderBy(col("rrf_score").desc, col("doc_id")).limit(10)
    },
    Some(s"""WITH $hybridBranchesSql,
             fused AS (SELECT doc_id,
                 1000000000000 // (60 + rank) AS c FROM dense
               UNION ALL SELECT doc_id,
                 1000000000000 // (60 + rank) AS c FROM sparse)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_score,
               count(*) AS n_branches
        FROM fused GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id LIMIT 10"""))

  /** LEARNED second-stage reranker over the q173 shortlists: the
    * q144 pattern lifted to retrieval — click-shaped labels (clicks
    * concentrate on near-top dense results, with deterministic
    * hash dropout plus a keyword-click minority) train a logistic
    * head on the branch-rank features, the coefficients QUANTIZE to
    * longs, and serving is the exact-integer [[Similarity
    * .rerankLinear]] score over the candidate table. Rows-only
    * (solver-dependent weights); the in-plan gate raises unless the
    * served click prediction hits 0.85 on the labels, and q211
    * oracle-checks the identical candidate-build + integer-serve
    * machinery under static weights.
    */
  private val q210_reranker_fit: Q = (
    (s, dir) => {
      val (dense, sparse) = hybridBranches(s, dir)
      val h = pmod(col("doc_id") * 2654435761L + lit(7L),
        lit(1000000007L))
      val cands = Similarity.rerankFeatures(
          Seq("dense" -> dense, "sparse" -> sparse), "doc_id")
        .withColumn("click",
          when((col("rank_dense") <= 15 && h.mod(lit(5)) =!= 0) ||
            (col("rank_sparse") <= 5 && h.mod(lit(7)) === 0), 1.0)
            .otherwise(0.0))
        .cache()
      val (w, b) = Similarity.fitReranker(cands,
        Seq("rank_dense", "rank_sparse"), "click")
      val served = Similarity.rerankLinear(cands, "doc_id", w, b,
          k = 1000) // shortlists are <= 100 candidates by construction
        .withColumn("pred",
          when(col("rr_score") > 0L, 1.0).otherwise(0.0))
      val g = served.agg(
        avg(when(col("click") === col("pred"), 1.0).otherwise(0.0))
          .as("__acc"))
      served.crossJoin(broadcast(g))
        .withColumn("pred",
          when(col("__acc") < 0.85,
            raise_error(concat(
              lit("q210: served accuracy "), round(col("__acc"), 4),
              lit(" below 0.85 — reranker or quantized serving "),
              lit("degenerated"))).cast("double"))
            .otherwise(col("pred")))
        .select(col("doc_id"), col("rank_dense"), col("rank_sparse"),
          col("rr_score"), col("click"), col("pred"))
        .orderBy(col("doc_id"))
    },
    None)

  /** The reranker SERVING machinery under the ORACLE (the q145 rule):
    * static integer weights over the q173 candidate table —
    * rr_score = 500000 - 3000*rank_dense - 1000*rank_sparse, missing
    * branches pinned at rank 1000 — then top-10 by (score, doc_id).
    * Every step (shortlists, full-outer feature join, coalesce
    * sentinel, int64 score, ordering) replays term for term in
    * DuckDB; pins the path q210 serves its trained weights through.
    */
  private val q211_rerank_static: Q = (
    (s, dir) => {
      val (dense, sparse) = hybridBranches(s, dir)
      Similarity.rerankLinear(
          Similarity.rerankFeatures(
            Seq("dense" -> dense, "sparse" -> sparse), "doc_id"),
          "doc_id",
          features = Seq("rank_dense" -> -3000L, "rank_sparse" -> -1000L),
          intercept = 500000L, k = 10)
        .orderBy(col("rr_score").desc, col("doc_id"))
    },
    Some(s"""WITH $hybridBranchesSql,
             cand AS (SELECT COALESCE(d.doc_id, sp.doc_id) AS doc_id,
                 COALESCE(d.rank, 1000) AS rank_dense,
                 COALESCE(sp.rank, 1000) AS rank_sparse
               FROM dense d FULL OUTER JOIN sparse sp
                 ON d.doc_id = sp.doc_id)
        SELECT doc_id, rank_dense, rank_sparse,
               CAST(500000 - 3000 * rank_dense - 1000 * rank_sparse
                 AS BIGINT) AS rr_score
        FROM cand
        ORDER BY rr_score DESC, doc_id LIMIT 10"""))

  /** BM25 keyword retrieval ([[TextAnalysis.bm25TopK]]) for the fixed
    * query {hash, join, spark}: one aggregate pass (per-doc length +
    * conditional-sum tf per term — no postings explode), corpus
    * stats as a broadcast row, codegen'd scoring formula, TakeOrdered
    * top-k. The oracle replays tf/dl/df/N as integers and the scoring
    * arithmetic in the identical operation order; ln is the one
    * floating step, rounded 6dp on both sides (the corr convention).
    */
  private val q167_bm25: Q = (
    (s, dir) => TextAnalysis.bm25TopK(spread(read(s, dir, "documents")),
      "doc_id", "text", Seq("hash", "join", "spark"), k = 25),
    Some("""WITH toks AS (SELECT doc_id,
                 unnest(string_split(lower(text), ' ')) AS t
               FROM documents WHERE text IS NOT NULL),
             pd AS (SELECT doc_id, count(*) AS dl,
                 sum(CASE WHEN t = 'hash' THEN 1 ELSE 0 END) AS tf0,
                 sum(CASE WHEN t = 'join' THEN 1 ELSE 0 END) AS tf1,
                 sum(CASE WHEN t = 'spark' THEN 1 ELSE 0 END) AS tf2
               FROM toks WHERE t <> '' GROUP BY doc_id),
             st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
                 sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                 sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                 sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
               FROM pd)
        SELECT doc_id,
               round(
                 CASE WHEN tf0 > 0 THEN
                   ln((CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5)
                      / (CAST(df0 AS DOUBLE) + 0.5) + 1.0)
                   * (CAST(tf0 AS DOUBLE) * 2.2)
                   / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25
                      + 0.75 * CAST(dl AS DOUBLE)
                        / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
                 ELSE 0.0 END
               + CASE WHEN tf1 > 0 THEN
                   ln((CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5)
                      / (CAST(df1 AS DOUBLE) + 0.5) + 1.0)
                   * (CAST(tf1 AS DOUBLE) * 2.2)
                   / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25
                      + 0.75 * CAST(dl AS DOUBLE)
                        / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
                 ELSE 0.0 END
               + CASE WHEN tf2 > 0 THEN
                   ln((CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5)
                      / (CAST(df2 AS DOUBLE) + 0.5) + 1.0)
                   * (CAST(tf2 AS DOUBLE) * 2.2)
                   / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25
                      + 0.75 * CAST(dl AS DOUBLE)
                        / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
                 ELSE 0.0 END, 6) AS score,
               CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hit
        FROM pd, st
        WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        ORDER BY score DESC, doc_id LIMIT 25"""))

  /** URL CANONICALIZATION dedup keys ([[graft.llmdata.TextAnalysis
    * .canonicalizeUrl]]): deterministic crawl-shaped URLs planted
    * per document (case variants every 3rd, default :80 every 5th,
    * path-final slash every 2nd, utm_ tracking param every 4th,
    * fragment every 7th) collapse to one canonical form per
    * (host, item, ref) triple — the URL-level dedup pass that runs
    * BEFORE any content hashing, entirely in codegen'd RE2-safe
    * regexp_replace chains the oracle replays rule for rule.
    * n_dups counts the canonical group.
    */
  private val q293_url_canon: Q = (
    (s, dir) => {
      val id = col("doc_id")
      val url = concat(
        when(id % 3 === 0, lit("HTTP://WWW.EXAMPLE-"))
          .otherwise(lit("http://www.example-")),
        (id % 40).cast("string"),
        when(id % 3 === 0, lit(".COM")).otherwise(lit(".com")),
        when(id % 5 === 0, lit(":80")).otherwise(lit("")),
        lit("/articles/item-"), (id % 23).cast("string"),
        when(id % 2 === 0, lit("/")).otherwise(lit("")),
        when(id % 4 === 0, lit("?utm_source=feed&ref="))
          .otherwise(lit("?ref=")),
        (id % 6).cast("string"),
        when(id % 7 === 0, lit("#sec")).otherwise(lit("")))
      val withC = read(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), url.as("url"))
        .withColumn("canonical",
          graft.llmdata.TextAnalysis.canonicalizeUrl(col("url")))
      val groups = withC.groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_dups"))
      withC.join(groups, Seq("canonical"))
        .select(col("doc_id"), col("url"), col("canonical"),
          col("n_dups"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH u0 AS (SELECT doc_id,
                 (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://WWW.EXAMPLE-'
                       ELSE 'http://www.example-' END)
                 || CAST(doc_id % 40 AS VARCHAR)
                 || (CASE WHEN doc_id % 3 = 0 THEN '.COM'
                          ELSE '.com' END)
                 || (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)
                 || '/articles/item-' || CAST(doc_id % 23 AS VARCHAR)
                 || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
                 || (CASE WHEN doc_id % 4 = 0
                          THEN '?utm_source=feed&ref='
                          ELSE '?ref=' END)
                 || CAST(doc_id % 6 AS VARCHAR)
                 || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)
                   AS url
               FROM documents WHERE text IS NOT NULL),
             s1 AS (SELECT doc_id, url,
                 regexp_replace(url, '#.*$', '') AS c FROM u0),
             s2 AS (SELECT doc_id, url,
                 regexp_replace(c, '&utm_[^&]*', '', 'g') AS c
               FROM s1),
             s3 AS (SELECT doc_id, url,
                 regexp_replace(c, '\?utm_[^&]*&', '?') AS c
               FROM s2),
             s4 AS (SELECT doc_id, url,
                 regexp_replace(c, '\?utm_[^&]*$', '') AS c
               FROM s3),
             s5 AS (SELECT doc_id, url,
                 lower(regexp_extract(c, '^([^/]*//[^/?]*)', 1)) ||
                 regexp_replace(c, '^[^/]*//[^/?]*', '') AS c
               FROM s4),
             s6 AS (SELECT doc_id, url,
                 regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(c,
                     '^(http://[^/:?]*):80([/?])', '\1\2'),
                     '^(http://[^/:?]*):80$', '\1'),
                     '^(https://[^/:?]*):443([/?])', '\1\2'),
                     '^(https://[^/:?]*):443$', '\1') AS c
               FROM s5),
             s7 AS (SELECT doc_id, url,
                 regexp_replace(regexp_replace(c, '/\?', '?', 'g'),
                   '([^/])/$', '\1') AS canonical
               FROM s6),
             g AS (SELECT canonical, CAST(count(*) AS BIGINT)
                 AS n_dups
               FROM s7 GROUP BY 1)
        SELECT doc_id, url, s7.canonical, n_dups
        FROM s7 JOIN g ON s7.canonical = g.canonical
        ORDER BY doc_id"""))

  /** QUERY-PARAM-SORTED URL canonicalization
    * ([[TextAnalysis.canonicalizeUrlSorted]]) — the q293 rules plus
    * tracking-key removal and parameter SORTING, so `?b=2&a=1` and
    * `?a=1&b=2` collapse; a query emptied by the droplist loses its
    * `?`. Planted crawl variants shuffle color/size order, sprinkle
    * gclid/utm noise, and include a tracking-only query (the
    * empty-branch case). The oracle replays the regexp chain rule for
    * rule, then the same split → filter → sort → rejoin in list
    * functions.
    */
  private val q319_url_sorted: Q = (
    (s, dir) => {
      val id = col("doc_id")
      val qpart = when(id % 13 === 0, lit("?gclid=only"))
        .otherwise(concat(
          when(id % 2 === 0,
            concat(lit("?color="), (id % 5).cast("string"),
              lit("&size="), (id % 3).cast("string")))
            .otherwise(concat(lit("?size="), (id % 3).cast("string"),
              lit("&color="), (id % 5).cast("string"))),
          when(id % 4 === 0,
            concat(lit("&gclid=g"), (id % 11).cast("string")))
            .otherwise(lit("")),
          when(id % 3 === 0, lit("&utm_source=mail"))
            .otherwise(lit(""))))
      val url = concat(lit("https://shop.example-"),
        (id % 9).cast("string"), lit(".com/p/"),
        (id % 17).cast("string"), qpart,
        when(id % 7 === 0, lit("#top")).otherwise(lit("")))
      val withC = read(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), url.as("url"))
        .withColumn("canonical",
          graft.llmdata.TextAnalysis.canonicalizeUrlSorted(col("url")))
      val groups = withC.groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_dups"))
      withC.join(groups, Seq("canonical"))
        .select(col("doc_id"), col("url"), col("canonical"),
          col("n_dups"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH u0 AS (SELECT doc_id,
                 'https://shop.example-' || CAST(doc_id % 9 AS VARCHAR)
                 || '.com/p/' || CAST(doc_id % 17 AS VARCHAR)
                 || (CASE WHEN doc_id % 13 = 0 THEN '?gclid=only'
                     ELSE (CASE WHEN doc_id % 2 = 0
                           THEN '?color=' || CAST(doc_id % 5 AS VARCHAR)
                             || '&size=' || CAST(doc_id % 3 AS VARCHAR)
                           ELSE '?size=' || CAST(doc_id % 3 AS VARCHAR)
                             || '&color=' || CAST(doc_id % 5 AS VARCHAR)
                           END)
                       || (CASE WHEN doc_id % 4 = 0
                           THEN '&gclid=g' || CAST(doc_id % 11 AS VARCHAR)
                           ELSE '' END)
                       || (CASE WHEN doc_id % 3 = 0
                           THEN '&utm_source=mail' ELSE '' END)
                     END)
                 || (CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END)
                   AS url
               FROM documents WHERE text IS NOT NULL),
             s1 AS (SELECT doc_id, url,
                 regexp_replace(url, '#.*$', '') AS c FROM u0),
             s2 AS (SELECT doc_id, url,
                 regexp_replace(c, '&utm_[^&]*', '', 'g') AS c
               FROM s1),
             s3 AS (SELECT doc_id, url,
                 regexp_replace(c, '\?utm_[^&]*&', '?') AS c
               FROM s2),
             s4 AS (SELECT doc_id, url,
                 regexp_replace(c, '\?utm_[^&]*$', '') AS c
               FROM s3),
             s5 AS (SELECT doc_id, url,
                 lower(regexp_extract(c, '^([^/]*//[^/?]*)', 1)) ||
                 regexp_replace(c, '^[^/]*//[^/?]*', '') AS c
               FROM s4),
             s6 AS (SELECT doc_id, url,
                 regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(c,
                     '^(http://[^/:?]*):80([/?])', '\1\2'),
                     '^(http://[^/:?]*):80$', '\1'),
                     '^(https://[^/:?]*):443([/?])', '\1\2'),
                     '^(https://[^/:?]*):443$', '\1') AS c
               FROM s5),
             s7 AS (SELECT doc_id, url,
                 regexp_replace(regexp_replace(c, '/\?', '?', 'g'),
                   '([^/])/$', '\1') AS c
               FROM s6),
             s8 AS (SELECT doc_id, url,
                 regexp_replace(c, '\?.*$', '') AS path,
                 regexp_extract(c, '\?(.*)$', 1) AS qs
               FROM s7),
             s9 AS (SELECT doc_id, url, path,
                 list_sort(list_filter(string_split(qs, '&'),
                   x -> x <> '' AND NOT (x LIKE 'gclid=%'
                     OR x LIKE 'fbclid=%' OR x LIKE 'msclkid=%'
                     OR x LIKE 'ref=%' OR x = 'gclid' OR x = 'fbclid'
                     OR x = 'msclkid' OR x = 'ref'))) AS kept
               FROM s8),
             s10 AS (SELECT doc_id, url,
                 CASE WHEN len(kept) > 0
                   THEN path || '?' || array_to_string(kept, '&')
                   ELSE path END AS canonical
               FROM s9),
             g AS (SELECT canonical, CAST(count(*) AS BIGINT)
                 AS n_dups
               FROM s10 GROUP BY 1)
        SELECT doc_id, url, s10.canonical, n_dups
        FROM s10 JOIN g ON s10.canonical = g.canonical
        ORDER BY doc_id"""))

  /** JENSEN-SHANNON corpus divergence
    * ([[TextAnalysis.jsDivergence]]) between the de and en slices'
    * token distributions — the bounded symmetric drift measure that
    * handles disjoint vocabulary (PSI-style ratios blow up there).
    * One vocabulary census per slice, full-outer token join,
    * decimal-quantized mixture terms; jsd_bits is the [0,1]
    * normalized read.
    */
  private val q323_jsd: Q = (
    (s, dir) => graft.llmdata.TextAnalysis.jsDivergence(
      read(s, dir, "documents").where(col("lang").isin("de", "en")),
      slice = col("lang"), text = col("text")),
    Some("""WITH toks AS (SELECT lang AS slice,
                 unnest(list_filter(string_split(trim(
                   regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                   t -> t <> '')) AS t
               FROM documents
               WHERE text IS NOT NULL AND lang IN ('de', 'en')),
             cells AS (SELECT slice, t, count(*) AS c
               FROM toks GROUP BY 1, 2),
             a AS (SELECT t, c AS ca FROM cells WHERE slice = 'de'),
             b AS (SELECT t, c AS cb FROM cells WHERE slice = 'en'),
             j AS (SELECT COALESCE(a.t, b.t) AS t,
                 COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
               FROM a FULL JOIN b ON a.t = b.t),
             tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb FROM j),
             terms AS (SELECT ca, cb,
                 CAST(ca AS DOUBLE) / na AS p,
                 CAST(cb AS DOUBLE) / nb AS q
               FROM j CROSS JOIN tot),
             agg AS (SELECT CAST(sum(CAST(
                 (CASE WHEN ca > 0
                   THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END) +
                 (CASE WHEN cb > 0
                   THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)
                 AS DECIMAL(38,12))) AS DOUBLE) AS s,
                 count(*) AS vocab,
                 CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0
                   END) AS BIGINT) AS vocab_shared
               FROM terms)
        SELECT 'de' AS slice_a, 'en' AS slice_b,
               tot.na AS n_tok_a, tot.nb AS n_tok_b,
               vocab, vocab_shared,
               round(s / 2.0, 6) AS jsd_nats,
               round(s / 2.0 / ln(2.0), 6) AS jsd_bits
        FROM agg CROSS JOIN tot"""))

  /** PAIRWISE JSD MATRIX ([[TextAnalysis.jsDivergenceMatrix]]) over
    * the de/en/fr slices — all three pair divergences from ONE token
    * census + one per-token count grid (single shuffle however many
    * slices), where three q323-style calls would tokenize three
    * times. The oracle replays the grid and every pair's mixture
    * terms column-for-column (SQL generated from the same pair list).
    */
  private val q325_jsd_matrix: Q = {
    val langs = Seq("de", "en", "fr")
    val k = langs.length
    val pairs = for (i <- 0 until k; j <- i + 1 until k) yield (i, j)
    def p(i: Int) = s"(CAST(c$i AS DOUBLE) / n$i)"
    val pairAggs = pairs.map { case (i, j) =>
      val m = s"((${p(i)} + ${p(j)}) / 2.0)"
      s"""CAST(sum(CAST(
           (CASE WHEN c$i > 0 THEN ${p(i)} * ln(${p(i)} / $m)
                 ELSE 0.0 END) +
           (CASE WHEN c$j > 0 THEN ${p(j)} * ln(${p(j)} / $m)
                 ELSE 0.0 END) AS DECIMAL(38,12))) AS DOUBLE)
           AS s_${i}_$j,
         CAST(sum(CASE WHEN c$i > 0 OR c$j > 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS v_${i}_$j"""
    }.mkString(", ")
    val gridCols = langs.zipWithIndex.map { case (l, i) =>
      s"CAST(sum(CASE WHEN slice = '$l' THEN c ELSE 0 END) AS BIGINT) AS c$i"
    }.mkString(", ")
    val totCols = (0 until k).map(i =>
      s"CAST(sum(c$i) AS BIGINT) AS n$i").mkString(", ")
    val unions = pairs.map { case (i, j) =>
      s"""SELECT '${langs(i)}' AS slice_a, '${langs(j)}' AS slice_b,
            n$i AS n_tok_a, n$j AS n_tok_b, v_${i}_$j AS vocab_pair,
            round(s_${i}_$j / 2.0, 6) AS jsd_nats,
            round(s_${i}_$j / 2.0 / ln(2.0), 6) AS jsd_bits
          FROM ag CROSS JOIN tot""" }.mkString(" UNION ALL ")
    ((s: org.apache.spark.sql.SparkSession, dir: String) =>
      graft.llmdata.TextAnalysis.jsDivergenceMatrix(
        read(s, dir, "documents").where(col("lang").isin(langs: _*)),
        slice = col("lang"), text = col("text")),
      Some(s"""WITH toks AS (SELECT lang AS slice,
                 unnest(list_filter(string_split(trim(
                   regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                   t -> t <> '')) AS t
               FROM documents
               WHERE text IS NOT NULL
                 AND lang IN (${langs.map(l => s"'$l'").mkString(", ")})),
             cells AS (SELECT slice, t, count(*) AS c
               FROM toks GROUP BY 1, 2),
             grid AS (SELECT t, $gridCols FROM cells GROUP BY 1),
             tot AS (SELECT $totCols FROM grid),
             ag AS (SELECT $pairAggs FROM grid CROSS JOIN tot)
        $unions ORDER BY slice_a, slice_b"""))
  }

  /** OOV RATE per language ([[TextAnalysis.oovRate]]) against the
    * corpus' own top-500 token vocabulary — which slice a fixed word
    * vocabulary serves worst (the per-source fertility early-warning
    * next to q127). TakeOrdered vocabulary, broadcast semi join,
    * exact floor-division ppm.
    */
  private val q326_oov_rate: Q = (
    (s, dir) => graft.llmdata.TextAnalysis.oovRate(
      read(s, dir, "documents"), slice = col("lang"),
      text = col("text"), vocabSize = 500),
    Some("""WITH toks AS (SELECT lang AS slice,
                 unnest(list_filter(string_split(trim(
                   regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                   t -> t <> '')) AS t
               FROM documents
               WHERE text IS NOT NULL AND lang IS NOT NULL),
             cells AS (SELECT slice, t, count(*) AS c
               FROM toks GROUP BY 1, 2),
             gtot AS (SELECT t, CAST(sum(c) AS BIGINT) AS cg
               FROM cells GROUP BY 1),
             vocab AS (SELECT t FROM (SELECT t, row_number()
                 OVER (ORDER BY cg DESC, t ASC) AS r FROM gtot)
               WHERE r <= 500),
             ps AS (SELECT slice, CAST(sum(c) AS BIGINT) AS n_tokens,
                 count(DISTINCT t) AS n_types
               FROM cells GROUP BY 1),
             iv AS (SELECT slice, CAST(sum(c) AS BIGINT) AS nin
               FROM cells JOIN vocab USING (t) GROUP BY 1)
        SELECT ps.slice, n_tokens, n_types,
               n_tokens - COALESCE(nin, 0) AS n_oov,
               CAST((n_tokens - COALESCE(nin, 0)) * 1000000
                 // n_tokens AS BIGINT) AS oov_ppm
        FROM ps LEFT JOIN iv ON ps.slice = iv.slice
        ORDER BY ps.slice"""))

  /** LSH BAND CALIBRATION ([[Dedup.lshCalibration]]): the
    * P(candidate | jaccard) S-curves for three (bands, rows) configs
    * including q42's default (8, 4) — the planning table read before
    * any corpus-scale near-dup run. Unrolled integer-exponent power
    * chains; the oracle replays the same association order.
    */
  private val q329_lsh_calibration: Q = {
    val configs = Seq((8, 4), (16, 8), (32, 4))
    val sE = "(CAST(s_pct AS DOUBLE) / 100.0)"
    val branches = configs.map { case (b, r) =>
      val sr = Seq.fill(r)(sE).mkString("(", " * ", ")")
      val inner = s"(1.0 - $sr)"
      val pb = Seq.fill(b)(inner).mkString("(", " * ", ")")
      s"""SELECT $b AS bands, $r AS rows_per_band, s_pct,
            round(1.0 - $pb, 6) AS p_candidate FROM g"""
    }.mkString(" UNION ALL ")
    ((s: org.apache.spark.sql.SparkSession, dir: String) =>
      graft.llmdata.Dedup.lshCalibration(s, configs),
      Some(s"""WITH g AS (SELECT i * 5 AS s_pct
               FROM generate_series(1, 20) AS t(i))
        $branches ORDER BY bands, rows_per_band, s_pct"""))
  }

  /** Shared oracle CTE prefix for the PRF entries: raw tokens, the
    * literal-stage BM25 per-doc stats for terms (hash, join), and
    * the kDocs=10 pseudo-relevant shortlist — the q167 arithmetic
    * verbatim.
    */
  private def prfOracleBase: String =
    """WITH tk AS (SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS t
         FROM documents WHERE text IS NOT NULL),
       tkc AS (SELECT doc_id, t FROM tk WHERE t <> ''),
       pd AS (SELECT doc_id, count(*) AS dl,
           sum(CASE WHEN t = 'hash' THEN 1 ELSE 0 END) AS tf0,
           sum(CASE WHEN t = 'join' THEN 1 ELSE 0 END) AS tf1
         FROM tkc GROUP BY doc_id),
       st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
           sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
         FROM pd),
       short AS (SELECT doc_id FROM (SELECT doc_id,
           round(
             CASE WHEN tf0 > 0 THEN
               ln((CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5)
                  / (CAST(df0 AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf0 AS DOUBLE) * 2.2)
               / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25
                  + 0.75 * CAST(dl AS DOUBLE)
                    / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
             ELSE 0.0 END
           + CASE WHEN tf1 > 0 THEN
               ln((CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5)
                  / (CAST(df1 AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf1 AS DOUBLE) * 2.2)
               / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25
                  + 0.75 * CAST(dl AS DOUBLE)
                    / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
             ELSE 0.0 END, 6) AS score
           FROM pd, st WHERE tf0 > 0 OR tf1 > 0
           ORDER BY score DESC, doc_id LIMIT 10)),
       nd AS (SELECT count(*) AS n
         FROM documents WHERE text IS NOT NULL),
       gdf AS (SELECT t, count(*) AS gdf FROM (
           SELECT DISTINCT doc_id, t FROM tkc) GROUP BY 1),
       insh AS (SELECT t, CAST(count(*) AS BIGINT) AS tf_short,
           CAST(count(DISTINCT tkc.doc_id) AS BIGINT) AS df_short
         FROM tkc JOIN short ON tkc.doc_id = short.doc_id
         WHERE t NOT IN ('hash', 'join') GROUP BY 1),
       wt AS (SELECT t AS term, tf_short, df_short,
           tf_short * CAST(floor(1000000.0 *
             ln((CAST(nd.n AS DOUBLE) + 1.0)
               / (CAST(gdf AS DOUBLE) + 1.0))) AS BIGINT) AS weight
         FROM insh JOIN gdf USING (t) CROSS JOIN nd)"""

  /** PSEUDO-RELEVANCE-FEEDBACK expansion terms
    * ([[TextAnalysis.prfExpansionTerms]]): top-10 pseudo-relevant
    * docs for (hash, join) vote expansion terms weighted by
    * shortlist-tf × quantized global rarity — exact int64 ranking,
    * no stopword list needed.
    */
  private val q330_prf_terms: Q = (
    (s, dir) => TextAnalysis.prfExpansionTerms(
      spread(read(s, dir, "documents")), "doc_id", "text",
      Seq("hash", "join"), kDocs = 10, kExpand = 10),
    Some(s"""$prfOracleBase
        SELECT term, tf_short, df_short, weight FROM wt
        ORDER BY weight DESC, term LIMIT 10"""))

  /** End-to-end PRF retrieval ([[TextAnalysis.prfSearch]]): stage-1
    * literal BM25 shortlist → top-5 expansion terms → stage-2
    * [[TextAnalysis.bm25TopKDyn]] over originals ∪ expansion, terms
    * riding the plan as a broadcast table (no driver round-trip).
    * The oracle replays both stages, including the dyn form's
    * decimal-quantized per-(doc, term) contribution sums.
    */
  private val q331_prf_search: Q = (
    (s, dir) => TextAnalysis.prfSearch(
      spread(read(s, dir, "documents")), "doc_id", "text",
      Seq("hash", "join"), kDocs = 10, kExpand = 5, k = 25),
    Some(s"""$prfOracleBase,
             allt AS (SELECT term FROM (SELECT term FROM wt
                 ORDER BY weight DESC, term LIMIT 5)
               UNION SELECT 'hash' UNION SELECT 'join'),
             dll AS (SELECT doc_id, count(*) AS dl FROM tkc
               GROUP BY 1),
             std AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dll),
             mt AS (SELECT tkc.doc_id, tkc.t, count(*) AS tf
               FROM tkc JOIN allt ON tkc.t = allt.term GROUP BY 1, 2),
             dft AS (SELECT t, count(*) AS dft FROM mt GROUP BY 1),
             sc AS (SELECT mt.doc_id,
                 CAST(sum(CAST(
                   ln((CAST(std.n AS DOUBLE) - CAST(dft AS DOUBLE)
                       + 0.5) / (CAST(dft AS DOUBLE) + 0.5) + 1.0)
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE) + 1.2 * (0.25
                      + 0.75 * CAST(dll.dl AS DOUBLE)
                        / (CAST(sumdl AS DOUBLE)
                           / CAST(std.n AS DOUBLE))))
                   AS DECIMAL(38,12))) AS DOUBLE) AS s,
                 CAST(count(*) AS BIGINT) AS n_hit
               FROM mt JOIN dft USING (t)
               JOIN dll ON mt.doc_id = dll.doc_id CROSS JOIN std
               GROUP BY 1)
        SELECT doc_id, round(s, 6) AS score, n_hit FROM sc
        ORDER BY score DESC, doc_id LIMIT 25"""))

  /** MMR DIVERSIFIED top-5 ([[graft.llmdata.Similarity.mmrSelect]])
    * over the integer term-frequency shortlist: relevance = total
    * query-term hits normalized to ppm of the shortlist max,
    * redundancy = token-set Jaccard ppm, objective
    * 7·rel - 3·maxsim — every pick integer-exact, so the oracle
    * unrolls all five greedy steps as CTEs (the q277 pattern). The
    * shortlist stays top-25 bounded at any corpus scale; only the
    * greedy solve (k·25 integer comparisons) runs on the driver.
    */
  private val q285_mmr: Q = (
    (s, dir) => {
      val terms = Seq("hash", "join", "spark")
      val d = read(s, dir, "documents").where(col("text").isNotNull)
      val toks = d.select(col("doc_id"),
        filter(split(lower(col("text")), " "), x => x =!= "")
          .as("tk"))
      val rel = toks.select(col("doc_id"),
          terms.map(t => size(filter(col("tk"), x => x === t)))
            .reduce(_ + _).cast("long").as("rel"))
        .where(col("rel") > 0)
      val sl0 = rel.orderBy(col("rel").desc, col("doc_id")).limit(25)
      val mx = sl0.agg(max(col("rel")).as("mr"))
      val sl = sl0.crossJoin(broadcast(mx))
        .withColumn("rel_ppm", expr("rel * 1000000 div mr"))
        .join(toks.select(col("doc_id"),
          array_distinct(col("tk")).as("toks")), Seq("doc_id"))
      Similarity.mmrSelect(sl, "doc_id", "rel_ppm", "toks", k = 5)
        .orderBy(col("rank"))
    },
    Some("""WITH toks AS (SELECT doc_id,
                 unnest(string_split(lower(text), ' ')) AS t
               FROM documents WHERE text IS NOT NULL),
             tf AS (SELECT doc_id, CAST(sum(CASE WHEN t IN
                   ('hash', 'join', 'spark') THEN 1 ELSE 0 END)
                 AS BIGINT) AS rel
               FROM toks WHERE t <> '' GROUP BY 1),
             sl0 AS (SELECT doc_id, rel FROM tf WHERE rel > 0
               ORDER BY rel DESC, doc_id LIMIT 25),
             mx AS (SELECT max(rel) AS mr FROM sl0),
             sl AS (SELECT doc_id,
                 CAST(rel * 1000000 // mr AS BIGINT) AS rel_ppm
               FROM sl0, mx),
             dt AS (SELECT DISTINCT doc_id, t FROM toks
               WHERE t <> ''
                 AND doc_id IN (SELECT doc_id FROM sl0)),
             sz AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY 1),
             pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
                 count(*) AS inter
               FROM dt a JOIN dt b
                 ON a.t = b.t AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
             allp AS (SELECT x.doc_id AS ia, y.doc_id AS ib,
                 coalesce(p.inter, 0) AS inter
               FROM sl x JOIN sl y ON x.doc_id < y.doc_id
               LEFT JOIN pr p
                 ON p.ia = x.doc_id AND p.ib = y.doc_id),
             sims AS (SELECT ia, ib, CAST(inter * 1000000 //
                 (sa.n + sb.n - inter) AS BIGINT) AS sim
               FROM allp JOIN sz sa ON sa.doc_id = allp.ia
                         JOIN sz sb ON sb.doc_id = allp.ib),
             simsym AS (SELECT ia, ib, sim FROM sims
               UNION ALL SELECT ib, ia, sim FROM sims),
             sel1 AS (SELECT doc_id, rel_ppm,
                 CAST(1 AS BIGINT) AS rank,
                 CAST(7 * rel_ppm AS BIGINT) AS obj
               FROM sl ORDER BY rel_ppm DESC, doc_id LIMIT 1),
             c2 AS (SELECT c.doc_id, c.rel_ppm,
                 CAST(7 * c.rel_ppm - 3 * max(m.sim) AS BIGINT) AS obj
               FROM sl c JOIN simsym m ON m.ia = c.doc_id
                 JOIN sel1 s ON m.ib = s.doc_id
               WHERE c.doc_id NOT IN (SELECT doc_id FROM sel1)
               GROUP BY 1, 2),
             p2 AS (SELECT doc_id, rel_ppm, CAST(2 AS BIGINT), obj
               FROM c2 ORDER BY obj DESC, doc_id LIMIT 1),
             sel2 AS (SELECT * FROM sel1 UNION ALL SELECT * FROM p2),
             c3 AS (SELECT c.doc_id, c.rel_ppm,
                 CAST(7 * c.rel_ppm - 3 * max(m.sim) AS BIGINT) AS obj
               FROM sl c JOIN simsym m ON m.ia = c.doc_id
                 JOIN sel2 s ON m.ib = s.doc_id
               WHERE c.doc_id NOT IN (SELECT doc_id FROM sel2)
               GROUP BY 1, 2),
             p3 AS (SELECT doc_id, rel_ppm, CAST(3 AS BIGINT), obj
               FROM c3 ORDER BY obj DESC, doc_id LIMIT 1),
             sel3 AS (SELECT * FROM sel2 UNION ALL SELECT * FROM p3),
             c4 AS (SELECT c.doc_id, c.rel_ppm,
                 CAST(7 * c.rel_ppm - 3 * max(m.sim) AS BIGINT) AS obj
               FROM sl c JOIN simsym m ON m.ia = c.doc_id
                 JOIN sel3 s ON m.ib = s.doc_id
               WHERE c.doc_id NOT IN (SELECT doc_id FROM sel3)
               GROUP BY 1, 2),
             p4 AS (SELECT doc_id, rel_ppm, CAST(4 AS BIGINT), obj
               FROM c4 ORDER BY obj DESC, doc_id LIMIT 1),
             sel4 AS (SELECT * FROM sel3 UNION ALL SELECT * FROM p4),
             c5 AS (SELECT c.doc_id, c.rel_ppm,
                 CAST(7 * c.rel_ppm - 3 * max(m.sim) AS BIGINT) AS obj
               FROM sl c JOIN simsym m ON m.ia = c.doc_id
                 JOIN sel4 s ON m.ib = s.doc_id
               WHERE c.doc_id NOT IN (SELECT doc_id FROM sel4)
               GROUP BY 1, 2),
             p5 AS (SELECT doc_id, rel_ppm, CAST(5 AS BIGINT), obj
               FROM c5 ORDER BY obj DESC, doc_id LIMIT 1),
             sel5 AS (SELECT * FROM sel4 UNION ALL SELECT * FROM p5)
        SELECT rank, doc_id, rel_ppm, obj
        FROM sel5 ORDER BY rank"""))

  /** Unicode NFC canonicalization via the native codegen expression
    * ([[graft.functions.NfcNormalize]]): decomposed combining
    * sequences (planted deterministically on every document — e +
    * U+0301, A + U+030A, n + U+0303) compose to their precomposed
    * forms, shrinking the code-point length by exactly the three
    * combining marks. DuckDB's `nfc_normalize` implements the same
    * UAX #15 algorithm, so raw text, normalized text, and both
    * lengths hash-match term for term. ASCII rows short-circuit
    * zero-copy inside codegen — the 100 TB path pays the String
    * round trip only on rows that actually carry non-ASCII bytes.
    */
  private val q168_nfc_normalize: Q = (
    (s, dir) => {
      // é, Å, ñ in DECOMPOSED form (base + combining mark)
      val plant = "e\u0301 A\u030A n\u0303"
      read(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 24), lit(" "),
            lit(plant)).as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("raw_len"),
          graft.functions.NfcNormalize(col("raw")).as("norm"))
        .withColumn("norm_len", length(col("norm")).cast("long"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, length(raw) AS raw_len,
                   nfc_normalize(raw) AS norm,
                   length(nfc_normalize(raw)) AS norm_len
            FROM (SELECT doc_id, substring(text, 1, 24) || ' ' ||
                    chr(101) || chr(769) || ' ' ||
                    chr(65) || chr(778) || ' ' ||
                    chr(110) || chr(771) AS raw
                  FROM documents WHERE text IS NOT NULL)
            ORDER BY doc_id"""))

  private val q76_tfidf_topk: Q = (
    (s, dir) => TextAnalysis.tfidfTopK(
        spread(read(s, dir, "documents")), "doc_id", "text", k = 3)
      .select(col("doc_id"), col("term"),
        round(col("tfidf"), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("term")),
    Some("""WITH toks AS (SELECT doc_id,
                 unnest(string_split(lower(text), ' ')) AS term
               FROM documents WHERE text IS NOT NULL),
                 tf AS (SELECT doc_id, term, count(*) AS tf
               FROM toks WHERE term <> '' GROUP BY 1, 2),
                 dfr AS (SELECT term, count(*) AS dfreq
               FROM tf GROUP BY 1),
                 n AS (SELECT count(*) AS n FROM documents
               WHERE text IS NOT NULL),
                 scored AS (SELECT tf.doc_id, tf.term,
                 tf.tf * (ln((n.n + 1.0) / (dfr.dfreq + 1.0)) + 1.0)
                   AS tfidf
               FROM tf, dfr, n WHERE tf.term = dfr.term)
            SELECT doc_id, term, round(tfidf, 6) AS tfidf
            FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS rn FROM scored)
            WHERE rn <= 3 ORDER BY doc_id, term"""))

  /** Corpus top-20 bigrams by count (deterministic bigram tiebreak) —
    * the n-gram frequency sweep used for contamination screens and
    * boilerplate discovery.
    */
  private val q77_ngram_topk: Q = (
    (s, dir) => TextAnalysis.ngramCounts(
        spread(read(s, dir, "documents")), "text", n = 2)
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(20),
    Some("""WITH toks AS (SELECT doc_id,
                 unnest(list_filter(string_split(lower(text), ' '),
                   t -> t <> '')) AS term,
                 unnest(range(1, len(list_filter(
                   string_split(lower(text), ' '), t -> t <> '')) + 1))
                   AS pos
               FROM documents WHERE text IS NOT NULL),
                 bi AS (SELECT term || ' ' ||
                   lead(term) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS ngram
               FROM toks)
            SELECT ngram, count(*) AS cnt FROM bi
            WHERE ngram IS NOT NULL GROUP BY 1
            ORDER BY cnt DESC, ngram ASC LIMIT 20"""))

  /** Gopher-rule quality filter (Rae et al. 2021 §A1.1): keep/drop
    * with per-rule failure reasons, every rule a pure column
    * expression the oracle recomputes verbatim — the structural
    * complement to the statistical LM filter (q86).
    */
  private val q89_quality_filter: Q = (
    (s, dir) => TextAnalysis.gopherQualityFilter(
        spread(read(s, dir, "documents")), "text")
      .select(col("doc_id"), col("n_words"), col("kept"), col("reasons"))
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id, text,
                list_filter(string_split_regex(trim(text), '\s+'),
                  w -> w <> '') AS w,
                list_filter(string_split(text, chr(10)),
                  l -> trim(l) <> '') AS ln
              FROM documents WHERE text IS NOT NULL),
            m AS (SELECT doc_id, len(w) AS nw,
                CASE WHEN len(w) > 0 THEN
                  CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
                    / len(w) END AS mwl,
                (len(text) - len(replace(text, '#', ''))
                 + (len(text) - len(replace(text, '...', ''))) / 3.0)
                  AS sym,
                CAST(len(list_filter(ln, l ->
                    regexp_matches(trim(l), '^([-*•]|[0-9]+\.)')))
                  AS DOUBLE) / greatest(len(ln), 1) AS bf,
                CAST(len(list_filter(ln, l -> rtrim(l) LIKE '%...'))
                  AS DOUBLE) / greatest(len(ln), 1) AS ef,
                CASE WHEN len(w) > 0 THEN
                  CAST(len(list_filter(w, x ->
                      regexp_matches(x, '[A-Za-z]')))
                    AS DOUBLE) / len(w) END AS af,
                len(list_filter(
                  ['the','be','to','of','and','that','have','with'],
                  sw -> list_contains(
                    list_transform(w, x -> lower(x)), sw))) AS sh
              FROM d),
            r AS (SELECT doc_id, nw,
                concat_ws(',',
                  CASE WHEN NOT (nw >= 50 AND nw <= 100000)
                    THEN 'word_count' END,
                  CASE WHEN NOT (nw > 0 AND mwl >= 3.0 AND mwl <= 10.0)
                    THEN 'mean_word_len' END,
                  CASE WHEN NOT (nw > 0 AND sym / nw <= 0.1)
                    THEN 'symbol_ratio' END,
                  CASE WHEN NOT (bf <= 0.9) THEN 'bullet_lines' END,
                  CASE WHEN NOT (ef <= 0.3) THEN 'ellipsis_lines' END,
                  CASE WHEN NOT (nw > 0 AND af >= 0.8)
                    THEN 'alpha_words' END,
                  CASE WHEN NOT (sh >= 2) THEN 'stopwords' END)
                  AS reasons
              FROM m)
        SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
               CAST(CASE WHEN reasons = '' THEN 1 ELSE 0 END
                 AS INTEGER) AS kept,
               reasons
        FROM r ORDER BY doc_id"""))

  /** Per-source corpus-mix report — the curation dashboard a corpus
    * owner reads before setting mixing weights: document counts, token
    * totals, Gopher kept-rate, and language-ID agreement with the
    * labeled lang, grouped by the source column. One aggregation over
    * pure per-row expressions; every input op (q48, q49, q89) is
    * itself oracle-checked, and the composition re-verifies here.
    */
  private val q90_source_mix: Q = (
    (s, dir) => {
      // stopword list drawn from the corpus' own function-word tier
      // (the filter is parameterized for exactly this: Gopher's
      // English list on a non-English or domain corpus flags
      // everything, telling the curator nothing)
      val g = TextAnalysis.gopherQualityFilter(
        spread(read(s, dir, "documents")), "text",
        stops = Seq("the", "a", "batch", "scan", "hash", "join",
          "table", "row"))
      g.withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_tokens"),
          round(avg(col("kept").cast("double")), 6).as("kept_rate"),
          round(avg((col("lang_pred") <=> col("lang")).cast("double")), 6)
            .as("lang_match_rate"))
        .orderBy(col("source"))
    },
    Some("""WITH d AS (SELECT doc_id, source, lang, text,
                list_filter(string_split_regex(trim(text), '\s+'),
                  w -> w <> '') AS w,
                list_filter(string_split(text, chr(10)),
                  l -> trim(l) <> '') AS ln,
                string_split_regex(trim(lower(text)), '\s+') AS ws
              FROM documents WHERE text IS NOT NULL),
            m AS (SELECT doc_id, source, lang, len(w) AS nw,
                CASE WHEN len(w) > 0 THEN
                  CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
                    / len(w) END AS mwl,
                (len(text) - len(replace(text, '#', ''))
                 + (len(text) - len(replace(text, '...', ''))) / 3.0)
                  AS sym,
                CAST(len(list_filter(ln, l ->
                    regexp_matches(trim(l), '^([-*•]|[0-9]+\.)')))
                  AS DOUBLE) / greatest(len(ln), 1) AS bf,
                CAST(len(list_filter(ln, l -> rtrim(l) LIKE '%...'))
                  AS DOUBLE) / greatest(len(ln), 1) AS ef,
                CASE WHEN len(w) > 0 THEN
                  CAST(len(list_filter(w, x ->
                      regexp_matches(x, '[A-Za-z]')))
                    AS DOUBLE) / len(w) END AS af,
                len(list_filter(
                  ['the','a','batch','scan','hash','join','table','row'],
                  sw -> list_contains(
                    list_transform(w, x -> lower(x)), sw))) AS sh,
                [{'hits': len(list_filter(ws, x -> x IN ('the','and','of',
                    'to','is','in','that','it'))), 'tie': -1, 'lang': 'en'},
                 {'hits': len(list_filter(ws, x -> x IN ('el','la','de',
                    'que','y','en','los','del'))), 'tie': -2, 'lang': 'es'},
                 {'hits': len(list_filter(ws, x -> x IN ('le','la','de',
                    'et','les','des','est','une'))), 'tie': -3, 'lang': 'fr'},
                 {'hits': len(list_filter(ws, x -> x IN ('der','die','und',
                    'das','ist','von','den','mit'))), 'tie': 0, 'lang': 'de'}]
                  AS cand
              FROM d),
            r AS (SELECT source, lang, nw,
                CASE WHEN (nw >= 50 AND nw <= 100000)
                      AND (nw > 0 AND mwl >= 3.0 AND mwl <= 10.0)
                      AND (nw > 0 AND sym / nw <= 0.1)
                      AND (bf <= 0.9) AND (ef <= 0.3)
                      AND (nw > 0 AND af >= 0.8)
                      AND (sh >= 2) THEN 1.0 ELSE 0.0 END AS kept,
                CASE WHEN list_sort(cand)[-1].hits > 0
                     THEN list_sort(cand)[-1].lang
                     ELSE 'und' END AS lang_pred
              FROM m)
        SELECT source, count(*) AS n_docs,
               CAST(sum(nw) AS BIGINT) AS total_tokens,
               round(avg(kept), 6) AS kept_rate,
               round(avg(CASE WHEN lang_pred IS NOT DISTINCT FROM lang
                 THEN 1.0 ELSE 0.0 END), 6) AS lang_match_rate
        FROM r GROUP BY source ORDER BY source"""))

  /** C4-style corpus-boilerplate spans: 4-gram positions recurring in
    * >= 3 distinct documents, flagged back per document. Pure count
    * arithmetic — the oracle recomputes the boilerplate set and the
    * per-doc fractions identically.
    */
  private val q91_boilerplate: Q = (
    (s, dir) => TextAnalysis.boilerplateSpans(
        spread(read(s, dir, "documents")), "doc_id", "text",
        n = 4, minDocs = 3)
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id,
                list_filter(string_split(lower(text), ' '),
                  x -> x <> '') AS t
              FROM documents WHERE text IS NOT NULL),
            g AS (SELECT doc_id,
                unnest(list_transform(range(1, len(t) - 2),
                  i -> array_to_string(t[i:i+3], ' '))) AS gram
              FROM w WHERE len(t) >= 4),
            b AS (SELECT gram FROM
                (SELECT gram, count(DISTINCT doc_id) AS nd
                 FROM g GROUP BY 1) WHERE nd >= 3)
        SELECT doc_id, count(*) AS n_spans,
               CAST(sum(CASE WHEN gram IN (SELECT gram FROM b)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
               round(CAST(sum(CASE WHEN gram IN (SELECT gram FROM b)
                   THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                 AS boiler_frac
        FROM g GROUP BY doc_id ORDER BY doc_id"""))

  /** Token-budget corpus cut: hash-ordered docs, integer-exact prefix
    * sums, keep while the running total fits — reproduced verbatim by
    * the oracle's window over the same portable hash.
    */
  private val q92_token_budget: Q = (
    (s, dir) => llmdata.Sampling.sampleToTokenBudget(
        spread(read(s, dir, "documents")), "doc_id",
        TextAnalysis.tokenCountWs(col("text")), budget = 15000L)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\s+'))
                  AS BIGINT) AS n_tokens,
                (doc_id * 2654435761 + 42) % 1000000007 AS h
              FROM documents)
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY h) AS BIGINT)
                 AS cum_tokens
        FROM t QUALIFY cum_tokens <= 15000 ORDER BY doc_id"""))

  /** C4-style corpus span scrub: cut every document into consecutive
    * 12-token grid spans, remove spans occurring in >= 2 distinct
    * documents (keeping the globally first occurrence), and reassemble
    * the surviving text. Pure count/min arithmetic — the oracle
    * recomputes the duplicated-span set and the same keeper rule.
    */
  private val q93_span_dedup: Q = (
    (s, dir) => Dedup.spanDedup(
        spread(read(s, dir, "documents")), "doc_id", "text",
        spanTokens = 12, minDocs = 2)
      .select(col("doc_id"), col("n_spans"), col("n_removed"),
        col("kept_text"))
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM documents WHERE text IS NOT NULL),
            s AS (SELECT doc_id,
                unnest(list_transform(
                  range(0, CAST(ceil(len(t) / 12.0) AS BIGINT)),
                  i -> struct_pack(pos := i,
                    u := array_to_string(t[i*12+1:i*12+12], ' ')))) AS sp
              FROM w WHERE len(t) >= 1),
            l AS (SELECT doc_id, sp.pos AS pos, sp.u AS u FROM s),
            g AS (SELECT u, min(doc_id) AS kd FROM l
                  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
            k AS (SELECT l.u, g.kd, min(l.pos) AS kp
                  FROM l JOIN g ON l.u = g.u AND l.doc_id = g.kd
                  GROUP BY 1, 2),
            f AS (SELECT l.doc_id, l.pos, l.u,
                    (k.u IS NULL OR (l.doc_id = k.kd AND l.pos = k.kp))
                      AS kept
                  FROM l LEFT JOIN k ON l.u = k.u)
        SELECT doc_id, count(*) AS n_spans,
               CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_removed,
               coalesce(string_agg(CASE WHEN kept THEN u END, ' '
                 ORDER BY pos), '') AS kept_text
        FROM f GROUP BY doc_id ORDER BY doc_id"""))

  /** SemDeDup (clustered): k-means cells bound the pairwise work; the
    * survivor set depends on the learned cells, so this entry is
    * rows-only — q95 pins the exact nCells = 1 configuration to the
    * oracle, and LlmDataSpec proves clustered survivors are a superset
    * of the exact answer.
    *
    * SCALE-DEPENDENT RECALL, by design: nCells grows with the corpus
    * (constant ~250-vector cells), and clustering misses cross-cell
    * near-dups, so the SAME logical query yields different survivor
    * sets at different scales — more cells, fewer removals. That is
    * the SemDeDup trade (recall for bounded pairwise work), not a
    * regression; LlmDataSpec pins removal recall >= 0.7 vs the exact
    * answer under this growth rule TWICE — on a synthetic fixed-seed
    * pair corpus at two sizes, and on the real driver embeddings
    * tables (sf0.001 and sf0.1) with a planted near-dup cluster whose
    * exact removal set is known by construction — so a future gate
    * can tell cell-count drift from real breakage.
    */
  private val q94_semantic_dedup: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
      // cells must GROW with the corpus (constant ~250-vector cell
      // population) or the within-cell pairwise stage is quadratic:
      // the sf1 capture measured 6.3x at 10x data with nCells fixed
      // at 8. The count is parquet-metadata cheap; coarse cells only
      // bound the pairwise work, so the solver stays capped.
      val cells = math.max(8L, e.count() / 250L).toInt
      Similarity.semanticDedup(e, "vec_id", "embedding",
          eps = 0.5, nCells = cells, maxIter = 8)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
    None)

  /** SemDeDup's exact configuration (one cell = all-pairs): a vector
    * survives iff no lower-id vector sits at cosine >= eps — DuckDB
    * recomputes the same rule over all pairs.
    */
  private val q95_semdedup_exact: Q = (
    (s, dir) => Similarity.semanticDedup(
        read(s, dir, "embeddings").where(col("vec_id") < 500),
        "vec_id", "embedding", eps = 0.5, nCells = 1)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id")),
    Some("""SELECT e.vec_id, e.label FROM embeddings e
            WHERE e.vec_id < 500 AND NOT EXISTS (
              SELECT 1 FROM embeddings e2
              WHERE e2.vec_id < e.vec_id AND e2.vec_id < 500
                AND list_cosine_similarity(
                      CAST(e2.embedding AS DOUBLE[]),
                      CAST(e.embedding AS DOUBLE[])) >= 0.5)
            ORDER BY e.vec_id"""))

  /** Embedding-space decontamination: every TRAIN vector scored
    * against the full (bounded, broadcast) EVAL set in one
    * shuffle-free projection; a train doc is contaminated when its
    * best eval cosine reaches the threshold — the paraphrase-robust
    * complement of q73's n-gram containment. DuckDB recomputes the
    * max over the cross product; sims round to 6 decimals AFTER the
    * max (max is order-exact, so only the final value can drift an
    * ulp). Eval = every 25th vector, train = the rest.
    */
  private val q134_semantic_decontaminate: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
      val evalDf = e.where(col("vec_id") % 25 === 0)
      val train = e.where(col("vec_id") % 25 =!= 0)
      Similarity.semanticDecontaminate(train, evalDf,
          "vec_id", "embedding", threshold = 0.4)
        .select(col("vec_id"), round(col("max_eval_sim"), 6)
          .as("max_eval_sim"), col("contaminated"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT t.vec_id,
                   round(max(list_cosine_similarity(
                     CAST(t.embedding AS DOUBLE[]),
                     CAST(e.embedding AS DOUBLE[]))), 6) AS max_eval_sim,
                   max(list_cosine_similarity(
                     CAST(t.embedding AS DOUBLE[]),
                     CAST(e.embedding AS DOUBLE[]))) >= 0.4
                     AS contaminated
            FROM embeddings t
            CROSS JOIN (SELECT * FROM embeddings
                        WHERE vec_id % 25 = 0) e
            WHERE t.vec_id % 25 <> 0
            GROUP BY t.vec_id
            ORDER BY t.vec_id"""))

  /** End-to-end curation composition: near-dup clusters (q69's exact
    * jaccard + label propagation) joined with quality scores (q47's
    * rule mix), keeping each cluster's best-quality member (ties ->
    * lowest id). Quality is rounded to 6 decimals BEFORE the argmax in
    * both engines so ulp drift cannot flip near-ties.
    */
  private val q96_canonical_docs: Q = (
    (s, dir) => {
      val docs = read(s, dir, "documents").where(col("doc_id") < 300)
      val clusters = Dedup.duplicateClusters(
        Dedup.jaccardAllPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.8))
      val qual = TextAnalysis.qualityScore(spread(docs), "text")
        .select(col("doc_id"), round(col("quality"), 6).as("q6"))
      Dedup.canonicalByQuality(clusters, qual, "doc_id",
          "canonical_id", "q6")
        .select(col("canonical_id"), col("keep_doc"), col("n_members"),
          col("best_quality"))
        .orderBy(col("canonical_id"))
    },
    Some("""WITH RECURSIVE n AS (SELECT doc_id,
                 string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' ') AS w
               FROM documents WHERE doc_id < 300),
             sh AS (SELECT doc_id,
                      list_distinct(list_transform(
                        range(1, greatest(len(w) - 1, 1)),
                        i -> array_to_string(w[i:i+2], ' '))) AS sh
                    FROM n),
             p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                   WHERE CAST(len(list_filter(a.sh,
                           x -> list_contains(b.sh, x))) AS DOUBLE)
                         / len(list_distinct(a.sh || b.sh)) >= 0.8),
             e AS (SELECT doc_a AS s, doc_b AS t FROM p
                   UNION SELECT doc_b, doc_a FROM p),
             reach(s, t) AS (
               SELECT s, t FROM e
               UNION
               SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
             cl AS (SELECT s AS doc_id, least(min(t), s) AS canonical_id
                    FROM reach GROUP BY s),
             f AS (SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS nc,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS nw,
                 CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                   w -> lower(w) IN ('the','a','an','and','or','of','to',
                     'in','is','it','that','for','on','with','as')))
                   AS DOUBLE) AS nstop,
                 CAST(nc - length(regexp_replace(text, '[[:punct:]]', '',
                   'g')) AS DOUBLE) AS npunct
               FROM documents WHERE doc_id < 300),
             q AS (SELECT doc_id,
                 round((CASE WHEN nw >= 10 THEN 0.4 ELSE nw * 0.04 END)
                   + (CASE WHEN npunct / nc <= 0.1 THEN 0.3
                      ELSE greatest(0.0, 0.3 - npunct / nc) END)
                   + (CASE WHEN nstop / nw >= 0.1 THEN 0.3
                      ELSE nstop / nw * 3.0 END), 6) AS q6
               FROM f),
             m AS (SELECT cl.canonical_id, cl.doc_id, q.q6
                   FROM cl JOIN q USING (doc_id)),
             g AS (SELECT canonical_id, count(*) AS n_members,
                     max(q6) AS best_quality FROM m GROUP BY 1),
             k AS (SELECT m.canonical_id, min(m.doc_id) AS keep_doc
                   FROM m JOIN g ON m.canonical_id = g.canonical_id
                     AND m.q6 = g.best_quality
                   GROUP BY 1)
        SELECT g.canonical_id, k.keep_doc, g.n_members, g.best_quality
        FROM g JOIN k ON g.canonical_id = k.canonical_id
        ORDER BY g.canonical_id"""))

  /** The SQL surface end-to-end: the engine's native
    * [[graft.functions.CosineSimilarity]] expression registered
    * through the SparkSessionExtensions path
    * ([[graft.GraftExtensions]]), driven from `spark.sql` text —
    * proving a SQL-only user gets the same codegen'd similarity
    * kernel the Column API uses. Oracle = DuckDB's own
    * list_cosine_similarity over the same pairs.
    */
  private val q101_sql_cosine: Q = (
    (s, dir) => {
      graft.GraftExtensions.register(s)
      read(s, dir, "embeddings").where(col("vec_id") < 200)
        .createOrReplaceTempView("emb_sql_v")
      s.sql("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(cosine_similarity(a.embedding, b.embedding), 6)
                   AS similarity
               FROM emb_sql_v a JOIN emb_sql_v b ON a.vec_id < b.vec_id
               WHERE cosine_similarity(a.embedding, b.embedding) >= 0.4
               ORDER BY id_a, id_b""")
    },
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                     CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])), 6) AS similarity
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 200 AND b.vec_id < 200
              AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])) >= 0.4
            ORDER BY id_a, id_b"""))

  /** Temperature-based source mixing at alpha = 0.5 toward a
    * half-corpus budget: per-source keep fractions derive from
    * count^alpha weights, applied as the portable hash filter — the
    * oracle recomputes the same weights, cutoffs (identical
    * operation order, truncation to 1e6 buckets), and filter.
    */
  private val q100_temperature_mix: Q = (
    (s, dir) => {
      val d = read(s, dir, "documents")
      val target = d.count() / 2
      Sampling.mixByTemperature(d, "doc_id", "source",
          alpha = 0.5, targetRows = target, seed = 42L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH c AS (SELECT source, count(*) AS n
                       FROM documents GROUP BY 1),
             w AS (SELECT source, n, power(CAST(n AS DOUBLE), 0.5) AS wp
                   FROM c),
             t AS (SELECT sum(wp) AS tw,
                     (SELECT CAST(count(*) // 2 AS BIGINT)
                      FROM documents) AS target FROM w),
             f AS (SELECT source,
                     CAST(trunc(round(least(1.0, (wp / t.tw) * t.target / n),
                            9) * 1000000) AS BIGINT) AS cut
                   FROM w, t)
        SELECT d.doc_id, d.source
        FROM documents d JOIN f USING (source)
        WHERE ((d.doc_id * 2654435761 + 42) % 1000000007) % 1000000
              < f.cut
        ORDER BY d.doc_id"""))

  /** UniMax budget-capped uniform mixing over the SKEWED lang column
    * (en dominates 218:64 at sf0.01) with a 0.7-corpus budget, so
    * BOTH water-filling regimes exercise: the two smallest languages
    * are fully kept (integer waterline) and the rest sample at the
    * common level. The oracle mirrors the waterline with the same
    * cross-multiplied integer condition in window functions and the
    * identical two-division + round(9) + trunc(1e6) fraction
    * quantization (the q100 contract).
    */
  private val q148_unimax_mix: Q = (
    (s, dir) => {
      val d = read(s, dir, "documents")
      Sampling.mixUniform(d, "doc_id", "lang",
          targetRows = d.count() * 7L / 10L, seed = 42L)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH c AS (SELECT lang, count(*) AS n
                       FROM documents WHERE lang IS NOT NULL
                       GROUP BY 1),
             t AS (SELECT (SELECT count(*) * 7 // 10
                           FROM documents) AS b,
                     (SELECT count(*) FROM c) AS k),
             r AS (SELECT lang, n,
                     row_number() OVER (ORDER BY n, lang) AS i,
                     coalesce(sum(n) OVER (ORDER BY n, lang
                       ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS cumprev
                   FROM c),
             fail AS (SELECT coalesce(
                        (SELECT min(r.i) FROM r, t
                         WHERE r.n * (t.k - r.i + 1) > t.b - r.cumprev),
                        (SELECT k + 1 FROM t)) AS first_fail),
             wl AS (SELECT f.first_fail - 1 AS m,
                      coalesce((SELECT max(cumprev + n) FROM r
                                WHERE i <= f.first_fail - 1), 0) AS cum_m
                    FROM fail f),
             f AS (SELECT r.lang,
                     CASE WHEN r.i <= wl.m THEN CAST(1000000 AS BIGINT)
                          ELSE CAST(trunc(round(least(1.0,
                            (CAST(t.b - wl.cum_m AS DOUBLE)
                              / (t.k - wl.m)) / r.n), 9) * 1000000)
                            AS BIGINT) END AS cut
                   FROM r, t, wl)
            SELECT d.doc_id, d.lang
            FROM documents d JOIN f USING (lang)
            WHERE ((d.doc_id * 2654435761 + 42) % 1000000007) % 1000000
                  < f.cut
            ORDER BY d.doc_id"""))

  /** DoReMi-lite learned mixture weights over the source domains
    * ([[Sampling.doremiWeights]]): excess loss = per-domain average
    * unigram-LM NLL minus bigram-LM NLL (both add-0.5, whole-corpus
    * fit, 1e-4-nat integer grid), then 10 multiplicative-weights
    * steps in scaled integer arithmetic (eta: x1.1 per nat per step).
    * The oracle replays the ENTIRE trajectory — both LM fits, the
    * per-domain integer averages, and all 10 update steps as unrolled
    * CTEs with the identical floor divisions — so w_final and the
    * per-step average w_avg hash-match, not just the loss table.
    */
  /** The q151 oracle's CTE chain (both LM fits, per-domain integer
    * averages, and the 10 unrolled multiplicative-weight steps ending
    * at `t10(domain, excess4, w, acc)`) — shared with q154, which
    * applies the learned weights.
    */
  private val doremiCtes: String = {
      val stepCtes = (1 to 10).map { t =>
        val prev = if (t == 1) "t0" else s"t${t - 1}"
        s"""t$t AS (SELECT domain, excess4,
                 raw * 1000000 // (sum(raw) OVER ()) AS w,
                 acc + raw * 1000000 // (sum(raw) OVER ()) AS acc
               FROM (SELECT domain, excess4, acc,
                       w * (1000000 + 10 * excess4) // 1000000 AS raw
                     FROM $prev))"""
      }.mkString(",\n             ")
      s"""n AS (SELECT source AS domain,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '') AS w
               FROM documents
               WHERE text IS NOT NULL AND source IS NOT NULL),
             n2 AS (SELECT * FROM n WHERE len(w) >= 2),
             u AS (SELECT domain, unnest(w) AS tok FROM n2),
             uc AS (SELECT tok, count(*) AS c FROM u GROUP BY tok),
             sc AS (SELECT CAST(sum(c) AS BIGINT) AS t,
                      count(*) AS v FROM uc),
             ulp AS (SELECT tok, CAST(round(ln((c + 0.5) / (t + 0.5 * v))
                       * 1e4) AS BIGINT) AS lp4 FROM uc, sc),
             pu AS (SELECT domain, CAST(-sum(lp4) AS BIGINT) AS us,
                      count(*) AS un
                    FROM u JOIN ulp USING (tok) GROUP BY domain),
             bp AS (SELECT domain, unnest(list_transform(range(1, len(w)),
                      i -> w[i] || ' ' || w[i+1])) AS pr FROM n2),
             bg AS (SELECT pr, count(*) AS cb FROM bp GROUP BY pr),
             hg AS (SELECT string_split(pr, ' ')[1] AS w1,
                      CAST(sum(cb) AS BIGINT) AS ch FROM bg GROUP BY 1),
             blp AS (SELECT pr, CAST(round(ln((cb + 0.5) / (ch + 0.5 * v))
                       * 1e4) AS BIGINT) AS lp4
                     FROM bg JOIN hg ON string_split(bg.pr, ' ')[1] = hg.w1,
                       sc),
             pb AS (SELECT domain, CAST(-sum(lp4) AS BIGINT) AS bs,
                      count(*) AS bn
                    FROM bp JOIN blp USING (pr) GROUP BY domain),
             e AS (SELECT pu.domain AS domain,
                     CAST(greatest(0, us // un - bs // bn) AS BIGINT)
                       AS excess4
                   FROM pu JOIN pb USING (domain)),
             kk AS (SELECT count(*) AS k FROM e),
             t0 AS (SELECT domain, excess4,
                      CAST(1000000 // k AS BIGINT) AS w,
                      CAST(0 AS BIGINT) AS acc FROM e, kk),
             $stepCtes"""
  }

  private val q151_doremi_mix: Q = (
    (s, dir) => Sampling.doremiWeights(spread(read(s, dir, "documents")),
        "source", "text", etaNum = 10L, steps = 10, addK = 0.5)
      .orderBy(col("domain")),
    Some(s"""WITH $doremiCtes
            SELECT domain, excess4, CAST(w AS BIGINT) AS w_final,
                   CAST(acc // 10 AS BIGINT) AS w_avg,
                   CAST(acc // 10 AS DOUBLE) / 1000000.0 AS weight
            FROM t10 ORDER BY domain"""))

  /** The learn -> APPLY half of the DoReMi pair: q151's learned
    * per-step-average weights drive [[Sampling.mixByWeights]] toward
    * a half-corpus budget. The oracle chains the ENTIRE q151 CTE
    * trajectory into the q100 fraction quantization (identical
    * operation order: weight = w_avg/1e6, times target, over n,
    * round 9, trunc 1e6) and the portable hash filter — so the final
    * kept set proves the learned weights, the census, and the filter
    * end to end.
    */
  private val q154_doremi_apply: Q = (
    (s, dir) => {
      val d = read(s, dir, "documents")
      val learned = Sampling.doremiWeights(spread(d), "source", "text",
          etaNum = 10L, steps = 10, addK = 0.5)
        .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
      Sampling.mixByWeights(d, "doc_id", "source", learned,
          targetRows = d.count() / 2)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $doremiCtes,
             cnt AS (SELECT source AS domain, count(*) AS n
                     FROM documents WHERE source IS NOT NULL
                     GROUP BY 1),
             tt AS (SELECT count(*) // 2 AS target FROM documents),
             f AS (SELECT c.domain,
                     CAST(trunc(round(least(1.0,
                       ((CAST(t10.acc // 10 AS DOUBLE) / 1000000.0)
                         * tt.target) / c.n), 9) * 1000000) AS BIGINT)
                       AS cut
                   FROM cnt c JOIN t10 ON c.domain = t10.domain, tt)
            SELECT d.doc_id, d.source
            FROM documents d JOIN f ON d.source = f.domain
            WHERE ((d.doc_id * 2654435761 + 42) % 1000000007) % 1000000
                  < f.cut
            ORDER BY d.doc_id"""))

  /** The FULL multimodal pipeline under the oracle (was rows-only —
    * VERDICT r4 task 4): planted PNG payloads (dims/gray are integer
    * functions of doc_id), typed media_meta carrying a planted
    * n_frames, the per-partition javax.imageio decode, resize
    * clamping, and the frame-sampling plan — every output column is
    * recomputed by DuckDB with integer arithmetic, so the codec, the
    * metadata plumbing, the resize clamp, AND the frame plan all
    * hash-check. (The xxhash-based stub-feature path has no SQL
    * equivalent and is spec-covered instead.)
    */
  private val q52_multimodal: Q = (
    (s, dir) => {
      val planted = Multimodal.plantPng(
          read(s, dir, "documents").select("doc_id"), "doc_id")
        // typed metadata with a PLANTED frame count (images decode to
        // n_frames=1; the plan stage is exercised with video-shaped
        // metadata, deterministic in doc_id)
        .withColumn("media_meta", struct(
          lit("png").as("format"),
          (lit(16) + pmod(col("doc_id"), lit(32))).cast("int").as("width"),
          (lit(16) + pmod(col("doc_id") * 7, lit(29))).cast("int")
            .as("height"),
          (lit(1) + pmod(col("doc_id"), lit(300))).cast("int")
            .as("n_frames"),
          lit(16000).as("sample_rate")))
      Multimodal.decodeBatched(planted, resizeTo = (24, 224))
        .withColumn("frame_plan",
          Multimodal.sampleFrames(col("media_meta.n_frames"), 10, 16))
        .select(col("doc_id"),
          col("decoded_format").as("format"),
          col("decoded_width").cast("long").as("width"),
          col("decoded_height").cast("long").as("height"),
          round(element_at(col("features"), 1), 9).as("decoded_f0"),
          col("resized_width").cast("long").as("resized_width"),
          col("resized_height").cast("long").as("resized_height"),
          size(col("frame_plan")).cast("long").as("n_sampled_frames"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, 'png' AS format,
                   16 + doc_id % 32 AS width,
                   16 + (7 * doc_id) % 29 AS height,
                   round((doc_id % 256) / 255.0, 9) AS decoded_f0,
                   least(24, 16 + doc_id % 32) AS resized_width,
                   least(224, 16 + (7 * doc_id) % 29) AS resized_height,
                   least(16, (doc_id % 300) // 10 + 1) AS n_sampled_frames
            FROM documents ORDER BY doc_id"""))

  /** Real image decode, oracle-checked end-to-end: plant a solid-gray
    * PNG per doc (width/height/gray all exact functions of doc_id),
    * run the per-partition javax.imageio decode, and recover all
    * three — DuckDB predicts them with integer arithmetic, so any
    * codec or plumbing error hash-mismatches.
    */
  private val q82_image_decode: Q = (
    (s, dir) => {
      val planted = Multimodal.plantPng(
        read(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.decodeBatched(
          Multimodal.withMediaMeta(planted, "payload"), featureDim = 4)
        .select(col("doc_id"),
          col("decoded_format").as("format"),
          col("decoded_width").cast("long").as("width"),
          col("decoded_height").cast("long").as("height"),
          round(element_at(col("features"), 1) * 255.0, 6)
            .as("mean_gray"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, 'png' AS format,
                   16 + doc_id % 32 AS width,
                   16 + (7 * doc_id) % 29 AS height,
                   round(CAST(doc_id % 256 AS DOUBLE), 6) AS mean_gray
            FROM documents ORDER BY doc_id"""))

  /** Deterministic stratified sampling by portable id hash: per-class
    * keep fractions, bit-identical in any engine (Sampling.bucket is
    * plain integer arithmetic).
    */
  private val q70_hash_sample: Q = (
    (s, dir) => Sampling.stratifiedSample(read(s, dir, "orders"),
        "o_orderkey", col("o_orderpriority"),
        Map("1-URGENT" -> 0.5, "3-MEDIUM" -> 0.1), seed = 42L)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey, o_orderpriority
            FROM orders
            WHERE ((o_orderkey * 2654435761 + 42) % 1000000007)
                    % 1000000
                  < CASE o_orderpriority
                      WHEN '1-URGENT' THEN 500000
                      WHEN '3-MEDIUM' THEN 100000
                      ELSE -1 END
            ORDER BY o_orderkey"""))

  /** Efraimidis-Spirakis WEIGHTED sample WITHOUT replacement
    * ([[graft.llmdata.Sampling.weightedSampleNoReplacement]]):
    * top-50 documents by the deterministic key ln(u)/n_chars —
    * longer documents proportionally likelier, no draw-and-remove
    * loop, one TakeOrdered pass; the selected set replays exactly.
    *
    * The hashed projection is the selected MEMBERSHIP
    * `(doc_id, n_chars)` only — the key itself is a transcendental
    * double (`ln(u)/w`) whose 6th-decimal rounding can flip on a
    * last-ulp `ln` difference between engines (observed against the
    * driver's DuckDB in round 10), while the top-50 selection
    * boundary has ~5e-6 of slack at sf0.01 and is robust. Per the
    * [[graft.ops.Graph]] aaScale standard: never hash an
    * un-quantized transcendental.
    */
  private val q294_es_sample: Q = (
    (s, dir) => Sampling.weightedSampleNoReplacement(
        read(s, dir, "documents")
          .where(col("n_chars") > 0),
        "doc_id", col("n_chars"), k = 50)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, n_chars
            FROM (SELECT doc_id, n_chars,
                ln((((doc_id * 2654435761 + 42) % 1000000007)
                  % 1000000 + 1) / 1000000.0)
                  / CAST(n_chars AS DOUBLE) AS es_key
              FROM documents WHERE n_chars > 0
              ORDER BY es_key DESC, doc_id LIMIT 50)
            ORDER BY doc_id"""))

  /** DETERMINISTIC NEGATIVE SAMPLING ([[graft.llmdata.Sampling
    * .negativeSamples]]): 4 contrastive negatives per anchor from
    * the per-slot portable hash into the dense id space, anchor and
    * positive excluded — the reproducible pair table contrastive
    * embedding training needs; pure integer arithmetic, k-fold
    * expansion in the scan projection.
    */
  private val q295_negatives: Q = (
    (s, dir) => {
      val d = read(s, dir, "documents").select(col("doc_id"))
      val n1 = d.agg((max(col("doc_id")) + lit(1L)).as("nn"))
      val withPos = d.crossJoin(broadcast(n1))
        .select(col("doc_id"),
          pmod(col("doc_id") + 1, col("nn")).as("pos"))
      Sampling.negativeSamples(withPos, "doc_id", col("pos"), k = 4)
        .orderBy(col("anchor"), col("slot"))
    },
    Some("""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
             base AS (SELECT doc_id AS anchor,
                 (doc_id + 1) % n AS positive, n
               FROM documents, nn),
             ex AS (SELECT anchor, positive, s AS slot,
                 (anchor * 2654435761 + (97 + s * 1000003)) % n
                   AS negative
               FROM base CROSS JOIN (SELECT s
                 FROM range(1, 5) t(s)))
        SELECT anchor, positive, CAST(slot AS INTEGER) AS slot,
               negative
        FROM ex
        WHERE negative <> anchor AND negative <> positive
        ORDER BY anchor, slot"""))

  /** EXACT-count stratified sample ([[graft.llmdata.Sampling
    * .exactStratifiedSample]]): exactly ceil(3/10 · n) documents
    * per language — rank-based membership where the Bernoulli
    * filter (q70) only hits the fraction in expectation; the pure
    * integer keep test (rn-1)·10 < 3·n replays anywhere.
    */
  private val q296_exact_strata: Q = (
    (s, dir) => Sampling.exactStratifiedSample(
        read(s, dir, "documents").where(col("lang").isNotNull),
        "doc_id", col("lang"), num = 3L, den = 10L)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id")),
    Some("""WITH r AS (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang ORDER BY
                   ((doc_id * 2654435761 + 42) % 1000000007)
                     % 1000000, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS ns
               FROM documents WHERE lang IS NOT NULL)
        SELECT doc_id, lang FROM r
        WHERE (rn - 1) * 10 < 3 * ns
        ORDER BY doc_id"""))

  /** IPF RAKING ([[graft.llmdata.Sampling.ipfWeights]]): calibrate a
    * 30% hash sample of customers so its weighted margins match the
    * FULL population on both market segment and nation at once —
    * three rounds of integer-ppm proportional fitting, every
    * half-step floor(w·target·10⁶/Σw) in pure int64 (the oracle
    * unrolls all six half-steps as CTEs). Output is the margin
    * audit: per level of each dimension, the population target and
    * the achieved weighted count in ppm.
    */
  private val q284_ipf_raking: Q = (
    (s, dir) => {
      val c = read(s, dir, "customer")
      val samp = Sampling.hashSample(c, "c_custkey", 0.3)
        .select(col("c_custkey").as("id"),
          col("c_mktsegment").as("a"),
          col("c_nationkey").cast("long").as("b"))
      val ta = c.groupBy(col("c_mktsegment").as("a"))
        .agg(count(lit(1)).as("t"))
      val tb = c.groupBy(col("c_nationkey").cast("long").as("b"))
        .agg(count(lit(1)).as("t"))
      val w = Sampling.ipfWeights(samp, "a", "b", ta, tb, rounds = 3)
      val ma = w.groupBy(col("a"))
        .agg(sum(col("w_ppm")).as("achieved_ppm"))
        .join(broadcast(ta), Seq("a"))
        .select(lit("seg").as("dim"), col("a").cast("string")
          .as("level"), col("t").as("target_n"), col("achieved_ppm"))
      val mb = w.groupBy(col("b"))
        .agg(sum(col("w_ppm")).as("achieved_ppm"))
        .join(broadcast(tb), Seq("b"))
        .select(lit("nation").as("dim"), col("b").cast("string")
          .as("level"), col("t").as("target_n"), col("achieved_ppm"))
      ma.unionByName(mb).orderBy(col("dim"), col("level"))
    },
    Some("""WITH samp AS (SELECT c_custkey AS id,
                 c_mktsegment AS a, CAST(c_nationkey AS BIGINT) AS b
               FROM customer
               WHERE ((c_custkey * 2654435761 + 42) % 1000000007)
                 % 1000000 < 300000),
             ta AS (SELECT c_mktsegment AS a,
                 CAST(count(*) AS BIGINT) AS t
               FROM customer GROUP BY 1),
             tb AS (SELECT CAST(c_nationkey AS BIGINT) AS b,
                 CAST(count(*) AS BIGINT) AS t
               FROM customer GROUP BY 1),
             w0 AS (SELECT id, a, b, CAST(1000000 AS BIGINT) AS w
               FROM samp),
             w1 AS (SELECT id, a, b, CAST(w * t * 1000000 //
                 (sum(w) OVER (PARTITION BY a)) AS BIGINT) AS w
               FROM w0 JOIN ta USING (a)),
             w2 AS (SELECT id, a, b, CAST(w * t * 1000000 //
                 (sum(w) OVER (PARTITION BY b)) AS BIGINT) AS w
               FROM w1 JOIN tb USING (b)),
             w3 AS (SELECT id, a, b, CAST(w * t * 1000000 //
                 (sum(w) OVER (PARTITION BY a)) AS BIGINT) AS w
               FROM w2 JOIN ta USING (a)),
             w4 AS (SELECT id, a, b, CAST(w * t * 1000000 //
                 (sum(w) OVER (PARTITION BY b)) AS BIGINT) AS w
               FROM w3 JOIN tb USING (b)),
             w5 AS (SELECT id, a, b, CAST(w * t * 1000000 //
                 (sum(w) OVER (PARTITION BY a)) AS BIGINT) AS w
               FROM w4 JOIN ta USING (a)),
             w6 AS (SELECT id, a, b, CAST(w * t * 1000000 //
                 (sum(w) OVER (PARTITION BY b)) AS BIGINT) AS w
               FROM w5 JOIN tb USING (b)),
             maa AS (SELECT a, CAST(sum(w) AS BIGINT) AS achieved
               FROM w6 GROUP BY 1),
             mbb AS (SELECT b, CAST(sum(w) AS BIGINT) AS achieved
               FROM w6 GROUP BY 1)
        SELECT 'seg' AS dim, CAST(a AS VARCHAR) AS level,
               t AS target_n, achieved AS achieved_ppm
        FROM maa JOIN ta USING (a)
        UNION ALL
        SELECT 'nation', CAST(b AS VARCHAR), t, achieved
        FROM mbb JOIN tb USING (b)
        ORDER BY dim, level"""))

  /** Importance sampling by a per-row keep probability (quality-
    * weighted corpus thinning): keep probability rises with the
    * document's quality proxy; membership is the same portable
    * id-hash filter as q70, so DuckDB reproduces the kept set
    * bit-for-bit.
    */
  private val q111_weighted_sample: Q = (
    (s, dir) => {
      val d = read(s, dir, "documents").where(col("text").isNotNull)
      Sampling.weightedSample(d, "doc_id",
          least(lit(1.0), length(col("text")).cast("double") / 800.0),
          seed = 11L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source
            FROM documents
            WHERE text IS NOT NULL
              AND ((doc_id * 2654435761 + 11) % 1000000007) % 1000000
                  < CAST(floor(least(1.0,
                      CAST(length(text) AS DOUBLE) / 800.0)
                      * 1000000) AS BIGINT)
            ORDER BY doc_id"""))

  /** Group-keyed split (leakage-safe by construction): every document
    * of one SOURCE takes the same split, so near-duplicates within a
    * source can never straddle the train/test boundary. The string
    * key routes through the portable char-code polynomial, so DuckDB
    * reproduces the assignment bit-for-bit; the oracle also recomputes
    * the one-split-per-source invariant the operator guarantees.
    */
  private val q113_group_split: Q = (
    (s, dir) => Sampling.assignSplitBy(read(s, dir, "documents"),
        col("source"), Seq("train" -> 0.8, "test" -> 0.2), seed = 5L)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("split")),
    Some("""WITH b AS (SELECT source,
                 ((list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(source, ''),
                       c -> CAST(ascii(c) AS BIGINT))),
                     (a, x) -> (a * 31 + x) % 1000000007)
                   * 2654435761 + 5) % 1000000007) % 1000000 AS bk,
                 doc_id
               FROM documents)
            SELECT source,
                   CASE WHEN bk < 800000 THEN 'train' ELSE 'test' END
                     AS split,
                   count(*) AS n
            FROM b GROUP BY 1, 2 ORDER BY source, split"""))

  /** DSIR importance weights (Xie et al. 2023): score every document
    * by the log-likelihood ratio of its hashed-bigram profile under a
    * target-corpus model (here: the English subset) vs the full-corpus
    * model. The per-bucket log-ratio scales to an exact integer
    * (round(lambda*1e4) — the quantum dwarfs cross-engine libm ln()
    * drift by nine orders) before the per-doc sum, so the result is
    * order-free and DuckDB recomputes it bit-for-bit.
    */
  private val q119_dsir_weights: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      // predicate-subset target -> the one-scan conditional census
      // (dsirLogWeightsWithin); identical integers to the two-frame
      // form, spec-pinned
      Sampling.dsirLogWeightsWithin(d, col("lang") === "en",
          "doc_id", "text", nBuckets = 4096, addK = 0.5)
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT doc_id, lang,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             f AS (SELECT doc_id, lang,
                 unnest(list_transform(range(1, len(w)), i ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split_regex(
                       w[i] || ' ' || w[i+1], ''),
                       c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 1000000007) % 4096)) AS bkt
               FROM n WHERE len(w) >= 2),
             tc AS (SELECT bkt, count(*) AS ct FROM f
                    WHERE lang = 'en' GROUP BY bkt),
             sc AS (SELECT bkt, count(*) AS cs FROM f GROUP BY bkt),
             tt AS (SELECT count(*) AS t FROM f WHERE lang = 'en'),
             st AS (SELECT count(*) AS t FROM f),
             lam AS (SELECT sc.bkt AS bkt,
                 CAST(round(ln(
                   ((coalesce(tc.ct, 0) + 0.5) / (tt.t + 2048.0)) /
                   ((sc.cs + 0.5) / (st.t + 2048.0))) * 1e4) AS BIGINT)
                   AS lam4
               FROM sc LEFT JOIN tc USING (bkt), tt, st)
            SELECT f.doc_id AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   sum(lam4) / 1e4 AS dsir_logw
            FROM f JOIN lam USING (bkt)
            GROUP BY f.doc_id ORDER BY doc_id"""))

  /** DSIR fit/score split (the ingest-time twin of q119, streaming-
    * capable — the spec drives the same dsirScore through
    * micro-batches): fit the lambda table once on the full corpus
    * (full-outer counts, so target-only buckets keep their ratios),
    * then score a DIFFERENT frame — a corpus slice plus an all-novel
    * planted doc — through the pre-fitted model. Unseen buckets take
    * the model's constant log-ratio; DuckDB recomputes table,
    * constant, and integer sums exactly.
    */
  private val q120_dsir_score: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      // one-scan fit: the target is a predicate subset of the corpus
      val m = Sampling.dsirFitWithin(d, col("lang") === "en",
        "text", nBuckets = 4096, addK = 0.5)
      val novel = s.range(1).select(lit(1000001L).as("doc_id"),
        lit("qqq www zzz").as("text"))
      val scored = d.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text")).unionByName(novel)
      Sampling.dsirScore(scored, m, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT doc_id, lang,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             f AS (SELECT doc_id, lang,
                 unnest(list_transform(range(1, len(w)), i ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split_regex(
                       w[i] || ' ' || w[i+1], ''),
                       c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 1000000007) % 4096)) AS bkt
               FROM n WHERE len(w) >= 2),
             tc AS (SELECT bkt, count(*) AS ct FROM f
                    WHERE lang = 'en' GROUP BY bkt),
             sc AS (SELECT bkt, count(*) AS cs FROM f GROUP BY bkt),
             tt AS (SELECT count(*) AS t FROM f WHERE lang = 'en'),
             st AS (SELECT count(*) AS t FROM f),
             lam AS (SELECT coalesce(sc.bkt, tc.bkt) AS bkt,
                 CAST(round(ln(
                   ((coalesce(tc.ct, 0) + 0.5) / (tt.t + 2048.0)) /
                   ((coalesce(sc.cs, 0) + 0.5) / (st.t + 2048.0)))
                   * 1e4) AS BIGINT) AS lam4
               FROM sc FULL OUTER JOIN tc ON sc.bkt = tc.bkt, tt, st),
             uns AS (SELECT CAST(round(ln(
                   (0.5 / (tt.t + 2048.0)) / (0.5 / (st.t + 2048.0)))
                   * 1e4) AS BIGINT) AS u FROM tt, st),
             sd AS (SELECT doc_id, text FROM documents
                    WHERE doc_id % 7 = 0
                    UNION ALL SELECT 1000001, 'qqq www zzz'),
             sn AS (SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '') AS w
               FROM sd WHERE text IS NOT NULL),
             sfeat AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(w)), i ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split_regex(
                       w[i] || ' ' || w[i+1], ''),
                       c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 1000000007) % 4096)) AS bkt
               FROM sn WHERE len(w) >= 2)
            SELECT sfeat.doc_id AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   sum(coalesce(lam.lam4, uns.u)) / 1e4 AS dsir_logw
            FROM sfeat LEFT JOIN lam ON sfeat.bkt = lam.bkt, uns
            GROUP BY sfeat.doc_id ORDER BY doc_id"""))

  /** Deterministic train/valid/test assignment (0.8/0.1/0.1) with
    * per-split counts — the reproducible-split contract of a training
    * pipeline.
    */
  private val q71_split_assign: Q = (
    (s, dir) => Sampling.assignSplit(spread(read(s, dir, "documents")),
        "doc_id", Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
        seed = 7L)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"),
        QH.davg(length(col("text"))).as("avg_len"))
      .orderBy(col("split")),
    Some(s"""SELECT CASE
                      WHEN b < 800000 THEN 'train'
                      WHEN b < 900000 THEN 'valid'
                      ELSE 'test' END AS split,
                    count(*) AS n,
                    ${QH.sqlDavg("length(text)")} AS avg_len
             FROM (SELECT text,
                     ((doc_id * 2654435761 + 7) % 1000000007) % 1000000
                       AS b
                   FROM documents)
             GROUP BY 1 ORDER BY split"""))

  /** Context-window packing: contiguous token-budget pack assignment
    * over doc order via exact bucketed prefix sums, plus per-pack fill
    * stats — oracled by the same window arithmetic in DuckDB.
    */
  private val q72_seq_packing: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      val packed = llmdata.Packing.packBySequence(d, "doc_id",
        TextAnalysis.tokenCountWs(col("text")), capacity = 2000)
      llmdata.Packing.packStats(packed, capacity = 2000)
        .select(col("pack_id"), col("n_docs"), col("pack_tokens"),
          round(col("fill_ratio"), 6).as("fill_ratio"))
        .orderBy(col("pack_id"))
    },
    Some("""WITH t AS (SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\s+'))
                   AS BIGINT) AS n_tokens
               FROM documents),
             p AS (SELECT doc_id, n_tokens,
                 CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id)
                             - n_tokens) / 2000.0) AS BIGINT) AS pack_id
               FROM t)
            SELECT pack_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
                   round(sum(n_tokens) / 2000.0, 6) AS fill_ratio
            FROM p GROUP BY pack_id ORDER BY pack_id"""))

  /** Exact-substring dedup (Lee et al. 2022, relational form): every
    * maximal cross-document repeated passage of >= 8 tokens, found by
    * a SLIDING window census + per-doc gaps-and-islands merge — the
    * grid-free sibling of q93. Pure position arithmetic, recomputed
    * verbatim by DuckDB.
    */
  private val q110_repeated_substrings: Q = (
    (s, dir) => Dedup.repeatedSubstringSpans(
        spread(read(s, dir, "documents")), "doc_id", "text",
        l = 8, minDocs = 2)
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("span_tokens").cast("long").as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start")),
    Some("""WITH w AS (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS t
               FROM documents WHERE text IS NOT NULL),
             s AS (SELECT doc_id,
                 unnest(list_transform(range(0, len(t) - 8 + 1),
                   i -> struct_pack(pos := i,
                     w := array_to_string(t[i+1:i+8], ' ')))) AS u
               FROM w WHERE len(t) >= 8),
             p AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM s),
             d AS (SELECT w FROM p GROUP BY w
                   HAVING count(DISTINCT doc_id) >= 2),
             m AS (SELECT p.doc_id, p.pos,
                     p.pos - row_number() OVER (PARTITION BY p.doc_id
                       ORDER BY p.pos) AS island
                   FROM p JOIN d USING (w))
        SELECT doc_id, min(pos) AS span_start,
               max(pos) + 7 AS span_end,
               max(pos) - min(pos) + 8 AS span_tokens
        FROM m GROUP BY doc_id, island
        ORDER BY doc_id, span_start"""))

  /** Content-defined chunking + chunk-level dedup census: boundaries
    * are a pure function of token content (portable char-code
    * polynomial hash, expected chunk = 16 tokens), so an edit only
    * re-cuts its neighborhood. Every step — the hash fold, the
    * boundary rule, the prefix-sum chunk ids, the md5, the census —
    * is recomputed verbatim by DuckDB.
    */
  /** WINNOWING similarity report ([[TextAnalysis.winnowSimilarity]],
    * Schleimer et al. 2003 — the MOSS algorithm): per-document
    * fingerprints selected as the rightmost-min k-gram hash of every
    * w-window (guaranteed to catch any shared passage of >= w+k-1
    * cleaned chars), then doc pairs sharing >= 12 fingerprints. The
    * k-gram hash is the portable (a*31+c) mod 1e9+7 fold rolled in
    * O(1) per position; selection is one bounded window per doc; the
    * pair stage strips fingerprints present in > 10% of docs (the
    * MOSS common-code filter, integer cross-multiplied threshold)
    * and census-guards the rest.
    * DuckDB replays hash, selection rule and pair counts verbatim.
    */
  private val q259_winnow: Q = (
    (s, dir) => {
      val out = TextAnalysis.winnowSimilarity(
          spread(read(s, dir, "documents")), "doc_id", "text",
          k = 8, w = 8, minShared = 12L, maxDocPermille = 100)
        .orderBy(col("doc_a"), col("doc_b")).cache()
      out.count()
      graft.Caches.release()
      out
    },
    Some("""WITH cs AS (SELECT doc_id,
                 regexp_replace(lower(text), '[^a-z0-9]', '', 'g')
                   AS s
               FROM documents WHERE text IS NOT NULL),
             hs AS (SELECT doc_id, len(s) - 7 AS nk,
                 unnest(list_transform(range(0, len(s) - 7),
                   i -> struct_pack(p := i, h := list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                         string_split(substr(s, i + 1, 8), ''),
                         c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 1000000007)))) AS u
               FROM cs WHERE len(s) >= 8),
             ph AS (SELECT doc_id, nk, u.p AS p, u.h AS h FROM hs),
             wins AS (SELECT doc_id, p, h,
                 unnest(range(greatest(p, least(8, nk) - 1),
                   least(p + 8, nk))) AS e
               FROM ph),
             sel AS (SELECT DISTINCT doc_id, h FROM (
                 SELECT doc_id, e, h, row_number() OVER (
                   PARTITION BY doc_id, e
                   ORDER BY h ASC, p DESC) AS rn
                 FROM wins) r WHERE rn = 1),
             nd AS (SELECT count(DISTINCT doc_id) AS n FROM sel),
             kept AS (SELECT h FROM sel, nd GROUP BY h, n
               HAVING count(*) * 1000 <= 100 * n),
             sk AS (SELECT sel.doc_id, sel.h
               FROM sel JOIN kept USING (h)),
             pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS n_shared
               FROM sk a JOIN sk b
                 ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2 HAVING count(*) >= 12)
        SELECT doc_a, doc_b, n_shared FROM pr
        ORDER BY doc_a, doc_b"""))

  /** ZIPF-LAW fit of the corpus vocabulary — [[graft.functions.Stats
    * .theilSen]] composed over the frequency census: top-1000 types
    * by (count desc, token), x = floor(1e6 ln rank),
    * y = floor(1e6 ln count) (quantized logs — integer multisets),
    * robust slope by median-of-pairwise-slopes. Healthy natural
    * text sits near slope -1e6 (Zipf's -1); template-heavy or
    * deduplicated-to-death corpora bend it — a one-row corpus
    * health gauge. The oracle replays census, ranks, logs and both
    * medians.
    */
  private val q271_zipf: Q = (
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val tc = spread(read(s, dir, "documents"))
        .where(col("text").isNotNull)
        .select(explode(Dedup.normalizeTokens(col("text")))
          .as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val top = tc.orderBy(col("c").desc, col("tok")).limit(1000)
        .withColumn("rnk", row_number().over(
          W.partitionBy(pmod(col("c"), lit(1)))
            .orderBy(col("c").desc, col("tok"))))
      // pinnedConst, not lit: a foldable series label would leave
      // theilSen's internal windows with an EMPTY partition spec
      // (the r12 "No Partition Defined" burst — 66 warnings, all
      // from this entry); the windows are bounded either way
      // (<= 1000 census points -> <= 499.5k pairs), but the plan
      // should SAY the single partition is deliberate
      val xy = top.select(
        graft.ops.ScanOps.pinnedConst("corpus", col("tok"))
          .as("series"),
        floor(lit(1e6) * log(col("rnk").cast("double")))
          .cast("long").as("xq"),
        floor(lit(1e6) * log(col("c").cast("double")))
          .cast("long").as("yq"))
      graft.functions.Stats.theilSen(xy, "series", "xq", "yq")
        .orderBy(col("series"))
    },
    Some("""WITH tk AS (SELECT unnest(list_filter(string_split(
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 x -> x <> '')) AS tok
               FROM documents WHERE text IS NOT NULL),
             tc AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
             tp AS (SELECT tok, c, row_number() OVER (
                 ORDER BY c DESC, tok) AS rnk
               FROM tc QUALIFY rnk <= 1000),
             p AS (SELECT 'corpus' AS series,
                 CAST(floor(1000000.0 * ln(CAST(rnk AS DOUBLE)))
                   AS BIGINT) AS x,
                 CAST(floor(1000000.0 * ln(CAST(c AS DOUBLE)))
                   AS BIGINT) AS y
               FROM tp),
             sl AS (SELECT a.series,
                 CAST(floor(1000000.0 * (b.y - a.y) / (b.x - a.x))
                   AS BIGINT) AS sq
               FROM p a JOIN p b
                 ON a.series = b.series AND a.x < b.x),
             m AS (SELECT series, quantile_disc(sq, 0.5) AS slope_q
               FROM sl GROUP BY 1),
             r AS (SELECT p.series, slope_q,
                 p.y * 1000000 - slope_q * p.x AS rr
               FROM p JOIN m USING (series)),
             ic AS (SELECT series, quantile_disc(rr, 0.5)
                 AS intercept_q FROM r GROUP BY 1),
             np AS (SELECT series, count(*) AS n_points
               FROM p GROUP BY 1)
        SELECT series, n_points, slope_q, intercept_q
        FROM np JOIN m USING (series) JOIN ic USING (series)
        ORDER BY series"""))

  /** RAKE keyword extraction ([[TextAnalysis.rakeKeywords]], Rose
    * 2010): stopword-delimited candidate phrases, deg/freq word
    * scores quantized by integer division, phrase scores as
    * order-free long sums, top-3 per document — the unsupervised
    * keyword baseline. Everything per-document windows + grouped
    * aggregates; DuckDB replays tokenization, islands, scores and
    * the cut verbatim.
    */
  private val q269_rake: Q = (
    (s, dir) => TextAnalysis.rakeKeywords(
        spread(read(s, dir, "documents")), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("phrase")),
    Some("""WITH tl AS (SELECT doc_id, list_filter(string_split(
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 x -> x <> '') AS t
               FROM documents WHERE text IS NOT NULL),
             toks AS (SELECT doc_id, u.p AS pos, u.t AS tok,
                 CASE WHEN u.t IN ('the','a','an','of','to','and',
                   'in','is','for','on','with','as','by','at','from',
                   'that','this','it','are','was','be','or','we',
                   'you','has') THEN 1 ELSE 0 END AS stop
               FROM (SELECT doc_id, unnest(list_transform(
                   range(1, len(t) + 1),
                   i -> struct_pack(p := i - 1, t := t[i]))) AS u
                 FROM tl) y),
             ph AS (SELECT doc_id, pos, tok, stop,
                 CAST(sum(stop) OVER (PARTITION BY doc_id
                   ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS phid
               FROM toks),
             pw AS (SELECT doc_id, pos, tok, phid FROM ph
               WHERE stop = 0),
             phr AS (SELECT doc_id, phid, count(*) AS plen,
                 string_agg(tok, ' ' ORDER BY pos) AS phrase
               FROM pw GROUP BY 1, 2),
             ws AS (SELECT pw.doc_id, tok, count(*) AS freq,
                 CAST(sum(plen) AS BIGINT) AS deg
               FROM pw JOIN phr USING (doc_id, phid) GROUP BY 1, 2),
             wq AS (SELECT doc_id, tok, deg * 1000000 // freq AS wq
               FROM ws),
             sc AS (SELECT pw.doc_id, pw.phid,
                 CAST(sum(wq) AS BIGINT) AS score_q
               FROM pw JOIN wq USING (doc_id, tok) GROUP BY 1, 2),
             fin AS (SELECT DISTINCT sc.doc_id, phrase, score_q,
                 CAST(plen AS BIGINT) AS n_words
               FROM sc JOIN phr USING (doc_id, phid)),
             tp AS (SELECT doc_id, phrase, score_q, n_words,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score_q DESC, phrase) AS rn
               FROM fin)
        SELECT doc_id, phrase, score_q, n_words FROM tp
        WHERE rn <= 3 ORDER BY doc_id, phrase"""))

  /** EXACT set-similarity join by prefix filtering
    * ([[Dedup.setSimJoin]], PPJoin family): every document pair with
    * token-set Jaccard >= 9/10, found via rarity-ordered prefix
    * tokens + length filter + exact verification — LOSSLESS, so the
    * oracle is plain brute force over the same bounded subset (the
    * property that separates this from MinHash: the result is the
    * exact threshold set, not an estimate). Keep decision is the
    * cross-multiplied integer inequality; no float ever gates a row.
    * Subset bounded to 1000 docs like q248's sites: exact-threshold
    * output is pair-density-shaped by contract; the blocking is what
    * scales.
    */
  private val q267_setsim_join: Q = (
    (s, dir) => Dedup.setSimJoin(
        spread(read(s, dir, "documents")).where(col("doc_id") <= 1000),
        "doc_id", "text", num = 9L, den = 10L)
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH t AS (SELECT doc_id, list_distinct(list_filter(
                 string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), x -> x <> '')) AS ts
               FROM documents
               WHERE text IS NOT NULL AND doc_id <= 1000),
             tt AS (SELECT doc_id, ts, len(ts) AS n FROM t
               WHERE len(ts) >= 1)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
                 AS n_inter,
               CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
               round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                 / CAST(a.n + b.n - len(list_intersect(a.ts, b.ts))
                     AS DOUBLE), 6) AS jaccard
        FROM tt a JOIN tt b ON a.doc_id < b.doc_id
          AND 10 * a.n >= 9 * b.n AND 10 * b.n >= 9 * a.n
        WHERE 10 * len(list_intersect(a.ts, b.ts))
              >= 9 * (a.n + b.n - len(list_intersect(a.ts, b.ts)))
        ORDER BY id_a, id_b"""))

  /** CONTAINMENT JOIN ([[graft.llmdata.Dedup.containmentJoin]]) on
    * a snippet-planted corpus: every doc under 300 gets a 12-word
    * opening snippet planted as a sibling record — contained by
    * construction — and the one-sided prefix filter recovers every
    * directed containment at 19/20 EXACTLY (the oracle IS brute
    * force over the bounded subset, the q267 convention).
    */
  private val q298_containment: Q = (
    (s, dir) => {
      val basedocs = spread(read(s, dir, "documents"))
        .where(col("doc_id") <= 300 && col("text").isNotNull)
      val snip = basedocs.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(filter(split(col("text"), " "),
          x => x =!= ""), 1, 12), " ").as("text"))
      val all = basedocs.select(col("doc_id"), col("text"))
        .unionByName(snip)
      Dedup.containmentJoin(all, "doc_id", "text", num = 19L,
          den = 20L, minTokens = 8)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH src AS (
               SELECT doc_id, text FROM documents
               WHERE text IS NOT NULL AND doc_id <= 300
               UNION ALL
               SELECT doc_id + 1000000,
                 array_to_string(list_filter(string_split(text, ' '),
                   x -> x <> '')[1:12], ' ')
               FROM documents
               WHERE text IS NOT NULL AND doc_id <= 300),
             t AS (SELECT doc_id, list_distinct(list_filter(
                 string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), x -> x <> '')) AS ts
               FROM src),
             tt AS (SELECT doc_id, ts, len(ts) AS n FROM t
               WHERE len(ts) >= 8)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
                 AS n_inter,
               CAST(a.n AS BIGINT) AS n_a,
               CAST(b.n AS BIGINT) AS n_b,
               round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                 / CAST(a.n AS DOUBLE), 6) AS containment
        FROM tt a JOIN tt b ON a.doc_id <> b.doc_id
          AND 20 * b.n >= 19 * a.n
        WHERE 20 * len(list_intersect(a.ts, b.ts)) >= 19 * a.n
        ORDER BY id_a, id_b"""))

  private val q112_cdc_chunks: Q = (
    (s, dir) => Dedup.chunkByContent(
        spread(read(s, dir, "documents")), "doc_id", "text",
        modulus = 16)
      .select(col("doc_id"), col("chunk_id"),
        col("chunk_start").cast("long").as("chunk_start"),
        col("n_tokens"), col("chunk_md5"), col("n_docs"))
      .orderBy(col("doc_id"), col("chunk_id")),
    Some("""WITH w AS (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS t
               FROM documents WHERE text IS NOT NULL),
             toks AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
                 SELECT doc_id, unnest(list_transform(
                     range(1, len(t) + 1),
                     i -> struct_pack(pos := i - 1, tok := t[i]))) AS u
                 FROM w) s),
             h AS (SELECT doc_id, pos, tok,
                 CASE WHEN list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(tok, ''),
                         c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 1000000007) % 16 = 0
                   THEN 1 ELSE 0 END AS b
               FROM toks),
             c AS (SELECT doc_id, pos, tok,
                 CAST(COALESCE(sum(b) OVER (PARTITION BY doc_id
                   ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS chunk_id
               FROM h),
             chunks AS (SELECT doc_id, chunk_id,
                 min(pos) AS chunk_start, count(*) AS n_tokens,
                 md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
               FROM c GROUP BY 1, 2),
             census AS (SELECT chunk_md5,
                 count(DISTINCT doc_id) AS n_docs
               FROM chunks GROUP BY 1)
        SELECT doc_id, chunk_id, chunk_start, n_tokens,
               chunks.chunk_md5, n_docs
        FROM chunks JOIN census USING (chunk_md5)
        ORDER BY doc_id, chunk_id"""))

  /** Train-vs-eval decontamination (exact verification form on a
    * bounded range): cross-corpus shingle Jaccard above threshold —
    * the report-a-benchmark hygiene check. The LSH-banded scale path
    * (Dedup.crossContamination) is spec-verified against this.
    */
  private val q73_decontaminate: Q = (
    (s, dir) => {
      val d = read(s, dir, "documents")
      Dedup.crossJaccardPairs(
          d.where(col("doc_id") < 150),
          d.where(col("doc_id") >= 150 && col("doc_id") < 300),
          "doc_id", "text", shingleN = 3, threshold = 0.5)
        .select(col("train_id"), col("eval_id"),
          round(col("score"), 6).as("jaccard"))
        .orderBy(col("train_id"), col("eval_id"))
    },
    Some("""WITH n AS (SELECT doc_id,
                 string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' ') AS w
               FROM documents WHERE doc_id < 300),
             sh AS (SELECT doc_id,
                      list_distinct(list_transform(
                        range(1, greatest(len(w) - 1, 1)),
                        i -> array_to_string(w[i:i+2], ' '))) AS sh
                    FROM n)
            SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
                   round(CAST(len(list_filter(a.sh,
                       x -> list_contains(b.sh, x))) AS DOUBLE)
                     / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
            FROM sh a JOIN sh b
              ON a.doc_id < 150 AND b.doc_id >= 150
            WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x)))
                    AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.5
            ORDER BY train_id, eval_id"""))

  /** Per-domain document cap: build a deterministic URL from the
    * source column IN-QUERY (both engines see identical strings),
    * extract the host with the portable anchored regexp, keep at
    * most 15 docs per domain by the portable id hash — the
    * Common-Crawl guard against one site dominating the corpus.
    */
  private val q121_domain_cap: Q = (
    (s, dir) => {
      val d = read(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/docs/"), col("doc_id")))
        .withColumn("domain", Sampling.urlHost(col("url")))
      Sampling.domainCap(d, col("domain"), "doc_id", cap = 15)
        .select(col("doc_id"), col("domain"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH u AS (SELECT doc_id,
                 regexp_extract('https://' || source ||
                     '.example.com/docs/' || doc_id,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS domain
               FROM documents),
             r AS (SELECT doc_id, domain,
                 row_number() OVER (PARTITION BY domain
                   ORDER BY ((doc_id * 2654435761 + 42) % 1000000007)
                     % 1000000, doc_id) AS rn
               FROM u)
            SELECT doc_id, domain FROM r WHERE rn <= 15
            ORDER BY doc_id"""))

  /** EXACT heavy hitters (count > n/(k+1), k = 30) over the token
    * stream via distributed Misra-Gries: per-partition k-counter
    * summaries (no shuffle) bound the candidate set, an exact second
    * pass counts only candidates — the shuffle carries <= k x
    * partitions keys instead of the vocabulary. The output is exact,
    * so DuckDB recomputes it as a plain HAVING over the full census.
    */
  private val q122_heavy_hitters: Q = (
    (s, dir) => {
      val toks = spread(read(s, dir, "documents"))
        .where(col("text").isNotNull)
        .select(explode(Dedup.normalizeTokens(col("text"))).as("token"))
      Sketches.heavyHitters(toks, "token", k = 30)
        .orderBy(col("token"))
    },
    Some("""WITH n AS (SELECT list_filter(string_split(trim(
                 regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             f AS (SELECT unnest(w) AS token FROM n),
             t AS (SELECT count(*) AS n FROM f)
            SELECT token, count(*) AS cnt FROM f, t
            GROUP BY token, t.n HAVING count(*) * 31 > t.n
            ORDER BY token"""))

  /** Per-source EXACT distinct-token counts with the HLL sketch
    * riding the same aggregate as an in-plan audit gate (raise if the
    * estimate drifts > 15% from exact): at test scale the gate
    * certifies the sketch; at 100 TB the certified sketch runs alone.
    */
  private val q123_distinct_audit: Q = (
    (s, dir) => {
      val toks = spread(read(s, dir, "documents"))
        .where(col("text").isNotNull)
        .select(col("source"),
          explode(Dedup.normalizeTokens(col("text"))).as("token"))
      Sketches.distinctAudit(toks, "source", "token", maxRelErr = 0.15)
        .orderBy(col("source"))
    },
    Some("""WITH n AS (SELECT source, list_filter(string_split(trim(
                 regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             f AS (SELECT source, unnest(w) AS token FROM n)
            SELECT source, count(DISTINCT token) AS n_distinct
            FROM f GROUP BY source ORDER BY source"""))

  /** Bloom-prefiltered ingest dedup, EXACT: docs with id >= 300 are
    * the incoming batch, docs with id < 400 the seen corpus (the
    * [300,400) overlap plants guaranteed hits). The Bloom filter
    * short-circuits definitely-novel rows at the scan; only the
    * maybe-set pays the exact anti-join, which removes the false
    * positives — so the result EQUALS the plain anti-join DuckDB
    * runs.
    */
  private val q124_bloom_dedup: Q = (
    (s, dir) => {
      val fp = read(s, dir, "documents")
        .select(col("doc_id"),
          md5(Dedup.normalize(col("text"))).as("fingerprint"))
      val seen = fp.where(col("doc_id") < 400)
      val incoming = fp.where(col("doc_id") >= 300)
      Sketches.bloomNovel(seen, incoming, "fingerprint",
          expectedSeen = 400, fpp = 0.01)
        .select(col("doc_id"), col("fingerprint"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g'))) AS fingerprint
               FROM documents)
            SELECT doc_id, fingerprint FROM fp i
            WHERE doc_id >= 300 AND NOT EXISTS (
              SELECT 1 FROM fp s
              WHERE s.doc_id < 400 AND s.fingerprint = i.fingerprint)
            ORDER BY doc_id"""))

  /** Diversity sampling: k-means cells over the embeddings, at most
    * 30 survivors per cell by portable id hash. Rows-only (the kept
    * set depends on the learned cells — the q94 pattern); the
    * nCells = 1 degenerate configuration is pinned to independently
    * computed expected ids by LlmDataSpec.
    */
  private val q125_cluster_sample: Q = (
    (s, dir) => Similarity.clusterSample(read(s, dir, "embeddings"),
        "vec_id", "embedding", nCells = 8, perCell = 30, maxIter = 8)
      .orderBy(col("vec_id")),
    None)

  /** The q125 family's ORACLE TWIN ([[Similarity.clusterSampleBy]]):
    * the same per-cell window-cap machinery over PLANTED deterministic
    * cells (vec_id mod 4 — no k-means, no learned state), so DuckDB
    * replays the multi-cell capping semantics exactly: per cell, keep
    * the `perCell` lowest (portable-hash, id) vectors. This pins the
    * cap stage q125 shares; the learned-cell half stays rows-only by
    * nature and is spec-pinned (nCells=1 degenerate + superset).
    */
  private val q153_cluster_sample_exact: Q = (
    (s, dir) => {
      val e = read(s, dir, "embeddings")
      Similarity.clusterSampleBy(e, "vec_id", pmod(col("vec_id"), lit(4)),
          perCell = 30)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH r AS (SELECT vec_id, vec_id % 4 AS cell,
                 row_number() OVER (PARTITION BY vec_id % 4
                   ORDER BY ((vec_id * 2654435761 + 42) % 1000000007)
                     % 1000000, vec_id) AS rn
               FROM embeddings)
            SELECT vec_id, CAST(cell AS BIGINT) AS cell
            FROM r WHERE rn <= 30 ORDER BY vec_id"""))

  /** Per-source data card: volume, token-length distribution, and
    * exact-dup rate in one grouped aggregate over one corpus scan —
    * every metric exact and recomputed by DuckDB.
    */
  private val q131_corpus_report: Q = (
    (s, dir) => TextAnalysis.corpusReport(
        spread(read(s, dir, "documents")), "source", "text")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("mean_tokens"), col("min_tokens"), col("max_tokens"),
        col("n_unique"), col("dup_rate"))
      .orderBy(col("source")),
    Some("""WITH n AS (SELECT source,
                 len(list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '')) AS nt,
                 md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
               FROM documents WHERE text IS NOT NULL)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(CAST(nt AS BIGINT)) AS BIGINT) AS n_tokens,
                   round(CAST(sum(CAST(nt AS BIGINT)) AS DOUBLE)
                     / count(*), 6) AS mean_tokens,
                   min(nt) AS min_tokens, max(nt) AS max_tokens,
                   count(DISTINCT fp) AS n_unique,
                   round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE)
                     / count(*), 6) AS dup_rate
            FROM n GROUP BY source ORDER BY source"""))

  /** Per-group EXACT quantiles with the GK approximate-percentile
    * sketch riding the same pass under a rank-contract audit gate
    * (the only guarantee GK makes): estimate rank within 5% of
    * target or the plan raises. The output is exact, so DuckDB
    * recomputes it with quantile_cont.
    */
  private val q130_quantile_audit: Q = (
    (s, dir) => Sketches.quantileAudit(read(s, dir, "lineitem"),
        "l_returnflag", "l_extendedprice",
        probs = Seq(0.25, 0.5, 0.75), rankTol = 0.05)
      .orderBy(col("l_returnflag"), col("p")),
    Some("""WITH q AS (SELECT l_returnflag,
                 quantile_cont(l_extendedprice, 0.25) AS q25,
                 quantile_cont(l_extendedprice, 0.50) AS q50,
                 quantile_cont(l_extendedprice, 0.75) AS q75
               FROM lineitem GROUP BY 1)
            SELECT l_returnflag, CAST(0.25 AS DOUBLE) AS p,
                   round(q25, 4) AS q FROM q
            UNION ALL SELECT l_returnflag, CAST(0.5 AS DOUBLE),
                   round(q50, 4) FROM q
            UNION ALL SELECT l_returnflag, CAST(0.75 AS DOUBLE),
                   round(q75, 4) FROM q
            ORDER BY l_returnflag, p"""))

  /** Unigram-LM tokenizer FIT (Kudo 2018 / SentencePiece): seed
    * substring census, hard-EM rounds over the word-type table,
    * prune to the vocabulary budget. Rows-only by nature (iterative
    * Viterbi counts are not a SQL query) but deterministic end to
    * end; UnigramSpec pins the lattice against hand-computed
    * segmentations and the fit against required-piece properties,
    * and q137 oracle-checks the serving path exactly.
    */
  private val q135_unigram_fit: Q = (
    (s, dir) => {
      val (_, table) = Unigram.fit(
        spread(read(s, dir, "documents")), "text",
        vocabSize = 120, maxPieceLen = 5, seedSize = 4096, nIters = 3)
      table.orderBy(col("rank"))
    },
    None)

  /** Unigram-LM SERVING: per-doc piece counts (fertility) against a
    * model fitted in-query — Viterbi dictionary-join encode. The
    * in-plan guard raises if any document decodes to fewer pieces
    * than words (a segmentation can never fuse across token
    * boundaries, so n_pieces >= n_words always; a violation means
    * the lattice or the dictionary join broke).
    */
  private val q136_unigram_encode: Q = (
    (s, dir) => {
      val docs = spread(read(s, dir, "documents"))
      val (model, _) = Unigram.fit(docs, "text",
        vocabSize = 120, maxPieceLen = 5, seedSize = 4096, nIters = 3)
      Unigram.encodeCounts(docs, "doc_id", "text", model)
        .withColumn("n_pieces",
          when(col("n_pieces") < col("n_words"),
            raise_error(concat(lit("q136: doc "), col("doc_id"),
              lit(" decoded to fewer pieces than words")))
              .cast("long"))
            .otherwise(col("n_pieces")))
        .orderBy(col("doc_id"))
    },
    None)

  /** The unigram serving plumbing under the ORACLE via the
    * degenerate-exact configuration (the q84/q85 pattern):
    * vocabSize = 1 keeps only single characters, so Viterbi is
    * forced to segment every token into its chars and n_pieces is
    * exactly the non-space character count of the normalized text —
    * which DuckDB recomputes directly. Pins the census, the
    * dictionary join, and the aggregation; q136 is the learned-vocab
    * production shape of the same path.
    */
  private val q137_unigram_chars: Q = (
    (s, dir) => {
      val docs = spread(read(s, dir, "documents"))
      val (model, _) = Unigram.fit(docs, "text",
        vocabSize = 1, maxPieceLen = 3, seedSize = 256, nIters = 1)
      Unigram.encodeCounts(docs, "doc_id", "text", model)
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL)
            SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(w, t -> len(t)))
                     AS BIGINT) AS n_pieces
            FROM n WHERE len(w) >= 1 ORDER BY doc_id"""))

  /** Unigram-LM FULL-EM fit (forward-backward expected counts over
    * ALL segmentations, completing the Kudo 2018 surface next to
    * q135's hard-EM): audit table of the fitted vocabulary. Rows-only
    * by nature (iterative lattice posteriors are not a SQL query);
    * UnigramSpec pins the E-step against a hand-computed two-path
    * lattice posterior and determinism across runs, and q141
    * oracle-checks the identical code path exactly in the
    * single-path degenerate configuration.
    */
  private val q140_unigram_em: Q = (
    (s, dir) => {
      val (_, table) = Unigram.fitEM(
        spread(read(s, dir, "documents")), "text",
        vocabSize = 120, maxPieceLen = 5, seedSize = 4096, nIters = 3)
      table.select(col("rank"), col("piece"),
        round(col("count"), 6).as("count"),
        round(col("logp"), 6).as("logp"))
        .orderBy(col("rank"))
    },
    None)

  /** Full-EM under the ORACLE via the single-path degenerate config:
    * with vocabSize = 1 and maxPieceLen = 1 the lattice has exactly
    * one segmentation per type, so the forward-backward posterior
    * mass of every char piece is its EXACT corpus occurrence count —
    * which DuckDB recomputes as a plain char census. round() before
    * the long cast absorbs the alpha+beta-vs-alpha(n) ulp (FP
    * addition orders differ between the two sweeps; the mass is
    * c*(1 +/- 1e-15), never enough to move a round but enough to
    * break a truncating cast).
    */
  private val q141_unigram_em_chars: Q = (
    (s, dir) => {
      val (_, table) = Unigram.fitEM(
        spread(read(s, dir, "documents")), "text",
        vocabSize = 1, maxPieceLen = 1, seedSize = 16, nIters = 2)
      // rank re-derived from the ROUNDED counts: the audit table's
      // own rank sorts raw doubles, where a last-ulp difference
      // between two true-tie chars could invert the piece-asc
      // tiebreak vs the oracle's exact integers. Deliberately
      // single-partition (<= alphabet rows) with the house pinned
      // key so the intent is explicit in the plan
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.ops.ScanOps.pinnedZero(length(col("piece"))))
        .orderBy(desc("count"), asc("piece"))
      table.select(col("piece"),
        round(col("count")).cast("long").as("count"))
        .withColumn("rank", (row_number().over(w) - 1).cast("int"))
        .select(col("rank"), col("piece"), col("count"))
        .orderBy(col("rank"))
    },
    Some("""WITH n AS (SELECT list_filter(string_split(trim(
                 regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             t AS (SELECT unnest(w) AS tok FROM n),
             ch AS (SELECT unnest(string_split_regex(tok, ''))
                      AS piece
                    FROM t WHERE tok <> ''),
             g AS (SELECT piece, count(*) AS cnt FROM ch
                   WHERE piece <> '' GROUP BY piece)
            SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece)
                     - 1 AS INT) AS rank,
                   piece, CAST(cnt AS BIGINT) AS count
            FROM g ORDER BY rank"""))

  /** SUBWORD-REGULARIZATION serving (Kudo 2018 §3): every token
    * occurrence draws its own segmentation from P(seg)^alpha — the
    * training-time augmentation, deliberately NOT dictionary-joined
    * (the same word must vary across occurrences). Per-occurrence
    * seeds are xxhash64(doc, position, seed) computed in the plan, so
    * the draw is deterministic under any partitioning. Rows-only;
    * the in-plan guard pins n_pieces >= n_words, and q143 is the
    * oracle-checked degenerate twin of the same path.
    */
  private val q142_unigram_sample: Q = (
    (s, dir) => {
      val docs = spread(read(s, dir, "documents"))
      val (model, _) = Unigram.fit(docs, "text",
        vocabSize = 120, maxPieceLen = 5, seedSize = 4096, nIters = 3)
      Unigram.sampleCounts(docs, "doc_id", "text", model,
          alpha = 0.5, seed = 42L)
        .withColumn("n_pieces",
          when(col("n_pieces") < col("n_words"),
            raise_error(concat(lit("q142: doc "), col("doc_id"),
              lit(" sampled fewer pieces than words")))
              .cast("long"))
            .otherwise(col("n_pieces")))
        .orderBy(col("doc_id"))
    },
    None)

  /** Sampled serving under the ORACLE: char-only vocabulary => the
    * lattice has exactly one path, so the sampler MUST return it
    * regardless of the draws and n_pieces is exactly the non-space
    * char count (the q137 oracle applied to the sampling path —
    * pins the forward pass, the backward draw, and the aggregation).
    */
  private val q143_unigram_sample_chars: Q = (
    (s, dir) => {
      val docs = spread(read(s, dir, "documents"))
      val (model, _) = Unigram.fit(docs, "text",
        vocabSize = 1, maxPieceLen = 3, seedSize = 256, nIters = 1)
      Unigram.sampleCounts(docs, "doc_id", "text", model,
          alpha = 0.5, seed = 7L)
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL)
            SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(w, t -> len(t)))
                     AS BIGINT) AS n_pieces
            FROM n WHERE len(w) >= 1 ORDER BY doc_id"""))

  /** Round-1 BPE pair census, top 20 by (count desc, pair asc) — the
    * oracle-checkable stage of tokenizer learning ([[Bpe.fit]]'s
    * argmax input, exact integer counts over a total order). Computed
    * off the word-type table so the pair explosion is
    * vocabulary-sized, not corpus-sized.
    */
  private val q126_bpe_pairs: Q = (
    (s, dir) => Bpe.pairStats(
        spread(read(s, dir, "documents")), "text")
      .orderBy(desc("pair_count"), asc("sym_l"), asc("sym_r"))
      .limit(20),
    Some("""WITH n AS (SELECT list_filter(string_split(trim(
                 regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             t AS (SELECT unnest(w) AS tok FROM n),
             c AS (SELECT string_split_regex(tok, '') AS ch FROM t
                   WHERE len(tok) >= 2),
             p AS (SELECT unnest(list_transform(range(1, len(ch)),
                 i -> [ch[i], ch[i+1]])) AS pr FROM c)
            SELECT pr[1] AS sym_l, pr[2] AS sym_r,
                   count(*) AS pair_count
            FROM p GROUP BY 1, 2
            ORDER BY pair_count DESC, sym_l, sym_r LIMIT 20"""))

  /** BPE tokenizer FIT: 16 learned merges over the corpus (word-type
    * census once, then O(nMerges) vocabulary-sized rounds). Rows-only
    * by nature (the iterative argmax is not a SQL query) but fully
    * deterministic — the round-1 census is the oracled q126 twin, and
    * BpeSpec pins the whole merge list against an independent
    * single-node reference implementation.
    */
  private val q127_bpe_fit: Q = (
    (s, dir) => {
      val (_, table) = Bpe.fit(
        spread(read(s, dir, "documents")), "text", nMerges = 16)
      table.orderBy(col("rank"))
    },
    None)

  /** BPE SERVING: per-doc subword counts (fertility audit) against a
    * model fitted in-query — dictionary-join encode (distinct tokens
    * encoded once, broadcast back to the occurrence stream). The
    * in-plan guard raises unless every document satisfies
    * n_words <= n_bpe (merges can never produce fewer symbols than
    * words, and a violation means the encoder or the dictionary join
    * broke).
    */
  private val q128_bpe_encode: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      val (model, _) = Bpe.fit(d, "text", nMerges = 16)
      Bpe.encodeCounts(d, "doc_id", "text", model)
        .withColumn("n_bpe",
          when(col("n_bpe") < col("n_words"),
            raise_error(concat(lit("q128_bpe_encode: doc "),
              col("doc_id"), lit(" has n_bpe < n_words — encoder "),
              lit("or dictionary join broke"))).cast("long"))
            .otherwise(col("n_bpe")))
        .orderBy(col("doc_id"))
    },
    None)

  /** STREAMING-SAFE BPE fertility (batch form under the driver's eye,
    * the q104 pattern): one stateless scalar UDF per document row —
    * no explode, no aggregate, no state store — so the same plan runs
    * on a stream in APPEND mode (BpeSpec pins stream == batch through
    * a MemoryStream, and fertility == the q128 dictionary-join
    * serving path). Rows-only; q126 is the family's oracled twin.
    */
  private val q132_bpe_fertility: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      val (model, _) = Bpe.fit(d, "text", nMerges = 16)
      Bpe.fertility(d, "doc_id", "text", model)
        .orderBy(col("doc_id"))
    },
    None)

  /** BPE-DROPOUT serving (Provilkov et al. 2020, completing the
    * regularized-tokenization pair with q142's unigram sampling):
    * per-occurrence seeded encodes against the fitted merge table at
    * p = 0.1. Rows-only (solver-fitted merges); the in-plan guard
    * pins n_words <= n_bpe, and q150 oracle-checks the identical
    * path at p = 1.
    */
  private val q149_bpe_dropout: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      val (model, _) = Bpe.fit(d, "text", nMerges = 16)
      Bpe.dropoutCounts(d, "doc_id", "text", model, p = 0.1,
          seed = 42L)
        .withColumn("n_bpe",
          when(col("n_bpe") < col("n_words"),
            raise_error(concat(lit("q149: doc "), col("doc_id"),
              lit(" dropout-encoded to fewer pieces than words")))
              .cast("long"))
            .otherwise(col("n_bpe")))
        .orderBy(col("doc_id"))
    },
    None)

  /** BPE-dropout under the ORACLE: p = 1 drops every merge, so the
    * encoder must emit pure characters regardless of the fitted
    * merge table, and n_bpe is exactly the non-space char count of
    * the normalized text — DuckDB recomputes it directly (the q137
    * trick applied to the dropout path; pins the pass loop, the
    * draw wiring, and the per-occurrence aggregation).
    */
  private val q150_bpe_dropout_chars: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      val (model, _) = Bpe.fit(d, "text", nMerges = 16)
      Bpe.dropoutCounts(d, "doc_id", "text", model, p = 1.0,
          seed = 7L)
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL)
            SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(w, t -> len(t)))
                     AS BIGINT) AS n_bpe
            FROM n WHERE len(w) >= 1 ORDER BY doc_id"""))

  /** Vocabulary-coverage audit: per-doc OOV counts against the
    * corpus's own top-1000 token vocabulary (count desc, token asc —
    * a total order both engines compute identically). One pinned
    * tokenize stream feeds the vocab census and the broadcast scoring
    * join.
    */
  private val q129_vocab_coverage: Q = (
    (s, dir) => TextAnalysis.vocabCoverage(
        spread(read(s, dir, "documents")), "doc_id", "text",
        vocabSize = 1000)
      .orderBy(col("doc_id")),
    Some("""WITH n AS (SELECT doc_id, list_filter(string_split(trim(
                 regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             f AS (SELECT doc_id, unnest(w) AS tok FROM n),
             v AS (SELECT tok FROM f GROUP BY tok
                   ORDER BY count(*) DESC, tok LIMIT 1000),
             j AS (SELECT f.doc_id, v.tok AS hit
                   FROM f LEFT JOIN v ON f.tok = v.tok)
            SELECT doc_id, count(*) AS n_tokens,
                   count(CASE WHEN hit IS NULL THEN 1 END) AS n_oov,
                   round(CAST(count(CASE WHEN hit IS NULL THEN 1 END)
                       AS DOUBLE) / count(*), 6) AS oov_rate
            FROM j GROUP BY doc_id ORDER BY doc_id"""))

  /** Round-1 WordPiece statistics — the oracle-checkable stage of the
    * likelihood-scored fit ([[WordPiece.fit]]'s argmax input): every
    * adjacent pair of the `##`-convention symbol split with its
    * weighted pair count AND both unit counts, the exact ingredients
    * of score = pair/(unit_l*unit_r). Integer-only output over a
    * total (sym_l, sym_r) order — the score itself never appears, so
    * no floating-point division can diverge between engines.
    */
  private val q156_wordpiece_scores: Q = (
    (s, dir) => WordPiece.pairScores(
        spread(read(s, dir, "documents")), "text")
      .orderBy(col("sym_l"), col("sym_r")),
    Some("""WITH n AS (SELECT list_filter(string_split(trim(
                 regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             t AS (SELECT unnest(w) AS tok FROM n),
             sy AS (SELECT list_transform(range(1, len(tok) + 1),
                 i -> CASE WHEN i = 1 THEN tok[i]
                      ELSE '##' || tok[i] END) AS s
                    FROM t),
             u AS (SELECT unnest(s) AS sym FROM sy),
             uc AS (SELECT sym, count(*) AS ucnt FROM u GROUP BY sym),
             p AS (SELECT unnest(list_transform(range(1, len(s)),
                 i -> [s[i], s[i+1]])) AS pr
                   FROM sy WHERE len(s) >= 2),
             pc AS (SELECT pr[1] AS sym_l, pr[2] AS sym_r,
                      count(*) AS pair_count
                    FROM p GROUP BY 1, 2)
            SELECT pc.sym_l, pc.sym_r, pc.pair_count,
                   l.ucnt AS cnt_l, r.ucnt AS cnt_r
            FROM pc JOIN uc l ON pc.sym_l = l.sym
                    JOIN uc r ON pc.sym_r = r.sym
            ORDER BY pc.sym_l, pc.sym_r"""))

  /** WordPiece serving under the ORACLE: nMerges = 0 leaves the pure
    * alphabet vocabulary, so longest-match MUST emit one piece per
    * character and zero UNKs (the model's alphabet covers its own
    * corpus by construction) — n_wp is exactly the non-space char
    * count DuckDB recomputes directly (the q137/q150 degenerate
    * trick applied to maximal munch: pins the match loop, the `##`
    * continuation wiring, and the dictionary-join aggregation).
    */
  private val q157_wordpiece_chars: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      val (model, _) = WordPiece.fit(d, "text", nMerges = 0)
      WordPiece.encodeCounts(d, "doc_id", "text", model)
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL)
            SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(w, t -> len(t)))
                     AS BIGINT) AS n_wp,
                   CAST(0 AS BIGINT) AS n_unk
            FROM n WHERE len(w) >= 1 ORDER BY doc_id"""))

  /** WordPiece FIT: 16 likelihood-scored merges (Schuster & Nakajima
    * 2012) — the third tokenizer-learning family next to BPE (q127)
    * and unigram-LM (q135/q140). Rows-only by nature (the iterative
    * argmax is not a SQL query) but fully deterministic: scores
    * compare by exact integer cross-multiplication, q156 oracles the
    * round-1 census, and WordPieceSpec pins the whole merge list
    * against an independent reference implementation.
    */
  private val q158_wordpiece_fit: Q = (
    (s, dir) => {
      val (_, table) = WordPiece.fit(
        spread(read(s, dir, "documents")), "text", nMerges = 16)
      table.orderBy(col("rank"))
    },
    None)

  /** WordPiece SERVING against an in-query fitted model: per-doc
    * piece counts + UNK audit via the dictionary-join longest-match
    * encode. In-plan guards: fertility can never drop below one piece
    * per word, and a model fitted on this corpus can never UNK it
    * (its alphabet covers every character) — either violation
    * raises. Rows-only; q156/q157 are the family's oracled twins.
    */
  private val q159_wordpiece_encode: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      val (model, _) = WordPiece.fit(d, "text", nMerges = 16)
      WordPiece.encodeCounts(d, "doc_id", "text", model)
        .withColumn("n_wp",
          when(col("n_wp") < col("n_words"),
            raise_error(concat(lit("q159: doc "), col("doc_id"),
              lit(" has n_wp < n_words — longest-match broke"))))
            .otherwise(col("n_wp")))
        .withColumn("n_unk",
          when(col("n_unk") > 0,
            raise_error(concat(lit("q159: doc "), col("doc_id"),
              lit(" UNKed under its own fitted alphabet"))))
            .otherwise(col("n_unk")))
        .orderBy(col("doc_id"))
    },
    None)

  /** TOKEN-ID EMISSION under the ORACLE, through a full persistence
    * round trip: fit (nMerges = 0, the alphabet model) -> save ->
    * load -> [[WordPiece.encodeIds]]. With the alphabet vocabulary
    * every piece is one character, and ids follow the sorted-vocab
    * contract — so DuckDB rebuilds the id table with row_number over
    * the sorted distinct symbols (+ [UNK]) and replays every
    * (doc, word_pos, piece_pos, token_id) row bit-for-bit. Pins the
    * longest-match loop, the ## convention, the dictionary join, the
    * positional explode, AND the save/load round trip in one entry.
    */
  private val q160_wordpiece_ids: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      val (model0, _) = WordPiece.fit(d, "text", nMerges = 0)
      val path = System.getProperty("java.io.tmpdir") +
        "/graft_q160_wp_model"
      WordPiece.save(s, model0, path)
      val model = WordPiece.load(s, path)
      WordPiece.encodeIds(d, "doc_id", "text", model)
        .select(col("doc_id"), col("word_pos").cast("long"),
          col("piece_pos").cast("long"), col("token_id").cast("long"))
        .orderBy(col("doc_id"), col("word_pos"), col("piece_pos"))
    },
    Some("""WITH n AS (SELECT doc_id, list_filter(string_split(trim(
                 regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             t AS (SELECT doc_id, unnest(list_transform(
                 range(1, len(w) + 1),
                 i -> {'wp': i - 1, 'tok': w[i]})) AS s
               FROM n WHERE len(w) >= 1),
             p AS (SELECT doc_id, s.wp AS word_pos,
                 unnest(list_transform(range(1, len(s.tok) + 1),
                   i -> {'pp': i - 1,
                         'sym': CASE WHEN i = 1 THEN s.tok[i]
                                ELSE '##' || s.tok[i] END})) AS q
               FROM t),
             syms AS (SELECT DISTINCT q.sym AS token FROM p
                      UNION SELECT '[UNK]' AS token),
             vocab AS (SELECT token,
                 row_number() OVER (ORDER BY token) - 1 AS token_id
               FROM syms)
            SELECT p.doc_id, p.word_pos, p.q.pp AS piece_pos,
                   v.token_id
            FROM p JOIN vocab v ON p.q.sym = v.token
            ORDER BY p.doc_id, p.word_pos, piece_pos"""))

  /** Character-entropy quality signal on the 1e-4-nat integer grid
    * (the q119 DSIR construction applied to Shannon entropy): each
    * distinct char's ln(n_c/N) quantizes BEFORE the weighted sum, so
    * ent4 is an exact integer and DuckDB replays every row — the
    * keyboard-mash / repeated-char garbage detector of the quality
    * family, next to q47's ratios and q63's n-gram repeats.
    */
  private val q161_char_entropy: Q = (
    (s, dir) => TextAnalysis.charEntropy(
        spread(read(s, dir, "documents")), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""WITH n AS (SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
               FROM documents WHERE text IS NOT NULL),
             c AS (SELECT doc_id, unnest(string_split_regex(
                 replace(norm, ' ', ''), '')) AS ch FROM n),
             cc AS (SELECT doc_id, ch, count(*) AS nc
                    FROM c WHERE ch <> '' GROUP BY 1, 2),
             t AS (SELECT doc_id, nc,
                     sum(nc) OVER (PARTITION BY doc_id) AS n FROM cc),
             agg AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
                       CAST(-sum(CAST(round(ln(CAST(nc AS DOUBLE) / n)
                           * 1e4) AS BIGINT) * nc) AS BIGINT) AS ent4
                     FROM t GROUP BY doc_id)
            SELECT doc_id, n_chars, ent4,
                   ent4 / (n_chars * 1e4) AS entropy
            FROM agg ORDER BY doc_id"""))

  /** PACKED TOKEN-ID SEQUENCES under the ORACLE — the end product of
    * the tokenize -> pack pipeline: q160's id emission composed with
    * q72's contiguous packing into (pack_id, seq_pos, doc_id,
    * token_id), every row of the training tensor replayed by DuckDB
    * (id CTEs + one prefix-sum window + pure integer position
    * arithmetic). Documents are atomic within packs; capacity 2000.
    */
  private val q162_packed_ids: Q = (
    (s, dir) => {
      val d = spread(read(s, dir, "documents"))
      val (model, _) = WordPiece.fit(d, "text", nMerges = 0)
      val ids = WordPiece.encodeIds(d, "doc_id", "text", model)
      llmdata.Packing.packTokenIds(ids, "doc_id", capacity = 2000)
        .select(col("pack_id"), col("seq_pos").cast("long"),
          col("doc_id"), col("token_id").cast("long"))
        .orderBy(col("pack_id"), col("seq_pos"))
    },
    Some("""WITH n AS (SELECT doc_id, list_filter(string_split(trim(
                 regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             t AS (SELECT doc_id, unnest(list_transform(
                 range(1, len(w) + 1),
                 i -> {'wp': i - 1, 'tok': w[i]})) AS s
               FROM n WHERE len(w) >= 1),
             p AS (SELECT doc_id, s.wp AS word_pos,
                 unnest(list_transform(range(1, len(s.tok) + 1),
                   i -> {'pp': i - 1,
                         'sym': CASE WHEN i = 1 THEN s.tok[i]
                                ELSE '##' || s.tok[i] END})) AS q
               FROM t),
             syms AS (SELECT DISTINCT q.sym AS token FROM p
                      UNION SELECT '[UNK]' AS token),
             vocab AS (SELECT token,
                 row_number() OVER (ORDER BY token) - 1 AS token_id
               FROM syms),
             idrows AS (SELECT p.doc_id, p.word_pos,
                 p.q.pp AS piece_pos, v.token_id
               FROM p JOIN vocab v ON p.q.sym = v.token),
             perdoc AS (SELECT doc_id, count(*) AS n_tok
                        FROM idrows GROUP BY doc_id),
             cums AS (SELECT doc_id,
                 sum(n_tok) OVER (ORDER BY doc_id) - n_tok AS excl
               FROM perdoc),
             packs AS (SELECT doc_id, excl,
                 CAST(floor(excl / 2000.0) AS BIGINT) AS pack_id
               FROM cums),
             pstart AS (SELECT pack_id, min(excl) AS pstart
                        FROM packs GROUP BY pack_id),
             docpos AS (SELECT pk.doc_id, pk.pack_id,
                 pk.excl - s.pstart AS doff
               FROM packs pk JOIN pstart s USING (pack_id)),
             wd AS (SELECT i.doc_id, i.token_id,
                 row_number() OVER (PARTITION BY i.doc_id
                   ORDER BY i.word_pos, i.piece_pos) - 1 AS within
               FROM idrows i)
            SELECT d.pack_id,
                   CAST(d.doff + w.within AS BIGINT) AS seq_pos,
                   w.doc_id, w.token_id
            FROM wd w JOIN docpos d USING (doc_id)
            ORDER BY pack_id, seq_pos"""))

  /** Benchmark-contamination sweep ([[graft.llmdata.Dedup
    * .benchmarkContamination]]): every 97th document plays the
    * held-out eval set, the rest the training corpus; per-doc
    * 8-gram overlap in exact ppm + the decontamination flag. The
    * n-gram leak check GPT-3/PaLM/Llama-2 style pipelines run
    * before training.
    */
  private val q367_contamination: Q = (
    (s, dir) => {
      val docs = read(s, dir, "documents")
      Dedup.benchmarkContamination(
        corpus = docs.where(col("doc_id") % 97 =!= 0),
        benchmark = docs.where(col("doc_id") % 97 === 0),
        id = "doc_id", text = "text", shingleN = 8,
        flagPpm = 100000L)
        .orderBy(col("doc_id"))
    },
    Some("""WITH tok AS (SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '') AS w
               FROM documents WHERE text IS NOT NULL),
             sh AS (SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(w) - 6, 1)),
                   i -> array_to_string(w[i:i+7], ' '))) AS sh
               FROM tok),
             bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh
               WHERE doc_id % 97 = 0),
             cor AS (SELECT doc_id, unnest(sh) AS g FROM sh
               WHERE doc_id % 97 <> 0),
             hit AS (SELECT c.doc_id, count(*) AS ng,
                 count(b.g) AS nh
               FROM cor c LEFT JOIN bench b ON c.g = b.g
               GROUP BY 1)
        SELECT d.doc_id, coalesce(h.ng, 0) AS n_grams,
               coalesce(h.nh, 0) AS n_hit,
               CASE WHEN coalesce(h.ng, 0) = 0 THEN 0
                 ELSE h.nh * 1000000 // h.ng END AS contam_ppm,
               CAST(CASE WHEN coalesce(h.ng, 0) > 0
                   AND h.nh * 1000000 // h.ng >= 100000
                 THEN 1 ELSE 0 END AS INTEGER) AS flagged
        FROM (SELECT doc_id FROM documents
              WHERE doc_id % 97 <> 0 AND text IS NOT NULL) d
        LEFT JOIN hit h USING (doc_id)
        ORDER BY doc_id"""))

  /** HEAPS'-LAW vocabulary growth ([[TextAnalysis.heapsLaw]]):
    * distinct types in the first n corpus tokens at power-of-two
    * checkpoints, β via the Theil–Sen log-log slope — the
    * vocabulary-side corpus health gauge next to q271's Zipf
    * frequency-side one. Positions from range-bucketed prefix sums;
    * checkpoint membership by exact integer comparison.
    */
  private val q371_heaps: Q = (
    (s, dir) => TextAnalysis.heapsLaw(
      spread(read(s, dir, "documents")), "doc_id", "text",
      minN = 256L),
    Some("""WITH tl AS (SELECT doc_id, list_filter(string_split(
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 x -> x <> '') AS t
               FROM documents WHERE text IS NOT NULL),
             d AS (SELECT doc_id, t FROM tl WHERE len(t) >= 1),
             o AS (SELECT doc_id, t, len(t) AS n,
                 sum(len(t)) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - len(t) AS off
               FROM d),
             toks AS (SELECT off + u.p AS p, u.tok FROM (
                 SELECT off, unnest(list_transform(
                   range(1, len(t) + 1),
                   i -> struct_pack(p := i, tok := t[i]))) AS u
                 FROM o) y),
             firsts AS (SELECT tok, min(p) AS f FROM toks
               GROUP BY 1),
             tot AS (SELECT sum(n) AS tt FROM o),
             cps AS (SELECT (CAST(1 AS BIGINT) << i) AS n_tokens
               FROM range(0, 63) r(i), tot
               WHERE (CAST(1 AS BIGINT) << i) <= tt
                 AND (CAST(1 AS BIGINT) << i) >= 256),
             pts AS (SELECT n_tokens, count(*) AS vocab,
                 CAST(floor(1000000.0 * ln(CAST(n_tokens AS DOUBLE)))
                   AS BIGINT) AS xq,
                 CAST(floor(1000000.0 * ln(CAST(count(*) AS DOUBLE)))
                   AS BIGINT) AS yq
               FROM cps JOIN firsts ON f <= n_tokens GROUP BY 1),
             sl AS (SELECT CAST(floor(1000000.0 * (b.yq - a.yq)
                   / (b.xq - a.xq)) AS BIGINT) AS sq
               FROM pts a JOIN pts b ON a.xq < b.xq),
             m AS (SELECT quantile_disc(sq, 0.5) AS slope_q FROM sl),
             r AS (SELECT pts.yq * 1000000 - slope_q * pts.xq AS rr
               FROM pts, m),
             ic AS (SELECT quantile_disc(rr, 0.5) AS intercept_q
               FROM r)
        SELECT n_tokens, vocab, xq, yq, slope_q, intercept_q
        FROM pts, m, ic ORDER BY n_tokens"""))

  /** GOOD-TURING frequency table ([[TextAnalysis.goodTuring]]) over
    * word TRIGRAMS: N_r, raw r*, and the unseen mass p0 — the
    * coverage gauge next to q371's Heaps growth. The synthetic
    * vocabulary is closed (31 words, min count 26), so the rare
    * tail GT estimates lives in the n-gram space; all integer
    * floor divisions on the ppm lattice, no float anywhere.
    */
  private val q381_good_turing: Q = (
    (s, dir) => TextAnalysis.goodTuring(
      spread(read(s, dir, "documents")), "doc_id", "text",
      maxR = 20L, ngram = 3),
    Some("""WITH tl AS (SELECT list_filter(string_split(
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 x -> x <> '') AS t
               FROM documents WHERE text IS NOT NULL),
             tk AS (SELECT unnest(list_transform(
                 range(1, len(t) - 1),
                 i -> array_to_string(t[i:i+2], ' '))) AS tok
               FROM tl WHERE len(t) >= 3),
             tc AS (SELECT tok, count(*) AS r FROM tk GROUP BY 1),
             ff AS (SELECT r, count(*) AS n_r FROM tc GROUP BY 1),
             tot AS (SELECT
                 CAST(coalesce(sum(r * n_r), 0) AS BIGINT) AS n,
                 CAST(coalesce(sum(n_r), 0) AS BIGINT) AS v,
                 CAST(coalesce(sum(CASE WHEN r = 1 THEN n_r END), 0)
                   AS BIGINT) AS n1
               FROM ff)
        SELECT f.r AS r, f.n_r AS n_r,
               CAST((f.r + 1) * coalesce(g.n_r, 0) * 1000000
                 // f.n_r AS BIGINT) AS rstar_ppm,
               n AS n_tokens, v AS n_types,
               CAST(n1 * 1000000 // n AS BIGINT) AS p0_ppm
        FROM ff f LEFT JOIN ff g ON g.r = f.r + 1 CROSS JOIN tot
        WHERE f.r <= 20 ORDER BY r"""))

  /** STANDARDIZED TYPE-TOKEN RATIO ([[TextAnalysis.sttr]], chunked
    * per-doc lexical diversity): TTR per complete 25-token block,
    * integer mean over blocks — the per-document quality feature
    * next to the corpus-level q381/q371 gauges. All-integer, no
    * global state; docs shorter than one block emit no row.
    */
  private val q382_sttr: Q = (
    (s, dir) => TextAnalysis.sttr(
      spread(read(s, dir, "documents")), "doc_id", "text",
      chunk = 25),
    Some("""WITH tl AS (SELECT doc_id, list_filter(string_split(
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
                 x -> x <> '') AS t
               FROM documents WHERE text IS NOT NULL),
             p AS (SELECT doc_id, (u.p - 1) // 25 AS blk,
                 u.tok AS tok
               FROM (SELECT doc_id, unnest(list_transform(
                   range(1, len(t) + 1),
                   i -> struct_pack(p := i, tok := t[i]))) AS u
                 FROM tl) y),
             b AS (SELECT doc_id, blk, count(*) AS nt,
                 count(DISTINCT tok) AS nd
               FROM p GROUP BY 1, 2),
             g AS (SELECT doc_id, CAST(count(*) AS BIGINT)
                   AS n_blocks,
                 CAST(sum(nd) AS BIGINT) AS sd
               FROM b WHERE nt = 25 GROUP BY 1)
        SELECT doc_id, n_blocks,
               CAST(sd * 1000000 // (n_blocks * 25) AS BIGINT)
                 AS sttr_ppm
        FROM g ORDER BY doc_id"""))

  /** INT8 scalar-quantized ANN serving ([[Similarity.sq8TopK]]):
    * per-dim min/max fit, 8-bit codes, top-10 for the vec_id=0
    * query by the symmetric INTEGER code dot product — the
    * exactness anchor of the quantization family (PQ q114 is
    * rows-only; here DuckDB replays fit, encode, and the all-integer
    * ranking end to end).
    */
  private val q375_sq8_topk: Q = (
    (s, dir) => Similarity.sq8TopK(read(s, dir, "embeddings"),
      "vec_id", "embedding", queryId = 0L, k = 10),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings
               WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
             e AS (SELECT unnest(list_transform(range(1, len(v) + 1),
                 i -> struct_pack(i := i, x := v[i]))) AS u FROM v),
             fit AS (SELECT u.i AS i, min(u.x) AS lo, max(u.x) AS hi
               FROM e GROUP BY 1),
             fl AS (SELECT list(lo ORDER BY i) AS los,
                 list(hi ORDER BY i) AS his FROM fit),
             codes AS (SELECT vec_id, list_transform(
                 range(1, len(v) + 1),
                 i -> CASE WHEN his[i] = los[i] THEN CAST(0 AS BIGINT)
                   ELSE least(greatest(CAST(floor((v[i] - los[i])
                       * 255.0 / (his[i] - los[i]) + 0.5) AS BIGINT),
                     0), 255) END) AS c
               FROM v CROSS JOIN fl),
             q AS (SELECT c AS qc FROM codes WHERE vec_id = 0),
             d AS (SELECT vec_id,
                 list_sum(list_transform(range(1, len(c) + 1),
                   i -> c[i] * qc[i])) AS dot_q
               FROM codes CROSS JOIN q WHERE vec_id <> 0)
        SELECT vec_id, CAST(dot_q AS BIGINT) AS dot_q
        FROM d ORDER BY dot_q DESC, vec_id LIMIT 10"""))

  val all: Map[String, Q] = Map(
    "q381_good_turing" -> q381_good_turing,
    "q382_sttr" -> q382_sttr,
    "q375_sq8_topk" -> q375_sq8_topk,
    "q371_heaps" -> q371_heaps,
    "q367_contamination" -> q367_contamination,
    "q121_domain_cap" -> q121_domain_cap,
    "q122_heavy_hitters" -> q122_heavy_hitters,
    "q123_distinct_audit" -> q123_distinct_audit,
    "q124_bloom_dedup" -> q124_bloom_dedup,
    "q125_cluster_sample" -> q125_cluster_sample,
    "q153_cluster_sample_exact" -> q153_cluster_sample_exact,
    "q126_bpe_pairs" -> q126_bpe_pairs,
    "q127_bpe_fit" -> q127_bpe_fit,
    "q128_bpe_encode" -> q128_bpe_encode,
    "q129_vocab_coverage" -> q129_vocab_coverage,
    "q130_quantile_audit" -> q130_quantile_audit,
    "q131_corpus_report" -> q131_corpus_report,
    "q132_bpe_fertility" -> q132_bpe_fertility,
    "q135_unigram_fit" -> q135_unigram_fit,
    "q136_unigram_encode" -> q136_unigram_encode,
    "q137_unigram_chars" -> q137_unigram_chars,
    "q140_unigram_em" -> q140_unigram_em,
    "q141_unigram_em_chars" -> q141_unigram_em_chars,
    "q142_unigram_sample" -> q142_unigram_sample,
    "q143_unigram_sample_chars" -> q143_unigram_sample_chars,
    "q144_quality_classifier" -> q144_quality_classifier,
    "q145_linear_score" -> q145_linear_score,
    "q146_linear_score_stream" -> q146_linear_score_stream,
    "q147_corpus_pipeline" -> q147_corpus_pipeline,
    "q148_unimax_mix" -> q148_unimax_mix,
    "q151_doremi_mix" -> q151_doremi_mix,
    "q154_doremi_apply" -> q154_doremi_apply,
    "q149_bpe_dropout" -> q149_bpe_dropout,
    "q150_bpe_dropout_chars" -> q150_bpe_dropout_chars,
    "q156_wordpiece_scores" -> q156_wordpiece_scores,
    "q157_wordpiece_chars" -> q157_wordpiece_chars,
    "q158_wordpiece_fit" -> q158_wordpiece_fit,
    "q159_wordpiece_encode" -> q159_wordpiece_encode,
    "q160_wordpiece_ids" -> q160_wordpiece_ids,
    "q161_char_entropy" -> q161_char_entropy,
    "q162_packed_ids" -> q162_packed_ids,
    "q167_bm25" -> q167_bm25,
    "q168_nfc_normalize" -> q168_nfc_normalize,
    "q173_hybrid_rrf" -> q173_hybrid_rrf,
    "q210_reranker_fit" -> q210_reranker_fit,
    "q211_rerank_static" -> q211_rerank_static,
    "q174_curriculum" -> q174_curriculum,
    "q194_count_min" -> q194_count_min,
    "q209_cms_conservative" -> q209_cms_conservative,
    "q212_pmi" -> q212_pmi,
    "q215_inverted_index" -> q215_inverted_index,
    "q353_textrank" -> q353_textrank,
    "q217_int8_quant" -> q217_int8_quant,
    "q231_join_size" -> q231_join_size,
    "q232_image_dhash" -> q232_image_dhash,
    "q233_audio_wav" -> q233_audio_wav,
    "q234_scene_cuts" -> q234_scene_cuts,
    "q201_label_centroids" -> q201_label_centroids,
    "q202_mislabel_candidates" -> q202_mislabel_candidates,
    "q203_nested_subsets" -> q203_nested_subsets,
    "q204_freq_spectrum" -> q204_freq_spectrum,
    "q70_hash_sample" -> q70_hash_sample,
    "q284_ipf_raking" -> q284_ipf_raking,
    "q285_mmr" -> q285_mmr,
    "q293_url_canon" -> q293_url_canon,
    "q319_url_sorted" -> q319_url_sorted,
    "q323_jsd" -> q323_jsd,
    "q325_jsd_matrix" -> q325_jsd_matrix,
    "q326_oov_rate" -> q326_oov_rate,
    "q329_lsh_calibration" -> q329_lsh_calibration,
    "q330_prf_terms" -> q330_prf_terms,
    "q331_prf_search" -> q331_prf_search,
    "q294_es_sample" -> q294_es_sample,
    "q295_negatives" -> q295_negatives,
    "q296_exact_strata" -> q296_exact_strata,
    "q298_containment" -> q298_containment,
    "q111_weighted_sample" -> q111_weighted_sample,
    "q113_group_split" -> q113_group_split,
    "q119_dsir_weights" -> q119_dsir_weights,
    "q120_dsir_score" -> q120_dsir_score,
    "q71_split_assign" -> q71_split_assign,
    "q72_seq_packing" -> q72_seq_packing,
    "q73_decontaminate" -> q73_decontaminate,
    "q40_dedup_exact" -> q40_dedup_exact,
    "q41_jaccard_pairs" -> q41_jaccard_pairs,
    "q69_dup_clusters" -> q69_dup_clusters,
    "q42_dedup_minhash" -> q42_dedup_minhash,
    "q79_minhash_verified" -> q79_minhash_verified,
    "q43_dedup_simhash" -> q43_dedup_simhash,
    "q81_simhash_portable" -> q81_simhash_portable,
    "q44_embed_cosine_pairs" -> q44_embed_cosine_pairs,
    "q45_ann_topk" -> q45_ann_topk,
    "q397_ivf_upsert" -> q397_ivf_upsert,
    "q46_ann_lsh" -> q46_ann_lsh,
    "q85_lsh_exact" -> q85_lsh_exact,
    "q60_ann_ivf" -> q60_ann_ivf,
    "q114_ann_pq" -> q114_ann_pq,
    "q116_ann_ivfpq" -> q116_ann_ivfpq,
    "q84_ivf_batch_exact" -> q84_ivf_batch_exact,
    "q47_text_quality" -> q47_text_quality,
    "q86_lm_perplexity" -> q86_lm_perplexity,
    "q89_quality_filter" -> q89_quality_filter,
    "q90_source_mix" -> q90_source_mix,
    "q91_boilerplate" -> q91_boilerplate,
    "q92_token_budget" -> q92_token_budget,
    "q93_span_dedup" -> q93_span_dedup,
    "q110_repeated_substrings" -> q110_repeated_substrings,
    "q259_winnow" -> q259_winnow,
    "q265_pca" -> q265_pca,
    "q267_setsim_join" -> q267_setsim_join,
    "q269_rake" -> q269_rake,
    "q271_zipf" -> q271_zipf,
    "q266_pca_static" -> q266_pca_static,
    "q112_cdc_chunks" -> q112_cdc_chunks,
    "q94_semantic_dedup" -> q94_semantic_dedup,
    "q95_semdedup_exact" -> q95_semdedup_exact,
    "q134_semantic_decontaminate" -> q134_semantic_decontaminate,
    "q96_canonical_docs" -> q96_canonical_docs,
    "q100_temperature_mix" -> q100_temperature_mix,
    "q101_sql_cosine" -> q101_sql_cosine,
    "q87_chunking" -> q87_chunking,
    "q48_text_langid" -> q48_text_langid,
    "q49_text_tokens" -> q49_text_tokens,
    "q50_fingerprint" -> q50_fingerprint,
    "q51_rolling_hash" -> q51_rolling_hash,
    "q62_text_redact" -> q62_text_redact,
    "q63_text_repetition" -> q63_text_repetition,
    "q76_tfidf_topk" -> q76_tfidf_topk,
    "q115_feature_hash" -> q115_feature_hash,
    "q77_ngram_topk" -> q77_ngram_topk,
    "q52_multimodal" -> q52_multimodal,
    "q82_image_decode" -> q82_image_decode)
}
