"""Deduplication operators over the documents/embeddings corpus.

Five dedup strategies, all shuffle-conscious:

* exact            — md5-fingerprint groupBy (group on 16-byte hash, never
                     on full text, so the shuffle carries hashes only);
* n-gram Jaccard   — inverted-index (posting-list) self-join on shingles:
                     exact pairwise Jaccard without an O(n^2) cross join;
* MinHash + LSH    — xxhash64 salted min-hash signatures, banded bucket
                     join for candidates, exact Jaccard verification of
                     candidates only (the 100 TB path);
* SimHash          — 64-bit md5-vote fingerprint, 16-bit chunk banding
                     (pigeonhole: hamming<=3 pairs share >=1 of 4 chunks),
                     exact hamming verification;
* embedding cosine — near-duplicate vectors by double-precision cosine.

Everything is built-in JVM expressions (no Python UDFs); each query has a
value-identical DuckDB oracle. MinHash shares the exact-Jaccard oracle:
its verify step makes precision exact, and band parameters (32 bands x 4
rows) give ~1.0 recall at the 0.6 threshold given the corpus separation
(injected near-dups sit at J>=0.9, unrelated pairs at J<=0.1).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..caches import BoundedCache, unpersist
from .common import (
    CORPUS_SQL,
    dedup_corpus,
    engine_embeddings,
    shingles,
    shingles_sql,
    tokens,
    tokens_sql,
)

JACCARD_T = 0.6
SHINGLE_N = 3

# .cache()'d DataFrames by (app id, tag, sf_dir): re-runs in one session
# (bench timing loops) reuse one cached plan instead of stacking cache
# blocks; the app id keeps a stopped session's frames from returning.
_DF_CACHE = BoundedCache("pipeline.dedup.frames", 16, on_evict=unpersist)


def _cached_df(tag, sf_dir, build):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    hit = active and _DF_CACHE.get(
        (active.sparkContext.applicationId, tag, sf_dir))
    if hit is None:  # a hit does not rebuild the plan
        df = build()
        key = (df.sparkSession.sparkContext.applicationId, tag, sf_dir)
        hit = _DF_CACHE[key] if key in _DF_CACHE \
            else _DF_CACHE.put(key, df.cache())
    return hit
MINHASH_K = 128
LSH_BANDS = 32  # rows per band = MINHASH_K / LSH_BANDS = 4
HAMMING_MAX = 3
# posting-list df-cap: shingles appearing in more docs than this are
# dropped before the inverted-index self-join (a df-1M stop-word shingle
# would contribute 10^12 join rows; it carries no near-dup signal — a pair
# at J>=0.6 shares many rare shingles too)
SHINGLE_DF_CAP = 5000


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(spark, sf_dir):
    """Exact dedup: keep the min doc_id per normalized-text fingerprint."""
    corpus = dedup_corpus(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    return (
        corpus.select("doc_id", F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


DEDUP_EXACT_SQL = f"""
WITH {CORPUS_SQL.strip()}
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM corpus)
GROUP BY fp ORDER BY keep_id
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, posting-list join)
# ---------------------------------------------------------------------------


def _shingle_sets(corpus):
    return corpus.select(
        "doc_id", shingles(tokens(F.col("text")), SHINGLE_N).alias("sh")
    )


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact pairwise Jaccard over distinct word 3-grams.

    Inverted-index self-join: docs sharing a shingle pair up and the
    match count IS the intersection size, so Jaccard falls out of one
    groupBy plus broadcast size joins. Cost is sum(df^2) over shingles;
    at corpus scale a df-cap on hot shingles bounds it (they carry no
    near-dup signal). Shingling itself is the Arrow-batched UDF in
    common.shingles, materialized once via cache."""
    sets = _cached_df("ngram_sets", sf_dir,
                      lambda: _shingle_sets(dedup_corpus(spark, sf_dir)))
    sets.count()  # materialize the (Pandas-UDF) shingling once
    # posting keys are 64-bit shingle hashes: long-keyed shuffles/joins run
    # ~2x faster than string-keyed, and xxhash64 collisions are below 1e-8
    # at billions of distinct shingles (counts would only ever overstate)
    posts = (sets.select("doc_id", F.explode("sh").alias("shingle"))
             .select("doc_id", F.xxhash64("shingle").alias("h")))
    # df-cap: drop hot shingles before the self-join — sum(df^2) is what
    # blows up at corpus scale, and the hot set itself is tiny (broadcast
    # anti-join); document sizes keep the full shingle count so Jaccard
    # denominators are unchanged
    hot = (posts.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > SHINGLE_DF_CAP).select("h"))
    posts = posts.join(F.broadcast(hot), "h", "left_anti")
    sizes = sets.select("doc_id", F.size("sh").alias("sz"))
    a, b = posts.alias("a"), posts.alias("b")
    # intersection sizes straight from the inverted-index self-join: one
    # shuffle by shingle + one groupBy — cost is sum(df^2) over shingles,
    # which a df-cap bounds at corpus scale (hot shingles carry no
    # near-dup signal); per-pair array re-intersection is strictly slower
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jacc = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
        .orderBy("doc_a", "doc_b")
    )


NGRAM_JACCARD_SQL = f"""
WITH {CORPUS_SQL.strip()},
sets AS (
  SELECT doc_id, {shingles_sql(tokens_sql(), SHINGLE_N)} AS sh FROM corpus
),
posts_all AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
hot AS (
  SELECT shingle FROM posts_all GROUP BY shingle
  HAVING COUNT(*) > {SHINGLE_DF_CAP}
),
posts AS (
  SELECT doc_id, shingle FROM posts_all
  WHERE shingle NOT IN (SELECT shingle FROM hot)
),
sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM posts a JOIN posts b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 4) >= {JACCARD_T}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _band_hash_udf():
    """MinHash signature + band hashes, numpy-vectorized.

    Higher-order-function expressions don't whole-stage-codegen (a
    128-permutation nested transform runs interpreted, minutes at sf0.1)
    — this is the case the task brief reserves Pandas UDFs for. The hash
    family is multiply-add over uint64 wrap-around arithmetic seeded
    from RandomState(42): sig[i] = min_h(a[i]*h + b[i]), band hash =
    c·sig[band] + band; deterministic across runs/partitions.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    r = MINHASH_K // LSH_BANDS
    rs = np.random.RandomState(42)
    a = rs.randint(1, 1 << 62, size=MINHASH_K).astype(np.uint64) | np.uint64(1)
    b = rs.randint(0, 1 << 62, size=MINHASH_K).astype(np.uint64)
    c = rs.randint(1, 1 << 62, size=r).astype(np.uint64) | np.uint64(1)

    @pandas_udf("array<long>")
    def band_hashes(hs):
        import pandas as pd

        out = []
        with np.errstate(over="ignore"):
            for h in hs:
                hv = np.asarray(h, dtype=np.int64).view(np.uint64)
                sig = (a[:, None] * hv[None, :] + b[:, None]).min(axis=1)
                bands = (sig.reshape(LSH_BANDS, r) * c).sum(
                    axis=1, dtype=np.uint64
                ) + np.arange(LSH_BANDS, dtype=np.uint64)
                out.append(bands.view(np.int64))
        return pd.Series(out)

    return band_hashes


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash signatures + banded LSH candidates + exact verify.

    Shingles hash JVM-side (xxhash64); signatures/band-hashes compute in
    one Arrow-batched Pandas UDF; docs sharing any (band, band-hash)
    bucket become candidates — the only join is on the bucket key, so
    cost scales with bucket sizes, not corpus^2. Candidates are verified
    with exact array_intersect Jaccard, making precision exact; the
    oracle is therefore the exact-Jaccard SQL (recall is 1.0 at these
    parameters for this corpus' separation: injected near-dups sit at
    J>=0.9, band-match prob there >= 1-(1-0.9^4)^32 ~ 1).
    """
    # cache: the shingle UDF feeds the bucket self-join (2x) AND both
    # verify sides; without it the Arrow-batched shingling runs 4x
    sets = _cached_df("mh_sets", sf_dir,
                      lambda: _shingle_sets(dedup_corpus(spark, sf_dir))
                      .filter(F.size("sh") > 0))
    hashed = sets.select(
        "doc_id",
        F.expr("transform(sh, s -> xxhash64(s))").alias("hs"),
    )

    def _build_buckets():
        # Stop-shingle exclusion from the SIGNATURE input only (verify
        # below always uses the full arrays, so precision and the
        # surviving-pair set are untouched wherever recall holds). A
        # shingle present in a large fraction of the corpus dominates
        # min() for every permutation: two unrelated docs sharing k hot
        # shingles out of m collide on a 4-row band with p ~ (k/m)^4,
        # and with hundreds of docs per hot bucket the candidate count
        # grows ~quadratically in corpus size (the 100x scale fixture
        # measured 213 s / 9.3 GB shuffled, scaling exponent 1.58,
        # with ~45M candidates from exactly this). True near-dup pairs
        # share their RARE shingles, so dropping hot ones keeps recall
        # at 1.0 for separated corpora. The cap is scale-relative with
        # a floor far above any real shingle df at the oracle-checked
        # SFs (sf0.1 max df = 33 measured), so candidates — and the
        # output — are identical there.
        n_docs = sets.count()
        cap = max(256, n_docs // 1000)
        hot = [r["h"] for r in
               (hashed.select(F.explode("hs").alias("h"))
                .groupBy("h").agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") > cap).select("h").collect())]
        sig_in = F.col("hs")
        if hot:
            kept = F.array_except("hs", F.lit(hot))
            # all-hot docs (tiny texts of stop shingles) keep their full
            # set: an empty signature input would drop them from every
            # band and could lose a true exact-dup pair
            sig_in = F.when(F.size(kept) > 0, kept).otherwise(sig_in)
        return hashed.select(
            "doc_id",
            F.posexplode(_band_hash_udf()(sig_in)).alias("band", "h"),
        )

    buckets = _cached_df("mh_buckets", sf_dir, _build_buckets)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify on the HASHED shingle arrays (8 bytes/shingle), not the
    # strings (~30 bytes): shingle sets are distinct, so
    # |intersect(hs_a, hs_b)| = |intersect(sh_a, sh_b)| up to 64-bit
    # xxhash64 collisions (P ~ pairs/2^64 — immaterial), and the verify
    # join's shuffle/sort payload drops ~25x. At 500k docs the string
    # arrays measured >46 GB of sort-merge spill on local[32]; the
    # hashed arrays stay ~1 GB.
    sa = hashed.select(F.col("doc_id").alias("doc_a"),
                       F.col("hs").alias("sh_a"))
    sb = hashed.select(F.col("doc_id").alias("doc_b"),
                       F.col("hs").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# Per distinct token t and bit b in 0..63: nibble = hex digit (b div 4) of
# md5(t); vote = +-1 from bit (b mod 4) of that nibble. The doc's simhash
# bit is 1 iff the token votes sum >= 0. Expressed with instr/md5/floor in
# both engines so values match bit-for-bit.
def _simhash_udf():
    """64-bit SimHash signature, one Arrow batch at a time.

    Matches the oracle's bit function exactly: bit b's vote for token t is
    +-1 from bit (b%4) of hex digit (b//4) of md5(t). The old formulation
    exploded 64 (doc, bit) rows per token through a shuffle — the hash and
    vote accumulation are per-document local, so they belong in one
    mapPartitions-style UDF (SURVEY: Pandas UDFs for what built-ins can't
    express without a blowup)."""
    import hashlib

    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    b_idx = np.arange(64) // 4
    b_shift = (np.arange(64) % 4).astype(np.uint8)
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    @pandas_udf("long")
    def simhash(tok_arrays):
        import pandas as pd

        out = []
        for toks in tok_arrays:
            acc = np.zeros(64, dtype=np.int64)
            for t in toks:
                h = hashlib.md5(t.encode()).digest()[:8]
                byts = np.frombuffer(h, dtype=np.uint8)
                nibs = np.empty(16, np.uint8)
                nibs[0::2] = byts >> 4
                nibs[1::2] = byts & 0xF
                bits = (nibs[b_idx] >> b_shift) & 1
                acc += 2 * bits.astype(np.int64) - 1
            sig = np.sum(weights[acc >= 0], dtype=np.uint64)
            out.append(int(sig.view(np.int64)))
        return pd.Series(out, dtype="int64")

    return simhash


def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs with hamming distance <= 3.

    Banding: the 64-bit signature folds into 4 x 16-bit chunks; hamming<=3
    pairs must agree on >=1 chunk (pigeonhole), so candidates come from a
    join on (chunk_idx, chunk_value) — never an all-pairs comparison.
    Verification is bit_count(sig_a XOR sig_b), whole-stage codegen'd.
    """
    # cache: both sides of the bucket self-join read the signatures; without
    # it the tokenization + signature UDF subtree executes twice
    sig = _cached_df("simhash_sig", sf_dir, lambda: (
        dedup_corpus(spark, sf_dir)
        .select("doc_id",
                _simhash_udf()(F.array_distinct(tokens(F.col("text"))))
                .alias("sig"))))
    chunks = sig.select(
        "doc_id", "sig",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("c"),
                     (F.shiftrightunsigned(F.col("sig"), 16 * c)
                      .bitwiseAND(F.lit(0xFFFF))).alias("cv"))
            for c in range(4)])).alias("ch"))
    a = chunks.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"),
                      F.col("ch.c").alias("c"), F.col("ch.cv").alias("cv"))
    b = chunks.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
                      F.col("ch.c").alias("c"), F.col("ch.cv").alias("cv"))
    return (
        a.join(b, ["c", "cv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b",
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                .alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


SIMHASH_SQL = f"""
WITH {CORPUS_SQL.strip()},
tok AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({tokens_sql()})) AS t FROM corpus
),
votes AS (
  SELECT doc_id, b,
         2 * (CAST(floor((strpos('0123456789abcdef',
                  substring(md5(t), (b // 4) + 1, 1)) - 1)
                  / power(2, b % 4)) AS INT) % 2) - 1 AS v
  FROM tok, (SELECT unnest(generate_series(0, 63)) AS b)
),
bits AS (
  SELECT doc_id, b, CASE WHEN SUM(v) >= 0 THEN 1 ELSE 0 END AS bit
  FROM votes GROUP BY doc_id, b
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT)
           AS hamming
  FROM bits a JOIN bits b ON a.b = b.b AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, hamming FROM pairs
WHERE hamming <= {HAMMING_MAX} ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

COS_T = 0.9


def embedding_corpus(spark, sf_dir):
    """embeddings + injected near/exact duplicate vectors (deterministic)."""
    emb = engine_embeddings(spark, sf_dir).select("vec_id", "embedding")
    near = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) * 1.5).cast("float")),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    exact = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
    )
    return emb.unionAll(near).unionAll(exact)


EMB_CORPUS_SQL = """
ecorpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         [CAST(embedding[1] * 1.5 AS FLOAT)] || embedding[2:64] AS embedding
  FROM embeddings WHERE vec_id % 5 = 0
  UNION ALL
  SELECT vec_id + 200000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 9 = 0
)
"""


def cosine(a, b) -> F.Column:
    """Double-precision cosine via sequential zip_with/aggregate fold —
    same left-to-right IEEE order as the SQL oracle's generate_series sum."""
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _cos_sql(a: str, b: str, dims: int = 64) -> str:
    def dot(x, y):
        return (
            f"list_sum(list_transform(generate_series(1, {dims}), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
        )

    return f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


# rows per GEMM block: two blocks of 2048 x 64 doubles per task (~2 MB)
# with a 2048^2 sims matrix (~32 MB) — executor-memory safe
EMB_BLOCK_ROWS = 2048
# cap on block count: bounds shuffle replication (each row is shipped to
# every block-pair its block participates in, i.e. B copies)
EMB_MAX_BLOCKS = 512


def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cos >= 0.9), exact, via
    block-pair matrix multiply: vectors hash into B blocks, every block
    pair (i <= j) becomes one applyInPandas group whose task GEMMs the
    two blocks — O(n^2) FLOPs distributed over B(B+1)/2 tasks with no
    driver-side collect and no full-matrix broadcast at any size. The
    sub-O(n^2) probabilistic path at corpus scale is ann_lsh.
    """
    import numpy as np

    corpus = embedding_corpus(spark, sf_dir)
    n = corpus.count()
    nblocks = max(1, min(EMB_MAX_BLOCKS, -(-n // EMB_BLOCK_ROWS)))
    # (pair_id, blk, side): block i joins pair (i,j) as side a, (j,i<=j)
    # as side b; the self pair (i,i) keeps one side only
    rows = []
    pid = 0
    for i in range(nblocks):
        for j in range(i, nblocks):
            if j == i:
                rows.append((pid, i, "s"))
            else:
                rows.append((pid, i, "a"))
                rows.append((pid, j, "b"))
            pid += 1
    pairs = spark.createDataFrame(rows, "pid int, blk int, side string")

    tagged = (
        corpus.withColumn(
            "blk", F.pmod(F.xxhash64("vec_id"), F.lit(nblocks)).cast("int"))
        .join(F.broadcast(pairs), "blk")
    )

    empty = {"vec_a": [], "vec_b": [], "cos": []}

    def _norm_mat(rows_pdf):
        m = np.stack(rows_pdf["embedding"].to_numpy()).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return rows_pdf["vec_id"].to_numpy(), m

    def gemm(key, pdf):
        import pandas as pd

        if (pdf["side"] == "s").any():  # self pair: block against itself
            ia, ma = _norm_mat(pdf)
            ib, mb = ia, ma
        else:
            a_rows = pdf[pdf["side"] == "a"]
            b_rows = pdf[pdf["side"] == "b"]
            if not len(a_rows) or not len(b_rows):
                return pd.DataFrame(empty)
            ia, ma = _norm_mat(a_rows)
            ib, mb = _norm_mat(b_rows)
        sims = np.round(ma @ mb.T, 4)
        ai, bi = np.where(sims >= COS_T)
        va, vb = ia[ai], ib[bi]
        lo = np.minimum(va, vb)
        hi = np.maximum(va, vb)
        keep = lo < hi  # drops self matches; orders each pair a < b
        return pd.DataFrame(
            {"vec_a": lo[keep], "vec_b": hi[keep], "cos": sims[ai, bi][keep]}
        ).drop_duplicates(["vec_a", "vec_b"])

    return (
        tagged.groupBy("pid")
        .applyInPandas(gemm, "vec_a long, vec_b long, cos double")
        .orderBy("vec_a", "vec_b")
    )


DEDUP_EMBEDDING_SQL = f"""
WITH {EMB_CORPUS_SQL.strip()}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_cos_sql("a.embedding", "b.embedding")}, 4) AS cos
FROM ecorpus a JOIN ecorpus b ON a.vec_id < b.vec_id
WHERE ROUND({_cos_sql("a.embedding", "b.embedding")}, 4) >= {COS_T}
ORDER BY vec_a, vec_b
"""


# passage dedup: non-overlapping word windows of this size are the
# dedup unit (Lee et al. 2021-style substring dedup, chunk-aligned)
PD_CHUNK = 4
# chunk_idx < this for any document (docs are KB-scale; a 1e6-token doc
# would be rejected upstream), so doc_id*SCALE+ci is a collision-free
# total order matching (doc_id, ci) lexicographic order
PD_KEY_SCALE = 1_000_000


def passage_dedup(spark, sf_dir):
    """Passage-level exact dedup: every document splits into
    non-overlapping PD_CHUNK-word passages; a passage is a duplicate if
    the identical word sequence appeared earlier in the corpus (first
    occurrence = lowest (doc_id, chunk_idx) — deterministic). Returns
    per-document passage counts and how many a dedup rewrite would drop.

    100 TB shape: explode to passage rows, one hash-partitioned window
    over the passage text (the same shuffle a groupBy(chunk) would do —
    token-volume in, never collected), then a per-doc partial agg. Hot
    identical passages concentrate on one key only if the corpus is
    pathologically repetitive; real corpora spread over the passage
    vocabulary. The first-occurrence key is a single integer so the
    min() is exact cross-engine."""
    from pyspark.sql import Window

    docs = dedup_corpus(spark, sf_dir).select("doc_id", "text")
    base = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    # docs are non-empty (n>=1 -> nch>=1), so sequence() never sees a
    # stop below its start (Spark would infer a negative step)
    nch = F.expr(f"(size(w) + {PD_CHUNK - 1}) div {PD_CHUNK}")
    chunks = F.transform(
        F.sequence(F.lit(0), (nch - 1).cast("int")),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("w"), i * PD_CHUNK + 1, PD_CHUNK)),
    )
    ch = base.select(
        "doc_id", F.posexplode(chunks).alias("ci", "chunk"))
    k = F.col("doc_id") * PD_KEY_SCALE + F.col("ci")
    win = Window.partitionBy("chunk")
    sel = (ch.select("doc_id", "chunk", k.alias("k"))
           .withColumn("fk", F.min("k").over(win)))
    return (sel.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(F.when(F.col("k") != F.col("fk"), 1).otherwise(0))
                 .cast("long").alias("n_dup_chunks"))
            .orderBy("doc_id"))


PASSAGE_DEDUP_SQL = f"""
WITH {CORPUS_SQL.strip()},
tok AS (SELECT doc_id, {tokens_sql()} AS w FROM corpus),
ch AS (
  SELECT doc_id, unnest(range((len(w) + {PD_CHUNK - 1}) // {PD_CHUNK})) AS ci, w
  FROM tok
),
ch2 AS (
  SELECT doc_id,
         array_to_string(w[ci*{PD_CHUNK}+1 : ci*{PD_CHUNK}+{PD_CHUNK}], ' ')
           AS chunk,
         doc_id * {PD_KEY_SCALE} + ci AS k
  FROM ch
),
sel AS (SELECT doc_id, k, MIN(k) OVER (PARTITION BY chunk) AS fk FROM ch2)
SELECT doc_id, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN k <> fk THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks
FROM sel GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup, Abbas et al. 2023): cluster first, then only
# pay the quadratic pair cost WITHIN each cluster
# ---------------------------------------------------------------------------

# cluster count: seeds = the SD_K lowest ORIGINAL vec_ids. In production
# K scales with corpus size (K ~ n / target_cluster_rows) so per-cluster
# pair work stays bounded; 4 keeps the sf-test clusters readable.
SD_K = 4
# power-of-two quantization: float->double, *256, floor are all
# IEEE-exact in both engines; everything downstream is int64
SD_SCALE = 256
# cosine threshold 9/10 as an integer cross-multiplication:
# cos(a,b) >= 0.9  <=>  dot > 0 AND 100*dot^2 >= 81*|a|^2*|b|^2
SD_NUM2, SD_DEN2 = 81, 100


def _sd_quant(col):
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * SD_SCALE).cast("long"))


def semantic_dedup_k(n_rows: int, target_cluster_rows: int = 100_000) -> int:
    """Production K derivation: SemDeDup pair cost is O(sum cluster^2),
    so the cluster count must grow with the corpus — K = ceil(n / target
    rows per cluster), floored at the fixture constant so tiny corpora
    keep readable clusters."""
    import math

    return max(SD_K, math.ceil(n_rows / max(1, target_cluster_rows)))


def semantic_dedup(spark, sf_dir, k: int = None,
                   target_cluster_rows: int = None, corpus=None):
    """SemDeDup-style semantic deduplication: assign every vector to its
    nearest centroid, then drop any vector with a lower-id in-cluster
    neighbor at cosine >= 0.9 (greedy keep-lowest-id representative —
    deterministic, one survivor per duplicate chain). Output: per-cluster
    corpus size, removed count, and survivor count.

    K: explicit `k` wins; else `target_cluster_rows` derives
    k = max(SD_K, ceil(n / target)) from one corpus count
    (semantic_dedup_k); else the SD_K fixture constant (the oracle
    fixture pins k=4 at test scale).

    Distributed shapes — this IS the SemDeDup trick: clustering bounds
    the quadratic term. Assignment is an int64 GEMM against the
    broadcast centroid matrix inside mapInPandas (no shuffle; cost
    independent of K's expression footprint — see _assign); the pair
    step shuffles on `cluster`
    only and evaluates the cosine test bucket-locally, so pair work is
    O(sum cluster_size^2), never O(n^2) corpus-wide — K grows with the
    corpus to cap cluster sizes. Exactness: vectors quantize by a
    power-of-two scale (floor-exact in IEEE), distances / dot products /
    norms are int64, and the threshold is an integer cross-multiplication
    — no float summation order anywhere. Overflow headroom: |q| <= ~256,
    so dot <= 64*256^2 ~ 4.2e6 and 100*dot^2 ~ 1.8e15 << 2^63."""
    corpus = corpus if corpus is not None else embedding_corpus(spark, sf_dir)
    if k is None:
        k = (semantic_dedup_k(corpus.count(), target_cluster_rows)
             if target_cluster_rows is not None else SD_K)
    q = corpus.select("vec_id", _sd_quant(F.col("embedding")).alias("q"))
    seeds = (q.filter(F.col("vec_id") < k)
             .select("vec_id", "q").collect())  # k rows
    cents = {int(r["vec_id"]): [int(x) for x in r["q"]] for r in seeds}

    # assignment as an int64 GEMM against the broadcast centroid matrix
    # (mapInPandas, the knn_bruteforce shape): argmin_k(|q-c_k|^2) =
    # argmin_k(-2 q.c_k + |c_k|^2) — the per-row |q|^2 constant drops
    # without changing any argmin, everything stays int64-exact, and
    # ties break to the LOWEST centroid id (np.argmin first occurrence
    # over id-sorted rows = the oracle's ORDER BY d2, k). An expression-
    # tree argmin costs O(K) zip_with/aggregate subtrees per row — at
    # production K (thousands) Catalyst compilation alone explodes,
    # while the GEMM is one broadcast matrix regardless of K.
    import numpy as _np

    _ks = sorted(cents)
    _C = _np.array([cents[kk] for kk in _ks], dtype=_np.int64)
    _kid = _np.array(_ks, dtype=_np.int64)

    def _assign(batches):
        import numpy as np
        import pandas as pd

        c2 = (_C * _C).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            d = -2 * (Q @ _C.T) + c2[None, :]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "q": pdf["q"],
                "cluster": _kid[np.argmin(d, axis=1)],
                "n2": (Q * Q).sum(axis=1),
            })

    a = q.mapInPandas(
        _assign, "vec_id long, q array<long>, cluster long, n2 long")

    # per-cluster pair test as an int64 GEMM (applyInPandas): ONE shuffle
    # on `cluster`, then numpy Q @ Q.T inside the bucket — identical
    # integer arithmetic to the pairwise expression form (dot, norms, and
    # the cross-multiplied threshold all stay int64; bounds: |q| <= ~256
    # so 100*dot^2 ~ 1.8e15 << 2^63) at a fraction of the expression-tree
    # cost. Bucket size is bounded by the K derivation, so the n^2 GEMM
    # term is the same O(sum cluster^2) the join form paid.
    def _pairs(pdf):
        import numpy as _np
        import pandas as _pd

        ids = pdf["vec_id"].to_numpy()
        order = _np.argsort(ids)
        ids = ids[order]
        Q = _np.stack(pdf["q"].to_numpy()[order]).astype(_np.int64)
        n2 = (Q * Q).sum(axis=1)
        D = Q @ Q.T
        ok = (D > 0) & (SD_DEN2 * D * D >= SD_NUM2 * _np.outer(n2, n2))
        # b removed when ANY lower-id a in-cluster passes: strict upper
        # triangle, column-wise any
        removed_mask = _np.triu(ok, 1).any(axis=0)
        return _pd.DataFrame({
            "cluster": pdf["cluster"].iloc[:1].repeat(
                int(removed_mask.sum())).to_numpy(),
            "vec_id": ids[removed_mask]})

    removed = (
        a.select("cluster", "vec_id", "q")
        .groupBy("cluster")
        .applyInPandas(_pairs, "cluster long, vec_id long")
        .groupBy("cluster").agg(F.count(F.lit(1)).alias("n_removed")))

    return (a.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vecs"))
            .join(removed, "cluster", "left")
            .select("cluster", "n_vecs",
                    F.coalesce("n_removed", F.lit(0)).cast("long")
                    .alias("n_removed"),
                    (F.col("n_vecs")
                     - F.coalesce("n_removed", F.lit(0))).cast("long")
                    .alias("n_kept"))
            .orderBy("cluster"))


_SD_Q_SQL = (f"list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
             f" * {SD_SCALE}) AS BIGINT))")
_SD_D2_SQL = ("list_sum(list_transform(generate_series(1, 64), "
              "i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i])))")

SEMANTIC_DEDUP_SQL = f"""
WITH {EMB_CORPUS_SQL.strip()},
q AS (SELECT vec_id, {_SD_Q_SQL} AS q FROM ecorpus),
c0 AS (SELECT vec_id AS k, q AS cq FROM q WHERE vec_id < {SD_K}),
asn AS (
  SELECT v.vec_id, v.q, c.k,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
                            ORDER BY {_SD_D2_SQL}, c.k) AS rn
  FROM q v CROSS JOIN c0 c
),
a AS (
  SELECT vec_id, q, k AS cluster,
         list_sum(list_transform(q, x -> x * x)) AS n2
  FROM asn WHERE rn = 1
),
dup AS (
  SELECT DISTINCT y.cluster, y.vec_id FROM a x JOIN a y
    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE list_sum(list_transform(generate_series(1, 64),
                                i -> x.q[i] * y.q[i])) > 0
    AND list_sum(list_transform(generate_series(1, 64),
                                i -> x.q[i] * y.q[i]))
        * list_sum(list_transform(generate_series(1, 64),
                                  i -> x.q[i] * y.q[i]))
        * {SD_DEN2}
        >= x.n2 * y.n2 * {SD_NUM2}
),
rem AS (SELECT cluster, COUNT(*) AS n_removed FROM dup GROUP BY cluster)
SELECT a.cluster, COUNT(*) AS n_vecs,
       CAST(COALESCE(MAX(rem.n_removed), 0) AS BIGINT) AS n_removed,
       CAST(COUNT(*) - COALESCE(MAX(rem.n_removed), 0) AS BIGINT) AS n_kept
FROM a LEFT JOIN rem ON a.cluster = rem.cluster
GROUP BY a.cluster ORDER BY a.cluster
"""


# production-path twin of semantic_dedup: K is DERIVED from the corpus
# size (semantic_dedup_k) instead of pinned at the SD_K fixture constant,
# so the oracle covers the code path a real deployment runs. Target of 64
# rows/cluster makes K = ceil(656/64) = 11 at the sf0.01 gate (>= 8, well
# past the fixture's 4); the SQL derives the SAME K from its own corpus
# count, so both sides scale together across SFs.
SD_TARGET = 64


def semantic_dedup_prod_k(spark, sf_dir):
    return semantic_dedup(spark, sf_dir, target_cluster_rows=SD_TARGET)


SEMANTIC_DEDUP_PROD_K_SQL = SEMANTIC_DEDUP_SQL.replace(
    f"WHERE vec_id < {SD_K}",
    f"WHERE vec_id < (SELECT GREATEST({SD_K}, "
    f"CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / {SD_TARGET}) AS BIGINT)) "
    f"FROM q)")


REGISTRY = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "semantic_dedup": (semantic_dedup, SEMANTIC_DEDUP_SQL),
    "semantic_dedup_prod_k": (semantic_dedup_prod_k,
                              SEMANTIC_DEDUP_PROD_K_SQL),
    "passage_dedup": (passage_dedup, PASSAGE_DEDUP_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, NGRAM_JACCARD_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, NGRAM_JACCARD_SQL),
    "dedup_simhash": (dedup_simhash, SIMHASH_SQL),
    "dedup_embedding": (dedup_embedding, DEDUP_EMBEDDING_SQL),
}
