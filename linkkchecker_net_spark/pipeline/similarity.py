"""Similarity search over embedding columns (array<float>).

Two paths:
  * brute-force cosine top-k — the exact baseline: query set × corpus
    cross join with JVM-side zip_with/aggregate dot products, window
    top-k.  Right answer at any SF where |queries|·N is tractable.
  * random-hyperplane LSH buckets — the scale path: each vector hashes to
    a b-bit signature (sign of dot with b seeded random hyperplanes);
    candidates share a bucket in ≥1 of `tables` independent hash tables,
    so the join is bucket-keyed, never all-pairs.  Exactness is traded for
    the candidate-set size; the verify step re-scores candidates exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _norm(c):
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk_bruteforce(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries: (query_id long, q_embedding array<float>).  Ties and float
    noise are settled deterministically by (round(cos,9) desc, vec_id).
    """
    q = queries.select(
        "query_id", F.col("q_embedding").alias("qe"), _norm(F.col("q_embedding")).alias("qn")
    )
    c = emb.select("vec_id", F.col("embedding").alias("ce"), _norm(F.col("embedding")).alias("cn"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")))
        .withColumn("cos_r", F.round("cosine", 9))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_r"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def blocked_cosine_pairs(
    emb: DataFrame, threshold: float = 0.4, block_size: int = 1024
) -> DataFrame:
    """Exact cosine-threshold pairs via BLOCK MATRIX product.

    Vectors are grouped into ⌈N/B⌉ blocks; every block pair (upper
    triangle) computes one numpy B×B matmul.  HONEST COMPLEXITY: this is
    still quadratic — O((N/B)²) block pairs, each shipping two B-vector
    blocks, so total shuffle is O(N²/B) vector copies — just with ~40x
    better constants than the per-row cross join it replaced (BLAS FLOPs,
    B-fold fewer join rows).  It is the exact MID-SCALE path; beyond-N²
    scale belongs to lsh_bucket_ann, which never enumerates all pairs.
    Each packed block is one collect_list row, so keep B·dim·8 well under
    the 2 GB row limit (B=1024 × dim=64 ≈ 0.5 MB — ample headroom)."""
    import pandas as pd

    # one row per block: (blk, ids[], vecs[])
    packed = (
        emb.select(
            (F.col("vec_id") / block_size).cast("int").alias("blk"),
            F.struct("vec_id", "embedding").alias("ve"),
        )
        .groupBy("blk")
        .agg(F.collect_list("ve").alias("vecs"))
    )
    a = packed.select(
        F.col("blk").alias("blk_a"), F.col("vecs").alias("vecs_a")
    )
    b = packed.select(
        F.col("blk").alias("blk_b"), F.col("vecs").alias("vecs_b")
    )
    block_pairs = a.crossJoin(b).filter(F.col("blk_a") <= F.col("blk_b"))

    def score(batches):
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                ids_a = np.array([v["vec_id"] for v in row.vecs_a], dtype=np.int64)
                mat_a = np.stack(
                    [np.asarray(v["embedding"], dtype=np.float64) for v in row.vecs_a]
                )
                ids_b = np.array([v["vec_id"] for v in row.vecs_b], dtype=np.int64)
                mat_b = np.stack(
                    [np.asarray(v["embedding"], dtype=np.float64) for v in row.vecs_b]
                )
                na = np.linalg.norm(mat_a, axis=1)
                nb = np.linalg.norm(mat_b, axis=1)
                cos = (mat_a @ mat_b.T) / np.outer(na, nb)  # one BLAS matmul
                ia, ib = np.nonzero(cos >= threshold)
                keep = ids_a[ia] < ids_b[ib]
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids_a[ia][keep],
                            "vec_b": ids_b[ib][keep],
                            "cosine": np.round(cos[ia, ib][keep], 6),
                        }
                    )
                )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cosine": []}
            )

    return block_pairs.mapInPandas(score, "vec_a long, vec_b long, cosine double")


def _hyperplanes(dim: int, bits: int, table: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed * 1000 + table)
    return rng.standard_normal((bits, dim))


def lsh_bucket_ann(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 6,
    tables: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH over `tables` hash tables.

    Bucket signatures are computed in a vectorized pandas UDF (one matrix
    multiply per Arrow batch); the candidate join is bucket-keyed; the
    final re-score is exact.  Recall < 1 by construction — this is the
    10^10-row path where brute force is impossible.

    (bits, tables) sets the collision S-curve: per-table match prob is
    (1 - angle/pi)^bits.  The defaults target MODERATE-similarity probes
    (cos ~0.3-0.5, per-bit ~0.65 → recall ~0.5 at ~4x candidate pruning,
    measured on the synthetic embeddings and floored by
    test_ann_lsh_recall_floor); for genuine near-dup search (cos ≥ 0.8)
    raise bits to 12-16 for much sharper pruning at the same recall.
    """
    planes = [_hyperplanes(dim, bits, t, seed) for t in range(tables)]

    def make_sig_udf(col_name: str):
        @F.pandas_udf("array<long>")
        def sig(v: pd.Series) -> pd.Series:
            mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
            out = []
            sigs_per_table = []
            for t in range(tables):
                proj = mat @ planes[t].T > 0  # (batch, bits)
                vals = (proj.astype(np.uint64) << np.arange(bits, dtype=np.uint64)).sum(
                    axis=1
                )
                sigs_per_table.append(vals.astype(np.int64) + (t << 32))
            stacked = np.stack(sigs_per_table, axis=1)
            out = [row.tolist() for row in stacked]
            return pd.Series(out)

        return sig(F.col(col_name))

    c_sig = emb.select("vec_id", "embedding", make_sig_udf("embedding").alias("sigs"))
    q_sig = queries.select(
        "query_id", "q_embedding", make_sig_udf("q_embedding").alias("sigs")
    )
    c_buckets = c_sig.select(
        "vec_id", "embedding", F.explode("sigs").alias("bucket")
    )
    q_buckets = q_sig.select(
        "query_id", "q_embedding", F.explode("sigs").alias("bucket")
    )
    cand = (
        q_buckets.join(c_buckets, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_embedding", "vec_id", "embedding")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.withColumn(
        "cosine",
        _dot(F.col("q_embedding"), F.col("embedding"))
        / (_norm(F.col("q_embedding")) * _norm(F.col("embedding"))),
    ).withColumn("cos_r", F.round("cosine", 9))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_r"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def lsh_recall(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    floor: float = 0.2,
    **lsh_kw,
) -> DataFrame:
    """Deterministic, hash-checkable recall metric for lsh_bucket_ann.

    ANN recall is < 1 by construction, so the raw neighbor list has no SQL
    oracle — but the RECALL of the (seed-fixed, hence deterministic) LSH
    vs the exact top-k is itself a deterministic arithmetic fact.  Emit it
    per query as `recall_floor_met` = (|exact ∩ approx| / |exact| ≥ floor):
    the DuckDB oracle derives n_exact from its own exact top-k and asserts
    the floor column TRUE, so a silent recall collapse breaks the value
    hash (VERDICT r2 item 7; floor matches test_ann_lsh_recall_floor).
    """
    exact = cosine_topk_bruteforce(emb, queries, k=k).select("query_id", "vec_id")
    approx = lsh_bucket_ann(emb, queries, k=k, **lsh_kw).select("query_id", "vec_id")
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi")
    n_hits = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return n_exact.join(n_hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        (
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact") >= F.lit(floor)
        ).alias("recall_floor_met"),
    )


def ivf_ann(
    emb: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    k: int = 10,
    scale: int = 1000,
    centroids: list | None = None,
) -> DataFrame:
    """IVF-style ANN (the FAISS/ScaNN coarse-quantizer shape, third scale
    path beside brute force and hyperplane LSH): assign every corpus
    vector to its nearest coarse centroid ONCE, probe only the `nprobe`
    nearest cells per query, exact-rerank inside the probed cells.

    All similarity arithmetic is the INTEGER inner product of
    floor(x·scale)-quantized vectors — bit-identical on any engine (the
    DuckDB oracle replays it exactly), no float-sum ordering hazards.
    `centroids` default to the quantized embeddings of the `n_cells`
    smallest vec_ids — a deterministic stand-in for trained centroids
    (production swaps in pipeline/cluster.kmeans output; assignment,
    probing and rerank are unchanged).  Ties break to the smaller
    centroid index / vec_id everywhere.

    Scale shape: cell assignment is MAP-ONLY codegen (n_cells unrolled
    integer dots against centroid literals — the centroid table is
    metadata-sized, collected once like kmeans' init); the probe is an
    equi-join on the cell id, so each query touches only its probed
    cells' inverted lists, never the corpus; the rerank window partitions
    by query_id.  Hot cells are the skew risk (unbalanced quantizer) —
    AQE skew-join plus re-training the quantizer are the standard fixes.

    Returns (query_id, vec_id, score, rank) with integer `score`.
    """

    def quant(c):
        return F.transform(
            c, lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long")
        )

    corpus = emb.select("vec_id", quant(F.col("embedding")).alias("qv"))
    if centroids is None:
        rows = (
            corpus.filter(F.col("vec_id") < n_cells).orderBy("vec_id").collect()
        )
        centroids = [list(r["qv"]) for r in rows]

    # expression generation as ONE SQL string per column (single F.expr
    # py4j call) instead of per-literal Column algebra — n_cells·D CAST'd
    # long literals were one driver↔JVM round-trip each (the pq_ann
    # measurement: ~28k messages, ~4 s of pure construction); the Catalyst
    # tree (array literals, zip_with, aggregate, array_sort) is IDENTICAL
    def dot_sql(col, cvec):
        arr = "array(" + ",".join(f"{int(v)}L" for v in cvec) + ")"
        return (
            f"aggregate(zip_with({col}, {arr}, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    def entries_sql(col):
        # argmax as ONE array_sort over (-dot, i) structs — the same
        # idiom as the probe list below.  The previous chained-When
        # ladder nested each step's condition AND both branches inside
        # the next, so the first centroid's dot product was re-evaluated
        # O(n_cells) times per row (higher-order-function expressions
        # are interpreted — no codegen, no common-subexpression
        # elimination); here every dot is evaluated exactly once.
        # Tie-break is identical: sort ascending by (-d, i) keeps the
        # smallest index among equal dots, matching the strict
        # `d > best_d` update.
        return "array(" + ",".join(
            f"named_struct('nd', (CAST(0 AS BIGINT) - {dot_sql(col, cv)}),"
            f" 'i', {i})"
            for i, cv in enumerate(centroids)
        ) + ")"

    cells = corpus.select(
        "vec_id",
        "qv",
        F.expr(
            f"element_at(array_sort({entries_sql('qv')}), 1).i"
        ).alias("cell"),
    )
    q = queries.select("query_id", quant(F.col("q_embedding")).alias("q_qv"))
    qp = q.select(
        "query_id",
        "q_qv",
        F.explode(
            F.expr(
                f"transform(slice(array_sort({entries_sql('q_qv')}), 1,"
                f" {int(nprobe)}), s -> s.i)"
            )
        ).alias("cell"),
    )
    scored = (
        qp.join(cells, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("q_qv"), F.col("qv"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def sq8_ann(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 30,
    scale: int = 1000,
) -> DataFrame:
    """SQ8 scalar-quantization ANN (the FAISS ScalarQuantizer shape,
    fourth scale path beside brute force / hyperplane LSH / IVF): each
    dimension is affinely quantized to an 8-bit code against the
    corpus's per-dimension [min, max] band, candidate generation scores
    the 1-byte-per-dim codes, and the top-`rerank` survivors per query
    are re-scored exactly.  The win at 10^10 vectors is memory traffic:
    a 64-dim float32 corpus is 256 B/row, the code table is 64 B/row —
    4x more vectors per scanned byte, which is the resource the bench's
    membw work showed is the real single-box ceiling.

    Determinism contract (the DuckDB oracle replays every step):
    code_j = clamp(floor(((x_j - min_j) / (max_j - min_j)) * 255), 0,
    255) on float64 arithmetic (min/max are order-free aggregates, the
    division/multiply a fixed expression tree); candidate score is the
    ASYMMETRIC (ADC) integer dot <floor(q*scale), floor((min_j +
    code_j*step_j)*scale)> — the query stays full-precision, the corpus
    side is reconstructed from its 1-byte code exactly as an SQ scan
    kernel decodes codes in-register (a raw code-code dot ignores the
    affine offset and ranks garbage); the rerank score is the
    floor(x*scale) integer dot (same as ivf_ann).  Ties break to the
    smaller vec_id at both stages.

    Scale shape: the per-dimension stats table is D rows (metadata —
    collected once and re-emitted as literals, like ivf_ann's
    centroids; a 100 TB corpus computes it on a sample); code
    assignment is MAP-ONLY codegen; candidate scoring here scans all
    codes per query (the honest exact-over-codes mid-scale path —
    compose with ivf_ann's cell lists to prune it at full scale: same
    codes, scored only inside probed cells); the per-query top-rerank
    window is a partial group-limit.  Returns (query_id, vec_id, score,
    rank) with integer exact `score`.
    """
    dcol = F.col("embedding")
    stats = (
        emb.select(F.posexplode(dcol).alias("ord", "v"))
        .groupBy("ord")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
        .orderBy("ord")
        .collect()
    )
    mn = [float(r["mn"]) for r in stats]
    rng = [float(r["mx"]) - float(r["mn"]) for r in stats]

    # per-dimension stats re-emitted as SQL array literals inside ONE
    # F.expr string per column (the pq_ann construction fix: per-literal
    # Column algebra cost one py4j round-trip each — 3 D-sized literal
    # arrays plus the nested zip_with ladders were ~2 s of driver time;
    # the Catalyst tree is IDENTICAL — D-suffixed double literals parse
    # via the same Double path as F.lit)
    def _d(v: float) -> str:
        return f"{v!r}D"

    mnarr = "array(" + ",".join(_d(v) for v in mn) + ")"
    rngarr = "array(" + ",".join(_d(v) for v in rng) + ")"
    steparr = "array(" + ",".join(_d(v / 255.0) for v in rng) + ")"

    def codes(col):
        return (
            f"zip_with(zip_with({col}, {mnarr},"
            " (v, m) -> CAST(v AS DOUBLE) - m),"
            f" {rngarr},"
            " (d, r) -> CASE WHEN r > 0 THEN"
            " least(greatest(CAST(floor((d / r) * 255.0D) AS BIGINT), 0),"
            " 255) ELSE 0 END)"
        )

    def recon(code_col):
        # ADC decode: integerized floor((min_j + code_j*step_j) * scale)
        return (
            f"zip_with(zip_with({code_col}, {steparr},"
            " (c, s) -> CAST(c AS DOUBLE) * s),"
            f" {mnarr},"
            f" (x, m) -> CAST(floor((m + x) * {float(scale)!r}D) AS BIGINT))"
        )

    def quant(col):
        return F.transform(
            col, lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long")
        )

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    corpus = emb.select(
        "vec_id",
        F.expr(recon(codes("embedding"))).alias("rv"),
        quant(dcol).alias("qv"),
    )
    q = queries.select(
        "query_id",
        quant(F.col("q_embedding")).alias("q_qv"),
    )
    cand = (
        q.select("query_id", "q_qv")
        .crossJoin(corpus.select("vec_id", "rv"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", idot(F.col("q_qv"), F.col("rv")).alias("ascore"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("ascore"), F.asc("vec_id"))
    survivors = (
        cand.withColumn("arank", F.row_number().over(wr))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "vec_id")
    )
    exact = (
        survivors.join(corpus.select("vec_id", "qv"), "vec_id")
        .join(q.select("query_id", "q_qv"), "query_id")
        .select("query_id", "vec_id", idot(F.col("q_qv"), F.col("qv")).alias("score"))
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(wk).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def embedding_hygiene(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    low: float = 1e-6,
    high: float = 100.0,
) -> DataFrame:
    """Embedding-table hygiene screen — the sanity pass every vector
    corpus needs before ANN/dedup trusts it: (id, dim, norm — 6 dp,
    n_nonfinite, zero_vector, extreme_norm, ok).  Zero/near-zero
    vectors make cosine undefined (they satisfy every threshold as
    0/0), NaN/Inf components poison distance kernels silently, and
    runaway norms are the classic sign of an un-normalized batch mixed
    into a normalized corpus.

    Map-only codegen (aggregate/filter over the array) — no shuffle, no
    Python; rides any existing scan of the table.
    """
    d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nonfinite = F.size(
        F.filter(d, lambda x: F.isnan(x) | (F.abs(x) > F.lit(1e308)))
    )
    sq = F.aggregate(
        F.filter(d, lambda x: ~F.isnan(x)),
        F.lit(0.0),
        lambda a, x: a + x * x,
    )
    norm = F.sqrt(sq)
    return emb.select(
        F.col(id_col),
        F.size(F.col(vec_col)).alias("dim"),
        F.round(norm, 6).alias("norm"),
        nonfinite.alias("n_nonfinite"),
        (norm < F.lit(float(low))).alias("zero_vector"),
        (norm > F.lit(float(high))).alias("extreme_norm"),
        (
            (nonfinite == 0)
            & (norm >= F.lit(float(low)))
            & (norm <= F.lit(float(high)))
        ).alias("ok"),
    )


def pq_ann(
    emb: DataFrame,
    queries: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    k: int = 10,
    ncand: int = 50,
    scale: int = 1000,
    codebooks: list | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou/Douze/Schmid TPAMI 2011 — the
    FAISS IndexPQ shape; fifth scale path beside brute force /
    hyperplane LSH / IVF / SQ8): split the D dims into `m` subspaces,
    encode every corpus vector as m one-byte codes (nearest sub-
    codebook centroid per subspace), answer queries by Asymmetric
    Distance Computation — a per-query (m × n_codes) distance table
    joined against the codes, NEVER the full vectors — then exact-
    rerank the `ncand` best ADC candidates.

    All arithmetic is the bit-identical integer L2² of floor(x·scale)
    quantized components (same contract as ivf_ann/sq8_ann), so the
    DuckDB oracle replays it exactly; ties break to the lower centroid
    index / vec_id everywhere.  `codebooks` defaults to the sub-vectors
    of the `n_codes` smallest vec_ids — the deterministic stand-in for
    trained codebooks (production swaps in per-subspace
    pipeline/cluster.kmeans output; encode/ADC/rerank are unchanged).

    Returns (query_id, vec_id, adc_score, score, rank): `adc_score`
    the integer ADC L2² approximation, `score` the exact integer L2²
    after rerank, rank 1..k by (score, vec_id).

    Scale shape: encoding is MAP-ONLY codegen (m·n_codes unrolled
    integer distances against literals — the m×n_codes×(D/m) codebook
    is metadata, collected once); the stored index is m longs per
    vector (the 10^10-vector memory story: 8 bytes·m vs 4·D);
    the ADC table is |queries|·m·n_codes rows → broadcast; the
    candidate cut is a query-partitioned window; only `ncand` rows per
    query ever touch full vectors again.
    """
    dim = len(emb.select("embedding").first()["embedding"])
    dsub = dim // m
    assert dsub * m == dim, "m must divide the embedding dim"

    def quant(c):
        return F.transform(
            c,
            lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast(
                "long"
            ),
        )

    corpus = emb.select("vec_id", quant(F.col("embedding")).alias("qv"))
    if codebooks is None:
        rows = (
            corpus.filter(F.col("vec_id") < n_codes)
            .orderBy("vec_id")
            .collect()
        )
        codebooks = [
            [list(r["qv"])[j * dsub : (j + 1) * dsub] for r in rows]
            for j in range(m)
        ]

    # the encode/ADC expressions below are generated as ONE SQL string per
    # column and handed to a single F.expr() call: the previous
    # Column-algebra builders issued one py4j round-trip per literal —
    # m·n_codes·(D/m) CAST'd longs ≈ 28k driver↔JVM messages, measured
    # 4.4 s of the 5.7 s construction time (guide §1 empirical loop; the
    # resulting Catalyst tree — array literals, zip_with, aggregate,
    # array_sort — is IDENTICAL, so plans and results are unchanged)
    def sub_sql(col, j):
        return f"slice({col}, {j * dsub + 1}, {dsub})"

    def l2_sql(col, cvec):
        arr = "array(" + ",".join(f"{int(v)}L" for v in cvec) + ")"
        return (
            f"aggregate(zip_with({col}, {arr}, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    def code_sql(col, j):
        # argmin as ONE array_sort over (d, c) structs (the ivf_ann
        # cell/probe idiom): the previous chained-When ladder nested
        # every earlier distance inside each later step's condition and
        # branches, and HOF expressions are interpreted (no codegen, no
        # common-subexpression elimination), so early sub-codebook
        # distances were re-evaluated O(n_codes) times per row.  Each
        # L2 is now evaluated exactly once; ascending (d, c) keeps the
        # lowest code on ties, identical to the strict `d < best_d`
        # update.
        entries = ",".join(
            f"named_struct('d', {l2_sql(sub_sql(col, j), codebooks[j][c])},"
            f" 'c', {c})"
            for c in range(n_codes)
        )
        return f"element_at(array_sort(array({entries})), 1).c"

    codes = corpus.select(
        "vec_id",
        F.explode(
            F.expr(
                "array("
                + ",".join(
                    f"named_struct('j', {j}, 'code', {code_sql('qv', j)})"
                    for j in range(m)
                )
                + ")"
            )
        ).alias("jc"),
    ).select("vec_id", F.col("jc.j").alias("j"), F.col("jc.code").alias("code"))

    q = queries.select("query_id", quant(F.col("q_embedding")).alias("q_qv"))
    dtab = q.select(
        "query_id",
        F.explode(
            F.expr(
                "array("
                + ",".join(
                    f"named_struct('j', {j}, 'code', {c}, 'd',"
                    f" {l2_sql(sub_sql('q_qv', j), codebooks[j][c])})"
                    for j in range(m)
                    for c in range(n_codes)
                )
                + ")"
            )
        ).alias("e"),
    ).select(
        "query_id",
        F.col("e.j").alias("j"),
        F.col("e.code").alias("code"),
        F.col("e.d").alias("d"),
    )
    approx = (
        codes.join(F.broadcast(dtab), ["j", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc_score"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.asc("adc_score"), F.asc("vec_id")
    )
    cand = (
        approx.withColumn("_rn", F.row_number().over(wc))
        .filter(F.col("_rn") <= ncand)
        .drop("_rn")
    )
    exact = (
        cand.join(q, "query_id")
        .join(corpus, "vec_id")
        .select(
            "query_id",
            "vec_id",
            "adc_score",
            F.aggregate(
                F.zip_with(
                    F.col("q_qv"), F.col("qv"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("score"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_score", "score", "rank")
    )


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    scale: int = 1000,
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the k
    most-similar corpus vectors carrying a DIFFERENT label — the
    standard batch-construction step for training embedding models
    (the negatives that are hard precisely because the encoder scores
    them close).  Similarity is the bit-identical integer inner product
    of floor(x·scale) quantized vectors (same contract as ivf_ann).

    queries: (query_id, q_embedding, q_label).  Returns
    (query_id, vec_id, score, rank), rank 1..k by (score desc, vec_id).

    Scale: this exact form scores the full corpus per query (the
    correctness baseline); at 10^10 vectors swap the scoring join for
    any of the ANN paths (LSH buckets / IVF probes / PQ ADC) and keep
    the label anti-filter + rerank window unchanged.
    """

    def quant(c):
        return F.transform(
            c,
            lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast(
                "long"
            ),
        )

    corpus = emb.select("vec_id", "label", quant(F.col("embedding")).alias("qv"))
    q = queries.select(
        "query_id", F.col("q_label"), quant(F.col("q_embedding")).alias("q_qv")
    )
    scored = (
        q.crossJoin(corpus)
        .filter(
            (F.col("label") != F.col("q_label"))
            & (F.col("vec_id") != F.col("query_id"))
        )
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("q_qv"), F.col("qv"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def pca_top_component(
    vectors: DataFrame,
    vec_col: str = "embedding",
    dim: "int | None" = None,
    iters: int = 8,
) -> DataFrame:
    """Top principal component of an embedding corpus by power
    iteration — the preprocessing primitive behind IVF/OPQ rotation,
    embedding whitening, and the classic all-but-the-top hygiene fix
    (Mu & Viswanath 2018: the corpus' dominant direction is usually
    frequency noise; projecting it out improves retrieval).  Emits
    per-dimension rows: (dim, mean, pc1, var_explained).

    Distributed part (the only data-sized work): mean vector and the
    centered second-moment matrix C = E[xxᵀ] − μμᵀ, computed WITHOUT a
    self-join — ONE `mapInArrow` pass whose batches run a native
    float64 gemm (Xᵀ·X over the batch matrix, plus the column-sum and
    row count), so each task emits D²+D+1 doubles and the driver sums
    the per-batch partials — the treeAggregate covariance shape
    (Spark MLlib's RowMatrix does the same).  This replaced a
    D²-struct explode + (i, j)-keyed partial agg: same exchange bound
    (≤ partitions·D² values at any corpus size), but the per-row work
    is one vectorized outer-product accumulate instead of D² codegen
    struct allocations (guide §4.2 — hand whole batches to native
    vectorized libraries); measured 4.7 s → ~1 s on the bench corpus
    with identical 6-dp output.  All products run in DOUBLE (floats
    are cast first — float32 multiply would diverge from the oracle);
    partial-sum ORDER differs from the old agg only within the double
    rounding noise (~1e-13) that the 6-dp rounding boundary already
    absorbs (Spark's own partition-order variation sits in the same
    envelope).  Null elements are skipped (SQL sum/avg semantics), a
    vector whose length is not D raises, and an empty corpus has zero
    moments: mean 0, pc1 the start vector, var_explained 0.

    Driver part (metadata-sized, the kmeans-centroid precedent): the
    D×D matrix collects and ``iters`` power iterations run in plain
    Python with FIXED summation order (j ascending, then i
    ascending), v₀ = 1/√D (exact in binary for D=64); the sign is
    normalized so the largest-|entry| coordinate (first index on
    ties) is positive, and var_explained = vᵀCv / trace(C).  Rounding
    to 6 dp happens once at the end — the pagerank determinism
    discipline; double noise from engine-different partial-sum orders
    sits ~1e-13, far under the 5e-7 rounding boundary.
    """
    if dim is None:
        dim = int(vectors.select(F.size(vec_col).alias("d")).first()["d"])
    D = int(dim)

    def _moments(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        S = np.zeros((D, D), dtype=np.float64)
        m = np.zeros(D, dtype=np.float64)
        c = np.zeros(D, dtype=np.int64)
        n = 0
        for batch in batches:
            col = batch.column(0)
            if col.null_count:
                col = col.filter(col.is_valid())
            if len(col) == 0:
                continue
            lens = pc.list_value_length(col).to_numpy()
            if (lens != D).any():
                raise ValueError(
                    f"pca_top_component: ragged vectors, expected {D} "
                    f"elements per row, got lengths {sorted(set(lens.tolist()))}"
                )
            # null ELEMENTS contribute nothing to the sums (the SQL
            # sum/avg semantics); the per-dim mean divides by the
            # non-null count, the second moment by the row count
            flat = col.flatten()
            valid = flat.is_valid().to_numpy(zero_copy_only=False).reshape(-1, D)
            X = flat.fill_null(0.0).to_numpy(zero_copy_only=False).reshape(-1, D)
            S += X.T @ X
            m += X.sum(axis=0)
            c += valid.sum(axis=0)
            n += X.shape[0]
        yield pa.record_batch(
            [
                pa.array([S.ravel().tolist()], pa.list_(pa.float64())),
                pa.array([m.tolist()], pa.list_(pa.float64())),
                pa.array([c.tolist()], pa.list_(pa.int64())),
                pa.array([n], pa.int64()),
            ],
            names=["s", "m", "c", "n"],
        )

    parts = (
        vectors.select(F.col(vec_col).cast("array<double>").alias("v"))
        .mapInArrow(
            _moments, "s array<double>, m array<double>, c array<long>, n long"
        )
        .collect()
    )
    S = np.zeros((D, D), dtype=np.float64)
    msum = np.zeros(D, dtype=np.float64)
    csum = np.zeros(D, dtype=np.int64)
    n_total = 0
    for r in parts:
        S += np.asarray(r["s"], dtype=np.float64).reshape(D, D)
        msum += np.asarray(r["m"], dtype=np.float64)
        csum += np.asarray(r["c"], dtype=np.int64)
        n_total += int(r["n"])
    # an empty corpus (or an all-null dim) sums to zero: divide by 1, not 0
    mrows = {i: float(msum[i] / max(csum[i], 1)) for i in range(D)}
    n_div = max(n_total, 1)
    C = [
        [float(S[i][j] / n_div) - mrows[i] * mrows[j] for j in range(D)]
        for i in range(D)
    ]
    import math

    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(int(iters)):
        w = [0.0] * dim
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc += C[i][j] * v[j]
            w[i] = acc
        norm = math.sqrt(sum(wi * wi for wi in w))
        if norm == 0.0:  # zero covariance: every direction is a fixed point
            break
        v = [wi / norm for wi in w]
    mx = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[mx] < 0:
        v = [-vi for vi in v]
    w = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
    lam = sum(v[i] * w[i] for i in range(dim))
    trace = sum(C[i][i] for i in range(dim))
    var_explained = round(lam / trace, 6) if trace else 0.0
    spark = vectors.sparkSession
    rows = [
        (i, round(mrows[i], 6), round(v[i], 6), var_explained)
        for i in range(dim)
    ]
    return spark.createDataFrame(
        rows, "dim int, mean double, pc1 double, var_explained double"
    )


def ann_recall_report(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    floors: "dict[str, float] | None" = None,
) -> DataFrame:
    """One recall scorecard across the repo's sublinear ANN regimes —
    the eval harness that answers "which index do I deploy": IVF, SQ8
    and PQ top-k lists are each intersected with the exact cosine
    top-k (the same reference `lsh_recall` uses), per query.  Every
    path is seed-free and integer-quantized, so the measured recall is
    a deterministic arithmetic fact; like `lsh_recall`, the raw
    neighbor lists stay non-oracled and the ORACLE asserts the
    per-method floor booleans plus the exact-side counts (a silent
    recall collapse in any regime breaks the value hash).

    Output: (method, query_id, n_exact, recall_floor_met), one row per
    method × query.

    Scale: the exact reference is the labeled O(N·Q) baseline — at
    10^10 vectors swap it for a held-out ground-truth table (the
    standard ANN-benchmarks protocol); the three approximate arms are
    the production paths unchanged.
    """
    if floors is None:
        floors = {"ivf": 0.5, "sq8": 0.8, "pq": 0.2}
    exact = cosine_topk_bruteforce(emb, queries, k=k).select(
        "query_id", "vec_id"
    )
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    arms = {
        "ivf": ivf_ann(emb, queries, k=k).select("query_id", "vec_id"),
        "sq8": sq8_ann(emb, queries, k=k).select("query_id", "vec_id"),
        "pq": pq_ann(emb, queries, k=k).select("query_id", "vec_id"),
    }
    out = None
    for name, approx in arms.items():
        hits = exact.join(approx, ["query_id", "vec_id"], "left_semi")
        n_hit = hits.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        rep = n_exact.join(n_hit, "query_id", "left").select(
            F.lit(name).alias("method"),
            "query_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")
                >= F.lit(float(floors[name]))
            ).alias("recall_floor_met"),
        )
        out = rep if out is None else out.unionByName(rep)
    return out


def dim_truncation_eval(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 5,
    fracs: tuple = (1, 2, 4),
    round_dp: int = 6,
) -> DataFrame:
    """Matryoshka-style truncation evaluation (Kusupati 2022): how much
    exact top-k cosine recall survives when embeddings are cut to a
    PREFIX of their dimensions — the sizing decision every 100 TB
    vector store makes (half the dims = half the storage, the RAM, and
    the ANN scan bandwidth; MRL-trained models concentrate signal in
    the prefix precisely so pipelines can truncate).  This is the
    measurement that says whether YOUR embedding column tolerates it.

    For each f in ``fracs``: truncate every vector to D//f prefix dims,
    rerank each probe query's neighbors exactly, and score overlap@k
    against the full-dimension exact top-k.  One row per f:
    (frac, dims, k, n_queries, recall) — recall = |topk_trunc ∩
    topk_full| / (n_queries*k); frac=1 is the tautological 1.0 row
    (harness sanity).

    Ties settle by (round(cos, 9) desc, vec_id) — the
    cosine_topk_bruteforce contract, reused here so both engines of the
    gate rank identically (dots are exact integer sums in double).

    Scale: the per-frac rerank is the LABELED O(Q*N) exact baseline
    (Q = n_queries probes, broadcast side) — the evaluation harness,
    not the serving path; production reranks only ANN candidates
    (`ann_ivf`/`ann_pq`), and this report is what licenses them to do
    it at D//f.
    """
    dinfo = emb.agg(
        F.min(F.size("embedding")).cast("int").alias("full_d")
    )
    base = emb.crossJoin(F.broadcast(dinfo))

    def topk_at(frac: int) -> DataFrame:
        dims = (F.col("full_d") / F.lit(frac)).cast("int")
        t = base.select(
            "vec_id", F.slice("embedding", F.lit(1), dims).alias("e")
        )
        q = t.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            _norm(F.col("e")).alias("qn"),
        )
        c = t.select(
            "vec_id", F.col("e").alias("ce"), _norm(F.col("e")).alias("cn")
        )
        # zero-norm guard: a vector whose truncated prefix is all zeros
        # has undefined cosine — score it 0 (both engines replay this)
        denom_c = F.col("qn") * F.col("cn")
        scored = (
            q.crossJoin(c)
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn(
                "cos_r",
                F.when(denom_c == 0.0, F.lit(0.0)).otherwise(
                    F.round(
                        _dot(F.col("qe"), F.col("ce")) / denom_c, 9
                    )
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_r"), F.asc("vec_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id")
        )

    full = topk_at(1).persist()
    denom = float(n_queries * k)
    out = None
    for f in fracs:
        hits = (
            (full if f == 1 else topk_at(f))
            .join(full, ["query_id", "vec_id"], "left_semi")
            .agg(F.count("*").alias("n_hit"))
        )
        row = hits.crossJoin(F.broadcast(dinfo)).select(
            F.lit(int(f)).cast("int").alias("frac"),
            (F.col("full_d") / F.lit(f)).cast("int").alias("dims"),
            F.lit(int(k)).cast("int").alias("k"),
            F.lit(int(n_queries)).cast("int").alias("n_queries"),
            F.round(F.col("n_hit") / F.lit(denom), round_dp).alias(
                "recall"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


def embedding_drift(
    side_a: DataFrame,
    side_b: DataFrame,
    round_dp: int = 6,
) -> DataFrame:
    """Distribution drift between two embedding populations (train vs
    validation split, last month's crawl vs this month's, pre- vs
    post-filter corpus): compare the MEAN vectors — the cheapest
    first-moment drift check a 100 TB pipeline runs before trusting
    that a new increment looks like the corpus it joins (the embedding
    twin of `split_divergence`'s token-distribution check).

    One row: (n_a, n_b, mean_cosine, top_drift_dim, top_drift) —
    mean_cosine is the cosine between the two mean vectors (1.0 = same
    direction), top_drift_dim the dimension with the largest absolute
    mean gap (round-9 tie-break, then smallest dim — the house rank
    contract), top_drift that gap rounded.

    Scale: each side is ONE posexplode + partial-aggregated (dim) sum —
    map-side combined, D-sized result; everything downstream rides
    D-row frames.  No joins touch the corpus twice, no windows over
    data (the final argmax orders a D-row frame via orderBy().limit(1)
    = TakeOrderedAndProject).
    """

    def dim_means(df, side):
        return (
            df.select(F.posexplode("embedding").alias("pos", "v"))
            .groupBy("pos")
            .agg(
                (F.sum(F.col("v").cast("double")) / F.count("*")).alias(
                    f"m_{side}"
                )
            )
        )

    na = side_a.agg(F.count("*").cast("long").alias("n_a"))
    nb = side_b.agg(F.count("*").cast("long").alias("n_b"))
    m = dim_means(side_a, "a").join(dim_means(side_b, "b"), "pos")
    dot = m.agg(
        F.sum(F.col("m_a") * F.col("m_b")).alias("ab"),
        F.sqrt(F.sum(F.col("m_a") * F.col("m_a"))).alias("na_"),
        F.sqrt(F.sum(F.col("m_b") * F.col("m_b"))).alias("nb_"),
    ).select(
        F.when(
            F.col("na_") * F.col("nb_") == 0.0, F.lit(0.0)
        )
        .otherwise(
            F.round(F.col("ab") / (F.col("na_") * F.col("nb_")), round_dp)
        )
        .alias("mean_cosine")
    )
    top = (
        m.select(
            "pos",
            F.round(F.abs(F.col("m_a") - F.col("m_b")), 9).alias("d9"),
            F.abs(F.col("m_a") - F.col("m_b")).alias("d"),
        )
        .orderBy(F.desc("d9"), F.asc("pos"))
        .limit(1)
        .select(
            F.col("pos").cast("int").alias("top_drift_dim"),
            F.round("d", round_dp).alias("top_drift"),
        )
    )
    return (
        na.crossJoin(nb)
        .crossJoin(dot)
        .crossJoin(top)
        .select("n_a", "n_b", "mean_cosine", "top_drift_dim", "top_drift")
    )


def pq_advisor(
    emb: DataFrame,
    m: int = 8,
    k: int = 256,
    round_dp: int = 6,
) -> DataFrame:
    """Product-quantization sizing calculator — the design sheet for
    this repo's own `pq_ann` path (Jégou 2011): m subvectors of D/m
    dims, k centroids each, gives codes of m*log2(k) bits per vector,
    a codebook of m*k*(D/m) floats, and a compression ratio of
    32*D / (m*log2(k)) versus float32 storage.  The advisor emits the
    arithmetic over the CORPUS'S OWN (n_vecs, D) so capacity review is
    a query — the bloom/cuckoo/lsh advisor shape, completing the
    four-advisor family (seen-filter x2, LSH banding, PQ codes).

    One row: (n_vecs, dim, m, k, code_bits, codes_mib, codebook_mib,
    compression_x).  m must divide D for pq_ann; the advisor emits the
    row regardless and flags divisibility (`m_divides_dim`) so the
    review catches the misconfiguration.

    Scale: one count+min aggregate; arithmetic rides the 1-row result.
    """
    import math

    code_bits = int(m * math.log2(k))
    agg = emb.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.min(F.size("embedding")).cast("int").alias("dim"),
    )
    return agg.select(
        "n_vecs",
        "dim",
        F.lit(int(m)).cast("int").alias("m"),
        F.lit(int(k)).cast("int").alias("k"),
        F.lit(code_bits).cast("int").alias("code_bits"),
        F.round(
            F.col("n_vecs") * F.lit(code_bits)
            / F.lit(8.0 * 1024 * 1024),
            round_dp,
        ).alias("codes_mib"),
        F.round(
            F.lit(float(m * k))
            * (F.col("dim") / F.lit(float(m)))
            * F.lit(4.0)
            / F.lit(1024.0 * 1024),
            round_dp,
        ).alias("codebook_mib"),
        F.round(
            F.lit(32.0) * F.col("dim") / F.lit(float(code_bits)),
            round_dp,
        ).alias("compression_x"),
        (F.col("dim") % F.lit(int(m)) == 0).alias("m_divides_dim"),
    )
