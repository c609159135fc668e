"""Similarity search over embedding columns.

- ``cosine_expr`` — exact cosine as an in-order double fold
  (``zip_with`` + ``aggregate``), bit-reproducible across engines.
- ``topk_bruteforce`` — exact top-k: broadcast the (small) query set,
  score every corpus vector, window top-k per query. The right
  baseline at any scale where |queries| is small: one broadcast, no
  shuffle on the corpus side until the final per-query top-k (which
  AQE keeps tiny because scores are filtered by rank).
- ``lsh_buckets`` / ``topk_lsh`` — the scale path: deterministic
  random-hyperplane LSH (sign bits of md5-derived +-1 planes), so
  candidates are restricted to the query's bucket. Bucketing is a pure
  per-row expression; the candidate join is an equi-join on the bucket
  key. Trades recall for a ~2^bits candidate reduction; recall is
  measured against the brute-force baseline in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cosine_expr(a: str, b: str) -> Column:
    """Exact cosine similarity between two array<float|double> columns,
    computed in-order in double (deterministic across engines)."""
    return F.expr(
        f"""
        aggregate(zip_with(transform({a}, x -> cast(x as double)),
                           transform({b}, x -> cast(x as double)),
                           (x, y) -> x * y),
                  cast(0.0 as double), (acc, v) -> acc + v)
        / (sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),
                          cast(0.0 as double), (acc, v) -> acc + v))
           * sqrt(aggregate(transform({b}, x -> cast(x as double) * cast(x as double)),
                            cast(0.0 as double), (acc, v) -> acc + v)))
        """
    )


def dot_expr(a: str, b: str) -> Column:
    """In-order double dot product of two array columns."""
    return F.expr(
        f"""
        aggregate(zip_with(transform({a}, x -> cast(x as double)),
                           transform({b}, x -> cast(x as double)),
                           (x, y) -> x * y),
                  cast(0.0 as double), (acc, v) -> acc + v)
        """
    )


def norm_expr(a: str) -> Column:
    """Euclidean norm of an array column (in-order double fold)."""
    return F.sqrt(
        F.expr(
            f"""
            aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),
                      cast(0.0 as double), (acc, v) -> acc + v)
            """
        )
    )


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (self-matches excluded).

    Returns (query_id, neighbor_id, cosine, rank); cosine rounded to
    6 dp and ties broken by neighbor id for cross-engine determinism.
    """
    from pyspark.sql import Window

    # norms are per-VECTOR, computed once before the pair join —
    # folding them per pair would triple the interpreted lambda work
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_expr("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All neighbors with cosine >= ``threshold`` per query vector
    (self-matches excluded) — the radius/range twin of
    ``topk_bruteforce``: same broadcast-queries x corpus-scan shape and
    per-vector precomputed norms, but an unbounded result set filtered
    by score instead of a window top-k (no shuffle at all: the only
    wide op in top-k was the rank window). Returns
    (query_id, neighbor_id, cosine)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col).alias("cn"),
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_expr("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias(
                "cosine"
            ),
        )
        # same optimizer fence as cosine_near_dup_pairs: evaluate the
        # dot fold once, never inside a scan-level predicate
        .withColumn("__fence", F.rand(seed=0))
        .filter((F.col("cosine") >= threshold) | (F.col("__fence") < -1))
        .drop("__fence")
    )


def _plane(j: int, dims: int) -> list[float]:
    """Plane ``j``: component ``d`` is +-1 by the parity of the first
    hex digit of ``md5(j || '|' || d)`` — the same values the previous
    in-expression formulation computed with per-row md5 calls."""
    import hashlib

    out = []
    for d in range(dims):
        h = hashlib.md5(f"{j}|{d}".encode()).hexdigest()
        out.append(1.0 if "0123456789abcdef".index(h[0]) % 2 == 0 else -1.0)
    return out


def lsh_bucket_expr(
    vec_col: str, n_planes: int = 8, dims: int = 64, plane_seed: int = 0
) -> Column:
    """Deterministic random-hyperplane bucket id.

    The +-1 plane matrix is a pure function of (plane, dimension), so
    it is precomputed driver-side and embedded as literal arrays —
    the previous formulation re-derived it with md5 calls inside the
    lambda for every row (n_planes x dims interpreted hashes per
    vector). Bucket = integer of the ``n_planes`` projection signs.
    """
    plane_sql = ", ".join(
        "array(" + ", ".join(f"{v:.1f}D" for v in _plane(j, dims)) + ")"
        for j in range(plane_seed, plane_seed + n_planes)
    )
    return F.expr(
        f"""
        aggregate(
            transform(array({plane_sql}),
                p -> CASE WHEN aggregate(
                        zip_with({vec_col}, p, (x, w) -> cast(x as double) * w),
                        cast(0.0 as double), (acc, v) -> acc + v) > 0
                     THEN 1L ELSE 0L END),
            0L, (acc, bit) -> acc * 2L + bit)
        """
    )


def lsh_banded(
    df: DataFrame,
    out_id: str,
    vec_out: str,
    norm_out: str,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Explode a vector table into its multi-table LSH band rows:
    one row per (vector, table) carrying (id, vector, norm, table id,
    sign-bucket).  This IS the LSH index — build it once per corpus,
    persist (or write it bucketed by (t, bucket) at warehouse scale),
    and probe it with many query batches; re-hashing the corpus per
    search re-pays n_tables x n_planes x dims codegen work per row
    (the round-5 bench regression on ``ann_lsh_topk``)."""
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                lsh_bucket_expr(vec_col, n_planes, plane_seed=t * n_planes).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
    )
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias(vec_out),
        norm_expr(vec_col).alias(norm_out),
        F.explode(buckets).alias("tb"),
    ).select(
        out_id,
        vec_out,
        norm_out,
        F.col("tb.t").alias("t"),
        F.col("tb.bucket").alias("bucket"),
    )


def topk_lsh(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    banded_corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH.

    ``n_tables`` independent hash tables of ``n_planes`` sign bits
    each; a pair is a candidate if it collides in ANY table (the
    standard recall amplifier: miss probability decays exponentially
    in the table count while candidates stay ~``n_tables / 2^n_planes``
    of the corpus per query). Candidates dedup BEFORE the exact cosine
    so collisions in several tables are scored once. Equi-join on
    (table, bucket); same output shape as ``topk_bruteforce``.

    Pass a prebuilt ``banded_corpus`` (from :func:`lsh_banded` with the
    SAME n_planes/n_tables) to amortize the index across query batches
    — production LSH hashes the corpus once at index-build time, not
    per search (the catalog caches it per corpus).
    """
    from pyspark.sql import Window

    q = lsh_banded(
        queries, "query_id", "qv", "qn", n_planes, n_tables, id_col, vec_col
    )
    c = (
        banded_corpus
        if banded_corpus is not None
        else lsh_banded(
            corpus, "neighbor_id", "cv", "cn", n_planes, n_tables, id_col, vec_col
        )
    )
    cand = (
        c.join(F.broadcast(q), on=["t", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(dot_expr("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


#: Lloyd-mean quantization scale (2^20): float32 * 2^20 is exact in
#: double, so the per-(cell, dim) sum is an exact BIGINT aggregate —
#: order-independent and engine-independent.  Shared with the
#: centroid oracle restatement in catalog/similarity.py.
MEAN_SCALE = 1 << 20


def _unit(vec: list[float]) -> list[float]:
    n = sum(x * x for x in vec) ** 0.5 or 1.0
    return [x / n for x in vec]


def _dot_lit(vec_col: str, centroid: list[float]) -> Column:
    """In-order double dot of an array column with a literal vector."""
    arr = "array(" + ", ".join(f"{w!r}D" for w in centroid) + ")"
    return F.expr(
        f"""
        aggregate(zip_with({vec_col}, {arr}, (x, w) -> cast(x as double) * w),
                  cast(0.0 as double), (acc, v) -> acc + v)
        """
    )


def derived_ivf_cells(
    n_vectors: int, min_cells: int = 16, max_cells: int = 1 << 20
) -> int:
    """The sqrt(N)-tracking IVF cell count: ``round(sqrt(N))`` clamped
    to ``[min_cells, max_cells]``.

    With cells ~ sqrt(N) both per-cell population AND quantizer size
    grow as sqrt(N), so the probe join's per-query candidate count
    (n_probe * N / cells) grows sub-linearly and the k-NN join's
    shuffle keys keep enough cardinality to spread — the round-9
    stress measured the FIXED 16-cell quantizer degrading 9.4s ->
    66.3s at 30x corpus while the sqrt-tracked one held ~linear
    (SCALE.md). ``min_cells`` keeps tiny corpora at the historical
    small-SF behavior; ``max_cells`` (2^20) caps the literal-vector
    assign expression at a size codegen still swallows — past that a
    corpus wants a two-level quantizer, not more flat cells."""
    import math

    return int(min(max_cells, max(min_cells, round(math.sqrt(max(n_vectors, 0))))))


def derived_ivf_probes(
    n_cells: int, probe_frac: float = 0.25, min_probe: int = 4
) -> int:
    """The cell-tracking probe count: ``round(n_cells * probe_frac)``,
    at least ``min_probe``, at most every cell.

    Recall is monotone in the probed FRACTION of the corpus, so a
    fixed ``n_probe`` under a sqrt(N)-tracked cell count silently
    shrinks that fraction and decays recall as the corpus grows —
    measured on the 10x scratch corpus: recall@5 fell 0.62 -> 0.25
    with n_probe pinned at 4 while cells grew 16 -> 141, and holding
    the fraction at the small-SF contract (4/16 = 25%, n_probe =
    cells/4 = 36) restored it to 0.77 (SCALE.md). The default
    therefore preserves the probed fraction: per-query candidate work
    is ``probe_frac * N`` (a constant-factor win over brute force that
    holds recall on ANY distribution — the synthetic near-uniform
    corpus is the worst case); strongly clustered real corpora can
    lower ``probe_frac`` for the classical sub-linear probe regime."""
    # the cell cap wins over min_probe: a 3-cell quantizer probes at
    # most 3 cells, never a "minimum" 4 that silently scans everything
    return int(min(n_cells, max(min_probe, round(n_cells * probe_frac))))


def ivf_centroids(
    df: DataFrame,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 1,
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: unit-norm centroids.

    ``n_centroids=None`` (the default) derives the cell count from the
    corpus size via :func:`derived_ivf_cells` — one ``count()``
    aggregate, paid once per index build (the same scan the seed
    selection pays anyway). Pass an explicit value to pin a
    configuration; the catalog pins ``IVF_N_CENTROIDS=16`` as its
    small-SF oracle-portable contract (catalog/similarity.py), and the
    10x stress harness exercises both (scripts/stress_batch_10x.py).

    Seeds are the ``n_centroids`` vectors with the smallest
    ``md5(id)`` (a content-addressed "random" sample — same seeds on
    every engine and every run), refined by ``refine_iters`` Lloyd
    steps computed distributed: assign every vector to its nearest
    seed (pure per-row expression), then per-(cluster, dimension)
    mean via posexplode + groupBy (map-side combinable; at 100 TB the
    build would run on a hash-sampled fraction — the assign/search
    path is unchanged). Only ``n_centroids x dims`` floats are ever
    collected to the driver.

    The Lloyd mean is computed in *quantized integer* arithmetic:
    ``sum(floor(val * 2^20)) / (count * 2^20)``.  float32 x 2^20 is
    exact in double (24 + 20 bits < 53), the BIGINT sum is exact and
    order-independent, and the single final division is correctly
    rounded — so the centroids are bit-identical regardless of
    partitioning, task order, or engine.  A plain float ``avg`` is
    summation-order-dependent, which would make the quantizer (and
    hence every IVF candidate set) irreproducible across engines —
    this is what lets ``ann_ivf_topk`` carry a full value-check
    DuckDB oracle instead of a recall certificate.
    """
    if n_centroids is None:
        n_centroids = derived_ivf_cells(df.count())
    seeds = [
        _unit([float(x) for x in r[0]])
        for r in (
            df.select(vec_col, F.md5(F.col(id_col).cast("string")).alias("__h"))
            .orderBy("__h", F.col(id_col))
            .limit(n_centroids)
            .collect()
        )
    ]
    dims = len(seeds[0])
    for _ in range(refine_iters):
        assigned = df.select(
            F.col(vec_col).alias("__v"),
            ivf_assign_expr(vec_col, seeds).alias("__cid"),
        )
        means = (
            assigned.select("__cid", F.posexplode("__v").alias("__pos", "__val"))
            .groupBy("__cid", "__pos")
            .agg(
                F.sum(
                    F.floor(
                        F.col("__val").cast("double") * F.lit(float(MEAN_SCALE))
                    ).cast("long")
                ).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .collect()
        )
        by_cid: dict[int, list[float]] = {}
        for r in means:
            by_cid.setdefault(r["__cid"], [0.0] * dims)[r["__pos"]] = r["__s"] / (
                r["__n"] * MEAN_SCALE
            )
        seeds = [
            _unit(by_cid[c]) if c in by_cid else seeds[c]
            for c in range(len(seeds))
        ]
    return seeds


def ivf_assign_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id (0-based) as a pure per-row expression —
    no shuffle, no UDF. Centroids are unit-norm, so argmax of the
    plain dot product IS argmax of cosine (the row norm is a common
    positive factor). Ties resolve to the lowest centroid id."""
    scores = F.array(*[_dot_lit(vec_col, c) for c in centroids])
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _ranked_cells_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    """ALL centroid ids ranked by descending dot product (ties by cid
    ASC), as an array of (neg, cid) structs — the single source of the
    probe ordering shared by :func:`ivf_probes_expr` (fixed-count cut)
    and :func:`occupancy_probes_expr` (occupancy cut), so the two cuts
    can never diverge on ordering or tie-breaks."""
    return F.array_sort(
        F.array(
            *[
                F.struct(
                    (-_dot_lit(vec_col, c)).alias("neg"),
                    F.lit(i).alias("cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
    )


def ivf_probes_expr(
    vec_col: str, centroids: list[list[float]], n_probe: int
) -> Column:
    """The ``n_probe`` nearest centroid ids for a query vector, as an
    array (explode to fan the query out over its probe cells)."""
    ranked = _ranked_cells_expr(vec_col, centroids)
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["cid"])


def occupancy_probes_expr(
    vec_col: str,
    centroids: list[list[float]],
    cell_counts: list[int],
    coverage: float = 0.25,
    min_probe: int = 1,
    corpus_n: int | None = None,
) -> Column:
    """OCCUPANCY-AWARE probe list: the query's distance-ranked cells,
    cut at the SHORTEST prefix whose cumulative inverted-file
    occupancy reaches ``coverage`` of the corpus — the per-query
    variable-probe answer to :func:`derived_ivf_probes`'s fixed
    ``cells/4``.

    Rationale (round-12 verdict item 6): recall tracks the probed
    FRACTION OF THE CORPUS, not the probed cell count. A fixed count
    spends the same probes everywhere: on a clustered corpus a query
    near a dense cluster reaches its coverage in 1-2 cells (the rest
    of the fixed budget buys nothing), while a query in a sparse
    region probes 4 near-empty cells and covers almost none of the
    corpus (the recall hole the fixed-4 clustered row shows —
    SCALE.md 0.778). Cutting by cumulative occupancy equalizes the
    candidate work per query: uniform corpora degenerate to the
    constant-fraction default (every prefix of k cells covers k/C),
    clustered corpora spend few probes on dense queries and more on
    sparse ones at the SAME total candidate volume.

    The whole computation is one per-row expression (no shuffle, no
    UDF): rank all C cells by the literal dot (the
    :func:`ivf_probes_expr` sort), attach each cell's count from a
    literal array, fold once to find the cut position, slice. The
    counts come from the inverted file — C integers, a bounded
    collect the index build already affords.

    ``cell_counts`` must come from a single-assignment (m=1) inverted
    file for ``coverage`` to keep its fraction-of-corpus meaning: a
    multi-assigned (m>1) file's counts sum to ~m x corpus size, which
    silently inflates the coverage target by the same factor. When the
    counts ARE multi-assigned (the dedup-side m=2 file), pass the true
    ``corpus_n`` explicitly — the target becomes
    ``ceil(coverage * corpus_n)`` and the counts only pace the cut.
    """
    import math

    ranked = _ranked_cells_expr(vec_col, centroids)
    cnts = F.array(*[F.lit(int(c)) for c in cell_counts])
    denom = corpus_n if corpus_n is not None else sum(cell_counts)
    target = F.lit(int(math.ceil(coverage * max(1, denom))))
    with_cnt = F.transform(
        ranked,
        lambda s: F.element_at(cnts, s["cid"] + 1),
    )
    # fold to the cut: k = number of ranked cells consumed before the
    # cumulative count first reaches the target (>= comparison BEFORE
    # adding, so exactly-reached prefixes stop growing)
    cut = F.aggregate(
        with_cnt,
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(0).alias("k")
        ),
        lambda acc, c: F.when(acc["cum"] >= target, acc).otherwise(
            F.struct(
                (acc["cum"] + c.cast("long")).alias("cum"),
                (acc["k"] + F.lit(1)).alias("k"),
            )
        ),
    )["k"]
    n = F.greatest(F.lit(int(min_probe)), cut)
    return F.transform(F.slice(ranked, F.lit(1), n), lambda s: s["cid"])


def ivf_assigned(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its IVF cell: one row per vector
    carrying (id, vector, norm, cell id).  This is the inverted file —
    build it once per corpus (persist, or write it partitioned by
    ``cid`` at warehouse scale) and probe it with many query batches;
    re-assigning per search re-pays n_centroids x dims literal-dot
    codegen work per row (the round-5 bench regression on
    ``ann_ivf_topk``)."""
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col).alias("cn"),
        ivf_assign_expr(vec_col, centroids).alias("cid"),
    )


def topk_ivf(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    assigned_corpus: DataFrame | None = None,
    coverage: float | None = None,
    cell_counts: list[int] | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    The corpus is partitioned into ``n_centroids`` Voronoi cells by a
    coarse quantizer (deterministic k-means, ``ivf_centroids``); each
    query probes its ``n_probe`` nearest cells and scores only those
    candidates. Versus LSH: candidates are data-adapted (cells follow
    the distribution) rather than fixed random halfspaces. Assignment
    is a per-row expression against literal centroids (broadcast-free),
    the candidate join is an equi-join on the cell id, and the exact
    re-rank only sees ~``n_probe / n_centroids`` of the corpus per
    query. Output shape matches ``topk_bruteforce``; recall is
    measured against it in tests.

    Pass a prebuilt ``centroids`` list and/or ``assigned_corpus``
    frame (from :func:`ivf_assigned` with the same centroids) to
    amortize the index across query batches — production IVF builds
    the quantizer AND the inverted file once, not per search (the
    catalog caches both per corpus).  ``assigned_corpus`` requires
    ``centroids`` (the probe expressions need the literal vectors).
    ``n_centroids=None`` (default) derives the cell count from the
    corpus size (:func:`derived_ivf_cells`, sqrt(N)-tracking) when no
    prebuilt ``centroids`` are given — and once the resolved cell
    count crosses :data:`TWO_LEVEL_CELL_THRESHOLD`, the build routes
    to the two-level quantizer automatically (:func:`topk_two_level`
    with the probe budget mapped to preserve the probed fraction): a
    100 TB caller on the default path cannot take the O(n x cells)
    flat assignment.

    ``coverage`` (opt-in) switches the probe selection to
    OCCUPANCY-AWARE probing (:func:`occupancy_probes_expr`): instead
    of a fixed ``n_probe`` cells per query, each query probes its
    distance-ranked cells until their cumulative inverted-file
    occupancy reaches ``coverage`` of the corpus — equalizing
    candidate work per query on skewed/clustered corpora (a fixed
    count overspends on dense queries and starves sparse ones). The
    cell counts come from ``cell_counts`` when given (amortize them
    alongside the prebuilt index — the catalog caches them per
    corpus) and are otherwise read from the inverted file here (one
    bounded C-row collect PER CALL — fine ad-hoc, wasteful in a
    build-once/probe-many loop). Flat path only: the routed two-level
    path raises (apply coverage at the coarse level by passing
    explicit sub-threshold ``centroids`` instead).
    """
    from pyspark.sql import Window

    if centroids is None:
        if n_centroids is None:
            n_centroids = derived_ivf_cells(corpus.count())
        if n_centroids > TWO_LEVEL_CELL_THRESHOLD:
            if coverage is not None:
                raise ValueError(
                    "coverage (occupancy-aware probing) is a flat-path "
                    "option; the derived build routes two-level past "
                    f"{TWO_LEVEL_CELL_THRESHOLD} cells — pass explicit "
                    "centroids to pin the flat path"
                )
            coarse, fine, assigned, fine_n = build_two_level_index(
                corpus, n_centroids, id_col=id_col, vec_col=vec_col
            )
            npc, npf = _two_level_probe_budget(
                len(coarse), fine_n, n_probe, requested_cells=n_centroids
            )
            return topk_two_level(
                corpus,
                queries,
                coarse,
                fine,
                assigned,
                fine_n,
                k=k,
                n_probe_coarse=npc,
                n_probe_fine=npf,
                id_col=id_col,
                vec_col=vec_col,
            )
        centroids = ivf_centroids(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )
    if n_probe is None:
        n_probe = derived_ivf_probes(len(centroids))
    c = (
        assigned_corpus
        if assigned_corpus is not None
        else ivf_assigned(corpus, centroids, id_col=id_col, vec_col=vec_col)
    )
    if coverage is not None:
        if cell_counts is None:
            # cell sizes from the inverted file — a bounded C-row
            # collect, but PER CALL; amortizing callers pass them in
            cell_counts = [0] * len(centroids)
            for r in c.groupBy("cid").count().collect():
                cell_counts[r["cid"]] = int(r["count"])
        probes = occupancy_probes_expr(
            vec_col, centroids, cell_counts, coverage=coverage
        )
    else:
        probes = ivf_probes_expr(vec_col, centroids, n_probe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col).alias("qn"),
        F.explode(probes).alias("cid"),
    )
    scored = (
        c.join(F.broadcast(q), on="cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_expr("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def radius_search_ivf(
    corpus: DataFrame | None,
    queries: DataFrame,
    threshold: float,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    assigned_corpus: DataFrame | None = None,
    coverage: float | None = None,
    cell_counts: list[int] | None = None,
) -> DataFrame:
    """Range (radius) search THROUGH the IVF index: every neighbor
    with cosine >= ``threshold``, scoring only the query's ``n_probe``
    probed cells — the indexed twin of :func:`range_search`, for
    corpora too large to scan per query batch. Same probe machinery
    and index-sharing contract as :func:`topk_ivf` (pass the prebuilt
    ``centroids`` + ``assigned_corpus``; build once, probe many), but
    the tail is a threshold FILTER instead of the per-query rank
    window — no shuffle at all after the broadcast probe join.
    Approximation semantics: candidates outside the probed cells are
    missed (exactly top-k IVF's trade); every RETURNED pair carries
    its exact cosine, so results are a subset of :func:`range_search`
    with identical scores. Returns (query_id, neighbor_id, cosine).
    Default build routes to the two-level index past
    :data:`TWO_LEVEL_CELL_THRESHOLD` cells, like :func:`topk_ivf`.

    ``coverage`` / ``cell_counts``: same occupancy-aware probing
    opt-in as :func:`topk_ivf` (per-query variable probe lists cut at
    a target cumulative inverted-file occupancy; flat path only —
    completes the fixed/occupancy x topk/radius matrix at the
    operator level)."""
    if centroids is None:
        n_cells = derived_ivf_cells(corpus.count())
        if n_cells > TWO_LEVEL_CELL_THRESHOLD:
            if coverage is not None:
                raise ValueError(
                    "coverage (occupancy-aware probing) is a flat-path "
                    "option; the derived build routes two-level past "
                    f"{TWO_LEVEL_CELL_THRESHOLD} cells — pass explicit "
                    "centroids to pin the flat path"
                )
            coarse, fine, assigned, fine_n = build_two_level_index(
                corpus, n_cells, id_col=id_col, vec_col=vec_col
            )
            npc, npf = _two_level_probe_budget(
                len(coarse), fine_n, n_probe, requested_cells=n_cells
            )
            return radius_two_level(
                queries,
                coarse,
                fine,
                assigned,
                fine_n,
                threshold,
                n_probe_coarse=npc,
                n_probe_fine=npf,
                id_col=id_col,
                vec_col=vec_col,
            )
        centroids = ivf_centroids(
            corpus, n_centroids=n_cells, id_col=id_col, vec_col=vec_col
        )
    if n_probe is None:
        n_probe = derived_ivf_probes(len(centroids))
    c = (
        assigned_corpus
        if assigned_corpus is not None
        else ivf_assigned(corpus, centroids, id_col=id_col, vec_col=vec_col)
    )
    if coverage is not None:
        if cell_counts is None:
            cell_counts = [0] * len(centroids)
            for r in c.groupBy("cid").count().collect():
                cell_counts[r["cid"]] = int(r["count"])
        probes = occupancy_probes_expr(
            vec_col, centroids, cell_counts, coverage=coverage
        )
    else:
        probes = ivf_probes_expr(vec_col, centroids, n_probe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col).alias("qn"),
        F.explode(probes).alias("cid"),
    )
    return (
        c.join(F.broadcast(q), on="cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_expr("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias(
                "cosine"
            ),
        )
        # same optimizer fence as range_search: evaluate the dot fold
        # once, never inside a scan-level predicate
        .withColumn("__fence", F.rand(seed=0))
        .filter((F.col("cosine") >= threshold) | (F.col("__fence") < -1))
        .drop("__fence")
    )


def kcenter_coreset(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, float]]:
    """Greedy k-center coreset (farthest-first traversal): pick the
    min-id vector as the seed, then k-1 times pick the vector whose
    squared-L2 distance to its NEAREST already-chosen center is
    maximal — the classic 2-approximation to the k-center objective
    and the diversity-sampling primitive for training-data selection
    (coresets, active-learning seeds, prototype picks).

    Returns [(center_rank, id, min_dist2_at_selection)] — k rows of
    driver-side metadata; the argmax each round is a DISTRIBUTED
    TakeOrdered over the corpus (never a driver-side scan), and the
    only collected rows are the k chosen centers — the same
    iterative-driver-program pattern as :func:`ivf_centroids`. At
    100 TB you run the same loop on a hash-sampled fraction (greedy
    k-center is provably robust to sampling); the scan path is
    unchanged.

    The running min-distance is INCREMENTAL (round 13): each round
    persists (id, vec, dmin) with ``dmin = least(prev_dmin,
    dist2(vec, newest_center))`` and unpersists the previous frame —
    one literal-center distance per row per round, O(N·k·d) total,
    where the naive re-derivation (least over ALL chosen centers each
    round) pays O(N·k²·d) and grows a codegen expression with k.
    ``least`` over exact doubles is associative with no rounding, so
    the incremental min equals the all-at-once min bit-for-bit — the
    registered oracle (which unrolls every round in SQL) and the
    operator's own k-rows stay value-identical.

    Fully deterministic: the seed is the smallest id, per-round
    distances fold per-dimension in index order against literal
    center vectors (exact double op sequence, engine-portable), the
    min-over-centers is exact (no rounding), and the argmax
    tie-breaks on the lowest id."""
    # project + persist once: every greedy round scans the current
    # frame (the TakeOrdered argmax); without a persist each round
    # would re-read the source (parquet scan + decode per round). The
    # working set is (id, vec, running dmin) only.
    cur = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).persist()
    prev = cur
    # try/finally: a Spark failure mid-greedy-round (or the empty-input
    # raise below) must not leave a projection persisted for the rest
    # of a long-lived session (ADVICE r9)
    try:
        seed_rows = cur.orderBy("__id").limit(1).collect()
        if not seed_rows:
            raise ValueError("kcenter_coreset: input frame is empty")
        seed = seed_rows[0]
        centers: list[tuple[int, int, float]] = [(0, seed["__id"], 0.0)]
        seed_vec = [float(x) for x in seed["__v"]]
        cur, prev = (
            cur.select(
                "__id", "__v", F.expr(_dist2_lit("__v", seed_vec)).alias("__d")
            ).persist(),
            cur,
        )
        for r in range(1, k):
            chosen_ids = [c[1] for c in centers]
            nxt = (
                cur.filter(~F.col("__id").isin(chosen_ids))
                .orderBy(F.desc("__d"), F.asc("__id"))
                .limit(1)
                .collect()
            )
            # the TakeOrdered materialized cur's cache; the previous
            # round's frame is no longer referenced
            prev.unpersist()
            prev = cur
            if not nxt:
                # k exceeds the number of distinct ids: every row is
                # already a center — return the centers found so far
                # rather than raising from an empty collect (ADVICE r8)
                break
            row = nxt[0]
            centers.append((r, row["__id"], float(row["__d"])))
            new_vec = [float(x) for x in row["__v"]]
            cur = cur.select(
                "__id",
                "__v",
                F.least(
                    F.col("__d"), F.expr(_dist2_lit("__v", new_vec))
                ).alias("__d"),
            ).persist()
    finally:
        cur.unpersist()
        if prev is not cur:
            prev.unpersist()
    return centers


def knn_join_ivf(
    assigned_corpus: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-NN JOIN: every vector of a query SET gets its top-k corpus
    neighbors through the IVF index — the dataset-to-dataset retrieval
    primitive (link two embedded corpora, build a kNN graph, score a
    whole eval set) as opposed to :func:`topk_ivf`'s few-query probe.

    The structural difference is the join strategy: ``topk_ivf``
    broadcasts its handful of (query, probe-cell) rows, which is wrong
    when the query side is itself data-scale. Here BOTH sides are
    keyed by cell id and the candidate join is a plain shuffle
    equi-join — each side exchanges once on ``cid``, candidates form
    only within probed cells (never a cross join), and the per-query
    top-k window repartitions by ``query_id``. At 100 TB with
    ~sqrt(N) cells the cell key has enough cardinality to spread; AQE
    skew-split covers hot cells (data-adapted centroids keep cells
    near-balanced by construction).

    ``assigned_corpus`` is the prebuilt inverted file
    (:func:`ivf_assigned`) and ``centroids`` its quantizer — the
    build-once index frames, shared with every other IVF consumer."""
    from pyspark.sql import Window

    if n_probe is None:
        n_probe = derived_ivf_probes(len(centroids))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col).alias("qn"),
        F.explode(ivf_probes_expr(vec_col, centroids, n_probe)).alias("cid"),
    )
    scored = (
        assigned_corpus.join(q, on="cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_expr("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    salt: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by ``block_col``
    (or all-pairs when None). Returns (vec_a, vec_b, cosine >= thr).

    Blocking keys are low-cardinality by design (that's what makes
    them blocks), so the pair join is skewed: at most |blocks|
    reducers do all the scoring, and AQE coalesces the tiny-by-bytes
    exchange further even though per-pair cosine work is heavy. The
    probe side therefore gets a deterministic content salt
    (``hash(id) % salt``), the build side replicates ``salt`` ways,
    and both sides pin an explicit (block, salt) repartition that AQE
    cannot shrink — pair count and results are unchanged, parallelism
    becomes |blocks| x salt."""
    a = df.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("va"),
        norm_expr(vec_col).alias("na"),
    )
    b = df.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("vb"),
        norm_expr(vec_col).alias("nb"),
    )
    if block_col and salt > 1:
        # the session's shuffle width, not the host's cores: the count
        # lands in the analyzed plan (see partitioning.fanout_repartition)
        n = max(int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")), salt)
        a = a.withColumn("__s", F.pmod(F.hash("vec_a"), F.lit(salt)))
        b = b.withColumn("__s", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        keys = [block_col, "__s"]
        joined = (
            a.repartition(n, *keys)
            .join(b.repartition(n, *keys), on=keys)
            .drop("__s")
        )
    elif block_col:
        joined = a.join(b, on=block_col)
    else:
        joined = a.crossJoin(b)
    cos = F.round(dot_expr("va", "vb") / (F.col("na") * F.col("nb")), 6)
    return (
        joined.filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        # non-foldable rand fence: keeps the threshold filter from
        # being substituted below the projection, which would evaluate
        # the dot fold twice per pair (see functions/dates.py)
        .withColumn("__fence", F.rand(seed=0))
        .filter((F.col("cosine") >= threshold) | (F.col("__fence") < -1))
        .drop("__fence")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression ANN path.
#
# A 64-dim float32 vector is 256 bytes; its PQ code (PQ_M subspaces x
# one 4-bit codeword each) stores in PQ_M/2 bytes nibble-packed, a
# 32x shrink — the design that lets a 100 TB embedding corpus fit an
# in-memory index (Jégou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — public literature, cited for
# the algorithm shape only).  Search is ADC over the codes followed
# by an exact re-rank of the top-``shortlist`` candidates (the
# paper's IVFADC+R refinement — on near-uniform vectors 4-bit raw
# ADC ranking alone has large quantization error; the shortlist
# re-rank restores recall while still scanning only codes).
# Everything is deterministic so the whole pipeline is restatable as
# a DuckDB oracle: codebook seeds are content-addressed (smallest
# md5(vec_id), the ivf_centroids recipe), the one Lloyd refinement
# uses the exact quantized-integer mean, every argmin breaks ties on
# the lowest code id, and the ADC score folds its PQ_M lookup terms
# in subspace order.
# ---------------------------------------------------------------------------

PQ_M = 16         # subspaces (64 dims / 16 = 4-dim subvectors)
PQ_K = 16         # codewords per subspace (4-bit codes)
#: ADC candidates kept per query for exact re-rank. 50 gave 0.56
#: top-10 recall at sf0.1 (4-bit codes on near-uniform vectors are a
#: coarse ranking); 200 restores 0.82+ while the re-rank stays a
#: |queries| x 200 point-lookup — still ~1% of the sf0.1 corpus and
#: vanishing at warehouse scale, exactly the +R paper's knob.
PQ_SHORTLIST = 200


def _sub_sql(vec_col: str, m: int, sub_dim: int) -> str:
    """1-based slice of subspace ``m`` from an array column."""
    return f"slice({vec_col}, {m * sub_dim + 1}, {sub_dim})"


def _dist2_lit(vec_sql: str, centroid: list[float]) -> str:
    """In-order squared-L2 distance of a (sub)vector expression to a
    literal centroid — the same left-fold shape as ``_dot_lit`` so the
    oracle's ``list_reduce`` restatement is bit-identical."""
    arr = "array(" + ", ".join(f"{w!r}D" for w in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr},"
        f" (x, w) -> (cast(x as double) - w) * (cast(x as double) - w)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


def pq_encode_expr(
    vec_col: str, codebooks: list[list[list[float]]]
) -> Column:
    """PQ code array (one int per subspace) as a pure per-row
    expression: per subspace, the index of the nearest codeword by
    squared L2, ties to the lowest code id (``array_position`` finds
    the FIRST minimum)."""
    sub_dim = len(codebooks[0][0])
    per_m = []
    for m, cb in enumerate(codebooks):
        sub = _sub_sql(vec_col, m, sub_dim)
        scores = "array(" + ", ".join(_dist2_lit(sub, c) for c in cb) + ")"
        per_m.append(
            f"cast(array_position({scores}, array_min({scores})) - 1 as int)"
        )
    return F.expr("array(" + ", ".join(per_m) + ")")


def pq_codebooks(
    df: DataFrame,
    n_sub: int = PQ_M,
    n_codes: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train the PQ codebooks: ``n_sub`` independent ``n_codes``-way
    quantizers over the corpus' subvectors.

    Seeds are the ``n_codes`` vectors with the smallest ``md5(id)``
    (each contributes its m-th subvector to subspace m — the same
    content-addressed sample as ``ivf_centroids``, so seeds are
    engine- and run-independent), refined by ONE distributed Lloyd
    step whose per-(subspace, code, dimension) mean uses the exact
    quantized-integer arithmetic (``sum(floor(val * 2^20)) /
    (count * 2^20)``) — order-independent, hence bit-reproducible in
    the DuckDB oracle restatement.  Unlike IVF coarse centroids, PQ
    codewords are NOT unit-normalized: they quantize raw subvectors
    under squared L2.  Only ``n_sub x n_codes x sub_dim`` floats ever
    reach the driver."""
    seed_rows = (
        df.select(vec_col, F.md5(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h", F.col(id_col))
        .limit(n_codes)
        .collect()
    )
    dims = len(seed_rows[0][0])
    sub_dim = dims // n_sub
    seeds = [
        [
            [float(x) for x in r[0][m * sub_dim : (m + 1) * sub_dim]]
            for r in seed_rows
        ]
        for m in range(n_sub)
    ]
    enc = df.select(
        F.col(vec_col).alias("__v"),
        pq_encode_expr(vec_col, seeds).alias("__codes"),
    )
    stats = (
        enc.select(F.posexplode("__v").alias("__pos", "__val"), "__codes")
        .select(
            F.expr(f"__pos div {sub_dim}").alias("__m"),
            F.expr(f"element_at(__codes, cast(__pos div {sub_dim} as int) + 1)")
            .alias("__cid"),
            F.expr(f"__pos % {sub_dim}").alias("__d"),
            F.col("__val"),
        )
        .groupBy("__m", "__cid", "__d")
        .agg(
            F.sum(
                F.floor(
                    F.col("__val").cast("double") * F.lit(float(MEAN_SCALE))
                ).cast("long")
            ).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .collect()
    )
    by_mc: dict[tuple[int, int], list[float]] = {}
    for r in stats:
        by_mc.setdefault((r["__m"], r["__cid"]), [0.0] * sub_dim)[r["__d"]] = r[
            "__s"
        ] / (r["__n"] * MEAN_SCALE)
    return [
        [
            by_mc.get((m, c), seeds[m][c])
            for c in range(n_codes)
        ]
        for m in range(n_sub)
    ]


def pq_encoded(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PQ index: one row per corpus vector carrying only (id,
    codes) — at warehouse scale this is the table that replaces the
    raw float column in the hot search path (PQ_M bytes per vector
    instead of 4 x dims)."""
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        pq_encode_expr(vec_col, codebooks).alias("codes"),
    )


#: topk_pq / topk_ivfpq build per-query ADC lookup tables DRIVER-side
#: (n_sub x n_codes doubles per query) — correct for the bounded-batch
#: contract their docstrings state, catastrophically wrong for a
#: data-scale query set. Enforce the contract loudly instead of OOMing
#: the driver: past this many collected queries the right operator is
#: the distributed ``knn_join_ivf`` (cell-id shuffle equi-join).
MAX_ADC_QUERY_BATCH = 100_000


def _check_adc_batch(q_rows: list, op: str) -> None:
    if len(q_rows) > MAX_ADC_QUERY_BATCH:
        raise ValueError(
            f"{op}: {len(q_rows)} query vectors exceed the bounded-batch "
            f"contract ({MAX_ADC_QUERY_BATCH}) for driver-side ADC LUT "
            f"construction — use knn_join_ivf for data-scale query sets"
        )


def topk_pq(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    n_sub: int = PQ_M,
    n_codes: int = PQ_K,
    shortlist: int = PQ_SHORTLIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    encoded_corpus: DataFrame | None = None,
    rerank_corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance + exact re-rank.

    Stage 1 (ADC): per query the ``n_sub x n_codes`` lookup table of
    exact squared-L2 distances from the query's subvectors to every
    codeword is built driver-side (queries are a bounded batch — the
    same metadata-scale collect as the IVF centroid build) and
    embedded as a literal array; scoring a corpus vector is then
    ``n_sub`` table lookups folded in subspace order — no float
    arithmetic against raw corpus vectors, which is the point of PQ:
    the hot scan reads nibble-codes, not 4x64-byte floats.  The top
    ``shortlist`` candidates per query survive (adc ASC, id tie).

    Stage 2 (re-rank): the shortlist (|queries| x shortlist rows,
    broadcast) joins back to the raw vector table by id — at
    warehouse scale a point-lookup against the id-sorted parquet,
    here a broadcast hash join probe of the scan — and exact squared
    L2 re-ranks to the final k.  Returns (query_id, neighbor_id,
    dist2, rank): dist2 is the EXACT squared L2 (6 dp), lower is
    better, ties break on neighbor id.  Recall vs exact search is
    pinned in tests."""
    from pyspark.sql import Window

    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, n_sub=n_sub, n_codes=n_codes, id_col=id_col, vec_col=vec_col
        )
    c = (
        encoded_corpus
        if encoded_corpus is not None
        else pq_encoded(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    )
    raw = rerank_corpus if rerank_corpus is not None else corpus
    sub_dim = len(codebooks[0][0])
    q_rows = queries.select(id_col, vec_col).collect()
    _check_adc_batch(q_rows, "topk_pq")
    lut_rows = []
    for r in q_rows:
        vec = [float(x) for x in r[1]]
        lut: list[float] = []
        for m in range(n_sub):
            sub = vec[m * sub_dim : (m + 1) * sub_dim]
            for cw in codebooks[m]:
                acc = 0.0
                for x, w in zip(sub, cw):
                    d = x - w
                    acc += d * d
                lut.append(acc)
        lut_rows.append((int(r[0]), lut, vec))
    spark = queries.sparkSession
    q = spark.createDataFrame(
        lut_rows, schema="query_id bigint, lut array<double>, qv array<double>"
    )
    adc = F.expr(
        f"""
        aggregate(transform(sequence(0, {n_sub - 1}),
                  m -> element_at(lut, m * {n_codes} + element_at(codes, m + 1) + 1)),
                  cast(0.0 as double), (acc, v) -> acc + v)
        """
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    short = (
        c.crossJoin(F.broadcast(q.select("query_id", "lut")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(adc, 6).alias("adc_dist"))
        .withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    exact_d2 = F.expr(
        """
        aggregate(zip_with(cv, qv, (x, q) -> (cast(x as double) - q)
                                             * (cast(x as double) - q)),
                  cast(0.0 as double), (acc, v) -> acc + v)
        """
    )
    reranked = (
        raw.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        .join(F.broadcast(short), on="neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv")), on="query_id")
        .select(
            "query_id", "neighbor_id", F.round(exact_d2, 6).alias("dist2")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("neighbor_id")
    )
    return reranked.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def topk_ivfpq(
    queries: DataFrame,
    k: int = 10,
    n_probe: int | None = None,
    shortlist: int = PQ_SHORTLIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    assigned_corpus: DataFrame | None = None,
    codebooks: list[list[list[float]]] | None = None,
    encoded_corpus: DataFrame | None = None,
    rerank_corpus: DataFrame | None = None,
) -> DataFrame:
    """IVFADC: the composite index real ANN systems deploy (FAISS's
    IVFADC — Jégou/Douze/Schmid TPAMI 2011) — the IVF coarse
    quantizer prunes WHICH vectors are scored (each query reads only
    its ``n_probe`` cells of the inverted file), and PQ codes decide
    HOW they are scored (ADC table lookups over nibble codes, no
    float math against raw vectors). At 100 TB that composition is
    what makes ANN tractable: the scan touches ``n_probe/n_cells`` of
    an 8-byte-per-vector code table instead of the full 256-byte raw
    corpus — ~1000x less I/O per probe at these parameters — and only
    the ADC top-``shortlist`` rows ever read raw floats again (exact
    re-rank, the +R refinement).

    All index structures are passed prebuilt (centroids + assigned
    cells from the IVF index, codebooks + codes from the PQ index —
    the catalog shares both across the plain-IVF and plain-PQ
    queries): a production IVFADC builds once and probes many times.
    Candidates need no dedup: every vector lives in exactly one cell
    and a query's probed cells are distinct. Deterministic end to end
    (both quantizers are content-addressed + integer-Lloyd, ADC folds
    in subspace order), so the full pipeline carries a DuckDB value
    oracle. Returns (query_id, neighbor_id, dist2, rank) like
    ``topk_pq``."""
    from pyspark.sql import Window

    if centroids is None or codebooks is None or assigned_corpus is None:
        raise ValueError(
            "topk_ivfpq requires a prebuilt index: centroids + "
            "assigned_corpus (ivf_centroids/ivf_assigned) and codebooks "
            "(+ encoded_corpus) — build once per corpus, probe many times"
        )
    if n_probe is None:
        n_probe = derived_ivf_probes(len(centroids))
    sub_dim = len(codebooks[0][0])
    n_codes = len(codebooks[0])
    n_sub = len(codebooks)
    q_rows = queries.select(id_col, vec_col).collect()
    _check_adc_batch(q_rows, "topk_ivfpq")
    lut_rows = []
    for r in q_rows:
        vec = [float(x) for x in r[1]]
        lut: list[float] = []
        for m in range(n_sub):
            sub = vec[m * sub_dim : (m + 1) * sub_dim]
            for cw in codebooks[m]:
                acc = 0.0
                for x, w in zip(sub, cw):
                    d = x - w
                    acc += d * d
                lut.append(acc)
        lut_rows.append((int(r[0]), lut, vec))
    spark = queries.sparkSession
    q = spark.createDataFrame(
        lut_rows, schema="query_id bigint, lut array<double>, qv array<double>"
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(ivf_probes_expr(vec_col, centroids, n_probe)).alias("cid"),
    )
    cand = (
        assigned_corpus.select("neighbor_id", "cid")
        .join(F.broadcast(probes), on="cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    adc = F.expr(
        f"""
        aggregate(transform(sequence(0, {n_sub - 1}),
                  m -> element_at(lut, m * {n_codes} + element_at(codes, m + 1) + 1)),
                  cast(0.0 as double), (acc, v) -> acc + v)
        """
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    short = (
        cand.join(encoded_corpus, on="neighbor_id")
        .join(F.broadcast(q.select("query_id", "lut")), on="query_id")
        .select("query_id", "neighbor_id", F.round(adc, 6).alias("adc_dist"))
        .withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    exact_d2 = F.expr(
        """
        aggregate(zip_with(cv, qv, (x, q) -> (cast(x as double) - q)
                                             * (cast(x as double) - q)),
                  cast(0.0 as double), (acc, v) -> acc + v)
        """
    )
    reranked = (
        rerank_corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        .join(F.broadcast(short), on="neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv")), on="query_id")
        .select("query_id", "neighbor_id", F.round(exact_d2, 6).alias("dist2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("neighbor_id")
    )
    return reranked.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_near_dup_pairs_ivf(
    corpus: DataFrame,
    centroids: list[list[float]] | None = None,
    threshold: float = 0.99,
    assign_m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs THROUGH the IVF index —
    the corpus-scale path for semantic dedup. ``cosine_near_dup_pairs``
    needs a metadata block key (or degrades to all-pairs); this one
    derives the block from CONTENT: every vector lands in its
    ``assign_m`` nearest cells (multi-assignment — the spill-tree /
    FAISS-style boundary mitigation: a near-dup pair split by a cell
    boundary still meets when either member's second cell is the
    other's first), candidate pairs share at least one cell, and every
    survivor carries its exact cosine. Candidate volume is
    O(sum of cell sizes squared): O(n^1.5) at the search-tuned
    ``derived_ivf_cells`` = sqrt(N) default, ~linear at dedup-tuned
    constant cell population (cells ~ n / target_size) — vs the O(n^2)
    all-pairs scoring a 100 TB corpus cannot afford. The cells-grow-
    with-n regime makes single-level ASSIGNMENT O(n*cells); past a few
    thousand cells use a two-level quantizer (coarse-assign to
    sqrt(cells), refine within — the same ivf_centroids/ivf_assign
    machinery applied twice) to keep assignment O(n*sqrt(cells)). Pairs both
    of whose members agree that their ``assign_m`` cells are elsewhere
    are missed — the documented IVF trade, same as the probe tail of
    ``topk_ivf``.

    Scoring happens INSIDE the cell self-join: each side of the cid
    equi-join carries its vector and precomputed norm (a cells x m
    frame — megabytes per million vectors), the cosine computes in
    the join stage, the threshold filter kills non-dups before
    anything shuffles again, and only then does the (vec_a, vec_b)
    distinct run — on the few SURVIVORS, which share identical
    cosines across duplicate cells, so filter-then-distinct is
    deterministic. (The first cut deduped bare candidate ids and then
    re-attached both vectors via two id-keyed joins; at 100x data
    that shuffled two 64-float vectors per HUNDREDS OF MILLIONS of
    candidates — the same disk-spill failure mode the topk_two_level
    scorer hit, see SCALE.md.) Returns
    (vec_a, vec_b, cosine >= threshold).

    ``centroids`` and ``cells`` are mutually exclusive assignment
    sources; ``assign_m`` applies when the assignment is built HERE
    (the flat ``centroids`` path or the derived default) — a
    precomputed ``cells`` frame already encodes its own
    multi-assignment. With NEITHER supplied, the index is derived
    from the corpus (:func:`derived_ivf_cells`), routing to the
    two-level quantizer past :data:`TWO_LEVEL_CELL_THRESHOLD` cells
    so the default path never takes O(n x cells) flat assignment; on
    that route the multi-assignment ranks fine cells ACROSS the
    vector's ``assign_m`` nearest coarse cells (``coarse_m`` =
    ``assign_m`` in :func:`ivf_two_level_assign`), so the boundary
    mitigation spans coarse boundaries exactly as the flat path's
    global top-m does."""
    if cells is not None and centroids is not None:
        raise ValueError(
            "centroids and cells are mutually exclusive: a precomputed "
            "cells frame already encodes its multi-assignment"
        )
    if cells is None and centroids is None:
        n_cells = derived_ivf_cells(corpus.count())
        if n_cells > TWO_LEVEL_CELL_THRESHOLD:
            _, _, cells, _ = build_two_level_index(
                corpus,
                n_cells,
                id_col=id_col,
                vec_col=vec_col,
                assign_m=assign_m,
            )
        else:
            centroids = ivf_centroids(
                corpus, n_centroids=n_cells, id_col=id_col, vec_col=vec_col
            )
    if cells is None:
        cells = corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vv"),
            F.explode(ivf_probes_expr(vec_col, centroids, assign_m)).alias("cid"),
        )
    else:
        # precomputed multi-assignment, e.g. ivf_two_level_assign —
        # the path that scales cell counts past literal codegen
        cells = cells.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vv"),
            F.col("cell").alias("cid"),
        )
    a = cells.select(
        F.col("vid").alias("vec_a"),
        F.col("vv").alias("va"),
        norm_expr("vv").alias("na"),
        "cid",
    )
    b = cells.select(
        F.col("vid").alias("vec_b"),
        F.col("vv").alias("vb"),
        norm_expr("vv").alias("nb"),
        "cid",
    )
    cos = F.round(dot_expr("va", "vb") / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        # non-foldable rand fence: keeps the threshold filter from
        # being substituted below the projection, which would evaluate
        # the dot fold twice per pair (see functions/dates.py)
        .withColumn("__fence", F.rand(seed=0))
        .filter((F.col("cosine") >= threshold) | (F.col("__fence") < -1))
        .drop("__fence")
        .dropDuplicates(["vec_a", "vec_b"])
    )


def topk_mips(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact maximum-inner-product top-k per query (MIPS) — the third
    similarity objective after cosine (``topk_bruteforce``) and
    L2-through-PQ (``topk_pq``): retrieval where vector MAGNITUDE
    carries signal (popularity-weighted item embeddings, learned
    retrieval scores), so scores must not be normalized away. No norms
    are computed at all — the scan folds one dot product per pair.

    Returns (query_id, neighbor_id, dot, rank); dot rounded to 6 dp,
    ties broken by neighbor id. Brute force is the recall-1 baseline;
    the indexed scale path is the classic MIPS->cosine reduction
    (augment every corpus vector with sqrt(M^2 - |x|^2) as an extra
    dimension, queries with 0, then any cosine index — the shared IVF
    pipeline — searches the augmented space), which composes from
    existing operators and is deliberately not duplicated here.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_expr("cv", "qv"), 6).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


#: cell count above which the default-build operators route to the
#: two-level quantizer automatically. A flat assign is O(n x cells)
#: scoring through a cells x dims literal expression — "past a few
#: thousand cells both explode" (janino method limits force the
#: interpreted fallback well before 10k literal dots, and assignment
#: cost is already quadratic-in-n under cells ~ sqrt(N)). The 100x
#: stress priced the alternatives at 447..783 cells: flat pair_gen
#: 462s vs two-level(refine 1) 232s, and search 408s vs 370s at equal
#: recall (SCALE.md "Two-level quantizer, measured end to end").
#: 4096 keeps every measured flat regime flat and routes the regime
#: the measurements say wants a hierarchy; derived_ivf_cells crosses
#: it at N ~ 16.8M vectors.
TWO_LEVEL_CELL_THRESHOLD = 4096


def two_level_split(n_cells: int) -> tuple[int, int]:
    """Balanced (n_coarse, n_fine_per_coarse) split covering at least
    ``n_cells`` total fine cells: coarse ~ sqrt(cells) keeps BOTH the
    coarse literal expression and the per-coarse broadcast seed frame
    at O(sqrt(cells)) — the split the 100x measurement used
    (783 cells = 27 x 29)."""
    import math

    coarse = max(2, round(math.sqrt(n_cells)))
    return coarse, math.ceil(n_cells / coarse)


def _two_level_probe_budget(
    coarse_n: int,
    fine_n: int,
    n_probe: int | None,
    requested_cells: int | None = None,
) -> tuple[int, int]:
    """(n_probe_coarse, n_probe_fine) for the routed path. Default:
    the derived probe fraction of the ACTUAL coarse x fine grid. An
    explicit ``n_probe`` is honored at BOTH levels — the coarse budget
    expands to ceil(n_probe / fine_n) so every requested fine cell is
    reachable (``n_probe == total cells`` degenerates to exact search,
    the flat-path law the routing tests pin; a coarse budget pinned at
    the derived fraction would silently cap recall regardless of the
    caller's budget).

    ``requested_cells`` is the cell count the CALLER asked for; the
    two-level grid (``coarse * ceil(cells / coarse)``) can exceed it,
    so an explicit ``n_probe`` expressed against the requested count
    is rescaled to the actual grid (ceil, so the probed FRACTION never
    shrinks) — without it, ``n_probe == requested_cells`` (the flat
    path's exact-search degenerate) would leave the grid's excess
    cells unprobed and silently lose exactness. ``n_probe >=
    requested_cells`` therefore always degenerates to full-grid
    probing."""
    import math

    grid = coarse_n * fine_n
    if n_probe is None:
        npf = derived_ivf_probes(grid)
    else:
        req = requested_cells if requested_cells is not None else grid
        npf = grid if n_probe >= req else math.ceil(n_probe * grid / req)
    npc = min(
        coarse_n,
        max(derived_ivf_probes(coarse_n), math.ceil(npf / fine_n)),
    )
    return npc, min(npf, npc * fine_n)


def build_two_level_index(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_fine: int = 1,
    assign_m: int = 1,
) -> tuple[list[list[float]], DataFrame, DataFrame, int]:
    """Build the full two-level index for ~``n_cells`` total cells:
    (coarse_centroids, fine_centroid_frame, inverted_file,
    n_fine_per_coarse). One Lloyd refinement of the fine seeds by
    default — the unrefined seeds skew and the pair/probe joins pay
    sum(cell^2) (measured 575s vs 232s at 100x, SCALE.md). With
    ``assign_m`` > 1 the multi-assignment ranks fine cells ACROSS the
    vector's ``assign_m`` nearest coarse cells (``coarse_m`` =
    ``assign_m``), preserving the flat path's cross-boundary dedup
    mitigation — a within-one-coarse-cell top-m could never pair
    near-dups split by a coarse boundary."""
    coarse_n, fine_n = two_level_split(n_cells)
    coarse = ivf_centroids(
        corpus, n_centroids=coarse_n, id_col=id_col, vec_col=vec_col
    )
    fine = ivf_two_level_centroids(
        corpus,
        coarse,
        fine_n,
        refine_fine=refine_fine,
        id_col=id_col,
        vec_col=vec_col,
    )
    assigned = ivf_two_level_assign(
        corpus,
        coarse,
        fine_n,
        assign_m=assign_m,
        id_col=id_col,
        vec_col=vec_col,
        fine_centroids=fine,
        coarse_m=assign_m,
    )
    return coarse, fine, assigned, fine_n


def _two_level_coarse(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec, __ccid) coarse assignment — level 1 of the hierarchy."""
    return corpus.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_assign_expr(vec_col, coarse_centroids).alias("__ccid"),
    )


def _two_level_score(
    assigned_c: DataFrame,
    seed_frame: DataFrame,
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Score every coarse-assigned vector against its coarse cell's
    fine seed/centroid rows (broadcast join + column-fold dot) and
    keep the top ``m`` per vector — level 2's workhorse, shared by
    centroid refinement and final assignment."""
    from pyspark.sql import Window

    top_w = Window.partitionBy(id_col).orderBy(
        F.col("__dot").desc(), F.col("__fid").asc()
    )
    scored = assigned_c.join(F.broadcast(seed_frame), "__ccid").select(
        F.col(id_col),
        F.col(vec_col),
        "__ccid",
        "__fid",
        dot_expr(vec_col, "__sv").alias("__dot"),
    )
    return scored.withColumn("__arn", F.row_number().over(top_w)).filter(
        F.col("__arn") <= m
    )


def ivf_two_level_centroids(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    n_fine_per_coarse: int,
    refine_fine: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The fine-centroid FRAME (ccid, fid, cv) of the two-level
    quantizer — build it once per corpus and feed it to both
    ``ivf_two_level_assign`` (index build) and ``topk_two_level``
    (search), exactly as the flat pipeline shares ``ivf_centroids``.
    Seeds, refinement arithmetic, and fallbacks are documented on
    ``ivf_two_level_assign``; this is the factored-out builder."""
    from pyspark.sql import Window

    assigned_c = _two_level_coarse(corpus, coarse_centroids, id_col, vec_col)
    seed_w = Window.partitionBy("__ccid").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    # zero-norm fallback mirrors _unit's `or 1.0` so the flat-vs-
    # hierarchical laws (and the SQL oracle restatement) are exact
    seed_norm = (
        f"sqrt(aggregate(transform({vec_col},"
        f" y -> cast(y as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v))"
    )
    unit_seed = F.expr(
        f"transform({vec_col}, x -> cast(x as double) /"
        f" (case when {seed_norm} = 0.0D then 1.0D else {seed_norm} end))"
    )
    seeds = (
        assigned_c.withColumn("__rn", F.row_number().over(seed_w))
        .filter(F.col("__rn") <= n_fine_per_coarse)
        .select(
            "__ccid",
            (F.col("__rn") - 1).alias("__fid"),
            unit_seed.alias("__sv"),
        )
    )
    # the exact quantized-integer Lloyd mean of ivf_centroids, run
    # GROUPWISE and fully distributed: sum(floor(val * 2^20)) is an
    # exact order-independent BIGINT, the one division is correctly
    # rounded, and the normalization folds in dimension order — so one
    # coarse cell reproduces the driver-side flat refinement bit for
    # bit (pinned in tests)
    mnorm = (
        "sqrt(aggregate(transform(__mvec, y -> y * y),"
        " cast(0.0 as double), (acc, v) -> acc + v))"
    )
    unit_mean = F.expr(
        f"transform(__mvec, x -> x / (case when {mnorm} = 0.0D"
        f" then 1.0D else {mnorm} end))"
    )
    for _ in range(refine_fine):
        a1 = _two_level_score(assigned_c, seeds, 1, id_col, vec_col)
        means = (
            a1.select(
                "__ccid", "__fid", F.posexplode(vec_col).alias("__pos", "__val")
            )
            .groupBy("__ccid", "__fid", "__pos")
            .agg(
                F.sum(
                    F.floor(
                        F.col("__val").cast("double") * F.lit(float(MEAN_SCALE))
                    ).cast("long")
                ).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                "__ccid",
                "__fid",
                "__pos",
                (F.col("__s") / (F.col("__n") * F.lit(MEAN_SCALE))).alias("__mv"),
            )
        )
        mvecs = means.groupBy("__ccid", "__fid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(__pos, __mv))),"
                " x -> x.__mv)"
            ).alias("__mvec")
        )
        seeds = (
            seeds.join(mvecs, ["__ccid", "__fid"], "left")
            .select(
                "__ccid",
                "__fid",
                # empty cell -> keep the seed (flat refinement's fallback)
                F.coalesce(unit_mean, F.col("__sv")).alias("__sv"),
            )
        )
    return seeds.select(
        F.col("__ccid").alias("ccid"),
        F.col("__fid").alias("fid"),
        F.col("__sv").alias("cv"),
    )


def ivf_two_level_assign(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    n_fine_per_coarse: int,
    assign_m: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_fine: int = 0,
    fine_centroids: DataFrame | None = None,
    coarse_m: int = 1,
) -> DataFrame:
    """Hierarchical (two-level) IVF assignment — the production shape
    once cell counts grow past what per-row centroid-literal codegen
    tolerates (a flat assign is O(n x cells) scoring AND a
    cells x dims literal expression; past a few thousand cells both
    explode). Level 1 assigns every vector to one of
    ``len(coarse_centroids)`` coarse cells with the usual literal
    expression; level 2 scores each vector against ONLY its coarse
    cell's ``n_fine_per_coarse`` fine seeds via a broadcast join +
    column-fold dot — total scoring work O(n x (coarse + fine)) =
    O(n x sqrt(cells)) at the balanced split, and no giant codegen
    expression anywhere.

    Fine seeds are the ``n_fine_per_coarse`` vectors of each coarse
    cell with the smallest ``md5(id)`` (the content-addressed seed
    recipe of ``ivf_centroids``), unit-normalized. ``refine_fine``
    Lloyd steps rebalance them ENTIRELY DISTRIBUTED — the per-(coarse,
    fine) quantized-integer mean is the same exact arithmetic
    ``ivf_centroids`` computes driver-side, here a groupBy over
    posexploded dimensions with a left-join seed fallback for empty
    cells, so no driver collect at any cell count. Refinement matters:
    unrefined seeds leave cell sizes skewed (measured 10x: max cell
    938 vs the Lloyd-refined flat quantizer's 306 at the same target
    population; sum(cell^2) 1.59x worse — the candidate volume the
    pair join pays). With ONE coarse cell this is bit-identical to
    flat assignment against ``ivf_centroids(refine_iters=
    refine_fine)`` — the laws the unit tests pin at 0 and 1.

    Returns one row per (vector, assigned cell): (id_col, vec_col,
    ``cell``) with ``cell = coarse_cid * n_fine_per_coarse +
    fine_rank``; ``assign_m`` > 1 keeps each vector's top-m fine cells
    WITHIN its ``coarse_m`` probed coarse cells (the multi-assignment
    blocks of ``cosine_near_dup_pairs_ivf``). At the default
    ``coarse_m=1`` the mitigation only spans FINE boundaries inside
    one coarse cell — a near-dup pair whose members coarse-assign
    differently can never meet; pass ``coarse_m`` = ``assign_m`` to
    rank the top-m fine cells ACROSS the m nearest coarse cells (one
    extra explode term per coarse probe; this is what the routed
    default of ``cosine_near_dup_pairs_ivf`` does, restoring the flat
    path's cross-boundary mitigation). Ties break (score DESC,
    [coarse id ASC on the multi-coarse path,] fine id ASC), mirroring
    every other argmax in this module. Pass a prebuilt
    ``fine_centroids`` frame (``ivf_two_level_centroids``) to
    amortize the centroid build across assign + search consumers;
    otherwise it is built here with ``refine_fine`` steps.
    """
    if fine_centroids is None:
        fine_centroids = ivf_two_level_centroids(
            corpus,
            coarse_centroids,
            n_fine_per_coarse,
            refine_fine=refine_fine,
            id_col=id_col,
            vec_col=vec_col,
        )
    seeds = fine_centroids.select(
        F.col("ccid").alias("__ccid"),
        F.col("fid").alias("__fid"),
        F.col("cv").alias("__sv"),
    )
    if coarse_m <= 1:
        assigned_c = _two_level_coarse(corpus, coarse_centroids, id_col, vec_col)
        return _two_level_score(
            assigned_c, seeds, assign_m, id_col, vec_col
        ).select(
            id_col,
            vec_col,
            (F.col("__ccid") * n_fine_per_coarse + F.col("__fid")).alias("cell"),
        )
    # cross-coarse multi-assignment: fan each vector out over its
    # coarse_m nearest coarse cells, score all their fine seeds, rank
    # GLOBALLY per vector (tie-break adds __ccid — fine ids repeat
    # across coarse cells)
    from pyspark.sql import Window

    probed = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(
            ivf_probes_expr(vec_col, coarse_centroids, coarse_m)
        ).alias("__ccid"),
    )
    scored = probed.join(F.broadcast(seeds), "__ccid").select(
        F.col(id_col),
        F.col(vec_col),
        "__ccid",
        "__fid",
        dot_expr(vec_col, "__sv").alias("__dot"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__dot").desc(), F.col("__ccid").asc(), F.col("__fid").asc()
    )
    return (
        scored.withColumn("__arn", F.row_number().over(w))
        .filter(F.col("__arn") <= assign_m)
        .select(
            id_col,
            vec_col,
            (F.col("__ccid") * n_fine_per_coarse + F.col("__fid")).alias("cell"),
        )
    )


def topk_two_level(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_centroids: list[list[float]],
    fine_centroids: DataFrame,
    assigned_cells: DataFrame,
    n_fine_per_coarse: int,
    k: int = 10,
    n_probe_coarse: int = 2,
    n_probe_fine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Approximate cosine top-k THROUGH the two-level index — the
    search twin of the hierarchical dedup path: each query probes its
    ``n_probe_coarse`` nearest coarse cells (literal codegen — the
    coarse level stays small by design), scores only THOSE cells'
    fine centroids via a broadcast join (O(probe_coarse x fine) dots
    per query instead of O(cells)), keeps the ``n_probe_fine`` best
    fine cells overall, and exact-cosine-reranks the inverted file
    rows of the probed cells. Neighbors whose cell is outside the
    probes are missed (the IVF trade, now hierarchical: a miss can
    come from EITHER level); every returned pair carries its exact
    cosine. Probing every fine cell of a single coarse cell
    degenerates to exact brute force — the recall-1 law the tests
    pin. Fine-cell ties break (score DESC, cell ASC); the final rank
    ties break (cosine DESC, neighbor ASC) like every other top-k in
    this module.

    ``assigned_cells`` is the (id, vec, cell) inverted file from
    ``ivf_two_level_assign`` (build with ``assign_m=1`` for search);
    ``fine_centroids`` the (ccid, fid, cv) frame from
    ``ivf_two_level_centroids`` — both build once per corpus.
    Returns (query_id, neighbor_id, cosine, rank <= k)."""
    from pyspark.sql import Window

    scored = _two_level_scored(
        queries,
        coarse_centroids,
        fine_centroids,
        assigned_cells,
        n_fine_per_coarse,
        n_probe_coarse,
        n_probe_fine,
        id_col,
        vec_col,
        broadcast_probes,
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(rank_w)).filter(
        F.col("rank") <= k
    )


def _two_level_scored(
    queries: DataFrame,
    coarse_centroids: list[list[float]],
    fine_centroids: DataFrame,
    assigned_cells: DataFrame,
    n_fine_per_coarse: int,
    n_probe_coarse: int,
    n_probe_fine: int,
    id_col: str,
    vec_col: str,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Probe + exact-score through the two-level index: the shared
    (query_id, neighbor_id, cosine) frame under ``topk_two_level``'s
    rank tail and ``radius_two_level``'s threshold tail.

    ``broadcast_probes`` (default True) broadcasts the per-(query,
    probed-cell) frame into the inverted-file join. Catalyst's size
    estimate for that frame is inflated by its explode + join + window
    derivation, so without the hint the join falls back to sort-merge
    on a LOW-CARDINALITY cell key — measured 47s vs 3.2s (15x) on the
    10x corpus at a 25% probe budget (SCALE.md r11). The frame is
    genuinely small under this function's few-queries contract
    (|Q| x n_probe_fine rows); a data-scale query SET belongs on the
    shuffle-join ``knn_join_ivf`` shape instead. False pins the
    historical sort-merge plan (the round-11 driver certificate of
    ``ann_ivf_hier_topk``; migrate at the next window opportunity)."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col).alias("qn"),
    )
    cprobes = q.select(
        "query_id",
        "qv",
        "qn",
        F.explode(
            ivf_probes_expr("qv", coarse_centroids, n_probe_coarse)
        ).alias("ccid"),
    )
    fscored = cprobes.join(F.broadcast(fine_centroids), "ccid").select(
        "query_id",
        "qv",
        "qn",
        (F.col("ccid") * n_fine_per_coarse + F.col("fid")).alias("cell"),
        dot_expr("qv", "cv").alias("__s"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("cell").asc()
    )
    # probe frame KEEPS the query vector: scoring happens inside the
    # cell equi-join against the inverted file (the knn_join_ivf
    # shape) — candidates exist only as (query, neighbor, cosine)
    # rows, and no shuffle ever carries a vector per candidate. (The
    # first cut joined corpus vectors onto the candidate set and at
    # 100x/25%-probe that shuffle spilled ~2 vectors x 500M rows —
    # hundreds of GB — to disk.)
    pcells = (
        fscored.withColumn("__rn", F.row_number().over(probe_w))
        .filter(F.col("__rn") <= n_probe_fine)
        .select("query_id", "qv", "qn", "cell")
    )
    inv = assigned_cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvv"),
        norm_expr(vec_col).alias("nn"),
        "cell",
    )
    if broadcast_probes:
        pcells = F.broadcast(pcells)
    scored = (
        inv.join(pcells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_expr("qv", "nvv") / (F.col("qn") * F.col("nn")), 6
            ).alias("cosine"),
        )
        # an assign_m>1 inverted file can surface a pair once per
        # shared probed cell; duplicates carry identical cosines
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return scored


def radius_two_level(
    queries: DataFrame,
    coarse_centroids: list[list[float]],
    fine_centroids: DataFrame,
    assigned_cells: DataFrame,
    n_fine_per_coarse: int,
    threshold: float,
    n_probe_coarse: int = 2,
    n_probe_fine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Range (radius) search THROUGH the two-level index: the same
    probe + in-join exact scoring as :func:`topk_two_level`, with
    :func:`radius_search_ivf`'s threshold-filter tail instead of the
    per-query rank window — no shuffle after the probe joins. Same
    approximation contract: results are a subset of the flat/brute
    range search with identical cosines."""
    scored = _two_level_scored(
        queries,
        coarse_centroids,
        fine_centroids,
        assigned_cells,
        n_fine_per_coarse,
        n_probe_coarse,
        n_probe_fine,
        id_col,
        vec_col,
        broadcast_probes,
    )
    # same optimizer fence as range_search / radius_search_ivf
    return (
        scored.withColumn("__fence", F.rand(seed=0))
        .filter((F.col("cosine") >= threshold) | (F.col("__fence") < -1))
        .drop("__fence")
    )
