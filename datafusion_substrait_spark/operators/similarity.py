"""Similarity search over embedding columns (``array<float>``).

Primitives (``dot``/``cosine``/``rh_signature``) are pure ``F.zip_with``/
``F.aggregate`` expressions — JVM-side, no Python in the hot path. They run
*interpreted* (higher-order functions are outside whole-stage codegen), and
that is a measured, deliberate choice FOR THE PER-VECTOR NARROW MAPS:
unlike the minhash-signature case (operators/dedup.py — where the HOF
shape re-evaluated an expensive shingling subtree K times, 50× slowdown),
the input here is an already-materialized array column, so there is no
shared subtree for CSE to miss. Benchmarked on 200k × 64-dim vectors, 16
planes (scratch/bench_sig2.py): HOF fold 0.11 s vs 0.16 s for a
fully-unrolled ``element_at`` chain (janino rejects the giant generated
method → interpreted fallback of a much larger tree) vs 0.30 s for
explode→measures (pays a per-vector shuffle). The HOF fold is also the
only shape that stays a **zero-shuffle narrow map**, at ~4–5 µs/vector/
core — ~1 core-hour per billion vectors, never the term that dominates a
100 TB plan.

The O(pairs) SCORING stages are the opposite trade (r13) — WHEN the
vector is a plain stored column: there the dot runs once per candidate
PAIR, not per vector, so the interpreted fold is the dominant term, and
unpacking each side to scalar columns once per row and scoring with
:func:`_flat_dot` wins (same fp fold order, bit-identical results;
semdedup 4.41→2.51 s interleaved A/B at sf0.1). THREE measured
boundaries keep the fold everywhere else: (a) per-term ``get(a, i)``
INSIDE the scan projection lost the r8 A/B (codegen blew up);
(b) unpacking a COMPUTED array column (the dequantize transform, the
IVF e-side that rides with the 8-centroid assignment) re-evaluates the
computing subtree per extracted element under projection collapse — the
r13 attempt regressed s3 1.6→6.3 s before being reverted; (c) broadcast
nested-loop scoring (brute_force_topk) emits only |queries|·|corpus|
pairs off an unwidened scan — the 64 extra columns cost more than the
fold saves (interleaved A/B 0.77 s HOF vs 1.60 s unpacked). _flat_dot
is applied only to stored-column SELF-JOIN stages whose pair count
dwarfs the row count (dedup.semdedup).

Three search paths, same output contract (query_id, vec_id, cosine, rank):

* ``brute_force_topk`` — exact baseline. The *queries* side is broadcast
  (tiny), so the big embeddings table is scanned exactly once with NO
  shuffle of the vectors; norms are computed once per corpus row and once
  per query — NOT once per (query, row) pair, which cuts the per-pair work
  from three array folds to one.
* ``lsh_topk`` — approximate scale path: random-hyperplane sign buckets
  prune the corpus to same-bucket candidates before exact scoring.
* ``ivf_topk`` — IVF (inverted-file) scale path: a coarse quantizer
  assigns every corpus vector to its nearest centroid; a query probes only
  the ``nprobe`` nearest cells. At 100 TB the corpus can additionally be
  *written bucketed by cell_id* so a probe prunes file groups instead of
  scanning.

Top-k ranking is **two-phase** in all three paths (``_topk_per_query``):
a per-(query, input-partition) local rank prunes to ≤ k rows, then the
global rank runs over ≤ k × num_partitions rows per query. A single
``row_number() OVER (PARTITION BY query_id)`` would drag every scored row
of a query through ONE task's sort — fine at sf0.1, a scale-killer on a
1000-executor corpus scan.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dbl_lit(v: float) -> str:
    """Exact SQL double literal for a plan-time constant. ``repr`` emits
    the shortest decimal that round-trips the IEEE double, and Spark's
    parser reads the ``D`` suffix back through Double.parseDouble — the
    same value bit-for-bit (a bare decimal would land in DecimalType).
    Used to ship constant vectors in ONE ``F.expr`` py4j call instead of
    per-element ``F.lit`` chatter (r17: ``F.lit(list)`` builds the array
    element-by-element — 65 driver round trips per 64-dim centroid, and
    the centroid battery was over half of s3/d8's DataFrame-construction
    time; see docs/perf_decisions.md)."""
    x = float(v)
    if not math.isfinite(x):
        raise ValueError(f"non-finite plan constant {v!r}")
    return repr(x) + "D"

_KNUTH = 2654435761  # Fibonacci-hash multiplier for deterministic planes


def _scan_parallel(df: DataFrame, key_col: str) -> DataFrame:
    """Input-parallelism floor for the CORPUS side of the search paths
    (r17, guide §2.5 input skew / §6 scan parallelism): a single small
    parquet file arrives as ONE scan partition, serializing the whole
    per-vector signature/scoring stage — and the per-PAIR interpreted
    dot folds above it — on one core. Delegates to ``dedup._parallelize``
    (the established gate): a no-op on real multi-file corpora (input
    files ≫ cores), a compact-row repartition keyed on ``key_col`` when
    a degenerate few-file input would otherwise serialize. Results are
    partitioning-independent everywhere this is applied: cosines are
    row-local, and ``_topk_per_query``'s phase-1 local rank provably
    retains every global top-k row for ANY partitioning (its docstring).
    Measured at sf0.1 (single-file embeddings): semdedup exec 2.02→1.48 s
    (scratch/ab_parallel_r17.py; checksums identical)."""
    from datafusion_substrait_spark.operators.dedup import _parallelize

    return _parallelize(df, key_col)


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as double (inputs may be array<float>). Left fold from +0.0,
    matching a sequential-sum oracle (DuckDB ``list_dot_product``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_const(a: Column, values: list[float]) -> Column:
    """Σ aᵢ·cᵢ against a plan-time constant vector (a literal array — no
    join, no broadcast variable; the constant ships inside the plan).

    Two deliberate choices, both A/B-measured this round at sf0.1:
    * the HOF fold, NOT an unrolled ``get(a,0)*c0 + …`` chain — the
      unrolled form blew codegen size (janino OOM building the local-
      variable map at 8 cells x 64 dims; with only single dot products
      unrolled it fell out of whole-stage codegen and ran ~5x SLOWER
      than the fold, 4.4s vs 0.9s for the IVF scan);
    * ONE parsed ``array(…D,…)`` expression, not dim x ``F.lit`` calls —
      plan CONSTRUCTION is driver-side py4j chatter, and a 512-literal
      centroid battery cost more wall time than the query's execution
      (r17: even ``F.lit(list)`` expands to per-element lits — 65 round
      trips per centroid; the parsed form is one round trip and
      constant-folds to the identical array, see ``_dbl_lit``)."""
    arr = "array(" + ",".join(_dbl_lit(v) for v in values) + ")"
    return dot(a, F.expr(arr))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (ANSI mode
    is ON by default in Spark 4, so a bare division would ABORT the whole
    job on the first zero vector — try_divide yields NULL instead, and
    every downstream ``cosine >= t`` filter / rank correctly excludes it;
    a direction-less vector matches nothing)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


# past this width the unpacked rows cost more than the interpreted fold
# saves (and approach spark.sql.codegen.maxFields, where whole-stage
# codegen gives up on the stage)
_FLAT_DOT_MAX_DIM = 96


def _flat_dot(a_prefix: str, b_prefix: str, dim: int) -> Column:
    """Σ aᵢ·bᵢ over pre-unpacked scalar columns, left-assoc — the HOF
    fold's exact fp ORDER (bit-identical results), but flat codegen
    arithmetic instead of zip_with+aggregate's CodegenFallback eval per
    pair. Seeded with +0.0 like the fold's zero accumulator (r13
    advisory: seeding at a₀·b₀ would yield -0.0 for an all-(-0.0)-terms
    dot where the fold yields +0.0 — the one bit-identity exception a
    product seed has). Applied ONLY where it measured faster — see the
    module docstring's three boundaries (semdedup 4.41→2.51s;
    computed-column and broadcast-nested-loop sites keep the fold).
    Callers unpack each side ONCE PER ROW before the join via
    :func:`_unpacked`. (r17: built as ONE parsed expression — the DSL
    reduce cost ~2 py4j round trips per term × dim; the SQL chain
    ``0.0D + a0*b0 + a1*b1 + …`` parses to the identical left-assoc
    Add/Multiply tree over the same dotted column references, so every
    sum bit is unchanged — pinned by the existing _flat_dot-vs-fold
    bit-identity tests.)"""
    if dim <= 0:
        return F.lit(0.0)
    return F.expr("0.0D + " + " + ".join(
        f"{a_prefix}{i} * {b_prefix}{i}" for i in range(dim)))


def _unpacked(df: DataFrame, vec_col: str, prefix: str, dim: int,
              keep: list) -> DataFrame:
    """Project ``keep`` plus the vector unpacked to ``{prefix}0..{dim-1}``
    double columns (once per row, before the scoring join). r17: each
    extraction is one parsed ``CAST(vec[i] AS DOUBLE)`` expression
    (identical UnresolvedExtractValue+Cast tree, a quarter of the py4j
    round trips)."""
    return df.select(*keep, *[
        F.expr(f"CAST(`{vec_col}`[{i}] AS DOUBLE) AS `{prefix}{i}`")
        for i in range(dim)])


def _plane_weight_py(plane: int, d: int) -> float:
    """Python twin of ``_plane_weight`` — exact (all intermediates are
    dyadic rationals below 2³¹, so the double arithmetic is lossless)."""
    mixed = (plane * 8192 + 1 + d) * _KNUTH % (1 << 31)
    return mixed / float(1 << 31) - 0.5


def _plane_weight(plane: int, d: Column) -> Column:
    """Deterministic pseudo-random weight in [-0.5, 0.5) for (plane, dim).

    Engine-portable integer arithmetic (no RNG state): Fibonacci-hash the
    (plane, dim) pair, scale to the unit interval.
    """
    mixed = (F.lit(plane * 8192 + 1) + d) * F.lit(_KNUTH) % F.lit(1 << 31)
    return mixed.cast("double") / F.lit(float(1 << 31)) - F.lit(0.5)


def rh_signature(vec: Column, planes: int = 16) -> Column:
    """Random-hyperplane LSH signature: bit p = sign(vec · w_p) (int)."""
    idx = F.sequence(F.lit(0), F.size(vec) - 1)

    def projector(plane: int):
        # 2-arg lambda only: extra default args break PySpark's HOF arity rules
        return lambda x, d: x.cast("double") * _plane_weight(plane, d)

    sig = F.lit(0)
    for p in range(planes):
        proj = F.aggregate(
            F.zip_with(vec, idx, projector(p)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def _topk_per_query(scored: DataFrame, k: int, query_key_col: str,
                    key_col: str) -> DataFrame:
    """Per-query top-k of (query, key, cosine) rows, scale-safely.

    Phase 1 ranks within (query, spark_partition_id()): the shuffle spreads
    a query's rows over num_partitions × num_queries sort groups, each
    bounded by one input partition — no single task ever sorts a whole
    corpus scan. Phase 2 ranks the survivors (≤ k × num_partitions per
    query — thousands of rows, not billions). The local ordering is the
    global ordering, so phase 1 provably retains every global top-k row
    regardless of how rows landed in partitions.
    """
    order = [F.col("cosine").desc(), F.col(key_col).asc()]
    local = Window.partitionBy(query_key_col, "__pid").orderBy(*order)
    final = Window.partitionBy(query_key_col).orderBy(*order)
    return (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrank", F.row_number().over(local))
        .filter(F.col("__lrank") <= k)
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select(query_key_col, key_col, "cosine", "rank")
    )


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                     vec_col: str = "embedding", key_col: str = "vec_id",
                     query_key_col: str = "query_id") -> DataFrame:
    """Exact cosine top-k per query. Output (query_id, vec_id, cosine, rank).

    ``broadcast(queries)`` keeps the corpus un-shuffled; ties broken by
    vec_id so results are deterministic for the oracle. Deliberately the
    HOF fold, not _flat_dot (r13 interleaved A/B: 0.77s HOF vs 1.60s
    unpacked at sf0.1 — the broadcast-nested-loop emits only
    |queries|·|corpus| pairs off an unwidened corpus scan, so the 64
    extra double columns cost more than the fold; _flat_dot wins only
    on self-join stages whose pair count dwarfs the row count, see
    dedup.semdedup).
    """
    q = queries.select(
        F.col(query_key_col),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qnorm"),
    )
    e = _scan_parallel(embeddings, key_col).select(
        key_col, vec_col, norm(F.col(vec_col)).alias("__enorm")
    )
    scored = e.join(F.broadcast(q), on=F.lit(True), how="inner").select(
        query_key_col,
        key_col,
        F.round(
            # try_divide: NULL (excluded downstream), not an ANSI abort,
            # when a zero-norm vector appears — see cosine()
            F.try_divide(dot(F.col("__qvec"), F.col(vec_col)),
                         F.col("__qnorm") * F.col("__enorm")),
            6,
        ).alias("cosine"),
    )
    return _topk_per_query(scored, k, query_key_col, key_col)


def deterministic_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Data-independent pseudo-random centroids (Fibonacci-hashed, same
    scheme as the LSH plane weights, exact in double). The "pre-trained
    centroids" production shape with a quantizer any engine can replay —
    used by the s3 oracle entry so IVF assignment + scoring is
    DuckDB-checkable end-to-end."""
    return [
        [_plane_weight_py(8191 + c, d) for d in range(dim)]
        for c in range(n_cells)
    ]


def _with_cell_scores(df: DataFrame, vec_col: str,
                      centroids: list[list[float]]) -> DataFrame:
    """Append one cosine-to-centroid column per cell (``__s0``…``__sN``).

    Centroids are plan literals — effectively broadcast — so this is a
    narrow map. Scores MUST be materialized as named columns before any
    argmax/sort is built over them: an iterative ``F.when(s > best, …)``
    chain over the raw score expressions duplicates every prior subtree
    per step — tree size grows ~3^n_cells and OOMs the driver during
    optimization (observed at n_cells=8).

    r17: each score column is built as ONE parsed ``F.expr`` string —
    the exact SQL spelling of the previous DSL tree (zip_with/aggregate
    fold, CAST-to-DOUBLE products, 0.0D seed, SQRT norm, try_divide), so
    the Catalyst expression and every output bit are unchanged
    (verified value-for-value at sf0.1, tests/test_operators.py) — but
    plan construction drops from ~1,100 py4j round trips (65 per
    centroid literal + 2 HOF builds per dot) to one parse per cell:
    0.64 s → 0.18 s warm for the 8×64 battery, which the bench pays
    twice per s3 run and once per d8 run.

    r17 second pass (guide §4 — per-row redundant work, the same
    pattern as quantize_embeddings' amax staging): the row norm is
    materialized ONCE per row in its own Project instead of being
    interpolated into all ``n_cells`` score expressions — the
    interpreted 64-step norm fold used to evaluate 8× per row across
    the battery. Multi-consumer non-cheap alias ⇒ CollapseProject
    keeps it staged; the division reads the identical double, so every
    score bit is unchanged (test_cell_scores_expr_build_matches_dsl
    re-pins == equality against the inline DSL tree).
    """
    v = f"`{vec_col}`"
    mul = "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)"
    fold = "0.0D, (acc, x) -> acc + x"
    nrm = f"SQRT(aggregate(zip_with({v}, {v}, {mul}), {fold}))"
    staged = df.select("*", F.expr(nrm).alias("__nrm"))
    cols = []
    for i, c in enumerate(centroids):
        arr = "array(" + ",".join(_dbl_lit(x) for x in c) + ")"
        d = f"aggregate(zip_with({v}, {arr}, {mul}), {fold})"
        cn = _dbl_lit(sum(x * x for x in c) ** 0.5)
        cols.append(F.expr(f"try_divide({d}, `__nrm` * {cn})")
                    .alias(f"__s{i}"))
    return staged.select(*[staged[c] for c in df.columns], *cols)


def _nearest_cell(n_cells: int) -> Column:
    """Index (int) of the FIRST cell attaining the max score, over the
    ``__s*`` columns of _with_cell_scores — ``array_position(ss,
    array_max(ss))`` picks the first occurrence, exactly like the DuckDB
    oracle's ``list_position(ss, list_max(ss))``, with linear (not
    exponential) expression-tree size."""
    ss = F.array(*[F.col(f"__s{i}") for i in range(n_cells)])
    return (F.array_position(ss, F.array_max(ss)) - 1).cast("int")


def assign_cells(df: DataFrame, centroids: list[list[float]],
                 vec_col: str = "embedding",
                 key_col: str = "vec_id") -> DataFrame:
    """(key, vec, cell): nearest-centroid assignment against pre-trained
    centroids, as a narrow map (centroid literals ride the plan — no join,
    no shuffle). ``cell`` ties break to the FIRST max-cosine index, the
    same rule as IVF's ``_nearest_cell`` and the DuckDB
    ``list_position(ss, list_max(ss))`` replay, so any consumer
    (IVF probing, SemDeDup, cluster stats) shares one oracle-checkable
    assignment. (The r17 ``_scan_parallel`` gate below is a no-op on any
    real multi-file corpus — the map stays narrow at scale; it only
    spreads the degenerate single-file toy scan, whose 16 interpreted
    64-dim folds per row would otherwise run on one core.)"""
    return _with_cell_scores(_scan_parallel(df, key_col), vec_col,
                             centroids).select(
        key_col, vec_col, _nearest_cell(len(centroids)).alias("cell"))


def train_kmeans_centroids(embeddings: DataFrame, n_cells: int = 16,
                           iters: int = 10, vec_col: str = "embedding",
                           key_col: str = "vec_id",
                           sample_per_cell: int = 64) -> list[list[float]]:
    """Deterministic k-means coarse quantizer trained on a sample.

    The standard IVF recipe at corpus scale: the quantizer only needs a
    representative sample, so we pull the ``n_cells × sample_per_cell``
    vectors with the smallest ``xxhash64(key)`` (a deterministic
    pseudo-random sample — one distributed top-k, no RNG state, stable
    across runs/partitionings) and run Lloyd's iterations driver-side in
    numpy (milliseconds). The corpus-sized work — cell assignment — stays
    distributed as a narrow map against the returned centroids. This
    replaces per-iteration Spark jobs: at 100 TB you cannot afford
    ``iters`` full passes, and the sample loses nothing a coarse quantizer
    cares about.
    """
    import numpy as np

    n_sample = n_cells * sample_per_cell
    rows = (
        embeddings.select(vec_col, F.xxhash64(F.col(key_col)).alias("_h"))
        .orderBy("_h").limit(n_sample).collect()
    )
    x = np.array([list(map(float, r[vec_col])) for r in rows])
    cent = x[:n_cells].copy()
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(xn @ cn.T, axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [list(map(float, c)) for c in cent]


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", key_col: str = "vec_id",
             query_key_col: str = "query_id", n_cells: int = 16,
             nprobe: int = 2,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: score only corpus
    vectors whose cell is among the query's ``nprobe`` nearest centroids.
    Same output contract as brute_force_topk; recall tunable via
    ``n_cells``/``nprobe``. Pass pre-trained ``centroids`` to skip training
    (the production shape: train once, reuse across queries)."""
    if centroids is None:
        centroids = train_kmeans_centroids(embeddings, n_cells, vec_col=vec_col,
                                           key_col=key_col)
    n_cells = len(centroids)
    e = _with_cell_scores(_scan_parallel(embeddings, key_col), vec_col,
                          centroids).select(
        key_col, vec_col,
        _nearest_cell(n_cells).alias("__cell"),
        norm(F.col(vec_col)).alias("__enorm"),
    )
    q = _probe_rows(queries, vec_col, query_key_col, centroids, nprobe)
    scored = _score_probed(e, q, vec_col, key_col, query_key_col)
    return _topk_per_query(scored, k, query_key_col, key_col)


def _probe_rows(queries: DataFrame, vec_col: str, query_key_col: str,
                centroids: list[list[float]], nprobe: int) -> DataFrame:
    """Query → its ``nprobe`` nearest cells, exploded to one
    (query_key, __qvec, __qnorm, __cell) row per probe. The tiny
    sort-of-n_cells array (over the named score columns) runs on the
    broadcast-small query side only. Shared by ivf_topk and
    ivf_topk_partitioned so the probe-cell tie-break (score DESC, cell ASC
    via the negated-score struct sort) cannot drift between them — the
    partitioned path's "identical results" contract depends on it."""
    n_cells = len(centroids)
    ranked_cells = F.slice(
        F.transform(
            F.array_sort(
                F.array(*[
                    F.struct((-F.col(f"__s{i}")).alias("negs"),
                             F.lit(i).alias("cell"))
                    for i in range(n_cells)
                ])
            ),
            lambda st: st["cell"],
        ),
        1, nprobe,
    )
    return _with_cell_scores(queries, vec_col, centroids).select(
        F.col(query_key_col),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qnorm"),
        F.explode(ranked_cells).alias("__cell"),
    )


def _score_probed(e: DataFrame, q: DataFrame, vec_col: str, key_col: str,
                  query_key_col: str) -> DataFrame:
    """Join corpus cells to the broadcast probe rows and compute the 6dp
    cosine (same arithmetic as brute_force_topk). Shared scoring block for
    both IVF paths. Deliberately NOT routed through _flat_dot (r13
    A/B: the e side's vec arrives alongside COMPUTED columns — the
    8-centroid cell assignment — and the unpack regressed s3 1.6→6.3s:
    projection collapse re-evaluates computed subtrees per extracted
    element and the 67-field rows push the probe stage past codegen
    limits; the HOF fold is the better plan on computed-column sides)."""
    pair = dot(F.col("__qvec"), F.col(vec_col))
    return e.join(F.broadcast(q), on="__cell", how="inner").select(
        query_key_col,
        key_col,
        F.round(
            # try_divide: NULL (excluded downstream), not an ANSI abort,
            # when a zero-norm vector appears — see cosine()
            F.try_divide(pair, F.col("__qnorm") * F.col("__enorm")),
            6,
        ).alias("cosine"),
    )


def write_ivf_partitioned(embeddings: DataFrame, path: str,
                          centroids: list[list[float]],
                          vec_col: str = "embedding",
                          key_col: str = "vec_id",
                          mode: str = "overwrite") -> None:
    """Materialize the corpus partitioned by IVF cell: one directory per
    ``cell_id``. This is the 100 TB layout the IVF docstring promises —
    after it, a probe reads ONLY the probed cells' files (partition
    pruning), so query cost scales with nprobe/n_cells of the corpus, not
    the corpus. Cell assignment is the same narrow map as ivf_topk's."""
    n_cells = len(centroids)
    e = _with_cell_scores(embeddings, vec_col, centroids).select(
        key_col, vec_col, _nearest_cell(n_cells).alias("cell_id"))
    e.write.mode(mode).partitionBy("cell_id").parquet(path)


def ivf_topk_partitioned(path: str, queries: DataFrame,
                         centroids: list[list[float]], k: int = 10,
                         nprobe: int = 2, vec_col: str = "embedding",
                         key_col: str = "vec_id",
                         query_key_col: str = "query_id") -> DataFrame:
    """IVF top-k over a :func:`write_ivf_partitioned` layout. The probed
    cell set is computed from the query side — small by contract (queries
    broadcast in every path here), so collecting its ≤ |queries| × nprobe
    distinct cell ids to build the partition filter is bounded driver work,
    the same trade as train_kmeans_centroids' sample collect. The resulting
    ``cell_id IN (...)`` filter is a PARTITION filter: only the probed
    directories' files are ever opened.

    Results are identical to :func:`ivf_topk` with the same centroids
    (the probe and scoring blocks are literally shared — _probe_rows /
    _score_probed)."""
    q = _probe_rows(queries, vec_col, query_key_col, centroids, nprobe)
    probe_cells = sorted({r["__cell"] for r in q.select("__cell").distinct().collect()})
    e = (queries.sparkSession.read.parquet(path)
         .filter(F.col("cell_id").isin(probe_cells))
         .select(key_col, vec_col, F.col("cell_id").alias("__cell"),
                 norm(F.col(vec_col)).alias("__enorm")))
    scored = _score_probed(e, q, vec_col, key_col, query_key_col)
    return _topk_per_query(scored, k, query_key_col, key_col)


def write_ivf_partitioned_quantized(embeddings: DataFrame, path: str,
                                    centroids: list[list[float]],
                                    vec_col: str = "embedding",
                                    key_col: str = "vec_id",
                                    mode: str = "overwrite") -> None:
    """The 100 TB ANN *serving* layout: IVF cell directories holding
    int8-quantized vectors — :func:`write_ivf_partitioned`'s partition
    pruning (read only nprobe/n_cells of the corpus) COMPOSED with
    :func:`quantize_embeddings`' 4× byte cut, so a probe reads
    ~nprobe/(4·n_cells) of the float corpus bytes. Cell assignment runs
    on the FULL-PRECISION vectors (assignment error would cost recall
    forever; quantization error only costs ranking precision at query
    time)."""
    n_cells = len(centroids)
    assigned = _with_cell_scores(embeddings, vec_col, centroids).select(
        key_col, vec_col, _nearest_cell(n_cells).alias("cell_id"))
    qz = quantize_embeddings(assigned, vec_col=vec_col, key_col=key_col,
                             keep_cols=("cell_id",))
    qz.write.mode(mode).partitionBy("cell_id").parquet(path)


def ivf_topk_partitioned_quantized(path: str, queries: DataFrame,
                                   centroids: list[list[float]], k: int = 10,
                                   nprobe: int = 2,
                                   vec_col: str = "embedding",
                                   key_col: str = "vec_id",
                                   query_key_col: str = "query_id") -> DataFrame:
    """IVF top-k over a :func:`write_ivf_partitioned_quantized` layout:
    the same partition-pruned probe as :func:`ivf_topk_partitioned`
    (cell_id IN (...) is a partition filter — only probed directories'
    files open), with vectors DEQUANTIZED row-locally at probe time
    (full-precision float queries). Same output contract; ranking error
    bounded by the quantization step — recall@k vs the float IVF is
    pinned ≥ 0.9 in tests on the real embeddings table."""
    q = _probe_rows(queries, vec_col, query_key_col, centroids, nprobe)
    probe_cells = sorted({r["__cell"] for r in q.select("__cell").distinct().collect()})
    deq = dequantize_expr(F.col("qvec"), F.col("scale"))
    # r17 staging (the quantize-amax pattern): dequantize ONCE per probed
    # row, then norm over the materialized column — the inline spelling
    # ran the dequantize transform three times per row (at serving scale
    # that triples the probe stage's per-row work). Bit-identical scores.
    e = (queries.sparkSession.read.parquet(path)
         .filter(F.col("cell_id").isin(probe_cells))
         .select(key_col, deq.alias("__dv"),
                 F.col("cell_id").alias("__cell"))
         .select(key_col, "__dv", "__cell",
                 norm(F.col("__dv")).alias("__enorm")))
    scored = _score_probed(e, q, "__dv", key_col, query_key_col)
    return _topk_per_query(scored, k, query_key_col, key_col)


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", key_col: str = "vec_id",
             query_key_col: str = "query_id", planes: int = 8) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. Same schema as brute_force_topk; recall < 1 by design."""
    e = _scan_parallel(embeddings, key_col).select(
        key_col, vec_col,
        rh_signature(F.col(vec_col), planes).alias("__bucket"),
        norm(F.col(vec_col)).alias("__enorm"),
    )
    q = queries.select(
        F.col(query_key_col),
        F.col(vec_col).alias("__qvec"),
        rh_signature(F.col(vec_col), planes).alias("__bucket"),
        norm(F.col(vec_col)).alias("__qnorm"),
    )
    scored = e.join(F.broadcast(q), on="__bucket", how="inner").select(
        query_key_col,
        key_col,
        F.round(
            # try_divide: NULL (excluded downstream), not an ANSI abort,
            # when a zero-norm vector appears — see cosine()
            F.try_divide(dot(F.col("__qvec"), F.col(vec_col)),
                         F.col("__qnorm") * F.col("__enorm")),
            6,
        ).alias("cosine"),
    )
    return _topk_per_query(scored, k, query_key_col, key_col)


# ---------------------------------------------------------------------------
# int8 scalar quantization
# ---------------------------------------------------------------------------


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        key_col: str = "vec_id",
                        keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(key, qvec: array<tinyint>, scale: float): per-vector symmetric
    int8 scalar quantization — ``q_i = round(x_i / scale)`` with
    ``scale = max|x| / 127`` — the standard 4× storage/scan-volume
    reduction for embedding corpora (at 100 TB the ANN cost is dominated
    by scan bytes, and int8 is the universally-deployed first step before
    PQ). Row-local codegen-free narrow map (HOF fold, see module
    docstring); all-zero vectors keep scale 0 and an all-zero qvec.
    Lossless to reverse within ±scale/2 per component via
    :func:`dequantize_expr`. ``keep_cols`` pass through unchanged (e.g.
    an IVF ``cell_id`` for the quantized partitioned layout).

    r17 (guide §4 — per-row redundant work): ``amax`` is materialized
    ONCE per row in its own Project. The previous single-Project
    spelling referenced the full 64-step fold from INSIDE the transform
    lambda (the zero-guard and the division both), and HOF lambdas are
    interpreted — the fold re-evaluated per ELEMENT, 64× redundant
    work: measured 1.16 s of the s1 leg for 2,000 rows at sf0.1
    (scratch/probe_s1_s4.py), ~0.03 s after. The fold stays a
    multi-consumer non-cheap alias, which CollapseProject declines to
    inline back (verified: one `aggregate(` in the optimized plan).
    Identical per-element arithmetic → bit-identical output (pinned by
    test_quantize_amax_staging_matches_inline_fold)."""
    v = F.col(vec_col)
    amax = F.aggregate(v, F.lit(0.0),
                       lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))))
    staged = df.select(F.col(key_col), v, *keep_cols,
                       amax.alias("__amax"))
    am = F.col("__amax")
    scale = (am / F.lit(127.0)).alias("scale")
    return staged.select(
        F.col(key_col),
        F.transform(
            v,
            lambda x: F.when(am == 0.0, F.lit(0)).otherwise(
                F.round(x.cast("double") * F.lit(127.0) / am)
            ).cast("tinyint"),
        ).alias("qvec"),
        scale.cast("float"),
        *keep_cols,
    )


def dequantize_expr(qvec: Column, scale: Column) -> Column:
    """array<double> reconstruction of a quantized vector (row-local)."""
    return F.transform(qvec, lambda q: q.cast("double") * scale.cast("double"))


def brute_force_topk_quantized(quantized: DataFrame, queries: DataFrame,
                               k: int = 10, vec_col: str = "embedding",
                               key_col: str = "vec_id",
                               query_key_col: str = "query_id") -> DataFrame:
    """Exact-arithmetic top-k over an int8-quantized corpus: cosine on
    the DEQUANTIZED vectors (full-precision float queries), same output
    contract and same broadcast/two-phase plan as ``brute_force_topk``.
    Ranking error vs the float corpus is bounded by the quantization
    step (≤ scale/2 per component); recall@k is checked in tests on real
    embeddings. The corpus scan reads ~1/4 the bytes of the float path —
    at 100 TB that IS the query cost."""
    # r17 staging (the quantize-amax pattern): dequantize ONCE per row,
    # then take the norm over the materialized column — the inline
    # spelling evaluated the dequantize transform three times per row
    # (once for _dv, twice as zip_with's children inside the norm fold).
    # Same arithmetic → bit-identical scores.
    deq = _scan_parallel(quantized, key_col).select(
        key_col,
        dequantize_expr(F.col("qvec"), F.col("scale")).alias("_dv"),
    ).select(
        key_col, "_dv", norm(F.col("_dv")).alias("_dnorm"),
    )
    q = queries.select(
        F.col(query_key_col),
        F.col(vec_col).alias("_qv"),
        norm(F.col(vec_col)).alias("_qnorm"),
    )
    # NOT _flat_dot: _dv is a COMPUTED array (per-row dequantize) — the
    # unpack re-evaluates the transform per extracted element under
    # projection collapse (the r13 s3 regression); the fold reads it once
    pair = dot(F.col("_qv"), F.col("_dv"))
    scored = deq.crossJoin(F.broadcast(q)).select(
        query_key_col, key_col,
        F.round(
            F.try_divide(pair, F.col("_qnorm") * F.col("_dnorm")),
            6,
        ).alias("cosine"),
    )
    return _topk_per_query(scored, k, query_key_col, key_col)
