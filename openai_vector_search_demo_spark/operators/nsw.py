"""Graph ANN: NSW-style kNN-graph build + deterministic beam search.

The reference's actual index is HNSW (modules/utilities.py:272-278 —
Redis `HNSW` vector index); this module is the closest Spark-native
analogue in the engine's ANN ladder: a stored NEIGHBOR GRAPH (top-M
cosine neighbors per vector — the single-layer Navigable-Small-World
form, Malkov et al. 2014, public method description only) searched by
multi-seed best-first BEAM expansion, exactly the serving pattern HNSW
uses below its hierarchy.  Unlike the hash/quantizer tiers (LSH, IVF,
PQ, SQ8, binary), candidates come from GRAPH LOCALITY: each round
expands the current frontier's adjacency lists and keeps the best
``ef`` newcomers, so the scan cost is rounds·ef·M score evaluations —
independent of corpus size — instead of any corpus-wide pass.

Build (offline, one-time — the standard graph-index trade):
``build_knn_graph`` computes the EXACT top-M neighbor list per vector
with the semdedup salt-split block pattern (``operators/semdedup.py``):
rows hash into S = ⌈n/max_block_rows⌉ shards, every unordered shard
pair meets in its own BLAS task (per-task memory bounded by
max_block_rows²), each task emits its LEFT rows' per-block top-M, and a
global per-src window reduces the ≤ S·M candidates per row to the final
top-M — exact, because the true top-M is a subset of the union of
per-block top-Ms.  At 100 TB the same build runs per IVF cell first
(cell-bounds the quadratic, the semdedup posture); the graph THIS
module stores and serves is format-identical either way.

Search (``beam_search_knn``): entry is HIERARCHICAL AND RECURSIVE —
``nsw_hier_plan`` graph-indexes every level of the stride stack
(⌈√n⌉-node L1, n^(1/4)-node L2, …) down to the first level smaller
than ``NSW_HIER_FLOOR``, and a query enters by scoring that tiny top
subset exactly, then DESCENDING: per level, two beam rounds at
constant width ``NSW_HIER_W``, re-seeded from the running pool's top;
the base beam starts from the pool's top-16 (all hierarchy-visited
stay candidates — their exact scores are paid).  This is the
reference's actual HNSW multi-layer structure
(modules/utilities.py:272-278): entry work is
depth·2·{NSW_HIER_W}·2M evaluations with depth = Θ(log log n) — flat
in n for any real corpus.  Which levels get a graph and which stride
product is the flat top is decided in ONE place,
``_level_geometry(strides, counts)``; every writer, reader and engine
takes its levels from it.  Each of T base rounds joins the frontier's
adjacency rows (a broadcast of ≤ ef ids against the src-bucketed edge
store — partition-pruned point lookups), traverses them SYMMETRICALLY
(out-edges ∪ reversed in-edges — the reverse-link practice; hubs
become entryways, not one-way sinks), scores the unvisited newcomers
by exact cosine against the query, keeps the top-ef as the next
frontier (ef = {NSW_EF_SERVE} CONSTANT: per-query work is BOUNDED by
rounds·ef·2M evaluations independent of corpus size, where a
⌈1.5·√n⌉ autoscale made it Θ(√n·M) and its recall still decayed
0.97 → 0.77 → 0.62 across 2k/20k/100k), and accumulates every scored
node.  The answer is the top-k of all visited nodes — i.e. the refine
is built in: scores are exact cosines throughout, the graph only
decides WHICH nodes get scored.  Recall is measured, never assumed —
with M = 16 (the degree that keeps an exact-kNN graph navigable at
100k; M = 6 needed 2× the beam for less recall) the constant-ef point
serves mean/min recall@10 = 1.00/1.00 @ 2k, 1.00/1.00 @ 20k,
0.98/0.90 @ 100k (``ann_nsw_mean_recall_at_10``,
``ann_nsw_fixed_ef_scaling``, ``scripts/ab_nsw_v4_deep.py``).

Store format (``write_nsw_index``): the base graph and every graph
level (``_L1`` … ``_Ld``) are stored in one DUAL layout — each directed
top-M edge under its src bucket with ``fwd = true`` plus a ``fwd =
false`` mirror under the dst's bucket — and ``_L1_META`` freezes the
write-time geometry (``strides``, ``counts``, ``stride``, ``n1``,
``m``, ``n``).  ``_stored_layer`` opens any layer for the single-query
engine (bucket-pruned lookups); ``resolve_stored_edges`` resolves any
layer whole (merge-on-read top-M, then symmetrized) for the batch
engine.

Determinism contract (the ANN-family rule, ``ann.py`` module
docstring): every selection — per-block top-M, global top-M, per-round
top-ef, final top-k — orders by the 6-dp-rounded cosine with an id
tie-break, so graph, beam trajectory, and answer replay bit-for-bit in
DuckDB for the correctness gate (the BLAS-vs-fold float caveat is the
same pinned-never-happens contract every numpy ANN path carries).

PIPELINE-ORDER REQUIREMENT (measured, SCALE.md r12): when duplicate
multiplicity exceeds M, the exact kNN graph shatters into
per-duplicate-group cliques and NO beam setting can navigate across
them (sf1 replica fixture: 2,000 ten-node components, recall 0.0).
Run the engine's near-dup/semantic dedup BEFORE ``build_knn_graph`` —
measured to restore a single navigable component and the expected
recall, while shrinking the index by the duplicate factor.
``tests/test_nsw.py::test_duplicate_multiplicity_disconnects_graph``
pins the pathology and the fix.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.functions.vectors import (
    cosine_similarity,
    vector_lit,
)
from openai_vector_search_demo_spark.session import local_frame

NSW_M = 16         # out-neighbors kept per node (traversal is SYMMETRIC)
NSW_EF = 12        # beam-width floor (tests' explicit-knob mode)
NSW_EF_SERVE = 160  # CONSTANT serving beam width — independent of n (v4)
NSW_ROUNDS = 8     # frontier expansions (pinned; the oracle unrolls them)
NSW_ENTRY_COUNT = 16  # base-beam entry points taken from the level stack
NSW_HIER_W = 16    # per-level beam width AND seed count (constant in n)
NSW_L1_ROUNDS = 2     # beam rounds per graph-indexed hierarchy level
NSW_HIER_FLOOR = 16   # level size below this -> score the level flat
NSW_STOP_K = 32
"""Early-termination window (r15 — HNSW's efSearch convergence rule,
public method description): a base-beam round that produces NO
newcomer scoring above the {NSW_STOP_K}-th best visited node cannot
change the answer's neighborhood — stop instead of spending the
remaining rounds.  Twin-measured FREE at the recall envelope
(stop_k=32: identical 0.98/0.90 at 100k, 1.00/1.00 at 2k) while toy
corpora converge in ~4 rounds instead of 8 — the saturation rounds
were pure cost.  stop_k=10/16 DO cost tail recall at 100k (min 0.90 →
0.70) — the margin between k and the stop window is what absorbs
late-round improvements.  Deterministic from 6-dp-rounded values, so
every oracle replays the same stop decision."""
NSW_SEEDS = (1, 101, 201, 301)
"""Legacy fixed, id-spread entry points — kept for explicit-seed callers
and tests.  SERVING default is the HIERARCHICAL entry instead (v4,
r15): flat scan of the top (< {NSW_HIER_FLOOR}-node) subset, then a
constant-width beam down every graph-indexed level — see the module
docstring and ``nsw_serving_params``/``nsw_hier_plan``.  Fixed seeds at
sf0.1 served mean recall@10 = 0.155; the r13 flat coarse entry 0.76
(min 0.50); v3 (√n-autoscaled ef) 0.97 at sf0.1 but DECAYING with n
(0.77 @ 20k, 0.62 @ 100k); v4's constant-ef point holds ≥0.9 across
the same curve — see ``ann_nsw_mean_recall_at_10`` /
``ann_nsw_fixed_ef_scaling``."""

DEFAULT_MAX_BLOCK_ROWS = 8192


def nsw_serving_params(n: int) -> tuple[int, int, int]:
    """(stride, ef, rounds) for a corpus of ``n`` vectors — the
    registered serving policy (v4, r15): coarse stride ⌈√n⌉ (the
    HIERARCHY's geometry — its depth adapts to n), beam width
    ef = {NSW_EF_SERVE} CONSTANT, rounds = {NSW_ROUNDS} constant.
    Per-query work is therefore BOUNDED by rounds·ef·2M score
    evaluations — independent of corpus size — where v3's
    ef = ⌈1.5·√n⌉ made it Θ(√n·M) and its recall at the autoscale
    point still decayed 0.97 → 0.77 → 0.62 across 2k/20k/100k
    (VERDICT r14 #1).  The constant point (with the deeper hierarchy
    and the M = {NSW_M} degree that makes a kNN graph navigable at
    100k) was picked by the numpy-twin A/B
    (``scripts/ab_nsw_v4_deep.py``) and holds mean recall ≥ 0.9 on the
    same 3-point curve with a visited count that SATURATES instead of
    growing — receipted by ``ann_nsw_fixed_ef_scaling``."""
    import math
    root = max(2, math.ceil(math.sqrt(max(1, n))))
    return root, NSW_EF_SERVE, NSW_ROUNDS


def nsw_l1_params(n1: int) -> tuple[int, bool]:
    """(stride2, hierarchical) for an L1 coarse layer of ``n1`` nodes —
    one recursion step of the hierarchy's geometry: the next level's
    subset is ``id % (stride·stride2) == 0`` with stride2 = ⌈√n1⌉.
    Below ``NSW_HIER_FLOOR`` nodes the layer is scored flat — the
    small-corpus degeneration the oracle mirrors with an OR predicate
    (a 6-node layer has nothing to index).  ``nsw_hier_plan`` applies
    this step recursively (v4)."""
    import math
    return max(2, math.ceil(math.sqrt(max(1, n1)))), n1 >= NSW_HIER_FLOOR


def nsw_hier_plan(df: DataFrame, n: int,
                  id_col: str = "vec_id",
                  n1: int | None = None) -> tuple[list[int], list[int]]:
    """(strides, counts) of the full level stack for corpus ``df`` of
    size ``n`` — the v4 RECURSION the v3 design only named: level ℓ is
    the subset ``id % (s1·…·sℓ) == 0`` with s_{ℓ+1} = ⌈√n_ℓ⌉; every
    level with ≥ {NSW_HIER_FLOOR} nodes gets its own exact top-M graph,
    and the FIRST smaller level is the flat-scanned entry top.  Level
    sizes fall as n^(1/2), n^(1/4), n^(1/8)… so depth is Θ(log log n)
    (2 at 2k, 3 at 100k, ~4 at 10⁹) and per-query entry work is
    depth·{NSW_L1_ROUNDS}·{NSW_HIER_W}·2M evaluations — flat in n.
    This is the reference HNSW's actual multi-layer structure
    (modules/utilities.py:272-278).  ``df`` must already be filtered to
    non-null vectors; counts come from the DATA (one count job per
    level, ≤ ~4), so a replay is deterministic.  ``n1`` short-circuits
    the first count when the caller already knows it (the memoized
    slots)."""
    import math
    strides: list[int] = []
    counts: list[int] = []
    prod = 1
    cur = max(1, n)
    while True:
        s = max(2, math.ceil(math.sqrt(cur)))
        prod *= s
        if not strides and n1 is not None:
            cnt = int(n1)
        else:
            cnt = df.filter(
                F.pmod(F.col(id_col), F.lit(int(prod))) == 0).count()
        strides.append(int(s))
        counts.append(int(cnt))
        if cnt < NSW_HIER_FLOOR:
            return strides, counts
        cur = cnt


def _level_geometry(strides: Sequence[int], counts: Sequence[int]
                    ) -> tuple[list[int], int]:
    """(stride products of the graph levels L1 → Ld, flat-top modulus)
    of a level stack — ``nsw_hier_plan``'s output or a store's frozen
    ``_L1_META``.  Level ℓ is the subset ``id % (s1·…·sℓ) == 0``; it
    gets a graph while it holds ≥ {NSW_HIER_FLOOR} nodes, and the first
    smaller level is the flat-scanned entry top, whose stride product
    is the modulus.  The one place this walk is made."""
    prods: list[int] = []
    prod = 1
    for s, cnt in zip(strides, counts):
        prod *= int(s)
        if cnt < NSW_HIER_FLOOR:
            break
        prods.append(prod)
    return prods, prod


def _level_path(path: str, lvl: int) -> str:
    """Directory of stored graph level ``lvl`` (1-based) under ``path``."""
    return f"{path.rstrip('/')}/_L{lvl}"


def nsw_filtered_ef(ef: int, n_match: int, n_total: int,
                    k: int = 10, cap: int = 4) -> int:
    """PREDICATE-AWARE beam widening for post-filter serving (the
    filtered-DiskANN / ACORN practice, public method descriptions):
    a beam of width ef carries ~ef·selectivity predicate matches per
    round, so at low selectivity the visited set can hold fewer than
    ``k`` matches and the post-filter answer starves.  Widen by
    w = ⌈k / (ef·sel)⌉ = ⌈k·n_total / (ef·n_match)⌉ — the factor that
    makes the EXPECTED per-round match count k — clamped to [1, cap]
    (cap bounds worst-case cost at cap·ef·M evaluations per round; an
    empty predicate keeps w = cap rather than diverging).  Measured at
    sf0.1 (BASELINE.md r14): 1% selectivity recall 0.9 → 1.0 at w = 4;
    ≥10% selectivity stays w ≤ 2.  Deterministic from counts, so the
    DuckDB oracle computes the identical width."""
    import math
    if n_match <= 0:
        return ef * cap
    w = math.ceil(k * n_total / (ef * n_match))
    return ef * max(1, min(cap, w))


def symmetrize_edges(edges: DataFrame) -> DataFrame:
    """Undirected traversal relation from a directed top-M adjacency:
    out-edges ∪ reversed in-edges (the HNSW reverse-link practice —
    hub nodes become ENTRYWAYS to their spokes, not one-way sinks;
    measured +0.1–0.2 mean recall at every scale)."""
    fwd = edges.select("src", "dst")
    return fwd.union(fwd.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst"))).distinct()


def _unit_rows(pdf) -> np.ndarray:
    """The pandas block's ``v`` vectors as unit rows (a zero vector
    stays zero)."""
    mat = np.array(pdf["v"].tolist(), dtype=np.float64)
    nm = np.linalg.norm(mat, axis=1)
    nm[nm == 0] = 1.0
    return mat / nm[:, None]


def _rows_topm(rids, cids, sims, m: int) -> list:
    """(src, dst, sim) rows: each row ``rids[r]``'s top-``m`` columns of
    ``sims`` under (sim desc, dst asc), itself excluded — the one
    per-block selection both graph builds use.  Threshold-prefilter
    before the sort: keep every candidate >= the (m+8)-th largest sim
    (ties at the boundary INCLUDED, so the exact top-m — at most one
    self among them — is provably inside), then order just that slice.
    Same selection as a full-row lexsort, ~10× less Python per row —
    the lever that cut the 100k exact build from ~9 min to ~2."""
    out = []
    slack = min(m + 8, sims.shape[1])
    for r in range(len(rids)):
        row = sims[r]
        if len(row) > slack:
            thresh = np.partition(row, len(row) - slack)[len(row) - slack]
            cand = np.nonzero(row >= thresh)[0]
        else:
            cand = np.arange(len(row))
        order = np.lexsort((cids[cand], -row[cand]))
        picked = [c for c in cand[order] if cids[c] != rids[r]][:m]
        for c in picked:
            out.append((rids[r], cids[c], row[c]))
    return out


def _edge_frame(rows):
    """``_rows_topm`` rows as the builds' (src, dst, sim) pandas frame."""
    import pandas as pd
    if not rows:
        return pd.DataFrame({"src": pd.Series([], dtype="int64"),
                             "dst": pd.Series([], dtype="int64"),
                             "sim": pd.Series([], dtype="float64")})
    return pd.DataFrame(rows, columns=["src", "dst", "sim"])


def build_knn_graph(df: DataFrame, m: int = NSW_M,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    max_block_rows: int = DEFAULT_MAX_BLOCK_ROWS
                    ) -> DataFrame:
    """Exact top-``m`` cosine neighbor list per node as (src, dst, sim)
    rows, sim 6-dp-rounded (the determinism boundary).  Salt-split
    blocked BLAS: every shard pair meets once, per-task memory ≤
    max_block_rows²·8 B, and each task emits only its left rows'
    per-block top-m — the global window then sees ≤ S·m rows per src,
    never the n² pair relation."""
    base = (df.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
    n = base.count()
    s = max(1, -(-n // max_block_rows))

    def block_topm(key, pdf):
        i, j = key
        a = pdf[pdf["salt"] == i]
        b = pdf[pdf["salt"] == j] if i != j else a
        if len(a) == 0 or len(b) == 0:
            return _edge_frame([])
        ids_a = a["id"].to_numpy(dtype=np.int64)
        ids_b = b["id"].to_numpy(dtype=np.int64)
        sims = np.round(_unit_rows(a) @ _unit_rows(b).T, 6)
        out = _rows_topm(ids_a, ids_b, sims, m)
        if i != j:
            out += _rows_topm(ids_b, ids_a, sims.T, m)
        return _edge_frame(out)

    salted = base.withColumn(
        "salt", F.pmod(F.xxhash64("id"), F.lit(s)).cast("int"))
    expanded = salted.withColumn("grp", F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(s - 1)),
        lambda k: F.struct(F.least(k, F.col("salt")).alias("i"),
                           F.greatest(k, F.col("salt")).alias("j")))))
    cands = (expanded
             .select("id", "v", "salt",
                     F.col("grp.i").alias("i"), F.col("grp.j").alias("j"))
             .groupBy("i", "j")
             .applyInPandas(block_topm,
                            schema="src long, dst long, sim double"))
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                          F.col("dst").asc())
    return (cands.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= m).drop("_rn"))


def build_knn_graph_sharded(df: DataFrame, centroids,
                            m: int = NSW_M, n_cells: int = 8,
                            n_assign: int = 2,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """CELL-BOUNDED graph build with boundary MULTI-ASSIGNMENT — the
    100 TB build path the module docstring promises, as a first-class
    operator (the SPANN / sharded-DiskANN practice, public method
    descriptions): nodes are assigned to their top-``n_assign``
    super-cells (super-cell score = max spherical dot over the trained
    quantizer's centroids folded by ``cid % n_cells``; ties → smaller
    super-cell id), every super-cell computes its members' within-cell
    exact top-``m`` in ONE bounded task, and a global per-src window
    reduces the ≤ n_assign·m candidates per node to the final list.
    Per-task work is |cell|² — never n² — and the multi-assignment
    replicates BOUNDARY nodes into every cell they are near, which is
    what keeps cross-cell true neighbors discoverable:
    ``ann_nsw_cellbuild_mean_recall_at_10`` measures n_assign=1 vs 2 at
    0.495 → 0.92 (sf0.01) and 0.545 → 0.76 (sf0.1) — the replicated
    build matches the GLOBAL build's recall (0.93 / 0.76) with the
    same edge budget."""
    import pandas as pd

    cent = np.asarray(centroids, dtype=np.float64)
    base = (df.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))

    def assign(pdf_iter):
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            nm = np.linalg.norm(mat, axis=1)
            nm[nm == 0] = 1.0
            dots = (mat / nm[:, None]) @ cent.T
            sup = np.full((len(ids), n_cells), -np.inf)
            for j in range(cent.shape[0]):
                s = j % n_cells
                sup[:, s] = np.maximum(sup[:, s], dots[:, j])
            rows = []
            for r in range(len(ids)):
                order = np.lexsort((np.arange(n_cells), -sup[r]))
                for s in order[:n_assign]:
                    rows.append((int(ids[r]), list(pdf["v"].iloc[r]),
                                 int(s)))
            yield pd.DataFrame(rows, columns=["id", "v", "sup"])

    exploded = base.mapInPandas(
        assign, schema="id long, v array<double>, sup int")

    def cell_topm(key, pdf):
        if len(pdf) < 2:
            return _edge_frame([])
        ids = pdf["id"].to_numpy(dtype=np.int64)
        u = _unit_rows(pdf)
        return _edge_frame(_rows_topm(ids, ids, np.round(u @ u.T, 6), m))

    cands = (exploded.groupBy("sup")
             .applyInPandas(cell_topm,
                            schema="src long, dst long, sim double")
             .dropDuplicates(["src", "dst"]))
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                          F.col("dst").asc())
    return (cands.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= m).drop("_rn"))


def write_nsw_index(df: DataFrame, path: str, m: int = NSW_M,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    n_buckets: int = 16) -> None:
    """Persist the serving artifact: the adjacency table, BUCKETED BY
    SRC (one directory per ``pmod(src, n_buckets)``) so each beam
    round's frontier lookup is a partition-pruned point read of ≤ ef
    buckets — the vectors themselves are NOT stored here (the refine
    point-reads them from the source table).

    Each directed top-M edge is written in BOTH directions — the
    out-edge with ``fwd = true`` (the canonical list the merge-on-read
    top-M window resolves) and its mirror under the OTHER endpoint's
    bucket with ``fwd = false`` — so symmetric traversal stays a single
    src-pruned point read per round instead of an unprunable dst-side
    scan.  Mirror rows are traversal HINTS: the stored lookup validates
    each against the mirror source's current resolved top-M, which
    makes them exact under upserts too.

    The store carries the WHOLE hierarchy: every graph level of
    ``nsw_hier_plan`` (``_level_geometry``) gets its own exact top-M
    graph under ``_L1``, ``_L2``, … in the SAME dual fwd/mirror
    bucketed format as the base layer, so the incremental upsert
    machinery applies to levels too, and the write-time geometry lands
    in ``_L1_META``.  Level ℓ is n^(1/2^ℓ)-sized: its build is at most
    n work (amortized next to the base n²-bounded build), depth is
    Θ(log log n), and serving entry costs depth·{NSW_L1_ROUNDS}·
    {NSW_HIER_W}·2M evaluations — flat in n."""
    base = df.filter(F.col(vec_col).isNotNull())
    n = base.count()
    strides, counts = nsw_hier_plan(base, n, id_col=id_col)
    edges = build_knn_graph(df, m=m, vec_col=vec_col, id_col=id_col)
    _write_graph_dual(edges, path, n_buckets, "overwrite")
    for lvl, prod in enumerate(_level_geometry(strides, counts)[0],
                               start=1):
        sub = base.filter(F.pmod(F.col(id_col), F.lit(prod)) == 0)
        ledges = build_knn_graph(sub, m=m, vec_col=vec_col,
                                 id_col=id_col)
        _write_graph_dual(ledges, _level_path(path, lvl), n_buckets,
                          "overwrite")
    _write_hier_meta(df.sparkSession, path, strides, counts, m, n)


def _write_graph_dual(edges: DataFrame, path: str, n_buckets: int,
                      mode: str) -> None:
    """Persist (``mode`` "overwrite") or append (``mode`` "append") a
    directed top-M adjacency in the store's DUAL format: every edge
    under its src bucket with ``fwd = true`` (the canonical list
    merge-on-read resolves) plus a ``fwd = false`` mirror under the
    dst's bucket (symmetric traversal stays a src-pruned point read).
    Appended mirrors whose canonical edge is later displaced become
    stale HINTS, which the stored lookup's validation filters against
    the live top-m."""
    both = (edges.withColumn("fwd", F.lit(True))
            .unionByName(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst"), "sim")
                         .withColumn("fwd", F.lit(False))))
    (both.withColumn("bucket", F.pmod(F.col("src"), F.lit(n_buckets))
                     .cast("int"))
     .repartition(F.col("bucket"))
     .write.mode(mode).partitionBy("bucket").parquet(path))


def _write_hier_meta(spark, path: str, strides: list[int],
                     counts: list[int], m: int, n: int) -> None:
    """``_L1_META``: the frozen write-time geometry — the level stack's
    ``strides``/``counts`` (``_level_geometry`` input), the base stride
    and L1 size as ``stride``/``n1``, the degree ``m`` and the corpus
    size ``n``, so serving derives its stride from the store artifact
    instead of a per-run count job."""
    import json

    from openai_vector_search_demo_spark.stores import fs_write_text
    meta = {"stride": int(strides[0]),
            "n1": int(counts[0]),
            "m": int(m),
            "strides": [int(s) for s in strides],
            "counts": [int(c) for c in counts],
            "n": int(n)}
    fs_write_text(spark, path.rstrip("/") + "/_L1_META",
                  json.dumps(meta))


def build_l1_graph(df: DataFrame, stride: int, m: int = NSW_M,
                   vec_col: str = "embedding", id_col: str = "vec_id"
                   ) -> DataFrame:
    """One hierarchy level, inline form: the exact top-``m`` graph over
    the subset ``id % stride == 0`` (pass the stride PRODUCT for deeper
    levels), already SYMMETRIZED — the shape the in-memory beam and the
    oracle consume directly (the stored path uses the dual fwd/mirror
    format instead so levels stay incrementally maintainable)."""
    coarse = df.filter(F.pmod(F.col(id_col), F.lit(int(stride))) == 0)
    return symmetrize_edges(
        build_knn_graph(coarse, m=m, vec_col=vec_col, id_col=id_col))


def write_nsw_index_tenants(df: DataFrame, path: str,
                            tenant_col: str = "tenant",
                            m: int = NSW_M,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            n_buckets: int = 16) -> list:
    """TENANT-SCOPED graph stores — the reference's per-alias physical
    isolation (modules/utilities.py:282-287: each index alias is both
    a NAME and a separate physical index) applied to the graph tier:
    one logical store, laid out ``path/tenant=T/bucket=B`` with each
    tenant's graph, L1 layer, and metadata built from ITS OWN vectors
    only.  A tenant's serve (``nsw_tenant_path`` + ``nsw_stored_knn``)
    opens only its subtree — other tenants' buckets are never listed,
    let alone read (stronger than a partition filter: the prune is
    structural).  Cross-tenant edges cannot exist by construction,
    which is the isolation a filter-on-one-graph cannot give.  The
    per-tenant loop is |tenants| driver iterations around fully
    distributed builds — the Hive-partitioned-table write pattern.
    Returns the tenant values written."""
    from openai_vector_search_demo_spark.stores import tenant_values
    tenants = tenant_values(df, tenant_col)
    for tv in tenants:
        sub = df.filter(F.col(tenant_col) == tv).drop(tenant_col)
        write_nsw_index(sub, nsw_tenant_path(path, tv), m=m,
                        vec_col=vec_col, id_col=id_col,
                        n_buckets=n_buckets)
    return tenants


def nsw_tenant_path(path: str, tenant) -> str:
    """The tenant's physical subtree inside a ``write_nsw_index_tenants``
    store (Hive-style partition naming, so the whole store also reads
    as one partitioned table for offline jobs).  The value is
    Hive-escaped (``escape_partition_value``): the composed path always
    names the directory ``partitionBy`` would write, and a
    traversal-shaped tenant value ('/', '..') cannot escape the
    subtree."""
    from openai_vector_search_demo_spark.stores import (
        escape_partition_value,
    )
    return f"{path.rstrip('/')}/tenant={escape_partition_value(tenant)}"


NSW_PREFETCH_CAP = 8192
"""Adjacency-prefetch bound for the fused round (r16): a round that
scores ≤ this many newcomers ALSO prefetches their adjacency inside
the same action, so the next round pays zero lookup jobs; a larger
round skips the prefetch — its ≤ ef·2M candidates would drag MBs of
edge rows the stop rule may never use into the collect — and the next
round pays one frontier-sized catch-up read instead (the r15 two-read
shape, now the rare case).  At the registered serving point
(ef = {NSW_EF_SERVE}, M = {NSW_M}) a round's candidate set tops out at
ef·2M = 5120 ids ≤ the cap, so serving rounds stay fused."""


class AdjRelation:
    """Pruned adjacency RELATION for the fused one-action-per-round
    serving engine (r16, guide §1.2/§2.6 — VERDICT r15 #1): ``rel(ids)``
    returns the lookup's stored rows for ``src IN ids`` as an
    UNEXECUTED DataFrame — (src, dst) for trusted relations, (src, dst,
    sim, fwd) for delta stores — so the engine can UNION it with the
    round's scoring scan and pay ONE scheduler round-trip for the
    scores AND the next round's adjacency (prefetch).  ``trusted``
    marks a never-upserted relation: every stored row is a live
    undirected edge — no merge-on-read window, no mirror validation.
    Untrusted relations are resolved DRIVER-side from the prefetched
    rows (the r15 ``_topm_dsts`` replay over stored 6-dp sims): per-src
    top-``m`` over distinct fwd pairs, plus mirror rows validated
    against the mirrored node's own top-m — fed by the SAME prefetched
    rows, so r15's separate per-round validation read disappears.
    ``pred_rel(pred)`` is the predicate form — used once per serve to
    prefetch the flat-top entry's adjacency inside the entry scan's
    own job; it is only ever called on the DEEPEST hierarchy level,
    whose node count is < NSW_HIER_FLOOR² by construction, so the
    unpruned scan it implies reads < 256 nodes at ANY corpus size."""

    def __init__(self, rel, pred_rel, trusted: bool = True,
                 m: int = NSW_M):
        self.rel = rel
        self.pred_rel = pred_rel
        self.trusted = trusted
        self.m = m


def _dsc(s):
    """Spark's (sim DESC NULLS LAST, NaN largest) as an ascending key —
    stored sims are 6-dp-rounded doubles written by the build/upsert,
    so sorting THEM driver-side replays the merge-on-read window's
    order bit-for-bit (no recomputation); the single-query engine
    orders its scored rows by the same key."""
    if s is None:
        return (2, 0.0)
    if s != s:          # NaN sorts above every number under DESC
        return (0, 0.0)
    return (1, -s)


def _topm_from(rows, mm: int) -> list:
    """Driver replay of the merge-on-read DENSE_RANK window over
    (sim DESC, dst ASC), rank ≤ mm, for ONE src's (dst, sim, fwd) rows:
    distinct (sim, dst) fwd pairs — an at-least-once replay's
    byte-identical appended rows collapse, exactly like dense_rank."""
    pairs = {(s, d) for d, s, f in rows if f}
    return [d for _, d in
            sorted(pairs, key=lambda p: (_dsc(p[0]), p[1]))[:mm]]


def beam_search_knn(edges, source: DataFrame,
                    qvec: Sequence[float], k: int = 10,
                    ef: int = NSW_EF, rounds: int = NSW_ROUNDS,
                    seeds: Sequence[int] = NSW_SEEDS,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    sim_col: str = "similarity",
                    exclude_ids: Sequence[int] | None = None,
                    stride: int | None = None,
                    n_entry: int = NSW_ENTRY_COUNT,
                    hier_levels: Sequence | None = None,
                    flat_mod: int | None = None,
                    stop_k: int | None = NSW_STOP_K) -> DataFrame:
    """Multi-seed beam search over an adjacency relation — the
    SINGLE-QUERY serving form, FUSED (r16): each beam round pays ONE
    Spark action that both scores the round's unseen candidates (an
    IN-pushdown point read of ``source``) and PREFETCHES those
    candidates' adjacency (the same pruned read the next round would
    otherwise issue), unioned into a single plan — at real-cluster
    scheduler latency the action count IS the query latency, and r15's
    shape paid 2-3 actions per round (broadcast build + probe, or
    read + score ∥ validate).  Candidate resolution, visited-set
    dedup, per-round top-ef, merge-on-read top-m and mirror validation
    are Python selections over the KB-class prefetched state — zero
    extra jobs.  Scores stay exact 6-dp-rounded cosines computed in
    the plan; every selection orders by (score desc, id asc) — the
    same total order Spark's orderBy gives — so the trajectory is
    oracle-replayable bit-for-bit and identical to the r15 shapes.

    Entry points (HIERARCHICAL): with ``hier_levels`` non-empty and
    ``flat_mod`` set (both from ``_level_geometry``), entry DESCENDS the
    level stack: the flat top subset ``id % flat_mod == 0``
    (< {NSW_HIER_FLOOR} nodes) is scored exactly — with the deepest
    level's adjacency prefetched in the SAME action — then each graph
    level from the top down runs {NSW_L1_ROUNDS} fused rounds at
    CONSTANT width {NSW_HIER_W}, and the top-``n_entry`` of everything
    visited seeds the base beam.  A level TRANSITION pays one
    frontier-sized catch-up read (the new level's adjacency was never
    prefetched); everything else is one action per round.  With only
    ``stride`` set, the whole coarse layer is scored flat (the
    degeneration when no level reaches {NSW_HIER_FLOOR} nodes).
    Without ``stride``, ``seeds`` are used verbatim — their known ids
    let the seed scoring and seed adjacency ride one action too.

    ``edges`` / level entries are ``AdjRelation``s (the stored path's
    bucket-pruned form, ``_stored_layer``) or DataFrames of (src, dst);
    ``hier_levels`` is ordered L1 → Ld (the descent runs it
    reversed)."""
    from pyspark.sql import Row

    q = vector_lit(qvec)
    sess = source.sparkSession
    lbl_type = source.schema["label"].dataType
    RowF = Row(id_col, "label", "_s")

    def _as_adj(e):
        if isinstance(e, AdjRelation):
            return e
        return AdjRelation(
            lambda ids, _e=e: _e.filter(F.col("src").isin(ids)),
            lambda pred, _e=e: _e.filter(pred))

    def skey(r):
        return _dsc(r["_s"]), r[id_col]

    def score_pred(pred) -> DataFrame:
        return (source.filter(F.col(vec_col).isNotNull() & pred)
                .withColumn("_s", F.round(
                    cosine_similarity(F.col(vec_col), q), 6))
                .select(id_col, "label", "_s"))

    def score_ids(ids) -> DataFrame:
        # round scoring carries no isNotNull filter — exactly the r15
        # shapes (a null vector scores NULL and sorts last)
        return (source.filter(F.col(id_col).isin(ids))
                .withColumn("_s", F.round(
                    cosine_similarity(F.col(vec_col), q), 6))
                .select(id_col, "label", "_s"))

    def _sb(df: DataFrame) -> DataFrame:
        """Scoring branch normalized for the round union."""
        return df.select(
            F.lit(0).alias("_t"),
            F.col(id_col).cast("long").alias("_a"),
            F.col("label").alias("_lbl"),
            F.col("_s").cast("double").alias("_s"),
            F.lit(None).cast("long").alias("_b"),
            F.lit(True).alias("_f"))

    def _ab(df: DataFrame, tag: int = 1) -> DataFrame:
        """Adjacency branch normalized for the round union; ``tag``
        separates the primary prefetch from a NEXT-lookup prefetch
        riding the same action."""
        cols = set(df.columns)
        sim = (F.col("sim").cast("double") if "sim" in cols
               else F.lit(None).cast("double"))
        fwd = F.col("fwd") if "fwd" in cols else F.lit(True)
        return df.select(
            F.lit(tag).alias("_t"),
            F.col("src").cast("long").alias("_a"),
            F.lit(None).cast(lbl_type).alias("_lbl"),
            sim.alias("_s"),
            F.col("dst").cast("long").alias("_b"),
            fwd.alias("_f"))

    def _collect(branches):
        df = branches[0]
        for b in branches[1:]:
            df = df.unionByName(b)
        scored, adj = [], {}
        for r in df.collect():
            if r["_t"] == 0:
                scored.append(r)
            else:
                adj.setdefault(r["_t"], []).append(r)
        return scored, adj

    def _ingest(cache, ids, adjrows):
        for i in ids:
            cache.setdefault(int(i), [])
        for r in adjrows:
            cache.setdefault(r["_a"], []).append(
                (r["_b"], r["_s"], r["_f"]))

    caches: dict[int, dict] = {}

    def _cache(adj) -> dict:
        return caches.setdefault(id(adj), {})

    def fused_round(adj: AdjRelation, frontier, seen,
                    also=None) -> dict:
        """One beam round = ONE action (plus a frontier-sized catch-up
        read only when this lookup's adjacency was never prefetched —
        level transitions).  ``also=(next_adj, seed_ids)`` rides a
        NEXT-lookup prefetch on the same action: the next phase's
        frontier is a subset of (current top seed_ids ∪ this round's
        todo), so prefetching that superset's next-level adjacency now
        makes the transition catch-up read unnecessary (guide §2.6 —
        the extra rows ride an action already being paid)."""
        cache = _cache(adj)
        missing = sorted({int(i) for i in frontier} - cache.keys())
        if missing:
            _, adjrows = _collect([_ab(adj.rel(missing))])
            _ingest(cache, missing, adjrows.get(1, []))
        certain, mirrors = set(), set()
        for i in frontier:
            rows = cache.get(int(i), ())
            if adj.trusted:
                certain.update(d for d, _s, _f in rows)
            else:
                certain.update(_topm_from(rows, adj.m))
                mirrors.update((int(i), d)
                               for d, s, f in rows if not f)
        todo = sorted((certain | {x for _, x in mirrors}) - seen)
        if not todo:
            return {}
        need = sorted(set(todo) - cache.keys())
        if len(todo) > NSW_PREFETCH_CAP:
            # oversize round: prefetch only what mirror VALIDATION
            # needs (delta stores); the next round catches up instead
            need = sorted({x for _, x in mirrors
                           if x not in seen and x not in cache}) \
                if not adj.trusted else []
        branches = [_sb(score_ids(todo))]
        if need:
            branches.append(_ab(adj.rel(need)))
        also_ids = []
        if also is not None and len(todo) <= NSW_PREFETCH_CAP:
            next_adj, seed_ids = also
            also_ids = sorted(({int(i) for i in seed_ids}
                               | set(todo)) - _cache(next_adj).keys())
            if also_ids:
                branches.append(_ab(next_adj.rel(also_ids), tag=2))
        scored, adjrows = _collect(branches)
        _ingest(cache, need, adjrows.get(1, []))
        if also_ids:
            _ingest(_cache(also[0]), also_ids, adjrows.get(2, []))
        if not adj.trusted and mirrors:
            valid = set()
            for w, x in mirrors:
                if x in valid:
                    continue
                if w in _topm_from(cache.get(x, ()), adj.m):
                    valid.add(x)
            keep = certain | valid
            scored = [r for r in scored if r["_a"] in keep]
        new = {}
        for r in scored:
            i = r["_a"]
            if i not in seen and i not in new:
                new[i] = RowF(i, r["_lbl"], r["_s"])
        return new

    base_adj = _as_adj(edges)
    if hier_levels:
        adjs = [_as_adj(lv) for lv in hier_levels]
        deep = adjs[-1]
        scored0 = score_pred(
            F.pmod(F.col(id_col), F.lit(int(flat_mod))) == 0)
        schema = scored0.schema
        # the flat top is a subset of the deepest graph level, so its
        # first-descent adjacency rides the entry scan's action
        scored, adjrows = _collect([
            _sb(scored0),
            _ab(deep.pred_rel(
                F.pmod(F.col("src"), F.lit(int(flat_mod))) == 0))])
        _ingest(_cache(deep), [r["_a"] for r in scored],
                adjrows.get(1, []))
        visited = {r["_a"]: RowF(r["_a"], r["_lbl"], r["_s"])
                   for r in scored}
        seen = set(visited)
        stack = list(reversed(adjs))
        for li, adj in enumerate(stack):
            nxt = stack[li + 1] if li + 1 < len(stack) else base_adj
            hf = [r[id_col] for r in
                  sorted(visited.values(), key=skey)[:NSW_HIER_W]]
            for _ in range(NSW_L1_ROUNDS):
                if not hf:
                    break
                # the next phase's frontier ⊆ current top pool ∪ this
                # round's newcomers: prefetch its adjacency NOW so the
                # level transition pays no catch-up action
                seed_ids = [r[id_col] for r in
                            sorted(visited.values(), key=skey)
                            [:max(NSW_HIER_W, n_entry)]]
                new = fused_round(adj, hf, seen, also=(nxt, seed_ids))
                if not new:
                    break
                seen.update(new)
                visited.update(new)
                hf = [r[id_col] for r in
                      sorted(new.values(), key=skey)[:NSW_HIER_W]]
        frontier = [r[id_col] for r in
                    sorted(visited.values(), key=skey)[:n_entry]]
    elif stride is not None:
        scored0 = score_pred(
            F.pmod(F.col(id_col), F.lit(int(stride))) == 0)
        schema = scored0.schema
        rows = scored0.collect()
        visited = {r[id_col]: r for r in rows}
        frontier = [r[id_col] for r in sorted(rows, key=skey)[:n_entry]]
        seen = set(visited)
    else:
        # seeds are known ids: the seed scoring (an IN point read —
        # value-identical to the r15 broadcast join) and the seed
        # adjacency prefetch ride one action
        seed_ids = [int(x) for x in seeds]
        scored0 = score_ids(seed_ids)
        schema = scored0.schema
        branches = [_sb(scored0), _ab(base_adj.rel(sorted(seed_ids)))]
        scored, adjrows = _collect(branches)
        _ingest(_cache(base_adj), sorted(seed_ids), adjrows.get(1, []))
        visited = {r["_a"]: RowF(r["_a"], r["_lbl"], r["_s"])
                   for r in scored}
        frontier = seed_ids
        seen = set(visited) | set(frontier)
    for _ in range(rounds):
        if not frontier:
            break
        new = fused_round(base_adj, frontier, seen)
        if not new:
            break
        seen.update(new)
        visited.update(new)
        if stop_k is not None:
            # convergence (NSW_STOP_K): the round's best newcomer
            # scores below the stop_k-th best visited value — further
            # expansion cannot reach the answer's neighborhood
            vals = sorted((r["_s"] for r in visited.values()
                           if r["_s"] is not None), reverse=True)
            if len(vals) > stop_k:
                best_new = max((r["_s"] for r in new.values()
                                if r["_s"] is not None),
                               default=float("-inf"))
                if best_new < vals[stop_k - 1]:
                    break
        frontier = [r[id_col] for r in
                    sorted(new.values(), key=skey)[:ef]]
    out_rows = sorted(visited.values(), key=skey)
    if exclude_ids:
        # SOFT DELETE (the FAISS IDSelector pattern): tombstoned nodes
        # remain traversable GHOSTS — they keep the graph connected and
        # may carry the beam — but can never be returned.  Hard removal
        # is the documented recompaction case (rebuild without them).
        dead = set(exclude_ids)
        out_rows = [r for r in out_rows if r[id_col] not in dead]
    top = local_frame(sess, out_rows[:k], schema)
    return top.withColumnRenamed("_s", sim_col)


def beam_search_knn_batch(edges: DataFrame, source: DataFrame,
                          queries: DataFrame, k: int = 10,
                          ef: int = NSW_EF, rounds: int = NSW_ROUNDS,
                          seeds: Sequence[int] = NSW_SEEDS,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          qid_col: str = "qid", qvec_col: str = "qv",
                          sim_col: str = "similarity",
                          stride: int | None = None,
                          n_entry: int = NSW_ENTRY_COUNT,
                          hier_levels: Sequence[DataFrame] | None = None,
                          flat_mod: int | None = None,
                          stop_k: int | None = NSW_STOP_K) -> DataFrame:
    """BATCHED multi-query beam search — the serving form for query
    THROUGHPUT: the frontier is a (qid, node) RELATION, every round is
    one edge join + one anti join + one broadcast-scored point-read +
    one per-qid top-ef window, and NOTHING is collected to the driver —
    the single-query ``beam_search_knn``'s bounded collects disappear
    because the qid key carries all per-query state in-plan.  At 100 TB
    this is how an offline evaluation or a batch re-ranking job runs
    thousands of queries in one pass over the (bucketed) edge store.
    Returns the per-qid top-k of all visited nodes, exact cosines,
    6-dp-rounded with (qid, sim desc, id asc) determinism."""

    q = queries.select(F.col(qid_col).alias("qid"),
                       F.col(qvec_col).alias("_qv"))
    vecs = source.filter(F.col(vec_col).isNotNull()) \
        .select(id_col, vec_col)

    def score(ids_df: DataFrame) -> DataFrame:
        return (ids_df.join(vecs, id_col)
                .join(F.broadcast(q), "qid")
                .withColumn("_s", F.round(
                    cosine_similarity(F.col(vec_col), F.col("_qv")), 6))
                .select("qid", id_col, "_s"))

    sess = source.sparkSession
    wf = Window.partitionBy("qid").orderBy(F.col("_s").desc(),
                                           F.col(id_col).asc())
    if hier_levels:
        # HIERARCHICAL entry: every qid scores the shared flat top
        # subset (< NSW_HIER_FLOOR rows), then DESCENDS the level stack
        # — per level, NSW_L1_ROUNDS qid-keyed beam rounds at constant
        # width NSW_HIER_W over that level's edge relation (re-seeded
        # from the running pool's per-qid top) — and enters the base
        # graph at its per-qid top-n_entry of everything visited: the
        # same relational round shape as the base beam, on
        # progressively larger but still tiny edge relations.
        seed_df = (q.select("qid").crossJoin(
            vecs.filter(F.pmod(F.col(id_col),
                               F.lit(int(flat_mod))) == 0)
            .select(id_col)))
        visited = score(seed_df).localCheckpoint()
        for ledges in reversed(list(hier_levels)):
            hf = (visited.withColumn("_rn", F.row_number().over(wf))
                  .filter(F.col("_rn") <= NSW_HIER_W)
                  .select("qid", F.col(id_col).alias("src")))
            for _ in range(NSW_L1_ROUNDS):
                cand = (ledges.join(hf, "src")
                        .select("qid", F.col("dst").alias(id_col))
                        .distinct())
                new = cand.join(visited.select("qid", id_col),
                                ["qid", id_col], "left_anti")
                scored = score(new).localCheckpoint()
                visited = visited.unionByName(scored).localCheckpoint()
                hf = (scored.withColumn("_rn", F.row_number().over(wf))
                      .filter(F.col("_rn") <= NSW_HIER_W)
                      .select("qid", F.col(id_col).alias("src")))
        frontier = (visited.withColumn("_rn", F.row_number().over(wf))
                    .filter(F.col("_rn") <= n_entry)
                    .select("qid", F.col(id_col).alias("src")))
    elif stride is not None:
        # flat coarse entry (the degeneration when no level reaches
        # NSW_HIER_FLOOR nodes): every qid scores the
        # whole ⌈n/stride⌉-row coarse layer, keeps all of it as
        # visited, and enters the graph at its per-qid top-n_entry.
        seed_df = (q.select("qid").crossJoin(
            vecs.filter(F.pmod(F.col(id_col), F.lit(int(stride))) == 0)
            .select(id_col)))
        visited = score(seed_df).localCheckpoint()
        frontier = (visited.withColumn("_rn", F.row_number().over(wf))
                    .filter(F.col("_rn") <= n_entry)
                    .select("qid", F.col(id_col).alias("src")))
    else:
        seed_df = (q.select("qid").crossJoin(
            local_frame(sess, [(int(x),) for x in seeds],
                        f"{id_col} long")))
        visited = score(seed_df).localCheckpoint()
        frontier = visited.select("qid", F.col(id_col).alias("src"))
    for _ in range(rounds):
        cand = (edges.join(frontier, "src")
                .select("qid", F.col("dst").alias(id_col)).distinct())
        new = cand.join(visited.select("qid", id_col),
                        ["qid", id_col], "left_anti")
        # localCheckpoint, not persist: the checkpoint CUTS the logical
        # lineage each round, so the plan the driver analyzes stays
        # round-sized instead of growing 4 unrolled rounds deep — the
        # deep tree (TreeNode string rendering during analysis) is what
        # OOM'd a default-1g gate session late in a 50-slot run (r13).
        # State is ef·M rows/qid — KB-class blocks (the mmr pattern).
        scored = score(new).localCheckpoint()
        visited = visited.unionByName(scored).localCheckpoint()
        frontier = (scored.withColumn("_rn", F.row_number().over(wf))
                    .filter(F.col("_rn") <= ef)
                    .select("qid", F.col(id_col).alias("src")))
        if stop_k is not None:
            # per-qid convergence (NSW_STOP_K, relational form): a qid
            # whose round produced no newcomer above its stop_k-th best
            # visited value drops out of the frontier — its remaining
            # rounds become empty joins.  kth is the stop_k-th largest
            # VALUE (rank without tie-break is value-deterministic);
            # the count guard keeps a qid alive until it has visited
            # MORE than stop_k nodes (the twin/oracle contract).
            kagg = (visited
                    .withColumn("_kn", F.row_number().over(
                        Window.partitionBy("qid")
                        .orderBy(F.col("_s").desc())))
                    .groupBy("qid")
                    .agg(F.count(F.lit(1)).alias("_nv"),
                         F.max(F.when(F.col("_kn") == stop_k,
                                      F.col("_s"))).alias("_kth")))
            mx = scored.groupBy("qid").agg(F.max("_s").alias("_mx"))
            alive = (mx.join(kagg, "qid", "left")
                     .filter((F.col("_nv") <= stop_k)
                             | (F.col("_mx") >= F.col("_kth")))
                     .select("qid"))
            frontier = frontier.join(alive, "qid", "left_semi") \
                .localCheckpoint()
            if frontier.isEmpty():
                # every qid converged — the remaining rounds would be
                # empty joins and their checkpoint jobs pure overhead
                break
    return (visited.withColumn("_rn", F.row_number().over(wf))
            .filter(F.col("_rn") <= k)
            .select("qid", id_col,
                    F.col("_s").alias(sim_col), F.col("_rn").alias("rank")))


def nsw_knn(df: DataFrame, qvec: Sequence[float], k: int = 10,
            m: int = NSW_M, ef: int = NSW_EF, rounds: int = NSW_ROUNDS,
            seeds: Sequence[int] = NSW_SEEDS,
            vec_col: str = "embedding", id_col: str = "vec_id",
            sim_col: str = "similarity",
            stride: int | None = None,
            n_entry: int = NSW_ENTRY_COUNT,
            n1: int | None = None,
            stop_k: int | None = NSW_STOP_K) -> DataFrame:
    """Inline build+search (the oracled form; production stores the
    graph once via ``write_nsw_index`` and serves many queries).
    Traversal is SYMMETRIC over the directed top-m build; with
    ``stride`` set the whole level stack is graph-indexed inline too
    and entry is the HIERARCHICAL descent (``n1`` skips the first
    coarse count job when the caller already knows it).

    The built adjacency is ``localCheckpoint``-ed ONCE per call (r16,
    guide §5): every beam round filters the edge relation, and an
    unpersisted build plan re-ran the blocked-BLAS pass per round —
    profiling showed the inline slots paying the n²/block build 5-8×
    per serve.  The checkpoint is n·m rows, recomputed from the input
    on every invocation (within-query reuse, not a cross-run cache);
    the build is deterministic (xxhash salting, 6-dp rounds), so the
    materialized bytes equal any replay's."""
    edges = symmetrize_edges(
        build_knn_graph(df, m=m, vec_col=vec_col, id_col=id_col)
    ).localCheckpoint()
    levels, flat_mod = [], None
    if stride is not None:
        base = df.filter(F.col(vec_col).isNotNull())
        n = base.count()
        # A non-√n coarse stride keeps the flat coarse entry at the
        # caller's stride: the hierarchy recursion is defined on the
        # √-stack only, and the caller's n1 counts the caller-stride
        # subset, not the √-subset — building levels here would index
        # geometry the caller never asked for (nsw_stored_knn takes the
        # same fallback on a stored-meta stride mismatch, keeping the
        # two paths equal).
        if int(stride) == nsw_serving_params(n)[0]:
            prods, flat_mod = _level_geometry(
                *nsw_hier_plan(base, n, id_col=id_col, n1=n1))
            levels = [build_l1_graph(base, prod, m=m, vec_col=vec_col,
                                     id_col=id_col).localCheckpoint()
                      for prod in prods]
    return beam_search_knn(edges, df, qvec, k=k, ef=ef, rounds=rounds,
                           seeds=seeds, vec_col=vec_col, id_col=id_col,
                           sim_col=sim_col, stride=stride,
                           n_entry=n_entry, hier_levels=levels,
                           flat_mod=flat_mod, stop_k=stop_k)


def upsert_nsw_index(spark, path: str, batch: DataFrame,
                     existing: DataFrame, m: int = NSW_M,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     n_buckets: int = 16) -> None:
    """INSERT a vector batch into a stored neighbor graph WITHOUT a
    rebuild — and, for pure inserts, EXACTLY (the property quantizer
    tiers cannot offer): node j's true top-m over C∪B is a subset of
    (its stored top-m over C) ∪ B, so appending

    - each new node's top-m edge list over C∪B (one blocked
      batch×corpus BLAS pass — |B|·|C| work, never |C|²), and
    - each EXISTING node's candidate edges to batch nodes that beat
      its current m-th edge under the (sim desc, dst asc) order
      (filtered against the per-src worst row, so the append is
      |improvements|, not |C|·|B|),

    and resolving per-src top-m AT READ TIME (the merge-on-read window
    ``beam_search_knn``'s stored lookup applies) serves the identical
    graph a full rebuild would produce — the oracle for the upsert slot
    IS the full-rebuild oracle.  Deletes are out of scope here (a
    removed node invalidates neighbors' lists non-locally; the
    documented production answer is periodic recompaction, the IVFADC
    pattern).

    The HIERARCHY is maintained incrementally too — each stored level
    is just another NSW graph in the same dual format, so the level's
    batch members (|B|/s1·…·sℓ of the batch) get the SAME exact append
    (new-node lists + beats-the-m-th-edge improvements, merge-on-read
    resolved).  A level is rebuilt whole ONLY when its geometry moves:
    the post-upsert graph-level stride products (``_level_geometry``)
    are compared with the stored meta's, and ⌈√n⌉ changes once per
    ~2√n inserts, so the rebuild (≤ n work, on an n^(1/2^ℓ)-sized
    layer) amortizes to O(√n) per insert — the upsert path's
    steady-state work term is |batch|-proportional, not a Θ(n)
    whole-L1 rebuild per batch."""
    ex = (existing.filter(F.col(vec_col).isNotNull())
          .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
    brows = (batch.filter(F.col(vec_col).isNotNull())
             .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
             .collect())
    if not brows:
        return
    bdf = _batch_frame(existing.sparkSession, brows)
    _append_graph_delta(spark, path, brows, ex, m, n_buckets)
    # store-format contract: the marker tells readers that merge-on-read
    # resolution AND mirror validation are now REQUIRED (a fresh store
    # needs neither — every src has exactly m fwd rows and every mirror
    # is valid); recompaction (rebuild) clears it with the store.
    # Written via the Hadoop FileSystem API so the marker exists — and is
    # visible to readers — on ANY store URI, not just the local posix FS.
    from openai_vector_search_demo_spark.stores import fs_touch
    fs_touch(spark, path.rstrip("/") + "/_DELTAS")

    # hierarchy maintenance: recompute the plan from the post-upsert
    # corpus (deterministic — an at-least-once replay sees the same
    # corpus and produces the same bytes), append incrementally where
    # the frozen geometry still matches, rebuild a level only where its
    # stride product or a shallower level's moved, or it newly crossed
    # the floor
    allnodes = ex.unionByName(bdf)
    n = allnodes.count()
    meta = read_l1_meta(spark, path)
    old_prods = _level_geometry(meta["strides"], meta["counts"])[0]
    strides, counts = nsw_hier_plan(allnodes, n, id_col="id")
    prods = _level_geometry(strides, counts)[0]
    for lvl, prod in enumerate(prods, start=1):
        lpath = _level_path(path, lvl)
        if old_prods[:lvl] == prods[:lvl]:
            bsub = [r for r in brows if int(r.id) % prod == 0]
            if bsub:
                _append_graph_delta(
                    spark, lpath, bsub,
                    ex.filter(F.pmod(F.col("id"), F.lit(prod)) == 0),
                    m, n_buckets)
        else:
            sub = allnodes.filter(F.pmod(F.col("id"), F.lit(prod)) == 0)
            _write_graph_dual(
                build_knn_graph(sub, m=m, vec_col="v", id_col="id"),
                lpath, n_buckets, "overwrite")
    _write_hier_meta(spark, path, strides, counts, m, n)


def _batch_frame(spark, brows) -> DataFrame:
    """The collected (id, v) batch rows as a local relation."""
    return local_frame(spark, [(int(r.id), list(r.v)) for r in brows],
                       "id long, v array<double>")


def _append_graph_delta(spark, path: str, brows, existing: DataFrame,
                        m: int, n_buckets: int) -> None:
    """The exact-insert append for ONE stored graph (base layer or a
    hierarchy level): ``brows`` are collected (id, v) batch rows (KB —
    they ride the closure as a broadcast-by-value), ``existing`` the
    (id, v) relation of the layer's current members.  Appends the new
    nodes' top-m lists over existing∪batch plus every existing node's
    candidates that beat its current m-th stored edge, in the dual
    fwd/mirror format; merge-on-read resolution makes the result equal
    a full rebuild of the layer (the ``upsert_nsw_index`` proof)."""
    import pandas as pd

    bids = np.array([r.id for r in brows], dtype=np.int64)
    bmat = np.array([list(r.v) for r in brows], dtype=np.float64)
    bn = np.linalg.norm(bmat, axis=1)
    bn[bn == 0] = 1.0
    bunit = bmat / bn[:, None]

    slack = m + 8

    def cross_sims(pdf_iter):
        """TWO pruned candidate streams per Arrow block, both exact by
        the blocked-top-M threshold argument (ties at the boundary
        included):

        - kind=0, (existing src → batch dst): each NON-batch row's
          top-(m+8) batch candidates — a superset of every batch edge
          that can enter the row's resolved top-m (anything below its
          own top-m among batch can never displace a stored edge into
          the final list).
        - kind=1, (batch src → block dst): each batch node's
          top-(m+8) candidates among THIS block's rows; the union over
          blocks contains the node's true global top-m over C∪B, and
          the per-src window below reduces it exactly.

        Emission is |block|·(m+8) + |B|·(m+8) rows instead of the
        |block|·|B| full cross relation — the r15 fix that cut the
        500-into-100k upsert's base append from ~7 min of per-tuple
        Python to one vectorized pass."""
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            nm = np.linalg.norm(mat, axis=1)
            nm[nm == 0] = 1.0
            sims = np.round((mat / nm[:, None]) @ bunit.T, 6)
            self_mask = ids[:, None] == bids[None, :]
            sims_masked = np.where(self_mask, -np.inf, sims)
            out_src, out_dst, out_sim = [], [], []
            # kind=0: per existing row, top-(m+8) batch candidates
            ex_rows = np.nonzero(~np.isin(ids, bids))[0]
            if len(ex_rows) and len(bids):
                sm = sims_masked[ex_rows]
                if sm.shape[1] > slack:
                    th = np.partition(sm, sm.shape[1] - slack, axis=1)[
                        :, sm.shape[1] - slack][:, None]
                    keep = sm >= th
                else:
                    keep = np.isfinite(sm)
                ri, ci = np.nonzero(keep)
                out_src.append(ids[ex_rows][ri])
                out_dst.append(bids[ci])
                out_sim.append(sims[ex_rows][ri, ci])
            # kind=1: per batch column, top-(m+8) rows of this block
            if len(ids) and len(bids):
                sm = sims_masked
                if sm.shape[0] > slack:
                    th = np.partition(sm, sm.shape[0] - slack, axis=0)[
                        sm.shape[0] - slack][None, :]
                    keep = sm >= th
                else:
                    keep = np.isfinite(sm)
                ri, ci = np.nonzero(keep)
                out_src.append(bids[ci])
                out_dst.append(ids[ri])
                out_sim.append(sims[ri, ci])
            if out_src:
                yield pd.DataFrame({
                    "src": np.concatenate(out_src).astype(np.int64),
                    "dst": np.concatenate(out_dst).astype(np.int64),
                    "sim": np.concatenate(out_sim).astype(np.float64)})

    # (existing∪batch) × batch sims — batch rides the closure (broadcast
    # by value), pruned emission.  Both branches below (new nodes,
    # improvements) consume this stream: the lazy local checkpoint
    # stores its blocks the first time the append's write computes them,
    # so the Python pass runs once, not once per branch (an eager
    # checkpoint adds a job of its own; persist() measured slower)
    allnodes = existing.unionByName(_batch_frame(existing.sparkSession,
                                                 brows))
    cross = (allnodes.mapInPandas(cross_sims,
                                  "src long, dst long, sim double")
             .localCheckpoint(eager=False))

    # new nodes' top-m over C∪B: the kind=1 stream (batch src) unioned
    # over blocks, reduced by the global per-src window
    new_side = cross.filter(F.col("src").isin([int(x) for x in bids]))
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                          F.col("dst").asc())
    new_edges = (new_side.dropDuplicates(["src", "dst"])
                 .withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") <= m).drop("_rn"))

    # existing nodes' improvements: candidates beating the current m-th
    # edge under (sim desc, dst asc)
    # (src, dst) dedup first: a replayed micro-batch's byte-identical
    # appended rows must not shift the m-th-edge threshold (offline
    # path — the dedup shuffle is fine here, unlike the serving lookup)
    stored = (spark.read.parquet(path).filter(F.col("fwd"))
              .select("src", "dst", "sim").dropDuplicates(["src", "dst"]))
    worst = (stored.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == m)
             .select("src", F.col("sim").alias("wsim"),
                     F.col("dst").alias("wdst")))
    improvements = (cross.filter(~F.col("src").isin([int(x) for x in bids]))
                    .join(worst, "src", "left")
                    .filter(F.col("wsim").isNull()
                            | (F.col("sim") > F.col("wsim"))
                            | ((F.col("sim") == F.col("wsim"))
                               & (F.col("dst") < F.col("wdst"))))
                    .select("src", "dst", "sim"))

    _write_graph_dual(new_edges.unionByName(improvements), path,
                      n_buckets, "append")


def delete_from_nsw_index(spark, path: str, ids: Sequence[int]) -> None:
    """SOFT-DELETE ids from a stored graph: append them to the store's
    tombstone table.  Ghost semantics (see ``beam_search_knn``): the
    nodes stay traversable so connectivity survives, they just cannot
    be returned.  The tombstone set is read whole at query time — it is
    the store's pending-delete backlog, bounded by recompaction cadence
    (rebuild without the tombstoned rows folds it back to zero, the
    IVFADC ``compact`` pattern)."""
    (local_frame(spark, [(int(x),) for x in ids], "vec_id long")
     .coalesce(1).write.mode("append").parquet(f"{path}/_tombstones"))


def read_nsw_tombstones(spark, path: str) -> list[int]:
    from openai_vector_search_demo_spark.stores import fs_exists
    tpath = f"{path}/_tombstones"
    if not fs_exists(spark, tpath):
        return []
    return sorted(r.vec_id for r in spark.read.parquet(tpath)
                  .distinct().collect())


def compact_nsw_index(spark, path: str, source: DataFrame, dest: str,
                      m: int = NSW_M, vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      n_buckets: int = 16) -> int:
    """Periodic maintenance fold — the graph tier's
    ``compact_ivfpq_index``: REBUILD graph + L1 from ``source`` minus
    the store's tombstones, written marker-free to ``dest`` (a NEW
    location; the caller swaps paths).  Serving returns to the
    fresh-store fast path (no ``_DELTAS`` → one pruned read per round,
    no merge-on-read window, no mirror validation) and soft-deleted
    GHOSTS are hard-removed (their edges cannot be dropped in place —
    a removed node invalidates its neighbors' top-m lists non-locally,
    which is exactly why deletes are soft until compaction).  Returns
    the number of tombstoned ids folded away."""
    dead = read_nsw_tombstones(spark, path)
    live = source
    if dead:
        live = source.filter(~F.col(id_col).isin([int(x) for x in dead]))
    write_nsw_index(live, dest, m=m, vec_col=vec_col, id_col=id_col,
                    n_buckets=n_buckets)
    return len(dead)


def resolve_stored_edges(spark, path: str, m: int = NSW_M) -> DataFrame:
    """A stored layer's CURRENT undirected traversal relation (the base
    store or a ``_L{l}`` level directory), resolved globally — the one
    merge-on-read resolver: the per-src DENSE_RANK top-``m`` window over
    the fwd rows (exact adjacency after any ``upsert_nsw_index``
    appends), then symmetrized.  The BATCH serving form uses this — one
    resolve amortized over thousands of queries per job; the
    single-query path (``nsw_stored_knn``) instead resolves
    frontier-locally per round and never touches the whole store."""
    wm = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                           F.col("dst").asc())
    # dense_rank for the same replay-duplicate collapse as the driver
    # replay ``_topm_from``; symmetrize_edges' distinct removes the
    # repeated (src, dst) rows duplicates leave behind
    fwd = (spark.read.parquet(path).filter(F.col("fwd"))
           .withColumn("_rn", F.dense_rank().over(wm))
           .filter(F.col("_rn") <= m).select("src", "dst"))
    return symmetrize_edges(fwd)


def read_l1_meta(spark, path: str) -> dict:
    """The store's frozen write-time geometry (``_L1_META``, written by
    ``_write_hier_meta``), read through the Hadoop FS API so it is
    visible on any store URI.  Every ``write_nsw_index`` store carries
    it; a path without it is not a complete store and raises."""
    import json

    from openai_vector_search_demo_spark.stores import fs_read_text
    txt = fs_read_text(spark, path.rstrip("/") + "/_L1_META")
    if not txt:
        raise FileNotFoundError(f"{path}: no _L1_META (not a complete "
                                f"NSW store)")
    return json.loads(txt)


def resolve_stored_levels(spark, path: str):
    """(levels, flat_mod, meta) for the BATCH serving form: every stored
    graph level's undirected traversal relation L1 → Ld, each resolved
    by ``resolve_stored_edges`` at the store's degree — one read per
    level, n^(1/2^ℓ)-sized, amortized over every query in the batch —
    the flat-top modulus of the store's geometry, and the store's
    ``_L1_META``.  ``levels`` is empty when no level reaches
    {NSW_HIER_FLOOR} nodes (the flat-entry corpora)."""
    meta = read_l1_meta(spark, path)
    prods, flat_mod = _level_geometry(meta["strides"], meta["counts"])
    levels = [resolve_stored_edges(spark, _level_path(path, lvl),
                                   m=int(meta["m"]))
              for lvl in range(1, len(prods) + 1)]
    return levels, flat_mod, meta


def _stored_layer(spark, path: str, n_buckets: int, m: int,
                  has_deltas: bool) -> AdjRelation:
    """One stored layer (the base store or a ``_L{l}`` level directory)
    opened for the single-query engine: ``rel(ids)`` reads only the
    ids' src BUCKET directories (the partition filter is derived from
    the ids — pruning at discovery time, the stored-LSH pattern) and
    ``pred_rel(pred)`` the layer's rows under a predicate.  A
    never-upserted store is trusted: every src has exactly m fwd rows
    and every mirror is valid, so its (src, dst) rows ARE the
    undirected adjacency.  With upsert deltas the lookup carries
    (sim, fwd) for the engine's merge-on-read resolution and mirror
    validation."""
    layer = spark.read.parquet(path)
    cols = ("src", "dst", "sim", "fwd") if has_deltas else ("src", "dst")

    def pred_rel(pred):
        return layer.filter(pred).select(*cols)

    def rel(ids):
        buckets = sorted({int(i) % n_buckets for i in ids})
        return pred_rel(F.col("bucket").isin(buckets)
                        & F.col("src").isin(ids))

    return AdjRelation(rel, pred_rel, trusted=not has_deltas, m=m)


def nsw_stored_knn(spark, path: str, source: DataFrame,
                   qvec: Sequence[float], k: int = 10,
                   ef: int = NSW_EF, rounds: int = NSW_ROUNDS,
                   seeds: Sequence[int] = NSW_SEEDS,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   sim_col: str = "similarity",
                   n_buckets: int = 16, m: int = NSW_M,
                   stride: int | None = None,
                   n_entry: int = NSW_ENTRY_COUNT,
                   stop_k: int | None = NSW_STOP_K) -> DataFrame:
    """Serving read of a ``write_nsw_index`` store: each round touches
    only the frontier's src BUCKET DIRECTORIES (the lookup filters the
    partition column derived from the frontier ids — partition pruning
    at discovery time, the stored-LSH pattern) and the scored ids'
    vectors (broadcast point-reads).  ``n_buckets`` must match the
    write.

    MERGE-ON-READ: the per-src top-``m`` window resolves the current
    OUT-list from (original ∪ ``upsert_nsw_index``-appended) fwd rows —
    a no-op on a never-upserted store and the exact full-rebuild list
    after inserts; it is a driver-side selection over the round's
    prefetched rows (``_topm_from``), never a job.  Traversal is
    SYMMETRIC: the frontier's fwd=false mirror rows contribute
    reversed edges after VALIDATION — each mirror (w←x) is kept only
    if (x→w) survives x's own resolved top-m — resolved from the SAME
    prefetched rows (no extra read per round), so stale mirrors left
    behind by upsert displacement can never steer the beam off the
    oracle's graph."""
    from openai_vector_search_demo_spark.stores import fs_exists

    # Hadoop-FS stat, not os.path: the marker must be visible on ANY
    # store URI (s3a://, hdfs://) or an upserted remote store would
    # silently take the fresh-store fast path and serve a stale graph.
    has_deltas = fs_exists(spark, path.rstrip("/") + "/_DELTAS")
    lookup = _stored_layer(spark, path, n_buckets, m, has_deltas)

    # hierarchical entry off the store's own level stack: each level is
    # opened exactly like the base layer (bucket-pruned lookups, the
    # SAME merge-on-read resolution + mirror validation when the store
    # carries upsert deltas).  The stored stack is used only when the
    # caller's stride MATCHES the write-time geometry (they agree
    # whenever both derive from the same corpus — the serving slots'
    # case); an explicit non-matching stride keeps the flat coarse
    # scan, since the stored levels index different layers than the
    # one the caller asked to enter through.
    levels, flat_mod = [], None
    if stride is not None:
        meta = read_l1_meta(spark, path)
        if int(meta["stride"]) == int(stride):
            prods, flat_mod = _level_geometry(meta["strides"],
                                              meta["counts"])
            levels = [_stored_layer(spark, _level_path(path, lvl),
                                    n_buckets, int(meta["m"]),
                                    has_deltas)
                      for lvl in range(1, len(prods) + 1)]

    return beam_search_knn(lookup, source, qvec, k=k, ef=ef,
                           rounds=rounds, seeds=seeds, vec_col=vec_col,
                           id_col=id_col, sim_col=sim_col,
                           exclude_ids=read_nsw_tombstones(spark, path),
                           stride=stride, n_entry=n_entry,
                           hier_levels=levels, flat_mod=flat_mod,
                           stop_k=stop_k)
