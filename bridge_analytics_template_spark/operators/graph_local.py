"""Bounded driver-side fast path for the iterative graph queries.

The distributed PageRank/HITS loops are the 100 TB shape — one or two
keyed shuffles per iteration regardless of graph size — but on a SMALL
graph every iteration is pure stage-scheduling overhead: the r10 noop
probe measured graph_pagerank at 8.7-11.2 s of driver-blocking jobs at
sf0.1 for a ~100-node graph (10 iterations x (2 shuffles + a broadcast
aggregate), each stage ~0.1-0.2 s of fixed latency). This module applies
the ``connected_components`` small-graph precedent (llm/dedup.py): ONE
bounded action decides the path AND fetches the arcs; within the bound the
exact integer loop runs in numpy on the driver, above it the caller keeps
the distributed loop untouched.

EXACTNESS: every step mirrors the Spark expressions on int64 —
``r div out_deg`` per arc (floor division, all values non-negative),
damping as exact 17/20 + 3/20 rationals, L1 ppm normalization as
``(raw * 1e6) div total`` — accumulated with ``np.add.at`` on int64 (never
float), so the fast path is bit-identical to the distributed loop and to
the DuckDB oracle's unrolled CTE stages. The documented no-overflow bounds
of the queries (17x products « 2^63) carry over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Arc rows above which the driver path is skipped: 2M (src, dst) longs is
#: ~32 MB collected — the same bound connected_components uses for its
#: union-find probe. The 100x replica's event graph exceeds it, so the
#: scale gates keep exercising the distributed loop.
SMALL_GRAPH_ARCS = 2_000_000


def try_collect_arcs(arcs: DataFrame, max_arcs: int | None = None):
    """ONE bounded action: ``limit(max+1).toPandas()`` materializes the arc
    lineage and returns ``(src_ids, dst_ids)`` int64 arrays iff the graph
    fits and has no null endpoint, else None (the over-bound probe wastes
    only the bounded fetch).
    Column order in ``arcs`` must be (src, dst). ``max_arcs`` defaults to
    the module's SMALL_GRAPH_ARCS at call time (monkeypatchable in tests
    to force the distributed path).

    The fetch rides Arrow (session default) into two int64 numpy columns:
    a ``collect()`` of 2M pyspark Rows holds ~100+ bytes of Python object
    overhead per row (hundreds of MB transient driver memory near the
    bound — ADVICE r10), while the Arrow path is two contiguous 16 MB
    buffers, matching the bound's stated ~32 MB budget."""
    import numpy as np

    if max_arcs is None:
        max_arcs = SMALL_GRAPH_ARCS
    pdf = arcs.limit(max_arcs + 1).toPandas()
    if len(pdf) > max_arcs or pdf.isna().any(axis=None):
        # a null endpoint has no int64 form: the distributed loop keeps it
        return None
    src = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
    dst = pdf.iloc[:, 1].to_numpy(dtype=np.int64)
    return src, dst


def _index(src, dst):
    """Dense node indexing: sorted distinct node ids + arc index arrays."""
    import numpy as np

    nodes = np.unique(np.concatenate([src, dst]))
    si = np.searchsorted(nodes, src)
    di = np.searchsorted(nodes, dst)
    return nodes, si, di


def pagerank_full_local(src, dst, scale: int, iters: int):
    """graph_pagerank's integer loop: r0 = scale//n; per iteration
    contrib[dst] += r[src] div deg[src] per ARC, dangling mass dm = sum of
    r over zero-out-degree nodes, r' = (3*scale)//(20*n) +
    (17*(contrib + dm//n))//20. Returns (node_ids, ranks) int64 arrays in
    node order."""
    import numpy as np

    nodes, si, di = _index(src, dst)
    n = len(nodes)
    deg = np.bincount(si, minlength=n).astype(np.int64)
    base = (3 * scale) // (20 * n)
    r = np.full(n, scale // n, dtype=np.int64)
    dangling = deg == 0
    for _ in range(iters):
        contrib = np.zeros(n, dtype=np.int64)
        np.add.at(contrib, di, r[si] // deg[si])
        dm = int(r[dangling].sum())
        r = base + (17 * (contrib + dm // n)) // 20
    return nodes, r


def pagerank_ppm_local(src, dst, init: int, iters: int):
    """graph_pagerank_ppm's integer loop (no dangling redistribution):
    r0 = init; r' = 150000 + (17 * contrib) div 20."""
    import numpy as np

    nodes, si, di = _index(src, dst)
    n = len(nodes)
    deg = np.bincount(si, minlength=n).astype(np.int64)
    r = np.full(n, init, dtype=np.int64)
    for _ in range(iters):
        contrib = np.zeros(n, dtype=np.int64)
        np.add.at(contrib, di, r[si] // deg[si])
        r = 150000 + (17 * contrib) // 20
    return nodes, r


def hits_ppm_local(src, dst, init: int, iters: int):
    """graph_hits_ppm's integer loop: auth half-step sums hub scores over
    in-arcs, hub half-step sums auth scores over out-arcs, each
    L1-normalized as (raw * init) div total. Returns
    (node_ids, auth, hub)."""
    import numpy as np

    nodes, si, di = _index(src, dst)
    n = len(nodes)

    def half(scores, in_idx, out_idx):
        raw = np.zeros(n, dtype=np.int64)
        np.add.at(raw, out_idx, scores[in_idx])
        t = int(raw.sum())
        return (raw * init) // t

    hub = np.full(n, init, dtype=np.int64)
    auth = None
    for _ in range(iters):
        auth = half(hub, si, di)
        hub = half(auth, di, si)
    return nodes, auth, hub
