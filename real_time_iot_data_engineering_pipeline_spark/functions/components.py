"""Unbounded-diameter connected components: alternating large-star /
small-star (Kiveris et al., "Connected Components in MapReduce and Beyond",
MR-CC) as DataFrame joins — the production companion to the fixed-round
min-label propagation in queries/text.py::q_doc_dup_groups.

Why this algorithm at 100 TB: plain label propagation needs O(diameter)
rounds and a web-scale dup graph can chain arbitrarily deep; the
alternating star operations converge in O(log^2 n) rounds regardless of
diameter, and every round is the same shuffle shape — one groupBy-min on a
node key plus one equi-join of edges to per-node minima, each O(|E|) with
map-side partial aggregation.  No collect of neighbor lists ever happens
(no collect_list — a hub node's neighborhood never materializes on one
executor).

Invariants used:
- Edges are kept CANONICAL (hi > lo) and distinct between rounds; both star
  operations preserve the partition "component min is reachable".
- At the fixpoint the edge set is a union of stars whose centers are their
  components' minimum ids, so labels read directly off the edges: non-center
  nodes point at their center, centers (and isolated nodes) label themselves.
- Convergence is decided by edge-set equality (two counts + one anti-join
  count per round — driver-side scalars, the standard iterative-algorithm
  control loop, same pattern as GraphX/Pregel supersteps).
- Each round is materialized with localCheckpoint (eager): persist alone
  keeps the full logical lineage, which REFERENCES the previous round
  several times per star step and therefore grows exponentially — by ~10
  rounds Catalyst's plan alone OOMs the driver.  Checkpointing truncates
  lineage to the materialized result, keeping per-round planning O(1).
  On a real cluster swap in reliable checkpoint(dir) for executor-loss
  tolerance; the algorithm is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Small-graph fast path: below this many canonical edges the star
# iteration's cost is pure control plane — with AQE every multi-stage round
# materializes 4-5 exchanges as separate stage jobs plus a checkpoint and a
# convergence count.  Fusing each round's checkpoint and count jobs was
# wall-clock neutral (q_doc_dup_groups_cc 4.00 s fused vs 3.96 s) and did
# not lower the job count (32 = 32): the floor is AQE stage scheduling,
# not the data.  A graph this size fits ONE task,
# so the fixpoint is computed there by union-find over Arrow batches
# (guide §4.2: let Spark do distribution, hand the whole small batch to
# native code) — zero rounds, one narrow coalesce, no shuffle.  Above the
# threshold the O(log^2 n) distributed star rounds run unchanged and
# SWITCH to the local finish once contraction drops the edge count below
# it, so unbounded graphs keep the MR-CC scaling while paying local-finish
# instead of the last ~log rounds.  2^20 edges bound the single task at
# ~16 MB of edge longs; callers override it per call with local_max_edges.
CC_LOCAL_MAX_EDGES = 1 << 20


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (hi, lo) pairs, self-loops dropped."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star(u): connect every neighbor v > u to m(u) = min(N(u) + {u}).
    One symmetric expansion, one groupBy-min, one join — O(|E|).

    Output is canonically ORIENTED (hi, lo) with self-loops dropped but NOT
    deduplicated: the only consumer is small-star, whose groupBy-min and
    final distinct are insensitive to parallel edges, so the intermediate
    distinct was a pure extra shuffle per round (r12: one of six round
    shuffles removed; the dup mass small-star's map-side partial agg
    absorbs is bounded by 2|E|)."""
    sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.greatest("v", "m").alias("hi"), F.least("v", "m").alias("lo")
        )
        .filter(F.col("hi") != F.col("lo"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star(u): for each node u over its smaller neighbors N = {v < u},
    connect every v in N + {u} except the minimum to m = min(N).  Canonical
    input already orients each edge (hi, lo), so the group key is hi."""
    m = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    joined = edges.join(m, "hi")
    rewired = joined.filter(F.col("lo") != F.col("m")).select(
        F.col("lo").alias("src"), F.col("m").alias("dst")
    )
    to_center = m.select(F.col("hi").alias("src"), F.col("m").alias("dst"))
    return _canonical(rewired.unionByName(to_center))


def _local_star_finish(edges: DataFrame) -> DataFrame:
    """Single-task union-find over a small canonical (hi, lo) edge set,
    returning EXACTLY the star-fixpoint edge set: one (hi=node, lo=center)
    row per non-center node, centers = component minima.  The input is
    already materialized (localCheckpoint) and counted by the caller, so
    coalesce(1) is a narrow read of the checkpoint blocks into one task;
    mapInPandas hands the batches to a dict-based union-find (path
    halving), which is exact and deterministic — same rows as iterating
    large-star/small-star to convergence, proven against it in
    tests/test_components.py on every adversarial topology."""

    def finish(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        nodes: set = set()
        for pdf in batches:
            for a, b in zip(pdf["hi"].tolist(), pdf["lo"].tolist()):
                nodes.add(a)
                nodes.add(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min root: the final root IS the component
                    # minimum, because every node's id is a candidate root
                    # exactly once and min is kept at each merge
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        out_hi, out_lo = [], []
        for n in nodes:
            r = find(n)
            if r != n:
                out_hi.append(n)
                out_lo.append(r)
        yield pd.DataFrame({"hi": out_hi, "lo": out_lo}).astype("int64")

    return edges.coalesce(1).mapInPandas(finish, schema="hi long, lo long")


def star_fixpoint(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    local_max_edges: int | None = None,
) -> DataFrame:
    """Iterate large-star/small-star to the edge-set fixpoint and return
    the final canonical star edges (hi, lo): the fixpoint edge set is a
    union of stars whose centers are their components' minimum ids, so
    `lo` is the component label and every NON-CENTER node appears as `hi`
    in EXACTLY one row (a node has one component, one minimum) — the
    invariant connected_components' left join relies on, and which lets
    per-component sizes be read off this table as count-per-center + 1
    without ever joining back to the node set (q_dup_group_stats).

    `max_rounds` is a runaway guard, not a semantic bound — hitting it
    raises instead of returning an unconverged edge set.  `local_max_edges`
    overrides the small-graph fast-path threshold (None = the
    CC_LOCAL_MAX_EDGES module default; 0 forces the distributed
    star rounds, which tests use to pin both paths against each other)."""
    if local_max_edges is None:
        local_max_edges = CC_LOCAL_MAX_EDGES
    cur = _canonical(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).localCheckpoint(eager=True)
    # The edge count is carried across rounds instead of re-counted (one
    # job per round saved), and the exceptAll equality probe — the round's
    # most expensive control job — only runs when the counts ALREADY
    # match, which for a shrinking edge set means only the fixpoint round
    # pays it (r12; both distinct edge sets, so count + one-sided
    # exceptAll emptiness IS set equality).
    cur_cnt = cur.count()
    for _ in range(max_rounds):
        # r13 small-graph fast path: the count is already paid (it drives
        # convergence), so the switch is free — finish a graph that fits
        # one task locally instead of paying 4-5 AQE stage jobs + a
        # checkpoint + a count per remaining round.  The local result is
        # lazy and tiny (re-running it per consumer leg costs less than
        # the checkpoint job it would take to pin it).
        if cur_cnt <= local_max_edges:
            return _local_star_finish(cur)
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        nxt_cnt = nxt.count()
        changed = (
            cur_cnt != nxt_cnt
            or nxt.exceptAll(cur).limit(1).count() > 0
        )
        if not changed:
            break
        cur, cur_cnt = nxt, nxt_cnt
    else:
        raise RuntimeError(
            f"star_fixpoint did not converge in {max_rounds} rounds"
        )
    return cur


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    local_max_edges: int | None = None,
) -> DataFrame:
    """Exact connected components over (nodes, edges); returns one row per
    node: (id_col, component) where component is the minimum node id in the
    node's component — isolated nodes get their own id.

    Iterates large-star/small-star to the edge-set fixpoint (<= O(log^2 n)
    rounds by the MR-CC bound; see star_fixpoint)."""
    cur = star_fixpoint(
        edges,
        src=src,
        dst=dst,
        max_rounds=max_rounds,
        local_max_edges=local_max_edges,
    )
    # Fixpoint edges are stars centered at component minima.
    centers = cur.select(F.col("hi").alias(id_col), F.col("lo").alias("_comp"))
    return (
        nodes.select(id_col)
        .join(centers, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_comp"), F.col(id_col)).alias("component"),
        )
    )
