"""Cycle detection over the service call graph (reference:
internal/graph/cycle.go).

The edge *list* is tiny by construction (≤ #distinct (src,dst,op)
pairs, i.e. the service topology, not the event volume), so the honest
Spark design matches the reference's: aggregate distributed events down
to the edge DataFrame, then run a driver-side 3-color DFS over the
collected adjacency — global, small state, O(V+E) per batch. Unlike
the reference (Go map iteration order is random), traversal order is
pinned by sorting, so results are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_frame

WHITE, GRAY, BLACK = 0, 1, 2


def cycle_key_expr(path: "F.Column | str") -> "F.Column":
    """Relational twin of :func:`cycle_key` over an ``array<string>``
    column (reference: cycle.go:81-105): drop a trailing repeat of the
    head node, rotate so the lexicographically minimal node leads, join
    with ``'|'``. Pure built-in expressions — at corpus scale the cycle
    frames are canonicalized where they live instead of collecting to
    the driver. Empty/null arrays yield ''.
    """
    p = F.col(path) if isinstance(path, str) else path
    trimmed = F.when(
        (F.size(p) > 1) & (F.element_at(p, 1) == F.element_at(p, -1)),
        F.slice(p, 1, F.size(p) - 1),
    ).otherwise(p)
    # array_position of the min element = 1-based rotation point; ties
    # resolve to the first occurrence, matching min(range, key=...)
    rot = F.array_position(trimmed, F.array_min(trimmed))
    rotated = F.concat(
        F.slice(trimmed, rot.cast("int"), F.size(trimmed) - rot.cast("int") + 1),
        F.slice(trimmed, 1, rot.cast("int") - 1),
    )
    return F.when(
        p.isNull() | (F.size(p) == 0), F.lit("")
    ).otherwise(F.array_join(rotated, "|"))


def with_cycle_key(df: DataFrame, path: "F.Column | str", out: str) -> DataFrame:
    """``df`` plus column ``out`` = canonical cycle key of ``path`` —
    the STAGED form of :func:`cycle_key_expr`. The single-expression
    form inlines its input everywhere it is referenced (``trimmed``
    references the path 4x, the rotation references ``trimmed`` 6x), so
    a non-trivial path expression multiplies into a generated method
    that overflows the JVM's 64 KB limit and silently drops the whole
    projection out of codegen (observed: references[1051] / 'Code grows
    beyond 64 KB' on the contract's synthetic-path query). Staging each
    level as its own projection column keeps every occurrence a column
    REFERENCE (CollapseProject preserves non-cheap multi-referenced
    aliases), so codegen sees three small expressions instead of one
    exponential tree."""
    p0 = F.col(path) if isinstance(path, str) else path
    staged = df.withColumn("_ck_p", p0)
    p = F.col("_ck_p")
    staged = staged.withColumn(
        "_ck_trim",
        F.when(
            (F.size(p) > 1) & (F.element_at(p, 1) == F.element_at(p, -1)),
            F.slice(p, 1, F.size(p) - 1),
        ).otherwise(p),
    )
    t = F.col("_ck_trim")
    staged = staged.withColumn(
        "_ck_rot", F.array_position(t, F.array_min(t)).cast("int")
    )
    rot = F.col("_ck_rot")
    rotated = F.concat(
        F.slice(t, rot, F.size(t) - rot + 1), F.slice(t, 1, rot - 1)
    )
    key = F.when(p.isNull() | (F.size(p) == 0), F.lit("")).otherwise(
        F.array_join(rotated, "|")
    )
    return staged.withColumn(out, key).drop("_ck_p", "_ck_trim", "_ck_rot")


def cycle_key(cycle: list[str]) -> str:
    """Canonical cycle key: rotate to the minimal node, join with '|'
    (reference: cycle.go:81-105). A trailing repeat of the head node is
    dropped first."""
    if not cycle:
        return ""
    nodes = cycle
    if len(nodes) > 1 and nodes[0] == nodes[-1]:
        nodes = nodes[:-1]
    min_idx = min(range(len(nodes)), key=lambda i: nodes[i])
    return "|".join(nodes[(min_idx + i) % len(nodes)] for i in range(len(nodes)))


def find_cycles(adjacency: dict[str, list[str]], known: set[str] | None = None) -> list[list[str]]:
    """3-color DFS cycle extraction (reference: cycle.go:21-79). ``known``
    carries previously reported canonical keys so each cycle is emitted
    exactly once across calls (types_test.go:363-369); it is mutated.
    Iterative DFS (the reference recurses; service graphs are shallow
    but we avoid Python recursion limits)."""
    known = known if known is not None else set()
    # normalize neighbor order ONCE (O(E log E)): the DFS visits a
    # vertex's frame deg(v)+1 times, and sorting at each visit would
    # cost a hub node deg² log deg comparisons
    adjacency = {v: sorted(ns) for v, ns in adjacency.items()}
    colors: dict[str, int] = {}
    parent: dict[str, str] = {}
    result: list[list[str]] = []

    def extract(back_src: str, back_dst: str) -> list[str]:
        path = [back_src]
        cur = back_src
        while cur != back_dst:
            p = parent.get(cur)
            if p is None:
                break
            path.append(p)
            cur = p
        path.reverse()
        path.append(back_dst)
        return path

    for start in sorted(adjacency):
        if colors.get(start, WHITE) != WHITE:
            continue
        # iterative DFS with an explicit neighbor cursor
        stack: list[tuple[str, int]] = [(start, 0)]
        colors[start] = GRAY
        while stack:
            v, i = stack[-1]
            neighbors = adjacency.get(v, [])
            if i < len(neighbors):
                stack[-1] = (v, i + 1)
                u = neighbors[i]
                cu = colors.get(u, WHITE)
                if cu == GRAY:
                    cycle = extract(v, u)
                    key = cycle_key(cycle)
                    if key not in known:
                        known.add(key)
                        result.append(cycle)
                elif cu == WHITE:
                    parent[u] = v
                    colors[u] = GRAY
                    stack.append((u, 0))
            else:
                colors[v] = BLACK
                stack.pop()
    return result


def adjacency_from_edges(edges: DataFrame) -> dict[str, list[str]]:
    """Collect the (small) edge aggregate into an adjacency map
    (reference: graph.go:156-165 — nodes with no out-edges included).

    Edges with a NULL endpoint are dropped: a NULL src/dst is an
    un-enriched event, not a graph node, and a None key would crash
    the DFS's sorted() traversal (None vs str comparison). Neighbor
    lists are pre-sorted ONCE here so the DFS never re-sorts a hub
    node's list per visit (deg² log deg otherwise)."""
    adj: dict[str, list[str]] = {}
    for row in (
        edges.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .collect()
    ):
        adj.setdefault(row["src"], []).append(row["dst"])
        adj.setdefault(row["dst"], [])
    for v in adj:
        adj[v].sort()
    return adj


def find_new_cycles(edges: DataFrame, known: set[str] | None = None) -> list[list[str]]:
    """End-to-end: edge DataFrame → new cycles this batch."""
    return find_cycles(adjacency_from_edges(edges), known)


def cycle_membership(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """Per-node cycle membership: ``(node, on_cycle)`` where ``on_cycle``
    iff the node reaches itself — exactly the set of nodes lying on at
    least one directed cycle (the reference's cycle reports, cycle.go:21-79,
    reduced to their SQL-decidable membership form so the result has an
    exact oracle; the path-reporting DFS stays in ``find_cycles``).

    Fully distributed semi-naive transitive closure over the DISTINCT
    ``(src, dst)`` pair graph: each round joins only the NEW pairs from
    the previous round against the edge list, so work per round is
    proportional to the frontier, and the total state is bounded by V²
    pairs where V is the number of *services* (the topology, not the
    event volume — at 10^12 events V stays in the hundreds). Lineage is
    severed per round with localCheckpoint (iterative plans otherwise
    grow exponentially in Catalyst). Converges in ≤ diameter rounds;
    raises if ``max_iter`` rounds don't reach the fixpoint rather than
    returning silently wrong labels.

    NULL endpoints are dropped like ``adjacency_from_edges``: a NULL
    src/dst is an un-enriched event, not a graph node (equi-joins
    would drop those pairs mid-closure anyway, so keeping them only
    produced orphan ``node = NULL`` output rows)."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    reach = e
    frontier = e
    # column-renamed (not alias-qualified) self-join: localCheckpoint's
    # stats/constraints rewrite chokes on dedup'd qualified attributes
    nbr = e.select(F.col("src").alias("_mid"), F.col("dst").alias("_nd"))
    converged = False
    for _ in range(max_iter):
        grown = (
            frontier.select("src", F.col("dst").alias("_mid"))
            .join(nbr, "_mid")
            .select("src", F.col("_nd").alias("dst"))
            .distinct()
        )
        new = grown.join(reach, ["src", "dst"], "left_anti").localCheckpoint()
        if new.limit(1).count() == 0:
            converged = True
            break
        reach = reach.unionByName(new).localCheckpoint()
        frontier = new
    if not converged:
        raise RuntimeError(
            f"cycle_membership: no fixpoint after {max_iter} rounds "
            "(graph diameter exceeds max_iter)"
        )
    on_cycle = (
        reach.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("node"))
        .withColumn("_on", F.lit(True))
    )
    return nodes.join(on_cycle, "node", "left").select(
        "node", F.coalesce(F.col("_on"), F.lit(False)).alias("on_cycle")
    )


PR_DAMPING_MICRO = 850_000  # 0.85 in integer micros
PR_SCALE = 1_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    weight_col: str | None = None,
    damping_micro: int = PR_DAMPING_MICRO,
) -> DataFrame:
    """Service-importance PageRank over the ``(src, dst[, weight])``
    call graph — 'which service does the topology lean on' for the
    graph sink's reports (the reference's graph analyses stop at
    degree/cycle reports, cycle.go:21-79; this is the natural next
    report over the same edge table). Returns ``(node, rank_micro)``.

    EXACT integer arithmetic so an independent engine reproduces every
    bit (the lm.py integer-micros discipline): ranks live in micros of
    probability mass (initial ``SCALE // N``), each iteration sends
    ``share(u→v) = (rank(u) * w(u→v)) DIV W(u)`` (long division,
    weights default 1), and the update is ``rank'(v) = (SCALE -
    damping) * SCALE DIV (SCALE * N) + (damping * Σ share) DIV
    SCALE``. All sums are longs — order- and partition-independent, so
    the fixed-``iterations`` result is hash-exact cross-engine (the
    DuckDB oracle unrolls the same recurrence). Dangling-node mass
    leaks (the standard simplification) — ranks are a relative
    ordering, not a strict distribution.

    Scale posture: per iteration ONE groupBy on ``dst`` over the edge
    table (map-side combined) plus a broadcast-size rank table join —
    the rank state is V rows (services), never event volume; lineage
    severed per iteration with localCheckpoint. NULL endpoints are
    dropped like ``cycle_membership``."""
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    e = (
        edges.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.sum(w).alias("_w"))
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_micro", F.lit(0).cast("long"))
    teleport = (PR_SCALE - damping_micro) * PR_SCALE // (PR_SCALE * n)
    outw = e.groupBy("src").agg(F.sum("_w").alias("_outw"))
    # column-renamed join frames (the cycle_membership checkpoint
    # discipline): rank table keyed as _rsrc for the edge join
    ranks = nodes.select(
        "node", F.lit(int(PR_SCALE // n)).cast("long").alias("rank_micro")
    ).localCheckpoint()
    for _ in range(iterations):
        contribs = (
            e.join(outw, "src")
            .join(
                ranks.select(
                    F.col("node").alias("src"),
                    F.col("rank_micro").alias("_r"),
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("_r * _w DIV _outw").alias("_share"),
            )
        )
        sums = contribs.groupBy("node").agg(F.sum("_share").alias("_s"))
        ranks = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (
                    F.lit(int(teleport)).cast("long")
                    + F.expr(
                        f"{damping_micro} * coalesce(_s, 0L) DIV {PR_SCALE}"
                    )
                ).alias("rank_micro"),
            )
            .localCheckpoint()
        )
    return ranks


def bfs_depths(
    edges: DataFrame, root: str, max_iter: int = 64
) -> DataFrame:
    """Blast-radius report: ``(node, depth)`` for every service
    reachable from ``root`` along directed call edges, depth = fewest
    hops — 'if this service degrades, what is downstream and how far'.
    The root always emits ``(root, 0)``; unreachable nodes are absent.

    Distributed semi-naive BFS over the DISTINCT pair graph (the
    ``cycle_membership`` machinery): each round expands only the
    frontier, state is bounded by V nodes, lineage severed per round
    with localCheckpoint; raises after ``max_iter`` rounds without a
    fixpoint rather than returning shallow depths. NULL endpoints drop
    like ``adjacency_from_edges``."""
    spark = edges.sparkSession
    e = (
        edges.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    nbr = e.select(F.col("src").alias("_mid"), F.col("dst").alias("_nd"))
    depths = local_frame(spark, [(root, 0)], "node string, depth int")
    frontier = depths
    converged = False
    for d in range(1, max_iter + 1):
        grown = (
            frontier.select(F.col("node").alias("_mid"))
            .join(nbr, "_mid")
            .select(F.col("_nd").alias("node"))
            .distinct()
            .withColumn("depth", F.lit(d).cast("int"))
        )
        new = grown.join(
            depths.select("node"), "node", "left_anti"
        ).localCheckpoint()
        if new.limit(1).count() == 0:
            converged = True
            break
        depths = depths.unionByName(new).localCheckpoint()
        frontier = new
    if not converged:
        raise RuntimeError(
            f"bfs_depths: no fixpoint after {max_iter} rounds "
            "(graph depth exceeds max_iter)"
        )
    return depths
