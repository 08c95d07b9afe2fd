"""Connected components over candidate-pair edges — dedup cluster
resolution.

MinHash/SimHash candidate PAIRS are not yet a dedup decision: near-dup
relations are transitive in practice (A~B, B~C => one cluster), so the
keep-one-per-cluster step needs the connected components of the pair
graph. This is the step that turns the x03/x04 candidate machinery into
an actual "drop 30% of the corpus" pipeline.

Algorithm: large-star/small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond", public algorithm) in
:func:`connected_components_star`: alternating rounds rewire every node to
its neighborhood minimum, provably converging in O(log n) rounds on any
topology (hash-min label propagation needs diameter-many rounds). Each
round is one groupBy + one join co-partitioned on the node key, and
`localCheckpoint` truncates the growing lineage (without it, round N's
plan contains all N-1 predecessors and planning time explodes). A graph
whose edge list fits on the driver skips the distributed loop:
``dedup_clusters`` labels it with an in-memory union-find.

Deterministic output (min node id per component) => DuckDB-oracle
checkable via a recursive-CTE transitive closure (x23).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_table


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src_col: str,
    dst_col: str,
    max_iter: int = 40,
) -> tuple[DataFrame, int]:
    """Large-star/small-star connected components (Kiveris et al. 2014):
    O(log n) rounds on ANY topology, long chains included.

    Large-star (keyed by every node u over its full neighborhood N):
    connect each neighbor v > u to m = min(N ∪ {u}). Small-star (keyed by
    the LARGER endpoint of each edge): connect each v in N ∪ {u} except m
    to m. Both are one groupBy + one join on the node key; self-loops drop
    and edges re-normalize to (lo, hi) between rounds. Converged when the
    normalized edge multiset checksum is stable — the graph is then a
    disjoint union of stars centered at component minima, and the label
    read-off is least(node, min neighbor). Returns (labels, rounds) so
    tests can pin the O(log n) round property."""
    edges = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def checksum(e: DataFrame):
        return e.agg(
            F.count("*"),
            F.sum(F.col("lo").cast("decimal(38,0)")),
            F.sum(F.col("hi").cast("decimal(38,0)")),
        ).collect()[0]

    def normalize(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.least(F.col("a"), F.col("b")).alias("lo"),
                F.greatest(F.col("a"), F.col("b")).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )

    prev = None
    rounds = 0
    for _ in range(max_iter):
        # ---- large-star: key = every node, full neighborhood
        sym = edges.select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ).union(edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("nmin"))
        m = F.least(F.col("u"), F.col("nmin"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), m.alias("b"))
        )
        # TWO star rounds per materialization (r18, VERDICT r17 #4;
        # guide §1.2 action count): the large-star result stays LAZY —
        # small-star composes onto it and the one checkpoint below
        # evaluates both rounds in a single job. The small-star stage's
        # two references to the large-star table (the per-hi min agg and
        # the join) share its exchange via ReuseExchange, exactly like
        # the r17 dedup rewrites; composing rounds preserves the
        # fixed-point the checksum detects, so convergence is unchanged.
        edges = normalize(large)
        rounds += 1

        # ---- small-star: key = larger endpoint, neighbors all smaller
        mins = edges.groupBy("hi").agg(F.min("lo").alias("nmin"))
        small = (
            edges.join(mins, "hi")
            .filter(F.col("lo") != F.col("nmin"))
            .select(F.col("lo").alias("a"), F.col("nmin").alias("b"))
            .union(
                mins.select(
                    F.col("hi").alias("a"), F.col("nmin").alias("b")
                )
            )
        )
        edges = normalize(small).localCheckpoint(eager=True)
        rounds += 1

        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur

    nbr_min = (
        edges.select(F.col("hi").alias("node"), F.col("lo").alias("nmin"))
        .union(edges.select(F.col("lo").alias("node"), F.col("hi").alias("nmin")))
        .groupBy("node")
        .agg(F.min("nmin").alias("nmin"))
    )
    labels = (
        nodes.select(F.col(id_col).alias("node"))
        .join(nbr_min, "node", "left")
        .select(
            "node",
            F.least(
                F.col("node"), F.coalesce(F.col("nmin"), F.col("node"))
            ).alias("lbl"),
        )
    )
    return labels, rounds


def _unionfind_min_labels(edge_rows) -> list[tuple[int, int]]:
    """Driver-side union-find over SMALL (a, b) edges: [(node, min-id of
    its component)] for every node that appears in an edge. Identical
    labels to the distributed algorithm (min member per component)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    return [(n, comp_min[find(n)]) for n in parent]


def dedup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """DataFrame[doc_id, cluster_id, is_canonical]: component label per
    document; the canonical survivor of each cluster is its min-id
    member (deterministic, engine-portable).

    Adaptive small-graph path: the deduped edge list is materialized and
    counted ONCE (the distributed loop needs it materialized anyway);
    when it is driver-small (<= ``small_graph_threshold`` edges, ~16 B
    each) the components come from an in-memory union-find and the label
    table broadcasts back onto the (possibly huge) node set — a dedup
    run whose candidate graph fits on the driver should not pay
    O(rounds) distributed jobs of fixed latency each. Above the
    threshold the O(log n)-round large-star/small-star loop runs,
    so the 100 TB path is the same code the property tests pin
    (``small_graph_threshold=0`` forces it). Both paths produce
    bit-identical labels (parity-tested)."""
    # eager localCheckpoint, not persist (re-measured r18): a persist
    # whose cache is populated by the count LOOKS one job cheaper, but
    # the columnar cache write made the x23/x52 rows consistently
    # slower than the checkpoint + two trivial follow-up jobs — and the
    # distributed loop wants truncated lineage anyway.
    norm = (
        pairs.select(
            F.least(F.col("a_id"), F.col("b_id")).alias("a_id"),
            F.greatest(F.col("a_id"), F.col("b_id")).alias("b_id"),
        )
        .filter(F.col("a_id") != F.col("b_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # ONE action decides the route AND fetches the small graph (r18, guide
    # §1.2 action count — was a count job followed by a collect job): limit
    # to threshold+1 bounds the driver transfer the same way the count
    # guard did; seeing threshold+1 rows means "not small", the fetch is
    # never unbounded. The head arrives as two Arrow int64 columns (16
    # B/edge, <=16 MB at the default threshold) and reaches the union-find
    # in 64k-edge slices, never as one list of Python Rows.
    head = (
        norm.limit(small_graph_threshold + 1)
        .select(F.col("a_id").cast("long"), F.col("b_id").cast("long"))
        .toArrow()
    )
    if head.num_rows <= small_graph_threshold:
        local = _unionfind_min_labels(
            edge
            for b in head.to_batches(max_chunksize=1 << 16)
            for edge in zip(b.column(0).to_pylist(), b.column(1).to_pylist())
        )
        lab = local_table(
            nodes.sparkSession, local, "node bigint, lbl bigint"
        )
        node_t = dict(nodes.dtypes)[id_col]
        labels = (
            nodes.select(F.col(id_col).cast("bigint").alias("node"))
            .join(F.broadcast(lab), "node", "left")
            .select(
                F.col("node").cast(node_t).alias("node"),
                F.coalesce(F.col("lbl"), F.col("node"))
                .cast(node_t)
                .alias("lbl"),
            )
        )
    else:
        labels, _ = connected_components_star(
            nodes, norm, id_col, "a_id", "b_id"
        )
    return labels.select(
        F.col("node").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_canonical"),
    )
