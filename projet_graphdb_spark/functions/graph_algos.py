"""Whole-graph analytics over the (nodes, edges) DataFrames.

The reference has no whole-graph operators (its only traversal is the
fixed-length match motif).  These are the standard Spark-native iterative
algorithms — the GraphX/GraphFrames capability re-expressed as pure
DataFrame joins so they run anywhere DataFrames run:

* ``bfs_levels``        — unweighted shortest-path level per node from a
                          source set (frontier expansion).
* ``pagerank``          — power iteration with damping.
* ``connected_components`` — iterative min-label propagation (undirected
                          view of the edges).

Scale design: each iteration is one join + aggregate on the edge table
(shuffle on dst/src) — the classic pregel message pattern.  Every loop
runs on one superstep driver, :class:`Supersteps` (the Pregelix shape: a
join + group-by dataflow under a single iteration driver).  It cuts the
lineage every round, otherwise the plan doubles per round and the
driver, not the cluster, becomes the bottleneck.  For a 100 TB graph,
pre-partition ``edges`` by ``src`` (bucketing) so every iteration's join
co-locates.
"""

from __future__ import annotations

import functools
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import ckpt_dir, handle_of, materialize, release

# Below this row count a frame is "small": a single-partition plan beats
# shuffle fan-out (32 map + AQE reduce tasks of pure scheduling overhead
# per iteration).  Above it, keep the input's native parallelism — at
# 100 TB the iteration cost is real shuffle, not scheduling.
_SMALL_ROWS = 4_000_000

# Audit hook (tools/explain_audit.py, tests/test_plans.py): when set to a
# list, every frame a Supersteps driver checkpoints is appended just
# before the checkpoint truncates its lineage — the only moment a
# SUPERSTEP's plan is visible (the algorithm's final plan is just the
# last checkpoint's scan).  The DataFrame (not a string) is captured so
# the auditor can read the executed plan's SQLMetrics after the
# checkpoint ran it — e.g. measure a nested-loop join's build-side row
# count.  None in production: the cost is one `is None` test per round.
PLAN_PROBE: list | None = None

_union = functools.partial(functools.reduce, DataFrame.unionByName)


class Supersteps:
    """The iteration driver of one algorithm call.  Use it as a context
    manager and hand the returned frame to :meth:`result`::

        with Supersteps() as ss:
            e, n = ss.barrier(edges)
            return ss.result(ss.loop(state0, step, rounds, until=...))

    It owns, in one place:

    * the input barrier (:meth:`barrier`): checkpoint + size probe;
      frames of at most ``_SMALL_ROWS`` rows are coalesced to one
      partition, and the FIRST barrier sizes every later round;
    * the per-round checkpoint (:meth:`ckpt`), with the round's
      convergence witness aggregated by the job that materializes it —
      a lazy ``localCheckpoint`` computed by the witness ``agg``, so a
      round is ONE Spark job (sink-backed mode writes eagerly and scans
      the sunk rows);
    * rotation: the predecessor state is freed only after the new state
      has been computed (a lazy checkpoint reads its parent's blocks
      until it materializes);
    * the stop rule (:meth:`loop`): a fixed number of rounds, zero rows,
      or an unchanged witness;
    * the single ``PLAN_PROBE`` call;
    * cleanup on every exit path, exceptions included: each barrier and
      checkpoint this call made that the result frame does not read is
      freed (RDD unpersisted, or sink directory deleted when
      ``SPARK_GRAFT_CKPT_DIR`` is set).  Only frames the driver made are
      ever freed: unpersisting an arbitrary frame's leaf RDD could kill
      a shared lineage-truncated checkpoint, which is unrecoverable.
    """

    def __init__(self):
        self.small = None  # set by the first barrier
        self._made: list = []  # [frame, handle] per checkpoint made here
        self._out = None

    def __enter__(self) -> Supersteps:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        live = _reads(self._out) if exc_type is None and self._out is not None else set()
        for _, handle in self._made:
            if (handle if isinstance(handle, str) else _rdd_id(handle)) not in live:
                release(handle)
        self._made = []

    def result(self, df: DataFrame) -> DataFrame:
        """Register ``df`` as the call's result (what exit keeps)."""
        self._out = df
        return df

    def _sink(self, df: DataFrame, witness: list | None = None):
        if PLAN_PROBE is not None:
            PLAN_PROBE.append(df)
        out = materialize(df, eager=witness is None)
        row = out.agg(*witness).collect()[0] if witness else None
        self._made.append([out, handle_of(out) or _rdd_of(out)])
        return out, row

    def barrier(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Materialize a loop input once (every round runs actions; without
        the barrier each one re-executes the caller's whole derivation).
        Returns ``(frame, rows)``."""
        out, _ = self._sink(df)
        n = out.count()  # free: already materialized
        if self.small is None:
            self.small = n <= _SMALL_ROWS
        if n <= _SMALL_ROWS:
            # track the frame the caller holds, so rotation can free it
            out = self._made[-1][0] = out.coalesce(1)
        return out, n

    def ckpt(self, df: DataFrame, witness: list | None = None):
        """Checkpoint one round's frame; returns ``(frame, witness_row)``
        (the row is None without a witness)."""
        return self._sink(df.coalesce(1) if self.small else df, witness)

    def _free(self, df) -> None:
        for i, (frame, handle) in enumerate(self._made):
            if frame is df:
                del self._made[i]
                release(handle)
                return

    def loop(self, state, step, rounds: int, until=None, start=None, keep: bool = False):
        """Run up to ``rounds`` supersteps: ``state = step(state, i)`` for
        i = 1..rounds, each result checkpointed by :meth:`ckpt`.

        ``until``: None runs every round; ``"empty"`` stops at the first
        round with zero rows (that round is dropped); a list of aggregate
        expressions is a fixpoint witness — stop once it repeats the
        previous round's value (``start`` seeds that value).  With
        ``keep`` the state is the list of every round's frame (seed
        first), nothing is rotated away, and the list is returned."""
        empty = until == "empty"
        witness = [F.count(F.lit(1))] if empty else until
        prev = start
        for i in range(1, rounds + 1):
            nxt, row = self.ckpt(step(state, i), witness)
            if empty and row[0] == 0:
                break
            if keep:
                state = state + [nxt]
            else:
                self._free(state)
                state = nxt
            if witness and not empty:
                if tuple(row) == prev:
                    break
                prev = tuple(row)
        return state


def _rdd_of(df: DataFrame):
    """JVM RDD backing a checkpointed Dataset (under the optional
    schema-preserving Project), or None."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "Project":
            plan = plan.child()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd()
    except Exception:
        pass
    return None


def _rdd_id(rdd):
    return None if rdd is None else rdd.id()


def _reads(df: DataFrame) -> set:
    """What ``df`` scans: sink directories in sink-backed mode, else the
    ids of the checkpoint RDDs among its plan's leaves."""
    if ckpt_dir():
        return {os.path.dirname(unquote(urlparse(f).path)) for f in df.inputFiles()}
    ids = set()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


def edge_view(
    edges: DataFrame,
    directed: bool = False,
    loops: bool = True,
    dedup: bool = False,
    extra: tuple = (),
) -> DataFrame:
    """``(src, dst, *extra)`` of ``edges``; unless ``directed``, unioned
    with every edge reversed (the undirected view).  ``loops=False``
    drops self-loops, ``dedup`` drops duplicate rows."""
    e = edges.select("src", "dst", *extra)
    if not directed:
        rest = e.columns[2:]
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *rest)
        )
    if not loops:
        e = e.where(F.col("src") != F.col("dst"))
    return e.distinct() if dedup else e


def _canonical(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Distinct undirected simple edges as ``(u < v)`` pairs."""
    return (
        edges.select(F.least("src", "dst").alias(u), F.greatest("src", "dst").alias(v))
        .where(F.col(u) != F.col(v))
        .distinct()
    )


def _ids(e: DataFrame) -> DataFrame:
    """Distinct endpoint ids of an edge frame."""
    return (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )


def bfs_levels(
    edges: DataFrame,
    sources: list,
    max_iter: int = 20,
    directed: bool = True,
) -> DataFrame:
    """(node id, level) for every node reachable from ``sources``.

    Level = number of hops from the nearest source (sources are level 0).
    Frontier expansion: each round joins the frontier against the edge
    table and anti-joins already-visited nodes.  Visited = the lazy
    union of the kept per-level checkpoints: RDD union is a narrow op
    over already-materialized data, so the anti-join never recomputes
    anything and the growing union is never re-checkpointed.
    """
    with Supersteps() as ss:
        e, _ = ss.barrier(edge_view(edges, directed))
        seed = edges.sparkSession.createDataFrame(
            [(int(s), 0) for s in sources], "id long, level int"
        ).localCheckpoint(eager=True)

        def expand(levels, level):
            frontier = levels[-1]
            return (
                frontier.join(e, frontier.id == e.src)
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(_union(levels), "id", "left_anti")
                .withColumn("level", F.lit(level))
            )

        levels = ss.loop([seed], expand, max_iter, until="empty", keep=True)
        return ss.result(_union(levels))


def _power_iteration(edges, nodes, num_iter, damping, sources=None) -> DataFrame:
    """Shared body of :func:`pagerank` (``sources`` None: uniform
    teleport) and :func:`personalized_pagerank`.  Each keeps its own
    rank arithmetic, so its results are bit-for-bit what a separate body
    computes.  Per round: one join edge⋈rank (shuffle on src), one
    aggregate on dst, and the dangling mass (nodes with no out-edges) as
    a broadcast 1-row aggregate INSIDE the plan — the round is a single
    action (the checkpoint), not an extra collect."""
    with Supersteps() as ss:
        e, _ = ss.barrier(edges.select("src", "dst"))
        if nodes is None:
            nodes = _ids(e)
        if sources is None:
            nodes, n = ss.barrier(nodes.select("id"))
            ranks = nodes.withColumn("rank", F.lit(1.0 / n))

            def rank_of(inflow, dmass):
                return F.lit((1.0 - damping) / n) + F.lit(damping) * (inflow + dmass / n)
        else:
            src_ids = [int(s) for s in sources]
            p = F.when(F.col("id").isin(src_ids), F.lit(1.0 / len(src_ids))).otherwise(
                F.lit(0.0)
            )
            nodes, _ = ss.barrier(nodes.select("id").withColumn("p", p))
            ranks = nodes.select("id", "p", F.col("p").alias("rank"))

            def rank_of(inflow, dmass):
                return F.lit(1.0 - damping) * F.col("p") + F.lit(damping) * (
                    inflow + dmass * F.col("p")
                )

        out_deg, _ = ss.barrier(
            e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).withColumnRenamed("src", "_dsrc")
        )

        def step(ranks, _):
            dangling = ranks.join(out_deg, ranks.id == F.col("_dsrc"), "left_anti").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dmass")
            )
            inbound = (
                ranks.join(out_deg, ranks.id == F.col("_dsrc"))
                .join(e, ranks.id == e.src)
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
            )
            return (
                nodes.join(inbound, nodes.id == inbound.dst, "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    *nodes.columns,
                    rank_of(
                        F.coalesce(F.col("inflow"), F.lit(0.0)), F.col("_dmass")
                    ).alias("rank"),
                )
            )

        return ss.result(ss.loop(ranks, step, num_iter).select("id", "rank"))


def pagerank(
    edges: DataFrame,
    num_iter: int = 10,
    damping: float = 0.85,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """(id, rank) after ``num_iter`` power iterations.

    Dangling nodes (no out-edges) redistribute their mass uniformly, the
    standard formulation.  Each iteration: one join edge⋈rank (shuffle on
    src), one aggregate on dst.
    """
    return _power_iteration(edges, nodes, num_iter, damping)


def sssp(
    edges: DataFrame,
    sources: list,
    num_iter: int = 10,
    weight_col: str = "weight",
    directed: bool = True,
) -> DataFrame:
    """Single-source shortest paths, Bellman-Ford style: after k
    iterations, ``dist`` is exact over paths of ≤ k edges (which makes
    the result oracle-checkable against a hop-bounded recursive CTE).

    Output: (id, dist) for nodes reachable within ``num_iter`` hops.
    Each iteration: one join dist⋈edges (shuffle on edge src) + one
    min-aggregate on dst — the pregel message pattern, same scale shape
    as ``pagerank``.  Early-exits when an iteration changes nothing:
    distances only ever decrease and the frontier only grows, so
    (count, sum) is a fixpoint witness.
    """
    with Supersteps() as ss:
        e, _ = ss.barrier(edge_view(edges, directed, extra=(F.col(weight_col).alias("_w"),)))
        seed = edges.sparkSession.createDataFrame(
            [(int(s), 0.0) for s in sources], "id long, dist double"
        ).localCheckpoint(eager=True)

        def relax(dist, _):
            return (
                dist.join(e, dist.id == e.src)
                .select(F.col("dst").alias("id"), (F.col("dist") + F.col("_w")).alias("dist"))
                .unionByName(dist)
                .groupBy("id")
                .agg(F.min("dist").alias("dist"))
            )

        until = [F.count(F.lit(1)), F.sum("dist")]
        return ss.result(ss.loop(seed, relax, num_iter, until=until))


def connected_components(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """(id, component) with component = min node id in the component
    (undirected view).  Min-label propagation until fixpoint.

    Round shape (r15 optimization — iteration cost is job fixed cost on
    the deliberately small bench graphs and one full pass per round at
    100 TB, so both the per-round operator count and the round count
    were cut without changing the fixpoint):

    - Round 1 needs NO join: every label starts as the node's own id,
      so the neighbour-min fold collapses to ``least(src, min(dst))``
      over the symmetric edge frame — one aggregate replaces a separate
      label-init materialization plus a join round.
    - Later rounds send each node's label along every edge and fold the
      node's OWN label into the same aggregate via a union leg — one
      join + one groupBy where a left join to re-attach own labels
      would cost a second join.
    - Each round then POINTER-JUMPS (path halving): every node adopts
      its label's label, so label-tree height HALVES per round and
      ``max_iter`` rounds cover components of diameter 2^max_iter —
      plain propagation covers only ``max_iter`` hops, and the r15 sf1
      sweep caught exactly that: t42's image-prefix near-dup graph at
      10× holds a 343-node cluster whose propagation diameter exceeds
      20, so plain propagation (same 20-round cap) returned an
      UNCONVERGED split (max cluster 239) while the DuckDB oracle's
      pointer-jumping replay converged.  A label is always some node's
      id (min over ids), so the jump join always finds its target;
      left + coalesce guards the empty frame.
    - Labels only ever decrease, so Σcomponent is a fixpoint witness.
    """
    with Supersteps() as ss:
        both, _ = ss.barrier(edge_view(edges, dedup=True))

        def propagate(labels, i):
            if i == 1:  # join-free: label(v) = min(v, min of v's neighbours)
                return (
                    both.groupBy("src")
                    .agg(F.min("dst").alias("_m"))
                    .select(
                        F.col("src").alias("id"),
                        F.least(F.col("src"), F.col("_m")).alias("component"),
                    )
                )
            # each node adopts the min label among itself and its
            # neighbours: edge-messages ∪ own-label, one min aggregate
            msgs = both.join(labels, both.dst == labels.id).select(
                F.col("src").alias("id"), "component"
            )
            prop = (
                msgs.unionByName(labels.select("id", "component"))
                .groupBy("id")
                .agg(F.min("component").alias("component"))
            )
            # pointer jump (path halving): component ← component's own label
            jump = prop.select(F.col("id").alias("_jid"), F.col("component").alias("_jcomp"))
            return prop.join(jump, prop.component == jump._jid, "left").select(
                "id", F.coalesce(F.col("_jcomp"), F.col("component")).alias("component")
            )

        labels = ss.loop(None, propagate, max(max_iter, 1), until=[F.sum("component")])
        return ss.result(labels)


def _canonical_degrees(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Canonical undirected edge set ``(a < b)`` and its ``(id, deg)``
    frame — shared by triangle counting and the clustering
    coefficient."""
    und = _canonical(edges, "a", "b")
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return und, deg


def _triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    ranked = (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = o1.join(o2, "u").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
        "leftsemi",
    ).select("u", "v1", "v2")
    return (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over the undirected view of ``edges``.

    Output: ``(id, triangles)`` for every vertex in at least one
    triangle.

    Algorithm (node-iterator++ / Schank-Wagner): canonicalize to
    distinct undirected pairs, then ORIENT each edge from the endpoint
    with the smaller ``(degree, id)`` rank to the larger.  Every wedge
    is then enumerated exactly once, at its lowest-rank vertex, and a
    triangle is a wedge whose rank-ordered closing pair is itself an
    oriented edge.

    Scale design: the orientation is the whole point — the wedge
    self-join fans out quadratically in OUT-degree, and degree ordering
    bounds max out-degree by O(sqrt(m)), so total wedge volume is
    O(m^1.5) regardless of skew (a 10^6-degree hub vertex has rank
    higher than nearly all neighbours and generates ~no wedges).  Three
    shuffles: degree aggregate, wedge self-join on the pivot, closing
    equi-join on the (lo, hi) pair.  No driver-side iteration, no
    collect.
    """
    return _triangles(*_canonical_degrees(edges))


def label_propagation(edges: DataFrame, num_iter: int = 4) -> DataFrame:
    """Synchronous label propagation (community detection) over the
    undirected view of ``edges``: every node starts in its own
    community, then each round adopts the most frequent label among its
    neighbours, ties broken by the smallest label — fully deterministic
    (asynchronous LPA's hallmark nondeterminism is exactly what a
    distributed, oracle-checked engine cannot ship).  Exactly
    ``num_iter`` rounds: LPA has no monotone fixpoint witness (labels
    oscillate on bipartite subgraphs), so a fixed round count is the
    deterministic contract, and the oracle unrolls the same rounds.

    Scale design: one round = edge⋈label join shuffled on the label
    side's id, a (node, label) count aggregate, and an argmax via
    ``max_by`` with a (count, -label) struct — aggregate semantics, no
    window sort over the whole node table.  All three shuffle on the
    node id / (id,label) keys.

    Output: ``(id, label)`` for every node with at least one edge.
    """
    with Supersteps() as ss:
        both, _ = ss.barrier(edge_view(edges, loops=False, dedup=True))
        labels, _ = ss.barrier(
            both.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
        )

        def adopt(labels, _):
            counts = (
                both.join(labels, both.dst == labels.id)
                .groupBy("src", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            new = counts.groupBy("src").agg(
                F.expr("max_by(label, struct(cnt, -label))").alias("_new")
            )
            return labels.join(new, labels.id == new.src, "left").select(
                "id", F.coalesce(F.col("_new"), F.col("label")).alias("label")
            )

        return ss.result(ss.loop(labels, adopt, num_iter))


def kcore(edges: DataFrame, k: int = 3, max_rounds: int = 12) -> DataFrame:
    """k-core decomposition by iterative peeling over the undirected
    view of ``edges``: repeatedly remove nodes with degree < ``k``
    (each removal lowers neighbours' degrees, so peeling cascades)
    until a fixpoint or ``max_rounds``.

    Output: ``(id, core_deg)`` — the nodes of the k-core with their
    degree inside the core.

    Scale design: one round = a degree aggregate (shuffle on src, the
    same key every round — bucketed edge storage makes it shuffle-free,
    see sources/graph_io.save_edges_bucketed) + two semi-joins pruning
    edges whose endpoint was peeled.  The surviving-node count is the
    fixpoint witness (it only decreases; unchanged ⇔ nothing peeled).
    """
    with Supersteps() as ss:
        alive, _ = ss.barrier(edge_view(edges, loops=False, dedup=True))

        def peel(alive, _):
            deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
            keep = deg.filter(F.col("_deg") >= k).select("src")
            return alive.join(keep, "src", "leftsemi").join(
                keep.withColumnRenamed("src", "dst"), "dst", "leftsemi"
            )

        alive = ss.loop(alive, peel, max_rounds, until=[F.countDistinct("src")])
        return ss.result(
            alive.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("core_deg"))
            .filter(F.col("core_deg") >= k)
        )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Degree-distribution histogram per relation label: how many nodes
    have each total (in+out) degree — the first diagnostic run on any
    large graph (skew detection, power-law fit, sanity checks).

    Scale design: two map-side-combined aggregates — (rel, id) degree
    counts, then (rel, degree) histogram.  The first shuffle carries one
    row per endpoint incidence; the second one row per (node, rel).  A
    hub vertex is ONE row in the second aggregate, so skew in the graph
    does not skew the histogram computation itself.

    Output: (rel, degree, n_nodes).
    """
    ends = edges.select("rel", F.col("src").alias("id")).unionByName(
        edges.select("rel", F.col("dst").alias("id"))
    )
    deg = ends.groupBy("rel", "id").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("rel", "degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("rel", "degree")
    )


def clustering_coefficient(edges: DataFrame, round_dp: int = 6) -> DataFrame:
    """Local clustering coefficient per vertex over the undirected view:
    ``cc = 2·triangles / (deg·(deg−1))`` for vertices of degree ≥ 2.

    Scale design: reuses :func:`triangle_count`'s canonical undirected
    edge set and degree frame (degree-oriented wedge enumeration,
    O(m^1.5) total work regardless of skew); the final join is
    |V|-sized.  Rounded to ``round_dp`` so the float division can't
    drift vs an oracle.

    Output: (id, degree, triangles, cc) for deg ≥ 2 vertices.
    """
    und, deg = _canonical_degrees(edges)
    tri = F.coalesce(F.col("triangles"), F.lit(0))
    return (
        deg.where(F.col("deg") >= 2)
        .join(_triangles(und, deg), "id", "left")
        .select(
            "id",
            F.col("deg").alias("degree"),
            tri.alias("triangles"),
            F.round(tri * 2.0 / (F.col("deg") * (F.col("deg") - F.lit(1))), round_dp).alias("cc"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: list,
    num_iter: int = 10,
    damping: float = 0.85,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """(id, rank) after ``num_iter`` personalized power iterations:
    teleport mass restarts at the ``sources`` set instead of uniformly,
    so ranks measure proximity-weighted importance relative to the
    seeds — the recommendation / related-entities primitive.

    Same per-iteration shape (and cost) as ``pagerank``: one edge⋈rank
    join shuffling on src, one dst aggregate, dangling mass as an
    in-plan 1-row broadcast — redistributed to the PERSONALIZATION
    vector p (not uniformly), the standard PPR formulation.  r0 = p.
    """
    return _power_iteration(edges, nodes, num_iter, damping, sources)


def feature_propagation(
    edges: DataFrame,
    features: DataFrame,
    rounds: int = 2,
    alpha: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """GNN-style neighborhood aggregation in pure relational form:
    ``rounds`` iterations of h' = α·h + (1−α)·mean(neighbors' h) over
    the undirected graph — the GraphSAGE-mean message-passing layer a
    feature pipeline runs to smooth node attributes (isolated nodes
    keep their value).

    Scale shape: per round ONE edge⋈feature join (shuffle on the edge
    key) + one destination-keyed mean — identical cost profile to a
    PageRank iteration.

    Exactness (the sf0.1 last-ulp lesson): for the default α = ½ the
    whole round runs in EXACT INTEGER MICROS — h is 6-dp, so
    ``h·10⁶`` is a lossless BIGINT; the neighbour mean and the ½-blend
    round half-away-from-zero by integer arithmetic
    (``sign·((2·|Σ| + n) div (2n))``, ``sign·((|s| + 1) div 2)``).
    Rounding a DOUBLE at 6 dp is engine-ambiguous exactly when the
    value sits on a .xxxxxx5 boundary — which the ½-blend of two 6-dp
    values hits for HALF of all odd last-digit sums (Spark rounds the
    shortest decimal repr HALF_UP, DuckDB rounds the true double:
    3 of 1030 rows flipped at sf0.1) — so boundary values must never
    pass through a double round.  Non-half α keeps the documented
    double path (α·h is not exactly representable)."""
    with Supersteps() as ss:
        bi, _ = ss.barrier(edge_view(edges, loops=False, dedup=True))
        h = features.select("id", F.round(F.col("h").cast("double"), round_dp).alias("h"))
        if alpha == 0.5 and round_dp == 6:
            sgn = lambda c: F.when(c < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")

            def blend6(h, _):
                nbr = (
                    bi.join(h, bi.src == h.id)
                    .groupBy("dst")
                    .agg(F.sum("_h6").alias("_s"), F.count(F.lit(1)).alias("_c"))
                    .select(
                        "dst",
                        (sgn(F.col("_s"))
                         * F.expr("(2 * abs(_s) + _c) div (2 * _c)")).alias("_m6"),
                    )
                )
                return (
                    h.join(nbr, h.id == nbr.dst, "left")
                    .select(
                        "id",
                        (F.col("_h6") + F.coalesce(F.col("_m6"), F.col("_h6"))).alias("_t"),
                    )
                    .select("id", (sgn(F.col("_t")) * F.expr("(abs(_t) + 1) div 2")).alias("_h6"))
                )

            h6 = h.select(
                "id", (F.col("h").cast("decimal(25,6)") * 1000000).cast("long").alias("_h6")
            )
            h6 = ss.loop(h6, blend6, rounds)
            return ss.result(h6.select("id", (F.col("_h6") / F.lit(1000000.0)).alias("h")))

        def blend(h, _):
            nbr = bi.join(h, bi.src == h.id).groupBy("dst").agg(
                F.round(F.avg("h"), round_dp).alias("_m")
            )
            return h.join(nbr, h.id == nbr.dst, "left").select(
                "id",
                F.round(
                    F.lit(alpha) * F.col("h")
                    + F.lit(1.0 - alpha) * F.coalesce(F.col("_m"), F.col("h")),
                    round_dp,
                ).alias("h"),
            )

        return ss.result(ss.loop(h, blend, rounds))


def modularity(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Per-community modularity decomposition of a partition:
    q_contrib(c) = L_c/m − (d_c/2m)² over the undirected simple graph —
    the quality score that says whether a community assignment (e.g.
    LPA's) beats random wiring.  Σ q_contrib = Newman's Q.

    Scale shape: canonical (src<dst) edge dedup, two broadcast-or-hash
    joins attach endpoint labels, then everything reduces to
    per-community counts (bounded by |communities|) — no quadratic
    term anywhere.

    ``communities``: (id, label).  Output: (community, n_nodes,
    internal_edges, degree_sum, q_contrib).
    """
    und = edge_view(edges).where(F.col("src") < F.col("dst")).distinct()
    m = und.count()
    la = communities.select(F.col("id").alias("src"), F.col("label").alias("_la"))
    lb = communities.select(F.col("id").alias("dst"), F.col("label").alias("_lb"))
    tagged = und.join(la, "src").join(lb, "dst")
    internal = (
        tagged.where(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("community"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    deg = (
        und.select(F.col("src").alias("id"))
        .unionByName(und.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    per_c = (
        communities.join(deg, "id", "left")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce(F.col("_deg"), F.lit(0))).alias("degree_sum"),
        )
    )
    q = (
        F.coalesce(F.col("internal_edges"), F.lit(0)) / F.lit(float(m))
        - (F.col("degree_sum") / F.lit(2.0 * m)) * (F.col("degree_sum") / F.lit(2.0 * m))
    )
    return (
        per_c.join(internal, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("internal_edges"), F.lit(0)).alias("internal_edges"),
            "degree_sum",
            F.round(q, 6).alias("q_contrib"),
        )
        .orderBy("community")
    )


def hits(edges: DataFrame, num_iter: int = 5) -> DataFrame:
    """Hub/authority scores (Kleinberg's HITS) by power iteration.

    Each iteration is two half-steps over the directed edge table:
    ``auth(v) = Σ_{u→v} hub(u)`` then ``hub(u) = Σ_{u→v} auth(v)``,
    each L1-normalized (deterministic and SQL-oracle-friendly; the
    eigenvector direction is identical to the classic L2 form, only the
    scale differs).  The reference has no whole-graph traversal at all;
    this extends the a3/a11 eigenvector family to bipartite-ish
    hub/authority structure (citation / web-link analysis).

    Scale shape: per half-step one join edge⋈score (shuffle on src or
    dst) + one aggregate — identical cost envelope to ``pagerank``.
    The normalizing total is a 1-row aggregate broadcast INSIDE the
    plan, so each iteration is one action (the checkpoint), never a
    per-round collect.  Output: (id, hub, auth).
    """
    with Supersteps() as ss:
        e, _ = ss.barrier(edges.select("src", "dst"))
        nodes, _ = ss.barrier(_ids(e))

        def step(scores, _):
            # auth half-step: pull hub mass along incoming edges
            a_raw = scores.join(e, scores.id == e.src).groupBy("dst").agg(
                F.sum("hub").alias("_araw")
            )
            a_tot = a_raw.agg(F.sum("_araw").alias("_at"))
            auths = (
                nodes.join(a_raw, nodes.id == a_raw.dst, "left")
                .crossJoin(F.broadcast(a_tot))
                .select(
                    "id", (F.coalesce(F.col("_araw"), F.lit(0.0)) / F.col("_at")).alias("auth")
                )
            )
            # hub half-step: pull the NEW auth mass along outgoing edges
            h_raw = auths.join(e, auths.id == e.dst).groupBy("src").agg(
                F.sum("auth").alias("_hraw")
            )
            h_tot = h_raw.agg(F.sum("_hraw").alias("_ht"))
            return (
                auths.join(h_raw, auths.id == h_raw.src, "left")
                .crossJoin(F.broadcast(h_tot))
                .select(
                    "id",
                    (F.coalesce(F.col("_hraw"), F.lit(0.0)) / F.col("_ht")).alias("hub"),
                    "auth",
                )
            )

        scores = nodes.select("id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
        return ss.result(ss.loop(scores, step, num_iter))


def link_prediction(
    edges: DataFrame, min_common: int = 1, round_dp: int = 6
) -> DataFrame:
    """Common-neighbour / Jaccard link prediction over the undirected
    simple graph: for every non-adjacent pair (u < v) sharing ≥
    ``min_common`` neighbours, emit the classic similarity scores
    (common-neighbour count, Jaccard, Adamic-Adar).

    Scale shape: wedge enumeration — the neighbour table self-joined on
    the shared middle vertex ``w`` (one shuffle on w), aggregated per
    pair, then an anti-join removes existing edges.  Cost is
    Σ_w deg(w)², the same envelope as triangle counting; at 100 TB cap
    or sample super-hub middles exactly like d2's posting cap (a hub
    with deg 10⁶ contributes 10¹² wedges regardless of engine).
    Output: (u, v, common, jaccard, adamic_adar).
    """
    und = edge_view(edges, loops=False, dedup=True)
    nbr = und.select(F.col("src").alias("id"), F.col("dst").alias("w"))
    deg = nbr.groupBy("id").agg(F.count(F.lit(1)).alias("_deg"))
    wdeg = nbr.groupBy("w").agg(F.count(F.lit(1)).alias("_wdeg"))
    left = nbr.select(F.col("id").alias("u"), "w")
    right = nbr.select(F.col("id").alias("v"), "w")
    pairs = (
        left.join(right, "w")
        .where(F.col("u") < F.col("v"))
        .join(wdeg, "w")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(1.0 / F.log("_wdeg")).alias("_aa"),
        )
        .where(F.col("common") >= min_common)
    )
    # drop pairs that are already edges (canonical orientation)
    existing = und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    du = deg.select(F.col("id").alias("u"), F.col("_deg").alias("_du"))
    dv = deg.select(F.col("id").alias("v"), F.col("_deg").alias("_dv"))
    return (
        pairs.join(existing, ["u", "v"], "left_anti")
        .join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            F.round(
                F.col("common") / (F.col("_du") + F.col("_dv") - F.col("common")), round_dp
            ).alias("jaccard"),
            F.round(F.col("_aa"), round_dp).alias("adamic_adar"),
        )
    )


def landmark_closeness(
    edges: DataFrame,
    landmarks: list,
    max_iter: int = 8,
    directed: bool = False,
    round_dp: int = 6,
) -> DataFrame:
    """Landmark-approximated closeness centrality: exact BFS distances
    from k landmark vertices, run as ONE composite-key frontier
    ((landmark, node) pairs) rather than k sequential traversals —
    closeness(v) ≈ reached / Σ dist(v, landmark), the standard k-probe
    approximation (exact closeness is all-pairs, infeasible at scale;
    k landmarks cost k× a single BFS and the frontier parallelism is
    shared).

    Per iteration: frontier ⋈ edges on the node key (one shuffle) +
    anti-join against the visited set + min per (landmark, node) —
    the a1 BFS pattern (visited = the lazy union of the kept rounds),
    state O(k·V).
    Output: (id, n_reached, sum_dist, closeness).
    """
    with Supersteps() as ss:
        e, _ = ss.barrier(edge_view(edges, directed, dedup=True))
        seed = e.sparkSession.createDataFrame(
            [(int(x), int(x), 0) for x in landmarks], "lm long, id long, dist int"
        ).localCheckpoint(eager=True)

        def expand(rounds, _):
            frontier = rounds[-1]
            return (
                frontier.join(e, frontier.id == e.src)
                .select("lm", F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
                .join(_union(rounds), ["lm", "id"], "left_anti")
                .groupBy("lm", "id")
                .agg(F.min("dist").alias("dist"))
            )

        visited = _union(ss.loop([seed], expand, max_iter, until="empty", keep=True))
        out = visited.groupBy("id").agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("dist").cast("long").alias("sum_dist"),
        )
        return ss.result(out.select(
            "id",
            "n_reached",
            "sum_dist",
            F.when(
                F.col("sum_dist") > 0,
                F.round(F.col("n_reached") / F.col("sum_dist"), round_dp),
            ).otherwise(F.lit(0.0)).alias("closeness"),
        ))


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Deterministic hash-seeded random walks — the node2vec/DeepWalk
    sampling primitive without RNG state: at step t from position p the
    walk started at s takes neighbour number
    ``md5₆₀(s ":" t ":" p) mod deg(p)`` of p's id-ordered adjacency
    list.  Any executor, any retry, any engine replays the identical
    walk (the md5-hex-prefix trick that makes the MinHash family
    oracle-portable).

    Scale shape: the ranked adjacency table is built once (one window
    over the adjacency shuffled by node); each step is ONE equi-join of
    the walk frontier against it on (node, rank) — steps are joins, not
    per-walk loops, so 10⁹ walks advance together.  Walks stop early at
    sinks (no out-neighbours).  Output: (start, step, node), step 0..``steps``.
    """
    from pyspark.sql.window import Window

    from .dedup import md5_hash60

    with Supersteps() as ss:
        adj = edge_view(edges, directed, dedup=True).select(
            F.col("src").alias("_p"), F.col("dst").alias("_w")
        )
        adj = adj.withColumn(
            "_rk", F.row_number().over(Window.partitionBy("_p").orderBy("_w")) - 1
        )
        deg = adj.groupBy("_p").agg(F.count(F.lit(1)).alias("_deg"))
        adj, _ = ss.barrier(adj.join(deg, "_p"))

        def hop(walks, t):
            walk = walks[-1]
            key = F.concat_ws(":", F.col("start"), F.lit(t), F.col("node"))
            return (
                walk.withColumn("_h", md5_hash60(key))
                .join(adj, walk.node == adj._p)
                .where(F.col("_rk") == F.col("_h") % F.col("_deg"))
                .select("start", F.col("_w").alias("node"))
            )

        walk0 = starts.select(F.col("id").alias("start"), F.col("id").alias("node"))
        walks = ss.loop([walk0], hop, steps, keep=True)
        return ss.result(_union([w.withColumn("step", F.lit(t)) for t, w in enumerate(walks)]))


def maximal_independent_set(
    edges: DataFrame, max_rounds: int = 8, directed: bool = False
) -> DataFrame:
    """Luby's maximal independent set, derandomized: each round selects
    every active vertex whose md5₆₀ priority beats all active
    neighbours', then deactivates selections and their neighbourhoods.
    The foundational symmetry-breaking primitive (distributed
    scheduling, graph coloring's first color class) — O(log n) rounds
    w.h.p., each round two adjacency joins + one aggregate.  Rounds stop
    once no vertex is active.

    Priorities are content hashes, not RNG, so any engine replays the
    identical MIS (the a17 determinism discipline).
    Output: (id, round) — the round each MIS member was selected.
    """
    from .dedup import md5_hash60

    with Supersteps() as ss:
        adj, _ = ss.barrier(
            edge_view(edges, directed, loops=False, dedup=True)
            .select(F.col("src").alias("_p"), F.col("dst").alias("_w"))
        )
        nodes = adj.select(F.col("_p").alias("id")).distinct()
        active, _ = ss.barrier(
            nodes.select("id", md5_hash60(F.col("id").cast("string")).alias("_pri"))
        )
        picked = [nodes.withColumn("round", F.lit(0)).limit(0)]

        def pick(active, r):
            nb = adj.join(active.select(F.col("id").alias("_p")), "_p").join(
                active.select(F.col("id").alias("_w"), F.col("_pri").alias("_wp")), "_w"
            )
            minp = nb.groupBy("_p").agg(F.min("_wp").alias("_mp"))
            sel, _ = ss.ckpt(
                active.join(minp, active.id == minp._p, "left")
                .where(F.col("_mp").isNull() | (F.col("_pri") < F.col("_mp")))
                .select("id")
            )
            picked.append(sel.withColumn("round", F.lit(r)))
            removed = sel.unionByName(
                adj.join(sel.withColumnRenamed("id", "_p"), "_p").select(F.col("_w").alias("id"))
            ).distinct()
            return active.join(removed, "id", "left_anti")

        ss.loop(active, pick, max_rounds, until="empty")
        return ss.result(_union(picked))


def topo_layers(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Topological layering + cycle detection by iterative Kahn
    peeling: layer k = the nodes whose every predecessor sits in an
    earlier layer; nodes never peeled (after ``max_iter`` rounds or at
    fixpoint) are flagged as cyclic.  The DAG scheduling primitive
    (dependency build order, lineage leveling).

    Each round: the unpeeled nodes and live edges are the node and edge
    barriers minus the lazy union of the kept layers (the bfs_levels
    trick), then one anti-join peels the nodes with no incoming live
    edge.  Output: (id, layer, cyclic) — layer is NULL for cyclic nodes.
    """
    with Supersteps() as ss:
        e, _ = ss.barrier(
            edges.select("src", "dst").where(F.col("src") != F.col("dst")).dropDuplicates()
        )
        nodes, _ = ss.barrier(_ids(e))

        def peel(layers, i):
            gone = _union(layers).select("id")
            remaining = nodes.join(gone, "id", "left_anti")
            live = e.join(gone.withColumnRenamed("id", "src"), "src", "left_anti")
            return remaining.join(
                live.select(F.col("dst").alias("id")).distinct(), "id", "left_anti"
            ).withColumn("layer", F.lit(i - 1))

        seed = nodes.withColumn("layer", F.lit(0)).limit(0)
        layered = _union(ss.loop([seed], peel, max_iter, until="empty", keep=True))
        cyc = nodes.join(layered.select("id"), "id", "left_anti")
        return ss.result(
            layered.select("id", F.col("layer").cast("int").alias("layer"), F.lit(False).alias("cyclic"))
            .unionByName(cyc.select("id", F.lit(None).cast("int").alias("layer"), F.lit(True).alias("cyclic")))
        )


def maximal_matching(edges: DataFrame, max_rounds: int = 10) -> DataFrame:
    """Parallel greedy MAXIMAL MATCHING, derandomized: each round keeps
    every live edge whose md5₆₀ priority is the minimum at BOTH its
    endpoints (with distinct priorities that is exactly "beats every
    adjacent edge"), adds them to the matching, and drops all edges
    touching newly matched vertices.  The assignment/pairing primitive
    (task→worker, rider→driver) in O(log n) rounds w.h.p.; rounds stop
    once no edge is live.  Edges are canonical undirected pairs.

    Per round: two per-vertex min aggregates + one join-back + one
    anti-join — no line-graph materialization.  Output: (u, v, round).
    """
    from .dedup import md5_hash60

    with Supersteps() as ss:
        canon = _canonical(edges)
        live, _ = ss.barrier(
            canon.withColumn("_pri", md5_hash60(F.concat_ws(":", F.col("u"), F.col("v"))))
        )
        picked = [canon.withColumn("round", F.lit(0)).limit(0)]

        def match(live, r):
            vmin = (
                live.select(F.col("u").alias("id"), "_pri")
                .unionByName(live.select(F.col("v").alias("id"), "_pri"))
                .groupBy("id")
                .agg(F.min("_pri").alias("_vm"))
            )
            sel, _ = ss.ckpt(
                live.join(vmin.withColumnRenamed("id", "u").withColumnRenamed("_vm", "_vmu"), "u")
                .join(vmin.withColumnRenamed("id", "v").withColumnRenamed("_vm", "_vmv"), "v")
                .where((F.col("_pri") == F.col("_vmu")) & (F.col("_pri") == F.col("_vmv")))
                .select("u", "v")
            )
            picked.append(sel.withColumn("round", F.lit(r)))
            matched = (
                sel.select(F.col("u").alias("id"))
                .unionByName(sel.select(F.col("v").alias("id")))
                .distinct()
            )
            return live.join(matched.withColumnRenamed("id", "u"), "u", "left_anti").join(
                matched.withColumnRenamed("id", "v"), "v", "left_anti"
            )

        ss.loop(live, match, max_rounds, until="empty")
        return ss.result(_union(picked).select("u", "v", "round"))


def ktruss(edges: DataFrame, k: int = 3, max_rounds: int = 6) -> DataFrame:
    """The k-truss: the maximal subgraph whose every edge closes at
    least k−2 triangles WITHIN the subgraph — iterative support
    recomputation + peel until fixpoint (or ``max_rounds``).  Edge-grain
    cohesion one notch above vertex-grain k-core: trusses survive hub
    removal that cores don't.

    Per round: the canonical edge set wedge-joins itself twice to count
    each edge's triangles among LIVE edges (the a6 enumeration reused
    as a support counter — Σ deg² worst case, skew-capped the d2 way at
    scale), then under-supported edges drop.  The surviving-edge count
    is the fixpoint witness.  Output: the surviving edges (u, v,
    support).
    """
    with Supersteps() as ss:
        live, n = ss.barrier(_canonical(edges))

        def peel(live, _):
            live = live.select("u", "v")
            nbr = live.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
                live.select(F.col("v").alias("a"), F.col("u").alias("b"))
            )
            # wedges through middle m: (m,a),(m,b) with a<b, closed by (a,b)
            wedge = (
                nbr.select(F.col("a").alias("m"), F.col("b").alias("x"))
                .join(nbr.select(F.col("a").alias("m"), F.col("b").alias("y")), "m")
                .where(F.col("x") < F.col("y"))
            )
            tri = wedge.join(
                live, (wedge.x == live.u) & (wedge.y == live.v), "left_semi"
            ).select("m", "x", "y")
            # each triangle (m,x,y) supports its three edges
            edge_support = (
                tri.select(F.least("m", "x").alias("u"), F.greatest("m", "x").alias("v"))
                .unionByName(
                    tri.select(F.least("m", "y").alias("u"), F.greatest("m", "y").alias("v"))
                )
                .unionByName(tri.select(F.col("x").alias("u"), F.col("y").alias("v")))
                .groupBy("u", "v")
                .agg((F.count(F.lit(1)) / 3).cast("long").alias("support"))
            )
            support = F.coalesce(F.col("support"), F.lit(0))
            return (
                live.join(edge_support, ["u", "v"], "left")
                .where(support >= k - 2)
                .select("u", "v", support.alias("support"))
            )

        live = live.withColumn("support", F.lit(0).cast("long"))
        return ss.result(ss.loop(live, peel, max_rounds, until=[F.count(F.lit(1))], start=(n,)))
