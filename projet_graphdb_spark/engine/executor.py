"""Instruction executor: miniGQL instructions → DataFrame transformations.

Each normalized instruction (``graphDB/lib/instr.ml:8-16``) maps to a
declarative DataFrame operation, so Catalyst — not this module — chooses
physical strategy (broadcast vs shuffle joins, pushdown, pruning):

* ``match (v:L)``   → cross join with the label table's id column
  (sem.ml:303-307).  A following ``where``/edge-match turns the cross
  join into a real equi-join via Catalyst's predicate pushdown.
* ``match -[:r]->`` → left-semi join against the edge table
  (sem.ml:317-329) — the reference's O(|T|·|E|) nested loop becomes a
  hash/sort-merge join.
* ``create``        → unions on the node/edge tables; edges stay a set
  (graphstruct.ml:30-32) via dropDuplicates.
* ``delete``        → left-anti joins (cascading edge removal,
  sem.ml:212-215).
* ``where``         → attribute join + filter (sem.ml:357-365).
* ``set``           → upsert on the label table via left join + coalesce
  (sem.ml:255-262, 366-375).
* ``return``        → projection/reorder (sem.ml:348-356).

Sequential mutation over immutable DataFrames grows lineage; every
``checkpoint_every`` graph mutations the node/edge tables are
``localCheckpoint``-ed to keep plans bounded (SURVEY §7 risk register).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..frontend import ast as A
from ..frontend.normalize import (
    Action,
    IActOnNode,
    IActOnRel,
    IDeleteNode,
    IDeleteRel,
    IMergeNode,
    INotExistsRel,
    IOptRel,
    IOrderLimit,
    IReturn,
    IReturnAgg,
    IReturnProj,
    ISet,
    ISetOp,
    IWhere,
    NormProg,
)
from ..frontend.parser import parse
from ..frontend.normalize import normalize
from ..frontend.typecheck import typecheck
from .exprs import attrib_accesses, const_fold, to_column
from .state import GraphState, node_schema, spark_type_of


class ExecError(Exception):
    pass


@dataclass
class Binding:
    """The binding table: a DataFrame + var→(internal column, label) env.

    The env is ordered most-recent-first, mirroring the reference's
    prepend-on-bind (sem.ml:30-36): a re-bound variable name resolves to
    its newest column.
    """

    df: DataFrame
    env: list = field(default_factory=list)  # list[(var, col, label)]
    _counter: int = 0
    # row count when statically known (seed row = 1; creates preserve it).
    # Lets `create` allocate ids without a count() action in the common
    # create-from-literals case; None after match/where/delete.
    known_count: int | None = 1
    # columns declared by `match (v:L)` but not yet joined into df:
    # col -> label.  A following `match -[:r]->` resolves them THROUGH the
    # edge table (inner join) instead of materializing the label-scan
    # cross product first — the motif-planning move that turns
    # `match (a:A)-[:r]->(b:B)` into edge ⋈ nodes instead of
    # (T × A × B) ⋉ edges.  Flushed (plain cross join, reference
    # semantics sem.ml:303-307) before any instruction that needs the
    # materialized column.
    pending: dict = field(default_factory=dict)

    def fresh_col(self) -> str:
        self._counter += 1
        return f"_v{self._counter}"

    def lookup(self, var: str):
        for v, c, lb in self.env:
            if v == var:
                return c, lb
        raise ExecError(f"Variable '{var}' not in table")


@dataclass
class Executor:
    state: GraphState
    set_eval: str = "first_row"  # "first_row" (reference, sem.ml:371-372) | "per_row"
    checkpoint_every: int = 12
    _mutations: int = 0

    def run(self, prog: NormProg, binding: Binding | None = None) -> Binding:
        branches, cur, ops = [], [], []
        for instr in prog.instructions:
            if isinstance(instr, ISetOp):
                branches.append(cur)
                ops.append(instr.op)
                cur = []
            else:
                cur.append(instr)
        branches.append(cur)

        def seed() -> Binding:
            # zero columns, ONE empty row (sem.ml:25) — makes the first
            # create/match produce exactly-one / one-per-node rows
            return Binding(self.state.spark.range(1).select(), known_count=1)

        def run_branch(instrs, b: Binding) -> Binding:
            for instr in instrs:
                b = self.exec_instr(instr, b)
            return self._flush(b)

        first = run_branch(branches[0], binding if binding is not None else seed())
        if not ops:
            return first

        # set-op combination (extension): each later branch runs from a
        # fresh seed over the SAME (possibly mutated) graph; results are
        # combined by VARIABLE NAME with SQL DISTINCT semantics.  Spark
        # plans these as one shuffle each (union+dedup / intersect /
        # subtract with partial aggregation) — no driver-side rows.
        names = [v for v, _, _ in first.env]
        acc = first.df.select(*[F.col(c).alias(v) for v, c, _ in first.env])
        acc_env = [(v, v, lb) for v, _, lb in first.env]
        for op, instrs in zip(ops, branches[1:]):
            nxt = run_branch(instrs, seed())
            ndf = nxt.df.select(*[F.col(c).alias(v) for v, c, _ in nxt.env]).select(*names)
            if op == "union":
                acc = acc.unionByName(ndf).dropDuplicates()
            elif op == "intersect":
                acc = acc.intersect(ndf)
            else:  # except
                acc = acc.subtract(ndf)
        return Binding(acc, acc_env, first._counter, None)

    def _flush(self, b: Binding, only: str | None = None) -> Binding:
        """Materialize pending match-node columns as cross joins
        (sem.ml:303-307).  ``only``: flush a single column."""
        if not b.pending:
            return b
        df = b.df
        pending = dict(b.pending)
        cols = [only] if only is not None else list(pending)
        for col in cols:
            label = pending.pop(col)
            scan = self.state.nodes[label].select(F.col("_id").alias(col))
            if not df.columns and b.known_count == 1:
                # df is the untouched seed (zero columns, exactly one
                # row, sem.ml:25): seed × scan ≡ scan — skip the cross
                # join so the first match is a plain label scan, not a
                # BroadcastNestedLoopJoin against a one-row relation
                df = scan
            else:
                df = df.crossJoin(scan)
        return Binding(df, b.env, b._counter, None, pending)

    # ------------------------------------------------------------------

    def exec_instr(self, instr, b: Binding) -> Binding:
        if isinstance(instr, IActOnNode):
            if instr.action == Action.CREATE:
                return self._create_node(instr.var, instr.label, b)
            return self._match_node(instr.var, instr.label, b)
        if isinstance(instr, IActOnRel):
            if instr.action == Action.CREATE:
                return self._create_rel(instr.src_var, instr.rel, instr.tgt_var, b)
            return self._match_rel(
                instr.src_var,
                instr.rel,
                instr.tgt_var,
                b,
                star=getattr(instr, "star", False),
                star_min=getattr(instr, "star_min", 1),
                star_max=getattr(instr, "star_max", None),
                undirected=getattr(instr, "undirected", False),
            )
        if isinstance(instr, IMergeNode):
            return self._merge_node(instr, b)
        if isinstance(instr, IOptRel):
            return self._opt_rel(instr, b)
        if isinstance(instr, INotExistsRel):
            return self._not_exists_rel(instr, b)
        if isinstance(instr, IDeleteNode):
            return self._delete_node(instr.var, b)
        if isinstance(instr, IDeleteRel):
            return self._delete_rel(instr.src_var, instr.rel, instr.tgt_var, b)
        if isinstance(instr, IReturn):
            return self._return(list(instr.vars), b, getattr(instr, "distinct", False))
        if isinstance(instr, IReturnProj):
            return self._return_proj(instr, b)
        if isinstance(instr, IReturnAgg):
            return self._return_agg(instr, b)
        if isinstance(instr, IOrderLimit):
            return self._order_limit(instr, b)
        if isinstance(instr, IWhere):
            return self._where(instr.expr, b)
        if isinstance(instr, ISet):
            return self._set(instr.var, instr.field, instr.expr, b)
        raise TypeError(f"unknown instruction {instr!r}")

    # -- create ---------------------------------------------------------

    def _create_node(
        self, var: str, label: str, b: Binding, attr_values: dict | None = None
    ) -> Binding:
        b = self._flush(b)
        st = self.state
        col = b.fresh_col()
        mn = st.next_id
        decl = next(d for d in st.types.nodes if d.label == label)
        schema = node_schema(decl)
        av = attr_values or {}
        from .localrel import local_df

        if b.known_count == 1:
            # fast path (every create in the reference corpus): constant id,
            # no window, no extra job
            k = 1
            new_df = b.df.withColumn(col, F.lit(mn).cast("long"))
            new_nodes = local_df(
                st.spark,
                [tuple([mn] + [av.get(f) for f, _ in decl.attrs])],
                schema,
            )
        else:
            # one fresh dense id per existing row — the zipWithIndex
            # pattern, NEVER a global Window.orderBy (that funnels the
            # whole binding table through one task; SURVEY §7 risk 2).
            # monotonically_increasing_id() packs (partition id << 33) +
            # local row index, so after freezing the layout with a
            # checkpoint: per-partition counts -> driver prefix sums ->
            # broadcast offset join -> map-only id arithmetic.  Dense,
            # and consistent for both consumers (ids are a pure function
            # of the frozen _mid/_pid columns).
            src = (
                b.df.withColumn("_pid", F.spark_partition_id())
                .withColumn("_mid", F.monotonically_increasing_id())
                .localCheckpoint(eager=True)
            )
            pc = src.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c")).collect()
            acc, offs = 0, []
            for row in sorted(pc, key=lambda r: r["_pid"]):
                offs.append((row["_pid"], acc))
                acc += row["_c"]
            k = acc
            from pyspark.sql import types as T

            off_df = local_df(
                st.spark,
                offs,
                T.StructType(
                    [
                        T.StructField("_pid", T.IntegerType()),
                        T.StructField("_off", T.LongType()),
                    ]
                ),
            )
            local_ix = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
            new_df = (
                src.join(F.broadcast(off_df), on="_pid")
                .withColumn(col, (F.lit(mn) + F.col("_off") + local_ix).cast("long"))
                .drop("_pid", "_mid", "_off")
            )
            new_nodes = new_df.select(
                F.col(col).alias("_id"),
                *[
                    F.lit(av.get(f)).cast(spark_type_of(tp)).alias(f)
                    for f, tp in decl.attrs
                ],
            )
        st.nodes[label] = st.nodes[label].unionByName(new_nodes)
        st.next_id = mn + k  # sane semantics; reference bumps by 1 (sem.ml:51 bug)
        self._after_mutation()
        return Binding(new_df, [(var, col, label)] + b.env, b._counter, b.known_count)

    def _create_rel(self, sv: str, rel: str, tv: str, b: Binding) -> Binding:
        b = self._flush(b)
        st = self.state
        scol, _ = b.lookup(sv)
        tcol, _ = b.lookup(tv)
        new_edges = b.df.select(
            F.col(scol).alias("src"), F.lit(rel).alias("rel"), F.col(tcol).alias("dst")
        )
        # set semantics (graphstruct.ml:30-32) incrementally: dedup only
        # the NEW edges and anti-join against the existing set, instead
        # of re-deduplicating the whole edge table — the existing set is
        # distinct by construction, so union keeps the invariant while
        # shuffling O(|new|) instead of O(|E|+|new|) rows
        new_clean = new_edges.dropDuplicates().join(
            st.edges, on=["src", "rel", "dst"], how="left_anti"
        )
        st.edges = st.edges.unionByName(new_clean)
        self._after_mutation()
        return b

    def _merge_node(self, instr: IMergeNode, b: Binding) -> Binding:
        """Constant-keyed upsert (extension; Cypher MERGE restricted to
        literal properties).  The match-or-create decision is one
        driver-side existence probe (``limit(1).count()`` — the graph is
        mutated sequentially anyway, mirroring the reference's fold at
        sem.ml:377-378); the match arm is a filtered label scan crossed
        with the binding table, the create arm reuses the dense-id
        create path with the key attributes populated atomically (no
        separate set step, so a concurrent reader of the node table
        never sees a half-written merge row)."""
        st = self.state
        vals = {f: e.value.python_value for f, e in instr.props}
        nodes = st.nodes[instr.label]
        cond = F.lit(True)
        for f, v in vals.items():
            cond = cond & (F.col(f) == F.lit(v))
        matched = nodes.filter(cond).select("_id")
        if matched.limit(1).count() == 0:
            return self._create_node(instr.var, instr.label, b, attr_values=vals)
        b = self._flush(b)
        col = b.fresh_col()
        scan = matched.select(F.col("_id").alias(col))
        if not b.df.columns and b.known_count == 1:
            # pristine one-row seed: seed × scan ≡ scan (same reasoning
            # as _flush)
            df = scan
        else:
            df = b.df.crossJoin(scan)
        return Binding(df, [(instr.var, col, instr.label)] + b.env, b._counter, None)

    # -- match ----------------------------------------------------------

    def _match_node(self, var: str, label: str, b: Binding) -> Binding:
        col = b.fresh_col()
        # declare lazily: a following edge-match resolves the column via
        # the edge table; otherwise _flush materializes the cross product.
        # df is untouched, so its known row count carries over (lets
        # _flush recognize the pristine one-row seed).
        pending = dict(b.pending)
        pending[col] = label
        return Binding(b.df, [(var, col, label)] + b.env, b._counter, b.known_count, pending)

    def _transitive_pairs(
        self, rel: str, lo: int = 1, hi: int | None = None, undirected: bool = False
    ) -> DataFrame:
        """Reachability pairs (src, dst) over ``lo..hi`` hops of ``rel``
        edges — the ``-[:r*]->`` / ``-[:r*lo..hi]->`` extension (the
        reference has no variable-length paths, SURVEY §2.2).

        Unbounded closure uses path doubling — P_{k+1} = P_k ∪ (P_k ⋈
        P_k) — so diameter d costs ⌈log2 d⌉ join+distinct rounds instead
        of d frontier expansions; the pair count is the fixpoint witness.
        The bounded form walks hop counts explicitly (hi is small by
        construction) and unions hops lo..hi.  Both run on the
        graph_algos superstep driver: every round shuffles on the join
        key and cuts lineage with a rotated checkpoint.
        """
        from ..functions.graph_algos import Supersteps, edge_view

        e = edge_view(self.state.edges.filter(F.col("rel") == rel), directed=not undirected)
        with Supersteps() as ss:
            pairs, n = ss.barrier(e)
            if hi is None:

                def double(pairs, _):
                    ext = (
                        pairs.alias("a")
                        .join(pairs.alias("b"), F.col("a.dst") == F.col("b.src"))
                        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
                    )
                    return pairs.unionByName(ext).dropDuplicates()

                # 2^16-hop cap: a backstop, not a tuning knob
                until = [F.count(F.lit(1))]
                return ss.result(ss.loop(pairs, double, 16, until=until, start=(n,)))

            # bounded: ONE accumulated frame of (src, dst, _k) distinct
            # triples — _k the exact hop count — extended by joining the
            # previous round's _k-slice with e, the union folded inside
            # each round.  Unioning separately-checkpointed hop frames
            # instead trips Catalyst's Union constraint rewrite ("key not
            # found: src#N"): a localCheckpoint's LogicalRDD preserves
            # constraints from the plan it snapshotted, which can
            # reference attr ids that are not in the union child's output
            # (caught by the round-7 variable-length fuzzer).
            def hop(acc, i):
                nxt = (
                    acc.filter(F.col("_k") == i).alias("a")
                    .join(e.alias("b"), F.col("a.dst") == F.col("b.src"))
                    .select(
                        F.col("a.src").alias("src"),
                        F.col("b.dst").alias("dst"),
                        F.lit(i + 1).alias("_k"),
                    )
                    .dropDuplicates()
                )
                return acc.unionByName(nxt)

            acc = ss.loop(pairs.withColumn("_k", F.lit(1)), hop, hi - 1)
            return ss.result(acc.filter(F.col("_k") >= lo).select("src", "dst").dropDuplicates())

    def _match_rel(
        self,
        sv: str,
        rel: str,
        tv: str,
        b: Binding,
        star: bool = False,
        star_min: int = 1,
        star_max: int | None = None,
        undirected: bool = False,
    ) -> Binding:
        st = self.state
        scol, slabel = b.lookup(sv)
        tcol, tlabel = b.lookup(tv)
        e_base = (
            self._transitive_pairs(rel, star_min, star_max, undirected)
            if star
            else st.edges.filter(F.col("rel") == rel)
        )
        if undirected and not star:
            # -[:r]- matches the edge in either direction; dedup so that
            # reciprocal edges u->v and v->u yield ONE (u,v) pair — the
            # edge-driven join paths below would otherwise emit a duplicate
            # binding row while the both-materialized left-semi path emits
            # one (the star path already dedups inside _transitive_pairs)
            e_base = e_base.select("src", "dst").unionByName(
                e_base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).dropDuplicates()

        if scol == tcol:
            # self loop (v)-[:r]->(v): materialize, then plain semi join
            b = self._flush(b)
            e = e_base.select(F.col("src").alias("__esrc"), F.col("dst").alias("__edst"))
            new_df = b.df.join(
                e,
                (F.col(scol) == F.col("__esrc")) & (F.col(tcol) == F.col("__edst")),
                "leftsemi",
            )
            return Binding(new_df, b.env, b._counter, None, b.pending)

        if tcol in b.pending:
            # resolve the target THROUGH the edge table: an inner join on
            # the source column yields the target ids directly — no
            # label-scan cross product.  A left-semi against the target
            # label table keeps only correctly-labelled endpoints (two
            # relation types may share a label with different endpoints).
            b = self._flush(b, only=scol) if scol in b.pending else b
            pending = dict(b.pending)
            pending.pop(tcol)
            e = e_base.select(F.col("src").alias("__esrc"), F.col("dst").alias(tcol))
            df = (
                b.df.join(e, F.col(scol) == F.col("__esrc"), "inner")
                .drop("__esrc")
                .join(
                    st.nodes[tlabel].select(F.col("_id").alias("__tchk")),
                    F.col(tcol) == F.col("__tchk"),
                    "leftsemi",
                )
            )
            return Binding(df, b.env, b._counter, None, pending)

        if scol in b.pending:
            # symmetric: resolve the source through the edge table
            pending = dict(b.pending)
            pending.pop(scol)
            e = e_base.select(F.col("src").alias(scol), F.col("dst").alias("__edst"))
            df = (
                b.df.join(e, F.col(tcol) == F.col("__edst"), "inner")
                .drop("__edst")
                .join(
                    st.nodes[slabel].select(F.col("_id").alias("__schk")),
                    F.col(scol) == F.col("__schk"),
                    "leftsemi",
                )
            )
            return Binding(df, b.env, b._counter, None, pending)

        # both already materialized: edge-existence filter ≡ left-semi join
        e = e_base.select(F.col("src").alias("__esrc"), F.col("dst").alias("__edst"))
        new_df = b.df.join(
            e, (F.col(scol) == F.col("__esrc")) & (F.col(tcol) == F.col("__edst")), "leftsemi"
        )
        return Binding(new_df, b.env, b._counter, None, b.pending)

    # -- optional / not exists (extensions) -----------------------------

    def _opt_rel(self, instr: IOptRel, b: Binding) -> Binding:
        """``optional match``: LEFT OUTER join of the binding table with
        the (label-checked) edge projection — every existing row kept,
        the new column NULL where no edge matches.  Same single-shuffle
        scale shape as the inner edge match."""
        b = self._flush(b)
        st = self.state
        new_col = b.fresh_col()
        lbl_ids = st.nodes[instr.new_label].select(F.col("_id").alias("__lchk"))
        e = st.edges.filter(F.col("rel") == instr.rel)
        if instr.new_var == instr.tgt_var:
            bcol, _ = b.lookup(instr.src_var)
            e = (
                e.select(F.col("src").alias("__eb"), F.col("dst").alias(new_col))
                .join(lbl_ids, F.col(new_col) == F.col("__lchk"), "leftsemi")
            )
        else:
            bcol, _ = b.lookup(instr.tgt_var)
            e = (
                e.select(F.col("dst").alias("__eb"), F.col("src").alias(new_col))
                .join(lbl_ids, F.col(new_col) == F.col("__lchk"), "leftsemi")
            )
        df = b.df.join(e, F.col(bcol) == F.col("__eb"), "left").drop("__eb")
        env = [(instr.new_var, new_col, instr.new_label)] + b.env
        return Binding(df, env, b._counter, None, b.pending)

    def _not_exists_rel(self, instr: INotExistsRel, b: Binding) -> Binding:
        """``where not exists``: LEFT ANTI join against the edge
        projection; anonymous sides are constrained by a label semi-join
        before the anti join."""
        b = self._flush(b)
        st = self.state
        e = st.edges.filter(F.col("rel") == instr.rel).select(
            F.col("src").alias("__nsrc"), F.col("dst").alias("__ndst")
        )
        if instr.src_var is None:
            ids = st.nodes[instr.src_label].select(F.col("_id").alias("__sc"))
            e = e.join(ids, F.col("__nsrc") == F.col("__sc"), "leftsemi")
        if instr.tgt_var is None:
            ids = st.nodes[instr.tgt_label].select(F.col("_id").alias("__tc"))
            e = e.join(ids, F.col("__ndst") == F.col("__tc"), "leftsemi")
        conds = []
        if instr.src_var is not None:
            scol, _ = b.lookup(instr.src_var)
            conds.append(F.col(scol) == F.col("__nsrc"))
        if instr.tgt_var is not None:
            tcol, _ = b.lookup(instr.tgt_var)
            conds.append(F.col(tcol) == F.col("__ndst"))
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        df = b.df.join(e, cond, "left_anti")
        return Binding(df, b.env, b._counter, None, b.pending)

    # -- delete ---------------------------------------------------------

    def _delete_node(self, var: str, b: Binding) -> Binding:
        b = self._flush(b)
        st = self.state
        col, label = b.lookup(var)
        ids = b.df.select(F.col(col).alias("_id")).distinct()
        st.nodes[label] = st.nodes[label].join(ids, "_id", "left_anti")
        # cascade: remove all incident edges (sem.ml:212-215)
        src_ids = ids.withColumnRenamed("_id", "__del")
        st.edges = (
            st.edges.join(src_ids, F.col("src") == F.col("__del"), "left_anti")
            .join(src_ids, F.col("dst") == F.col("__del"), "left_anti")
        )
        # drop the column; unbind every env entry named `var`
        # (header filter semantics of sem.ml:335)
        new_env = [(v, c, lb) for v, c, lb in b.env if v != var]
        self._after_mutation()
        return Binding(b.df.drop(col), new_env, b._counter, b.known_count)

    def _delete_rel(self, sv: str, rel: str, tv: str, b: Binding) -> Binding:
        b = self._flush(b)
        st = self.state
        scol, _ = b.lookup(sv)
        tcol, _ = b.lookup(tv)
        pairs = b.df.select(F.col(scol).alias("__ds"), F.col(tcol).alias("__dt")).distinct()
        st.edges = st.edges.join(
            pairs,
            (F.col("src") == F.col("__ds"))
            & (F.col("dst") == F.col("__dt"))
            & (F.col("rel") == rel),
            "left_anti",
        )
        self._after_mutation()
        return b

    # -- return / where / set -------------------------------------------

    def _return(self, vars: list, b: Binding, distinct: bool = False) -> Binding:
        b = self._flush(b)
        cols, new_env = [], []
        for v in vars:
            c, lb = b.lookup(v)
            cols.append(c)
            new_env.append((v, c, lb))
        df = b.df.select(*cols)
        if distinct:
            # `return distinct` extension: one shuffle on the projection
            df = df.dropDuplicates()
            return Binding(df, new_env, b._counter, None)
        return Binding(df, new_env, b._counter, b.known_count)

    def _order_limit(self, instr: IOrderLimit, b: Binding) -> Binding:
        """``order by ... limit n``: Spark plans orderBy+limit as
        TakeOrderedAndProject — per-partition partial top-n + single
        merge, never a full global sort.  Remaining binding columns
        break ties deterministically."""
        b = self._flush(b)
        extra = []
        if instr.field is None:
            c, _ = b.lookup(instr.var)
            joined, key = b.df, F.col(c)
        else:
            joined, attr_col, extra = self._join_attrs(b, {(instr.var, instr.field)})
            key = F.col(attr_col(instr.var, instr.field))
        order = [key.asc() if instr.ascending else key.desc()]
        order += [F.col(c).asc() for _, c, _ in b.env]
        df = joined.orderBy(*order).limit(instr.n)
        if extra:
            df = df.drop(*extra)
        return Binding(df, b.env, b._counter, None)

    def _return_proj(self, instr: IReturnProj, b: Binding) -> Binding:
        """Projection with attribute items (extension): plain vars keep
        their binding column; ``v.f`` items join the label's attribute
        frame (one broadcast-friendly join per accessed label, shared
        via _join_attrs) and project as ``{v}_{f}``."""
        b = self._flush(b)
        accesses = {(v, f) for v, f in instr.items if f is not None}
        joined, attr_col, _extra = self._join_attrs(b, accesses)
        cols, new_env = [], []
        for v, f in instr.items:
            if f is None:
                c, lb = b.lookup(v)
                cols.append(F.col(c))
                new_env.append((v, c, lb))
            else:
                out = f"{v}_{f}"
                cols.append(F.col(attr_col(v, f)).alias(out))
                new_env.append((out, out, None))
        df = joined.select(*cols)
        if instr.distinct:
            df = df.dropDuplicates()
        return Binding(df, new_env, b._counter, None)

    def _return_agg(self, instr: IReturnAgg, b: Binding) -> Binding:
        """Grouped aggregation over the binding table (extension): ONE
        hash aggregate on the group-key columns (map-side partials);
        attribute aggregates join the accessed label attributes first.
        SQL NULL semantics: count(v) skips NULL ids, so it counts actual
        matches after an optional match."""
        b = self._flush(b)
        accesses = {(it.var, it.field) for it in instr.aggs if it.field}
        joined, attr_col, _extra = self._join_attrs(b, accesses)
        key_cols, new_env = [], []
        for v in instr.keys:
            c, lb = b.lookup(v)
            key_cols.append(c)
            new_env.append((v, c, lb))
        agg_exprs = []
        for it in instr.aggs:
            out = f"{it.fn}_{it.var}" + (f"_{it.field}" if it.field else "")
            if it.fn == "count":
                c, _ = b.lookup(it.var)
                agg_exprs.append(F.count(F.col(c)).alias(out))
            else:
                acol = attr_col(it.var, it.field)
                if it.fn == "avg":
                    agg_exprs.append(F.avg(F.col(acol)).alias(out))
                else:
                    agg_exprs.append(getattr(F, it.fn)(F.col(acol)).alias(out))
            new_env.append((out, out, None))
        gdf = joined.groupBy(*key_cols).agg(*agg_exprs) if key_cols else joined.agg(*agg_exprs)
        return Binding(gdf, new_env, b._counter, None)

    def _where(self, expr: A.Expr, b: Binding) -> Binding:
        b = self._flush(b)
        joined, attr_col, extra = self._join_attrs(b, attrib_accesses(expr))
        cond = to_column(expr, self._expr_resolver(b, attr_col))
        filtered = joined.filter(cond).drop(*extra)
        return Binding(filtered, b.env, b._counter, None)

    def _expr_resolver(self, b: Binding, attr_col):
        """(var, field) -> column name; field None = a bare variable
        (extension): resolves to the binding column itself — a node id,
        or an aggregate output (which makes `where` after a return-
        aggregate a HAVING)."""

        def resolve(v, f):
            if f is None:
                return b.lookup(v)[0]
            return attr_col(v, f)

        return resolve

    def _set(self, var: str, fieldname: str, expr: A.Expr, b: Binding) -> Binding:
        b = self._flush(b)
        st = self.state
        col, label = b.lookup(var)
        decl_tp = spark_type_of(st.types.attrs_of(label)[fieldname])

        cval = const_fold(expr)
        if cval is not None or isinstance(expr, A.Const):
            # constant RHS (every `set` in the reference corpus): no action
            updates = (
                b.df.select(F.col(col).alias("_id"))
                .distinct()
                .withColumn("__newval", F.lit(cval).cast(decl_tp))
            )
        else:
            joined, attr_col, _extra = self._join_attrs(b, attrib_accesses(expr))
            value_col = to_column(expr, self._expr_resolver(b, attr_col)).cast(decl_tp)
            if self.set_eval == "first_row":
                # reference semantics: evaluate once against the first row
                # (sem.ml:371-372); crashes on empty table like List.hd.
                # DataFrame.first() is partition-order dependent, so pick
                # the row deterministically: order by the binding columns.
                order_cols = [F.col(c) for _, c, _ in b.env]
                row = (
                    joined.select(value_col.alias("__v"), F.col(col).alias("_id"), *order_cols)
                    .orderBy(*order_cols)
                    .first()
                )
                if row is None:
                    raise ExecError("set on empty binding table")
                updates = (
                    b.df.select(F.col(col).alias("_id"))
                    .distinct()
                    .withColumn("__newval", F.lit(row["__v"]).cast(decl_tp))
                )
            else:
                # sane generalization: per-row evaluation, one value per node
                updates = (
                    joined.select(F.col(col).alias("_id"), value_col.alias("__newval"))
                    .groupBy("_id")
                    .agg(F.first("__newval").alias("__newval"))
                )
        upd = updates.withColumn("__upd", F.lit(True))
        nodes = st.nodes[label]
        st.nodes[label] = (
            nodes.join(upd, "_id", "left")
            .withColumn(
                fieldname,
                F.when(F.col("__upd"), F.col("__newval")).otherwise(F.col(fieldname)),
            )
            .drop("__upd", "__newval")
        )
        self._after_mutation()
        return b

    # -- helpers ---------------------------------------------------------

    def _join_attrs(self, b: Binding, accesses: set):
        """Left-join each accessed (var, field) attribute onto the binding DF.

        Returns (joined_df, attr_col mapping, list of temp columns to drop).
        NULL (never-set) attributes propagate as NULL — the sane-semantics
        divergence from the reference's runtime error (sem.ml:155-157).
        """
        df = b.df
        mapping = {}
        extra = []
        # one join per accessed *variable* (covering all its fields at once)
        by_var: dict = {}
        for v, f in accesses:
            by_var.setdefault(v, set()).add(f)
        for v, fields in sorted(by_var.items()):
            col, label = b.lookup(v)
            acol = f"__a_{col}"
            sel = [F.col("_id").alias(acol)]
            for f in sorted(fields):
                fcol = f"__a_{col}_{f}"
                sel.append(F.col(f).alias(fcol))
                mapping[(v, f)] = fcol
                extra.append(fcol)
            attrs = self.state.nodes[label].select(*sel)
            df = df.join(attrs, F.col(col) == F.col(acol), "left").drop(acol)
        return df, (lambda v, f: mapping[(v, f)]), extra

    def _after_mutation(self):
        self._mutations += 1
        if self.checkpoint_every and self._mutations % self.checkpoint_every == 0:
            st = self.state
            st.edges = st.edges.localCheckpoint(eager=False)
            for lb in st.nodes:
                st.nodes[lb] = st.nodes[lb].localCheckpoint(eager=False)


# ---------------------------------------------------------------------------
# High-level entry point
# ---------------------------------------------------------------------------


def materialize_fold(spark: SparkSession, types: A.TypeGraph, fold) -> tuple:
    """Folded driver-side graph → (GraphState, Binding): one createDataFrame
    per label + one for edges + a single-row binding table."""
    from pyspark.sql import types as T

    from .localrel import local_df
    from .state import EDGE_SCHEMA

    nodes = {}
    for decl in types.nodes:
        schema = node_schema(decl)
        rows = [
            tuple([nid] + [attrs.get(f) for f, _ in decl.attrs])
            for nid, attrs in fold.nodes.get(decl.label, {}).items()
        ]
        nodes[decl.label] = local_df(spark, rows, schema)
    edges = local_df(spark, fold.edges, EDGE_SCHEMA)
    state = GraphState(spark, types, nodes, edges, fold.next_id)

    cols = [f"_v{i+1}" for i in range(len(fold.env))]
    env = [(v, c, lb) for (v, _nid, lb), c in zip(fold.env, cols)]
    if fold.env:
        schema = T.StructType([T.StructField(c, T.LongType(), False) for c in cols])
        bdf = local_df(spark, [tuple(nid for _, nid, _ in fold.env)], schema)
    else:
        bdf = spark.range(1).select()
    binding = Binding(bdf, env, len(fold.env), 1)
    return state, binding


def _merge_program_schema(state, extra: A.TypeGraph) -> None:
    """Merge a program's type declarations into a preloaded state.

    Re-declarations must match the loaded schema exactly; NEW node
    labels get an empty typed frame, new relation decls extend the
    schema graph.  The merge replaces ``state.types`` with a copy so a
    shared/module-level TypeGraph is never mutated.
    """
    from ..frontend.typecheck import TypeCheckError
    from .localrel import local_df
    from .state import node_schema

    have = {n.label: dict(n.attrs) for n in state.types.nodes}
    new_nodes = [n for n in extra.nodes if n.label not in have]
    for nd in extra.nodes:
        if nd.label in have and dict(nd.attrs) != have[nd.label]:
            raise TypeCheckError(
                f"node type {nd.label!r} re-declared with different attributes"
            )
    have_r = {(r.src, r.rel, r.tgt) for r in state.types.rels}
    new_rels = [r for r in extra.rels if (r.src, r.rel, r.tgt) not in have_r]
    if not new_nodes and not new_rels:
        return
    state.types = A.TypeGraph(
        list(state.types.nodes) + new_nodes, list(state.types.rels) + new_rels
    )
    for nd in new_nodes:
        state.nodes[nd.label] = local_df(state.spark, [], node_schema(nd))


def bind_params(src: str, params: dict) -> str:
    """Typed bind parameters for miniGQL programs: ``$name`` placeholders
    substitute as PROPER literals — strings are validated against the
    lexer's charset and quoted, ints/bools render as their literal forms
    — so user values can never splice program text (the prepared-
    statement contract; naive f-string templating is the injection
    vector this removes)."""
    import re as _re

    used = set()

    def repl(m):
        k = m.group(1)
        if k not in params:
            raise KeyError(f"program references undefined parameter ${k}")
        used.add(k)
        v = params[k]
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, str):
            if not _re.fullmatch(r"[A-Za-z0-9 ]*", v):
                raise ValueError(
                    f"string parameter ${k} contains characters outside the "
                    "miniGQL string charset [A-Za-z0-9 ]"
                )
            return f'"{v}"'
        raise TypeError(f"parameter ${k} has unsupported type {type(v).__name__}")

    out = _re.sub(r"\$([A-Za-z_][A-Za-z0-9_]*)", repl, src)
    unused = set(params) - used
    if unused:
        raise KeyError(f"unused parameters: {sorted(unused)}")
    return out


def run_program(
    spark: SparkSession,
    src: str,
    initial_state: GraphState | None = None,
    set_eval: str = "first_row",
    fold_prefix: bool = True,
    params: dict | None = None,
):
    """Compile and execute a miniGQL program; returns (state, binding).

    ``initial_state`` lets callers run match-only programs against a
    bulk-loaded graph (e.g. the parquet star-schema projection); the
    program's type declarations are validated against that state's types.

    With ``fold_prefix`` (default), the literal create/set prefix is
    constant-folded on the driver (see ``plans.prefix_fold``) so script
    programs materialize the graph in one job per label instead of one
    per instruction.
    """
    from ..plans import fold_literal_prefix

    if params is not None:
        src = bind_params(src, params)
    parsed = normalize(parse(src))
    if initial_state is not None:
        # programs against a preloaded graph: typecheck against the
        # loaded state's schema.  The program may omit or repeat the
        # decls — and may EXTEND the schema with new labels/relations
        # (merged copy-on-write: the loaded state's TypeGraph may be a
        # shared module-level object and is never mutated in place)
        state = initial_state
        _merge_program_schema(state, parsed.types)
        prog = typecheck(NormProg(state.types, parsed.instructions))
        ex = Executor(state, set_eval=set_eval)
        return state, ex.run(prog)
    prog = typecheck(parsed)
    if fold_prefix:
        fold = fold_literal_prefix(prog.types, prog.instructions)
        state, binding = materialize_fold(spark, prog.types, fold)
        ex = Executor(state, set_eval=set_eval)
        rest = NormProg(prog.types, prog.instructions[fold.consumed :])
        return state, ex.run(rest, binding)
    state = GraphState.empty(spark, prog.types)
    ex = Executor(state, set_eval=set_eval)
    return state, ex.run(prog)


def binding_table(b: Binding) -> DataFrame:
    """The binding table with user-facing variable names as columns.

    Column order = the reference's header order (most-recent-first after
    binds; the requested order after a `return`, sem.ml:348-356).
    """
    return b.df.select(*[F.col(c).alias(v) for v, c, _ in b.env])
