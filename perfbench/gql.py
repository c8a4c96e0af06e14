"""miniGQL program generators with their expected answers.

Bulk programs run against the bulk-loaded TPC-H graph
(``sources.load_tpch_graph``).  Read templates follow the shapes of the
registry's g4, g10, g12, g15, g17, g19, g20 and g28 (which subsume g1-g3,
g14, g16, g18 and g22); write templates follow the reference's core
mutations g5-g9 plus g13's delete-then-anti-join.  Each template carries
a DuckDB oracle over the same parquet files, parameterized the way the
registry's g-oracles are.

Scripts are reference-style ``.q`` programs: type declarations, N literal
``create``/``set`` clauses (N from 10 to 500), then one data-dependent
suffix.  The generator simulates the script in Python and derives the
answer itself.

Every generator is a pure function of a ``random.Random``; the engine
only ever receives the generated program text.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import pandas as pd

# node-id offsets of the bulk loader (sources/parquet_graph.py::OFFSETS)
_CUST = "CAST(c_custkey + 1000000 AS BIGINT)"
_NAT = "CAST(n_nationkey + 100 AS BIGINT)"
_NAT_C = "CAST(c_nationkey + 100 AS BIGINT)"
_REG = "CAST(r_regionkey AS BIGINT)"
_SUPP = "CAST(s_suppkey + 10000 AS BIGINT)"
_ORD = "CAST(o_orderkey + 10000000 AS BIGINT)"
_NEXT_ID = 1_000_000_000  # first fresh id above the loaded ranges

NATIONS = [f"NATION_{i}" for i in range(25)]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
MODULI = [2, 3, 5, 7, 10]


class Skewed:
    """Zipf-like draws (weight 1/rank) over a seeded permutation of the
    candidates, so a few values are hot and inputs repeat."""

    def __init__(self, rng: random.Random, values: list):
        self.values = list(values)
        rng.shuffle(self.values)
        self.weights = [1.0 / (i + 1) for i in range(len(self.values))]

    def __call__(self, rng: random.Random):
        return rng.choices(self.values, self.weights)[0]


@dataclass
class Op:
    """One generated operation: the program text plus what to consume
    and the expected answer."""

    template: str
    kind: str  # "read" | "write"
    program: str
    params: dict | None = None  # bind parameters (g28 shape)
    # which frames the timed action collects: "binding" and/or a
    # ("nodes", label, cols) / ("edges", rel, cols) selector
    consume: list = field(default_factory=list)
    on_graph: bool = False  # runs against the bulk-loaded TPC-H graph
    oracle_sql: str | None = None  # bulk programs
    expected: pd.DataFrame | None = None  # scripts
    expected_edges: set | None = None  # script delete: surviving (src, dst)
    # the pass slot the op fills (template, plus the size band for
    # scripts): latencies are aggregated per slot
    slot: str = ""


# ---------------------------------------------------------------------------
# bulk programs
# ---------------------------------------------------------------------------


def _mod(rng):
    m = rng.choice(MODULI)
    return m, rng.randrange(m)


def _bulk_templates():
    """name -> (kind, build(rng, draw) -> (program, oracle, consume, extra))."""
    T = {}

    def reg(name, kind):
        def deco(fn):
            T[name] = (kind, fn)
            return fn

        return deco

    @reg("g4_where_expr", "read")
    def _(rng, d):
        m, r = _mod(rng)
        lim = rng.choice([100, 300, 1000])
        return (
            "match (c: Customer)\n"
            f"where c.custkey mod {m} = {r} and c.custkey / 7 < {lim} or c.custkey * 2 = 4\n"
            "return c",
            f"SELECT {_CUST} AS c FROM customer WHERE (c_custkey % {m} = {r} "
            f"AND c_custkey // 7 < {lim}) OR c_custkey * 2 = 4",
        )

    @reg("g10_agg_over_match", "read")
    def _(rng, d):
        seg = d["segment"](rng)
        return (
            "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
            f'where c.mktsegment = "{seg}"\nreturn n, count(c)',
            f"SELECT {_NAT_C} AS n, COUNT(*) AS count_c FROM customer "
            f"WHERE c_mktsegment = '{seg}' GROUP BY 1",
        )

    @reg("g12_optional_match", "read")
    def _(rng, d):
        m, r = _mod(rng)
        return (
            f"match (c: Customer) where c.custkey mod {m} = {r}\n"
            "optional match (o: Order) -[:placed_by]-> (c)\nreturn c, o",
            f"SELECT {_CUST} AS c, {_ORD} AS o FROM customer LEFT JOIN orders "
            f"ON o_custkey = c_custkey WHERE c_custkey % {m} = {r}",
        )

    @reg("g15_attr_aggregates", "read")
    def _(rng, d):
        seg = d["segment"](rng)
        return (
            "match (o: Order) -[:placed_by]-> (c: Customer)\n"
            f'where c.mktsegment = "{seg}"\n'
            "return c, count(o), min(o.orderkey), max(o.orderkey)",
            f"SELECT {_CUST} AS c, COUNT(*) AS count_o, "
            "CAST(MIN(o_orderkey) AS BIGINT) AS min_o_orderkey, "
            "CAST(MAX(o_orderkey) AS BIGINT) AS max_o_orderkey "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            f"WHERE c_mktsegment = '{seg}' GROUP BY 1",
        )

    @reg("g17_order_limit", "read")
    def _(rng, d):
        m, r = _mod(rng)
        k = rng.choice([5, 10, 50])
        return (
            f"match (c: Customer) where c.custkey mod {m} = {r}\n"
            f"order by c.custkey desc limit {k}\nreturn c",
            f"SELECT {_CUST} AS c FROM customer WHERE c_custkey % {m} = {r} "
            f"ORDER BY c_custkey DESC LIMIT {k}",
        )

    @reg("g19_union", "read")
    def _(rng, d):
        nat = d["nation"](rng)
        return (
            "match (s: Supplier) -[:in_nation]-> (n: Nation) "
            f'where n.name = "{nat}" return s\nunion\n'
            "match (s: Customer) -[:in_nation]-> (n: Nation) "
            f'where n.name = "{nat}" return s',
            f"SELECT {_SUPP} AS s FROM supplier JOIN nation ON s_nationkey = n_nationkey "
            f"WHERE n_name = '{nat}' UNION "
            f"SELECT {_CUST} AS s FROM customer JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE n_name = '{nat}'",
        )

    @reg("g20_except", "read")
    def _(rng, d):
        nat = d["nation"](rng)
        return (
            "match (c: Customer) return c\nexcept\n"
            "match (c: Customer) -[:in_nation]-> (n: Nation) "
            f'where n.name = "{nat}" return c',
            f"SELECT {_CUST} AS c FROM customer EXCEPT "
            f"SELECT {_CUST} AS c FROM customer JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE n_name = '{nat}'",
        )

    @reg("g28_bind_params", "read")
    def _(rng, d):
        reg_ = d["region"](rng)
        return (
            "match (c: Customer) -[:in_nation]-> (n: Nation) -[:in_region]-> (r: Region)\n"
            "where r.name = $region\nreturn c, n, r",
            f"SELECT {_CUST} AS c, {_NAT} AS n, {_REG} AS r FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey "
            f"JOIN region ON n_regionkey = r_regionkey WHERE r_name = '{reg_}'",
            {"params": {"region": reg_}},
        )

    @reg("g5_create_rel", "write")
    def _(rng, d):
        nat = d["nation"](rng)
        return (
            "match (s: Supplier) -[:in_nation]-> (n: Nation), "
            "(c: Customer) -[:in_nation]-> (n)\n"
            f'where n.name = "{nat}"\ncreate (s) -[:serves]-> (c)',
            f"SELECT DISTINCT {_SUPP} AS src, {_CUST} AS dst FROM supplier "
            "JOIN customer ON s_nationkey = c_nationkey "
            f"JOIN nation ON n_nationkey = s_nationkey WHERE n_name = '{nat}'",
            {"consume": [("edges", "serves")]},
        )

    @reg("g6_delete_node", "write")
    def _(rng, d):
        m, r = _mod(rng)
        return (
            "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
            f"where n.nationkey mod {m} = {r}\ndelete c",
            f"SELECT {_CUST} AS _id FROM customer WHERE c_nationkey % {m} <> {r}",
            {"consume": [("nodes", "Customer", ["_id"])]},
        )

    @reg("g7_delete_rel", "write")
    def _(rng, d):
        m, r = _mod(rng)
        return (
            "match (o: Order) -[:placed_by]-> (c: Customer)\n"
            f"where c.custkey mod {m} = {r}\ndelete o -[:placed_by]-> c",
            f"SELECT {_ORD} AS src, CAST(o_custkey + 1000000 AS BIGINT) AS dst "
            f"FROM orders WHERE o_custkey % {m} <> {r}",
            {"consume": [("edges", "placed_by")]},
        )

    @reg("g8_set_attr", "write")
    def _(rng, d):
        nat = d["nation"](rng)
        seg = rng.choice(["PROMO", "RETAIL", "WHOLESALE"])
        return (
            "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
            f'where n.name = "{nat}"\nset c.mktsegment = "{seg}"',
            f"SELECT {_CUST} AS _id, CASE WHEN n_name = '{nat}' THEN '{seg}' "
            "ELSE c_mktsegment END AS mktsegment "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey",
            {"consume": [("nodes", "Customer", ["_id", "mktsegment"])]},
        )

    @reg("g9_create_node", "write")
    def _(rng, d):
        reg_ = d["region"](rng)
        return (
            f'match (r: Region) where r.name <> "{reg_}"\n'
            "create (h: Hub) create (h) -[:routes]-> (r)",
            f"SELECT CAST({_NEXT_ID} + ROW_NUMBER() OVER () - 1 AS BIGINT) AS _id "
            f"FROM region WHERE r_name <> '{reg_}'",
            {"consume": [("nodes", "Hub", ["_id"]), ("edges", "routes")]},
        )

    @reg("g13_not_exists", "write")
    def _(rng, d):
        nat = d["nation"](rng)
        return (
            "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
            f'where n.name = "{nat}"\ndelete c -[:in_nation]-> n\n'
            "where not exists (c) -[:in_nation]-> (:Nation)\nreturn c",
            f"SELECT {_CUST} AS c FROM customer JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE n_name = '{nat}'",
            {"consume": ["binding", ("edges", "in_nation")]},
        )

    return T


BULK_TEMPLATES = _bulk_templates()


class BulkGen:
    """Seeded stream of bulk-graph programs.  ``pass_ops`` yields one op
    per template in a seeded order — the warm-up pass and the unit the
    pass wall is measured over."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.draw = {
            "nation": Skewed(self.rng, NATIONS),
            "region": Skewed(self.rng, REGIONS),
            "segment": Skewed(self.rng, SEGMENTS),
        }

    def make(self, name: str) -> Op:
        kind, build = BULK_TEMPLATES[name]
        program, oracle, *extra = build(self.rng, self.draw)
        extra = extra[0] if extra else {}
        return Op(
            template=name,
            slot=name,
            kind=kind,
            program=program,
            params=extra.get("params"),
            on_graph=True,
            consume=extra.get("consume", ["binding"]),
            oracle_sql=oracle,
        )

    def pass_ops(self) -> list:
        names = sorted(BULK_TEMPLATES)
        self.rng.shuffle(names)
        return [self.make(n) for n in names]


# ---------------------------------------------------------------------------
# scripts
# ---------------------------------------------------------------------------

SCRIPT_SUFFIXES = ["match", "closure", "set", "delete"]
# literal-clause counts per pass slot: every pass holds each suffix once
# per size band, so the size mix is the same in every pass and only the
# content is drawn
SCRIPT_SIZES = [(10, 30), (30, 100), (100, 500)]
# edges stay inside blocks of nodes, which bounds path length and so the
# number of doubling rounds a closure needs
_BLOCK = 8
_SCRIPT_DECLS = "(:P {nom string, age int})\n(:P) -[:r]-> (:P)\n"


class ScriptGen:
    """Seeded reference-style scripts.  Node ``a{i}`` is the i-th node
    created, so the prefix fold allocates it id ``i``."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def make(self, suffix: str, size: tuple) -> Op:
        rng = self.rng
        lo, hi = size  # skewed towards the short end of the band
        n_clauses = int(round(lo * (hi / lo) ** (rng.random() ** 2)))
        nodes: list = []  # i -> {"nom", "age"}
        edges: set = set()
        lines = [_SCRIPT_DECLS]
        for _ in range(n_clauses):
            roll = rng.random()
            if roll < 0.4 or len(nodes) < 2:
                k = rng.randint(1, 3)
                ids = range(len(nodes), len(nodes) + k)
                lines.append("create " + ", ".join(f"(a{i}: P)" for i in ids))
                nodes.extend({"nom": None, "age": None} for _ in ids)
            elif roll < 0.75:
                i = rng.randrange(len(nodes))
                age = rng.randrange(100)
                lines.append(f'set a{i}.nom = "n{i}", a{i}.age = {age}')
                nodes[i].update(nom=f"n{i}", age=age)
            else:
                i = rng.randrange(len(nodes) - 1)
                i -= i % _BLOCK == _BLOCK - 1  # a block's last node has no successor
                j = min(len(nodes) - 1, i + rng.randint(1, 4), i - i % _BLOCK + _BLOCK - 1)
                lines.append(f"create (a{i}) -[:r]-> (a{j})")
                edges.add((i, j))
        t = rng.randrange(20, 80)
        if suffix == "match":
            lines.append("match (x: P) -[:r]-> (y: P)\nwhere x.age > y.age\nreturn x.nom, y.nom")
            rows = [
                (nodes[i]["nom"], nodes[j]["nom"])
                for i, j in sorted(edges)
                if nodes[i]["age"] is not None
                and nodes[j]["age"] is not None
                and nodes[i]["age"] > nodes[j]["age"]
            ]
            expected = pd.DataFrame(rows, columns=["x_nom", "y_nom"], dtype=object)
            return Op("script_match", "read", "\n".join(lines), expected=expected,
                      consume=["binding"])
        if suffix == "closure":
            lines.append(f"match (x: P) -[:r*]-> (y: P)\nwhere x.age < {t}\nreturn x, y")
            reach = _closure(edges)
            rows = [
                (i, j) for i, j in sorted(reach)
                if nodes[i]["age"] is not None and nodes[i]["age"] < t
            ]
            expected = pd.DataFrame(rows, columns=["x", "y"], dtype="int64")
            return Op("script_closure", "read", "\n".join(lines), expected=expected,
                      consume=["binding"])
        if suffix == "set":
            v = rng.randrange(100, 200)
            lines.append(f"match (x: P)\nwhere x.age < {t}\nset x.age = {v}")
            for nd in nodes:
                if nd["age"] is not None and nd["age"] < t:
                    nd["age"] = v
            return Op("script_set", "write", "\n".join(lines), expected=_node_frame(nodes),
                      consume=[("nodes", "P", ["_id", "nom", "age"])])
        # delete: cascades to the incident edges
        lines.append(f"match (x: P)\nwhere x.age > {t}\ndelete x")
        gone = {i for i, nd in enumerate(nodes) if nd["age"] is not None and nd["age"] > t}
        kept = {i: nd for i, nd in enumerate(nodes) if i not in gone}
        return Op("script_delete", "write", "\n".join(lines),
                  expected=_node_frame(kept),
                  consume=[("nodes", "P", ["_id", "nom", "age"]), ("edges", "r")],
                  expected_edges={e for e in edges if not (set(e) & gone)})

    def pass_ops(self) -> list:
        slots = [(k, size) for k in SCRIPT_SUFFIXES for size in SCRIPT_SIZES]
        self.rng.shuffle(slots)
        ops = []
        for k, size in slots:
            op = self.make(k, size)
            op.slot = f"{op.template}_{size[0]}-{size[1]}"
            ops.append(op)
        return ops


def _node_frame(nodes) -> pd.DataFrame:
    items = nodes.items() if isinstance(nodes, dict) else enumerate(nodes)
    rows = [(i, nd["nom"], nd["age"]) for i, nd in items]
    df = pd.DataFrame(rows, columns=["_id", "nom", "age"])
    df["_id"] = df["_id"].astype("int64")
    df["nom"] = df["nom"].astype(object)
    df["age"] = df["age"].astype("float64") if df["age"].isna().any() else df["age"].astype("int64")
    return df


def _closure(edges: set) -> set:
    succ: dict = {}
    for i, j in edges:
        succ.setdefault(i, set()).add(j)
    out = set()
    for s in succ:
        stack, seen = list(succ[s]), set()
        while stack:
            v = stack.pop()
            if v in seen:
                continue
            seen.add(v)
            stack.extend(succ.get(v, ()))
        out.update((s, v) for v in seen)
    return out
