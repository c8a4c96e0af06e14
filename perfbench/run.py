"""Benchmark: full-result latency of miniGQL programs and operator passes.

Usage (from the repository root):

    python3 perfbench/run.py --workload gql --seed 1 --seconds 15 --trace 0

Workloads (``BENCHMARK.json`` records why each exists):

* ``gql``        miniGQL programs: parameterized programs against the
                 bulk-loaded graph beside reference-style literal scripts;
* ``operators``  registry queries, one per operator module (graph_algos,
                 similarity, dedup, multimodal, text, streaming).

Every workload is a closed loop with one client.  Every timed operation
ends with a full-result action: programs collect each consumed frame
through Arrow, registry queries write to the ``noop`` sink.  Nothing is
timed with ``count()``.  The data set is generated once per checkout
(``perfbench/datagen.py``) under ``.perfbench/``; the seed drives the
programs and the order within each pass.

A run times whole passes, at least two, until ``--seconds`` have been
timed.  ``op_geomean_s`` is the geometric mean over the pass slots of
each slot's median latency, and ``ops_per_s`` the rate of one pass in
which every slot takes its median latency; a slot is a template (for
scripts, a suffix and size band) or a registry query, and every seed
fills the same slots.

The last stdout line is the result object (``correct``, ``attempted``,
``failed``, ``metrics``): end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``.  The line before it carries the
details: environment, data sizes, read/write latency split, error
list, host probes and cache records.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

OPERATORS = [
    "a2_connected_components", "s9_lsh_cosine_dups", "d6_passage_dups",
    "m1_media_features", "t1_text_stats", "e19_daily_topk_stream",
]
# registry family letter -> package module the query exercises
MODULE_OF_FAMILY = {
    "a": "graph_algos", "s": "similarity", "d": "dedup",
    "m": "multimodal", "t": "text", "e": "streaming",
}
MODULES = ["graph_algos", "similarity", "dedup", "multimodal", "text", "streaming"]
WORKLOADS = ["gql", "operators"]
SETUP_STARTS = 3  # session starts per run; setup_s takes their median
# timed passes per run, at least: every slot is timed twice (a traced run
# times one traced and one untraced pass), and a run on a slow host does
# not measure fewer passes than one on a fast host
MIN_PASSES = 2
FIRST_SCAN = "match (r: Region) return r"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def configure_env() -> dict:
    """Spark/Python environment, set before anything starts a JVM:
    workers import the package from this checkout, Spark uses every
    core, the JVM heap stays below host RAM, and scratch files land
    under ``.perfbench/``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):  # scratch of the previous run is dead
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    heap = f"{max(1, min(4, mem_gb // 3))}g"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # the driver heap starts at its full size: a heap that grows under
    # load makes the first minute of every run slower than the rest
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{heap} pyspark-shell"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata file: the JVM would write it to the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {k: os.environ[k] for k in
            ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
             "PYSPARK_SUBMIT_ARGS")}


def pct(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))]


def med(values, default=0.0):
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    return statistics.fmean(values) if values else default


def geomean(values, default=0.0):
    """Geometric mean: every operation weighs the same whatever its
    size, and multiplicative run-to-run noise averages out."""
    return statistics.geometric_mean(values) if values else default


def slot_medians(lat) -> dict:
    """Median latency of each pass slot over the run's timed passes.
    Every pass fills every slot once, so the set of slots is the same
    for every seed; a slot's median shrugs off a single slow call."""
    by_slot: dict = {}
    for slot, _, d in lat:
        by_slot.setdefault(slot, []).append(d)
    return {k: med(v) for k, v in by_slot.items()}


class Bench:
    def __init__(self, workload, seed, seconds, trace, data_dir, env):
        import __spark_entry__ as E
        import gql
        import tracing
        from projet_graphdb_spark.engine import binding_table, get_spark, run_program
        from projet_graphdb_spark.sources import load_tpch_graph

        self.E, self.tracing = E, tracing
        self.get_spark, self.run_program = get_spark, run_program
        self.binding_table, self.load_tpch_graph = binding_table, load_tpch_graph
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, trace
        self.data, self.env = data_dir, env
        self.spark = None
        self.tracer = None
        self.errors: list = []  # (op, message)
        self.attempted = 0
        self.lat: list = []  # (name, kind, seconds) of completed timed ops
        self.passes: list = []  # (traced, wall seconds)
        self.cache_records: list = []
        self.gc_pause_s = 0.0
        self.oracle_cache: dict = {}
        self.duck = None
        self.queries = E.queries()
        self.oracles = E.oracle_sql()
        self.order_rng = random.Random(seed)
        if workload == "gql":
            self.bulk = gql.BulkGen(2 * seed)
            self.scripts = gql.ScriptGen(2 * seed + 1)

    # -- session ---------------------------------------------------------

    def start_session(self):
        self.spark = self.get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")

    def shutdown(self):
        """Stop Spark, then the JVM (and with it the Python workers), and
        wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def jvm_rss_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except (AttributeError, OSError):
            pass
        return 0.0

    def probe_jvm_epoch(self, reps=3) -> float:
        """Min-of-reps wall of a fixed tiny JVM job (bench.py's probe):
        ~0.1 s on a healthy host, 0.5 s+ in a degraded host window."""
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            self.spark.range(1_000_000).selectExpr("count(*) AS c", "sum(id) AS s").collect()
            best = min(best, time.perf_counter() - t0)
        return best

    def collect_garbage(self, jvm: bool):
        """Python (and optionally full JVM) collection, off the clock:
        py4j references die, the context cleaner can drop dead
        checkpoint blocks, and the next operation starts from the same
        heap state."""
        t0 = time.perf_counter()
        gc.collect()
        if jvm:
            self.spark._jvm.System.gc()
        self.gc_pause_s += time.perf_counter() - t0

    # -- operations ----------------------------------------------------------

    def pass_ops(self) -> list:
        if self.workload == "gql":
            ops = self.bulk.pass_ops() + self.scripts.pass_ops()
        else:
            ops = list(OPERATORS)
        self.order_rng.shuffle(ops)
        return ops

    def cache_state(self, op=None) -> dict:
        """Which of the package's module-level caches already hold the key
        of the next call (checked before the call, off the clock).  Script
        programs touch none of them; bulk programs only the graph-load
        cache; registry queries may touch all four.  The pair and feed
        caches' keys depend on call arguments, so for them any entry of
        this session counts."""
        from projet_graphdb_spark.sources import bucketed, parquet_graph
        from projet_graphdb_spark.streaming import late_drop

        if op is not None and not op.on_graph:
            return {}
        app = self.spark.sparkContext.applicationId
        held = {"load": (app, self.data, "parquet") in parquet_graph._LOAD_CACHE}
        if self.workload == "operators":
            held["dup_clusters"] = (app, self.data) in self.E._DUP_CLUSTERS_CACHE
            held["pair"] = bool(bucketed._PAIR_CACHE)
            held["feed"] = any(k and k[0] == app for k in late_drop._FEED_CACHE)
        return held

    def cache_entries(self) -> int:
        from projet_graphdb_spark.sources import bucketed, parquet_graph
        from projet_graphdb_spark.streaming import late_drop

        return (len(parquet_graph._LOAD_CACHE) + len(self.E._DUP_CLUSTERS_CACHE)
                + len(bucketed._PAIR_CACHE) + len(late_drop._FEED_CACHE))

    def _collect(self, sel, state, b):
        """Full-result action for one consumed frame, through Arrow."""
        from pyspark.sql import functions as F

        if sel == "binding":
            df = self.binding_table(b)
        elif sel[0] == "nodes":
            df = state.nodes[sel[1]].select(*sel[2])
        else:
            df = state.edges.filter(F.col("rel") == sel[1]).select("src", "dst")
        return df, df.toArrow()

    def run_gql(self, op, tr=None):
        """Time one program: (graph load +) run_program, then collect every
        consumed frame.  Returns (seconds, [(df, arrow table)])."""
        phase = tr.phase if tr else (lambda _n: contextlib.nullcontext())
        t0 = time.perf_counter()
        with phase("build"):
            state = None
            if op.on_graph:
                if tr:
                    key = (self.spark.sparkContext.applicationId, self.data, "parquet")
                    from projet_graphdb_spark.sources import parquet_graph

                    tr._op["load_hit"] = key in parquet_graph._LOAD_CACHE
                    with tr.span("sources", "load"):
                        state = self.load_tpch_graph(self.spark, self.data)
                else:
                    state = self.load_tpch_graph(self.spark, self.data)
            st, b = self.run_program(self.spark, op.program, initial_state=state,
                                     params=op.params)
        with phase("action"):
            out = [self._collect(sel, st, b) for sel in op.consume]
        return time.perf_counter() - t0, out

    def run_query(self, name, full=False, tr=None):
        """Time one registry query: build, then the full-result action
        (``noop`` sink, or an Arrow collect for the checked warm-up).
        Returns (build s, action s, result)."""
        phase = tr.phase if tr else (lambda _n: contextlib.nullcontext())
        t0 = time.perf_counter()
        with phase("build"):
            df = self.queries[name](self.spark, self.data)
        t1 = time.perf_counter()
        with phase("action"):
            if full:
                res = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                res = None
        return t1 - t0, time.perf_counter() - t1, res

    # -- correctness -----------------------------------------------------------

    def oracle(self, sql):
        if sql not in self.oracle_cache:
            if self.duck is None:
                import duckdb

                self.duck = duckdb.connect()
                for t in TABLES:
                    self.duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            self.oracle_cache[sql] = self.duck.sql(sql).df()
        return self.oracle_cache[sql]

    def check_gql(self, op, outputs) -> str:
        from check_oracle import compare

        got = outputs[0][1].to_pandas()
        if op.oracle_sql is not None:
            return compare(op.template, got, self.oracle(op.oracle_sql))
        verdict = compare(op.template, got, op.expected)
        if verdict == "OK" and op.expected_edges is not None:
            e = outputs[1][1]
            pairs = set(zip(e.column("src").to_pylist(), e.column("dst").to_pylist()))
            if pairs != op.expected_edges:
                return f"EDGES {len(pairs)} vs {len(op.expected_edges)}"
        return verdict

    def check_query(self, name, got) -> str:
        from check_oracle import compare

        if name not in self.oracles:
            return "OK"
        return compare(name, got, self.oracle(self.oracles[name]))

    def fail(self, op, msg):
        self.errors.append((op, msg[:300]))

    # -- passes ------------------------------------------------------------

    def one_op(self, op, traced, pass_no, i):
        """Run one timed operation; returns its wall (also on failure)."""
        is_gql = self.workload == "gql"
        name = op.template if is_gql else op
        slot = op.slot if is_gql else op
        kind = op.kind if is_gql else "read"
        self.cache_records.append(self.cache_state(op if is_gql else None))
        self.attempted += 1
        op_id = f"p{pass_no}o{i}"
        tr = self.tracer if traced else None
        t0 = time.perf_counter()
        try:
            if tr:
                gc0 = tr.gc_ms()
                with tr.op(op_id, name=name, kind=kind) as facts:
                    if is_gql:
                        dt, outputs = self.run_gql(op, tr)
                        facts["result_rows"] = sum(t.num_rows for _, t in outputs)
                        if op.kind == "read":
                            # a write may legitimately lose a join at run
                            # time (AQE drops joins against emptied sides)
                            facts["joins"] = [self.tracing.join_guard(df) for df, _ in outputs]
                    else:
                        b_s, a_s, _ = self.run_query(name, tr=tr)
                        dt = b_s + a_s
                        facts.update(build_s=b_s, action_s=a_s,
                                     result_rows=self.warm_rows.get(name, 0))
                    facts["wall_s"] = dt
                    facts["gc_ms"] = tr.gc_ms() - gc0
                self.attribute(facts)
            elif is_gql:
                dt, outputs = self.run_gql(op)
            else:
                b_s, a_s, _ = self.run_query(name)
                dt = b_s + a_s
            if not traced:
                self.lat.append((slot, kind, dt))
            if is_gql:
                verdict = self.check_gql(op, outputs)
                if verdict != "OK":
                    self.fail(op_id + ":" + name, verdict)
        except Exception as ex:  # a failed op counts, the run goes on
            self.fail(op_id + ":" + name, f"{type(ex).__name__}: {ex}")
            return time.perf_counter() - t0
        finally:
            # registry queries leave checkpoint blocks behind them; a full
            # JVM collection per program (~0.2 s) would outweigh the
            # program itself, so programs get one per pass
            self.collect_garbage(jvm=self.workload == "operators")
        return dt

    def attribute(self, facts):
        """Spark jobs/stages/tasks/bytes of the op's build and action
        phases, plus executed-plan SQL metrics of the action."""
        tr = self.tracer
        b = tr.jobs_of(facts["id"], "build")
        a = tr.jobs_of(facts["id"], "action")
        facts["build_jobs"], facts["build_tasks"] = b["jobs"], b["tasks"]
        facts["action"] = {k: a[k] for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes")}
        nodes = tr.plan_nodes(a["job_ids"])
        facts["scan_rows"] = sum(r or 0 for n, r in nodes if n.startswith("Scan"))
        if self.workload == "operators" and MODULE_OF_FAMILY[facts["name"][0]] == "similarity":
            # the exact-verify tail is an Arrow UDF: it must run in the
            # timed action, or the action was pruned to a count-style plan
            rows = self.tracing.python_udf_rows(nodes)
            facts["udf_rows"] = rows
            if not rows or min(rows) <= 0:
                self.fail(facts["id"] + ":" + facts["name"], f"Arrow UDF node did not run: {rows}")
        for lg, ph in facts.get("joins", []):
            if ph < lg:
                self.fail(facts["id"] + ":" + facts["name"], f"joins pruned {lg} -> {ph}")

    def run_pass(self, traced, pass_no) -> float:
        self.collect_garbage(jvm=True)
        wall = 0.0
        for i, op in enumerate(self.pass_ops()):
            wall += self.one_op(op, traced, pass_no, i)
        self.passes.append((traced, wall))
        return wall

    def warmup(self):
        """One pass with a full-result Arrow action per operation; the
        outputs are kept for the off-clock checks."""
        self.warm_rows = {}
        kept = []
        for op in self.pass_ops():
            if self.workload == "gql":
                try:
                    _, outputs = self.run_gql(op)
                    kept.append((op, outputs))
                except Exception as ex:
                    kept.append((op, ex))
            else:
                try:
                    _, _, got = self.run_query(op, full=True)
                    self.warm_rows[op] = len(got)
                    kept.append((op, got))
                except Exception as ex:
                    kept.append((op, ex))
        return kept

    def check_warmup(self, kept):
        for op, got in kept:
            self.attempted += 1
            name = getattr(op, "template", op)
            if isinstance(got, Exception):
                self.fail("warmup:" + name, f"{type(got).__name__}: {got}")
                continue
            try:
                if self.workload == "gql":
                    verdict = self.check_gql(op, got)
                else:
                    verdict = self.check_query(op, got)
            except Exception as ex:  # a broken comparison is a failed check
                verdict = f"check {type(ex).__name__}: {ex}"
            if verdict != "OK":
                self.fail("warmup:" + name, verdict)

    # -- the run -------------------------------------------------------------

    def setup(self) -> float:
        """Session start + graph load + first scan, SETUP_STARTS times on
        fresh sessions (median), plus the warm-up pass."""
        starts = []
        for _ in range(SETUP_STARTS):
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            t0 = time.perf_counter()
            self.start_session()
            state = self.load_tpch_graph(self.spark, self.data)
            _, b = self.run_program(self.spark, FIRST_SCAN, initial_state=state)
            self.binding_table(b).toArrow()
            starts.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        kept = self.warmup()
        warm = time.perf_counter() - t0
        self.check_warmup(kept)
        self.setup_detail = {"starts_s": starts, "warmup_s": warm}
        return med(starts) + warm

    def run(self):
        setup_s = self.setup()
        # what setup left on the Python heap stays alive: the per-op
        # collections then only walk what the timed operations allocate
        gc.collect()
        gc.freeze()
        probe_before = self.probe_jvm_epoch()
        steal0 = cpu_steal_s()
        if self.traced:
            self.tracer = self.tracing.Tracer(self.spark)
        timed = 0.0
        pass_no = 0
        while True:
            traced = bool(self.traced and pass_no % 2 == 1)
            if traced:
                self.tracer.install(self.E)
            try:
                timed += self.run_pass(traced, pass_no)
            finally:
                if traced:
                    self.tracer.uninstall()
            pass_no += 1
            if timed >= self.seconds and pass_no >= MIN_PASSES:
                break
        steal_s = cpu_steal_s() - steal0
        probe_after = self.probe_jvm_epoch()
        rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + self.jvm_rss_mb()
        n_ops = len(self.lat)
        slots = slot_medians(self.lat)
        all_lat = [d for _, _, d in self.lat]
        reads = [d for _, k, d in self.lat if k == "read"]
        writes = [d for _, k, d in self.lat if k == "write"]
        untraced_walls = [w for t, w in self.passes if not t]
        failed = len({op for op, _ in self.errors})
        detail = {
            "workload": self.workload, "seed": self.seed, "trace": int(self.traced),
            "env": self.env, "data_dir_rows": table_rows(self.data),
            "jvm_args": list(self.spark._jvm.java.lang.management.ManagementFactory
                             .getRuntimeMXBean().getInputArguments()),
            "setup": self.setup_detail,
            "ops_timed": n_ops, "passes": len(self.passes),
            "pass_p50_s": med(untraced_walls),
            "op_p50_s": med(all_lat),
            "op_p90_s": pct(all_lat, 90) if all_lat else 0.0,
            "peak_rss_mb": rss,
            "gc_between_ops_s": self.gc_pause_s,
            "read_p50_s": med(reads), "read_p90_s": pct(reads, 90) if reads else 0.0,
            "write_p50_s": med(writes), "write_p90_s": pct(writes, 90) if writes else 0.0,
            "programs_per_s": n_ops / sum(untraced_walls),
            "error_ratio": failed / max(self.attempted, 1),
            "errors": self.errors[:20],
            "jvm_probe_s": {"before": probe_before, "after": probe_after},
            "degraded_epoch": max(probe_before, probe_after) > 0.5,
            "cpu_steal_s_timed": steal_s,
            "cache_held_before_call": {
                k: sum(1 for r in self.cache_records if r.get(k))
                for k in ("load", "dup_clusters", "pair", "feed")
            } | {"calls": len(self.cache_records)},
            "slot_p50_s": {k: round(v, 4) for k, v in sorted(slots.items())},
            "op_walls": [(n, round(d, 4)) for n, _, d in self.lat],
        }
        if not self.traced:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_geomean_s": (geomean(list(slots.values())), "s"),
                # one pass, every slot at its median latency
                "ops_per_s": (len(slots) / sum(slots.values()), "1/s"),
            }
        else:
            metrics = self.layer_metrics(probe_before, probe_after, rss)
            path = WORK / f"trace-{self.workload}-{self.seed}.jsonl"
            self.tracer.dump(str(path))
            detail["trace_file"] = str(path.relative_to(ROOT))
        result = {
            "correct": not self.errors,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, detail

    def layer_metrics(self, probe_before, probe_after, rss) -> dict:
        tr = self.tracer
        ops = [o for o in tr.ops if "action" in o]  # attributed, not failed
        spans: dict = {}
        for s in tr.spans:
            spans.setdefault(s["op"], []).append(s)

        def span_ms(op, layer, name):
            return sum((s["t1"] - s["t0"]) * 1000 for s in spans.get(op["id"], [])
                       if s["layer"] == layer and s["name"] == name)

        def per_op(layer, name):
            return med([v for v in (span_ms(o, layer, name) for o in ops) if v > 0])

        prog_ops = [o for o in ops if "clauses" in o]
        fold_ops = [o for o in ops if "folded" in o]
        m = {
            "frontend.parse_ms": (per_op("frontend", "parse"), "ms"),
            "frontend.normalize_ms": (per_op("frontend", "normalize"), "ms"),
            "frontend.typecheck_ms": (per_op("frontend", "typecheck"), "ms"),
            "frontend.clauses": (med([o["clauses"] for o in prog_ops]), "count"),
            "plans.prefix_fold_ms": (per_op("plans", "prefix_fold"), "ms"),
            "plans.folded_ratio": (
                sum(o["folded"] for o in fold_ops) / max(1, sum(o["clauses"] for o in fold_ops)),
                "ratio"),
            "engine.materialize_fold_ms": (per_op("engine", "materialize_fold"), "ms"),
        }
        build_ms = []
        for o in prog_ops:
            b = span_ms(o, "phase", "build")
            for layer, name in (("frontend", "parse"), ("frontend", "normalize"),
                                ("frontend", "typecheck"), ("plans", "prefix_fold"),
                                ("sources", "load")):
                b -= span_ms(o, layer, name)
            build_ms.append(b)
        m["engine.build_ms"] = (med(build_ms), "ms")
        m["engine.build_jobs"] = (mean([o["build_jobs"] for o in prog_ops]), "count")
        for k in self.tracing.INSTR_KINDS:
            m[f"engine.instr_ms.{k}"] = (per_op("engine", "instr." + k), "ms")
        loads = [o for o in ops if "load_hit" in o]
        m["sources.load_ms"] = (per_op("sources", "load"), "ms")
        m["sources.cache_hit_ratio"] = (
            sum(o["load_hit"] for o in loads) / len(loads) if loads else 0.0, "ratio")
        m["action.ms"] = (per_op("phase", "action"), "ms")
        for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
            unit = "bytes" if k.endswith("bytes") else "count"
            m[f"action.{k}"] = (mean([o["action"][k] for o in ops]), unit)
        m["action.scan_rows_per_result_row"] = (
            sum(o["scan_rows"] for o in ops) / max(1, sum(o["result_rows"] for o in ops)), "ratio")
        m["action.result_rows"] = (mean([o["result_rows"] for o in ops]), "count")
        # registry modules: per traced pass sums, median over traced passes
        by_pass: dict = {}
        for o in ops:
            if "build_s" in o:
                mod = MODULE_OF_FAMILY.get(o["name"][0], "other")
                p = by_pass.setdefault(o["id"].split("o")[0], {})
                acc = p.setdefault(mod, {"build_s": 0.0, "action_s": 0.0, "jobs": 0, "tasks": 0})
                acc["build_s"] += o["build_s"]
                acc["action_s"] += o["action_s"]
                acc["jobs"] += o["build_jobs"] + o["action"]["jobs"]
                acc["tasks"] += o["build_tasks"] + o["action"]["tasks"]
        for mod in MODULES:
            vals = [p[mod] for p in by_pass.values() if mod in p]
            m[f"{mod}.build_s"] = (med([v["build_s"] for v in vals]), "s")
            m[f"{mod}.action_s"] = (med([v["action_s"] for v in vals]), "s")
            m[f"{mod}.jobs"] = (med([v["jobs"] for v in vals]), "count")
        vals = [p["graph_algos"] for p in by_pass.values() if "graph_algos" in p]
        m["graph_algos.tasks"] = (med([v["tasks"] for v in vals]), "count")
        m["jvm.gc_ms"] = (mean([o["gc_ms"] for o in ops]), "ms")
        m["session.cache_entries"] = (self.cache_entries(), "count")
        recs = self.cache_records
        m["session.cache_hit_ratio"] = (
            sum(1 for r in recs if any(r.values())) / max(1, len(recs)), "ratio")
        traced = [w for t, w in self.passes if t]
        untraced = [w for t, w in self.passes if not t]
        m["trace.overhead_s"] = (med(traced) - med(untraced), "s")
        m["host.jvm_probe_ms"] = (max(probe_before, probe_after) * 1000, "ms")
        m["session.peak_rss_mb"] = (rss, "MB")
        return m


def cpu_steal_s() -> float:
    """CPU seconds (all CPUs) the hypervisor has given to other guests
    since boot, from ``/proc/stat``; 0 where the field is missing."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def table_rows(data_dir) -> dict:
    import pyarrow.parquet as pq

    return {t: pq.ParquetFile(f"{data_dir}/{t}.parquet").metadata.num_rows for t in TABLES}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "projet_graphdb_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no projet_graphdb_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    env = configure_env()
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import __spark_entry__  # noqa: F401
        import projet_graphdb_spark  # noqa: F401

        saved = list(sys.path)
        sys.path.insert(0, str(ROOT / "tools"))
        import check_oracle  # noqa: F401  (the registry's comparison rule)

        sys.path[:] = saved
    except ImportError as ex:
        print(f"perfbench: cannot import the engine from {ROOT}: {ex}", file=sys.stderr)
        return 2
    import datagen

    data_dir = datagen.ensure(str(WORK / f"data-sf0.1-v{datagen.VERSION}"))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), data_dir, env)
    try:
        result, detail = bench.run()
    finally:
        bench.shutdown()
    print(f"perfbench {args.workload} seed={args.seed}: "
          + ", ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in result["metrics"].items()),
          file=sys.stderr)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
