"""Self-tests of the benchmark's guards: the timed full-result actions
must execute the work a count-style plan would prune.

Run from the repository root:  python3 -m pytest perfbench/test_guards.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import datagen  # noqa: E402
import gql  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def bench():
    env = run.configure_env()
    data = datagen.ensure(str(run.WORK / f"data-sf0.1-v{datagen.VERSION}"))
    b = run.Bench("operators", 0, 1, True, data, env)
    b.start_session()
    import tracing

    b.tracer = tracing.Tracer(b.spark)
    yield b
    b.shutdown()


def _udf_rows(b, name, action):
    """Python/Arrow UDF node output rows of ``name``'s plan under
    ``action`` ("noop" = the benchmark's timed action, or "count")."""
    tr = b.tracer
    op_id = f"guard-{name}-{action}"
    with tr.op(op_id, name=name):
        df = b.queries[name](b.spark, b.data)
        with tr.phase("action"):
            if action == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
    jobs = tr.jobs_of(op_id, "action")["job_ids"]
    return b.tracing.python_udf_rows(tr.plan_nodes(jobs))


@pytest.mark.parametrize("name", ["s22_ivf_cosine_dups", "s9_lsh_cosine_dups"])
def test_timed_action_runs_arrow_udf(bench, name):
    rows = _udf_rows(bench, name, "noop")
    assert rows, f"{name}: no Python/Arrow UDF node in the timed plan"
    assert min(rows) > 0, f"{name}: a UDF node produced no rows: {rows}"


def test_count_action_would_prune_the_udf(bench):
    """The guard has teeth: a count() of the same frame drops Arrow UDF
    work that the noop sink keeps."""
    noop = _udf_rows(bench, "s22_ivf_cosine_dups", "noop")
    count = _udf_rows(bench, "s22_ivf_cosine_dups", "count")
    assert len([r for r in count if r > 0]) < len([r for r in noop if r > 0])


@pytest.mark.parametrize("template", ["g28_bind_params", "g15_attr_aggregates", "g12_optional_match"])
def test_join_template_keeps_every_join(bench, template):
    from projet_graphdb_spark.engine import binding_table, run_program
    from projet_graphdb_spark.sources import load_tpch_graph

    op = gql.BulkGen(7).make(template)
    state = load_tpch_graph(bench.spark, bench.data)
    _, b = run_program(bench.spark, op.program, initial_state=state, params=op.params)
    df = binding_table(b)
    assert df.toArrow().num_rows > 0
    logical, physical = bench.tracing.join_guard(df)
    assert logical >= 1
    assert physical >= logical, f"{template}: joins pruned {logical} -> {physical}"


def test_generators_are_seeded():
    a = [op.program for op in gql.BulkGen(5).pass_ops()]
    b = [op.program for op in gql.BulkGen(5).pass_ops()]
    c = [op.program for op in gql.BulkGen(6).pass_ops()]
    assert a == b and a != c
    s1 = [op.program for op in gql.ScriptGen(5).pass_ops()]
    s2 = [op.program for op in gql.ScriptGen(5).pass_ops()]
    assert s1 == s2
