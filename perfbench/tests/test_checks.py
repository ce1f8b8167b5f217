"""Output checks are live: a wrong expected answer is a failure.

Runs each workload once at a tiny size on a local Spark session, first
against the generator's answers (no failure), then with one expected
answer changed (the check must fail, so ``fail_rate`` is non-zero).
The traced pass must reach every layer the workload names.
"""

import pytest

from perfbench.run import make_session, stop_processes
from perfbench.trace import Tracer, reduce_layers
from perfbench.workloads import Backfill, BiServing, Curation, Run


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("perfbench"))
    spark = make_session(root, trace=False)
    yield spark, root
    stop_processes(spark)


def make_run(session, seed=5):
    spark, root = session
    return Run(spark, Tracer(spark), root, seed)


def layers_called(tracer):
    return {k for k, v in reduce_layers(tracer.spans, []).items() if v.get("calls")}


def test_backfill_checks_are_live(session):
    run = make_run(session)
    w = Backfill({"sessions_per_window": 60, "users_per_window": 40})
    w.setup(run)
    run.tr.enabled = True
    w.run_pass(run)
    run.tr.enabled = False
    w.check(run)
    assert run.failed == 0, run.errors
    assert layers_called(run.tr) == {
        "io.readers",
        "io.writers",
        "io.versioned",
        "transforms",
        "quality",
        "models",
        "pipeline",
    }
    key = next(iter(w.data.artist_sales))
    w.data.artist_sales[key] += 0.01
    w.check(run)
    assert run.failed == 1
    assert run.failed / run.attempted > 0


def test_bi_serving_checks_are_live(session):
    run = make_run(session)
    w = BiServing({"sessions_per_window": 60, "users_per_window": 40})
    w.queries_per_pass = 4
    w.setup(run)
    w.run_pass(run)
    assert run.failed == 0, run.errors
    n = w.data.fact_after[-2][0]
    w.data.fact_after[-2] = (n + 1, w.data.fact_after[-2][1])
    w.run_pass(run)
    assert run.failed == 1


def test_curation_checks_are_live(session):
    run = make_run(session)
    w = Curation({"n_docs": 200})
    w.setup(run)
    run.tr.enabled = True
    w.run_pass(run)
    run.tr.enabled = False
    w.check(run)
    assert run.failed == 0, run.errors
    assert layers_called(run.tr) == {
        "ext.text",
        "ext.dedup",
        "ext.curation",
        "ext.tokenizer",
        "ext.training",
        "ext.export",
    }
    w.corpus.good_ids.discard(max(w.corpus.good_ids - set(w.corpus.text_copies)))
    w.check(run)
    assert run.failed == 1
