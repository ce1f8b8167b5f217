import random
import sys
import threading
import time

import pytest

from pyspark.sql import functions as F

from deftunes_spark.io import write_table_append_or_create
from deftunes_spark.models import dim_artists, fact_session, sales_per_artist
from deftunes_spark.pipeline import (
    Pipeline,
    PipelineTask,
    TaskFailure,
    monthly_windows,
)
from deftunes_spark.quality import REFERENCE_RULESETS, evaluate_ruleset
from deftunes_spark.transforms import (
    add_lineage_columns,
    sessions_explode,
    songs_enforce_schema,
)


def test_monthly_windows_catchup():
    w = monthly_windows("2020-02-01", "2020-04-01")
    assert w == [
        ("2020-02-01", "2020-03-01"),
        ("2020-03-01", "2020-04-01"),
        ("2020-04-01", "2020-05-01"),
    ]


def test_window_param_contract():
    """script_args contract: start=ds, end=next_ds-1d, ingest=next_ds
    (deftunes_api_pipeline.py:63-65)."""
    p = Pipeline("t")
    seen = {}
    p.add(PipelineTask("probe", lambda ctx: seen.update(ctx)))
    p.run_window(("2020-02-01", "2020-03-01"))
    assert seen["window_start"] == "2020-02-01"
    assert seen["window_end"] == "2020-02-29"  # leap year
    assert seen["ingest_date"] == "2020-03-01"


def test_retry_once_then_fail():
    attempts = []

    def flaky(ctx):
        attempts.append(1)
        raise RuntimeError("boom")

    p = Pipeline("t")
    p.add(PipelineTask("flaky", flaky, retries=1))
    with pytest.raises(TaskFailure):
        p.run_window(("2020-02-01", "2020-03-01"))
    assert len(attempts) == 2  # original + one retry


def test_retry_succeeds_second_attempt():
    attempts = []

    def flaky(ctx):
        attempts.append(1)
        if len(attempts) == 1:
            raise RuntimeError("transient")
        return "ok"

    p = Pipeline("t")
    p.add(PipelineTask("flaky", flaky, retries=1))
    out = p.run_window(("2020-02-01", "2020-03-01"))
    assert out["flaky"] == "ok"


def test_gate_failure_skips_downstream():
    ran = []
    p = Pipeline("t")
    p.add(PipelineTask("extract", lambda c: ran.append("extract")))
    p.add(
        PipelineTask(
            "dq",
            lambda c: (_ for _ in ()).throw(RuntimeError("dq fail")),
            depends_on=("extract",),
            retries=0,
            is_gate=True,
        )
    )
    p.add(
        PipelineTask(
            "model", lambda c: ran.append("model"), depends_on=("dq",)
        )
    )
    with pytest.raises(TaskFailure):
        p.run_window(("2020-02-01", "2020-03-01"))
    assert ran == ["extract"]  # model skipped behind failed gate


def _fail(msg):
    def fn(ctx):
        raise RuntimeError(msg)

    return fn


def test_independent_tasks_run_concurrently():
    """Two independent tasks meet at a barrier, which times out (and
    fails both tasks) if they run one after the other."""
    barrier = threading.Barrier(2, timeout=5)
    p = Pipeline("t")
    p.add(PipelineTask("a", lambda c: barrier.wait(), retries=0))
    p.add(PipelineTask("b", lambda c: barrier.wait(), retries=0))
    p.add(PipelineTask("c", lambda c: "ok", depends_on=("a", "b")))
    out = p.run_window(("2020-02-01", "2020-03-01"))
    assert sorted([out["a"], out["b"]]) == [0, 1]
    assert list(out) == p.topo_order() and out["c"] == "ok"


def test_many_concurrent_tasks_share_ctx():
    """More tasks than cores, under a short thread switch interval, each
    write their own ctx key; a fan-in task sees every one of them."""
    names = [f"w{i}" for i in range(32)]
    p = Pipeline("t")
    for n in names:
        p.add(PipelineTask(n, lambda c, n=n: c.update({n: n})))
    p.add(
        PipelineTask(
            "fan_in",
            lambda c: sorted(k for k in c if k in names),
            depends_on=tuple(names),
        )
    )
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = p.run_window(("2020-02-01", "2020-03-01"))
    finally:
        sys.setswitchinterval(interval)
    assert out["fan_in"] == sorted(names)
    assert list(out) == p.topo_order()


def test_failed_gate_skips_independent_later_tasks():
    """A failed gate skips a task after it in topo_order() even with no
    dependency on it; a task before it still runs."""
    ran = []
    p = Pipeline("t")
    p.add(PipelineTask("before", lambda c: ran.append("before")))
    p.add(PipelineTask("gate", _fail("dq fail"), retries=0, is_gate=True))
    p.add(PipelineTask("after", lambda c: ran.append("after")))
    assert p.topo_order() == ["before", "gate", "after"]
    with pytest.raises(TaskFailure) as exc:
        p.run_window(("2020-02-01", "2020-03-01"))
    assert ran == ["before"]
    assert exc.value.task == "gate"
    assert "['after', 'gate']" in str(exc.value)


def test_skipped_gate_does_not_skip_independent_tasks():
    """A gate skipped behind a failed task never ran, so it trips
    nothing: an independent task after it still runs."""
    ran = []
    p = Pipeline("t")
    p.add(PipelineTask("extract", _fail("boom"), retries=0))
    p.add(PipelineTask("base", lambda c: ran.append("base")))
    p.add(
        PipelineTask(
            "gate", lambda c: None, depends_on=("extract",), is_gate=True
        )
    )
    p.add(
        PipelineTask(
            "other", lambda c: ran.append("other"), depends_on=("base",)
        )
    )
    assert p.topo_order() == ["extract", "base", "gate", "other"]
    with pytest.raises(TaskFailure) as exc:
        p.run_window(("2020-02-01", "2020-03-01"))
    assert ran == ["base", "other"]
    assert exc.value.task == "extract"
    assert "['extract', 'gate']" in str(exc.value)


def test_root_cause_is_earliest_in_topo_order():
    """The root cause is the first failure in topo_order(), even when a
    later task failed first in time."""
    later_failed = threading.Event()

    def early(ctx):
        assert later_failed.wait(5)
        raise RuntimeError("early")

    def late(ctx):
        later_failed.set()
        raise RuntimeError("late")

    p = Pipeline("t")
    p.add(PipelineTask("early", early, retries=0))
    p.add(PipelineTask("late", late, retries=0))
    with pytest.raises(TaskFailure) as exc:
        p.run_window(("2020-02-01", "2020-03-01"))
    assert exc.value.task == "early"
    assert "RuntimeError('early')" in str(exc.value)


def test_backfill_windows_stay_serial():
    """Window n+1 starts only after every task of window n is done."""
    events = []
    lock = threading.Lock()

    def task(name):
        def fn(ctx):
            with lock:
                events.append(("start", ctx["window_start"], name))
            time.sleep(0.05)
            with lock:
                events.append(("end", ctx["window_start"], name))

        return fn

    p = Pipeline("t")
    p.add(PipelineTask("a", task("a")))
    p.add(PipelineTask("b", task("b")))
    p.add(PipelineTask("c", task("c"), depends_on=("a",)))
    out = p.backfill("2020-02-01", "2020-04-01")
    assert list(out) == ["2020-02-01", "2020-03-01", "2020-04-01"]
    windows = [w for _, w, _ in events]
    assert len(events) == 18
    # Each window's six events are contiguous, in window order.
    assert windows == sorted(windows)
    for i, (kind, w, name) in enumerate(events):
        if kind == "start" and name == "c":
            assert ("end", w, "a") in events[:i]


def _serial_outcome(p, window):
    """The one-by-one runner over topo_order(), as the reference for
    the concurrent one: (results, root cause task, failed list)."""
    ctx = {"window_start": window[0]}
    results, failed = {}, set()
    first = None
    tripped = False
    for name in p.topo_order():
        task = p.tasks[name]
        if tripped or any(d in failed for d in task.depends_on):
            failed.add(name)
            results[name] = "skipped"
            continue
        try:
            results[name] = p._run_task(task, ctx)
        except TaskFailure as exc:
            failed.add(name)
            results[name] = "failed"
            tripped = tripped or task.is_gate
            first = first or exc
    return results, first and first.task, sorted(failed)


def _random_dag(seed, tries):
    """3-12 tasks, ~30% edge density, ~25% gates; each task fails its
    first 0, 1 (retried) or 2 (fails for good) attempts. ``tries``
    counts attempts per task."""
    rng = random.Random(seed)
    names = [f"t{i}" for i in range(rng.randint(3, 12))]
    lock = threading.Lock()
    p = Pipeline(f"dag{seed}")
    for i, n in enumerate(names):
        fails = rng.choice((0, 0, 0, 1, 2))
        tries[n] = 0

        def fn(ctx, n=n, fails=fails):
            with lock:
                tries[n] += 1
                attempt = tries[n]
            time.sleep(0.001 * (i % 3))
            if attempt <= fails:
                raise RuntimeError(f"{n} attempt {attempt}")
            return f"{n}@{attempt}"

        deps = tuple(d for d in names[:i] if rng.random() < 0.3)
        p.add(PipelineTask(n, fn, deps, is_gate=rng.random() < 0.25))
    return p


@pytest.mark.parametrize("seed", range(40))
def test_concurrent_outcomes_match_serial_runner(seed):
    """Random DAGs with gates, retries and failing tasks: the
    concurrent run_window gives the serial runner's results, attempts
    per task, root cause and failed (incl. skipped) list."""
    window = ("2020-02-01", "2020-03-01")
    serial_tries, tries = {}, {}
    results, root, failed = _serial_outcome(
        _random_dag(seed, serial_tries), window
    )
    p = _random_dag(seed, tries)
    try:
        out = p.run_window(window)
    except TaskFailure as exc:
        assert root is not None and exc.task == root
        assert f"failed tasks: {failed} " in str(exc)
    else:
        assert root is None and out == results
        assert list(out) == p.topo_order()
    assert tries == serial_tries


def test_medallion_end_to_end(
    spark, sessions_landing, songs_landing, tmp_path
):
    """Full flow for two ingest windows: landing → silver append-or-
    create → DQ → gold views; re-run of a window is idempotent
    (SURVEY §5 end-to-end plan)."""
    spark.sql("DROP TABLE IF EXISTS silver_sessions_e2e")
    half = sessions_landing.limit(15)
    rest = sessions_landing.subtract(half)

    def run_window(landing, ingest_date):
        silver = add_lineage_columns(
            sessions_explode(landing), ingest_date=ingest_date
        )
        results = evaluate_ruleset(
            silver, REFERENCE_RULESETS["sessions"]
        )
        assert all(
            r.passed
            for r in results
            if r.rule_name
            in ('IsComplete "user_id"', 'IsComplete "session_id"')
        )
        write_table_append_or_create(
            spark,
            silver,
            "silver_sessions_e2e",
            overwrite_partitions=True,
        )

    run_window(half, "2020-02-01")
    n1 = spark.table("silver_sessions_e2e").count()
    run_window(rest, "2020-03-01")
    n2 = spark.table("silver_sessions_e2e").count()
    assert n2 > n1  # second window appended
    run_window(rest, "2020-03-01")  # re-run same window
    assert spark.table("silver_sessions_e2e").count() == n2  # idempotent

    silver = spark.table("silver_sessions_e2e")
    fact = fact_session(silver)
    artists = dim_artists(songs_enforce_schema(songs_landing))
    view = sales_per_artist(fact, artists)
    total = view.agg(F.sum("total_sales")).collect()[0][0]
    expected = silver.agg(F.sum("price")).collect()[0][0]
    assert abs(total - expected) < 1e-6
    spark.sql("DROP TABLE IF EXISTS silver_sessions_e2e")
