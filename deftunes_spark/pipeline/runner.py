"""In-engine pipeline runner (SURVEY §2.11, O1–O6).

Plain-Python re-expression of the reference's Airflow DAGs
(dags/deftunes_api_pipeline.py:182-189, deftunes_songs_pipeline.py:
167-174): tasks + dependencies, monthly logical windows with catchup
backfill, serialized runs (max_active_runs=1 → windows run in order),
per-task retry-once policy, and DQ gate tasks that stop downstream
tasks on failure.

Windows run strictly one after another. Within a window, tasks run
concurrently on a thread pool, the way the reference fans out
``[dq_users, dq_sessions]`` beside the songs DAG: a task starts once
its dependencies have succeeded and every gate before it in
``topo_order()`` has finished without failing. Outcomes (results,
skips, root cause) are those of running the tasks one by one in
``topo_order()``.

A task callable receives a context dict:
    {"spark": SparkSession, "window_start": "YYYY-MM-DD",
     "window_end": "YYYY-MM-DD", "ingest_date": "YYYY-MM-DD", ...}
mirroring the Glue script_args Jinja contract
(deftunes_api_pipeline.py:63-65: ds / next_ds / next_ds-1d).
"""

from __future__ import annotations

import datetime as dt
import logging
import time
from collections.abc import Callable, Sequence
from concurrent.futures import (
    FIRST_COMPLETED,
    Future,
    ThreadPoolExecutor,
    wait,
)
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

log = logging.getLogger("deftunes_spark.pipeline")


class TaskFailure(RuntimeError):
    def __init__(self, task: str, cause: Exception):
        self.task = task
        self.cause = cause
        super().__init__(f"task {task!r} failed: {cause}")


def monthly_windows(
    start_date: str, end_date: str
) -> list[tuple[str, str]]:
    """Airflow-style monthly logical windows with catchup.

    cron ``0 0 1 * *`` between start and end (inclusive of every
    window whose start falls in range) → [(ds, next_ds), ...]
    (deftunes_api_pipeline.py:30-33).

    Like Airflow's scheduler, a mid-month ``start_date`` rolls FORWARD
    to the next cron tick (day 1 of the following month) — never
    backward, which would ingest data from before the requested start.
    """
    raw_start = dt.date.fromisoformat(start_date)
    if raw_start.day == 1:
        start = raw_start
    else:
        start = (raw_start.replace(day=28) + dt.timedelta(days=4)).replace(
            day=1
        )
    end = dt.date.fromisoformat(end_date)
    windows: list[tuple[str, str]] = []
    cur = start
    while cur <= end:
        nxt = (cur.replace(day=28) + dt.timedelta(days=4)).replace(day=1)
        windows.append((cur.isoformat(), nxt.isoformat()))
        cur = nxt
    return windows


@dataclass
class PipelineTask:
    name: str
    fn: Callable[[dict], object]
    depends_on: tuple[str, ...] = ()
    retries: int = 1  # reference default_args: retries=1 (:17-19)
    retry_delay_s: float = 0.0  # 5 min in the reference; 0 for tests
    # DQ gate (O5): a failed gate ABORTS the whole window — every
    # task after it in topo_order() is skipped, dependent or not (bad
    # data must not reach ANY downstream zone), and none of them starts
    # before the gate has passed. Tasks before it in topo_order() run
    # regardless. A failed normal task skips only its graph-dependents.
    is_gate: bool = False


@dataclass
class Pipeline:
    """A DAG of tasks run per logical window, serialized like
    ``max_active_runs=1`` (windows execute in chronological order,
    never concurrently)."""

    name: str
    tasks: dict[str, PipelineTask] = field(default_factory=dict)

    def add(self, task: PipelineTask) -> PipelineTask:
        if task.name in self.tasks:
            raise ValueError(f"duplicate task {task.name!r}")
        for dep in task.depends_on:
            if dep not in self.tasks:
                raise ValueError(
                    f"task {task.name!r} depends on unknown {dep!r}"
                )
        self.tasks[task.name] = task
        return task

    def topo_order(self) -> list[str]:
        ts = TopologicalSorter(
            {n: set(t.depends_on) for n, t in self.tasks.items()}
        )
        return list(ts.static_order())

    def _run_task(self, task: PipelineTask, ctx: dict) -> object:
        attempts = task.retries + 1
        for attempt in range(1, attempts + 1):
            try:
                return task.fn(ctx)
            except Exception as exc:  # noqa: BLE001
                log.warning(
                    "%s attempt %d/%d failed: %s",
                    task.name,
                    attempt,
                    attempts,
                    exc,
                )
                if attempt == attempts:
                    raise TaskFailure(task.name, exc) from exc
                time.sleep(task.retry_delay_s)
        raise AssertionError("unreachable")

    def run_window(
        self, window: tuple[str, str], base_ctx: dict | None = None
    ) -> dict[str, object]:
        """One logical run: execute the window's tasks, each as soon
        as its dependencies and every gate before it have passed,
        independent tasks concurrently.

        Window param contract (deftunes_api_pipeline.py:63-65):
        start_date = ds, end_date = next_ds - 1 day, ingest_date =
        next_ds. Tasks downstream of a failed task are skipped; a
        failed gate (or any failure) marks the run failed, and the
        root cause is the earliest failure in ``topo_order()``.
        Tasks share ``ctx``: a task reads the keys its dependencies
        wrote and writes only its own.
        """
        ds, next_ds = window
        end = (
            dt.date.fromisoformat(next_ds) - dt.timedelta(days=1)
        ).isoformat()
        # Window keys are spread LAST: they define the run and must
        # win over a reused base_ctx that happens to carry stale
        # window_start/ingest_date keys (spreading base_ctx last let a
        # caller silently pin every window to one ingest date).
        ctx = {
            **(base_ctx or {}),
            "window_start": ds,
            "window_end": end,
            "ingest_date": next_ds,
        }
        order = self.topo_order()
        results: dict[str, object] = {}  # value, TaskFailure or "skipped"
        failed: set[str] = set()  # failed or skipped
        waiting = list(order)
        running: dict[Future, str] = {}
        with ThreadPoolExecutor(
            max_workers=len(order) or 1, thread_name_prefix=self.name
        ) as pool:
            while waiting or running:
                for name in list(waiting):
                    task = self.tasks[name]
                    gates = [
                        g
                        for g in order[: order.index(name)]
                        if self.tasks[g].is_gate
                    ]
                    if any(d in failed for d in task.depends_on) or any(
                        isinstance(results.get(g), TaskFailure) for g in gates
                    ):
                        failed.add(name)
                        results[name] = "skipped"
                    elif all(b in results for b in (*task.depends_on, *gates)):
                        running[pool.submit(self._run_task, task, ctx)] = name
                    else:
                        continue
                    waiting.remove(name)
                if running:
                    done, _ = wait(running, return_when=FIRST_COMPLETED)
                    for fut in done:
                        name = running.pop(fut)
                        try:
                            results[name] = fut.result()
                        except TaskFailure as exc:
                            failed.add(name)
                            results[name] = exc
        results = {name: results[name] for name in order}
        first_failure = next(
            (r for r in results.values() if isinstance(r, TaskFailure)), None
        )
        if first_failure is not None:
            # Re-raise the ROOT-CAUSE failure (not an alphabetically
            # arbitrary member of the failed set) so operators see the
            # task and exception that actually broke the window.
            raise TaskFailure(
                first_failure.task,
                RuntimeError(
                    f"window {ds} failed tasks: {sorted(failed)} "
                    f"(root cause: {first_failure.task}: "
                    f"{first_failure.cause!r})"
                ),
            ) from first_failure
        return results

    def backfill(
        self,
        start_date: str,
        end_date: str,
        base_ctx: dict | None = None,
    ) -> dict[str, dict[str, object]]:
        """catchup=True over monthly windows, strictly serialized
        (max_active_runs=1, deftunes_api_pipeline.py:33-34)."""
        out: dict[str, dict[str, object]] = {}
        for window in monthly_windows(start_date, end_date):
            out[window[0]] = self.run_window(window, base_ctx)
        return out
