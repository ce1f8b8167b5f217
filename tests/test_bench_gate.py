"""Regression tests for bench.py's sentinel retry gate (r9 verdict #2
+ r9 advice #1): the ceiling must anchor to the MEASURED host floor,
and an attempt must be judged against the ceiling as it stood before
that attempt's sentinel is folded into the calibration state."""

import json

import bench


def test_fast_host_stored_floor_rejects_r9_contamination():
    # The r9 shipped-contaminated scenario: host floor 0.0597,
    # leakage_safe_split's sentinels 0.132-0.153 passed under the old
    # cross-host 0.156 ceiling. With the stored floor they must not.
    gate = bench.SentinelGate(stored_floor=0.0597)
    assert gate.ceiling() < 0.132
    assert gate.judge(0.132) is False
    assert gate.judge(0.153) is False
    # A genuinely quiet recording on the same host still passes.
    assert gate.judge(0.065) is True


def test_first_attempt_of_contended_sweep_is_flagged():
    # r9 advice #1: the old code folded the median into sweep_floor
    # BEFORE computing the ceiling, so the sweep's quietest-so-far
    # recording satisfied s_med <= 1.3*max(ref, s_med) by
    # construction and the first query could never be retried.
    gate = bench.SentinelGate(stored_floor=None)
    assert gate.judge(0.5) is False  # old code accepted this


def test_slow_host_bootstrap_loosens_after_rejection():
    # On genuinely slow hardware (true floor >> ref) nothing would
    # ever be accepted against the 1.3*ref ceiling; the quietest
    # CONTENDED median may loosen (never tighten) the bootstrap so
    # the sweep converges instead of burning the retry budget.
    gate = bench.SentinelGate(stored_floor=None)
    assert gate.judge(0.5) is False
    assert gate.ceiling() == bench.SENTINEL_RETRY_FACTOR * 0.5
    assert gate.judge(0.52) is True


def test_accepted_quiet_median_tightens_self_calibration():
    gate = bench.SentinelGate(stored_floor=None)
    assert gate.judge(0.1) is True  # under 1.3*ref bootstrap
    # Ceiling now anchored to the accepted floor, not ref.
    assert gate.ceiling() == bench.SENTINEL_RETRY_FACTOR * max(
        0.1, 0.5 * bench.SENTINEL_REF_SEC
    )
    assert gate.judge(0.14) is False


def test_stored_floor_clamped_at_half_ref():
    # One freak ultra-quiet stored reading must not collapse the
    # ceiling to an unachievable value.
    gate = bench.SentinelGate(stored_floor=0.001)
    assert gate.ceiling() == bench.SENTINEL_RETRY_FACTOR * (
        0.5 * bench.SENTINEL_REF_SEC
    )


def test_host_floor_store_min_merges_and_keys_on_host(
    tmp_path, monkeypatch
):
    path = str(tmp_path / "floor.json")
    monkeypatch.setattr(bench, "HOST_FLOOR_PATH", path)
    bench._store_host_floor(0.08)
    assert bench._load_host_floor() == 0.08
    bench._store_host_floor(0.06)   # quieter → replaces
    assert bench._load_host_floor() == 0.06
    bench._store_host_floor(0.30)   # louder → min-merge keeps 0.06
    assert bench._load_host_floor() == 0.06
    # A floor recorded on different hardware must not gate this host.
    with open(path, "w") as f:
        json.dump(
            {"host": {"cpu_model": "other", "cores": 8},
             "floor_sec": 0.02},
            f,
        )
    assert bench._load_host_floor() is None


def test_bands_drop_contaminated_and_foreign_host_records(monkeypatch):
    """r11 verdict #3 + advice: a sweep self-marked contaminated must
    never contribute to bands (its 'uncontended' timings were still
    measured under a sentinel breach, ~1.2x inflated), and a record
    stamped with another host's identity must not gate this host.
    Legacy records with neither stamp are kept (the known-quiet
    r07-r10 sweeps predate the stamps)."""
    # None of these records carries ``cpus``, so they are legacy-core
    # records; run at that core count so the check holds on any host
    # (the cpus keying itself is test_bands_keyed_on_effective_cpus).
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(bench.LEGACY_CPUS))
    me = bench._host_identity()
    history = [
        # Legacy quiet record (no stamps) — kept.
        {"label": "r09", "queries": {"q": 1.0}, "contended": []},
        # Contaminated record — dropped whole, even the entries it
        # did NOT list as contended.
        {
            "label": "bad",
            "sweep_quality": "contaminated",
            "host": me,
            "queries": {"q": 9.0, "only_in_bad": 5.0},
            "contended": [],
        },
        # Foreign-host clean record — dropped.
        {
            "label": "other-box",
            "sweep_quality": "clean",
            "host": {"cpu_model": "other", "cores": 8},
            "queries": {"q": 0.1},
            "contended": [],
        },
        # This-host clean record — kept.
        {
            "label": "r12",
            "sweep_quality": "clean",
            "host": me,
            "queries": {"q": 1.2},
            "contended": [],
        },
    ]
    bands = bench._bands(history)
    assert bands["q"] == [1.0, 1.2]          # only r09 + r12 survive
    assert "only_in_bad" not in bands        # contaminated dropped whole


def test_append_history_stamps_quality_and_host(tmp_path, monkeypatch):
    path = str(tmp_path / "hist.json")
    monkeypatch.setattr(bench, "HISTORY_PATH", path)
    bench._append_history("t1", {"q": 1.0}, [], "0.1", "contaminated")
    bench._append_history("t2", {"q": 1.1}, [], "0.1")  # default clean
    recs = bench._load_history()
    assert [r["sweep_quality"] for r in recs] == ["contaminated", "clean"]
    assert recs[0]["host"] == bench._host_identity()
    # And the stamp round-trips into band exclusion:
    assert bench._bands(recs, "0.1")["q"] == [1.1, 1.1]


def test_committed_history_r11_record_is_stamped_contaminated(
    monkeypatch,
):
    """The r11 sweep 20260816T160006Z was appended to history before
    the quality stamp existed; it was retro-stamped in r12 so bands
    can never inherit its ~1.2x-inflated timings. The history keeps
    only the last HISTORY_KEEP records, so that record may have
    rotated out. Every committed record over the contended-share limit
    must be stamped contaminated, every contaminated record must feed
    no band on its own host and core count, and the r13 8-core sweep
    must carry its cpus stamp."""
    import os
    p = os.path.join(os.path.dirname(bench.__file__), "BENCH_HISTORY.json")
    with open(p) as f:
        recs = json.load(f)["records"]
    bad = [r for r in recs if r["label"] == "20260816T160006Z"]
    assert all(r.get("sweep_quality") == "contaminated" for r in bad)
    # A committed record whose contended share marks it contaminated
    # under bench.py's own rule must carry the stamp.
    for rec in recs:
        if len(rec["contended"]) > bench.CONTAMINATED_FRAC * len(
            rec["queries"]
        ):
            assert rec.get("sweep_quality") == "contaminated", rec["label"]
    # Each committed contaminated record alone must contribute NO
    # bands, judged where it was recorded. Re-stamped clean, the same
    # record does give bands, so the first check is not vacuous.
    contaminated = [
        r for r in recs if r.get("sweep_quality") == "contaminated"
    ]
    for rec in contaminated:
        monkeypatch.setattr(bench, "_host_identity", lambda: rec["host"])
        monkeypatch.setenv(
            "SPARK_GRAFT_CPUS", str(rec.get("cpus", bench.LEGACY_CPUS))
        )
        sf = rec.get("sf", "0.1")
        assert bench._bands([rec], sf) == {}, rec["label"]
        assert bench._bands([{**rec, "sweep_quality": "clean"}], sf)
    # The r13 sweep at 8 cores (BENCH_r13_c8.json) was appended
    # without a cpus field; unstamped it would read as a LEGACY_CPUS
    # sweep and feed its 8-core timings into 32-core bands.
    r13_c8 = [r for r in recs if r["label"] == "20260818T033839Z"]
    assert all(r.get("cpus") == 8 for r in r13_c8)


def test_bands_keyed_on_effective_cpus(monkeypatch):
    """r13 verdict #2: the driver's 8-core run false-flagged
    unigram_encode_roundtrip (1.006 s, the most core-sensitive query)
    against a 32-core band [0.665, 0.728]. Bands recorded at one core
    count must not adjudicate a sweep at another; legacy records with
    no cpus field are the pre-r14 32-core sweeps."""
    me = bench._host_identity()
    history = [
        # Legacy 32-core record (no cpus field).
        {"label": "r13", "host": me, "sweep_quality": "clean",
         "queries": {"unigram_encode_roundtrip": 0.728}, "contended": []},
        # Explicit 32-core record.
        {"label": "r14", "host": me, "sweep_quality": "clean",
         "cpus": 32,
         "queries": {"unigram_encode_roundtrip": 0.665}, "contended": []},
    ]
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._effective_cpus() == 8
    # At 8 cores the 32-core bands must vanish — nothing to flag.
    assert bench._bands(history) == {}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench._effective_cpus() == 32
    bands = bench._bands(history)
    assert bands["unigram_encode_roundtrip"] == [0.665, 0.728]


def test_append_history_stamps_cpus(tmp_path, monkeypatch):
    path = str(tmp_path / "hist.json")
    monkeypatch.setattr(bench, "HISTORY_PATH", path)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    bench._append_history("t8", {"q": 1.0}, [], "0.1")
    recs = bench._load_history()
    assert recs[0]["cpus"] == 8
    # An 8-core record never gates a 32-core sweep.
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench._bands(recs, "0.1") == {}


def test_host_floor_keyed_on_cpus(tmp_path, monkeypatch):
    """The stored sentinel floor is a per-(host, cpus) quantity: a
    32-task constant-plan sentinel runs ~4 waves at 8 cores, so a
    32-core floor must not gate an 8-core sweep (and vice versa)."""
    path = str(tmp_path / "floor.json")
    monkeypatch.setattr(bench, "HOST_FLOOR_PATH", path)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    bench._store_host_floor(0.05)
    assert bench._load_host_floor() == 0.05
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._load_host_floor() is None  # other config: no floor
    bench._store_host_floor(0.2)             # 8-core run overwrites
    assert bench._load_host_floor() == 0.2
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench._load_host_floor() is None


def test_sweep_clock_deadline_and_fast_degrade():
    """r13 verdict #1: the sweep must stop starting recordings when
    the budget is gone and degrade to fast mode when the normal-mode
    projection no longer fits — so the one-line JSON always lands."""
    bands = {"a": [1.0, 2.0], "b": [3.0, 4.0]}
    clock = bench.SweepClock(100.0, bands, now=0.0)
    # Projection: overhead + factor * band_med per query.
    exp_a = bench.CHILD_OVERHEAD_SEC + bench.NORMAL_RUNS_FACTOR * 2.0
    assert clock.projected(["a"]) == exp_a
    # Band-less query falls back to the default estimate.
    assert clock.projected(["zz"]) == (
        bench.CHILD_OVERHEAD_SEC
        + bench.NORMAL_RUNS_FACTOR * bench.DEFAULT_QUERY_EST_SEC
    )
    # Enough budget: normal mode; tight budget: fast.
    assert clock.use_fast(["a"], now=0.0) is False
    assert clock.use_fast(["a", "b", "a", "b"], now=0.0) is True
    # Deadline gates new recordings and clamps the child timeout.
    assert clock.should_start(now=0.0) is True
    assert clock.should_start(now=50.0) is True   # 50 left >= 45 floor
    assert clock.should_start(now=60.0) is False  # 40 left < 45 floor
    assert clock.child_timeout(now=0.0) == 90.0
    assert clock.child_timeout(now=99.0) == 30.0  # floor
    # Retries only when a re-recording still fits twice over.
    assert clock.allow_retry("a", fast=False, now=0.0) is True
    assert clock.allow_retry("a", fast=False, now=70.0) is False
