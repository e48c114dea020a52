"""Driver-surface smoke tests: the two interfaces the round driver consumes
(__spark_entry__.py loaded BY PATH, and bench.py as a subprocess) must work
in exactly the driver's conditions.

Round 2's only regression broke every events consumer AND crashed the bench
outright -- and the package-import pytest suite alone could not have caught
two driver-specific failure classes:

 - path-load pickling: when __spark_entry__ is loaded via
   importlib.spec_from_file_location (no package on sys.path for executor
   workers), any mapInPandas/applyInPandas closure that references a
   module-level flatterer_spark function serializes by reference and dies on
   the executors.  Tests importing the package normally never see this.
 - bench harness rot: BENCH_r02.json was rc=1/parsed-null; a parse check on
   a real bench run would have flagged it at test time.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"

# Representative set: one per executor-side-Python family (mapInPandas /
# applyInPandas paths are where path-load pickling breaks), plus one plain
# SQL query per table family.
SMOKE_QUERIES = [
    "q01_filter_project",
    "q27_sessionize",
    "mm_embed_stub",        # mapInPandas
    "dedup_embedding",      # applyInPandas block-pair BLAS
    "dedup_cluster",        # iterative driver loop + localCheckpoint
    "stream_flatten_child",  # streaming flatten (mapInPandas position tagger)
    "emb_kmeans",           # iterative driver-model loop (collect per iter)
]


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry_test__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gate_window_covers_unverified_queries(entry_mod):
    """The driver's CORRECTNESS gate checks only the first GATE_WINDOW (=50)
    registry entries in insertion order.  Round 3 proved this can rot
    silently: 23 of 73 registered queries fell past the window and got no
    driver row.  Pin the registry's LRU ordering: every never-RECORDED query
    (no green oracle row AND no recorded rows-only attempt -- the two row
    kinds the driver can produce) must sit inside the window, and that
    backlog must never exceed the window itself.

    The previous form of this test ("every query lacking a row in the
    LATEST correctness file is in the window") is unsatisfiable whenever
    registered > 2x window (121 registered - 50 checked = 71 > 50) and went
    red the moment CORRECTNESS_r04.json landed -- VERDICT r4 'What's
    wrong' #1.  Queries with any historical record rely on that record and
    rotate on staleness; only never-recorded work MUST be gated now."""
    from flatterer_spark.registry import (
        DEFER_WHILE_LATEST_LE,
        GATE_WINDOW,
        actively_deferred,
        last_attempt_round,
        last_green_round,
        latest_recorded_round,
    )

    keys = list(entry_mod.queries())
    front = set(keys[:GATE_WINDOW])
    deferred = actively_deferred()

    # A rows-only attempt only counts as "recorded" while the query still
    # lacks an oracle; once an oracle exists the query must re-front and
    # earn a green hash row (registry.all_queries pins this).
    oracled = set(entry_mod.oracle_sql())
    attempts = {k for k in last_attempt_round() if k not in oracled}
    recorded = set(last_green_round()) | attempts
    backlog = [k for k in keys if k not in recorded and k not in deferred]
    assert len(backlog) <= GATE_WINDOW, (
        f"{len(backlog)} never-recorded queries exceed the "
        f"{GATE_WINDOW}-row window; some cannot be gated this round"
    )
    stranded = [k for k in backlog if k not in front]
    assert not stranded, (
        f"never-recorded queries sit past the driver's {GATE_WINDOW}-row "
        f"gate window: {stranded}"
    )

    # Deferrals must self-expire: every deferral round must already be
    # recorded (<= the latest correctness file), so one more driver run
    # flips each entry into the never-verified front of the window.  A
    # deferral round in the future would strand its query indefinitely.
    assert all(
        rnd <= latest_recorded_round() for rnd in DEFER_WHILE_LATEST_LE.values()
    ), "deferral round is ahead of the latest recorded correctness round"

    # Every deferral name must be a registered query: a typo here would
    # silently no-op while the real (undeferred) query evicts a demanded
    # re-verification from the window.
    unknown = set(DEFER_WHILE_LATEST_LE) - set(keys)
    assert not unknown, f"deferral names not in the registry: {unknown}"


def test_entry_contract_shape(entry_mod, spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 60
    # every oracle key must have a query; rows-only queries may lack oracles
    assert set(oracles) <= set(qs)
    df = entry_mod.entry(spark)
    assert df.count() >= 0 and len(df.schema) > 0


@pytest.mark.parametrize("name", SMOKE_QUERIES)
def test_path_loaded_queries_execute(entry_mod, spark, name):
    df = entry_mod.queries()[name](spark, SF)
    assert df.count() >= 0


def test_bench_parses_as_one_json_line():
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = SF
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, timeout=900, env=env, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip().startswith("{")]
    assert lines, f"no JSON line in bench output: {out.stdout[-500:]}"
    parsed = json.loads(lines[-1])
    assert parsed["unit"] == "sec" and parsed["queries"]
    assert all(v >= 0 for v in parsed["queries"].values())
    # BENCH_r04 rot class: the driver keeps only the last ~2 KB of stdout,
    # so the FINAL line -- the one it parses -- must carry the total and fit
    # the tail window even as the query list grows.  The full per-query dict
    # lives on an earlier line and in BENCH_DETAIL.json.
    assert len(lines[-1]) <= 1800, (
        f"final bench line is {len(lines[-1])} bytes; the driver's ~2 KB "
        "tail capture would truncate it (BENCH_r04 failure mode)"
    )
    assert "value" in parsed and parsed["value"] >= 0
    first = json.loads(lines[0])
    assert first["value"] == parsed["value"]
    assert set(parsed["queries"]) <= set(first["queries"])
    assert parsed["n_queries"] == len(first["queries"])
    detail = json.load(open(os.path.join(REPO, "BENCH_DETAIL.json")))
    assert detail["queries"] == first["queries"]


def test_gate_ordering_unit_semantics():
    """The rotation's sort semantics, pinned directly: (1) never-green
    undeferred first, in registration order; (2) then green names by
    staleness (oldest round first); (3) actively-deferred never-green dead
    last; (4) a deferred name that HAS a green row rejoins normal LRU."""
    from flatterer_spark.registry import _gate_ordered

    full = {k: k for k in ["a", "b", "c", "d", "e", "f"]}
    last = {"b": 2, "c": 1, "e": 3, "f": 1}
    # a, d never green; d deferred; f deferred-but-green
    out = list(
        _gate_ordered(full, last=last, deferred={"d"})
    )
    assert out == [
        "a",          # never-green, undeferred
        "c", "f",     # stalest green (round 1), registration order
        "b",          # round 2
        "e",          # round 3
        "d",          # deferred never-green: last
    ]


def test_gate_window_invariant_survives_future_rounds(entry_mod, tmp_path):
    """The r4 failure mode, reproduced and pinned: the invariant must hold
    not just at HEAD but AFTER the next round's correctness file lands.
    Simulate round 5: copy the real correctness history into a tmp root,
    append a synthetic CORRECTNESS_r05.json green-rowing exactly the current
    front-GATE_WINDOW names, recompute the rotation from that root, and
    assert the invariant still holds (and the window is full: the freed
    slots rotate in the stalest recorded names, not nothing)."""
    import glob
    import shutil

    from flatterer_spark.registry import (
        GATE_WINDOW,
        _collect,
        _gate_ordered,
        actively_deferred,
        last_attempt_round,
        last_green_round,
    )

    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        shutil.copy(p, tmp_path / os.path.basename(p))
    current = list(entry_mod.queries())
    fake_green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 1, "oracle_rows": 1, "err": None,
    }
    fake_rows_only = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": 1, "oracle_rows": None, "err": "no_oracle",
    }
    oracles = set(entry_mod.oracle_sql())
    r05 = {
        k: (fake_green if k in oracles else fake_rows_only)
        for k in current[:GATE_WINDOW]
    }
    (tmp_path / "CORRECTNESS_r05.json").write_text(json.dumps(r05))

    root = str(tmp_path)
    # mirror all_queries(): attempts only count for names without an oracle
    sim_attempts = {
        k: v for k, v in last_attempt_round(root).items() if k not in oracles
    }
    ordered = list(_gate_ordered(
        _collect("QUERIES"),
        last=last_green_round(root),
        deferred=actively_deferred(root),
        attempts=sim_attempts,
    ))
    recorded = set(last_green_round(root)) | set(sim_attempts)
    backlog = [k for k in ordered
               if k not in recorded and k not in actively_deferred(root)]
    assert len(backlog) <= GATE_WINDOW
    assert set(backlog) <= set(ordered[:GATE_WINDOW])
    # rotation keeps the window productive: with the backlog drained, the
    # front fills with previously-recorded (stalest-first) names
    assert len(ordered) >= GATE_WINDOW


def test_no_oracle_attempt_does_not_refront():
    """A rows-only query whose latest row is err='no_oracle' with rows
    recorded must rotate by its attempt round, not jam the window front
    every round (VERDICT r4 'What's wrong' #3).  A genuine failure (any
    other err, or no rows) still re-fronts."""
    from flatterer_spark.registry import _gate_ordered, last_attempt_round

    full = {k: k for k in ["pca", "fresh", "old_green", "failed"]}
    # pca: no-oracle attempt in round 4; old_green verified round 1;
    # fresh and failed never recorded.
    out = list(_gate_ordered(
        full, last={"old_green": 1}, deferred=set(), attempts={"pca": 4}
    ))
    assert out == ["fresh", "failed", "old_green", "pca"]

    # last_attempt_round semantics on disk: no_oracle+rows counts, a real
    # error or a missing row count does not.
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rows = {
            "pca": {"spark_rows": 500, "err": "no_oracle"},
            "boom": {"spark_rows": None, "err": "no_oracle"},
            "crash": {"spark_rows": 12, "err": "AnalysisException: ..."},
        }
        with open(os.path.join(d, "CORRECTNESS_r04.json"), "w") as f:
            json.dump(rows, f)
        att = last_attempt_round(d)
        assert att == {"pca": 4}


def test_active_deferral_expires_with_new_round(tmp_path):
    """actively_deferred() keys off the latest recorded round: once a newer
    correctness file lands, deferral ends even without a green row."""
    import json

    from flatterer_spark.registry import (
        DEFER_WHILE_LATEST_LE,
        actively_deferred,
    )

    name = next(iter(DEFER_WHILE_LATEST_LE))
    # current repo: latest file is r03 or r04 -> compare both regimes
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({}))
    assert name in actively_deferred(str(tmp_path))
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps({}))
    assert name not in actively_deferred(str(tmp_path))


def test_registry_skips_a_failing_module_loudly(monkeypatch):
    """A query module that raises at import time (``flatten_queries``
    reading an absent golden fixture) costs only its own queries: the rest
    of the registry still lists, the skip is logged at WARNING with the
    module and its error, and ``SKIPPED_MODULES`` names it for bench.py."""
    import importlib
    import logging

    from flatterer_spark import registry

    real_import = importlib.import_module
    failing = "flatterer_spark.flatten_queries"

    def import_module(name, *a, **kw):
        if name == failing:
            raise FileNotFoundError("basic_expected/fields.csv")
        return real_import(name, *a, **kw)

    monkeypatch.setattr(importlib, "import_module", import_module)
    # a handler on the package logger itself: logutil.setup_logging turns
    # propagation off, which would hide the record from caplog
    records: list[logging.LogRecord] = []
    handler = logging.Handler(logging.WARNING)
    handler.emit = records.append
    log = logging.getLogger("flatterer_spark")
    log.addHandler(handler)
    try:
        queries = registry.all_queries()
        oracles = registry.all_oracles()
    finally:
        log.removeHandler(handler)

    assert "q01_filter_project" in queries and "dedup_cluster" in queries
    assert "q01_filter_project" in oracles
    assert not any(k.startswith(("q19_flatten", "q20_flatten")) for k in queries)
    assert registry.SKIPPED_MODULES == {
        failing: "FileNotFoundError: basic_expected/fields.csv"
    }
    warned = [r.getMessage() for r in records if r.levelno == logging.WARNING]
    assert any(failing in m and "FileNotFoundError" in m for m in warned), warned
