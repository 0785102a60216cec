"""Tests for the round tooling: the stale-green window audit and the
benchmark's failure guards.  Pure-Python (no Spark session needed)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_script(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "scripts", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_official_greens_tracks_latest_round():
    """A query green in multiple rounds must report its LATEST round; reds
    must not register.  Checked against the real CORRECTNESS files."""
    wa = _load_script("window_audit")
    greens = wa.official_greens()
    # known facts from the committed records
    assert greens["tpch_q1"] >= 1  # green since round 1
    assert greens["tpch_q7"] >= 3  # first green in round 3
    # the r3 streaming reds must NOT have an r3 green; r1/r2 greens may
    # exist for the stale trio, but the never-green ones are absent
    r3 = json.load(open(os.path.join(REPO, "CORRECTNESS_r03.json")))
    for name, rec in r3.items():
        if rec.get("hash_match") is False and name not in {
            k for k, v in greens.items() if v < 3
        }:
            assert greens.get(name) != 3, f"{name} red in r3 but counted green"


def test_window_audit_report_structure():
    wa = _load_script("window_audit")
    report = wa.audit()
    from self_healing_data_pipeline_agent_spark.registry import all_queries

    assert set(report) == set(all_queries())
    for name, entry in report.items():
        assert entry["status"] in ("fresh", "stale?", "never-green")
        assert isinstance(entry["position"], int)
    # the audit's own invariant: nothing untrustworthy outside the window
    # (wa.PYTEST_ONLY is the documented exemption: rows-only-by-nature
    # queries can never earn a green, so their seat is policy-demoted and
    # their freshness gate is tests/, not the official record)
    outside = [
        n for n, e in report.items()
        if e["status"] in ("never-green", "stale?")
        and not e["in_window"]
        and n not in wa.PYTEST_ONLY
    ]
    assert outside == [], f"untrustworthy queries outside window: {outside}"


def test_window_audit_untracked_record_reads_fresh(monkeypatch):
    """The newest round's CORRECTNESS file is written by the driver AFTER
    the round's last commit, so it is untracked when the audit runs.  r4's
    tool degraded to blanket 'stale?' there — its primary production case.
    An untracked record must date the green by file mtime and report
    untouched functions as fresh."""
    wa = _load_script("window_audit")
    monkeypatch.setattr(wa, "round_commit", lambda path: None)
    report = wa.audit()
    greens = wa.official_green_records()
    # a query green in r4 whose function predates the r4 record's mtime
    entry = report["tpch_q7"]
    assert greens["tpch_q7"][0] >= 3
    assert entry["status"] == "fresh", entry
    assert "untracked" in entry.get("note", "")


def test_window_audit_fails_closed_when_history_unavailable(monkeypatch):
    """If git cannot date the function span, the audit must NOT report
    'fresh' (the r4 fail-open was a silent false-green in the very tool
    meant to catch silent false-greens)."""
    wa = _load_script("window_audit")
    monkeypatch.setattr(wa, "last_touch", lambda *a, **k: None)
    report = wa.audit()
    greened = [e for e in report.values() if "last_green_round" in e]
    assert greened, "expected at least one green entry"
    for e in greened:
        assert e["status"] == "stale?"
        assert "could not determine" in e["reason"]


def test_window_audit_span_dirty_intersection():
    wa = _load_script("window_audit")
    cache = {"mod.py": [(10, 12), (40, 40)]}
    assert wa._span_dirty("mod.py", 1, 10, cache)      # touches hunk start
    assert wa._span_dirty("mod.py", 12, 30, cache)     # touches hunk end
    assert wa._span_dirty("mod.py", 35, 45, cache)     # spans one-liner
    assert not wa._span_dirty("mod.py", 13, 39, cache)  # between hunks
    assert not wa._span_dirty("other.py", 1, 99, {"other.py": []})


def test_window_audit_head_line_mapping():
    """Worktree lines map back to HEAD lines past uncommitted hunks, so
    ``git log -L`` dates the function, not whatever HEAD has there."""
    wa = _load_script("window_audit")
    # hunk 1: 2 HEAD lines became 5 (worktree 10-14); hunk 2: 4 HEAD
    # lines deleted after worktree line 30
    cache = {"mod.py": [(15, -3), (31, 4)]}
    assert wa._head_line("mod.py", 9, cache) == 9      # above every hunk
    assert wa._head_line("mod.py", 15, cache) == 12    # below hunk 1
    assert wa._head_line("mod.py", 30, cache) == 27    # above the deletion
    assert wa._head_line("mod.py", 31, cache) == 32    # below both
    assert wa._head_line("other.py", 7, {"other.py": []}) == 7


def test_registry_entries_keep_module_and_source_span():
    """The registry wraps every query (the cache-lifetime rule), and two
    tools read through the wrapper: the benchmark's per-layer split keys
    on ``fn.__module__``, and the window audit dates a query by its
    source span.  Both must still name the operator, not registry.py."""
    import inspect

    from self_healing_data_pipeline_agent_spark import registry

    wa = _load_script("window_audit")
    for name, fn in registry.all_queries().items():
        assert fn.__module__ == inspect.unwrap(fn).__module__, name
        assert fn.__module__ != registry.__name__, name
        defining = inspect.getsourcefile(sys.modules[fn.__module__])
        span = wa.fn_span(fn)
        assert span and span[0] == os.path.relpath(defining, REPO), name


def test_create_dataframe_only_in_local_frame():
    """``createDataFrame`` over a Python list pickles the rows into a
    Python RDD, so every job over the frame starts a Python worker.  The
    package builds driver-side frames through ``sources.tables.
    local_frame`` alone, which ships them as an Arrow LocalRelation."""
    import ast

    pkg = os.path.join(REPO, "self_healing_data_pipeline_agent_spark")
    found = []
    for root, _, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            parent = {
                child: node
                for node in ast.walk(tree)
                for child in ast.iter_child_nodes(node)
            }
            for node in ast.walk(tree):
                named = (
                    getattr(node, "attr", None)
                    or getattr(node, "id", None)
                    or getattr(node, "value", None)
                )
                if named != "createDataFrame":
                    continue
                scope = node
                while scope in parent and not isinstance(
                    scope, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    scope = parent[scope]
                found.append((
                    os.path.relpath(path, pkg),
                    getattr(scope, "name", "<module>"),
                    node.lineno,
                ))
    assert [(p, fn) for p, fn, _ in found] == [
        (os.path.join("sources", "tables.py"), "local_frame")
    ], found


def test_sessions_are_built_only_by_get_spark():
    """``session.get_spark`` starts the driver JVM from the class-data
    archive through ``spark.driver.defaultJavaOptions``.  No product entry
    point builds a session another way, and none sets
    ``spark.driver.extraJavaOptions``, so every one gets the archive and
    keeps the whole of a caller's option string."""
    import ast

    paths = [os.path.join(REPO, f) for f in ("app.py", "bench.py", "__spark_entry__.py")]
    for sub in ("self_healing_data_pipeline_agent_spark", "scripts"):
        for root, _, files in os.walk(os.path.join(REPO, sub)):
            paths += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    builders, java_opts = [], []
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, REPO)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute) and node.attr == "builder"
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "SparkSession"):
                builders.append(rel)
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and "extraJavaOptions" in node.value):
                java_opts.append((rel, node.lineno))
    assert builders == [
        os.path.join("self_healing_data_pipeline_agent_spark", "session.py")
    ], builders
    assert java_opts == [], java_opts


def test_bench_result_line_queries_survive_tail_truncation():
    """The driver archives only the LAST 2000 chars of bench.py's JSON
    line (BENCH_r04.json lost the Spark per-query dict to head
    truncation).  The Spark per-query map must be the final key and fit —
    with room to spare — inside that tail at the real headline size."""
    sys.path.insert(0, REPO)
    import bench

    # worst case: every query timed AND flagged noisy AND errored lists
    # populated, max-width values everywhere.  _result_line CLAMPS each
    # per-query value to 999.99 (bench.py has no per-query timeout, so
    # without the clamp one hung query would widen its value past the
    # 6-char budget this guarantee is sized for); feed absurd inputs and
    # assert the clamp holds the line under the tail.
    timings = {n: 87654.321 for n in bench.HEADLINE}
    line = bench._result_line(
        total=99999.999, sf=0.1, timings=timings,
        noisy=list(bench.HEADLINE), errors=list(bench.HEADLINE),
        duck_total=99999.999, ratio=999.999,
        duck_timings={n: 87654.321 for n in bench.HEADLINE},
        # the r15 stall-defense fields at THEIR worst case too ("99" per
        # top entry, max-width scalars) — the guarantee must be measured
        # against the widest line the code can emit
        steal_pct={n: 999 for n in bench.HEADLINE}, steal_s=99999.9,
        n_requeued=len(bench.HEADLINE),
    )
    # the ENTIRE line fits in the 2000-char tail: queries (last key) and
    # value (first) both survive.  All values tie here, so the TOP_K
    # tie-break selects names deterministically (asc) — but the length
    # guarantee must hold for ANY name subset, so demand real headroom
    # (>= ~5 more 30-char worst-case entries).
    assert len(line) <= 2000 - 150, f"bench line {len(line)} chars"
    parsed = json.loads(line)
    assert list(parsed)[-1] == "queries"
    assert parsed["value"] == 99999.999
    # r13: noisy names are archived IN the line (stderr is not kept by
    # the driver) — capped, most-expensive-first, overflow marked
    assert parsed["n_noisy"] == len(bench.HEADLINE)
    arch = parsed["noisy_queries"]
    assert len(arch) <= bench.NOISY_ARCHIVE_CHARS + 10
    listed = arch.split("(+")[0].split(",")
    assert all(n in bench.HEADLINE for n in listed if n)
    assert "(+" in arch, "worst case must mark the overflow"
    assert len(parsed["queries"]) == min(bench.TOP_K, len(timings))
    assert all(v == 999.99 for v in parsed["queries"].values())
    # the r12 adjudication column: same names as the Spark map, clamped
    assert set(parsed["duck_queries"]) == set(parsed["queries"])
    assert all(v == 999.99 for v in parsed["duck_queries"].values())
    # the fold-away remainder is fully accounted for
    assert parsed["oq_n"] == len(timings) - len(parsed["queries"])
    assert parsed["n_queries"] == len(timings)
    # and an ordinary sub-1000s value is NOT altered beyond rounding;
    # expensive queries always make the TOP_K cut
    ordinary = {n: 0.1 for n in bench.HEADLINE}
    ordinary["tpch_q1"] = 1.234
    line2 = bench._result_line(
        total=99999.999, sf=0.1, timings=ordinary, noisy=[], errors=[],
        duck_total=99999.999, ratio=999.999,
    )
    parsed2 = json.loads(line2)
    assert parsed2["queries"]["tpch_q1"] == 1.23
    # no duck timings -> empty map, never a crash
    assert parsed2["duck_queries"] == {}
    assert abs(
        parsed2["oq_sum"] - 0.1 * parsed2["oq_n"]
    ) < 0.01 * parsed2["oq_n"] + 1e-6


def test_bench_duckdb_guard_survives_setup_failure(monkeypatch):
    """A missing table file / dead connection must cost only the DuckDB
    comparison column, never the Spark record (ADVICE r4)."""
    sys.path.insert(0, REPO)
    import bench

    assert bench._bench_duckdb(["row_count"], "/nonexistent/sf0") == {}


def test_bench_duckdb_guard_skips_broken_oracle(monkeypatch):
    """One broken oracle must cost only its own row, not the comparison
    column."""
    sys.path.insert(0, REPO)
    import bench

    from self_healing_data_pipeline_agent_spark import registry

    real = registry.all_oracles()
    fake = dict(real)
    fake["row_count"] = "SELECT * FROM definitely_missing_table"
    monkeypatch.setattr(registry, "all_oracles", lambda: fake)
    timings = bench._bench_duckdb(
        ["row_count", "exact_dedup_docs"], "/root/testdata/sf0.001"
    )
    assert "row_count" not in timings
    assert "exact_dedup_docs" in timings


def test_query_order_has_no_duplicates():
    """Duplicate QUERY_ORDER entries are harmless at runtime (_collect pops)
    but silently mislead the 50-entry window bookkeeping — r5 shipped two."""
    from self_healing_data_pipeline_agent_spark.registry import QUERY_ORDER

    dupes = {n for n in QUERY_ORDER if QUERY_ORDER.count(n) > 1}
    assert len(QUERY_ORDER) == len(set(QUERY_ORDER)), f"duplicates: {dupes}"


def test_query_order_names_all_exist():
    """Every QUERY_ORDER entry must resolve to a real q_ function — a typo
    here silently drops a query out of the driver's window."""
    from self_healing_data_pipeline_agent_spark.registry import (
        QUERY_ORDER,
        all_queries,
    )

    declared = set(all_queries())
    missing = [n for n in QUERY_ORDER if n not in declared]
    assert not missing, f"QUERY_ORDER names without implementations: {missing}"


def test_bench_sample_runs_warming_vs_noise():
    """_sample_runs must (a) stop at 2 on a steady pair, (b) keep
    sampling through a still-warming decline WITHOUT flagging noise
    (the r13 perceptron case: [13, 7] passes the noise rule but is 3x
    steady state), and (c) flag noise on a genuine mid-pair stall."""
    sys.path.insert(0, REPO)
    import bench

    def feed(seq):
        it = iter(seq)
        return lambda: next(it)

    runs, noisy = bench._sample_runs(feed([1.0, 1.05]))
    assert runs == [1.0, 1.05] and not noisy

    runs, noisy = bench._sample_runs(feed([13.0, 7.0, 3.0, 2.8]))
    assert len(runs) == 4 and min(runs) == 2.8
    assert not noisy, "a warming decline is not host noise"

    runs, noisy = bench._sample_runs(feed([1.0, 3.0, 1.05, 1.1]))
    assert noisy, "a >NOISE_RATIO mid-pair swing must flag noisy"
    assert min(runs) == 1.0

    # MAX_RUNS bounds a never-converging host
    runs, noisy = bench._sample_runs(feed([8.0, 4.0, 2.0, 1.0, 0.5]))
    assert len(runs) == bench.MAX_RUNS


def test_bench_reference_check_helpers(monkeypatch):
    """The sustained-stall defenses (r14 verdict #2): _load_reference
    parses BENCH.md's machine-generated table into {query: steady_s}
    (and returns {} on a missing file, never raising), and _steal_pct
    converts /proc/stat steal-tick deltas into percent-of-capacity."""
    sys.path.insert(0, REPO)
    import os

    import bench

    ref = bench._load_reference()
    assert len(ref) > 100, "BENCH.md table rows not parsed"
    assert all(isinstance(v, float) and v > 0 for v in ref.values())
    assert "tpch_q1" in ref and "repetition_ratio" in ref
    assert bench._load_reference("/nonexistent/BENCH.md") == {}

    hz = os.sysconf("SC_CLK_TCK")
    ncpu = os.cpu_count() or 1
    # 10% of capacity stolen over 10 s: delta = 0.1 * 10 * hz * ncpu
    monkeypatch.setattr(
        bench, "_steal_ticks", lambda: int(1000 + 0.1 * 10 * hz * ncpu)
    )
    assert bench._steal_pct(1000, 10.0) == 10
    monkeypatch.setattr(bench, "_steal_ticks", lambda: None)
    assert bench._steal_pct(1000, 10.0) is None
    assert bench._steal_pct(None, 10.0) is None


def test_bench_result_line_steal_fields():
    """The stall-defense fields ride the archived JSON line: steal_s /
    n_requeued scalars and steal_pct_top positionally aligned (comma
    string) with the ``queries`` keys, clamped to 2 digits."""
    sys.path.insert(0, REPO)
    import bench

    timings = {n: float(i + 1) for i, n in enumerate(bench.HEADLINE)}
    line = bench._result_line(
        total=1.0, sf=0.1, timings=timings, noisy=[], errors=[],
        duck_total=1.0, ratio=1.0, duck_timings={},
        steal_pct={n: 150 for n in bench.HEADLINE}, steal_s=12.3,
        n_requeued=2,
    )
    parsed = json.loads(line)
    assert parsed["steal_s"] == 12.3
    assert parsed["n_requeued"] == 2
    pcts = parsed["steal_pct_top"].split(",")
    assert len(pcts) == len(parsed["queries"])
    assert all(p == "99" for p in pcts)  # clamped


def test_bench_md_min_merge_is_provenance_bounded(tmp_path, monkeypatch):
    """r16 verdict #4: the BENCH.md per-row min-merge must be BOUNDED —
    a previous session's row may only beat the fresh measurement when
    the committed provenance shows it was steal-certified AND measured
    under the same contract fingerprint; anything else expires."""
    mbm = _load_script("make_bench_md")
    monkeypatch.setattr(mbm, "PROVENANCE_FILE", str(tmp_path / "prov.json"))
    monkeypatch.setattr(
        mbm, "_fingerprints", lambda: {"q1": "f1", "q2": "f2", "q3": "f3",
                                       "q4": "f4"}
    )
    prev = {
        "session": "s0",
        "rows": {
            # certified + same fingerprint + faster -> survives the merge
            "q1": {"spark_s": 1.0, "steal_pct": 0, "session": "s0",
                   "fingerprint": "f1"},
            # fingerprint CHANGED since -> expires even though faster
            "q2": {"spark_s": 1.0, "steal_pct": 0, "session": "s0",
                   "fingerprint": "OLD"},
            # steal uncertified (None = unmeasurable) -> expires
            "q3": {"spark_s": 1.0, "steal_pct": None, "session": "s0",
                   "fingerprint": "f3"},
            # certified but SLOWER than fresh -> fresh wins
            "q4": {"spark_s": 9.0, "steal_pct": 0, "session": "s0",
                   "fingerprint": "f4"},
        },
    }
    (tmp_path / "prov.json").write_text(json.dumps(prev))
    fresh = {"q1": 2.0, "q2": 2.0, "q3": 2.0, "q4": 2.0}
    steal = {"q1": 1, "q2": 1, "q3": 1, "q4": 1}
    merged = mbm.merge_with_provenance(fresh, steal, "s1")
    assert merged == {"q1": 1.0, "q2": 2.0, "q3": 2.0, "q4": 2.0}
    # the rewritten sidecar records which row each value came from
    out = json.loads((tmp_path / "prov.json").read_text())
    assert out["rows"]["q1"]["session"] == "s0"  # surviving archived row
    assert out["rows"]["q2"]["session"] == "s1"  # expired -> fresh row
    assert out["rows"]["q2"]["fingerprint"] == "f2"
    assert out["rows"]["q4"]["session"] == "s1"
