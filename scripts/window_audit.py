"""Stale-green audit for the correctness-gate window (registry.QUERY_ORDER).

The driver's per-round CORRECTNESS gate checks only the FIRST 50 entries of
``queries()``; everything below keeps its old official record.  Round 3
showed that record can go silently stale: the testdata format changed and
three officially-green streaming queries became wrong with no signal.

This script turns the re-window policy into checked code.  For every
declared query it reports one of:

- ``never-green``: no official green in any CORRECTNESS_r*.json — must be
  inside the window.
- ``stale?``: officially green once, but the query's implementing FUNCTION
  (tracked with ``git log -L`` over its current source span) was modified
  after the round that recorded the green — the record no longer describes
  the current code; front-load it or re-confirm with a local parity run.
- ``fresh``: green, function untouched since.

Granularity note: the span tracks the ``q_<name>`` function body; a change
to a shared helper outside the span is NOT flagged (the full local parity
suite, which runs every oracle pair, remains the backstop).  Testdata
format drift is covered separately by ``tests/test_testdata_manifest.py``,
which fails the whole suite loudly.

Usage:  python scripts/window_audit.py            # human report
        python scripts/window_audit.py --json     # machine-readable

Exit code is always 0 — this is a warning tool; the hard correctness gate
is ``tests/test_oracle_parity.py``.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from self_healing_data_pipeline_agent_spark.registry import all_queries  # noqa: E402

WINDOW = 50

# Queries verified by pytest ONLY, by nature: no SQL twin exists, so the
# driver's oracle check records `err: no_oracle` every round and a window
# seat can never earn a green (POLICY r16, registry.QUERY_ORDER: demoted
# below the cut permanently; the seat is worth more as an aged re-green).
# The audit treats these as exempt from the "untrustworthy outside the
# window" invariant — their freshness gate is tests/, not the record.
PYTEST_ONLY = {"streaming_state_metrics"}


def _git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=False
    )


def official_green_records() -> dict[str, tuple[int, str]]:
    """query -> (latest green round, path of that round's CORRECTNESS
    file).  Green = hash_match, or rows_match for rows-only checks.  The
    path is carried so the green's commit is derived from the FILE THE
    GLOB MATCHED — not a re-formatted filename that can disagree on digit
    padding (the r4 blind spot)."""
    greens: dict[str, tuple[int, str]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            data = json.load(f)
        for name, rec in data.items():
            if not isinstance(rec, dict):
                continue
            ok = rec.get("hash_match")
            if ok is None:
                ok = rec.get("rows_match")
            if ok and (name not in greens or rnd > greens[name][0]):
                greens[name] = (rnd, path)
    return greens


def official_greens() -> dict[str, int]:
    """query -> latest green round (round-only view, kept for callers)."""
    return {name: rnd for name, (rnd, _) in official_green_records().items()}


def round_commit(path: str) -> str | None:
    """Commit that recorded the correctness file at ``path``; None when
    the file is untracked (the driver writes CORRECTNESS_r{N}.json AFTER
    the round's last commit, so for the newest round this is the NORMAL
    case, not an error — the record then describes the working tree)."""
    rel = os.path.relpath(path, REPO)
    out = _git("log", "--format=%H", "-1", "--", rel).stdout.strip()
    return out or None


def commit_time(sha: str) -> int | None:
    out = _git("show", "-s", "--format=%ct", sha).stdout.strip()
    return int(out.splitlines()[0]) if out else None


def fn_span(fn) -> tuple[str, int, int] | None:
    """(repo-relative file, first line, last line) of the query function.
    Registry entries wrap the operator's ``q_*`` function, and
    ``getsourcefile`` does not follow ``__wrapped__``, so unwrap first."""
    fn = inspect.unwrap(fn)
    try:
        lines, start = inspect.getsourcelines(fn)
        f = inspect.getsourcefile(fn)
    except (OSError, TypeError):
        return None
    if not f:
        return None
    return os.path.relpath(f, REPO), start, start + len(lines) - 1


_ORACLE_SPANS: dict[str, tuple[str, int, int]] | None = None


def oracle_spans() -> dict[str, tuple[str, int, int]]:
    """query -> (repo-relative file, first line, last line) of its
    ``ORACLES["name"] = ...`` assignment, located via AST over every
    registry module.  Added in r8: the audit tracked only the q_ function
    span, so an oracle-side contract edit (exactly the r8
    char_lm_perplexity CAST fix) left the official record looking fresh.
    Module-level CONSTANTS interpolated into either span (the r7
    ``Q8_REGION`` case) are covered for COMMITTED edits by the contract
    fingerprint comparison in ``audit()`` (the rendered oracle + plan
    hashes change whenever a constant reaches either engine); the
    residual gap is UNCOMMITTED working-tree constant edits —
    fingerprints compare committed revisions and ``_span_dirty`` only
    sees hunks overlapping the tracked spans — for which the local
    parity suite is the backstop."""
    global _ORACLE_SPANS
    if _ORACLE_SPANS is not None:
        return _ORACLE_SPANS
    import ast

    from self_healing_data_pipeline_agent_spark import registry

    spans: dict[str, tuple[str, int, int]] = {}
    for mod in registry._MODULES:
        f = inspect.getsourcefile(mod)
        if not f:
            continue
        tree = ast.parse(open(f).read())
        rel = os.path.relpath(f, REPO)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Assign):
                continue
            for t in node.targets:
                if (
                    isinstance(t, ast.Subscript)
                    and isinstance(t.value, ast.Name)
                    and t.value.id == "ORACLES"
                    and isinstance(t.slice, ast.Constant)
                    and isinstance(t.slice.value, str)
                ):
                    spans[t.slice.value] = (rel, node.lineno, node.end_lineno)
    _ORACLE_SPANS = spans
    return spans


def last_touch(file: str, start: int, end: int) -> str | None:
    """Most recent commit modifying the function's source range.

    ``git log -L`` follows the range through history, so line drift from
    unrelated edits above the function does not cause false positives."""
    out = _git(
        "log", f"-L{start},{end}:{file}", "--format=%H", "-s", "-1"
    ).stdout.strip()
    return out.splitlines()[0] if out else None


def is_ancestor(maybe_ancestor: str, commit: str) -> bool:
    return _git(
        "merge-base", "--is-ancestor", maybe_ancestor, commit
    ).returncode == 0


def _worktree_hunks(file: str, cache: dict[str, list[tuple[int, int]]]) -> list[tuple[int, int]]:
    """New-side line ranges of uncommitted (HEAD->worktree) edits to
    ``file``; cached per file since many queries share a module."""
    if file not in cache:
        out = _git("diff", "-U0", "HEAD", "--", file).stdout
        ranges: list[tuple[int, int]] = []
        for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", out, re.M):
            c = int(m.group(1))
            d = int(m.group(2)) if m.group(2) is not None else 1
            ranges.append((c, c + max(d, 1) - 1))
        cache[file] = ranges
    return cache[file]


def _span_dirty(file: str, start: int, end: int, cache: dict) -> bool:
    return any(a <= end and start <= b for a, b in _worktree_hunks(file, cache))


def _head_shifts(file: str, cache: dict[str, list[tuple[int, int]]]) -> list[tuple[int, int]]:
    """(first worktree line after the hunk, old-minus-new line count) for
    each uncommitted hunk of ``file``, in file order; cached per file."""
    if file not in cache:
        out = _git("diff", "-U0", "HEAD", "--", file).stdout
        shifts: list[tuple[int, int]] = []
        for m in re.finditer(
            r"^@@ -\d+(?:,(\d+))? \+(\d+)(?:,(\d+))? @@", out, re.M
        ):
            b = int(m.group(1)) if m.group(1) is not None else 1
            c = int(m.group(2))
            d = int(m.group(3)) if m.group(3) is not None else 1
            # a pure deletion (d == 0) sits after worktree line c
            shifts.append((c + 1 if d == 0 else c + d, b - d))
        cache[file] = shifts
    return cache[file]


def _head_line(file: str, line: int, cache: dict) -> int:
    """Map a worktree line of ``file`` to its line number in HEAD.

    ``inspect`` reads the worktree, ``git log -L`` reads HEAD: without
    this map an uncommitted edit ABOVE a function points the history
    query at the wrong lines of HEAD and dates an unrelated change.
    Lines inside a hunk map approximately; such spans are caught by
    ``_span_dirty`` anyway."""
    return line + sum(s for after, s in _head_shifts(file, cache) if line >= after)


def audit() -> dict:
    queries = all_queries()
    greens = official_green_records()
    commits = {path: round_commit(path) for _, path in set(greens.values())}
    dirty_cache: dict[str, list[tuple[int, int]]] = {}
    shift_cache: dict[str, list[tuple[int, int]]] = {}
    report: dict[str, dict] = {}
    for pos, (name, fn) in enumerate(queries.items()):
        entry: dict = {"position": pos, "in_window": pos < WINDOW}
        if name not in greens:
            entry["status"] = "never-green"
            report[name] = entry
            continue
        last_green, record_path = greens[name]
        entry["last_green_round"] = last_green
        green_commit = commits.get(record_path)
        span = fn_span(fn)
        if span is None:
            entry["status"] = "stale?"
            entry["reason"] = "cannot locate function span"
            report[name] = entry
            continue
        # Both halves of the contract are tracked (r8): the q_ function
        # AND its ORACLES["name"] assignment — an edit to either means
        # the official record no longer describes the committed contract.
        spans = [span]
        ospan = oracle_spans().get(name)
        if ospan is not None:
            spans.append(ospan)
        status, reason, note = "fresh", None, None
        for file, start, end in spans:
            touch = last_touch(
                file,
                _head_line(file, start, shift_cache),
                _head_line(file, end, shift_cache),
            )
            if touch is None:
                # fail CLOSED: a tool that cannot date the span must not
                # report the green as trustworthy (ADVICE r4 — the old
                # fail-open here was a silent false-green)
                status = "stale?"
                reason = "could not determine last modification " \
                         f"of {file}:{start}-{end}"
                break
            if green_commit is None:
                # Untracked record: the driver wrote it AFTER the round's
                # last commit, against the then-current working tree — the
                # normal state for the newest round (r4's blind spot: this
                # read as "cannot locate green commit" and flagged all 50
                # greens).  The record's mtime dates the green; a later
                # commit or a pending worktree edit over the span
                # invalidates it.
                record_mtime = os.path.getmtime(record_path)
                touch_time = commit_time(touch)
                if touch_time is not None and touch_time > record_mtime:
                    status = "stale?"
                    reason = f"{file}:{start}-{end} committed in " \
                             f"{touch[:10]} after round {last_green}'s " \
                             "(untracked) record was written"
                    break
                if _span_dirty(file, start, end, dirty_cache):
                    status = "stale?"
                    reason = f"uncommitted edits overlap {file}:" \
                             f"{start}-{end} after the untracked record"
                    break
                note = "record untracked; green dated by file mtime"
            elif not is_ancestor(touch, green_commit):
                status = "stale?"
                reason = f"{file}:{start}-{end} modified in {touch[:10]} " \
                         f"after round {last_green}'s record"
                break
            elif _span_dirty(file, start, end, dirty_cache):
                status = "stale?"
                reason = f"uncommitted edits overlap {file}:{start}-{end}"
                break
        # Third check (r8): the contract FINGERPRINT.  Spans cannot see a
        # module-level constant edit that re-renders into the oracle or
        # the plan (the Q8_REGION case); the committed
        # CONTRACT_FINGERPRINTS.json hashes both rendered halves, and
        # tests/test_contract_fingerprints.py forces it to be regenerated
        # in the same commit as any contract change — so comparing the
        # entry at the green round's commit against HEAD's dates semantic
        # changes exactly.  Records green before the file existed carry a
        # note instead (spans + local parity remain their backstop).
        if status == "fresh" and green_commit is not None:
            then = _fingerprints_at(green_commit)
            now = _fingerprints_at("HEAD")
            if then is None or now is None:
                entry["note"] = (entry.get("note", "") +
                                 " no fingerprint at green round").strip()
            elif then.get(name) != now.get(name):
                status = "stale?"
                reason = ("contract fingerprint changed since round "
                          f"{last_green}'s record (oracle/plan hash)")
        entry["status"] = status
        if reason:
            entry["reason"] = reason
        if note and status == "fresh":
            entry["note"] = note
        report[name] = entry
    return report


_FP_CACHE: dict[str, dict | None] = {}


def _fingerprints_at(rev: str) -> dict | None:
    """CONTRACT_FINGERPRINTS.json as of ``rev`` (None if absent there)."""
    if rev not in _FP_CACHE:
        out = _git("show", f"{rev}:CONTRACT_FINGERPRINTS.json")
        _FP_CACHE[rev] = (
            json.loads(out.stdout) if out.returncode == 0 else None
        )
    return _FP_CACHE[rev]


def main() -> None:
    report = audit()
    if "--json" in sys.argv:
        print(json.dumps(report, indent=2))
        return
    needs_window = {
        n: e for n, e in report.items()
        if e["status"] in ("never-green", "stale?")
        and not e["in_window"]
        and n not in PYTEST_ONLY  # policy-demoted, pytest-verified slots
    }
    counts: dict[str, int] = {}
    for e in report.values():
        counts[e["status"]] = counts.get(e["status"], 0) + 1
    print(f"queries: {len(report)}  " +
          "  ".join(f"{k}: {v}" for k, v in sorted(counts.items())))
    stale_in_window = [
        n for n, e in report.items()
        if e["status"] in ("never-green", "stale?") and e["in_window"]
    ]
    if stale_in_window:
        print(f"inside window (will be re-checked next round): "
              f"{', '.join(stale_in_window)}")
    if not needs_window:
        print("window OK: every never-green/stale query is inside the "
              f"first {WINDOW} entries of QUERY_ORDER (or none exist).")
    else:
        print(f"\nWARNING - {len(needs_window)} queries have no trustworthy "
              f"official record AND sit outside the {WINDOW}-entry window:")
        for n, e in sorted(needs_window.items(), key=lambda kv: kv[1]["position"]):
            print(f"  #{e['position']:3d} {n}: {e['status']} "
                  f"({e.get('reason', 'never green')})")
        print("\nFront-load these in registry.QUERY_ORDER, or re-confirm via "
              "`pytest tests/test_oracle_parity.py -k <name>`.")


if __name__ == "__main__":
    main()
