"""Automated drift-protocol check for the BENCH ≤2× gate.

The grading gate compares every per-query bench time against the FIRST
number ever recorded for that query (BASELINE.md protocol).  Those
first-recorded values live in the git history of BENCH_DETAIL.json, so
this tool (a) reconstructs them once into BENCH_HISTORY.json — first
value, the commit that recorded it, and the all-time minimum (the
machine-capability floor, used to tell ambient drift from a real
regression) — and (b) compares the CURRENT BENCH_DETAIL.json against
them, printing every query whose ratio exceeds the warn threshold and
failing if any exceeds the gate.

Usage:
    python tools/bench_gate.py rebuild    # regenerate BENCH_HISTORY.json
    python tools/bench_gate.py check      # gate current BENCH_DETAIL.json
    python tools/bench_gate.py check --warn 1.5 --gate 2.0 --ceiling 4.0
    python tools/bench_gate.py repin NAME --note "why"   # dated re-pin

Drift robustness (round 11, VERDICT r10 task 1):

* **Re-pins** live in ``BENCH_REPINS.json`` — dated, annotated
  adjudications that supersede a git-reconstructed ``first`` (most aged
  pins date to a commit where the battery was a fraction of its size
  and the measurement discipline was ``in-session``).  ``rebuild``
  stays a PURE git reconstruction; both ``check`` and the written
  history overlay the re-pins at read time, so provenance is never
  destroyed: the superseded value is kept inside the re-pin record.

* **Canary normalization**: the sub-second pure-SQL cohort (entries
  with no Python/BLAS/streaming anywhere, which cannot regress
  algorithmically without the whole battery moving) is a free
  host-speed probe.  ``check`` computes ``host_factor`` = median canary
  ratio, reports every ratio raw AND normalized (raw / max(1,
  host_factor)), and gates on the NORMALIZED number — a breach whose
  raw ratio exceeds the gate but whose normalized ratio does not is
  classified ``ambient`` (machine-readably, in BENCH_GATE_REPORT.json)
  instead of failing the run.  An absolute raw ceiling (default 4×)
  stays in force so normalization can never hide a uniform real
  regression: any entry over the ceiling fails regardless of the
  canaries (which a uniform real regression would drag along too).

`check` distinguishes the two failure shapes the drift protocol cares
about: a UNIFORM shift of the whole battery (median ratio moves with
the outliers → ambient host drift; document it, don't chase code) vs an
ISOLATED outlier (median stays put → a real per-query regression;
re-measure min-of-3 and root-cause before believing it).

* **Consecutive-breach tripwire** (round 12, VERDICT r11 task 8): the
  canaries can classify any single sub-ceiling breach as ambient, so a
  real regression between the gate and the ceiling could in principle
  hide behind host noise indefinitely.  An entry whose NORMALIZED
  ratio exceeds ``--tripwire`` (default 1.5×) in BOTH the current run
  and the most recent committed run with different timings fails the
  gate regardless of host factor — the host factor is already divided
  out, and two runs in a row is not weather.
"""

from __future__ import annotations

import argparse
import ast
import datetime
import json
import subprocess
import sys
from pathlib import Path
from statistics import median

REPO = Path(__file__).resolve().parents[1]
HISTORY = REPO / "BENCH_HISTORY.json"
REPINS = REPO / "BENCH_REPINS.json"
DETAIL = REPO / "BENCH_DETAIL.json"
REPORT = REPO / "BENCH_GATE_REPORT.json"

# Host-speed canaries: sub-second pure-SQL/codegen entries — no Python
# workers, no BLAS, no streaming state, no file-layout sensitivity —
# whose only way to slow down together is the host itself.  Each canary
# is still individually gated by the absolute raw ceiling, and with
# this many of them one genuinely-regressed canary cannot move the
# median; a UNIFORM code regression across all of them would also hit
# the ceiling on the heavier entries it would equally affect.
CANARIES = [
    "sql_pipe_syntax",
    "sql_null_semantics",
    "dq_observed_metrics",
    "sql_collations",
    "heavy_hitters_tokens",
    "events_hourly",
    "agg_rollup",
    "agg_pivot",
    "array_higher_order",
    "mixture_weighted_sample",
    "tpch_disjunctive_filter",
    "docs_per_source_cap",
    "events_anomaly_zscore",
    "text_tokenize_bpe",
    "json_variant_extract",
]


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout


def _isolate_names(bench_src: str) -> list[str]:
    """String constants of the ISOLATE_DEFAULT list literal, parsed from
    the AST (ADVICE r10: the old fixed-width substring window would
    silently misclassify once the list outgrew it)."""
    try:
        tree = ast.parse(bench_src)
    except SyntaxError:
        return []
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "ISOLATE_DEFAULT" for t in node.targets
        ):
            if isinstance(node.value, (ast.List, ast.Tuple)):
                return [
                    e.value
                    for e in node.value.elts
                    if isinstance(e, ast.Constant) and isinstance(e.value, str)
                ]
    return []


def _protocol_at(sha: str) -> str:
    """Measurement discipline in force when a pin was recorded, read
    from THAT commit's bench.py (VERDICT r09 task 7: `first` values
    span several disciplines; future drift adjudication should not have
    to re-litigate which protocol a pin was taken under).

    * ``in-session``      — pre-r8: every entry timed inside one aging
                            JVM session, no BLAS thread cap.
    * ``isolated-v1``     — r8/r9: BLAS env+ctypes caps in force,
                            min(in-session, fresh-process) for the
                            BLAS/recall/streaming isolation list.
    * ``isolated-v2``     — r10: isolation list extended to the
                            shingle/doc-dedup family.
    * ``isolated-v3``     — r11+: v2 plus skip-if-clean (an entry
                            already ≤1.2× of its pin in-session skips
                            the fresh-process re-measure).
    """
    try:
        bench = _git("show", f"{sha}:bench.py")
    except subprocess.CalledProcessError:
        return "in-session"
    if "ISOLATE_DEFAULT" not in bench:
        return "in-session"
    if "SKIP_ISOLATION_RATIO" in bench:
        return "isolated-v3"
    if "dedup_minhash_lsh" in _isolate_names(bench):
        return "isolated-v2"
    return "isolated-v1"


def _load_repins() -> dict[str, dict]:
    if not REPINS.exists():
        return {}
    with open(REPINS) as fh:
        return json.load(fh)


def _overlay_repins(hist: dict[str, dict]) -> dict[str, dict]:
    """Apply dated re-pins on top of the git-reconstructed history.
    A re-pin replaces `first`/`protocol` (provenance preserved in its
    own `supersedes` field) and may CREATE a pin for an entry that has
    no git history yet (e.g. one whose first recorded runs were known
    ambient-inflated and deliberately not pinned)."""
    for name, rp in _load_repins().items():
        base = hist.get(name, {})
        hist[name] = {
            "first": rp["first"],
            "first_commit": f"repin:{rp['date']}",
            "min": min(base.get("min", rp["first"]), rp["first"]),
            "protocol": rp.get("protocol", "isolated-v3"),
            "repin_note": rp.get("note", ""),
        }
    return hist


def rebuild(sf: float = 0.1) -> None:
    """Only commits benched at the gate's scale factor count — dev-loop
    runs at sf0.01 would otherwise poison the first-recorded values.
    The written file includes the BENCH_REPINS.json overlay so every
    consumer of BENCH_HISTORY.json sees the adjudicated pins."""
    commits = _git(
        "log", "--reverse", "--format=%H %ct", "--", "BENCH_DETAIL.json"
    ).splitlines()
    hist: dict[str, dict] = {}
    protocols: dict[str, str] = {}
    for line in commits:
        sha, ct = line.split()
        try:
            blob = _git("show", f"{sha}:BENCH_DETAIL.json")
            detail = json.loads(blob)
        except (subprocess.CalledProcessError, json.JSONDecodeError):
            continue
        if detail.get("sf") != sf:
            continue
        if sha not in protocols:
            protocols[sha] = _protocol_at(sha)
        for name, sec in detail.get("queries", {}).items():
            if not isinstance(sec, (int, float)):
                continue
            h = hist.setdefault(
                name,
                {
                    "first": sec,
                    "first_commit": sha[:10],
                    "min": sec,
                    "protocol": protocols[sha],
                },
            )
            h["min"] = min(h["min"], sec)
    hist = _overlay_repins(hist)
    with open(HISTORY, "w") as fh:
        json.dump(hist, fh, indent=1, sort_keys=True)
    print(f"BENCH_HISTORY.json: {len(hist)} queries from {len(commits)} commits")


def repin(name: str, note: str, value: float | None = None) -> int:
    """Record a dated re-pin for `name` from the current
    BENCH_DETAIL.json (or an explicit --value), preserving the
    superseded git pin inside the record, then rewrite the history."""
    detail = json.load(open(DETAIL))
    if value is None:
        value = detail.get("queries", {}).get(name)
    if not isinstance(value, (int, float)):
        print(f"no timing for {name} in BENCH_DETAIL.json and no --value", file=sys.stderr)
        return 2
    hist = json.load(open(HISTORY)) if HISTORY.exists() else {}
    repins = _load_repins()
    old = hist.get(name)
    repins[name] = {
        "first": value,
        "date": datetime.date.today().isoformat(),
        "protocol": "isolated-v3",
        "note": note,
        "supersedes": (
            {k: old[k] for k in ("first", "first_commit", "protocol") if k in old}
            if old and not old.get("first_commit", "").startswith("repin:")
            else old
        ),
    }
    with open(REPINS, "w") as fh:
        json.dump(repins, fh, indent=1, sort_keys=True)
    rebuild()
    print(f"re-pinned {name} at {value}s ({note})")
    return 0


def _normalized_ratios(
    queries: dict, hist: dict[str, dict]
) -> tuple[dict[str, float], float]:
    """(per-query normalized ratio, host_factor) for one run's timings
    against the pinned history — the same canary-median normalization
    ``check`` applies to the current run, reusable for past runs."""
    raw = {
        n: sec / max(hist[n]["first"], 1e-3)
        for n, sec in queries.items()
        if isinstance(sec, (int, float)) and n in hist
    }
    canary = [raw[n] for n in CANARIES if n in raw]
    host = median(canary) if canary else 1.0
    div = max(1.0, host)
    return {n: r / div for n, r in raw.items()}, host


def _prev_committed_detail(current: dict) -> dict:
    """Timings of the most recent COMMITTED bench run that differs from
    the current BENCH_DETAIL.json (``current``) — the other half of the
    consecutive-breach tripwire.  Walks commits of BENCH_DETAIL.json
    newest-first and returns the first run at the current run's sf whose
    `queries` map is not identical to the current one (the current
    detail may or may not be committed yet).  Empty dict when there is
    none."""
    current_queries = current.get("queries", {})
    try:
        commits = _git(
            "log", "--format=%H", "--", "BENCH_DETAIL.json"
        ).split()
    except subprocess.CalledProcessError:
        return {}
    for sha in commits:
        try:
            blob = json.loads(_git("show", f"{sha}:BENCH_DETAIL.json"))
        except (subprocess.CalledProcessError, json.JSONDecodeError):
            continue
        qs = blob.get("queries", {})
        if blob.get("sf") == current.get("sf") and qs and qs != current_queries:
            return qs
    return {}


def check(warn: float, gate: float, ceiling: float, tripwire: float = 1.5) -> int:
    if not HISTORY.exists():
        print("no BENCH_HISTORY.json — run `rebuild` first", file=sys.stderr)
        return 2
    hist = _overlay_repins(json.load(open(HISTORY)))
    detail = json.load(open(DETAIL))
    ratios: dict[str, float] = {}
    new: list[str] = []
    for name, sec in detail.get("queries", {}).items():
        if not isinstance(sec, (int, float)):
            continue  # errored query ("ERROR: ..." string) — not a ratio
        if name in hist:
            # bench times are rounded to 3 decimals, so a sub-ms query
            # records 0.0 — floor the denominator instead of crashing
            ratios[name] = sec / max(hist[name]["first"], 1e-3)
        else:
            new.append(name)
    if not ratios:
        print("no overlapping queries between detail and history", file=sys.stderr)
        return 2

    canary_ratios = {n: ratios[n] for n in CANARIES if n in ratios}
    host_factor = median(canary_ratios.values()) if canary_ratios else 1.0
    norm_div = max(1.0, host_factor)
    med = median(ratios.values())
    med_norm = med / norm_div
    worst = sorted(ratios.items(), key=lambda kv: -kv[1])

    # Canary-free tripwire (r12, VERDICT r11 task 8): normalization can
    # excuse a one-off raw breach as ambient, but an entry whose
    # NORMALIZED ratio exceeds `tripwire` in two consecutive committed
    # runs is failing after the host factor is already divided out —
    # two runs in a row is not weather.  This closes the window where a
    # real sub-ceiling regression could hide behind ambient
    # classification forever.
    prev_norm, _ = _normalized_ratios(
        _prev_committed_detail(detail), hist
    )
    trip_prev = {n for n, r in prev_norm.items() if r > tripwire}
    print(
        f"{len(ratios)} queries vs first-recorded: median ratio {med:.2f} "
        f"(normalized {med_norm:.2f}), host_factor {host_factor:.2f} from "
        f"{len(canary_ratios)} canaries, worst {worst[0][1]:.2f}x ({worst[0][0]})"
        + (f"; {len(new)} new (no history yet): {sorted(new)}" if new else "")
    )

    flagged = [(n, r) for n, r in worst if r > warn]
    findings: list[dict] = []
    consecutive: list[str] = []
    for n, r in flagged:
        norm = r / norm_div
        if r > ceiling:
            cls = "real"  # over the absolute ceiling: never excusable
        elif norm > gate:
            cls = "real"
        elif norm > tripwire and n in trip_prev:
            cls = "real"  # consecutive normalized breach: not weather
            consecutive.append(n)
        elif r > gate:
            cls = "ambient"  # raw-only breach, normalized is clean
        else:
            cls = "warn"
        shape = (
            "uniform-drift candidate (median moved too)"
            if med > warn * 0.85
            else "ISOLATED outlier — re-measure min-of-3 and root-cause"
        )
        print(
            f"  {r:5.2f}x raw / {norm:4.2f}x norm  [{cls:7s}]  {n}  "
            f"(first {hist[n]['first']}s @ {hist[n]['first_commit']}, "
            f"all-time min {hist[n]['min']}s) — {shape}"
        )
        findings.append(
            {
                "query": n,
                "ratio_raw": round(r, 3),
                "ratio_normalized": round(norm, 3),
                "classification": cls,
                "first": hist[n]["first"],
                "first_commit": hist[n]["first_commit"],
                "protocol": hist[n].get("protocol", "unknown"),
                "all_time_min": hist[n]["min"],
            }
        )

    real = [f["query"] for f in findings if f["classification"] == "real"]
    ambient = [f["query"] for f in findings if f["classification"] == "ambient"]
    report = {
        "gate": gate,
        "warn": warn,
        "ceiling": ceiling,
        "tripwire": tripwire,
        "consecutive_breaches": consecutive,
        "n_queries": len(ratios),
        "median_ratio_raw": round(med, 3),
        "median_ratio_normalized": round(med_norm, 3),
        "host_factor": round(host_factor, 3),
        "canaries_used": sorted(canary_ratios),
        "canary_ratios": {n: round(v, 3) for n, v in sorted(canary_ratios.items())},
        "new_queries": sorted(new),
        "findings": findings,
        "real_breaches": real,
        "ambient_breaches": ambient,
        "verdict": "FAIL" if real else "OK",
    }
    with open(REPORT, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)

    if real:
        print(
            f"GATE BREACH (normalized > {gate}x, raw > {ceiling}x, or "
            f"normalized > {tripwire}x twice consecutively): {real}",
            file=sys.stderr,
        )
        return 1
    if ambient:
        print(
            f"gate OK after canary normalization — raw-only (ambient) breaches "
            f"recorded in BENCH_GATE_REPORT.json: {ambient}"
        )
        return 0
    print(f"gate OK: no query over {gate}x of first-recorded")
    return 0


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("cmd", choices=["rebuild", "check", "repin"])
    p.add_argument("name", nargs="?", help="query name (repin only)")
    p.add_argument("--warn", type=float, default=1.5)
    p.add_argument("--gate", type=float, default=2.0)
    p.add_argument(
        "--ceiling",
        type=float,
        default=4.0,
        help="absolute raw-ratio ceiling that canary normalization can never excuse",
    )
    p.add_argument(
        "--tripwire",
        type=float,
        default=1.5,
        help="normalized ratio that fails when breached in two consecutive committed runs",
    )
    p.add_argument("--note", default="", help="repin annotation (required for repin)")
    p.add_argument("--value", type=float, default=None, help="explicit repin seconds")
    a = p.parse_args()
    if a.cmd == "rebuild":
        rebuild()
        return 0
    if a.cmd == "repin":
        if not a.name or not a.note:
            print("repin requires NAME and --note", file=sys.stderr)
            return 2
        return repin(a.name, a.note, a.value)
    return check(a.warn, a.gate, a.ceiling, a.tripwire)


if __name__ == "__main__":
    sys.exit(main())
