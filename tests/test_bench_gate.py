"""Unit tests for tools/bench_gate.py: sf filtering during history
rebuild, the uniform-drift vs isolated-outlier classification, canary
normalization + the absolute ceiling, the dated re-pin overlay, and the
AST-based protocol detection.  Uses synthetic history/detail files via
monkeypatched paths — no git or Spark involved."""

import json

import pytest

from tools import bench_gate


def _write(tmp_path, name, obj):
    p = tmp_path / name
    with open(p, "w") as fh:
        json.dump(obj, fh)
    return p


@pytest.fixture()
def patched(tmp_path, monkeypatch):
    hist = {
        "q_fast": {"first": 1.0, "first_commit": "aaaa", "min": 0.9},
        "q_slow": {"first": 2.0, "first_commit": "aaaa", "min": 1.8},
        "q_mid": {"first": 1.0, "first_commit": "bbbb", "min": 1.0},
    }
    monkeypatch.setattr(
        bench_gate, "HISTORY", _write(tmp_path, "BENCH_HISTORY.json", hist)
    )
    monkeypatch.setattr(bench_gate, "REPINS", tmp_path / "BENCH_REPINS.json")
    monkeypatch.setattr(bench_gate, "REPORT", tmp_path / "BENCH_GATE_REPORT.json")

    def set_detail(queries):
        monkeypatch.setattr(
            bench_gate,
            "DETAIL",
            _write(
                tmp_path,
                "BENCH_DETAIL.json",
                {"sf": 0.1, "queries": queries},
            ),
        )

    return set_detail


def _check(**kw):
    kw.setdefault("warn", 1.5)
    kw.setdefault("gate", 2.0)
    kw.setdefault("ceiling", 4.0)
    return bench_gate.check(**kw)


def test_gate_ok_and_new_queries_reported(patched, capsys):
    patched({"q_fast": 1.1, "q_slow": 2.1, "q_mid": 1.0, "q_new": 5.0})
    assert _check() == 0
    out = capsys.readouterr().out
    assert "gate OK" in out and "q_new" in out


def test_isolated_outlier_breaches_gate(patched, capsys):
    patched({"q_fast": 2.5, "q_slow": 2.0, "q_mid": 1.0})
    assert _check() == 1
    err_out = capsys.readouterr()
    assert "GATE BREACH" in err_out.err
    assert "ISOLATED outlier" in err_out.out


def test_uniform_drift_classified(patched, capsys):
    # the whole battery shifted ~1.6-2.1x -> median moves with the outliers
    patched({"q_fast": 1.6, "q_slow": 4.2, "q_mid": 1.6})
    assert _check() == 1
    assert "uniform-drift candidate" in capsys.readouterr().out


def test_missing_history_is_an_error(tmp_path, monkeypatch):
    monkeypatch.setattr(bench_gate, "HISTORY", tmp_path / "absent.json")
    assert _check() == 2


def test_canary_normalization_classifies_ambient(tmp_path, monkeypatch, capsys):
    """A raw-only breach on a host whose pure-SQL canaries co-moved is
    ambient: exit 0, machine-readable classification in the report."""
    hist = {n: {"first": 1.0, "first_commit": "aaaa", "min": 1.0} for n in
            [*bench_gate.CANARIES[:5], "q_heavy"]}
    monkeypatch.setattr(
        bench_gate, "HISTORY", _write(tmp_path, "BENCH_HISTORY.json", hist)
    )
    monkeypatch.setattr(bench_gate, "REPINS", tmp_path / "BENCH_REPINS.json")
    report_path = tmp_path / "BENCH_GATE_REPORT.json"
    monkeypatch.setattr(bench_gate, "REPORT", report_path)
    detail = {n: 2.2 for n in bench_gate.CANARIES[:5]}
    detail["q_heavy"] = 2.2  # raw 2.2x > gate, normalized 1.0x — ambient
    monkeypatch.setattr(
        bench_gate,
        "DETAIL",
        _write(tmp_path, "BENCH_DETAIL.json", {"sf": 0.1, "queries": detail}),
    )
    assert _check() == 0
    out = capsys.readouterr().out
    assert "ambient" in out
    report = json.load(open(report_path))
    assert report["verdict"] == "OK"
    assert "q_heavy" in report["ambient_breaches"]
    assert report["host_factor"] == pytest.approx(2.2)
    heavy = next(f for f in report["findings"] if f["query"] == "q_heavy")
    assert heavy["classification"] == "ambient"
    assert heavy["ratio_raw"] == pytest.approx(2.2)
    assert heavy["ratio_normalized"] == pytest.approx(1.0)


def test_ceiling_defeats_normalization(tmp_path, monkeypatch):
    """Normalization can never excuse a raw ratio over the absolute
    ceiling — a uniform real regression drags the canaries along, so
    the ceiling is the backstop."""
    hist = {n: {"first": 1.0, "first_commit": "aaaa", "min": 1.0} for n in
            [*bench_gate.CANARIES[:5], "q_heavy"]}
    monkeypatch.setattr(
        bench_gate, "HISTORY", _write(tmp_path, "BENCH_HISTORY.json", hist)
    )
    monkeypatch.setattr(bench_gate, "REPINS", tmp_path / "BENCH_REPINS.json")
    monkeypatch.setattr(bench_gate, "REPORT", tmp_path / "BENCH_GATE_REPORT.json")
    detail = {n: 4.5 for n in bench_gate.CANARIES[:5]}
    detail["q_heavy"] = 4.5  # normalized 1.0x, but raw > ceiling -> real
    monkeypatch.setattr(
        bench_gate,
        "DETAIL",
        _write(tmp_path, "BENCH_DETAIL.json", {"sf": 0.1, "queries": detail}),
    )
    assert _check() == 1
    report = json.load(open(bench_gate.REPORT))
    assert report["verdict"] == "FAIL"
    assert "q_heavy" in report["real_breaches"]


def test_repin_overlay_supersedes_and_creates(patched, capsys, tmp_path):
    """A dated re-pin replaces an aged first value AND can create a pin
    for an entry with no git history at all."""
    repins = {
        "q_fast": {
            "first": 2.0,
            "date": "2026-08-16",
            "protocol": "isolated-v3",
            "note": "aged in-session pin re-measured min-of-3",
            "supersedes": {"first": 1.0, "first_commit": "aaaa"},
        },
        "q_unpinned": {
            "first": 5.0,
            "date": "2026-08-16",
            "protocol": "isolated-v3",
            "note": "first three recorded runs were ambient-inflated",
        },
    }
    with open(bench_gate.REPINS, "w") as fh:
        json.dump(repins, fh)
    # q_fast at 2.5s: 2.5x of the old 1.0 pin (breach) but 1.25x of the
    # re-pin -> clean; q_unpinned gets graded against its created pin.
    patched({"q_fast": 2.5, "q_slow": 2.0, "q_mid": 1.0, "q_unpinned": 5.5})
    assert _check() == 0
    out = capsys.readouterr().out
    assert "gate OK" in out
    assert "q_unpinned" not in out.split("new (no history yet)")[-1]


def test_rebuild_filters_by_sf_and_overlays_repins(tmp_path, monkeypatch):
    """Commits benched at a different sf must not contribute
    first-recorded values; repins land in the written history."""
    blobs = {
        "c1": {"sf": 0.01, "queries": {"q": 0.1}},
        "c2": {"sf": 0.1, "queries": {"q": 1.0}},
        "c3": {"sf": 0.1, "queries": {"q": 0.8}},
    }

    def fake_git(*args):
        if args[0] == "log":
            return "c1 1\nc2 2\nc3 3"
        if args[0] == "show":
            sha = args[1].split(":")[0]
            return json.dumps(blobs[sha])
        raise AssertionError(args)

    monkeypatch.setattr(bench_gate, "_git", fake_git)
    monkeypatch.setattr(bench_gate, "HISTORY", tmp_path / "BENCH_HISTORY.json")
    monkeypatch.setattr(bench_gate, "REPINS", tmp_path / "BENCH_REPINS.json")
    with open(tmp_path / "BENCH_REPINS.json", "w") as fh:
        json.dump(
            {"q2": {"first": 3.0, "date": "2026-08-16", "note": "new entry pin"}},
            fh,
        )
    bench_gate.rebuild(sf=0.1)
    hist = json.load(open(tmp_path / "BENCH_HISTORY.json"))
    assert hist["q"]["first"] == 1.0          # c2, not the sf0.01 c1
    assert hist["q"]["first_commit"] == "c2"[:10]
    assert hist["q"]["min"] == 0.8            # c3 lowered the floor
    assert hist["q2"]["first"] == 3.0         # repin-created pin
    assert hist["q2"]["first_commit"] == "repin:2026-08-16"


def test_isolate_names_parses_ast():
    src = (
        "X = 1\n"
        "ISOLATE_DEFAULT = [\n"
        "    'a',  # comment\n"
        "    'b',\n"
        "]\n"
    )
    assert bench_gate._isolate_names(src) == ["a", "b"]
    assert bench_gate._isolate_names("nothing here") == []
    # the real bench.py parses and contains the v2 marker entry
    bench_src = open(bench_gate.REPO / "bench.py").read()
    assert "dedup_minhash_lsh" in bench_gate._isolate_names(bench_src)


def test_tripwire_fails_consecutive_normalized_breach(
    tmp_path, monkeypatch, capsys
):
    """A normalized ratio > tripwire in two consecutive committed runs
    is a real breach even though each run alone would classify warn /
    ambient (VERDICT r11 task 8: the canary-free backstop)."""
    hist = {n: {"first": 1.0, "first_commit": "aaaa", "min": 1.0} for n in
            [*bench_gate.CANARIES[:5], "q_heavy"]}
    monkeypatch.setattr(
        bench_gate, "HISTORY", _write(tmp_path, "BENCH_HISTORY.json", hist)
    )
    monkeypatch.setattr(bench_gate, "REPINS", tmp_path / "BENCH_REPINS.json")
    monkeypatch.setattr(bench_gate, "REPORT", tmp_path / "BENCH_GATE_REPORT.json")
    # canaries flat (host_factor 1.0); q_heavy at 1.8x normalized — under
    # the 2.0 gate, so a single run is only a warn
    now = {n: 1.0 for n in bench_gate.CANARIES[:5]}
    now["q_heavy"] = 1.8
    monkeypatch.setattr(
        bench_gate,
        "DETAIL",
        _write(tmp_path, "BENCH_DETAIL.json", {"sf": 0.1, "queries": now}),
    )
    prev = dict(now, q_heavy=1.7)  # previous committed run also > 1.5x

    def fake_git(*args):
        if args[0] == "log":
            return "prevsha"
        if args[0] == "show":
            return json.dumps({"sf": 0.1, "queries": prev})
        raise AssertionError(args)

    monkeypatch.setattr(bench_gate, "_git", fake_git)
    assert _check() == 1
    report = json.load(open(bench_gate.REPORT))
    assert report["verdict"] == "FAIL"
    assert report["consecutive_breaches"] == ["q_heavy"]
    heavy = next(f for f in report["findings"] if f["query"] == "q_heavy")
    assert heavy["classification"] == "real"
    # a single-run breach (no prior committed breach) stays non-fatal
    monkeypatch.setattr(
        bench_gate, "_git", lambda *a: "" if a[0] == "log" else "{}"
    )
    assert _check() == 0


def test_tripwire_skips_identical_committed_run(tmp_path, monkeypatch):
    """The committed copy of the CURRENT run must not count as the
    'previous' run — the tripwire needs two distinct runs."""
    hist = {n: {"first": 1.0, "first_commit": "aaaa", "min": 1.0} for n in
            [*bench_gate.CANARIES[:5], "q_heavy"]}
    monkeypatch.setattr(
        bench_gate, "HISTORY", _write(tmp_path, "BENCH_HISTORY.json", hist)
    )
    monkeypatch.setattr(bench_gate, "REPINS", tmp_path / "BENCH_REPINS.json")
    monkeypatch.setattr(bench_gate, "REPORT", tmp_path / "BENCH_GATE_REPORT.json")
    now = {n: 1.0 for n in bench_gate.CANARIES[:5]}
    now["q_heavy"] = 1.8
    monkeypatch.setattr(
        bench_gate,
        "DETAIL",
        _write(tmp_path, "BENCH_DETAIL.json", {"sf": 0.1, "queries": now}),
    )

    def fake_git(*args):
        if args[0] == "log":
            return "samesha"
        if args[0] == "show":
            return json.dumps({"sf": 0.1, "queries": now})  # identical
        raise AssertionError(args)

    monkeypatch.setattr(bench_gate, "_git", fake_git)
    assert _check() == 0


def test_tripwire_matches_the_current_runs_sf(tmp_path, monkeypatch):
    """ADVICE r12: the previous committed run was looked up at a literal
    sf 0.1, so an sf0.01 history compared against (or skipped to) the
    wrong scale.  The newest committed run here is sf0.1 and flat; the
    sf0.01 run behind it breached, and only that one counts."""
    hist = {n: {"first": 1.0, "first_commit": "aaaa", "min": 1.0} for n in
            [*bench_gate.CANARIES[:5], "q_heavy"]}
    monkeypatch.setattr(
        bench_gate, "HISTORY", _write(tmp_path, "BENCH_HISTORY.json", hist)
    )
    monkeypatch.setattr(bench_gate, "REPINS", tmp_path / "BENCH_REPINS.json")
    monkeypatch.setattr(bench_gate, "REPORT", tmp_path / "BENCH_GATE_REPORT.json")
    now = {n: 1.0 for n in bench_gate.CANARIES[:5]}
    now["q_heavy"] = 1.8
    monkeypatch.setattr(
        bench_gate,
        "DETAIL",
        _write(tmp_path, "BENCH_DETAIL.json", {"sf": 0.01, "queries": now}),
    )
    committed = {
        "sf01sha": {"sf": 0.1, "queries": dict(now, q_heavy=1.0)},
        "sf001sha": {"sf": 0.01, "queries": dict(now, q_heavy=1.7)},
    }

    def fake_git(*args):
        if args[0] == "log":
            return "sf01sha\nsf001sha"
        if args[0] == "show":
            return json.dumps(committed[args[1].split(":")[0]])
        raise AssertionError(args)

    monkeypatch.setattr(bench_gate, "_git", fake_git)
    assert _check() == 1
    assert json.load(open(bench_gate.REPORT))["consecutive_breaches"] == ["q_heavy"]


def test_protocol_detection(monkeypatch):
    sources = {
        "old": "def main(): pass\n",
        "v1": "ISOLATE_DEFAULT = ['knn_graph_degree']\n",
        "v2": "ISOLATE_DEFAULT = ['knn_graph_degree', 'dedup_minhash_lsh']\n",
        "v3": (
            "SKIP_ISOLATION_RATIO = 1.2\n"
            "ISOLATE_DEFAULT = ['knn_graph_degree', 'dedup_minhash_lsh']\n"
        ),
    }
    monkeypatch.setattr(
        bench_gate, "_git", lambda *a: sources[a[1].split(":")[0]]
    )
    assert bench_gate._protocol_at("old") == "in-session"
    assert bench_gate._protocol_at("v1") == "isolated-v1"
    assert bench_gate._protocol_at("v2") == "isolated-v2"
    assert bench_gate._protocol_at("v3") == "isolated-v3"
